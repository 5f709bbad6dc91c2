"""Simulate the driver's correctness gate: default SparkSession (no engine confs),
sf0.01, every queries() entry run side-by-side with its oracle_sql() in DuckDB,
compared on row count + sorted-column schema + value hash. Prints one JSON report.

Run: python tools/driver_sim.py [sf_dir] [query_name ...]
(query names restrict the run to those registry entries)
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import duckdb
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _norm(df):
    """pandas frame -> canonical rows for hashing (driver-style: columns sorted by
    name, values stringified with float rounding)."""
    cols = sorted(df.columns)
    df = df[cols]

    def cell(v):
        if v is None:
            return "NULL"
        if hasattr(v, "isoformat"):  # date/datetime/Timestamp: dtype-insensitive form
            return v.isoformat()[:10] if getattr(v, "hour", 0) == 0 and getattr(v, "minute", 0) == 0 and getattr(v, "second", 0) == 0 else v.isoformat()
        if isinstance(v, float):
            if v != v:
                return "NULL"
            return f"{v:.6f}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        if isinstance(v, bytes):
            return v.hex()
        return str(v)

    rows = sorted("\x01".join(cell(v) for v in rec) for rec in df.itertuples(index=False, name=None))
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return len(rows), cols, h


def main() -> int:
    args = sys.argv[1:]
    checksum = "--checksum" in args
    slice_mode = "--slice" in args
    args = [a for a in args if a not in ("--checksum", "--slice")]
    sf_dir = args.pop(0) if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = set(args)
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.sql.shuffle.partitions", "8")
        # default mirrors the driver's gate (1g); scaled-dir sweeps (~sf1) need
        # real heap — DRIVER_SIM_MEM=16g
        .config("spark.driver.memory", os.environ.get("DRIVER_SIM_MEM", "1g"))
        # scaled-dir sweeps collect multi-GB results for the hash compare (e.g.
        # flow_homologene's ~35M-row snapshot at ~sf1) — the gate's own default
        # (1g) stays unless overridden
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("DRIVER_SIM_MAXRESULT", "1g"),
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    # big-oracle spills (graph closures at scaled dirs) go to /tmp, not cwd/.tmp
    con.sql("SET temp_directory='/tmp/duckdb_spill'")
    for t in TABLES:
        # the driver's tables are single files; scaled dirs (make_scaled_dir)
        # are Spark-written DIRECTORIES of part files — glob those
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    sliced: set[str] = set()
    if slice_mode:
        # deterministic-subsample certification twins for the declared-
        # quadratic oracles: overlay them so the same names run in slice mode
        # (used by sweep.py --slice-heavy at scaled dirs; see
        # queries/slice_cert.py for the per-entry slice designs)
        from ortholog_pipeline_spark.queries import slice_cert

        sq, so = slice_cert.slice_queries(), slice_cert.slice_oracle_sql()
        qs.update(sq)
        os_.update(so)
        sliced = set(sq)
    report, n_pass, n_fail = {}, 0, 0
    for name in sorted(qs):
        if only and name not in only:
            continue
        # name + wall time to stderr so a long batch shows WHICH query (and
        # which side — the Spark progress bars stop when DuckDB starts) is
        # holding the wall clock
        print(f"[driver_sim] {name} ...", file=sys.stderr, flush=True)
        try:
            sdf = qs[name](spark, sf_dir)
            if checksum:
                # huge-output compare WITHOUT a driver collect: each engine
                # aggregates count + an order-independent digest — the sum of
                # a per-row md5-prefix value mod 2^31-1 over the canonical
                # row string (columns sorted by name, cast to string, NULL
                # sentinel, \x01 separated). 35M terms × 2^31 < 2^63, so the
                # int64 sum cannot overflow on either engine. Only exact for
                # outputs with no float/timestamp columns (integer/string
                # casts are engine-identical; float reprs are not).
                if name not in os_:
                    report[name] = {"err": "no_oracle"}
                    continue
                bad = [
                    f.name
                    for f in sdf.schema.fields
                    if f.dataType.typeName() in ("double", "float", "timestamp")
                ]
                # float/timestamp reprs differ between engines — those queries
                # fall through to the exact collect compare so a registry-wide
                # --checksum sweep still covers everything.
                if not bad:
                    cols = sorted(sdf.columns)
                    canon = F.concat_ws(
                        "\x01",
                        *[F.coalesce(F.col(c).cast("string"), F.lit("NULL")) for c in cols],
                    )
                    term = (
                        F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")
                        % F.lit(2147483647)
                    )
                    srow = sdf.agg(
                        F.count(F.lit(1)).alias("n"), F.sum(term).alias("digest")
                    ).collect()[0]
                    dcols = ", ".join(
                        f"COALESCE(CAST({c} AS VARCHAR), 'NULL')" for c in cols
                    )
                    orow = con.sql(
                        f"SELECT COUNT(*) AS n, CAST(SUM(CAST(('0x' || substr(md5("
                        f"concat_ws(chr(1), {dcols})), 1, 15)) AS BIGINT) % 2147483647)"
                        f" AS BIGINT) AS digest FROM ({os_[name]})"
                    ).fetchone()
                    ok = srow["n"] == orow[0] and (srow["digest"] or 0) == (orow[1] or 0)
                    report[name] = {
                        "mode": "checksum",
                        "rows_match": srow["n"] == orow[0],
                        "hash_match": ok,
                        "spark_rows": srow["n"],
                        "oracle_rows": orow[0],
                        "spark_digest": srow["digest"],
                        "oracle_digest": orow[1],
                    }
                    n_pass += ok
                    n_fail += not ok
                    continue
            sp = sdf.toPandas()
            if name not in os_:
                report[name] = {"err": "no_oracle", "spark_rows": len(sp)}
                continue
            op = con.sql(os_[name]).df()
            sr, sc, sh = _norm(sp)
            orr, oc, oh = _norm(op)
            ok = sr == orr and sc == oc and sh == oh
            report[name] = {
                "rows_match": sr == orr,
                "schema_match": sc == oc,
                "hash_match": sh == oh,
                "spark_rows": sr,
                "oracle_rows": orr,
                # the agreed value hash itself, so sweep digests are diffable
                # across rounds without reruns (VERDICT r6 item 6)
                "value_hash": sh,
            }
            if not ok:
                report[name]["spark_cols"] = sc
                report[name]["oracle_cols"] = oc
            n_pass += ok
            n_fail += not ok
        except Exception as ex:  # noqa: BLE001
            report[name] = {"err": f"{type(ex).__name__}: {ex}"[:400]}
            n_fail += 1
        finally:
            if name in sliced and name in report:
                report[name]["mode"] = report[name].get("mode", "exact") + "+slice"
            # session hygiene across a 300-query sweep: queries checkpoint
            # their own intermediates and ship broadcasts, which the
            # ContextCleaner frees only after a JVM GC finds them unreferenced;
            # without it the driver heap accumulates until late queries die in
            # broadcast-exchange OOM (observed at sf0.1 after ~1300 s: three
            # spurious "Not enough memory to broadcast" failures that all pass
            # in a fresh session)
            spark.sparkContext._jvm.System.gc()
    print(json.dumps(report, indent=1))
    print(f"PASS={n_pass} FAIL={n_fail} NO_ORACLE={sum(1 for r in report.values() if r.get('err') == 'no_oracle')}", file=sys.stderr)
    return 0 if n_fail == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
