"""The registry's correctness check: every registered Spark query against its
DuckDB oracle on the same parquet tables, compared on row count, column names
and a value hash (columns sorted by name, cells stringified, rows sorted,
sha256) — the same canonical form as the driver's gate.

    python -m ortholog_pipeline_spark.oracle SF_DIR [name ...]

runs the named entries (default: all) in one default session (``local[8]``, 8
shuffle partitions; ``DRIVER_SIM_MEM`` / ``DRIVER_SIM_MAXRESULT`` set the
driver heap and max result size, both 1g by default), prints one JSON report
stamped with ``git_head`` and ``sf_dir``, then ``PASS=n FAIL=m`` on stderr.
Exit 1 on any failure, 2 when SF_DIR lacks a table or a name is not in the
registry.

A scaled dir (``tools/make_scaled_dir.py`` output, whose tables are
Spark-written directories of part files) is checked the same way, except
that the five declared-quadratic oracles run as their deterministic-subsample
twins (``queries/slice_cert.py``) and outputs with no float or timestamp
column are compared by a collect-free checksum.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
from collections import Counter

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def is_scaled_dir(sf_dir: str) -> bool:
    """Spark-written table directories mark a make_scaled_dir output."""
    return os.path.isdir(f"{sf_dir}/lineitem.parquet")


def duckdb_connection(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    # big-oracle spills (graph closures at scaled dirs) go to /tmp, not cwd/.tmp
    con.sql("SET temp_directory='/tmp/duckdb_spill'")
    glob = "/*.parquet" if is_scaled_dir(sf_dir) else ""
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet{glob}')"
        )
    return con


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
    return rows, cols, h


def passed(r: dict) -> bool:
    return bool(r.get("rows_match") and r.get("schema_match") and r.get("hash_match"))


def compare(spark_df, oracle_df) -> dict:
    """Row, schema and value-hash agreement of a Spark frame and an oracle
    pandas frame; a mismatch also carries the first canonical rows that only
    one side has."""
    srows, sc, sh = _norm(spark_df.toPandas())
    orows, oc, oh = _norm(oracle_df)
    r = {
        "rows_match": len(srows) == len(orows),
        "schema_match": sc == oc,
        "hash_match": sh == oh,
        "spark_rows": len(srows),
        "oracle_rows": len(orows),
        "value_hash": sh,
    }
    if not passed(r):
        s, o = Counter(srows), Counter(orows)
        r["spark_cols"], r["oracle_cols"] = sc, oc
        r["spark_only"] = sorted((s - o).elements())[:3]
        r["oracle_only"] = sorted((o - s).elements())[:3]
    return r


def _checksum(sdf, con, oracle: str) -> dict | None:
    """Huge-output compare WITHOUT a driver collect: each engine aggregates
    count + an order-independent digest — the sum of a per-row md5-prefix value
    mod 2^31-1 over the canonical row string (columns sorted by name, cast to
    string, NULL sentinel, \\x01 separated). 35M terms × 2^31 < 2^63, so the
    int64 sum cannot overflow on either engine. Exact only for outputs with no
    float/timestamp column (integer/string casts are engine-identical; float
    reprs are not) — those return None and take the collect compare."""
    from pyspark.sql import functions as F

    if any(
        f.dataType.typeName() in ("double", "float", "timestamp")
        for f in sdf.schema.fields
    ):
        return None
    cols = sorted(sdf.columns)
    canon = F.concat_ws(
        "\x01", *[F.coalesce(F.col(c).cast("string"), F.lit("NULL")) for c in cols]
    )
    term = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long") % F.lit(
        2147483647
    )
    srow = sdf.agg(F.count(F.lit(1)).alias("n"), F.sum(term).alias("digest")).collect()[0]
    rel = con.sql(oracle)
    dcols = ", ".join(f"COALESCE(CAST({c} AS VARCHAR), 'NULL')" for c in cols)
    orow = con.sql(
        f"SELECT COUNT(*) AS n, CAST(SUM(CAST(('0x' || substr(md5("
        f"concat_ws(chr(1), {dcols})), 1, 15)) AS BIGINT) % 2147483647)"
        f" AS BIGINT) AS digest FROM ({oracle})"
    ).fetchone()
    return {
        "mode": "checksum",
        "rows_match": srow["n"] == orow[0],
        "schema_match": cols == sorted(rel.columns),
        "hash_match": (srow["digest"] or 0) == (orow[1] or 0),
        "spark_rows": srow["n"],
        "oracle_rows": orow[0],
        "value_hash": srow["digest"],
        "oracle_digest": orow[1],
    }


def git_head() -> str:
    return subprocess.run(
        ["git", "rev-parse", "HEAD"],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.abspath(__file__)),
    ).stdout.strip()


def usage_error(sf_dir: str, names: list[str]) -> str | None:
    """Why SF_DIR/names cannot be checked, or None."""
    from ortholog_pipeline_spark.queries import queries

    missing = [t for t in TABLES if not os.path.exists(f"{sf_dir}/{t}.parquet")]
    if missing:
        return f"{sf_dir} lacks tables: {' '.join(missing)}"
    unknown = sorted(set(names) - set(queries()))
    if unknown:
        return f"not in the registry: {' '.join(unknown)}"
    return None


def check(spark, sf_dir: str, names: list[str] | None = None) -> dict:
    """Run the named registry entries (default: all) against their oracles at
    sf_dir; returns the stamped per-name report."""
    from ortholog_pipeline_spark.queries import oracle_sql, queries, slice_cert

    qs, oracles = queries(), oracle_sql()
    scaled = is_scaled_dir(sf_dir)
    sliced = set(slice_cert.slice_queries()) if scaled else set()
    if scaled:
        qs.update(slice_cert.slice_queries())
        oracles.update(slice_cert.slice_oracle_sql())
    report: dict[str, dict] = {}
    with duckdb_connection(sf_dir) as con:
        for name in sorted(names or qs):
            # name to stderr so a long run shows WHICH entry (and which side — the
            # Spark progress bars stop when DuckDB starts) holds the wall clock
            print(f"[oracle] {name} ...", file=sys.stderr, flush=True)
            try:
                sdf = qs[name](spark, sf_dir)
                r = (scaled and _checksum(sdf, con, oracles[name])) or compare(
                    sdf, con.sql(oracles[name]).df()
                )
                r.setdefault("mode", "exact")
                if name in sliced:
                    r["mode"] += "+slice"
            except Exception as ex:  # noqa: BLE001 — an engine/SQL error is a finding
                r = {"err": f"{type(ex).__name__}: {ex}"[:400]}
            report[name] = r
            # broadcasts and checkpoints are freed by the ContextCleaner only after
            # a JVM GC finds them unreferenced; without one per entry the driver
            # heap accumulates over a full-registry run until late entries die in
            # spurious broadcast-exchange OOMs
            spark.sparkContext._jvm.System.gc()
    n_pass = sum(passed(r) for r in report.values())
    return {
        "sf_dir": sf_dir,
        "git_head": git_head(),
        "pass": n_pass,
        "fail": len(report) - n_pass,
        "names": report,
    }


def main(argv: list[str] | None = None) -> int:
    import argparse

    ap = argparse.ArgumentParser(prog="python -m ortholog_pipeline_spark.oracle")
    ap.add_argument("sf_dir")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args(argv)
    err = usage_error(args.sf_dir, args.names)
    if err:
        print(err, file=sys.stderr)
        return 2

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("oracle-check")
        .config("spark.sql.shuffle.partitions", "8")
        # the gate's defaults (1g); scaled dirs (~sf1) need real heap and
        # collect multi-GB results for the hash compare
        .config("spark.driver.memory", os.environ.get("DRIVER_SIM_MEM", "1g"))
        .config("spark.driver.maxResultSize", os.environ.get("DRIVER_SIM_MAXRESULT", "1g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    report = check(spark, args.sf_dir, args.names)
    print(json.dumps(report, indent=1))
    print(f"PASS={report['pass']} FAIL={report['fail']}", file=sys.stderr)
    return 1 if report["fail"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
