"""Time the bench HEADLINE queries (best-of-2, cache-cleared, same estimator
as bench.py) against an arbitrary sf_dir — used with tools/make_scaled_dir.py
output to measure the headline set at ~sf1 without bench.py's built-in 10x
probes (at a scaled dir the dir itself is the scale evidence; the probes would
be 100x of the base sf).

Run: python tools/bench_dir.py SF_DIR [query ...]   (default: full HEADLINE)
Prints the same one-line JSON shape as bench.py with metric "headline_at_dir".
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from ortholog_pipeline_spark import queries as Q  # noqa: E402
from ortholog_pipeline_spark.session import get_spark  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args.pop(0) if args else "/tmp/sf_scaled_10x"
    names = args or HEADLINE
    spark = get_spark(app_name="bench-dir")
    spark.sparkContext.setLogLevel("ERROR")
    registry = Q.queries()
    registry["a4_pricing_summary"](spark, sf_dir).count()  # warmup

    timings: dict[str, float] = {}
    for name in names:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            registry[name](spark, sf_dir).count()
            best = min(best, time.perf_counter() - t0)
        spark.sparkContext._jvm.System.gc()
        timings[name] = round(best, 3)
        print(f"{name}: {timings[name]}", file=sys.stderr)

    print(
        json.dumps(
            {
                "metric": "headline_at_dir",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf_dir": sf_dir,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
