"""Re-record ``data/eventlog-small.jsonl``, the log the parser tests read.

    python3 perfbench/tests/record_eventlog.py

Runs two tiny jobs on local[2]: a count over a gzip CSV (a landing-file scan)
and a grouped aggregate over a range (a shuffle). The log is trimmed to the
events and fields ``eventlog.parse`` reads, so it stays small.
"""

from __future__ import annotations

import glob
import gzip
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

KEEP_EVENTS = {
    "SparkListenerJobStart": ("Job ID", "Submission Time", "Stage IDs"),
    "SparkListenerJobEnd": ("Job ID", "Completion Time"),
    "SparkListenerStageCompleted": ("Stage Info",),
    "SparkListenerTaskEnd": ("Stage ID", "Task Metrics"),
}
STAGE_FIELDS = ("Stage ID", "Number of Tasks", "Submission Time", "Completion Time")


def _trim(ev: dict) -> dict:
    out = {"Event": ev["Event"]}
    for k in KEEP_EVENTS[ev["Event"]]:
        out[k] = ev[k]
    if "Stage Info" in out:
        info = ev["Stage Info"]
        out["Stage Info"] = {k: info[k] for k in STAGE_FIELDS if k in info}
        out["Stage Info"]["RDD Info"] = [
            {"Name": r.get("Name"), "Scope": r.get("Scope")} for r in info["RDD Info"]
        ]
    return out


def main() -> None:
    from pyspark.sql import SparkSession

    with tempfile.TemporaryDirectory() as tmp:
        data = os.path.join(tmp, "landing")
        os.makedirs(data)
        with gzip.open(os.path.join(data, "rows.tsv.gz"), "wt") as f:
            f.writelines(f"{i}\t{i % 7}\n" for i in range(5000))
        logs = os.path.join(tmp, "log")
        os.makedirs(logs)
        builder = SparkSession.builder.master("local[2]").appName("eventlog-small")
        for k, v in eventlog.conf(logs).items():
            builder = builder.config(k, v)
        spark = builder.config("spark.ui.enabled", "false").getOrCreate()
        # an explicit schema, as the program's readers use: no inference scan
        spark.read.option("sep", "\t").schema("a STRING, b STRING").csv(data).count()
        spark.range(20000).selectExpr("id % 5 AS k").groupBy("k").count().collect()
        spark.stop()
        (path,) = glob.glob(os.path.join(logs, "*"))
        out = os.path.join(HERE, "data", "eventlog-small.jsonl")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(path) as src, open(out, "w") as dst:
            for line in src:
                ev = json.loads(line)
                if ev.get("Event") in KEEP_EVENTS:
                    dst.write(json.dumps(_trim(ev)) + "\n")


if __name__ == "__main__":
    main()
