"""Tests for the event-log ledger, on a small recorded Spark event log.

    python3 -m pytest perfbench/test_ledger.py
    python3 perfbench/test_ledger.py record   # re-record the log

The recorded log (``testdata/eventlog_small.json``) holds two spans:
``agg.write`` (a job group around a shuffle aggregation written to
parquet, 10 output rows) and ``stream.wave`` (an ``availableNow``
streaming query, whose jobs carry the query's own job group and are
attributed by time window). Recording keeps only the events and job
properties the ledger reads, and replaces file paths by ``/work``.
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import ledger  # noqa: E402

LOG = os.path.join(HERE, "testdata", "eventlog_small.json")
SPANS = os.path.join(HERE, "testdata", "eventlog_small_spans.json")
KEEP = (
    "SparkListenerJobStart", "SparkListenerTaskEnd", "SQLExecutionStart",
    "SQLAdaptiveExecutionUpdate", "SparkListenerDriverAccumUpdates",
)


def _spans() -> list[ledger.Span]:
    with open(SPANS) as fh:
        return [ledger.Span(**s) for s in json.load(fh)]


def _ledger() -> dict[str, ledger.SpanLedger]:
    return ledger.build(ledger.read_events(LOG), _spans())


def test_union_of_intervals():
    assert ledger._union_ms([]) == 0.0
    assert ledger._union_ms([(0, 10), (5, 15), (20, 30)]) == 25.0
    assert ledger._union_ms([(0, 10), (2, 3)]) == 10.0


def test_job_group_attribution():
    agg = _ledger()["agg.write"]
    assert agg.jobs >= 1 and agg.tasks >= agg.jobs
    assert agg.output_rows == 10
    assert agg.output_bytes > 0
    assert agg.shuffle_bytes > 0
    assert agg.task_cpu_s > 0
    assert agg.failed_tasks == 0
    assert agg.spill_bytes == 0
    # the range scan emits every input row
    assert agg.max_operator_rows >= 100_000


def test_time_window_attribution_and_idle():
    led = _ledger()
    wave = led["stream.wave"]
    assert wave.jobs >= 1 and wave.tasks >= 1
    for s in _spans():
        x = led[s.name]
        assert x.wall_s == (s.end_ms - s.start_ms) / 1000.0
        assert 0.0 <= x.idle_s < x.wall_s


def test_jobs_counted_once():
    starts = [
        e for e in ledger.read_events(LOG) if e["Event"] == "SparkListenerJobStart"
    ]
    led = _ledger()
    assert sum(x.jobs for x in led.values()) <= len(starts)
    tasks = [e for e in ledger.read_events(LOG) if e["Event"] == "SparkListenerTaskEnd"]
    assert sum(x.tasks for x in led.values()) <= len(tasks)


def test_duplicate_span_names_rejected():
    s = ledger.Span("a", 0.0, 1.0)
    try:
        ledger.build([], [s, s])
    except ValueError:
        return
    raise AssertionError("duplicate span names were accepted")


def record(work: str) -> None:
    """Run the two spans with the event log on and write the trimmed log."""
    import glob
    import time

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    events = os.path.join(work, "events")
    os.makedirs(events, exist_ok=True)
    spark = (
        SparkSession.builder.master("local[2]").appName("ledger-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{events}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    spans = []

    def span(name, fn):
        sc.setJobGroup(name, name)
        t0 = time.time()
        fn()
        spans.append({"name": name, "start_ms": t0 * 1000.0, "end_ms": time.time() * 1000.0})
        sc.setLocalProperty("spark.jobGroup.id", None)

    span("agg.write", lambda: spark.range(100_000).groupBy((F.col("id") % 10).alias("k"))
         .count().write.parquet(os.path.join(work, "agg")))
    spark.range(100).write.parquet(os.path.join(work, "incoming"))

    def wave():
        q = (spark.readStream.schema("id long").parquet(os.path.join(work, "incoming"))
             .writeStream.format("parquet").option("path", os.path.join(work, "out"))
             .option("checkpointLocation", os.path.join(work, "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    span("stream.wave", wave)
    spark.stop()
    (path,) = glob.glob(os.path.join(events, "*"))
    os.makedirs(os.path.dirname(LOG), exist_ok=True)
    with open(path) as src, open(LOG, "w") as dst:
        for line in src:
            ev = json.loads(line)
            if not ev["Event"].endswith(KEEP):
                continue
            ev.pop("physicalPlanDescription", None)
            if ev["Event"] == "SparkListenerJobStart":
                # only what the ledger reads: environment-specific settings
                # ride along in the job properties
                props = ev.get("Properties") or {}
                ev = {
                    "Event": ev["Event"], "Job ID": ev["Job ID"],
                    "Submission Time": ev["Submission Time"],
                    "Stage IDs": ev["Stage IDs"],
                    "Properties": {k: props[k] for k in (
                        "spark.jobGroup.id", "spark.sql.execution.id"
                    ) if k in props},
                }
            text = json.dumps(ev).replace(HERE, "perfbench")
            dst.write(re.sub(r"(file:)?" + re.escape(work) + r"[^\"\s,\]\)]*",
                             "/work", text) + "\n")
    with open(SPANS, "w") as fh:
        json.dump(spans, fh, indent=1)


if __name__ == "__main__":
    if sys.argv[1:] == ["record"]:
        import tempfile

        with tempfile.TemporaryDirectory() as tmp:
            record(tmp)
    else:
        sys.exit("usage: test_ledger.py record")
