"""Repository benchmark: closed-loop workloads over the engine's public API.

    python3 perfbench/run.py --workload nightly_run --seed 1 --seconds 5 --trace 0

One Python process, ``local[4]``, ``SPARK_GRAFT_CPUS=4``; each operation
starts only after the previous one finished. Inputs come from
``--seed`` (``inputs.py``); reference answers from DuckDB
(``reference.py``), both written by a child process (``prepare.py``)
that ends before measuring starts. All run state lives under
``perfbench/.work``.

Every run is a fresh process that runs whole cycles until ``--seconds``
have passed (at least one). Like a scheduler invoking the ``run`` verb
once per dataset per night, each process pays JVM start and JIT warm-up
on its first cycle: that cost is part of what is measured.

``--trace 0`` prints the end-to-end metrics of the chosen workload.
``--trace 1`` enables Spark's event log, runs one cycle of the workload
plus the calls only the trace needs (``staged``), with a job group and
an in-memory span around each call into a layer, and prints the
per-layer ledger (``ledger.py``); the other workload's spans read 0.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it carries run
details (ambient load, cycle and operation counts, operation times).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CPUS = 4

sys.path.insert(0, HERE)
sys.path.insert(0, REPO)

from inputs import DRIFT_SHARE, N_CUSTOMERS, generate  # noqa: E402
import ledger  # noqa: E402
import procstat  # noqa: E402

WORKLOADS = ("nightly_run", "match_dedupe")
#: the match queries each match_dedupe cycle runs. The other two run in
#: traced runs only, to keep a full benchmark pass inside its time
#: budget: pipeline_xref_resolve shares operators.blocking with
#: j5_t1_blocking_topk, and dedup_semantic_semdedup spends most of its
#: wall time on per-job fixed cost (0.6 s of task CPU in 3-4 s).
CYCLE_QUERIES = [
    "j5_t1_blocking_topk",
    "dedup_minhash_lsh",
    "dedup_near_cluster",
    "j7_edge_dedupe_merge",
]
#: waves each match_dedupe cycle feeds to a fresh curation stream
WAVES_PER_CYCLE = 1
NIGHTLY_SPANS = [
    "plans.run.run_dataset.full",
    "plans.run.run_dataset.incremental",
    "plans.run.crawl_dataset",
    "plans.run.validate_dataset",
    "plans.run.export_dataset",
    "operators.assembly.assemble_entities",
]
MATCH_SPANS = [
    "catalog.linkage.j5_t1_blocking_topk",
    "catalog.linkage.pipeline_xref_resolve",
    "catalog.text.dedup_minhash_lsh",
    "catalog.text.dedup_near_cluster",
    "catalog.vectors.dedup_semantic_semdedup",
    "catalog.linkage.j7_edge_dedupe_merge",
    "streaming.curate.curate_document_stream",
    "plans.curate.curate_increment",
    "streaming.curate.load_curation_index",
]
BASE_METRICS = [
    ("wall_s", "s"), ("jobs", "count"), ("tasks", "count"), ("idle_s", "s"),
    ("task_cpu_s", "s"), ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
]
WRITING_SPANS = {
    "plans.run.run_dataset.full", "plans.run.run_dataset.incremental",
    "plans.run.crawl_dataset", "plans.run.export_dataset",
    "streaming.curate.curate_document_stream",
}
END_TO_END = {
    "setup_s": "s", "rows_per_s": "rows/s", "op_p50_s": "s",
    "cpu_s_per_cycle": "s", "peak_rss_mb": "MB",
    "bytes_written_per_row": "bytes/row", "ops_ok_ratio": "ratio",
}


def per_layer_spec() -> list[tuple[str, str]]:
    """(metric name, unit) of every per-layer metric, in output order."""
    out = []
    for span in NIGHTLY_SPANS + MATCH_SPANS:
        out += [(f"{span}.{m}", u) for m, u in BASE_METRICS]
        if span in WRITING_SPANS:
            out.append((f"{span}.output_bytes", "bytes"))
        if span.startswith("catalog."):
            out.append((f"{span}.row_amplification", "ratio"))
    return out + [(f"{w}.failed_tasks", "count") for w in WORKLOADS]


def process_age_s() -> float:
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def dir_bytes(*paths: str) -> int:
    total = 0
    for p in paths:
        for dirpath, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def read_parquet_dir(path: str):
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pandas()


_FAILED = object()


@dataclass
class Op:
    span: str
    wall_s: float
    cpu_s: float
    ok: bool


class Runner:
    """Runs operations one at a time, records their wall and process-tree
    CPU time and outcome, and (traced) wraps each in a job group plus a
    :class:`ledger.Span`. Output checks run outside the timed region."""

    def __init__(self, spark, trace: bool) -> None:
        self.spark = spark
        self.trace = trace
        self.spans: list[ledger.Span] = []
        self.ops: list[Op] = []

    def op(self, span: str, fn, check=lambda result: True):
        sc = self.spark.sparkContext
        if self.trace:
            sc.setJobGroup(span, span)
        cpu0, t0 = procstat.cpu_seconds(os.getpid()), time.time()
        try:
            result = fn()
        except Exception as exc:  # a failed operation is counted, not fatal
            print(f"operation {span} failed: {exc!r}", file=sys.stderr)
            result = _FAILED
        t1, cpu1 = time.time(), procstat.cpu_seconds(os.getpid())
        if self.trace:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(ledger.Span(span, t0 * 1000.0, t1 * 1000.0))
        try:
            ok = result is not _FAILED and bool(check(result))
        except Exception as exc:
            print(f"operation {span}: check failed: {exc!r}", file=sys.stderr)
            ok = False
        if not ok:
            print(f"operation {span}: output mismatch or error", file=sys.stderr)
        self.ops.append(Op(span, t1 - t0, cpu1 - cpu0, ok))
        return result


class Nightly:
    """The zavod nightly path in steady state: yesterday's version is in
    the archive (written by ``crawl_dataset`` during set-up), and tonight's
    ``run_dataset`` sees a seeded 20% of entities with a drifted value, so
    it propagates first_seen, writes the version and every sink, and
    exports MOD delta ops."""

    def __init__(self, spark, inputs, run_dir: str) -> None:
        self.spark = spark
        self.inputs = inputs
        self.run_dir = run_dir
        self.n_drift = int(N_CUSTOMERS * DRIFT_SHARE)

    def prepare(self) -> None:
        read = self.spark.read.parquet
        self.customers = read(self.inputs.path("customers"))
        self.drifted = read(self.inputs.path("customers_drifted"))
        self.archive = self._yesterday(0)

    def _yesterday(self, c: int):
        """A fresh archive holding yesterday's version of the dataset."""
        from opensanctions_spark.model.melt import melt_customers
        from opensanctions_spark.plans.run import crawl_dataset
        from opensanctions_spark.sources.archive import StatementArchive

        archive = StatementArchive(
            self.spark, os.path.join(self.run_dir, f"nightly{c}", "archive")
        )
        crawl_dataset(
            self.spark, melt_customers(self.customers), "customers", archive,
            run_time="2026-08-01T00:00:00",
        )
        return archive

    def rows_per_cycle(self) -> int:
        return 4 * N_CUSTOMERS

    def _run(self, runner: Runner, span: str, archive, frame, out: str, delta: dict):
        from opensanctions_spark.model.melt import melt_customers
        from opensanctions_spark.plans.run import DatasetConfig, run_dataset

        def check(r) -> bool:
            return (
                r.entity_count == N_CUSTOMERS
                and r.statement_count == 4 * N_CUSTOMERS
                and r.delta_ops == delta
                and len(r.export_counts) == 7
                and all(os.path.exists(os.path.join(out, k)) for k in r.export_counts)
            )

        runner.op(
            span,
            lambda: run_dataset(
                self.spark, melt_customers(frame), DatasetConfig(name="customers"),
                archive, out, run_time="2026-08-13T00:00:00",
            ),
            check,
        )

    def cycle(self, runner: Runner, c: int) -> int:
        archive = self.archive if c == 0 else self._yesterday(c)
        base = os.path.join(self.run_dir, f"nightly{c}")
        before = dir_bytes(base)
        self._run(
            runner, "plans.run.run_dataset.incremental", archive, self.drifted,
            os.path.join(base, "out"), {"MOD": self.n_drift},
        )
        return dir_bytes(base) - before

    def staged(self, runner: Runner) -> None:
        """A first-night full run, the staged verbs doing the same work,
        and the entity assembly on its own (traced only)."""
        from opensanctions_spark.model.melt import melt_customers
        from opensanctions_spark.operators.assembly import assemble_entities
        from opensanctions_spark.plans import run as plan
        from opensanctions_spark.sources.archive import StatementArchive

        base = os.path.join(self.run_dir, "full")
        self._run(
            runner, "plans.run.run_dataset.full",
            StatementArchive(self.spark, os.path.join(base, "archive")),
            self.customers, os.path.join(base, "out"), {},
        )
        base = os.path.join(self.run_dir, "staged")
        archive = StatementArchive(self.spark, os.path.join(base, "archive"))
        run_time = "2026-08-01T00:00:00"
        n = N_CUSTOMERS
        version = runner.op(
            "plans.run.crawl_dataset",
            lambda: plan.crawl_dataset(
                self.spark, melt_customers(self.customers), "customers",
                archive, run_time,
            ),
            lambda v: v is not None,
        )
        if version is _FAILED:
            return
        runner.op(
            "plans.run.validate_dataset",
            lambda: plan.validate_dataset(self.spark, archive, "customers", version=version),
            lambda m: m["entity_count"] == n and not m["violations"],
        )
        out = os.path.join(base, "out")
        runner.op(
            "plans.run.export_dataset",
            lambda: plan.export_dataset(
                self.spark, archive, "customers", out, run_time, version=version
            ),
            lambda m: m["export_counts"].get("statements.csv") == 4 * n,
        )
        runner.op(
            "operators.assembly.assemble_entities",
            lambda: assemble_entities(
                archive.read("customers", version=version, external=True)
            ).write.format("noop").mode("overwrite").save(),
        )


class MatchDedupe:
    """The pair-scoring catalog queries of ``CYCLE_QUERIES``, each written
    to parquet and checked against its DuckDB oracle, then the first
    ``WAVES_PER_CYCLE`` waves of the document file-drop stream through
    ``curate_document_stream``, into a stream (index, corpus, checkpoint)
    of the cycle's own, so every cycle does the same work.
    """

    def __init__(self, spark, inputs, run_dir: str, answers, expected_corpus) -> None:
        self.spark = spark
        self.inputs = inputs
        self.run_dir = run_dir
        self.answers = answers
        self.expected_corpus = expected_corpus

    def prepare(self) -> None:
        from opensanctions_spark.catalog import load
        from reference import MATCH_TABLES

        for t in MATCH_TABLES:
            load(self.spark, self.inputs.tables, t)
        self.doc_schema = self.spark.read.parquet(self.inputs.wave(0)).schema

    def rows_per_cycle(self) -> int:
        import pyarrow.parquet as pq

        def rows(path: str) -> int:
            return pq.ParquetFile(path).metadata.num_rows

        t = {n: rows(os.path.join(self.inputs.tables, f"{n}.parquet"))
             for n in ("part", "orders", "documents")}
        # j5 reads part, the two MinHash queries documents, j7 orders
        queries = t["part"] + 2 * t["documents"] + t["orders"]
        return queries + sum(rows(self.inputs.wave(i)) for i in range(WAVES_PER_CYCLE))

    def _query(self, runner: Runner, q: str, out: str) -> None:
        from opensanctions_spark.catalog import QUERIES
        from reference import same_rows

        fn = QUERIES[q]
        path = os.path.join(out, q)
        runner.op(
            f"{fn.__module__.removeprefix('opensanctions_spark.')}.{q}",
            lambda: fn(self.spark, self.inputs.tables).write.mode("overwrite").parquet(path),
            lambda _: same_rows(read_parquet_dir(path), self.answers[q]),
        )

    def cycle(self, runner: Runner, c: int) -> int:
        out = os.path.join(self.run_dir, f"match{c}")
        self.stream = os.path.join(self.run_dir, f"stream{c}")
        for q in CYCLE_QUERIES:
            self._query(runner, q, out)
        for i in range(WAVES_PER_CYCLE):
            runner.op(
                f"streaming.curate.curate_document_stream.w{i}",
                lambda i=i: self._wave(i),
                lambda _, i=i: self._check_corpus(i),
            )
        return dir_bytes(out, self.stream)

    def _wave(self, i: int) -> None:
        from opensanctions_spark.streaming.curate import curate_document_stream

        incoming = os.path.join(self.stream, "incoming")
        os.makedirs(incoming, exist_ok=True)
        # hidden while copying: the file source skips dot-files
        tmp = os.path.join(incoming, f".wave{i:02d}.parquet")
        shutil.copyfile(self.inputs.wave(i), tmp)
        os.replace(tmp, os.path.join(incoming, f"wave{i:02d}.parquet"))
        query = curate_document_stream(
            self.spark.readStream.schema(self.doc_schema).parquet(incoming),
            os.path.join(self.stream, "index"),
            os.path.join(self.stream, "corpus"),
            os.path.join(self.stream, "checkpoint"),
        )
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))

    def _check_corpus(self, i: int) -> bool:
        from reference import same_rows

        corpus = read_parquet_dir(os.path.join(self.stream, "corpus"))
        expected = self.expected_corpus
        expected = expected[expected["wave"] <= i].drop(columns="wave")
        return same_rows(corpus[list(expected.columns)], expected)

    def staged(self, runner: Runner) -> None:
        """The remaining match query, then the curation index the cycle's
        waves left, read on its own, and one increment of the next wave
        against it (traced only)."""
        from opensanctions_spark.plans.curate import curate_increment
        from opensanctions_spark.streaming.curate import load_curation_index
        from reference import MATCH_QUERIES

        for q in MATCH_QUERIES:
            if q not in CYCLE_QUERIES:
                self._query(runner, q, os.path.join(self.run_dir, "staged"))

        def load_index():
            frames = load_curation_index(self.spark, os.path.join(self.stream, "index"))
            for f in frames:
                f.write.format("noop").mode("overwrite").save()
            return frames

        index = runner.op("streaming.curate.load_curation_index", load_index)
        if index is _FAILED:
            return
        fps, bands = index
        docs = self.spark.read.parquet(self.inputs.wave(WAVES_PER_CYCLE))
        runner.op(
            "plans.curate.curate_increment",
            lambda: curate_increment(docs, fps, bands)
            .write.format("noop").mode("overwrite").save(),
        )


def make_session(run_dir: str, trace: bool):
    # every temporary file of the run — Spark's local dirs, the JVM's and
    # Python's temp dirs (the gateway's connection file, the workers) —
    # stays inside the run directory
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    from pyspark.sql import SparkSession

    from opensanctions_spark.session import configure

    cfg = (
        configure(SparkSession.builder.master(f"local[{CPUS}]").appName("perfbench"))
        .config("spark.driver.memory", "2g")
        # no hsperfdata file under the system /tmp
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.ui.showConsoleProgress", "false")
    )
    if trace:
        events = os.path.join(run_dir, "eventlog")
        os.makedirs(events, exist_ok=True)
        cfg = (
            cfg.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{events}")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = cfg.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def end_to_end(setup_s, cycles, ops, peak_kb) -> dict[str, float]:
    times = [o.wall_s for o in ops]
    med = statistics.median
    return {
        "setup_s": setup_s,
        "rows_per_s": med(c["rows"] / c["wall"] for c in cycles),
        "op_p50_s": med(times),
        "cpu_s_per_cycle": med(c["cpu"] for c in cycles),
        "peak_rss_mb": peak_kb / 1024.0,
        "bytes_written_per_row": med(c["bytes"] / c["rows"] for c in cycles),
        "ops_ok_ratio": sum(o.ok for o in ops) / len(ops),
    }


def per_layer(spans: list[ledger.Span], events: str) -> dict[str, float]:
    path = glob.glob(os.path.join(events, "*"))
    if len(path) != 1:
        raise RuntimeError(f"expected one event log in {events}, found {path}")
    led = ledger.build(ledger.read_events(path[0]), spans)
    waves = [led[s.name] for s in spans if ".curate_document_stream.w" in s.name]
    if waves:  # per wave: the mean over the run's waves
        merged = ledger.SpanLedger(0.0)
        for w in waves:
            for k in ("wall_s", "jobs", "tasks", "idle_s", "task_cpu_s",
                      "shuffle_bytes", "spill_bytes", "output_bytes"):
                setattr(merged, k, getattr(merged, k) + getattr(w, k) / len(waves))
        # failures are counted, not averaged
        merged.failed_tasks = sum(w.failed_tasks for w in waves)
        led["streaming.curate.curate_document_stream"] = merged
    # the other workload's spans did not run: they read 0
    for name, _ in per_layer_spec():
        led.setdefault(name.rsplit(".", 1)[0], ledger.SpanLedger(0.0))
    out: dict[str, float] = {}
    for name, _ in per_layer_spec():
        span, metric = name.rsplit(".", 1)
        if metric == "failed_tasks" and span in WORKLOADS:
            names = NIGHTLY_SPANS if span == "nightly_run" else MATCH_SPANS
            out[name] = sum(led[n].failed_tasks for n in names)
        elif metric == "row_amplification":
            out[name] = led[span].max_operator_rows / max(1, led[span].output_rows)
        else:
            out[name] = getattr(led[span], metric)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(REPO, "opensanctions_spark")):
        print("perfbench: the opensanctions_spark package is not next to "
              "perfbench/; run from the root of a repository checkout",
              file=sys.stderr)
        return 2
    # read when the package's session module is first imported
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    import reference

    load_before = procstat.loadavg()
    t0 = time.monotonic()
    match = args.workload == "match_dedupe"
    queries = (reference.MATCH_QUERIES if args.trace else CYCLE_QUERIES) if match else []
    # the child writes (or finds cached) everything read below
    subprocess.run(
        [sys.executable, os.path.join(HERE, "prepare.py"), WORK, str(args.seed),
         str(WAVES_PER_CYCLE if match else 0), *queries],
        check=True,
    )
    inputs = generate(args.seed, WORK)
    answers = {q: reference.match_answer(WORK, inputs, q) for q in queries}
    corpus = reference.curate_answers(WORK, args.seed, inputs, WAVES_PER_CYCLE) if match else None
    untimed = time.monotonic() - t0  # input + reference generation

    run_dir = os.path.join(WORK, "run", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    spark = make_session(run_dir, bool(args.trace))
    try:
        root = os.getpid()
        runner = Runner(spark, bool(args.trace))
        work = (MatchDedupe(spark, inputs, run_dir, answers, corpus) if match
                else Nightly(spark, inputs, run_dir))
        with procstat.PeakSampler(root) as sampler:
            work.prepare()
            setup_s = process_age_s() - untimed
            cycles = []
            t_start = time.monotonic()
            while True:
                rows = work.rows_per_cycle()
                first = len(runner.ops)
                written = work.cycle(runner, len(cycles))
                done = runner.ops[first:]
                cycles.append({
                    "wall": sum(o.wall_s for o in done),
                    "cpu": sum(o.cpu_s for o in done),
                    "bytes": written,
                    "rows": rows,
                })
                if args.trace or time.monotonic() - t_start >= args.seconds:
                    break
            if args.trace:
                work.staged(runner)
    finally:
        stop_session(spark)
    ops = runner.ops
    failed = sum(not o.ok for o in ops)
    if args.trace:
        values = per_layer(runner.spans, os.path.join(run_dir, "eventlog"))
        units = dict(per_layer_spec())
    else:
        values = end_to_end(setup_s, cycles, ops, sampler.peak_kb)
        units = END_TO_END
    shutil.rmtree(run_dir, ignore_errors=True)
    # bench.py's rule: a 5-minute load above half the cores is ambient noise
    load_warning = load_before[1] > CPUS / 2
    print(json.dumps({"info": {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cycles": len(cycles), "ops": len(ops),
        "op_seconds": [[o.span, round(o.wall_s, 3)] for o in ops],
        "input_and_reference_s": round(untimed, 3),
        "ambient_load": load_before, "load_warning": load_warning,
    }}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
