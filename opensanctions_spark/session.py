"""SparkSession factory tuned for the engine.

Defaults target correctness + the local[32] harness, but every knob is the
one you would also set on a 1000-executor cluster:

- AQE on (runtime coalescing, skew-join splitting),
- shuffle partitions sized for the harness (32) — on a real cluster this
  becomes ``spark.sql.adaptive.coalescePartitions`` doing the sizing,
- Arrow for any pandas interchange (vectorized UDF path),
- UTC session timezone so timestamp semantics match the DuckDB oracle and
  are cluster-location independent.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import SparkSession

from opensanctions_spark.logs import get_logger

_log = get_logger(__name__)

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def configure(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply the engine's standard configuration to a builder."""
    return (
        builder.config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # coalescePartitions.parallelismFirst stays at its default (true):
        # A/B'd in round 7 — false coalesces post-shuffle partitions by
        # bytes alone, which starves compute-heavy-per-byte stages (the J5
        # blocking pair scorer went 1.4 s → 5.8 s at sf0.1 when its ~MB-
        # sized shuffle coalesced to one task). Spark's default exists for
        # exactly this case; at 100 TB the byte-based and parallelism-based
        # targets coincide anyway.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # collect_set/collect_list aggregations (entity assembly, the
        # engine's core A1 shape) run as ObjectHashAggregate; the default
        # 128-key in-memory threshold means any partial aggregation over
        # more than 128 groups per task — i.e. ALWAYS, for entity-id
        # grouping at any scale — silently degrades to sort-based,
        # sorting the whole fan-out before the shuffle. 64k buffers of
        # small property arrays are a few tens of MB per task: safely
        # inside executor memory at the engine's statement row widths,
        # and measured −10% on the fused K3 sink at sf1.
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
            "65536",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # a join whose keys are a SUPERSET of one side's hash clustering
        # may reuse that clustering and shuffle only the other side —
        # the bucketed statement archive (clustered on canonical_id)
        # then feeds the (canonical_id, id) first_seen probe without
        # re-exchanging the stored version (SCALE.md §21c/§21d). The
        # default (true) forces both sides to re-shuffle on the full
        # key set; subset-key skew is the engine's own keys, and the
        # heavy-hitter rehearsal gates it.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )


def get_session(app_name: str = "opensanctions-spark") -> SparkSession:
    """Create (or reuse) the tuned local session."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    return configure(builder).getOrCreate()


@functools.cache
def _warn_sever_fallback(master: str) -> None:
    """Say once per master that a severing cut is not recoverable."""
    _log.warning(
        "materialize(sever=True) on a cluster without a checkpoint dir"
        " falls back to localCheckpoint: one lost executor fails the job;"
        " call SparkContext.setCheckpointDir for a reliable cut",
        master=master,
    )


def materialize(df, eager: bool = True, sever: bool = False):
    """Cut a DataFrame's lineage in the deployment-appropriate way.

    The engine's iterative and fan-out plans (BPE merge rounds, connected
    components, the exporter facet base, the PQ dims frame) need an
    intermediate whose plan is truncated — otherwise plan size grows
    per round and shared subtrees recompute per consumer.

    - **local mode** (the bench harness): ``localCheckpoint`` — blocks on
      the driver-cum-executor's own storage; cheapest cut, and executor
      loss cannot happen (one process).
    - **cluster, sever=False** (fan-out reuse: one frame, many
      consumers): ``localCheckpoint`` stores blocks on executors with NO
      replication and severed lineage, so one lost executor fails the
      whole job — a local-mode assumption that must not ship to a 100 TB
      run. ``persist(MEMORY_AND_DISK)`` keeps lineage (recompute on
      loss) while still deduplicating execution through the cache
      manager; ``eager`` forces population with a count so downstream
      fan-out never races the first materialization.
    - **cluster, sever=True**: the call site NEEDS the logical plan cut,
      not just execution reuse — iterative loops whose plan otherwise
      deepens every round (connected components, PageRank, BPE merges),
      frames whose source stops existing (a tempdir, an in-place
      overwritten path: Spark refuses "cannot overwrite a path that is
      also being read from" on an un-severed plan), and the streaming
      curation index, where an append to the source path would recache
      — i.e. silently recompute — any plan still referencing it.
      Reliable ``checkpoint`` (replicated, lineage-free, recoverable)
      when a checkpoint dir is configured; else ``localCheckpoint`` as
      the best available cut (accepting the executor-loss caveat),
      logged once per master as a warning.

    Returned frames are not explicitly unpersisted by most call sites;
    the ContextCleaner reclaims blocks when the frame is GC'd (the bench
    rebuilds lineage per rep, so nothing accumulates across reps).
    """
    sc = df.sparkSession.sparkContext
    if sc.master.startswith("local"):
        return df.localCheckpoint(eager=eager)
    if sever:
        if sc.getCheckpointDir() is not None:
            return df.checkpoint(eager=eager)
        _warn_sever_fallback(sc.master)
        return df.localCheckpoint(eager=eager)
    from pyspark import StorageLevel

    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    if eager:
        out.count()
    return out
