"""Streaming corpus curation: the incremental curation path driven by a
document stream.

Documents arrive continuously (file drops of crawled corpora); every
micro-batch runs the SAME wave curation the nightly batch path uses
(``plans/curate.curate_increment`` — quality gate, exact-dup probe
against the corpus fingerprint index, near-dup probe against the corpus
band index, in-wave near-dedup, stable split), appends the survivors to
the curated corpus, and extends the on-disk index with the survivors'
fingerprints and band signatures so the NEXT micro-batch dedupes against
everything kept so far. First wave wins — corpus members never churn.

``foreachBatch`` is the right tool (same reasoning as
``streaming/ingest.py``): the sink is an append to a growing corpus plus
an index mutation, and the dedup join needs the *latest* index as its
right side, which changes between micro-batches — a stream-static join
would pin the first snapshot.

Scale notes: per batch, cost scales with the wave (the corpus is only
touched through its compact index — one fingerprint row and eight band
rows per kept doc, no text). At 100 TB the index parquet should be
bucketed on its join keys (fp; (k, mh)) so the probe joins shuffle only
the wave side. Retried micro-batches may append the same index rows
twice; both probe joins are duplicate-insensitive (the fingerprint probe
is an anti-join, the band probe re-distincts on read), so at-least-once
delivery keeps results exact.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opensanctions_spark.plans.curate import CurationConfig, curate_increment
from opensanctions_spark.session import materialize

#: one on-disk relation holds BOTH index kinds (fingerprint rows carry a
#: non-null ``fp``; band rows a non-null ``doc_id``), so each micro-batch
#: extends the index with ONE append job instead of two — per-wave sink
#: cost is job-count-bound, not byte-bound (round 14; the null cells are
#: free in parquet)
_ENTRIES_SCHEMA = "fp string, doc_id long, k long, mh long"


def _read_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    try:
        return spark.read.schema(schema).parquet(path)
    except Exception:
        return spark.createDataFrame([], schema)


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, probed like ``_read_or_empty``: a
    schema'd read only lists the path and runs no Spark job."""
    try:
        spark.read.schema("_ int").parquet(path)
        return True
    except AnalysisException:
        return False


def load_curation_index(
    spark: SparkSession, index_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Read the (fingerprints, bands) index, empty-schema'd if absent.

    Band rows are re-distincted: (doc_id, k, mh) is naturally unique, so
    a retried micro-batch's double-append cannot inflate the
    agreeing-band counts of the near-dup probe.

    An index in the older two-directory layout (``fingerprints`` and
    ``bands``) raises ValueError: reading only ``entries`` would treat
    it as empty and silently re-admit every duplicate it records."""
    for legacy in ("fingerprints", "bands"):
        if _path_exists(spark, f"{index_dir}/{legacy}"):
            raise ValueError(
                f"curation index {index_dir} uses the old two-directory"
                f" layout ({legacy}/); this engine reads {index_dir}/entries"
                " only — rebuild the index or move it aside"
            )
    entries = _read_or_empty(spark, f"{index_dir}/entries", _ENTRIES_SCHEMA)
    fps = entries.filter(F.col("fp").isNotNull()).select("fp").distinct()
    bands = (
        entries.filter(F.col("doc_id").isNotNull())
        .select("doc_id", "k", "mh")
        .distinct()
    )
    return fps, bands


def curate_document_stream(
    stream: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    config: CurationConfig | None = None,
) -> "object":
    """Start the curation query: micro-batch of documents → wave curation
    against the current index → append survivors to ``out_dir`` and their
    fingerprints/bands to ``index_dir``. Returns the StreamingQuery.

    The appended corpus rows are (doc_id, lang, source, n_tokens, split);
    packing stays snapshot-scoped (run ``pack_sequences`` over the frozen
    corpus when training starts — pack ids are offsets in a fixed stream,
    meaningless while the stream still grows)."""
    cfg = config or CurationConfig()
    spark = stream.sparkSession

    def sink(batch: DataFrame, batch_id: int) -> None:
        fps, bands = load_curation_index(spark, index_dir)
        # sever=True, NOT a cache: every frame's lineage reads the
        # index parquet, and the index appends below would invalidate a
        # cache over that path — a later consumer would then silently
        # RECOMPUTE curation against the already-mutated index (every
        # survivor suddenly looks like a duplicate of itself). Cutting
        # lineage BEFORE the first append makes the wave's frames
        # immutable for the rest of the sink. The index rows derive from
        # the increment's own post-exact-dedup frame and band signatures
        # (with_frames — round 13) instead of re-tokenizing the wave's
        # text a second time.
        curated, exact, wave_bands = curate_increment(
            batch, fps, bands, cfg, with_frames=True
        )
        curated = curated.transform(materialize, sever=True)
        kept_ids = curated.select("doc_id")
        kept_fps = (
            exact.join(kept_ids, "doc_id", "left_semi")
            .select(F.md5(F.col("text")).alias("fp"))
            .distinct()
        )
        kept_bands = wave_bands.join(kept_ids, "doc_id", "left_semi")
        null_l = F.lit(None).cast("long")
        entries = kept_fps.select(
            "fp",
            null_l.alias("doc_id"),
            null_l.alias("k"),
            null_l.alias("mh"),
        ).unionByName(
            kept_bands.select(
                F.lit(None).cast("string").alias("fp"), "doc_id", "k", "mh"
            )
        ).transform(materialize, sever=True)
        curated.write.mode("append").parquet(out_dir)
        entries.write.mode("append").parquet(f"{index_dir}/entries")
        # the increment's internal persists are per-wave state: release
        # them so a long-running stream does not accumulate cached
        # blocks across micro-batches
        exact.unpersist()
        wave_bands.unpersist()

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
