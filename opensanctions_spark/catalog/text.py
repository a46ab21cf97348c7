"""Text-analysis + deduplication catalog queries over the documents table.

The LLM-training-data operator family (BASELINE.json north star): exact
dedup, n-gram Jaccard near-dup, MinHash-LSH candidate generation, SimHash
fingerprinting, language-ID heuristic, quality scoring, token counting,
document fingerprinting, plus the reference's text-cleaning/safety guards
(F3/F4/F14/F15). Every pipeline is pure JVM column expressions — the same
code shape that runs over billions of documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from opensanctions_spark.catalog import load, register
from opensanctions_spark.functions.text import (
    exceeds_max_length,
    looks_unsafe,
    squash_spaces,
    token_count,
)
from opensanctions_spark.operators.blocking import bucket_pairs
from opensanctions_spark.session import materialize

TOKEN_RE = "[a-z0-9]+"


def _tokens(col):
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_RE), F.lit(0))


@register(
    "f3_f14_f15_text_guards",
    oracle=r"""
SELECT doc_id,
  len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_tokens,
  length(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS clean_len,
  regexp_matches(text, '(?i)(<[^>]*>|\b(?:javascript|data|vbscript):|\bon\w+\s*=|&#[a-zA-Z])') AS has_xss,
  length(text) > 400 AS too_long
FROM documents
""",
)
def f3_f14_f15_text_guards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text cleaning + safety guards (F3 token split, F4 space squash,
    F14 XSS smell ``zavod/zavod/runtime/safety.py``, F15 max-length
    ``zavod/zavod/runtime/cleaning.py:137-146``)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text"), "[A-Za-z0-9]+").cast("long").alias("n_tokens"),
        F.length(squash_spaces(F.col("text"))).cast("long").alias("clean_len"),
        looks_unsafe(F.col("text")).alias("has_xss"),
        exceeds_max_length(F.col("text"), 400).alias("too_long"),
    )


@register(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS content_hash,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS keeper_id
FROM documents
GROUP BY md5(text)
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication: hash-groupBy on content, keeper = min doc id.
    One shuffle on a uniform hash key — the 100 TB-safe baseline dedup."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper_id"))
    )


@register(
    "text_fingerprint",
    oracle="""
WITH fp AS (
  SELECT doc_id,
    md5(array_to_string(list_sort(list_distinct(
        regexp_extract_all(lower(text), '[a-z0-9]+'))), ' ')) AS fingerprint
  FROM documents
)
SELECT fingerprint, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_id
FROM fp GROUP BY fingerprint
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: hash of the sorted distinct token set —
    catches reordered/whitespace-shuffled duplicates that exact dedup
    misses, still one shuffle."""
    docs = load(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        F.md5(
            F.array_join(F.array_sort(F.array_distinct(_tokens(F.col("text")))), " ")
        ).alias("fingerprint"),
    )
    return fp.groupBy("fingerprint").agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper_id")
    )


@register(
    "text_quality",
    oracle=r"""
WITH t AS (
  SELECT doc_id,
    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
    length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS n_alnum,
    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
        x -> x IN ('the', 'a', 'and', 'of', 'to', 'in'))) AS n_stop
  FROM documents
)
SELECT doc_id, n_tokens,
  CAST(n_alnum AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_token_len,
  CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
  0.5 * (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE))
    + 0.5 * least(CAST(n_tokens AS DOUBLE) / 200.0, 1.0) AS quality
FROM t
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token count, mean token length, stopword ratio,
    combined score — the length/punct/stopword heuristics of a training-
    data filter, all in one scan."""
    docs = load(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n_tokens = F.size(toks)
    n_alnum = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z0-9]", ""))
    n_stop = F.size(
        F.filter(toks, lambda x: x.isin("the", "a", "and", "of", "to", "in"))
    )
    # try_divide: a token-less document must score null, not fail the
    # task (ANSI divides throw on zero; unreachable in the oracle tables
    # but routine in a real corpus)
    stop_ratio = F.try_divide(n_stop.cast("double"), n_tokens.cast("double"))
    return docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.try_divide(n_alnum.cast("double"), n_tokens.cast("double")).alias(
            "mean_token_len"
        ),
        stop_ratio.alias("stopword_ratio"),
        (
            F.lit(0.5) * stop_ratio
            + F.lit(0.5) * F.least(n_tokens.cast("double") / F.lit(200.0), F.lit(1.0))
        ).alias("quality"),
    )


_LANG_MARKERS = {
    "en": ["the", "a", "and", "of"],
    "es": ["el", "la", "los", "y"],
    "de": ["der", "die", "das", "und"],
    "fr": ["le", "les", "des", "et"],
    "zh": ["de", "he", "shi", "zai"],
}


def _langid_oracle() -> str:
    score_cols = []
    for lang, words in _LANG_MARKERS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        score_cols.append(
            f"len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'), "
            f"x -> x IN ({lst}))) AS s_{lang}"
        )
    langs = list(_LANG_MARKERS)
    case = "CASE WHEN " + " + ".join(f"s_{l}" for l in langs) + " = 0 THEN 'und' "
    for i, l in enumerate(langs):
        others = [f"s_{l} >= s_{o}" for o in langs[i + 1:]]
        cond = " AND ".join(others) if others else "TRUE"
        case += f"WHEN {cond} THEN '{l}' "
    case += "END"
    return f"""
WITH scored AS (
  SELECT doc_id, lang, {', '.join(score_cols)} FROM documents
)
SELECT doc_id, {', '.join('s_' + l for l in langs)},
       {case} AS predicted_lang,
       ({case}) = lang AS agrees_with_label
FROM scored
"""


@register("text_langid", oracle=_langid_oracle())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword-marker counts per language, argmax
    with fixed priority tie-break; 'und' when no marker hits."""
    docs = load(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))

    def marker_count(words: list[str]):
        # NB: one-param lambda — a two-param lambda would get (value, index)
        ws = list(words)
        return F.size(F.filter(toks, lambda x: x.isin(ws))).cast("long")

    scores = {lang: marker_count(words) for lang, words in _LANG_MARKERS.items()}
    df = docs.select("doc_id", "lang", *[scores[l].alias(f"s_{l}") for l in scores])
    langs = list(_LANG_MARKERS)
    total = sum(F.col(f"s_{l}") for l in langs)
    pred = F.when(total == 0, "und")
    for i, l in enumerate(langs):
        cond = F.lit(True)
        for o in langs[i + 1:]:
            cond = cond & (F.col(f"s_{l}") >= F.col(f"s_{o}"))
        pred = pred.when(cond, l)
    return df.select(
        "doc_id",
        *[f"s_{l}" for l in langs],
        pred.alias("predicted_lang"),
        (pred == F.col("lang")).alias("agrees_with_label"),
    )


_SHINGLES_SQL = """
  SELECT DISTINCT doc_id, source, sh AS shingle
  FROM (
    SELECT doc_id, source,
      unnest(list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
    FROM (SELECT doc_id, source,
                 regexp_extract_all(lower(text), '[a-z0-9]+') AS w
          FROM documents)
  )
"""


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shingles_of(load(spark, sf_dir, "documents"))


def shingle_arrays_of(docs: DataFrame) -> DataFrame:
    """(doc_id, source, shingles: array<string>) — each document's DISTINCT
    word-3-gram shingle set, computed entirely row-wise (array_distinct,
    no shuffle). The array form is the preferred input of the MinHash
    operators: per-document reductions (signature mins, set sizes) stay
    map-side instead of costing a groupBy(doc_id) shuffle of the exploded
    shingle set.

    The token array is materialized as its OWN projection first, so the
    shingle lambda captures a plain attribute: inlining the regex into
    the lambda (one giant expression) grows past the codegen method
    limit, drops the stage to interpreted eval, and re-runs the regex
    per element — measured 8× slower. CollapseProject keeps the split
    because the token array is referenced four times."""
    w = F.col("_w")
    # size guard: sequence(0, size-3) DESCENDS when size < 3 (Spark
    # sequences run backwards for start > stop), and element_at on the
    # short array then throws under ANSI mode — short/empty documents
    # must yield an empty shingle set, not a task failure
    sh = F.when(
        F.size(w) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at(w, i + 1),
                F.element_at(w, i + 2),
                F.element_at(w, i + 3),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select(
        "doc_id", "source", _tokens(F.col("text")).alias("_w")
    ).select("doc_id", "source", F.array_distinct(sh).alias("shingles"))


def shingles_of(docs: DataFrame) -> DataFrame:
    """Distinct word-3-gram shingles per (doc_id, source), exploded form.
    Row-wise dedup (ids are unique per row) — zero shuffles.

    explode_outer + null filter, NOT plain explode: explode of a computed
    array column triggers InferFiltersFromGenerate, whose inferred
    size(arr) > 0 filter gets the full shingle expression substituted in
    during pushdown — re-running the regex pipeline per row (measured
    25× slower). The outer form infers nothing; the null filter restores
    inner-explode semantics for empty arrays."""
    return (
        shingle_arrays_of(docs)
        .select("doc_id", "source", F.explode_outer("shingles").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH shingles AS ({_SHINGLES_SQL}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS left_id, b.doc_id AS right_id, COUNT(*) AS shared
  FROM shingles a JOIN shingles b
    ON a.source = b.source AND a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT p.left_id, p.right_id, p.shared,
  CAST(p.shared AS DOUBLE) / CAST(sa.n + sb.n - p.shared AS DOUBLE) AS jaccard
FROM pairs p
JOIN sizes sa ON p.left_id = sa.doc_id
JOIN sizes sb ON p.right_id = sb.doc_id
WHERE CAST(p.shared AS DOUBLE) / CAST(sa.n + sb.n - p.shared AS DOUBLE) >= 0.2
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate detection via word-3-gram Jaccard ≥ 0.2, blocked by
    source. Exact but quadratic-within-block — the accuracy oracle that
    MinHash-LSH approximates. One groupBy(source, shingle) shuffle builds
    buckets; ordered pairs expand JVM-side inside each bucket carrying
    both Jaccard denominators, so the quadratic term stays per-shingle
    (never global) and the pair table is never re-joined to a sizes
    table."""
    # per-doc set size comes free with the row-wise array form (size of
    # the distinct-shingle array) — no count-window shuffle.
    # explode_outer + null filter: see shingles_of.
    sh = (
        shingle_arrays_of(load(spark, sf_dir, "documents"))
        .select(
            "doc_id",
            "source",
            F.explode_outer("shingles").alias("shingle"),
            F.size("shingles").alias("n"),
        )
        .filter(F.col("shingle").isNotNull())
    )
    buckets = (
        sh.groupBy("source", "shingle")
        .agg(
            F.sort_array(F.collect_list(F.struct("doc_id", "n"))).alias("members")
        )
        .filter(F.size("members") > 1)
    )
    pairs = bucket_pairs(
        buckets,
        "members",
        lambda x, y: F.struct(
            x["doc_id"].alias("left_id"),
            y["doc_id"].alias("right_id"),
            x["n"].alias("na"),
            y["n"].alias("nb"),
        ),
    )
    jac = F.col("shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("shared")
    ).cast("double")
    return (
        pairs.groupBy("left_id", "right_id")
        .agg(
            F.count("*").alias("shared"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.2)
        .select("left_id", "right_id", "shared", "jaccard")
    )


@register(
    "dedup_minhash_lsh",
    oracle=f"""
WITH shingles AS ({_SHINGLES_SQL}),
perms AS (SELECT unnest(range(8)) AS k),
minhash AS (
  SELECT doc_id, k,
         MIN(substr(md5(shingle), k * 3 + 1, 8)) AS mh
  FROM shingles CROSS JOIN perms
  GROUP BY doc_id, k
)
SELECT a.doc_id AS left_id, b.doc_id AS right_id,
       COUNT(*) AS n_bands
FROM minhash a JOIN minhash b
  ON a.k = b.k AND a.mh = b.mh AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate generation (8 permutations, band size 1):
    each shingle is hashed ONCE and the 8 band hashes are overlapping
    hex windows of that digest — one md5 per shingle instead of 8, and
    the signature build is a single groupBy(doc_id) with 8 min-aggs (no
    ×8 row explosion before the shuffle). Docs agreeing on any band
    become candidates via the (band, value) bucket self-join — never
    all-pairs. The scale path of dedup at 100 TB; on skewed corpora add a
    bucket-size cap before pairing (buckets above it are stop-bands)."""
    return _minhash_pairs(spark, sf_dir)


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_pairs_of(shingle_arrays_of(load(spark, sf_dir, "documents")))


def minhash_bands_of(shingles: DataFrame) -> DataFrame:
    """(doc_id, k, mh) MinHash band rows: 8 band values per document, each
    the min over one 8-hex-char window of the per-shingle md5 — one hash
    per shingle. This is the document's LSH signature — the persistent
    state an incremental near-dedup keeps per corpus member.

    Accepts either shingle form (the array form of `shingle_arrays_of`,
    or the exploded form); both run the same explode → md5 →
    groupBy(doc_id) 8-min-agg plan. The per-document reduction is
    deliberately a hash aggregate over exploded rows, NOT a row-wise
    array fold: higher-order array functions (aggregate/zip_with) are
    interpreted per element, while explode + md5 + hash-agg stay inside
    whole-stage codegen — measured 4× faster at sf0.1 despite the extra
    shuffle, and the shuffle rows are (doc_id, 8-byte band value) — tiny.

    Band values are BIGINT, not the 8-hex-char substring itself
    (round 13): ``min`` over a STRING buffer cannot use HashAggregate
    (UnsafeRow aggregation buffers must be mutable fixed-size types), so
    the signature reduction ran as Sort + SortAggregate — a full sort of
    every exploded shingle row on both sides of the exchange, the
    dominant stage of every LSH-family query. ``conv(hex8, 16, 10)`` is
    injective and order-preserving on fixed-length lowercase hex
    (lexicographic = numeric order), so ``min`` picks the same band
    value and bucket equality is unchanged — the pair set is
    bit-identical while the plan becomes explode → HashAggregate with an
    8-byte shuffle column instead of a string."""
    if "shingles" in shingles.columns:  # array form — explode it
        # explode_outer + null filter: see shingles_of (avoids the
        # InferFiltersFromGenerate expression-duplication trap)
        shingles = shingles.select(
            "doc_id", F.explode_outer("shingles").alias("shingle")
        ).filter(F.col("shingle").isNotNull())
    sh = shingles.select("doc_id", F.md5(F.col("shingle")).alias("h"))
    sigs = sh.groupBy("doc_id").agg(
        *[
            F.min(
                F.conv(F.substring(F.col("h"), k * 3 + 1, 8), 16, 10)
                .cast("long")
            ).alias(f"mh{k}")
            for k in range(8)
        ]
    )
    stack_expr = "stack(8, " + ", ".join(
        f"{k}, mh{k}" for k in range(8)
    ) + ") as (k, mh)"
    return sigs.select("doc_id", F.expr(stack_expr)).select(
        "doc_id", F.col("k").cast("long").alias("k"), "mh"
    )


def minhash_pairs_of(
    shingles: DataFrame | None,
    max_bucket_size: int | None = None,
    bands: DataFrame | None = None,
) -> DataFrame:
    """(left_id, right_id, n_bands) MinHash-LSH candidate pairs — see
    dedup_minhash_lsh for the algorithm notes.

    Pair generation is the single-shuffle bucket form: group band rows by
    (band, value), then expand ordered pairs INSIDE each bucket through
    ``operators.blocking.bucket_pairs``, whose fixed-width re-spread keeps
    AQE from packing the quadratic expansion onto a few tasks. One
    shuffle of the 8-rows to the buckets replaces the equi-self-join's
    two shuffled join inputs; the pair-count groupBy is the same in both
    forms.

    `max_bucket_size` is the stop-band cap for skewed corpora at scale:
    a band bucket holding more ids than the cap carries no discriminative
    signal (boilerplate shingles — the LSH analogue of stopwords) and
    would cost |bucket|² pairs; such buckets are dropped entirely,
    bounding worst-case pair cost to O(buckets × cap²). None = exact
    (the oracle-checked default at test scale).

    ``bands`` short-circuits the signature computation with a
    precomputed (doc_id, k, mh) band frame — for callers that already
    hold the documents' signatures (the incremental curation path
    computes them for the vs-corpus probe; re-deriving them from text
    would tokenize + shingle + hash the wave a second time)."""
    mh = bands if bands is not None else minhash_bands_of(shingles)
    buckets = (
        mh.groupBy("k", "mh")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    pairs = bucket_pairs(
        buckets,
        "ids",
        lambda x, y: F.struct(x.alias("left_id"), y.alias("right_id")),
    )
    return pairs.groupBy("left_id", "right_id").agg(
        F.count("*").alias("n_bands")
    )


_MINHASH_BANDS_SQL = f"""
shingles AS ({_SHINGLES_SQL}),
perms AS (SELECT unnest(range(8)) AS k),
minhash AS (
  SELECT doc_id, k,
         MIN(substr(md5(shingle), k * 3 + 1, 8)) AS mh
  FROM shingles CROSS JOIN perms
  GROUP BY doc_id, k
)
"""

_MINHASH_PAIRS_SQL = f"""{_MINHASH_BANDS_SQL.strip()},
mh_pairs AS (
  SELECT a.doc_id AS left_id, b.doc_id AS right_id, COUNT(*) AS n_bands
  FROM minhash a JOIN minhash b
    ON a.k = b.k AND a.mh = b.mh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
"""


@register(
    "dedup_near_cluster",
    oracle=f"""
WITH RECURSIVE {_MINHASH_PAIRS_SQL},
edges AS (SELECT left_id, right_id FROM mh_pairs WHERE n_bands >= 4),
sym AS (
  SELECT left_id AS a, right_id AS b FROM edges
  UNION SELECT right_id, left_id FROM edges
),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
comp AS (SELECT a AS node, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a)
SELECT d.doc_id,
       COALESCE(c.component, d.doc_id) AS canonical_id,
       COALESCE(c.component, d.doc_id) = d.doc_id AS is_keeper
FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
""",
)
def dedup_near_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-duplicate resolution: MinHash-LSH candidate pairs
    (≥4 agreeing bands) → distributed connected components → canonical
    document per cluster (min doc_id keeps, the rest drop) — the full
    dedup pipeline a training-data run executes, chaining the LSH stage
    into the same union-find operator the entity resolver uses
    (``zavod/zavod/integration/dedupe.py:93-128`` analogue). The oracle
    recomputes the clusters with a recursive-CTE transitive closure —
    valid at oracle scale, while the Spark side uses the O(log d)
    pointer-jumping CC that survives 100 TB."""
    from opensanctions_spark.operators.resolve import connected_components

    docs = load(spark, sf_dir, "documents")
    edges = _minhash_pairs(spark, sf_dir).filter(F.col("n_bands") >= 4)
    cc = connected_components(
        edges, src="left_id", dst="right_id", distinct_edges=False
    )
    mapping = cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("_canon")
    )
    return (
        docs.select("doc_id")
        .join(mapping, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_canon"), F.col("doc_id")).alias("canonical_id"),
            (F.coalesce(F.col("_canon"), F.col("doc_id")) == F.col("doc_id")).alias(
                "is_keeper"
            ),
        )
    )


# hex→int of the first 4 md5 chars, both engines: the deterministic,
# engine-portable "random" used for sampling (Spark: conv(hex, 16, 10)).
_MD5_BUCKET_SQL = (
    "(4096 * (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)"
    " + 256 * (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)"
    " + 16 * (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1)"
    " + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 10"
)


@register(
    "sample_stratified",
    oracle=f"""
SELECT doc_id, lang, CAST({_MD5_BUCKET_SQL} AS BIGINT) AS bucket
FROM documents
WHERE {_MD5_BUCKET_SQL} < 3
""",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: a content-independent md5 hash
    of the stable doc id buckets every document 0-9; keeping buckets < k
    yields a reproducible k/10 sample *per stratum* (uniform hash ⇒
    uniform within every lang/source slice). This is how a 100 TB corpus
    is downsampled without a shuffle or an RNG seed dependency — the
    predicate pushes to the scan and the sample is stable across runs
    and engines (no rand())."""
    docs = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 10
    )
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"))
        .filter(F.col("bucket") < 3)
    )


_MD5_BUCKET100_SQL = _MD5_BUCKET_SQL.replace("% 10", "% 100")


@register(
    "sample_train_split",
    oracle=f"""
SELECT doc_id,
       lang,
       CASE WHEN {_MD5_BUCKET100_SQL} < 80 THEN 'train'
            WHEN {_MD5_BUCKET100_SQL} < 90 THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
)
def sample_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10): the same
    content-independent md5 bucketing as ``sample_stratified``, mapped to
    a split label. Map-only — no shuffle, no RNG seed, no state — so the
    assignment is reproducible on any cluster size, stable across reruns
    (a document never migrates between splits when the corpus grows), and
    the split predicate pushes down when a job reads just one split."""
    docs = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return docs.select("doc_id", "lang", split.alias("split"))


@register(
    "mixture_cap_per_source",
    oracle="""
WITH ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
)
SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 10
""",
)
def mixture_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture capping: at most k documents per source, chosen by a
    deterministic hash order (md5 of the stable id = a reproducible
    shuffle, no RNG) with the id as tie-break. This is the 'no single
    domain dominates the mix' policy of large-corpus curation; one
    shuffle on source, and the per-partition top-k needs no global
    sort. Skewed mega-sources are exactly what AQE skew-split handles."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 10)
    )


@register(
    "dedup_source_priority",
    oracle="""
WITH keyed AS (
  SELECT md5(array_to_string(list_sort(list_distinct(
             regexp_extract_all(lower(text), '[a-z0-9]+'))), ' ')) AS h,
         (CASE WHEN source IN ('src0','src1','src2','src3','src4')
               THEN '0' ELSE '1' END)
           || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS pick_key
  FROM documents
)
SELECT h,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(CAST(substr(MIN(pick_key), 2) AS BIGINT) AS BIGINT) AS keeper_id
FROM keyed
GROUP BY h
HAVING COUNT(*) > 1
""",
)
def dedup_source_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source dedup with a keeper POLICY: inside each duplicate
    group (token-set fingerprint, catches reordered copies) prefer
    curated sources (src0-4) over the rest, then lowest id — the 'keep
    the highest-provenance copy' rule real pipelines use instead of
    plain min(id). Encoded as a single sortable key (priority char +
    zero-padded id) so the policy is one min() aggregate — portable to
    any engine, order-independent, one shuffle."""
    docs = load(spark, sf_dir, "documents")
    prio = F.when(
        F.col("source").isin("src0", "src1", "src2", "src3", "src4"), "0"
    ).otherwise("1")
    pick_key = F.concat(prio, F.lpad(F.col("doc_id").cast("string"), 12, "0"))
    fp = F.md5(
        F.array_join(F.array_sort(F.array_distinct(_tokens(F.col("text")))), " ")
    )
    return (
        docs.select(fp.alias("h"), pick_key.alias("pick_key"))
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.substring(F.min("pick_key"), 2, 12).cast("long").alias("keeper_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


@register(
    "text_tfidf_topk",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         CAST(tf.tf AS DOUBLE) * CAST(n.n_docs AS DOUBLE)
             / CAST(df.df AS DOUBLE) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, term, tf, df, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term) AS rank
  FROM scored
)
SELECT doc_id, term, tf, df, score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
""",
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 characteristic terms by tf·(N/df) — the linear-
    idf variant keeps the score a single exact multiply+divide so both
    engines agree bit-for-bit (log-idf ranks identically but ties the
    hash check to libm). Shape at scale: one groupBy for tf, one for df
    (joined back with NO forced broadcast — web-scale vocabularies have a
    typo tail of hundreds of millions of terms that would blow a
    broadcast limit, so AQE picks broadcast only when the vocabulary
    actually fits, and its skew handling covers hot terms otherwise).

    Round-4 restructure (VERDICT r3 task 4), two independent fixes
    measured at sf1 (3.90 s → 1.57 s, from 3.16× DuckDB to ~1.4×):

    1. the per-doc top-3 is a TakeOrdered-shaped AGGREGATE, not a window:
       ``row_number() OVER (PARTITION BY doc_id ORDER BY score)``
       compiles to exchange + a FULL SORT of every partition's term rows;
       the aggregate form hash-groups by doc_id (partial map-side
       combine), then sorts each doc's OWN term array and slices 3 —
       per-doc O(t log t) on cache-resident arrays, no machine-wide sort
       (gate: ``test_tfidf_topk_has_no_window_sort``);
    2. the tf table is localCheckpoint'ed before the df aggregation
       derives from it: tf referenced twice (detail side + df input)
       otherwise DUPLICATES the whole tokenize+explode+shuffle subtree in
       the physical plan — the corpus was being tokenized and shuffled
       TWICE (gate: ``test_tfidf_single_corpus_explode``). The
       checkpoint materializes exactly the posting-list relation any
       search/vocab pipeline persists anyway. (A count-over-term window
       measured ~12% faster at sf1 but buffers per-term partitions —
       df("the") rows in ONE window buffer at web scale — so the
       skew-safe AQE join keeps the 100 TB guarantee.)"""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    tf = tf.transform(materialize, eager=False)
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (
                F.col("tf").cast("double")
                * F.col("n_docs").cast("double")
                / F.col("df").cast("double")
            ).alias("score"),
        )
    )
    # struct field order IS the sort key: (-score asc, term asc) ≡
    # (score desc, term asc); score > 0 always, so negation is exact
    item = F.struct(
        (-F.col("score")).alias("_neg"),
        F.col("term").alias("term"),
        F.col("tf").alias("tf"),
        F.col("df").alias("df"),
    )
    top = scored.groupBy("doc_id").agg(
        F.slice(F.sort_array(F.collect_list(item)), 1, 3).alias("_top")
    )
    return top.select(
        "doc_id", F.posexplode("_top").alias("_pos", "_t")
    ).select(
        "doc_id",
        F.col("_t.term").alias("term"),
        F.col("_t.tf").alias("tf"),
        F.col("_t.df").alias("df"),
        (-F.col("_t._neg")).alias("score"),
        (F.col("_pos") + 1).cast("long").alias("rank"),
    )


@register(
    "contamination_overlap",
    oracle=f"""
WITH shingles AS ({_SHINGLES_SQL}),
corpus AS (SELECT doc_id, shingle FROM shingles WHERE doc_id % 50 <> 0),
eval_set AS (SELECT doc_id AS eval_id, shingle FROM shingles WHERE doc_id % 50 = 0),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM corpus GROUP BY doc_id),
hits AS (
  SELECT c.doc_id, e.eval_id, COUNT(*) AS n_shared
  FROM corpus c JOIN eval_set e ON c.shingle = e.shingle
  GROUP BY c.doc_id, e.eval_id
)
SELECT h.doc_id, h.eval_id, h.n_shared,
       CAST(h.n_shared AS DOUBLE) / CAST(s.n AS DOUBLE) AS contamination
FROM hits h JOIN sizes s ON h.doc_id = s.doc_id
""",
)
def contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: word-3-gram overlap between every
    training document and a held-out eval set (here: doc_id % 50 = 0),
    reported as the fraction of the training doc's distinct shingles that
    appear in that eval doc. The eval side is tiny and broadcasts; the
    corpus side streams — the contamination scan stays one broadcast-join
    pass over 100 TB."""
    sh = _shingles(spark, sf_dir)
    corpus = sh.filter(F.col("doc_id") % 50 != 0).select("doc_id", "shingle")
    eval_set = sh.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("eval_id"), F.col("shingle").alias("shingle_e")
    )
    sizes = corpus.groupBy("doc_id").agg(F.count("*").alias("n"))
    hits = (
        corpus.join(
            F.broadcast(eval_set), F.col("shingle") == F.col("shingle_e")
        )
        .groupBy("doc_id", "eval_id")
        .agg(F.count("*").alias("n_shared"))
    )
    return hits.join(sizes, "doc_id").select(
        "doc_id",
        "eval_id",
        "n_shared",
        (F.col("n_shared").cast("double") / F.col("n").cast("double")).alias(
            "contamination"
        ),
    )


@register(
    "docs_length_histogram",
    oracle="""
SELECT lang,
       CAST(n_chars // 25 AS BIGINT) AS bucket,
       COUNT(*) AS n_docs,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars
FROM documents
GROUP BY lang, n_chars // 25
""",
)
def docs_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact length histogram per language (25-char buckets): the
    distribution scan behind length-based quality cutoffs. Exact bucket
    groupBy (not approx quantiles) so the oracle is bit-stable; one
    shuffle on (lang, bucket) — both low-cardinality, never skewed."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            "lang", F.expr("n_chars div 25").cast("long").alias("bucket")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


def _simhash_oracle() -> str:
    hexv = (
        "(4096*(strpos('0123456789abcdef', substr(h,1,1))-1)"
        " + 256*(strpos('0123456789abcdef', substr(h,2,1))-1)"
        " + 16*(strpos('0123456789abcdef', substr(h,3,1))-1)"
        " + (strpos('0123456789abcdef', substr(h,4,1))-1))"
    )
    bit_sums = ", ".join(
        f"SUM(CASE WHEN (v >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(16)
    )
    recompose = " + ".join(f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16))
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
),
hashed AS (
  SELECT doc_id, {hexv} AS v
  FROM (SELECT doc_id, substr(md5(tok), 1, 4) AS h FROM toks)
),
bits AS (SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id)
SELECT doc_id, CAST({recompose} AS BIGINT) AS simhash FROM bits
"""


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (16-bit) document fingerprint: per-bit majority vote over
    token hashes. Near-dup docs land at small Hamming distance; the
    fingerprint is a single groupBy over exploded tokens — embarrassingly
    parallel at any scale."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("tok")
    ).distinct()
    v = F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("long")
    hashed = toks.select("doc_id", v.alias("v"))
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("v"), j).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(16)
    ]
    bits = hashed.groupBy("doc_id").agg(*bit_aggs)
    simhash = sum(
        F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j in range(16)
    )
    return bits.select("doc_id", simhash.cast("long").alias("simhash"))


@register(
    "text_token_count",
    oracle="""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text,
            '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
       CAST(len(text) AS BIGINT) AS n_chars
FROM documents
""",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting for training-data accounting: whitespace tokens and
    a BPE-ish pre-tokenization (letter runs | digit runs | single
    punctuation — the GPT-2-style split shape) — both pure regex counts,
    JVM-side, embarrassingly parallel."""
    docs = load(spark, sf_dir, "documents")
    ws = F.size(F.expr(r"regexp_extract_all(text, '\\S+', 0)"))
    bpe = F.size(
        F.expr(r"regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0)")
    )
    return docs.select(
        "doc_id",
        ws.cast("long").alias("n_ws_tokens"),
        bpe.cast("long").alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


@register(
    "pack_sequences",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, lang,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, lang, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM toks
)
SELECT doc_id, lang, n_tokens,
       CAST((cum - n_tokens) // 256 AS BIGINT) AS pack_id,
       CAST((cum - n_tokens) % 256 AS BIGINT) AS pack_offset,
       ((cum - n_tokens) // 256) <> ((cum - 1) // 256) AS straddles
FROM cum
""",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LM training: concat-and-chunk assignment of
    documents to fixed 256-token context windows, per language.

    Each doc gets the window containing its start offset in the running
    token stream (deterministic doc_id order), its offset inside that
    window, and a flag for docs straddling a window boundary (the split
    the loader performs at training time). One window partitioned by
    lang computes everything — the running sum is the only state, so at
    100 TB this is a per-partition sort with no extra shuffle beyond the
    lang partitioning; per-shard packing (partition by (lang, shard))
    removes even the sort-width concern. The greedy first-fit-decreasing
    alternative needs global state and is deliberately avoided — modern
    pipelines concat-and-chunk for exactly this reason."""
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.size(F.expr(r"regexp_extract_all(text, '\\S+', 0)"))
        .cast("long")
        .alias("n_tokens"),
    )
    cum = toks.withColumn("cum", F.sum("n_tokens").over(w))
    start = F.col("cum") - F.col("n_tokens")
    return cum.select(
        "doc_id",
        "lang",
        "n_tokens",
        (start / 256).cast("long").alias("pack_id"),
        (start % 256).cast("long").alias("pack_offset"),
        ((start / 256).cast("long") != ((F.col("cum") - 1) / 256).cast("long")).alias(
            "straddles"
        ),
    )


@register(
    "pipeline_quality_filter",
    oracle=r"""
WITH t AS (
  SELECT doc_id, md5(text) AS h,
    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
        x -> x IN ('the', 'a', 'and', 'of', 'to', 'in'))) AS n_stop
  FROM documents
),
scored AS (
  SELECT doc_id, h, n_tokens,
    0.5 * (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE))
      + 0.5 * least(CAST(n_tokens AS DOUBLE) / 200.0, 1.0) AS quality
  FROM t
),
keepers AS (SELECT MIN(doc_id) AS keeper_id FROM t GROUP BY h)
SELECT s.doc_id,
       s.n_tokens,
       s.quality,
       s.quality >= 0.3 AS passes_quality,
       s.n_tokens BETWEEN 5 AND 400 AS passes_length,
       k.keeper_id IS NOT NULL AS is_keeper,
       (s.quality >= 0.3 AND s.n_tokens BETWEEN 5 AND 400
        AND k.keeper_id IS NOT NULL) AS kept
FROM scored s
LEFT JOIN keepers k ON s.doc_id = k.keeper_id
""",
)
def pipeline_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data preprocessing funnel in ONE plan:
    quality score (stopword + length heuristics), token-count bounds, and
    exact-dedup keeper selection, each surfaced as a flag plus the final
    keep decision. One scan, one dedup shuffle, one broadcast-back join —
    the shape of a 100 TB corpus filter run where every additional
    criterion is a column, not a pass."""
    docs = load(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n_tokens = F.size(toks)
    n_stop = F.size(
        F.filter(toks, lambda x: x.isin("the", "a", "and", "of", "to", "in"))
    )
    scored = docs.select(
        "doc_id",
        F.md5("text").alias("h"),
        n_tokens.cast("long").alias("n_tokens"),
        (
            # try_divide: token-less docs score null and fail the quality
            # gate instead of failing the task (ANSI zero-divide throws)
            F.lit(0.5)
            * F.try_divide(n_stop.cast("double"), n_tokens.cast("double"))
            + F.lit(0.5)
            * F.least(n_tokens.cast("double") / F.lit(200.0), F.lit(1.0))
        ).alias("quality"),
    )
    keepers = scored.groupBy("h").agg(F.min("doc_id").alias("keeper_id"))
    out = scored.join(
        F.broadcast(keepers),
        scored.doc_id == keepers.keeper_id,
        "left",
    )
    passes_q = F.col("quality") >= 0.3
    passes_len = (F.col("n_tokens") >= 5) & (F.col("n_tokens") <= 400)
    is_keeper = F.col("keeper_id").isNotNull()
    return out.select(
        "doc_id",
        "n_tokens",
        "quality",
        passes_q.alias("passes_quality"),
        passes_len.alias("passes_length"),
        is_keeper.alias("is_keeper"),
        (passes_q & passes_len & is_keeper).alias("kept"),
    )


@register(
    "text_repetition",
    oracle=f"""
WITH sh_all AS (
  SELECT doc_id, sh AS shingle
  FROM (
    SELECT doc_id,
      unnest(list_transform(range(1, len(w) - 1),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
    FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
          FROM documents)
  )
),
counts AS (
  SELECT doc_id, shingle, COUNT(*) AS c FROM sh_all GROUP BY doc_id, shingle
),
per_doc AS (
  SELECT doc_id, SUM(c) AS n_total, MAX(c) AS max_c
  FROM counts GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_total AS BIGINT) AS n_shingles,
       CAST(max_c AS BIGINT) AS top_shingle_count,
       CAST(max_c AS DOUBLE) / CAST(n_total AS DOUBLE) AS repetition_ratio
FROM per_doc
""",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition ratio (the Gopher-rule quality signal):
    the most frequent word-3-gram's share of all 3-grams. Repetitive
    boilerplate / generation loops score high and get filtered. One
    explode + two groupBys, all JVM-side."""
    docs = load(spark, sf_dir, "documents")
    w = _tokens(F.col("text"))
    # size guard: see shingle_arrays_of (descending sequence + ANSI
    # element_at would fail the task on sub-3-token documents)
    sh = F.when(
        F.size(w) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at(w, i + 1),
                F.element_at(w, i + 2),
                F.element_at(w, i + 3),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    all_sh = docs.select("doc_id", F.explode(sh).alias("shingle"))
    counts = all_sh.groupBy("doc_id", "shingle").agg(F.count("*").alias("c"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_total"), F.max("c").alias("max_c")
    )
    return per_doc.select(
        "doc_id",
        F.col("n_total").cast("long").alias("n_shingles"),
        F.col("max_c").cast("long").alias("top_shingle_count"),
        (F.col("max_c").cast("double") / F.col("n_total").cast("double")).alias(
            "repetition_ratio"
        ),
    )


@register(
    "dedup_lsh_recall",
    oracle=f"""
WITH {_MINHASH_PAIRS_SQL},
sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id
),
exact_pairs AS (
  SELECT a.doc_id AS left_id, b.doc_id AS right_id, COUNT(*) AS shared
  FROM shingles a JOIN shingles b
    ON a.source = b.source AND a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
truth AS (
  SELECT p.left_id, p.right_id
  FROM exact_pairs p
  JOIN sizes sa ON p.left_id = sa.doc_id
  JOIN sizes sb ON p.right_id = sb.doc_id
  WHERE CAST(p.shared AS DOUBLE) / CAST(sa.n + sb.n - p.shared AS DOUBLE) >= 0.2
)
SELECT COUNT(*) AS n_true_pairs,
       COUNT(m.left_id) AS n_found_by_lsh,
       CAST(COUNT(m.left_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
FROM truth t
LEFT JOIN mh_pairs m
  ON t.left_id = m.left_id AND t.right_id = m.right_id
""",
)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality meta-check: recall of MinHash-LSH candidates (any
    band) against the exact n-gram-Jaccard ≥ 0.2 truth set. This is the
    measurement loop a 100 TB dedup run needs before trusting the sketch
    — the engine computes its own recall instead of assuming it (the
    reference's analogue is the blocking-recall harness,
    ``contrib/bench_pairs.py``)."""
    # The truth set IS dedup_ngram_jaccard's pair set (same shingles,
    # same source blocking, same ≥0.2 threshold): reuse that pipeline —
    # one bucket shuffle carrying both Jaccard denominators — instead of
    # re-deriving it as a shingle self-join + sizes join + two more
    # joins (which re-tokenized the corpus three times; round 13).
    truth = dedup_ngram_jaccard(spark, sf_dir).select("left_id", "right_id")
    lsh = _minhash_pairs(spark, sf_dir).select(
        F.col("left_id").alias("m_left"), F.col("right_id").alias("m_right")
    )
    joined = truth.join(
        lsh,
        (F.col("left_id") == F.col("m_left"))
        & (F.col("right_id") == F.col("m_right")),
        "left",
    )
    return joined.agg(
        F.count("*").alias("n_true_pairs"),
        F.count("m_left").alias("n_found_by_lsh"),
        (
            F.count("m_left").cast("double") / F.count("*").cast("double")
        ).alias("recall"),
    )


@register(
    "text_pii_scan",
    oracle=r"""
WITH enriched AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || doc_id || '@example.com now' ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END AS body
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(body,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
       len(regexp_extract_all(body, '\+?1?[- ]?555[- ][0-9]{4}')) AS n_phones,
       (len(regexp_extract_all(body,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) > 0
        OR len(regexp_extract_all(body, '\+?1?[- ]?555[- ][0-9]{4}')) > 0)
           AS has_pii
FROM enriched
""",
)
def text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection scan (emails + NANP-style phone numbers) — the
    redaction-gate pass of a training-data pipeline. The synthetic corpus
    carries no PII, so deterministic PII is injected (every 7th doc an
    email, every 11th a phone) and the detectors must find exactly those.
    Pure regexp_extract_all counts — JVM-side, embarrassingly parallel;
    at 100 TB this rides the same scan as the other quality columns."""
    docs = load(spark, sf_dir, "documents")
    body = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com now")
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" call +1-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone_re = r"\+?1?[- ]?555[- ][0-9]{4}"
    n_emails = F.size(F.regexp_extract_all(body, F.lit(email_re), F.lit(0)))
    n_phones = F.size(F.regexp_extract_all(body, F.lit(phone_re), F.lit(0)))
    return docs.select(
        "doc_id",
        n_emails.cast("long").alias("n_emails"),
        n_phones.cast("long").alias("n_phones"),
        ((n_emails > 0) | (n_phones > 0)).alias("has_pii"),
    )


@register(
    "dedup_chunk_exact",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
), chunks AS (
  SELECT doc_id, c.i AS chunk_idx,
         md5(array_to_string(list_slice(ts, c.i * 20 + 1, c.i * 20 + 20), ' ')) AS chunk_hash
  FROM toks, LATERAL (SELECT UNNEST(range((len(ts) + 19) // 20)) AS i) c
)
SELECT chunk_hash,
       COUNT(*) AS n_copies,
       MIN(doc_id) AS keeper_doc,
       COUNT(DISTINCT doc_id) AS n_docs
FROM chunks
GROUP BY chunk_hash
HAVING COUNT(*) > 1
""",
)
def dedup_chunk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level exact substring dedup: documents split into fixed
    20-token windows, each window hashed, duplicate chunks surfaced with
    the canonical keeper (min doc_id). This is the sub-document granular
    pass a pretraining pipeline runs after doc-level dedup (boilerplate
    and quotation removal).

    100 TB: explode is map-side (no shuffle to create chunks); the one
    shuffle groups by chunk hash — uniform by construction. Keeper
    selection rides the same aggregate (min), no second pass."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("ts"))
    n_chunks = F.ceil(F.size("ts") / F.lit(20)).cast("int")
    chunks = toks.select(
        "doc_id",
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("_p", "chunk_idx"),
        F.col("ts"),
    ).select(
        "doc_id",
        "chunk_idx",
        F.md5(
            F.concat_ws(
                " ", F.slice(F.col("ts"), F.col("chunk_idx") * 20 + 1, 20)
            )
        ).alias("chunk_hash"),
    )
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keeper_doc"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_copies") > 1)
    )


@register(
    "docs_length_quantiles",
    oracle="""
SELECT lang,
       COUNT(*) AS n_docs,
       ROUND(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 4) AS p50,
       ROUND(quantile_cont(CAST(n_chars AS DOUBLE), 0.9), 4) AS p90,
       ROUND(quantile_cont(CAST(n_chars AS DOUBLE), 0.99), 4) AS p99
FROM documents
GROUP BY lang
""",
)
def docs_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length profile: exact interpolated P50/P90/P99 of document
    length per language — the distribution check a data-quality report
    leads with (both engines compute linear-interpolation quantiles, so
    values match bit-for-bit after a 4-decimal round).

    100 TB: exact percentile needs the full sorted vector per group —
    fine for a bounded language set; at petabyte scale swap
    percentile → percentile_approx (t-digest, mergeable map-side) and
    keep the same plan shape."""
    docs = load(spark, sf_dir, "documents")
    pct = F.expr(
        "percentile(CAST(n_chars AS DOUBLE), array(0.5, 0.9, 0.99))"
    )
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            pct.alias("_q"),
        )
        .select(
            "lang",
            "n_docs",
            F.round(F.col("_q")[0], 4).alias("p50"),
            F.round(F.col("_q")[1], 4).alias("p90"),
            F.round(F.col("_q")[2], 4).alias("p99"),
        )
    )


@register(
    "text_top_bigrams",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
), bigrams AS (
  SELECT ts[c.i + 1] || ' ' || ts[c.i + 2] AS bigram
  FROM toks, LATERAL (SELECT UNNEST(range(len(ts) - 1)) AS i) c
)
SELECT bigram, n_occurrences FROM (
  SELECT bigram, COUNT(*) AS n_occurrences,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, bigram) AS rk
  FROM bigrams GROUP BY bigram
) WHERE rk <= 20
""",
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus collocation profile: top-20 adjacent-word bigrams — the
    vocabulary/collocation audit (and the raw counts PMI is computed
    from). Bigrams are built map-side by zipping each token array with
    itself shifted one (no self-join); ties break on the bigram string.

    100 TB: one shuffle on the bigram key with map-side partial counts;
    the global top-k compiles to TakeOrderedAndProject — each partition
    keeps only its 20 best, the driver merges 20·P rows, never a global
    single-partition sort."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.col("text"), " ").alias("ts"))
    pairs = toks.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("ts"), 1, F.greatest(F.size("ts") - 1, F.lit(0))),
                F.slice(F.col("ts"), 2, F.greatest(F.size("ts") - 1, F.lit(0))),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram")
    )
    counted = pairs.groupBy("bigram").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    return counted.orderBy(
        F.desc("n_occurrences"), F.asc("bigram")
    ).limit(20)


_BPE_WORDS_SQL = """
SELECT w, COUNT(*) AS c FROM (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
  FROM documents
) GROUP BY w
"""


#: guarded s0: every symbol boundary carries a DOUBLE delimiter
#: (chr(31) twice) so merges can never fuse characters straddling a
#: symbol boundary AND a single left-to-right replace per rank is
#: exactly greedy BPE — each match consumes only ONE of a shared
#: boundary's two delimiters, so adjacent occurrences (including
#: self-overlapping pairs like ``a a`` in a run of a's) stay matchable
#: in the same pass. See :func:`bpe_apply_merges` (the whole BPE family
#: replays this identical operation in Spark and DuckDB).
_BPE_S0_SQL = (
    "s0 AS (SELECT w, c, chr(31) || chr(31) || array_to_string("
    "list_transform(range(length(w)), i -> w[i+1]), chr(31) || chr(31)) "
    "|| chr(31) || chr(31) AS seq FROM wc),"
)


def _bpe_round_sql(n: int) -> str:
    """One BPE merge round as chained CTEs: weighted adjacent-pair counts
    over s{n-1}, argmax pair (count desc, pair asc), merged sequences.
    The merge is ONE boundary-strict replace over the double-guarded
    representation — exact greedy left-to-right for every pair shape,
    self-overlapping included (see ``bpe_apply_merges``)."""
    pat = (
        f"chr(31) || replace((SELECT pair FROM t{n}), ' ', "
        f"chr(31) || chr(31)) || chr(31)"
    )
    rep = f"chr(31) || replace((SELECT pair FROM t{n}), ' ', '') || chr(31)"
    return f"""
p{n} AS (
  SELECT pair, CAST(SUM(c) AS BIGINT) AS n FROM (
    SELECT unnest(list_transform(range(len(t) - 1),
                  i -> t[i+1] || ' ' || t[i+2])) AS pair, c
    FROM (SELECT list_filter(string_split(seq, chr(31)), x -> x <> '') AS t, c
          FROM s{n - 1})
  ) GROUP BY pair
),
t{n} AS (SELECT pair, n FROM p{n} ORDER BY n DESC, pair LIMIT 1),
s{n} AS (
  SELECT w, c, replace(seq, {pat}, {rep}) AS seq
  FROM s{n - 1}
)"""


_BPE_ORACLE = (
    "WITH wc AS (" + _BPE_WORDS_SQL + "),\n"
    + _BPE_S0_SQL
    + ",".join(_bpe_round_sql(i) for i in (1, 2, 3))
    + """
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS round, pair, replace(pair, ' ', '') AS merged, n FROM t1
  UNION ALL
  SELECT 2, pair, replace(pair, ' ', ''), n FROM t2
  UNION ALL
  SELECT 3, pair, replace(pair, ' ', ''), n FROM t3
)
"""
)


def _bpe_merge_round(s: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One BPE merge round over the (word, count, seq) table: weighted
    adjacent-pair counts, argmax pair (count desc, pair asc), and the
    merged sequences. The winning 1-row pair broadcasts into the merge
    via a column-argument replace — fully declarative, zero driver
    round-trips. Shared by the trainer (``text_bpe_train``) and the
    apply pass (``text_bpe_encode``).

    ``seq`` is the DOUBLE-DELIMITER-GUARDED symbol string (``\\x1f\\x1f``
    at every boundary) and the merge is ONE boundary-strict replace —
    same semantics as :func:`bpe_apply_merges`: exact greedy
    left-to-right BPE for every pair shape (a pair can only fuse two
    whole symbols, and adjacent occurrences — including self-
    overlapping pairs — merge in the single pass)."""
    sep = F.lit("\x1f")
    toks = F.filter(F.split(F.col("seq"), "\x1f"), lambda x: x != "")
    pairs = (
        s.filter(F.size(toks) > 1)
        .select(
            F.explode(
                F.zip_with(
                    F.slice(toks, 1, F.size(toks) - 1),
                    F.slice(toks, 2, F.size(toks) - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ).alias("pair"),
            "c",
        )
        .groupBy("pair")
        .agg(F.sum("c").cast("long").alias("n"))
    )
    top = pairs.orderBy(F.col("n").desc(), F.col("pair")).limit(1)
    # LEFT join (not crossJoin): when the vocabulary is already fully
    # merged the round has NO pairs and ``top`` is empty — a crossJoin
    # would silently drop every sequence; the left join keeps them and
    # the null-guard makes the exhausted round a no-op.
    pat = F.concat(
        sep, F.replace(F.col("pair"), F.lit(" "), F.concat(sep, sep)), sep
    )
    rep = F.concat(sep, F.replace(F.col("pair"), F.lit(" "), F.lit("")), sep)
    merged = s.join(F.broadcast(top), F.lit(True), "left").select(
        "w",
        "c",
        F.when(F.col("pair").isNull(), F.col("seq"))
        .otherwise(F.replace(F.col("seq"), pat, rep))
        .alias("seq"),
    )
    return merged, top


def _bpe_guarded_seq(word_col) -> "F.Column":
    """word → the double-guarded initial symbol string:
    ``\\x1f\\x1fa\\x1f\\x1fb\\x1f\\x1f``."""
    sep2 = "\x1f\x1f"
    return F.concat(
        F.lit(sep2), F.concat_ws(sep2, F.split(word_col, "")), F.lit(sep2)
    )


@register("text_bpe_train", oracle=_BPE_ORACLE)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three rounds of BPE merge training over the corpus vocabulary —
    the tokenizer-training primitive (count-level BPE, the classic
    trainer shape): words reduce to (word, count) ONCE, each round
    counts weighted adjacent symbol pairs, picks the argmax pair
    (count desc, pair asc tie-break) and merges it in every sequence.

    Scale shape per round: pair counting is explode + hash-agg over the
    DISTINCT-word table (vocabulary-sized, not corpus-sized — the whole
    point of count-level BPE); the winning 1-row pair broadcasts into
    the merge via a column-argument replace, so the loop stays fully
    declarative with zero driver round-trips. Real trainers run ~30k
    rounds of exactly this plan with the pair table cached and
    incrementally updated.

    The vocabulary frames are lazily localCheckpoint-ed per round
    (round 13): round k's sequences are referenced by BOTH the round-k+1
    pair count and the round-k+1 merge (and each winning pair by both
    its broadcast and the output row), so the un-cut lineage re-embeds
    the whole corpus tokenize + every earlier round once per reference —
    14 parquet scans of the corpus in one plan. Cutting lineage at the
    vocabulary-sized frames makes the corpus pass run ONCE and each
    round's pair count run once."""
    docs = load(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(_tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    seq = wc.select("w", "c", _bpe_guarded_seq(F.col("w")).alias("seq"))

    out = None
    s = seq.transform(materialize, eager=False, sever=True)
    for rnd in (1, 2, 3):
        s, top = _bpe_merge_round(s)
        s = s.transform(materialize, eager=False, sever=True)
        top = top.transform(materialize, eager=False, sever=True)
        row = top.select(
            F.lit(rnd).cast("long").alias("round"),
            "pair",
            F.replace(F.col("pair"), F.lit(" "), F.lit("")).alias("merged"),
            "n",
        )
        out = row if out is None else out.unionByName(row)
    return out


_BPE_ENCODE_ORACLE = (
    "WITH wc AS (" + _BPE_WORDS_SQL + "),\n"
    + _BPE_S0_SQL
    + ",".join(_bpe_round_sql(i) for i in (1, 2, 3))
    + """,
enc AS (
  SELECT w, (length(seq) - length(replace(seq, chr(31), ''))) // 2 - 1 AS nt
  FROM s3
),
dw AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
  FROM documents
)
SELECT dw.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(enc.nt) AS BIGINT) AS n_tokens
FROM dw JOIN enc USING (w)
GROUP BY dw.doc_id
"""
)


@register("text_bpe_encode", oracle=_BPE_ENCODE_ORACLE)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a trained BPE merge table to tokenize the corpus — the
    pass an LLM data pipeline actually runs at 100 TB once the
    tokenizer is trained (``text_bpe_train`` produces the merges; this
    spends them). Per document: ``n_words`` (pre-BPE word occurrences)
    and ``n_tokens`` (post-merge subword count) — the corpus token
    accounting that sizes training runs and drives token-budget
    sampling (``sample_token_budget``).

    Count-level discipline end-to-end: the corpus's words reduce to the
    DISTINCT-word table once, the three training rounds replay over
    that vocabulary (identical plan to the trainer —
    :func:`_bpe_merge_round`, each winning pair a broadcast 1-row
    replace), and the ENCODE is vocabulary-sized too: each distinct
    word's final symbol sequence is computed exactly once, then joined
    back to the (doc_id, word) stream. The corpus-sized side does one
    explode + one hash join on the word + one per-doc aggregation —
    no per-occurrence merge scanning, no Python. Real tokenizers apply
    ~30k merges the same way: encode the vocab, join back by word."""
    docs = load(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(_tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    # per-round lazy checkpoints: same duplicated-lineage cut as
    # text_bpe_train (each round references the prior one twice)
    s = wc.select(
        "w", "c", _bpe_guarded_seq(F.col("w")).alias("seq")
    ).transform(materialize, eager=False, sever=True)
    for _ in (1, 2, 3):
        s, _top = _bpe_merge_round(s)
        s = s.transform(materialize, eager=False, sever=True)
    # token count = separators/2 - 1 (every boundary is double-guarded)
    enc = s.select(
        "w",
        (
            (
                F.length("seq")
                - F.length(F.replace(F.col("seq"), F.lit("\x1f"), F.lit("")))
            )
            / 2
            - 1
        ).cast("int").alias("nt"),
    )
    dw = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("w")
    )
    return dw.join(enc, "w").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("nt").cast("long").alias("n_tokens"),
    )


#: Merge budget for the production-shape apply pass. ≥100 per the round-10
#: verdict; 128 keeps the DuckDB recursive replay comfortably cheap while
#: being large enough that a one-plan-layer-per-merge design would already
#: be unanalyzable (the round-10 ``text_bpe_encode`` caps out at 3).
_BPE_APPLY_K = 128

_BPE_APPLY_ORACLE = (
    "WITH RECURSIVE wc AS (" + _BPE_WORDS_SQL + """),
p AS (
  SELECT pair, CAST(SUM(c) AS BIGINT) AS n FROM (
    SELECT unnest(list_transform(range(length(w) - 1),
                  i -> w[i+1] || ' ' || w[i+2])) AS pair, c
    FROM wc
  ) GROUP BY pair
),
merges AS (
  SELECT pair, replace(pair, ' ', '') AS merged, rk FROM (
    SELECT pair, ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rk FROM p
  ) WHERE rk <= """ + str(_BPE_APPLY_K) + """
),
strict AS (
  SELECT chr(31) || string_split(pair, ' ')[1] || chr(31) || chr(31) ||
         string_split(pair, ' ')[2] || chr(31) AS pat,
         chr(31) || merged || chr(31) AS rep, rk
  FROM merges
),
apply(w, seq, rk) AS (
  SELECT w,
         chr(31) || chr(31) ||
         array_to_string(list_transform(range(length(w)), i -> w[i+1]),
                         chr(31) || chr(31)) || chr(31) || chr(31),
         0
  FROM wc
  UNION ALL
  SELECT a.w, replace(a.seq, m.pat, m.rep), a.rk + 1
  FROM apply a JOIN strict m ON m.rk = a.rk + 1
),
enc AS (
  SELECT w,
         (length(seq) - length(replace(seq, chr(31), ''))) // 2 - 1 AS nt
  FROM apply WHERE rk = (SELECT COUNT(*) FROM strict)
),
dw AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
  FROM documents
)
SELECT dw.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(enc.nt) AS BIGINT) AS n_tokens
FROM dw JOIN enc USING (w)
GROUP BY dw.doc_id
"""
)


def bpe_apply_merges(wc: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Encode the distinct-word table against a trained merge list with
    BOUNDED plan depth: one Arrow-batched ``pandas_udf`` over the
    vocabulary, the full (pair → merged) list shipped to executors in
    the UDF closure — the moral equivalent of every worker loading
    ``tokenizer.json``. Plan cost is ONE ``ArrowEvalPython`` node
    whether the list has 128 merges or 30,000; contrast the round-10
    ``text_bpe_encode``, which spends one declarative plan layer per
    merge round and therefore cannot reach a production merge budget
    (Catalyst analysis blows up long before the data does).

    Semantics (round 13): BOUNDARY-STRICT merge replay — real
    tokenizer equivalence, self-overlapping pairs included. Every
    symbol boundary carries a DOUBLE delimiter
    (``\\x1f\\x1f a \\x1f\\x1f b \\x1f\\x1f``) and each rank applies as
    ONE left-to-right non-overlapping replace of
    ``\\x1f a \\x1f\\x1f b \\x1f`` → ``\\x1f ab \\x1f``: a merge can only
    fuse two symbols that are EXACTLY the pair (never characters
    straddling a symbol boundary), and because a match consumes only
    ONE of a shared boundary's two delimiters, the next adjacent
    occurrence stays matchable in the same pass — exact greedy
    left-to-right BPE (subword-nmt's lookaround-regex semantics). The
    round-12 single-delimiter double-replace was exact for distinct
    pairs but mis-paired self-overlapping merges (``a a`` over a run of
    five or more a's skipped every third occurrence); the double-guard
    single replace pairs runs leftmost-greedy like a real tokenizer.
    The DuckDB oracle replays the identical guarded replace, so a
    boundary bug on either side fails the hash.

    Returns (w, nt): each distinct word's post-merge subword count.
    """
    from pyspark.sql.functions import pandas_udf

    sep = "\x1f"
    guarded = [
        (sep + pair.replace(" ", sep + sep) + sep, sep + merged + sep)
        for pair, merged in merges
    ]

    @pandas_udf("long")
    def _bpe_len(words):  # type: ignore[no-untyped-def]
        def enc(w: str) -> int:
            seq = sep + sep + (sep + sep).join(w) + sep + sep
            for pat, rep in guarded:
                if pat in seq:
                    seq = seq.replace(pat, rep)
            return seq.count(sep) // 2 - 1

        return words.map(enc)

    return wc.select("w", _bpe_len(F.col("w")).alias("nt"))


@register("text_bpe_apply", oracle=_BPE_APPLY_ORACLE)
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION-SHAPE BPE encode (round-11; the round-10 verdict's
    "What's wrong #2"): consume a trained merge TABLE and apply all
    {K} merges at bounded plan depth, instead of re-deriving each merge
    as its own declarative plan layer (``text_bpe_encode``, which is
    structurally capped at a handful of rounds).

    Three-stage shape, every stage sized for 100 TB:

    1. MERGE TABLE ({K} rows): weighted adjacent-symbol-pair counts over
       the distinct-word vocabulary (explode + hash-agg, vocabulary-
       sized), top-{K} by (count desc, pair asc) via
       ``TakeOrderedAndProject`` — each partition keeps its best {K},
       no global sort — then ranks assigned on the {K}-row artifact.
       The ``collect()`` here is the bounded model-artifact load every
       real tokenizer performs (merge tables are kilobytes; production
       loads the table a trainer persisted rather than deriving it —
       :func:`bpe_apply_merges` takes the list either way, and
       ``tools/scale_bpe_apply.py`` exercises exactly that persisted-
       table path at sf1 with merge budgets up to 4096).
    2. VOCAB ENCODE: one Arrow-batched ``pandas_udf`` over the DISTINCT
       words (:func:`bpe_apply_merges`) — the vocabulary is the small
       side by construction, so the Python loop touches V words once,
       never the corpus; plan depth stays ONE ``ArrowEvalPython`` node
       regardless of merge count.
    3. CORPUS ACCOUNTING: the corpus-sized side is unchanged from
       ``text_bpe_encode`` — one explode + one hash join on the word +
       one per-doc aggregation; no per-occurrence merge scanning.

    The DuckDB oracle replays the same {K} sequential replaces with a
    recursive CTE joined to the ranked merge table — value-exact, so a
    drifted rank order, a missed merge, or a boundary bug in the UDF
    fails the hash.
    """
    docs = load(spark, sf_dir, "documents")
    # lazy checkpoint: wc feeds BOTH the merge-table derivation (whose
    # collect() below materializes it) and the vocab encode — without the
    # cut the corpus tokenize + word count runs twice
    wc = (
        docs.select(F.explode(_tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .transform(materialize, eager=False)
    )
    chars = F.split(F.col("w"), "")
    pairs = (
        wc.filter(F.length("w") > 1)
        .select(
            F.explode(
                F.zip_with(
                    F.slice(chars, 1, F.size(chars) - 1),
                    F.slice(chars, 2, F.size(chars) - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ).alias("pair"),
            "c",
        )
        .groupBy("pair")
        .agg(F.sum("c").cast("long").alias("n"))
    )
    top = pairs.orderBy(F.col("n").desc(), F.col("pair")).limit(_BPE_APPLY_K)
    # Bounded model-artifact load: ≤ _BPE_APPLY_K rows (the merge table a
    # tokenizer trainer persists), sorted into rank order driver-side.
    rows = top.collect()
    merges = [
        (r["pair"], r["pair"].replace(" ", ""))
        for r in sorted(rows, key=lambda r: (-r["n"], r["pair"]))
    ]
    enc = bpe_apply_merges(wc, merges)
    dw = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("w"))
    return dw.join(enc, "w").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("nt").cast("long").alias("n_tokens"),
    )


@register(
    "text_pii_redact",
    oracle=r"""
WITH injected AS (
  SELECT doc_id,
         text ||
         CASE WHEN doc_id % 7 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
         CASE WHEN doc_id % 11 = 0 THEN ' call 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-1234' ELSE '' END
         AS body
  FROM documents
),
redacted AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(body, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                          '<EMAIL>', 'g'),
           '\d{3}-\d{4}-\d{4}|\d{3}-\d{2,4}-\d{4}', '<PHONE>', 'g') AS body
  FROM injected
)
SELECT doc_id,
       md5(body) AS redacted_md5,
       length(body) - length(replace(body, '<EMAIL>', '')) > 0 AS had_email,
       length(body) - length(replace(body, '<PHONE>', '')) > 0 AS had_phone
FROM redacted
""",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII REDACTION (the transform half of the scan/redact pair): emails
    and phone-shaped tokens replace with typed placeholders in one
    map-only regexp pass — the pre-training privacy scrub. Deterministic
    PII is injected first (same scheme as ``text_pii_scan``); the oracle
    replays injection + redaction and compares content digests, so a
    missed or mangled replacement fails the hash."""
    docs = load(spark, sf_dir, "documents")
    body = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" call 555-01"),
                F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
                F.lit("-1234"),
            ),
        ).otherwise(F.lit("")),
    )
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone_re = r"\d{3}-\d{4}-\d{4}|\d{3}-\d{2,4}-\d{4}"
    red = F.regexp_replace(
        F.regexp_replace(body, email_re, "<EMAIL>"), phone_re, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.md5(red).alias("redacted_md5"),
        red.contains("<EMAIL>").alias("had_email"),
        red.contains("<PHONE>").alias("had_phone"),
    )


@register(
    "text_gopher_rules",
    oracle=r"""
WITH t AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
         length(text) AS n_chars,
         length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS n_symbols,
         length(regexp_replace(text, '[^#]', '', 'g')) AS n_hash,
         length(regexp_replace(text, '[^.]', '', 'g')) AS n_dots
  FROM documents
),
m AS (
  SELECT doc_id, len(toks) AS n_words,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(len(list_filter(toks, x -> length(x) > 10)) AS DOUBLE)
                   / len(toks) END AS long_word_ratio,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE list_sum(list_transform(toks, x -> CAST(length(x) AS DOUBLE)))
                   / len(toks) END AS mean_word_len,
         CASE WHEN n_chars = 0 THEN 0.0
              ELSE CAST(n_symbols AS DOUBLE) / n_chars END AS symbol_ratio,
         CASE WHEN n_chars = 0 THEN 0.0
              ELSE CAST(n_hash + n_dots AS DOUBLE) / n_chars END AS hash_dot_ratio
  FROM t
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_word_len,
       long_word_ratio, symbol_ratio,
       (n_words >= 50 AND n_words <= 100000
        AND mean_word_len >= 3 AND mean_word_len <= 10
        AND symbol_ratio <= 0.1 AND hash_dot_ratio <= 0.1
        AND long_word_ratio <= 0.1) AS keep
FROM m
""",
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules (the Rae et al. 2021 /
    MassiveText filter family every pretraining pipeline reimplements):
    word-count bounds, mean-word-length window, symbol-to-char and
    #/ellipsis ratios, over-long-word ratio — composed into one keep
    verdict, all computed in a single map-only JVM pass (one regex
    tokenization shared by every rule). Mirrors ``text_quality``'s scan
    shape; at 100 TB this is a zero-shuffle filter stage."""
    docs = load(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n_words = F.size(toks)
    n_chars = F.length(F.col("text"))
    n_symbols = F.length(
        F.regexp_replace(F.col("text"), r"[A-Za-z0-9\s]", "")
    )
    n_hash = F.length(F.regexp_replace(F.col("text"), r"[^#]", ""))
    n_dots = F.length(F.regexp_replace(F.col("text"), r"[^.]", ""))
    total_len = F.aggregate(
        F.transform(toks, lambda x: F.length(x).cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    mean_word_len = F.when(n_words == 0, F.lit(0.0)).otherwise(
        total_len / n_words
    )
    long_word_ratio = F.when(n_words == 0, F.lit(0.0)).otherwise(
        F.size(F.filter(toks, lambda x: F.length(x) > 10)).cast("double")
        / n_words
    )
    symbol_ratio = F.when(n_chars == 0, F.lit(0.0)).otherwise(
        n_symbols.cast("double") / n_chars
    )
    hash_dot_ratio = F.when(n_chars == 0, F.lit(0.0)).otherwise(
        (n_hash + n_dots).cast("double") / n_chars
    )
    keep = (
        (n_words >= 50) & (n_words <= 100000)
        & (mean_word_len >= 3) & (mean_word_len <= 10)
        & (symbol_ratio <= 0.1) & (hash_dot_ratio <= 0.1)
        & (long_word_ratio <= 0.1)
    )
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        long_word_ratio.alias("long_word_ratio"),
        symbol_ratio.alias("symbol_ratio"),
        keep.alias("keep"),
    )


@register(
    "mixture_temperature",
    oracle="""
WITH sizes AS (
  SELECT source, COUNT(*) AS n FROM documents GROUP BY source
),
weighted AS (
  SELECT source, n,
         CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS weight_q
  FROM sizes
),
tot AS (SELECT SUM(weight_q) AS tw FROM weighted)
SELECT w.source, CAST(w.n AS BIGINT) AS n_docs, w.weight_q,
       CAST((1000 * w.weight_q) // t.tw AS BIGINT) AS quota,
       CAST(LEAST((1000 * w.weight_q) // t.tw, w.n) AS BIGINT) AS n_kept
FROM weighted w CROSS JOIN tot t
""",
)
def mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture reweighting (α = 0.5): per-source
    sampling quotas ∝ n^α out of a 1000-document budget — the standard
    multi-source balancing of multilingual/multi-domain pretraining
    (up-samples small sources, damps giants; α=1 is proportional, α=0
    uniform). Weights quantize to integer micro-units after the
    correctly-rounded IEEE sqrt, so the quota division is exact integer
    math in both engines. One groupBy + one broadcast of the tiny
    totals frame; the actual document selection reuses the
    ``mixture_cap_per_source`` md5-rank pattern with these quotas as
    the per-source k."""
    docs = load(spark, sf_dir, "documents")
    sizes = docs.groupBy("source").agg(F.count("*").alias("n"))
    weighted = sizes.select(
        "source",
        "n",
        F.floor(F.sqrt(F.col("n").cast("double")) * 1000000)
        .cast("long")
        .alias("weight_q"),
    )
    tot = weighted.agg(F.sum("weight_q").alias("tw"))
    quota = F.expr("(1000 * weight_q) div tw")
    return (
        weighted.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n").cast("long").alias("n_docs"),
            "weight_q",
            quota.cast("long").alias("quota"),
            F.least(quota, F.col("n")).cast("long").alias("n_kept"),
        )
    )


@register(
    "dedup_url_canonical",
    oracle="""
WITH canon AS (
  SELECT doc_id, source,
         'https://' || source || '.test/doc/' || (doc_id // 3) AS canonical_url
  FROM documents
)
SELECT doc_id, canonical_url,
       MIN(doc_id) OVER (PARTITION BY canonical_url) AS keeper_id,
       doc_id = MIN(doc_id) OVER (PARTITION BY canonical_url) AS is_keeper
FROM canon
""",
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the crawl-frontier primitive: mirror
    variants of one page (tracking params, host case, ``www.``, default
    ports, trailing slashes) collapse to one canonical URL, keeper = min
    doc_id. The synthetic corpus gets three mirror shapes per canonical
    page; the ORACLE computes the canonical form arithmetically, so the
    regex canonicalizer (``functions/urls.py``) is checked against
    ground truth, not against itself. Map-only canonicalization + one
    window — the same shape as exact dedup at 100 TB."""
    from opensanctions_spark.functions.urls import canonicalize_url

    docs = load(spark, sf_dir, "documents")
    base = F.concat(
        F.col("source"), F.lit(".test/doc/"), (F.col("doc_id") / 3).cast("long")
    )
    # three mirror shapes per canonical page; the %3==2 variant uppercases
    # only scheme/host (the parts canonicalization folds) — URL paths are
    # case-sensitive and must survive untouched
    messy = (
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("https://"), base))
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("https://"), base, F.lit("/?utm_source=feed")),
        )
        .otherwise(
            F.concat(
                F.lit("HTTPS://WWW."),
                F.upper(F.col("source")),
                F.lit(".TEST:443/doc/"),
                (F.col("doc_id") / 3).cast("long"),
            )
        )
    )
    canon = canonicalize_url(messy)
    from pyspark.sql import Window

    w = Window.partitionBy(canon)
    return docs.select(
        "doc_id",
        canon.alias("canonical_url"),
        F.min("doc_id").over(w).alias("keeper_id"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_keeper"),
    )


@register(
    "text_mojibake_scan",
    oracle="""
WITH injected AS (
  SELECT doc_id,
         text ||
         CASE WHEN doc_id % 13 = 0
              THEN ' caf' || chr(195) || chr(169) ELSE '' END ||
         CASE WHEN doc_id % 17 = 0
              THEN ' x' || chr(65533) || 'y' ELSE '' END AS body
  FROM documents
)
SELECT doc_id,
       CAST(length(body) - length(replace(body, chr(65533), ''))
            AS BIGINT) AS n_replacement,
       CAST(len(regexp_extract_all(body,
            chr(195) || '[' || chr(128) || '-' || chr(191) || ']'))
            AS BIGINT) AS n_latin1_utf8,
       (length(body) - length(replace(body, chr(65533), '')) > 0
        OR len(regexp_extract_all(body,
             chr(195) || '[' || chr(128) || '-' || chr(191) || ']')) > 0)
           AS suspect
FROM injected
""",
)
def text_mojibake_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    '''Encoding-damage scan: U+FFFD replacement characters (byte-level
    corruption) and latin1-decoded-UTF-8 pair signatures (the classic
    mojibake shape) -- the charset-hygiene gate of web-corpus curation,
    one map-only regex pass. Deterministic damage is injected (docs %13
    get a mojibake pair, %17 a replacement char) so the detectors must
    find exactly those.'''
    docs = load(spark, sf_dir, "documents")
    body = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 13 == 0, F.lit(" caf\u00c3\u00a9")
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 17 == 0, F.lit(" x\ufffdy")
        ).otherwise(F.lit("")),
    )
    n_repl = F.length(body) - F.length(
        F.regexp_replace(body, "\ufffd", "")
    )
    n_pair = F.size(
        F.regexp_extract_all(
            body, F.lit("\u00c3[\u0080-\u00bf]"), F.lit(0)
        )
    )
    return docs.select(
        "doc_id",
        n_repl.cast("long").alias("n_replacement"),
        n_pair.cast("long").alias("n_latin1_utf8"),
        ((n_repl > 0) | (n_pair > 0)).alias("suspect"),
    )


@register(
    "dedup_minhash_capped",
    oracle=f"""
WITH shingles AS ({_SHINGLES_SQL}),
perms AS (SELECT unnest(range(8)) AS k),
minhash AS (
  SELECT doc_id, k,
         MIN(substr(md5(shingle), k * 3 + 1, 8)) AS mh
  FROM shingles CROSS JOIN perms
  GROUP BY doc_id, k
),
bucket_sizes AS (
  SELECT k, mh, COUNT(*) AS n FROM minhash GROUP BY k, mh
),
kept AS (
  SELECT m.doc_id, m.k, m.mh FROM minhash m
  JOIN bucket_sizes s ON m.k = s.k AND m.mh = s.mh
  WHERE s.n <= 8
)
SELECT a.doc_id AS left_id, b.doc_id AS right_id,
       COUNT(*) AS n_bands
FROM kept a JOIN kept b
  ON a.k = b.k AND a.mh = b.mh AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
""",
)
def dedup_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate generation WITH the stop-band cap engaged
    (max_bucket_size=8): band buckets above the cap are boilerplate
    carrying no discriminative signal and are dropped BEFORE pair
    expansion, bounding worst-case pair cost to O(buckets × cap²) — the
    skew knob every web-scale dedup needs. The oracle replays the
    bucket-size filter, so the cap's exact pair-set semantics (not just
    a count) are verified."""
    return minhash_pairs_of(
        shingle_arrays_of(load(spark, sf_dir, "documents")),
        max_bucket_size=8,
    )


@register(
    "search_bm25",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl
),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
q AS (SELECT unnest(['hash', 'merge', 'vector']) AS term),
term_scores AS (
  SELECT tf.doc_id,
         CAST(
           CAST(((tf.tf * 2200000) * 1000000
              // (tf.tf * 1000000 + 300000
                  + (9 * (dl.dl * 1000000000000
                          // (stats.sum_dl * 1000000 // stats.n_docs))) // 10))
             AS HUGEINT)
           * ((2 * stats.n_docs - 2 * df.df + 1) * 1000000 // (2 * df.df + 1))
           // 1000000
         AS BIGINT) AS score_micro
  FROM tf
  JOIN q USING (term)
  JOIN df USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
),
totals AS (
  SELECT doc_id, CAST(SUM(score_micro) AS BIGINT) AS score_micro
  FROM term_scores GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, score_micro,
         row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rank
  FROM totals
)
SELECT doc_id, score_micro, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 20
""",
)
def search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking over the inverted index (k1=1.2, b=0.75): the search
    primitive one layer above ``search_inverted_index``'s count scoring —
    tf saturation, rational Robertson idf, and document-length
    normalization against the corpus mean.

    Determinism discipline: every factor is integer-ppm arithmetic
    (``div`` chains — the k-means micro-unit trick), so the multi-term
    sum is an exact BIGINT in any order and the cross-engine hash check
    never touches libm; production relaxes idf to the usual
    ``ln(1 + (N-df+.5)/(df+.5))`` by swapping one column expression.

    Shape at scale (round-4 restructure, VERDICT r3 task 2): a search
    engine never shuffles the corpus — only the POSTINGS OF THE QUERY
    TERMS. The token array is filtered to the query terms row-wise
    BEFORE the explode, so the (doc, term) aggregation — the only
    shuffle proportional to matches — carries query-term occurrences
    only, with the per-doc length ``dl`` computed as ``size(tokens)`` in
    the same projection and carried THROUGH the explode (no
    length-normalization join at all). ``df``, ``n_docs`` and ``sum_dl``
    all come out of ONE single-row corpus aggregation (``array_contains``
    per query term is row-wise), broadcast onto the per-doc frame. The
    old shape aggregated tf/dl over the FULL token stream (two
    corpus-wide shuffles) and joined three ways before the query filter
    pruned 99%+ of it — 18.3× DuckDB at sf0.1; this shape's only
    full-corpus work is the map-only stats pass. Per-document tf for the
    bounded query list is one conditional groupBy(doc_id) aggregate
    (r13: replaced the groupBy(doc, term) + per-term count window +
    regroup chain — two exchanges fewer, 28 → 21 plan operators). Final
    top-k is orderBy+limit — TakeOrderedAndProject (per-partition heads
    + one 20-row merge), not a single-partition global window sort."""
    docs = load(spark, sf_dir, "documents")
    q_terms = ["hash", "merge", "vector"]
    toks_arr = _tokens(F.col("text"))
    # one tokenize pass feeds both: query-term postings (exploded) and dl
    proj = docs.select(
        "doc_id",
        F.size(toks_arr).cast("long").alias("dl"),
        F.filter(toks_arr, lambda x: x.isin(*q_terms)).alias("_qtoks"),
    )
    # explode_outer + null filter per the house rule: a plain explode of
    # the computed array infers a size(_qtoks) > 0 filter that Catalyst
    # pushes below the parallelism repartition onto the (single-split)
    # parquet scan task — the whole corpus was being tokenized
    # single-threaded before the spread (r13 plan audit: the inferred
    # filter re-ran regexp_extract_all at the scan).
    postings = proj.select(
        "doc_id", "dl", F.explode_outer("_qtoks").alias("term")
    ).filter(F.col("term").isNotNull())
    # ONE corpus pass for every global factor (r13): doc count, total
    # length, AND the per-term document frequencies — array_contains is
    # row-wise, so df needs neither a tf-frame self-reference (which
    # would re-execute the postings subtree) nor the old per-term count
    # window (one exchange of the tf frame, gone from the plan).
    stats = proj.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *[
            F.sum(F.array_contains("_qtoks", t).cast("long")).alias(f"df_{i}")
            for i, t in enumerate(q_terms)
        ],
    )
    # per-document tf for the (bounded, tiny) query-term list as
    # conditional aggregates of ONE groupBy(doc_id) — replaces the old
    # groupBy(doc_id, term) + term-window + groupBy(doc_id) chain: the
    # postings cross the wire once, keyed on the doc, and the per-term
    # sum/window/total-regroup collapse into the same exchange.
    tf3 = postings.groupBy("doc_id").agg(
        F.first("dl").alias("dl"),
        *[
            F.sum(F.when(F.col("term") == t, 1).otherwise(0)).alias(f"tf_{i}")
            for i, t in enumerate(q_terms)
        ],
    )

    # the tf-part × idf product is widened to DECIMAL(38,0) (HUGEINT on
    # the oracle side): for a rare term (df≈1) the idf factor is
    # ~n_docs·6.7e5, so the int64 product would overflow past ~6M
    # documents — far below target corpus size. A term the doc does not
    # contain contributes exactly 0, matching its absent row in the old
    # (doc, term) tf frame.
    def _term_score(i: int) -> str:
        return (
            f"CASE WHEN tf_{i} > 0 THEN "
            f"CAST(CAST(((tf_{i} * 2200000) * 1000000"
            f" div (tf_{i} * 1000000 + 300000"
            "      + (9 * (dl * 1000000000000"
            "              div (sum_dl * 1000000 div n_docs))) div 10))"
            " AS DECIMAL(38,0))"
            f" * ((2 * n_docs - 2 * df_{i} + 1) * 1000000 div (2 * df_{i} + 1))"
            " div 1000000 AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END"
        )

    score_sum = " + ".join(_term_score(i) for i in range(len(q_terms)))
    totals = (
        tf3.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.expr(f"CAST({score_sum} AS BIGINT)").alias("score_micro"),
        )
    )
    top = totals.orderBy(F.col("score_micro").desc(), "doc_id").limit(20)
    # rank window runs AFTER the limit — 20 rows, one partition, free
    w = Window.orderBy(F.col("score_micro").desc(), "doc_id")
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def _quality_margin(docs: DataFrame) -> DataFrame:
    """(doc_id, margin_ppm) — the shared linear-classifier projection for
    the classifier and the weighted sampler (one definition, so a weight
    tweak can never make the two disagree about what "quality" means).
    Integer-ppm arithmetic keeps the decision boundary exact on both
    engines; production swaps in learned float weights + a sigmoid — the
    plan shape is identical, one projection."""
    toks = _tokens(F.col("text"))
    n_tokens = F.size(toks).cast("long")
    n_stop = F.size(
        F.filter(toks, lambda x: x.isin("the", "a", "and", "of", "to", "in"))
    ).cast("long")
    margin = (
        F.lit(4) * F.expr("n_stop * 1000000 div n_tokens")
        + F.expr("least(n_tokens, 200) * 1000000 div 200")
        - F.lit(500000)
    )
    return docs.select(
        "doc_id", n_tokens.alias("n_tokens"), n_stop.alias("n_stop")
    ).select("doc_id", margin.cast("long").alias("margin_ppm"))


_CLS_FEATURES_SQL = """
  SELECT doc_id,
    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
    len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
        x -> x IN ('the', 'a', 'and', 'of', 'to', 'in'))) AS n_stop
  FROM documents
"""


@register(
    "text_quality_classifier",
    oracle=f"""
WITH t AS ({_CLS_FEATURES_SQL})
SELECT doc_id,
       CAST(4 * (n_stop * 1000000 // n_tokens)
            + (least(n_tokens, 200) * 1000000 // 200)
            - 500000 AS BIGINT) AS margin_ppm,
       (4 * (n_stop * 1000000 // n_tokens)
            + (least(n_tokens, 200) * 1000000 // 200)
            - 500000) > 0 AS keep
FROM t
""",
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: a fixed linear classifier (the
    fasttext-style stage a curation cascade runs AFTER the Gopher rules)
    applied as pure column math — one scan, map-only, no shuffle, no UDF.
    Features: stopword ratio (fluency proxy) and saturating length; see
    ``_quality_margin`` for the shared scoring projection."""
    scored = _quality_margin(load(spark, sf_dir, "documents"))
    return scored.select(
        "doc_id", "margin_ppm", (F.col("margin_ppm") > 0).alias("keep")
    )


@register(
    "sample_quality_weighted",
    oracle=f"""
WITH t AS ({_CLS_FEATURES_SQL}),
scored AS (
  SELECT doc_id,
         CAST(4 * (n_stop * 1000000 // n_tokens)
              + (least(n_tokens, 200) * 1000000 // 200)
              - 500000 AS BIGINT) AS margin_ppm
  FROM t
)
SELECT doc_id, margin_ppm
FROM scored JOIN documents USING (doc_id)
WHERE margin_ppm > 0 OR {_MD5_BUCKET100_SQL} < 25
""",
)
def sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted downsampling: classifier-positive documents are
    kept outright, the low-quality tail at a deterministic 25% via the
    same content-independent md5 bucketing as the split/stratified
    samplers — a document never flips buckets as the corpus grows, and
    the whole disposition stays map-only (classifier margin + hash
    predicate in one projection, zero shuffles). The mixing stage a
    curation pipeline runs between filtering and packing."""
    scored = _quality_margin(load(spark, sf_dir, "documents"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 100
    )
    return (
        scored.filter((F.col("margin_ppm") > 0) | (bucket < 25))
        .select("doc_id", "margin_ppm")
    )


def minhash_star_edges(shingles: DataFrame) -> DataFrame:
    """Star-contracted LSH candidate edges: within each band bucket, every
    member connects to the bucket's MINIMUM doc_id instead of every other
    member. Connectivity is preserved exactly (a star spans the bucket's
    clique), but edge count is Σ(bucket−1) ≤ bands·n — LINEAR in the
    corpus, where pair expansion is Σ bucket² and measured 9.6× growth on
    3× data (duplicate clusters densify quadratically). This is the
    clustering-first regime: any band collision is an edge, so there is
    no per-pair agreeing-band count — use ``minhash_pairs_of`` (with its
    stop-band cap) when the ≥k-bands threshold matters more than
    unbounded cluster sizes."""
    bands = minhash_bands_of(shingles)
    w = Window.partitionBy("k", "mh")
    return (
        bands.withColumn("root", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("root"))
        .select(
            F.col("root").alias("left_id"), F.col("doc_id").alias("right_id")
        )
        .distinct()
    )


@register(
    "dedup_near_cluster_star",
    oracle=f"""
WITH RECURSIVE {_MINHASH_BANDS_SQL.strip()},
roots AS (SELECT k, mh, MIN(doc_id) AS root FROM minhash GROUP BY k, mh),
edges AS (
  SELECT DISTINCT r.root AS left_id, m.doc_id AS right_id
  FROM minhash m JOIN roots r USING (k, mh)
  WHERE m.doc_id <> r.root
),
sym AS (
  SELECT left_id AS a, right_id AS b FROM edges
  UNION SELECT right_id, left_id FROM edges
),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
comp AS (SELECT a AS node, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a)
SELECT d.doc_id,
       COALESCE(c.component, d.doc_id) AS canonical_id,
       COALESCE(c.component, d.doc_id) = d.doc_id AS is_keeper
FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
""",
)
def dedup_near_cluster_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clustering at unbounded cluster size: star-contracted
    band edges (see ``minhash_star_edges`` — linear edge count where pair
    expansion grows quadratically inside duplicate clusters) → the same
    pointer-jumping connected components → canonical keeper per cluster.
    The any-band-collision clustering rule is deliberately more
    aggressive than ``dedup_near_cluster``'s ≥4-bands threshold: this is
    the shape for boilerplate-heavy web corpora where the threshold
    variant's stop-band cap would otherwise drop entire mega-clusters.

    Oracle scale note: the DuckDB twin above (the driver gate) recomputes
    components with a transitive closure — exact but O(cluster²) reach
    rows, so it is gate-scale-only. At sf1+ the EXACT check is
    ``tools/check_star_oracle.py`` (round 4): DuckDB re-derives the star
    edges and recomputes min-label components by ITERATED linear
    propagation (one join+groupBy per round, state one row per node,
    converges in diameter rounds — 7 at sf1/sf3), compared bit-for-bit
    against this query's output. Verified exact at sf0.01, sf1 (50k
    docs, 7 mega-clusters) and sf3 (150k docs)."""
    from opensanctions_spark.operators.resolve import connected_components

    docs = load(spark, sf_dir, "documents")
    edges = minhash_star_edges(shingle_arrays_of(docs))
    cc = connected_components(
        edges, src="left_id", dst="right_id", distinct_edges=False
    )
    mapping = cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("_canon")
    )
    return (
        docs.select("doc_id")
        .join(mapping, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_canon"), F.col("doc_id")).alias("canonical_id"),
            (F.coalesce(F.col("_canon"), F.col("doc_id")) == F.col("doc_id")).alias(
                "is_keeper"
            ),
        )
    )


@register(
    "chunk_documents",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
  FROM documents
),
sized AS (
  SELECT doc_id, toks, len(toks) AS n FROM toks WHERE len(toks) > 0
),
offsets AS (
  SELECT doc_id, toks, n, unnest(range(0, n, 48)) AS off FROM sized
)
SELECT doc_id,
       CAST(off // 48 AS BIGINT) AS chunk_id,
       array_to_string(list_slice(toks, off + 1, off + 64), ' ') AS chunk_text,
       CAST(least(64, n - off) AS BIGINT) AS n_tokens
FROM offsets
WHERE off = 0 OR off < n - 16
""",
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window document chunking (retrieval/RAG prep): each
    document becomes 64-token windows at stride 48 (16-token overlap so
    no sentence is orphaned at a boundary) — the stage between curation
    and embedding in a retrieval pipeline, and the dual of
    ``pack_sequences`` (packing concatenates docs INTO windows; chunking
    splits docs ACROSS windows).

    Map-only: tokens, per-doc offset explode, slice + join — zero
    shuffles, so chunking a 100 TB corpus is pure scan throughput.
    explode_outer + null filter per the house rule (plain explode of a
    computed array re-evaluates the tokenizer through the inferred
    size() filter)."""
    docs = load(spark, sf_dir, "documents")
    toks = F.expr(r"regexp_extract_all(text, '\\S+', 0)")
    sized = docs.select("doc_id", toks.alias("toks"))
    # token-less documents are dropped by the off-null filter below, NOT
    # by an explicit size(toks) > 0 filter: Catalyst substitutes such a
    # filter back to size(regexp_extract_all(...)) > 0 and pushes it
    # below the parallelism repartition onto the single-split scan task,
    # tokenizing the whole corpus single-threaded (r13 plan audit). The
    # when() guard keeps sequence() off the empty-array error path and
    # yields NULL, which explode_outer carries through.
    out = sized.select(
        "doc_id",
        "toks",
        F.size("toks").alias("n"),
        F.explode_outer(
            F.when(
                F.size("toks") > 0,
                F.sequence(F.lit(0), F.size("toks") - 1, F.lit(48)),
            )
        ).alias("off"),
    ).filter(F.col("off").isNotNull())
    # drop a trailing window fully contained in its predecessor (the
    # previous window already covers through off+16, so a start past
    # n-16 adds no tokens — without this, ~1/3 of documents emit a
    # duplicate sub-chunk that would be embedded and retrieved twice)
    out = out.filter((F.col("off") == 0) | (F.col("off") < F.col("n") - 16))
    return out.select(
        "doc_id",
        F.expr("CAST(off div 48 AS BIGINT)").alias("chunk_id"),
        F.array_join(F.slice("toks", F.col("off") + 1, F.lit(64)), " ").alias(
            "chunk_text"
        ),
        F.least(F.lit(64), F.col("n") - F.col("off")).cast("long").alias("n_tokens"),
    )


@register(
    "sample_token_budget",
    oracle=f"""
WITH t AS ({_CLS_FEATURES_SQL}),
scored AS (
  SELECT doc_id, n_tokens,
         CAST(4 * (n_stop * 1000000 // n_tokens)
              + (least(n_tokens, 200) * 1000000 // 200)
              - 500000 AS BIGINT) AS margin_ppm
  FROM t
),
ordered AS (
  SELECT doc_id, n_tokens, margin_ppm,
         SUM(n_tokens) OVER (ORDER BY margin_ppm DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM scored
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, margin_ppm,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM ordered WHERE cum_tokens <= 20000
""",
)
def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget data selection: keep the highest-quality documents
    (classifier margin, ties by doc_id) until a total token budget is
    exhausted — the greedy quality-per-token selection a budgeted
    pretraining mix runs after filtering ("best 20k tokens of this
    source"). One global sort + running sum; at 100 TB the sort is
    range-partitioned (Spark's global orderBy) and everything after is
    window-local. Shares the classifier's margin projection so selection
    and filtering can never disagree about quality."""
    docs = load(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    scored = _quality_margin(docs).join(
        docs.select("doc_id", F.size(toks).cast("long").alias("n_tokens")),
        "doc_id",
    )
    w = (
        Window.orderBy(F.col("margin_ppm").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        scored.withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("long"))
        .filter(F.col("cum_tokens") <= 20000)
        .select("doc_id", "n_tokens", "margin_ppm", "cum_tokens")
    )


@register(
    "text_vocab_coverage",
    oracle="""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
),
freq AS (SELECT term, COUNT(*) AS n FROM toks GROUP BY term),
total AS (SELECT CAST(SUM(n) AS BIGINT) AS total_tokens FROM freq),
ranked AS (
  SELECT term, n,
         row_number() OVER (ORDER BY n DESC, term) AS vocab_rank,
         SUM(n) OVER (ORDER BY n DESC, term
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM freq
)
SELECT CAST(vocab_rank AS BIGINT) AS vocab_rank, term, CAST(n AS BIGINT) AS n,
       CAST(cum * 1000000 // total_tokens AS BIGINT) AS coverage_ppm
FROM ranked CROSS JOIN total
WHERE vocab_rank <= 100 OR (cum - n) * 1000000 // total_tokens < 950000
""",
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary coverage curve: terms by corpus frequency with
    the cumulative share of all token occurrences each prefix of the
    vocabulary covers — the analysis that sizes a tokenizer's vocab
    ("how many types reach 95% of tokens"). Emits the top-100 plus every
    term needed before the running coverage crosses 95% (the WHERE keeps
    the first term AT/past the threshold because the bound tests the
    coverage BEFORE the term). Integer-ppm shares — exact on both
    engines. One term aggregation + one range-partitioned sort window;
    the 1-row total broadcasts."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_tokens(F.col("text"))).alias("term"))
    freq = toks.groupBy("term").agg(F.count("*").alias("n"))
    total = freq.agg(F.sum("n").cast("long").alias("total_tokens"))
    w = Window.orderBy(F.col("n").desc(), "term")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = (
        freq.withColumn("vocab_rank", F.row_number().over(w).cast("long"))
        .withColumn("cum", F.sum("n").over(wc))
        .crossJoin(F.broadcast(total))
    )
    return (
        ranked.filter(
            (F.col("vocab_rank") <= 100)
            | (
                F.expr("(cum - n) * 1000000 div total_tokens") < 950000
            )
        )
        .select(
            "vocab_rank",
            "term",
            F.col("n").cast("long").alias("n"),
            F.expr("CAST(cum * 1000000 div total_tokens AS BIGINT)").alias(
                "coverage_ppm"
            ),
        )
    )


@register(
    "text_oov_rate",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
),
freq AS (SELECT term, COUNT(*) AS n FROM toks GROUP BY term),
vocab AS (
  SELECT term FROM (
    SELECT term, row_number() OVER (ORDER BY n DESC, term) AS rk FROM freq
  ) WHERE rk <= 20
),
per_doc AS (
  SELECT t.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov
  FROM toks t LEFT JOIN vocab v USING (term)
  GROUP BY t.doc_id
)
SELECT doc_id, n_tokens, n_oov,
       CAST(n_oov * 1000000 // n_tokens AS BIGINT) AS oov_ppm
FROM per_doc
""",
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus top-20
    vocabulary — the tokenizer-fit / domain-shift quality signal paired
    with ``text_vocab_coverage`` (coverage sizes the vocab; OOV rate
    scores each document against it). The vocabulary is top-k BY
    CONSTRUCTION, so broadcasting it is legal at any corpus size —
    unlike the full-vocabulary joins (tfidf/df) that must stay AQE's
    call. Integer-ppm rates, exact on both engines.

    Round 13: both branches (corpus term frequencies → vocab; per-doc
    token/OOV counts) derive from ONE (doc_id, term, c) count table, so
    the corpus is tokenized once instead of twice — the regex tokenize
    is the dominant CPU at 100 TB, and the extra (doc, term) exchange it
    buys is partially-aggregated (distinct terms per doc, not token
    instances)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("term")
    )
    doc_term = toks.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    freq = doc_term.groupBy("term").agg(F.sum("c").alias("n"))
    w = Window.orderBy(F.col("n").desc(), "term")
    vocab = (
        freq.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("term")
    )
    per_doc = (
        doc_term.join(
            F.broadcast(vocab.withColumn("_in", F.lit(1))), "term", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_in").isNull(), F.col("c")).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        F.expr("CAST(n_oov * 1000000 div n_tokens AS BIGINT)").alias("oov_ppm"),
    )


@register(
    "contamination_bloom",
    oracle=f"""
WITH shingles AS ({_SHINGLES_SQL}),
corpus AS (SELECT doc_id, shingle FROM shingles WHERE doc_id % 50 <> 0),
eval_u AS (SELECT DISTINCT shingle FROM shingles WHERE doc_id % 50 = 0)
SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM corpus c JOIN eval_u e USING (shingle)
GROUP BY c.doc_id
""",
)
def contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered benchmark decontamination: the eval suite's
    shingle set is folded into a bit array that ships as a plain column
    LITERAL, so the corpus-side membership probe is four xxhash64 +
    shift/mask expressions — whole-stage-codegen JVM work with ZERO
    exchange of the corpus before pruning. Rows surviving the bloom are
    exact-confirmed against the (broadcast) eval shingles, so the
    output is the exact overlap — false positives die in the confirm
    join, false negatives cannot exist — and DuckDB replays it as a
    plain join.

    100 TB story: eval benchmarks are fixed small artifacts, so the
    bloom (sized ~10 bits/shingle, here 2^17 bits = 16 KB) is built
    once and folded into the plan as a literal; the corpus is scanned
    once, never shuffled, and the confirm join touches only the tiny
    candidate stream. The same shape at cluster scale replaces the
    literal with a broadcast variable; the plan is identical.
    """
    m = 1 << 17  # bits; ~13 bits/shingle at gate scale
    k = 4
    sh = _shingles(spark, sf_dir)
    corpus = sh.filter(F.col("doc_id") % 50 != 0).select("doc_id", "shingle")
    eval_sh = (
        sh.filter(F.col("doc_id") % 50 == 0)
        .select(F.col("shingle").alias("shingle_e"))
        .distinct()
    )
    # build the bit array driver-side from the SAME hash the probe uses
    # (xxhash64, fixed seed 42) — eval sets are small by definition.
    # (A collect-once variant that also pulled the shingle strings and
    # rebuilt the confirm side as a local relation was A/B'd in round 13
    # and rejected: the confirm side's recompute touches only the 2%
    # eval slice, cheaper than the extra driver round-trip.)
    hashes = [
        r[0] for r in eval_sh.select(F.xxhash64("shingle_e").alias("h")).collect()
    ]
    words = [0] * (m // 64)
    for h in hashes:
        u = h & ((1 << 64) - 1)
        h1, h2 = u % m, (((u >> 17) | 1) % m)
        for i in range(k):
            idx = (h1 + i * h2) % m
            words[idx >> 6] |= 1 << (idx & 63)
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]

    probed = corpus.withColumns(
        {
            "bloom": F.lit(words),
            "h1": F.expr(f"pmod(xxhash64(shingle), {m})"),
            "h2": F.expr(
                f"pmod(shiftrightunsigned(xxhash64(shingle), 17) | CAST(1 AS BIGINT), {m})"
            ),
        }
    )
    # all-k-bits-set candidate filter: pure column math, codegen-able
    bit_tests = [
        f"(shiftrightunsigned(element_at(bloom, CAST(pmod(h1 + {i} * h2, {m}) div 64 AS INT) + 1), "
        f"CAST(pmod(h1 + {i} * h2, {m}) % 64 AS INT)) & 1) = 1"
        for i in range(k)
    ]
    cand = probed.filter(F.expr(" AND ".join(bit_tests))).select(
        "doc_id", "shingle"
    )
    # exact confirm: bloom FPs (if any) drop out here, output is exact
    return (
        cand.join(
            F.broadcast(eval_sh), F.col("shingle") == F.col("shingle_e"), "leftsemi"
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )


@register(
    "dedup_paragraph_exact",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
  FROM documents
),
sized AS (SELECT doc_id, toks, len(toks) AS n FROM toks WHERE len(toks) > 0),
paras AS (
  SELECT doc_id, CAST(off // 12 AS BIGINT) AS idx,
         array_to_string(list_slice(toks, off + 1, off + 12), ' ') AS para
  FROM (SELECT doc_id, toks, n, unnest(range(0, n, 12)) AS off FROM sized)
),
ranked AS (
  SELECT doc_id, idx, para,
         row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rk
  FROM paras
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_paras,
       CAST(COALESCE(SUM(CASE WHEN rk = 1 THEN 1 END), 0) AS BIGINT) AS n_kept,
       md5(COALESCE(string_agg(para, ' ' ORDER BY idx) FILTER (WHERE rk = 1),
                    '')) AS kept_md5
FROM ranked
GROUP BY doc_id
""",
)
def dedup_paragraph_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granular exact dedup (the line-level pass of the CCNet /
    RefinedWeb recipes): every document is cut into 12-token paragraphs,
    each distinct paragraph survives only at its FIRST corpus occurrence
    (global (doc_id, idx) order — deterministic, replayable), and each
    document is re-assembled from its surviving paragraphs. Boilerplate
    shared across near-duplicate documents disappears corpus-wide while
    unique prose is untouched — dedup below the granularity of
    ``dedup_exact`` and orthogonal to MinHash near-dup.

    Exactly two linear shuffles at any scale: the first-occurrence rank
    partitions by paragraph text, the re-assembly groups by doc_id —
    both hash exchanges on bounded rows, no densifying intermediate
    (paragraph count = token count / 12).
    """
    docs = load(spark, sf_dir, "documents")
    toks = F.expr(r"regexp_extract_all(text, '\\S+', 0)")
    sized = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)
    paras = (
        sized.select(
            "doc_id",
            "toks",
            F.explode_outer(
                F.sequence(F.lit(0), F.size("toks") - 1, F.lit(12))
            ).alias("off"),
        )
        .filter(F.col("off").isNotNull())
        .select(
            "doc_id",
            F.expr("CAST(off div 12 AS BIGINT)").alias("idx"),
            F.array_join(F.slice("toks", F.col("off") + 1, F.lit(12)), " ").alias(
                "para"
            ),
        )
    )
    ranked = paras.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("para").orderBy("doc_id", "idx")
        ),
    )
    kept_struct = F.when(F.col("rk") == 1, F.struct("idx", "para"))
    return ranked.groupBy("doc_id").agg(
        F.count("*").alias("n_paras"),
        F.coalesce(
            F.sum(F.when(F.col("rk") == 1, 1)), F.lit(0)
        ).cast("long").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s["para"]
                ),
                " ",
            )
        ).alias("kept_md5"),
    )


@register(
    "text_bigram_lm_score",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
  FROM documents
),
pairs AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, len(w)),
                i -> {'w1': w[i], 'w2': w[i+1]}), recursive := true) -- noqa
  FROM toks WHERE len(w) >= 2
),
train AS (SELECT w1, w2 FROM pairs WHERE source = 'src0'),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM train GROUP BY w1, w2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM train GROUP BY w1),
v AS (SELECT COUNT(DISTINCT w2) AS v FROM train),
scored AS (
  SELECT p.doc_id,
         (COALESCE(c12.c12, 0) + 1) * 1000000
           // (COALESCE(c1.c1, 0) + v.v) AS ppm
  FROM pairs p
  LEFT JOIN c12 ON p.w1 = c12.w1 AND p.w2 = c12.w2
  LEFT JOIN c1 ON p.w1 = c1.w1
  CROSS JOIN v
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(ppm) // COUNT(*) AS BIGINT) AS avg_ppm
FROM scored
GROUP BY doc_id
""",
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality scoring — the CCNet recipe's language-model
    filter (KenLM perplexity over a clean reference corpus) rendered
    with a token-bigram model and INTEGER math so the score is
    bit-exact across engines: train add-one-smoothed bigram
    probabilities on the reference slice (source = 'src0' stands in for
    the clean corpus), then score every document by its mean
    next-token probability in ppm — low avg_ppm = far from the
    reference distribution, the rows a CCNet-style pipeline sends to
    the tail bucket. Logs would cost cross-engine float drift; the
    integer mean-probability form keeps the SAME ranking for the
    filtering decision at gate scale.

    Scale shape: the model is bounded by the reference VOCABULARY, not
    the corpus (here ~10⁴ bigram rows) — both count tables broadcast
    (AQE decides, nothing hinted), so scoring is one map-side join
    pass over the corpus plus the per-doc aggregate: no corpus-wide
    exchange beyond the final groupBy(doc_id), which re-uses the
    bigram explode's natural doc locality.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.expr(r"regexp_extract_all(lower(text), '[a-z0-9]+', 0)").alias("w"),
    ).filter(F.size("w") >= 2)
    pairs = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1), "
                "i -> struct(w[i-1] AS w1, w[i] AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "source", "p.w1", "p.w2")
    train = pairs.filter(F.col("source") == "src0").select("w1", "w2")
    c12 = train.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = train.groupBy("w1").agg(F.count("*").alias("c1"))
    v = train.agg(F.countDistinct("w2").alias("v"))
    scored = (
        pairs.join(c12, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(v)
        .select(
            "doc_id",
            F.expr(
                "(COALESCE(c12, 0) + 1) * 1000000 div (COALESCE(c1, 0) + v)"
            ).alias("ppm"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.expr("CAST(SUM(ppm) div COUNT(*) AS BIGINT)").alias("avg_ppm"),
    )


def duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 6,
    min_count: int = 2,
) -> DataFrame:
    """Exact duplicated-substring spans: the token ranges of every
    w-token window that appears at least ``min_count`` times across the
    corpus, merged per document into maximal spans.

    The substring-level dedup of "Deduplicating Training Data Makes
    Language Models Better" (Lee et al., 2022) re-expressed for Spark:
    the suffix-array pass becomes corpus-wide w-gram counting — one
    explode (w-token sliding windows built JVM-side with
    ``transform``/``slice``), one count shuffle on the gram, a semi-join
    back to positions, and a per-document gaps-and-islands merge (lag
    window + running-sum island ids; the (doc, island) aggregate reuses
    the window's doc partitioning, no extra exchange). Returns
    ``(doc_id, span_start, span_end)`` with 1-based token positions,
    end exclusive — the ranges a cleaning pass would cut.

    Scale note (round 10): the corpus-wide exchange keys on a 128-bit
    hash of the gram — ``xxhash64(1, g), xxhash64(2, g)`` (16 bytes) —
    not the raw w-token string (~w tokens of text per corpus token),
    cutting shuffle key bytes ~5-10× at 100 TB. Collision risk is the
    birthday bound n²/2¹²⁸ on corpus w-gram count — negligible for a
    cut list (and the DuckDB oracle, which groups on the raw string,
    stays byte-identical: the hash is internal to the dup-count; the
    spans output is unchanged).
    """
    toks = docs.select(
        F.col(id_col),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("t"),
    )
    idx = F.when(
        F.size("t") >= w, F.sequence(F.lit(1), F.size("t") - w + 1)
    ).otherwise(F.array().cast("array<int>"))
    grams = toks.select(
        F.col(id_col),
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("pos"),
                    F.concat_ws(" ", F.slice("t", i, w)).alias("g"),
                ),
            )
        ).alias("x"),
    ).select(
        id_col,
        "x.pos",
        # 128-bit gram key computed map-side, BEFORE the exchange: the
        # shuffle never carries gram text, only two longs
        F.xxhash64(F.lit(1), "x.g").alias("h1"),
        F.xxhash64(F.lit(2), "x.g").alias("h2"),
    )
    dup = (
        grams.groupBy("h1", "h2")
        .count()
        .filter(F.col("count") >= min_count)
        .select("h1", "h2")
    )
    marked = grams.join(dup, ["h1", "h2"], "left_semi").select(id_col, "pos")
    by_doc = Window.partitionBy(id_col).orderBy("pos")
    islands = (
        marked.withColumn("prev", F.lag("pos").over(by_doc))
        .withColumn(
            "brk",
            F.when(
                F.col("pos") - F.coalesce(F.col("prev"), F.col("pos")) > w,
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("island", F.sum("brk").over(by_doc))
    )
    return islands.groupBy(id_col, "island").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + w).cast("long").alias("span_end"),
    ).drop("island")


@register(
    "dedup_substring_spans",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
grams AS (
  SELECT doc_id, u.i AS pos, array_to_string(t[u.i:u.i+5], ' ') AS g
  FROM toks, UNNEST(range(1, len(t) - 5 + 1)) AS u(i)
),
dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
marked AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN pos - prev > 6 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (SELECT doc_id, pos,
               lag(pos, 1, pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM marked) s
)
SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + 6 AS BIGINT) AS span_end
FROM isl GROUP BY doc_id, island
""",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (Lee et al. 2022's cut list): maximal
    per-document token spans covered by 6-gram windows that repeat
    corpus-wide — see :func:`duplicate_spans` for the plan shape."""
    return duplicate_spans(load(spark, sf_dir, "documents"), w=6, min_count=2)


def remove_duplicate_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a :func:`duplicate_spans` cut list: rebuild each document's
    text with the spanned tokens removed.

    One join of the documents against the per-doc span lists (spans are
    output-bounded, far smaller than the corpus), then pure JVM array
    expressions: tokens are paired with their 1-based positions
    (two-arg ``transform`` — (element, index)), positions covered by
    any span are filtered out with ``exists``, and the survivors
    re-join into the cleaned text. O(tokens × spans-per-doc) inside
    whole-stage codegen; documents with no spans pass through on the
    left join.
    """
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("cuts")
    )
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    indexed = F.transform(
        toks, lambda x, i: F.struct((i + 1).alias("pos"), x.alias("tok"))
    )
    kept = F.filter(
        indexed,
        lambda p: ~F.exists(
            F.coalesce(
                F.col("cuts"),
                F.array().cast("array<struct<span_start:long,span_end:long>>"),
            ),
            lambda s: (p["pos"] >= s["span_start"]) & (p["pos"] < s["span_end"]),
        ),
    )
    # materialize the filtered array ONCE: the O(tokens × spans) exists
    # scan must not run twice (once for the join, once for the size)
    return (
        docs.join(per_doc, id_col, "left")
        .withColumn("_kept", kept)
        .select(
            F.col(id_col),
            F.array_join(
                F.transform(F.col("_kept"), lambda p: p["tok"]), " "
            ).alias("cleaned"),
            F.size("_kept").cast("long").alias("n_kept"),
        )
    )


@register(
    "dedup_substring_cut",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
grams AS (
  SELECT doc_id, u.i AS pos, array_to_string(t[u.i:u.i+5], ' ') AS g
  FROM toks, UNNEST(range(1, len(t) - 5 + 1)) AS u(i)
),
dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
marked AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN pos - prev > 6 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (SELECT doc_id, pos,
               lag(pos, 1, pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM marked) s
),
spans AS (
  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 6 AS span_end
  FROM isl GROUP BY doc_id, island
),
pos AS (
  SELECT doc_id, u.i AS pos, t[u.i] AS tok
  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
),
kept AS (
  SELECT p.doc_id, p.pos, p.tok FROM pos p
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s
    WHERE s.doc_id = p.doc_id
      AND p.pos >= s.span_start AND p.pos < s.span_end
  )
),
agg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS cleaned,
         CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(a.cleaned, '') AS cleaned,
       COALESCE(a.n_kept, 0) AS n_kept
FROM documents d LEFT JOIN agg a USING (doc_id)
""",
)
def dedup_substring_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full substring-dedup pass: detect corpus-repeated 6-gram
    spans (:func:`duplicate_spans`) and CUT them from every document
    (:func:`remove_duplicate_spans`) — detect + apply as one plan."""
    docs = load(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, duplicate_spans(docs, w=6, min_count=2))
