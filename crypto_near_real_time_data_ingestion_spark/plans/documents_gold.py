"""Training-data pipeline plans over ``documents`` / ``embeddings``.

The operations a 100 TB training-data pipeline needs beyond the
reference's numeric gold jobs — each as a DuckDB-verifiable query:

  doc_exact_dedup         hash-groupBy exact dedup (md5 of text)
  doc_text_stats          token counts (whitespace + BPE-ish), char
                          classes, stopword ratio, quality score
  doc_langid              n-gram/stopword-heuristic language ID
  doc_ngram_jaccard_pairs exact 3-word-shingle Jaccard near-dup pairs
  emb_cosine_topk         brute-force cosine top-k (ANN baseline)
  emb_near_dup_pairs      cosine-threshold near-duplicate pairs

Approximate counterparts (MinHash+LSH, SimHash, winnowing fingerprints,
LSH-bucketed ANN) live in ``operators/text_dedup.py`` / ``operators/
ann.py`` — they use custom hashes, so the driver records rows-only checks
for them; the exact plans here are their ground truth in tests.

Scale notes: exact pairwise Jaccard / cosine are O(n²) baselines kept for
verification; the production path is the LSH family (candidate-pair
generation via band-bucket joins — shuffle ∝ candidates, not pairs).
The shingle self-join here is still shuffle-safe: it joins on the
shingle value (broadcastable dictionary at 100 TB after a frequency cap)
and aggregates pair counts map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    BPE_ISH_RE,
    STOPWORDS,
    char_classes,
    stopword_hits,
    token_count_bpe_ish,
    token_count_ws,
    word_tokens,
)


def read_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def read_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------

def doc_exact_dedup(docs: DataFrame) -> DataFrame:
    """One row per distinct text: canonical (min) doc_id + duplicate count.
    Same keep-one-per-key shape as the silver dedup (W1/W2), keyed by
    content hash — map-side partial agg, single shuffle on the hash."""
    return (
        docs.filter(F.col("text").isNotNull())
        .groupBy(F.md5(F.col("text")).alias("text_md5"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


DOC_EXACT_DEDUP_ORACLE_SQL = """
SELECT md5(text) AS text_md5,
       min(doc_id) AS canonical_doc_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents
WHERE text IS NOT NULL
GROUP BY md5(text)
"""


# ---------------------------------------------------------------------------
# text stats / quality / language-ID
# ---------------------------------------------------------------------------

def doc_text_stats(docs: DataFrame) -> DataFrame:
    d = docs.filter(F.col("text").isNotNull())
    d = char_classes(d, "text")
    d = d.withColumn("n_tokens_ws", token_count_ws(F.col("text"))).withColumn(
        "n_tokens_bpe", token_count_bpe_ish(F.col("text"))
    )
    # single-definition rule: functions/text.stopword_hits IS the
    # stopword expression — never re-inline the pattern (r5 review)
    d = d.withColumn("n_stopwords", stopword_hits(F.col("text")))
    # quality score: integer-ratio arithmetic only (cross-engine stable)
    return d.select(
        "doc_id",
        "n_chars_calc",
        "n_letters",
        "n_digits",
        "n_punct",
        "n_spaces",
        "n_tokens_ws",
        "n_tokens_bpe",
        "n_stopwords",
        (F.col("n_stopwords") / F.col("n_tokens_ws")).alias("stopword_ratio"),
        (F.col("n_letters") / F.col("n_chars_calc")).alias("letter_ratio"),
        (F.col("n_punct") / F.col("n_chars_calc")).alias("punct_ratio"),
    )


DOC_TEXT_STATS_ORACLE_SQL = f"""
WITH base AS (
    SELECT doc_id, text,
           CAST(length(text) AS BIGINT) AS n_chars_calc,
           CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_letters,
           CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits,
           CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS BIGINT) AS n_punct,
           CAST(length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS n_spaces,
           CAST(CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens_ws,
           CAST(len(regexp_extract_all(text, '{BPE_ISH_RE}')) AS BIGINT) AS n_tokens_bpe,
           CAST(len(regexp_extract_all(lower(text), '\\b({"|".join(STOPWORDS)})\\b')) AS BIGINT) AS n_stopwords
    FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, n_chars_calc, n_letters, n_digits, n_punct, n_spaces,
       n_tokens_ws, n_tokens_bpe, n_stopwords,
       CAST(n_stopwords AS DOUBLE) / n_tokens_ws AS stopword_ratio,
       CAST(n_letters AS DOUBLE) / n_chars_calc AS letter_ratio,
       CAST(n_punct AS DOUBLE) / n_chars_calc AS punct_ratio
FROM base
"""


def doc_langid(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: English iff stopword density and letter ratio
    clear thresholds. (The container has no language-ID model; this is the
    deterministic n-gram-heuristic variant, same shape as a fasttext UDF.)"""
    stats = doc_text_stats(docs)
    return stats.select(
        "doc_id",
        F.when(
            (F.col("stopword_ratio") >= 0.03) & (F.col("letter_ratio") >= 0.5),
            F.lit("en"),
        )
        .otherwise(F.lit("unknown"))
        .alias("predicted_lang"),
    )


DOC_LANGID_ORACLE_SQL = (
    "WITH s AS (" + DOC_TEXT_STATS_ORACLE_SQL + ")"
    " SELECT doc_id, CASE WHEN stopword_ratio >= 0.03 AND letter_ratio >= 0.5"
    " THEN 'en' ELSE 'unknown' END AS predicted_lang FROM s"
)


# ---------------------------------------------------------------------------
# exact n-gram Jaccard near-dup pairs (ground truth for MinHash-LSH)
# ---------------------------------------------------------------------------

JACCARD_THRESHOLD = 0.5


def doc_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc."""
    toks = word_tokens(F.col("text"))
    d = docs.filter(F.col("text").isNotNull()).select("doc_id", toks.alias("toks"))
    # guard: Spark's sequence(1, 0) is DESCENDING, not empty — gate on size
    idx = F.when(
        F.size("toks") >= n, F.sequence(F.lit(1), F.size("toks") - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    shingle = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("toks"), i + j) for j in range(n)]
        ),
    )
    return d.select("doc_id", F.array_distinct(shingle).alias("shingles"))


def doc_ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    sh = doc_shingles(docs).cache()
    sizes = sh.select("doc_id", F.size("shingles").alias("n"))
    t = sh.select("doc_id", F.explode("shingles").alias("s"))
    inter = (
        t.alias("a")
        .join(t.alias("b"), (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_id_1"), F.col("b.doc_id").alias("doc_id_2"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    j = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_id_1").withColumnRenamed("n", "n1"), "doc_id_1")
        .join(sizes.withColumnRenamed("doc_id", "doc_id_2").withColumnRenamed("n", "n2"), "doc_id_2")
        .select(
            "doc_id_1",
            "doc_id_2",
            (F.col("i") / (F.col("n1") + F.col("n2") - F.col("i"))).alias("jaccard"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold)


DOC_JACCARD_ORACLE_SQL_TEMPLATE = """
WITH l AS (
    SELECT doc_id, regexp_extract_all(lower(text), '[A-Za-z0-9]+') AS toks
    FROM documents WHERE text IS NOT NULL
),
g AS (
    SELECT doc_id, list_distinct(list_transform(
        generate_series(1, greatest(len(toks) - 2, 0)),
        i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS shingles
    FROM l
),
t AS (SELECT doc_id, unnest(shingles) AS s FROM g),
sizes AS (SELECT doc_id, count(*) AS n FROM t GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, CAST(count(*) AS BIGINT) AS i
    FROM t a JOIN t b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_id_1, doc_id_2,
       CAST(i AS DOUBLE) / (s1.n + s2.n - i) AS jaccard
FROM inter
JOIN sizes s1 ON doc_id_1 = s1.doc_id
JOIN sizes s2 ON doc_id_2 = s2.doc_id
WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= {threshold}
"""


# ---------------------------------------------------------------------------
# embedding similarity: brute-force cosine top-k + near-dup pairs
# ---------------------------------------------------------------------------

def _with_cosine(emb: DataFrame) -> DataFrame:
    """All ordered pairs with cosine = dot / sqrt(ssq_a * ssq_b), computed
    in double with sequential left-fold accumulation (matches DuckDB's
    list_cosine_similarity on DOUBLE[] input)."""
    e = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn(
        "ssq",
        F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x),
    )
    a, b = e.alias("a"), e.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            # round(·,6): DuckDB's list_cosine_similarity accumulates in a
            # different order than Spark's aggregate() left-fold — last-ulp
            # noise only; cosines are not decimal-boundary-massed, so
            # 6-decimal rounding is cross-engine stable.
            F.round(dot / F.sqrt(F.col("a.ssq") * F.col("b.ssq")), 6).alias("cosine"),
        )
    )


def emb_cosine_topk(emb: DataFrame, k: int = 5) -> DataFrame:
    pairs = _with_cosine(emb)
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", F.col("rank").cast("long").alias("rank"), "neighbor_id", "cosine")
    )


EMB_TOPK_ORACLE_SQL_TEMPLATE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {table}),
pairs AS (
    SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
           round(list_cosine_similarity(a.v, b.v), 6) AS cosine
    FROM e a JOIN e b ON a.vec_id <> b.vec_id
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM pairs
)
SELECT vec_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine
FROM ranked WHERE rank <= {k}
"""


def emb_near_dup_pairs(emb: DataFrame, threshold: float = 0.45) -> DataFrame:
    return (
        _with_cosine(emb)
        .filter((F.col("vec_id") < F.col("neighbor_id")) & (F.col("cosine") >= threshold))
        .select(
            F.col("vec_id").alias("vec_id_1"),
            F.col("neighbor_id").alias("vec_id_2"),
            "cosine",
        )
    )


EMB_NEAR_DUP_ORACLE_SQL_TEMPLATE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {threshold}
"""


# ---------------------------------------------------------------------------
# training-context chunking + curation pipeline
# ---------------------------------------------------------------------------

CHUNK_SIZE = 64
CHUNK_STRIDE = 48


def doc_chunks(
    docs: DataFrame, size: int = CHUNK_SIZE, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Overlapping token-window chunks — the context-window split every
    LLM training pipeline runs before tokenization. One row per (doc,
    chunk): chunk_idx, the reconstructed chunk text, token count.

    Pure Catalyst (regexp tokenize → ``posexplode(sequence(...))`` →
    ``slice``/``concat_ws``): whole-stage codegen, zero Python, no
    shuffle — the plan a 100 TB corpus split wants (chunk fan-out is
    map-side; downstream repartition is the consumer's choice)."""
    toks = word_tokens(F.col("text"))
    d = docs.filter(F.col("text").isNotNull()).select("doc_id", toks.alias("toks"))
    # token-less docs (empty / punctuation-only / non-ASCII text) must be
    # dropped BEFORE sequence(): sequence(1, 0, stride) raises in Spark,
    # while the oracle's range(1, 1, stride) is empty — filtering matches
    # the oracle (no chunk rows for a doc with no tokens)
    d = d.filter(F.size("toks") > 0)
    starts = F.sequence(F.lit(1), F.size("toks"), F.lit(stride))
    return (
        d.select(
            "doc_id",
            "toks",
            F.posexplode(starts).alias("chunk_idx", "start"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.concat_ws(" ", F.slice("toks", F.col("start"), size)).alias(
                "chunk_text"
            ),
            F.size(F.slice("toks", F.col("start"), size))
            .cast("long")
            .alias("n_tokens"),
        )
    )


DOC_CHUNKS_ORACLE_SQL_TEMPLATE = """
WITH l AS (
    SELECT doc_id, regexp_extract_all(lower(text), '[A-Za-z0-9]+') AS toks
    FROM documents WHERE text IS NOT NULL
),
s AS (
    SELECT doc_id, toks,
           unnest(range(1, len(toks) + 1, {stride})) AS start
    FROM l
)
SELECT doc_id,
       CAST((start - 1) / {stride} AS INTEGER) AS chunk_idx,
       array_to_string(toks[start : least(start + {size} - 1, len(toks))], ' ')
           AS chunk_text,
       CAST(least(start + {size} - 1, len(toks)) - start + 1 AS BIGINT)
           AS n_tokens
FROM s
"""


def doc_curation_kept(docs: DataFrame) -> DataFrame:
    """End-to-end curation pipeline composing the quality ops: keep a doc
    iff (a) heuristic language-ID says English, (b) quality thresholds
    pass (stopword density, letter ratio, length band), and (c) it is
    the CANONICAL copy of its exact-dup group (min doc_id per text
    hash). Output = kept doc ids + the features that kept them — the
    filter manifest a training-data pipeline audits.

    Plan shape: the stats/langid branch is pure Catalyst expressions;
    the canonical branch is one hash shuffle (md5 groupBy) joined back
    broadcast-style; at 100 TB the join key is the 16-byte hash."""
    stats = doc_text_stats(docs)
    lang = doc_langid(docs)
    canon = doc_exact_dedup(docs).select(
        F.col("canonical_doc_id").alias("doc_id"), "n_copies"
    )
    return (
        stats.join(lang, "doc_id")
        .join(canon, "doc_id")  # inner join == "is canonical"
        .filter(
            (F.col("predicted_lang") == "en")
            & (F.col("stopword_ratio") >= 0.03)
            & (F.col("letter_ratio") >= 0.6)
            & (F.col("n_tokens_ws").between(20, 2000))
        )
        .select(
            "doc_id",
            "n_tokens_ws",
            "stopword_ratio",
            "letter_ratio",
            "n_copies",
        )
    )


DOC_CURATION_ORACLE_SQL = (
    "WITH s AS (" + DOC_TEXT_STATS_ORACLE_SQL + "), "
    "lang AS (SELECT doc_id, CASE WHEN stopword_ratio >= 0.03 AND "
    "letter_ratio >= 0.5 THEN 'en' ELSE 'unknown' END AS predicted_lang FROM s), "
    "canon AS (SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies "
    "FROM documents WHERE text IS NOT NULL GROUP BY md5(text)) "
    "SELECT s.doc_id, s.n_tokens_ws, s.stopword_ratio, s.letter_ratio, c.n_copies "
    "FROM s JOIN lang l ON s.doc_id = l.doc_id JOIN canon c ON s.doc_id = c.doc_id "
    "WHERE l.predicted_lang = 'en' AND s.stopword_ratio >= 0.03 "
    "AND s.letter_ratio >= 0.6 AND s.n_tokens_ws BETWEEN 20 AND 2000"
)


# ---------------------------------------------------------------------------
# dataset assembly: deterministic split / stratified sample / mixture
# ---------------------------------------------------------------------------

def _md5_byte(col):
    """First byte (0-255) of md5(key-as-string) — the shuffle-free
    deterministic randomness every dataset-assembly op below keys on.
    Content-independent of load order/partitioning; identical on any
    engine with md5."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 2), 16, 10).cast("int")


def doc_split_assign(docs: DataFrame) -> DataFrame:
    """Leakage-safe train/val/test split (80/10/10) keyed on a hash of
    doc_id — the standard way to split 10^12 rows with NO shuffle, no
    global sort, and stability under reruns/appends (a doc keeps its
    split forever; new docs land proportionally).

    The hash is SALTED ('split:' prefix) so the byte draw is independent
    of every other md5(doc_id)-keyed decision in the pipeline —
    unsalted, the decontamination holdout (byte ≥ 240) would carve its
    slice entirely out of this op's own test band (byte ≥ 230), leaving
    a released test split of 10/240 ≈ 4.2% instead of the declared 10%
    (found composing the two in one dataset-assembly pipeline)."""
    b = _md5_byte(F.concat(F.lit("split:"), F.col("doc_id").cast("string")))
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        b.alias("hash_byte"),
        F.when(b < 204, "train").when(b < 230, "val").otherwise("test").alias("split"),
    )


DOC_SPLIT_ORACLE_SQL = """
WITH h AS (
    SELECT doc_id,
           CAST((strpos('0123456789abcdef', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
              + strpos('0123456789abcdef', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1
              AS INTEGER) AS hash_byte
    FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, hash_byte,
       CASE WHEN hash_byte < 204 THEN 'train'
            WHEN hash_byte < 230 THEN 'val'
            ELSE 'test' END AS split
FROM h
"""


def doc_epoch_shuffle(
    docs: DataFrame, seed: int = 0, n_shards: int = 8
) -> DataFrame:
    """Deterministic epoch shuffle: (doc_id, shard, pos) — the global
    training-order permutation for one epoch, derived entirely from
    md5(seed ':' doc_id). A training run reads shard s sequentially by
    pos; changing ``seed`` (= the epoch number) re-permutes everything.

    Scale shape — the way to \"globally shuffle\" 10^12 rows without a
    global sort: the hash key IS the random order, so shard assignment
    is a map-side hash-prefix test and the only exchange is
    hashpartitioning on ``shard``; each shard sorts locally under a
    window (no single-partition global window anywhere — plan-asserted).
    At 100 TB raise n_shards so one shard's rows fit an executor sort:
    the shard draws on the first 32 hash bits, so any n_shards up to
    ~10^6 stays binomial-tight (an 8-bit draw would leave shards > 256
    permanently empty and give non-divisors a deterministic 2× skew).
    Reruns and appends are stable: a doc's (shard, key) never changes,
    so late-arriving docs splice into the order instead of re-dealing
    it."""
    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col("doc_id").cast("string")))
    d = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", key.alias("key"))
        .withColumn(
            "shard",
            (
                F.conv(F.substring("key", 1, 8), 16, 10).cast("long")
                % n_shards
            ).cast("int"),
        )
    )
    w = Window.partitionBy("shard").orderBy("key", "doc_id")
    return d.select(
        "doc_id",
        "shard",
        (F.row_number().over(w) - 1).cast("long").alias("pos"),
    )


def doc_epoch_shuffle_oracle_sql(seed: int = 0, n_shards: int = 8) -> str:
    # first 8 hex digits → 32-bit int, digit by digit (DuckDB has no
    # hex-string → int cast); horner form matches Spark's conv(…,16,10)
    nibble = "(strpos('0123456789abcdef', substr(key, {i}, 1)) - 1)"
    hex32 = " + ".join(
        f"{nibble.format(i=i + 1)} * {16 ** (7 - i)}" for i in range(8)
    )
    return f"""
WITH k AS (
    SELECT doc_id, md5('{seed}:' || CAST(doc_id AS VARCHAR)) AS key
    FROM documents WHERE text IS NOT NULL
),
h AS (
    SELECT doc_id, key,
           CAST(CAST({hex32} AS BIGINT) % {n_shards} AS INTEGER) AS shard
    FROM k
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY key, doc_id) - 1
            AS BIGINT) AS pos
FROM h
"""


def doc_stratified_sample(docs: DataFrame) -> DataFrame:
    """Per-stratum hash sampling: keep a deterministic fraction of each
    language stratum (en 25%, unknown 50%) by thresholding the key hash
    — sampling 10^12 rows costs one map-side comparison per row (no
    shuffle, no RNG state, reproducible, append-stable)."""
    lang = doc_langid(docs)
    rate_ceiling = F.when(F.col("predicted_lang") == "en", 64).otherwise(128)
    return (
        docs.filter(F.col("text").isNotNull())
        .join(lang, "doc_id")
        .withColumn("hash_byte", _md5_byte(F.col("doc_id")))
        .filter(F.col("hash_byte") < rate_ceiling)
        .select("doc_id", "predicted_lang", "hash_byte")
    )


DOC_STRATIFIED_SAMPLE_ORACLE_SQL = (
    "WITH lang AS (" + DOC_LANGID_ORACLE_SQL + "), "
    """h AS (
    SELECT d.doc_id, l.predicted_lang,
           CAST((strpos('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)) - 1) * 16
              + strpos('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR)), 2, 1)) - 1
              AS INTEGER) AS hash_byte
    FROM documents d JOIN lang l ON d.doc_id = l.doc_id
    WHERE d.text IS NOT NULL
)
SELECT doc_id, predicted_lang, hash_byte
FROM h
WHERE hash_byte < CASE WHEN predicted_lang = 'en' THEN 64 ELSE 128 END
"""
)


def doc_weighted_sample(docs: DataFrame, k: int = 5) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, k per source:
    the Efraimidis-Spirakis exponential race — every doc draws
    ``key = -ln(u) / w`` (u hash-uniform from md5(doc_id), w = its text
    length) and the k SMALLEST keys per stratum win, which selects with
    probability proportional to weight, without replacement, in one
    pass. The practical upgrade over ``doc_stratified_sample``'s
    hash-threshold (uniform within stratum): sample exemplars ∝ quality
    / length / any per-doc weight, still RNG-free, rerun- and
    append-stable (a doc's key never changes), and distribution-shaped
    rather than rate-shaped.

    Scale shape: the key is one map-side expression; selection is the
    map-side-trimmed ``grouped_topk`` (shuffle carries ≤ k rows per
    stratum per Arrow batch, never the corpus). The float key stays OUT
    of the output (ln() is libm-dependent in the last ulp — the
    SELECTION is ulp-robust because 48-bit-hash key gaps dwarf ulp
    error, but the float value itself is not hash-gradable; same
    venue rule as ``doc_unigram_logprob``)."""
    from ..operators.topk import grouped_topk

    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10
    ).cast("long")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(1 << 48))
    d = (
        docs.filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select(
            "doc_id",
            "source",
            F.length("text").cast("double").alias("w"),
        )
        .withColumn("es_key", -F.log(u) / F.col("w"))
    )
    return grouped_topk(
        d, keys=["source"], order_col="es_key", k=k, tiebreak="doc_id",
        ascending=True,
    ).select("doc_id", "source", F.col("w").cast("long").alias("weight"), "rank")


DOC_WEIGHTED_SAMPLE_ORACLE_SQL_TEMPLATE = """
WITH keyed AS (
    SELECT doc_id, source, length(text) AS weight,
           -ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::UBIGINT
                + 0.5) / 281474976710656.0) / length(text) AS es_key
    FROM documents
    WHERE text IS NOT NULL AND length(text) > 0
), ranked AS (
    SELECT doc_id, source, weight,
           row_number() OVER (PARTITION BY source
                              ORDER BY es_key ASC, doc_id ASC) AS rank
    FROM keyed
)
SELECT doc_id, source, weight, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {k}
"""


def doc_mixture_weights(docs: DataFrame) -> DataFrame:
    """Mixture/epoch weighting: emit each doc ``n_copies`` times per its
    stratum's target weight (en ×1, non-en ×3 — upweight the scarce
    stratum), as (doc_id, copy_idx) rows. Pure map-side fan-out
    (``explode(sequence)``) — the shape a 100 TB mixture materialization
    wants; downstream shuffling is the consumer's choice."""
    lang = doc_langid(docs)
    n = F.when(F.col("predicted_lang") == "en", 1).otherwise(3)
    return (
        docs.filter(F.col("text").isNotNull())
        .join(lang, "doc_id")
        .select(
            "doc_id",
            "predicted_lang",
            F.explode(F.sequence(F.lit(1), n)).alias("copy_idx"),
        )
    )


DOC_MIXTURE_ORACLE_SQL = (
    "WITH lang AS (" + DOC_LANGID_ORACLE_SQL + ") "
    """
SELECT d.doc_id, l.predicted_lang,
       CAST(unnest(range(1, CASE WHEN l.predicted_lang = 'en' THEN 1 ELSE 3 END + 1)) AS INTEGER) AS copy_idx
FROM documents d JOIN lang l ON d.doc_id = l.doc_id
WHERE d.text IS NOT NULL
"""
)


PACK_BUDGET = 128
PACK_BUCKETS = 8


def doc_pack_sequences(
    docs: DataFrame, budget: int = PACK_BUDGET, n_buckets: int | None = None
) -> DataFrame:
    """Sequence packing: concatenate chunk token-counts into fixed-budget
    training sequences (contiguous-fill packing) — the step between
    chunking and batching in every LLM data pipeline.

    Scale shape: packing needs an ORDER, and a single global order is a
    one-partition bottleneck at 10^12 chunks — so chunks are first
    bucketed by a hash byte of doc_id (deterministic, append-stable) and
    packed WITHIN each bucket: pack_id = (bucket, floor(running-tokens /
    budget)) via one windowed cumsum per bucket. One shuffle on the
    bucket key; bucket count scales with the cluster — by DEFAULT it is
    ``sparkContext.defaultParallelism`` (packing parallelism tracks the
    cluster automatically; callers pin an explicit ``n_buckets`` only for
    reproducible layouts, e.g. the fixed-8 oracle-graded config). A chunk
    larger than the budget still gets its own pack (contiguous fill never
    splits a chunk)."""
    if n_buckets is None:
        n_buckets = docs.sparkSession.sparkContext.defaultParallelism
    chunks = doc_chunks(docs)
    bucket = (_md5_byte(F.col("doc_id")) % n_buckets).alias("bucket")
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        chunks.select("doc_id", "chunk_idx", "n_tokens", bucket)
        .withColumn(
            "pack_id",
            F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / budget).cast(
                "long"
            ),
        )
        .select("bucket", "pack_id", "doc_id", "chunk_idx", "n_tokens")
    )


DOC_PACK_ORACLE_SQL_TEMPLATE = """
WITH l AS (
    SELECT doc_id, regexp_extract_all(lower(text), '[A-Za-z0-9]+') AS toks
    FROM documents WHERE text IS NOT NULL
),
s AS (
    SELECT doc_id, toks,
           unnest(range(1, len(toks) + 1, {stride})) AS start
    FROM l
),
c AS (
    SELECT doc_id,
           CAST((start - 1) / {stride} AS INTEGER) AS chunk_idx,
           CAST(least(start + {size} - 1, len(toks)) - start + 1 AS BIGINT) AS n_tokens,
           CAST((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
              + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1
              AS INTEGER) % {n_buckets} AS bucket
    FROM s
)
SELECT bucket,
       CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id, chunk_idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             / {budget}) AS BIGINT) AS pack_id,
       doc_id, chunk_idx, n_tokens
FROM c
"""


# ---------------------------------------------------------------------------
# PII scrubbing (redaction) — the compliance pass every training-data
# pipeline runs before chunking/tokenization
# ---------------------------------------------------------------------------

# Patterns are kept inside the Java-regex ∩ RE2 common dialect (\d, \b,
# bounded repeats, character classes) so the DuckDB oracle applies the
# IDENTICAL expressions. Replacement order is load-bearing and mirrored
# in the oracle: emails first (their local parts contain digits), then
# IPv4 (dot-separated short digit groups a later digit-run pass must not
# see), then long digit runs (phone/account shaped).
PII_RULES = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d\- ]{7,}\d", "<PHONE>"),
)


def doc_pii_scrub(docs: DataFrame) -> DataFrame:
    """Redact PII-shaped spans (emails, IPv4 addresses, long digit runs)
    and report per-document match counts.

    Pure Catalyst (``regexp_count`` + chained ``regexp_replace``): whole-
    stage codegen, no shuffle, no Python — the 100 TB shape is a map-only
    pass fused into the scan. Each pattern is counted on the text AS THE
    PREVIOUS REPLACEMENTS LEFT IT (count → scrub → count → …), so counts
    are unambiguous under overlap and the DuckDB oracle can reproduce
    them exactly. Reference analog: the cleansing battery's repair
    expressions (``silver_transform_job.py`` null/negative repairs) —
    same dispatch-and-repair shape, applied to text instead of numerics.
    """
    cur = F.col("text")
    counts = []
    for name, pat, repl in PII_RULES:
        counts.append(F.regexp_count(cur, F.lit(pat)).alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, repl)
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        *counts,
        cur.alias("clean_text"),
    ).withColumn(
        "has_pii",
        (F.col("n_email") + F.col("n_ip") + F.col("n_phone") > 0),
    )


DOC_PII_ORACLE_SQL = r"""
WITH s0 AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
s1 AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
           regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
    FROM s0
),
s2 AS (
    SELECT doc_id, n_email,
           CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ip,
           regexp_replace(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t
    FROM s1
),
s3 AS (
    SELECT doc_id, n_email, n_ip,
           CAST(len(regexp_extract_all(t, '\+?\d[\d\- ]{7,}\d')) AS INTEGER) AS n_phone,
           regexp_replace(t, '\+?\d[\d\- ]{7,}\d', '<PHONE>', 'g') AS t
    FROM s2
)
SELECT doc_id, n_email, n_ip, n_phone, t AS clean_text,
       (n_email + n_ip + n_phone > 0) AS has_pii
FROM s3
"""


# ---------------------------------------------------------------------------
# per-source top-k curation (grouped top-k with map-side trimming)
# ---------------------------------------------------------------------------

TOPK_PER_SOURCE = 5


def doc_topk_per_source(docs: DataFrame, k: int = TOPK_PER_SOURCE) -> DataFrame:
    """Keep the k longest documents (by BPE-ish token count) per source —
    the per-stratum cut-off a curation pipeline applies before packing.
    Backed by ``operators/topk.grouped_topk``: the shuffle into the final
    rank carries at most k rows per source per Arrow batch (map-side
    trim), never the corpus."""
    from ..operators.topk import grouped_topk

    stats = doc_text_stats(docs).select("doc_id", "n_tokens_bpe")
    scored = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", "source")
        .join(stats, "doc_id")
    )
    return grouped_topk(
        scored, keys=["source"], order_col="n_tokens_bpe", k=k, tiebreak="doc_id"
    )


DOC_TOPK_PER_SOURCE_ORACLE_SQL = (
    "WITH stats AS (" + DOC_TEXT_STATS_ORACLE_SQL + """),
scored AS (
    SELECT d.doc_id, d.source, s.n_tokens_bpe
    FROM documents d JOIN stats s ON d.doc_id = s.doc_id
    WHERE d.text IS NOT NULL
)
SELECT doc_id, source, n_tokens_bpe, rank FROM (
    SELECT doc_id, source, n_tokens_bpe,
           CAST(row_number() OVER (
               PARTITION BY source ORDER BY n_tokens_bpe DESC, doc_id
           ) AS INTEGER) AS rank
    FROM scored
) WHERE rank <= """
    + str(TOPK_PER_SOURCE)
)


# ---------------------------------------------------------------------------
# decontamination: eval-set n-gram overlap (broadcast semi-join)
# ---------------------------------------------------------------------------

DECONTAM_EVAL_BYTE_MIN = 240   # md5-byte >= 240 -> "benchmark" holdout (~6%)
DECONTAM_THRESHOLD = 0.2


def doc_decontaminate(
    docs: DataFrame,
    n: int = 3,
    threshold: float = DECONTAM_THRESHOLD,
    eval_byte_min: int = DECONTAM_EVAL_BYTE_MIN,
) -> DataFrame:
    """Training-set decontamination: per train document, the fraction of
    its distinct word ``n``-gram shingles that also occur anywhere in the
    eval/benchmark holdout; docs at or above ``threshold`` are flagged
    ``contaminated`` (the published-pipeline recipe: n-gram collision
    against the benchmark suite, as in the GPT-3 / Llama decontamination
    appendices). The holdout here is the deterministic md5-byte slice of
    the corpus (same keyed-hash trick as ``doc_split_assign``), which on
    this corpus makes the flag catch exactly the planted near-duplicates
    that leak across the train/eval split.

    100 TB shape: a benchmark suite is MBs, so its distinct-shingle
    dictionary is broadcast (map-side hash semi-join against every train
    shingle — no shuffle of the corpus); the only exchange is the partial
    per-doc overlap count keyed by doc_id. Reference parity: the hash
    expressions family (SURVEY §2.2 P25) applied to the dataset-assembly
    pipeline."""
    # cache: eval_grams / sizes / matched all fan out from this plan — the
    # tokenize+shingle pass (the dominant cost) must run once, not three
    # times (same pattern as doc_ngram_jaccard_pairs)
    sh = doc_shingles(docs, n).withColumn("hb", _md5_byte(F.col("doc_id"))).cache()
    eval_grams = (
        sh.filter(F.col("hb") >= eval_byte_min)
        .select(F.explode("shingles").alias("s"))
        .distinct()
    )
    train = sh.filter(F.col("hb") < eval_byte_min)
    sizes = train.select("doc_id", F.size("shingles").cast("long").alias("n_shingles"))
    matched = (
        train.select("doc_id", F.explode("shingles").alias("s"))
        .join(F.broadcast(eval_grams), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    n_ov = F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long")
    frac = F.when(
        F.col("n_shingles") > 0, n_ov / F.col("n_shingles")
    ).otherwise(F.lit(0.0))
    return (
        sizes.join(matched, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            n_ov.alias("n_overlap"),
            frac.alias("overlap_frac"),
            (frac >= threshold).alias("contaminated"),
        )
    )


DOC_DECONTAM_ORACLE_SQL_TEMPLATE = """
WITH l AS (
    SELECT doc_id, regexp_extract_all(lower(text), '[A-Za-z0-9]+') AS toks,
           CAST((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
              + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1
              AS INTEGER) AS hb
    FROM documents WHERE text IS NOT NULL
),
g AS (
    SELECT doc_id, hb, list_distinct(list_transform(
        generate_series(1, greatest(len(toks) - 2, 0)),
        i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS sh
    FROM l
),
ev AS (SELECT DISTINCT unnest(sh) AS s FROM g WHERE hb >= {eval_byte_min}),
tr AS (SELECT doc_id, sh FROM g WHERE hb < {eval_byte_min}),
x AS (SELECT doc_id, unnest(sh) AS s FROM tr),
ov AS (SELECT x.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
       FROM x JOIN ev ON x.s = ev.s GROUP BY 1)
SELECT t.doc_id,
       CAST(len(t.sh) AS BIGINT) AS n_shingles,
       CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       CASE WHEN len(t.sh) > 0
            THEN CAST(coalesce(o.n_overlap, 0) AS DOUBLE) / len(t.sh)
            ELSE 0.0 END AS overlap_frac,
       (CASE WHEN len(t.sh) > 0
             THEN CAST(coalesce(o.n_overlap, 0) AS DOUBLE) / len(t.sh)
             ELSE 0.0 END) >= {threshold} AS contaminated
FROM tr t LEFT JOIN ov o ON t.doc_id = o.doc_id
"""


def doc_decontam_oracle_sql(
    threshold: float = DECONTAM_THRESHOLD,
    eval_byte_min: int = DECONTAM_EVAL_BYTE_MIN,
) -> str:
    return DOC_DECONTAM_ORACLE_SQL_TEMPLATE.format(
        threshold=threshold, eval_byte_min=eval_byte_min
    )


# ---------------------------------------------------------------------------
# dataset card: corpus composition statistics
# ---------------------------------------------------------------------------

def doc_corpus_stats(docs: DataFrame) -> DataFrame:
    """The dataset-card rollup every training corpus publishes: document /
    token / character totals per (source × predicted language × split)
    stratum. Composes the existing langid + hash-split + text-stats plans
    (all keyed by doc_id — co-partitioned joins, no extra derivation) into
    one small aggregate; the output is strata-sized (tiny) regardless of
    corpus size, so the only real cost is the map-side partial agg."""
    stats = doc_text_stats(docs).select("doc_id", "n_tokens_ws", "n_chars_calc")
    lang = doc_langid(docs)
    split = doc_split_assign(docs).select("doc_id", "split")
    base = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", "source")
        .join(lang, "doc_id")
        .join(split, "doc_id")
        .join(stats, "doc_id")
    )
    return base.groupBy("source", "predicted_lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens_ws").alias("n_tokens"),
        F.sum("n_chars_calc").alias("n_chars"),
    )


DOC_CORPUS_STATS_ORACLE_SQL = (
    "WITH s AS (" + DOC_TEXT_STATS_ORACLE_SQL + "), "
    "lang AS (" + DOC_LANGID_ORACLE_SQL + "), "
    "sp AS (" + DOC_SPLIT_ORACLE_SQL + ") "
    """
SELECT d.source, l.predicted_lang, sp.split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(s.n_tokens_ws) AS BIGINT) AS n_tokens,
       CAST(sum(s.n_chars_calc) AS BIGINT) AS n_chars
FROM documents d
JOIN lang l ON d.doc_id = l.doc_id
JOIN sp ON d.doc_id = sp.doc_id
JOIN s ON d.doc_id = s.doc_id
WHERE d.text IS NOT NULL
GROUP BY 1, 2, 3
"""
)


# ---------------------------------------------------------------------------
# repetition stats: Gopher-style quality signals, map-only
# ---------------------------------------------------------------------------

def doc_repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-rule repetition signals per document: duplicate-unigram
    fraction, top-2-gram fraction (share of bigram positions taken by the
    single most frequent bigram), and duplicate-2-gram fraction (share of
    bigram positions whose bigram occurs more than once).

    100 TB shape: a document's n-grams never leave its row — the bigram
    mode is computed by ``array_sort`` + a run-length fold
    (``F.aggregate`` with a (prev, run, best, dup) accumulator), so the
    whole operator is one map-only whole-stage-codegen pass with ZERO
    exchanges (plan-asserted), unlike the explode→groupBy(doc, gram)
    formulation whose shuffle carries every gram occurrence in the
    corpus. The fold runs over the SORTED array, where "max frequency"
    becomes "longest run of equal neighbours"."""
    toks = word_tokens(F.col("text"))
    d = docs.filter(F.col("text").isNotNull()).select("doc_id", toks.alias("toks"))
    idx = F.when(
        F.size("toks") >= 2, F.sequence(F.lit(1), F.size("toks") - 1)
    ).otherwise(F.array().cast("array<int>"))
    g2 = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("toks"), i), F.element_at(F.col("toks"), i + 1)
        ),
    )
    d = d.select("doc_id", "toks", F.array_sort(g2).alias("g2"))

    zero = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    # sentinel: every real gram is two space-joined [a-z0-9]+ tokens (length
    # >= 3, never a lone space), so " " can never equal a gram
    init = F.struct(
        F.lit(" ").alias("prev"),
        zero.alias("run"),
        zero.alias("best"),
        zero.alias("dup"),
    )

    def _step(acc, g):
        same = g == acc["prev"]
        closed_dup = acc["dup"] + F.when(acc["run"] >= 2, acc["run"]).otherwise(zero)
        return F.struct(
            g.alias("prev"),
            F.when(same, acc["run"] + one).otherwise(one).alias("run"),
            F.when(same, acc["best"])
            .otherwise(F.greatest(acc["best"], acc["run"]))
            .alias("best"),
            F.when(same, acc["dup"]).otherwise(closed_dup).alias("dup"),
        )

    def _finish(acc):
        return F.struct(
            F.greatest(acc["best"], acc["run"]).alias("top"),
            (acc["dup"] + F.when(acc["run"] >= 2, acc["run"]).otherwise(zero)).alias(
                "dup"
            ),
        )

    st = F.aggregate("g2", init, _step, _finish)
    n_tok = F.size("toks").cast("long")
    n_2g = F.size("g2").cast("long")
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_distinct_tokens"),
        F.when(n_tok > 0, F.lit(1.0) - F.size(F.array_distinct("toks")) / n_tok)
        .otherwise(F.lit(0.0))
        .alias("dup_token_frac"),
        n_2g.alias("n_2grams"),
        st["top"].alias("top_2gram_count"),
        F.when(n_2g > 0, st["top"] / n_2g).otherwise(F.lit(0.0)).alias(
            "top_2gram_frac"
        ),
        F.when(n_2g > 0, st["dup"] / n_2g).otherwise(F.lit(0.0)).alias(
            "dup_2gram_frac"
        ),
    )


DOC_REPETITION_ORACLE_SQL = """
WITH l AS (
    SELECT doc_id, regexp_extract_all(lower(text), '[A-Za-z0-9]+') AS toks
    FROM documents WHERE text IS NOT NULL
),
g AS (
    SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_distinct,
           list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
                          i -> toks[i] || ' ' || toks[i + 1]) AS g2
    FROM l
),
e AS (SELECT doc_id, unnest(g2) AS gram FROM g),
c AS (SELECT doc_id, gram, count(*) AS cnt FROM e GROUP BY 1, 2),
s AS (SELECT doc_id, max(cnt) AS top_cnt,
             sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS dup_pos,
             sum(cnt) AS total
      FROM c GROUP BY 1)
SELECT g.doc_id,
       CAST(g.n_tokens AS BIGINT) AS n_tokens,
       CAST(g.n_distinct AS BIGINT) AS n_distinct_tokens,
       CASE WHEN g.n_tokens > 0
            THEN 1.0 - CAST(g.n_distinct AS DOUBLE) / g.n_tokens
            ELSE 0.0 END AS dup_token_frac,
       CAST(len(g.g2) AS BIGINT) AS n_2grams,
       CAST(coalesce(s.top_cnt, 0) AS BIGINT) AS top_2gram_count,
       CASE WHEN len(g.g2) > 0
            THEN CAST(coalesce(s.top_cnt, 0) AS DOUBLE) / len(g.g2)
            ELSE 0.0 END AS top_2gram_frac,
       CASE WHEN len(g.g2) > 0
            THEN CAST(coalesce(s.dup_pos, 0) AS DOUBLE) / len(g.g2)
            ELSE 0.0 END AS dup_2gram_frac
FROM g LEFT JOIN s ON g.doc_id = s.doc_id
"""


# ---------------------------------------------------------------------------
# decontamination at reference-corpus scale: Bloom-filter membership
# ---------------------------------------------------------------------------

def doc_decontaminate_bloom(
    docs: DataFrame,
    n: int = 3,
    threshold: float = DECONTAM_THRESHOLD,
    eval_byte_min: int = DECONTAM_EVAL_BYTE_MIN,
    m_bits: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """``doc_decontaminate`` with the exact broadcast dictionary replaced
    by a Bloom filter (``operators/bloom.py``) — the formulation that
    survives a reference set too large to broadcast exactly (a prior
    training corpus rather than a benchmark suite).

    Same output schema and same flag semantics as the exact operator,
    with one-sided error: ``n_overlap`` can only OVERcount (false
    positives drop clean docs; eval shingles are never missed), so
    ``contaminated`` here is a superset of the exact flag — the safe
    direction for decontamination. The probe side is map-only: each
    train document's whole shingle array is tested in one vectorized
    pandas-UDF row, so unlike the exact path there is NO per-shingle
    explode and NO groupBy(doc_id) shuffle.
    """
    from ..operators.bloom import build_bloom

    sh = doc_shingles(docs, n).withColumn("hb", _md5_byte(F.col("doc_id")))
    eval_grams = (
        sh.filter(F.col("hb") >= eval_byte_min)
        .select(F.explode("shingles").alias("s"))
        .distinct()
    )
    words = build_bloom(eval_grams, "s", m_bits, k)
    return bloom_overlap_flags(docs, words, n, threshold, eval_byte_min, m_bits, k)


def bloom_overlap_flags(
    docs: DataFrame,
    words,
    n: int = 3,
    threshold: float = DECONTAM_THRESHOLD,
    eval_byte_min: int = DECONTAM_EVAL_BYTE_MIN,
    m_bits: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """The probe+flag stage of ``doc_decontaminate_bloom`` against an
    already-built bitmap (``words``: the int64 array ``build_bloom``
    returns). Entirely map-only (shingle expressions + one vectorized
    pandas-UDF membership count — no explode, no shuffle), so it applies
    unchanged to a STREAMING frame, per micro-batch against the static
    bitmap."""
    from ..operators.bloom import bloom_count_members

    sh = doc_shingles(docs, n).withColumn("hb", _md5_byte(F.col("doc_id")))
    train = sh.filter(F.col("hb") < eval_byte_min)
    counted = bloom_count_members(
        train, "shingles", words, m_bits, k, out="n_overlap"
    )
    n_sh = F.size("shingles").cast("long")
    frac = F.when(n_sh > 0, F.col("n_overlap") / n_sh).otherwise(F.lit(0.0))
    return counted.select(
        "doc_id",
        n_sh.alias("n_shingles"),
        "n_overlap",
        frac.alias("overlap_frac"),
        (frac >= threshold).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# budget-constrained quality selection (corpus selection under token budget)
# ---------------------------------------------------------------------------

BUDGET_TOKENS_PER_SOURCE = 800


def _budget_base(docs: DataFrame) -> DataFrame:
    """Per-doc (source, quality score, token count) — the selection input.
    Score is ``letter_ratio`` (a quotient of integers, so its double value
    and sort order are engine-independent); tokens are whitespace counts."""
    stats = doc_text_stats(docs).select("doc_id", "n_tokens_ws", "letter_ratio")
    return (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", "source")
        .join(stats, "doc_id")
    )


def doc_budget_select(
    docs: DataFrame, budget: int = BUDGET_TOKENS_PER_SOURCE
) -> DataFrame:
    """Greedy prefix-under-budget corpus selection per source, in the
    two-phase scale formulation (``operators/budget_select.py``): rank
    docs by quality (letter_ratio desc, doc_id asc), keep while the
    running token total fits the per-source budget. Bit-equal to the
    naive single-window twin and the DuckDB oracle."""
    from ..operators.budget_select import budget_select

    out = budget_select(
        _budget_base(docs),
        keys=["source"],
        score_col="letter_ratio",
        tokens_col="n_tokens_ws",
        budget=budget,
        tiebreak="doc_id",
    )
    return out.select(
        "doc_id",
        "source",
        F.col("n_tokens_ws").cast("long").alias("n_tokens"),
        "cum_tokens",
        "selected",
    )


def doc_budget_select_naive(
    docs: DataFrame, budget: int = BUDGET_TOKENS_PER_SOURCE
) -> DataFrame:
    """Ground-truth twin: ONE window per source over every doc — correct,
    but serializes each source onto a single task (the formulation the
    two-phase operator exists to avoid at scale)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source")
        .orderBy(F.col("letter_ratio").desc_nulls_last(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = _budget_base(docs)
    return base.select(
        "doc_id",
        "source",
        F.col("n_tokens_ws").cast("long").alias("n_tokens"),
        F.sum("n_tokens_ws").over(w).cast("long").alias("cum_tokens"),
    ).withColumn("selected", F.col("cum_tokens") <= F.lit(budget))


def doc_budget_select_oracle_sql(budget: int = BUDGET_TOKENS_PER_SOURCE) -> str:
    return (
        "WITH s AS (" + DOC_TEXT_STATS_ORACLE_SQL + """),
base AS (
    SELECT d.doc_id, d.source, s.n_tokens_ws, s.letter_ratio
    FROM documents d JOIN s ON d.doc_id = s.doc_id
    WHERE d.text IS NOT NULL
),
c AS (
    SELECT doc_id, source, CAST(n_tokens_ws AS BIGINT) AS n_tokens,
           CAST(sum(n_tokens_ws) OVER (
               PARTITION BY source
               ORDER BY letter_ratio DESC NULLS LAST, doc_id
               ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS cum_tokens
    FROM base
)
SELECT doc_id, source, n_tokens, cum_tokens,
       cum_tokens <= """ + str(budget) + """ AS selected
FROM c
"""
    )


# ---------------------------------------------------------------------------
# cross-document duplicate spans (ExactSubstr-style signal, n-gram grain)
# ---------------------------------------------------------------------------

DUP_SPAN_N = 3


def _cross_dup_starts(docs: DataFrame, n: int):
    """Shared matched-starts core of ``doc_dup_span_stats`` (the signal)
    and ``doc_dedup_spans`` (the cut): tokenized docs ``d`` =
    (doc_id, toks) plus ``starts`` = (doc_id, positions of n-grams that
    also occur in ANOTHER document). One explode ∝ token occurrences;
    the occurs-elsewhere test is ``min(doc_id) <> max(doc_id)`` as a
    WINDOW over the gram partition (no countDistinct) — a single pass
    with one hash shuffle. The round-4 form (the same min/max as an
    AGGREGATE joined back to the occurrences) scanned the exploded
    corpus twice — the agg subtree and the join probe are separate
    scans — and measured 1.9× slower at 5.8M gram occurrences (the
    doc_line_dedup finding, BASELINE §29, applied here the same
    round). One groupBy(doc_id) folds the matched starts. Factored so
    a tokenization or window fix can never drift between the two ops
    (their consistency is pinned by test)."""
    toks = word_tokens(F.col("text"))
    d = docs.filter(F.col("text").isNotNull()).select("doc_id", toks.alias("toks"))
    idx = F.when(
        F.size("toks") >= n, F.sequence(F.lit(1), F.size("toks") - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    gram = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("pos"),
            F.concat_ws(
                " ", *[F.element_at(F.col("toks"), i + j) for j in range(n)]
            ).alias("g"),
        ),
    )
    exploded = d.select("doc_id", F.explode(gram).alias("x")).select(
        "doc_id", F.col("x.pos").alias("pos"), F.col("x.g").alias("g")
    )
    w_g = Window.partitionBy("g")
    starts = (
        exploded.withColumn(
            "crossdup", F.min("doc_id").over(w_g) != F.max("doc_id").over(w_g)
        )
        .filter("crossdup")
        .groupBy("doc_id")
        .agg(F.collect_list("pos").alias("starts"))
    )
    return d, starts


def doc_dup_span_stats(docs: DataFrame, n: int = DUP_SPAN_N) -> DataFrame:
    """Per document: how much of it is covered by token n-grams that also
    occur in ANOTHER document — the cross-document repeated-span signal
    of the ExactSubstr dedup recipe (Lee et al., "Deduplicating Training
    Data..."), at fixed n-gram granularity instead of suffix arrays.
    Distinct from ``doc_repetition_stats`` (within-doc repetition) and
    from the doc-level near-dup family: this flags boilerplate SPANS
    inside otherwise-unique documents.

    Plan shape: positioned n-grams explode once (shuffle ∝ token
    occurrences — inherent to the published algorithm, which must also
    touch every token); "occurs elsewhere" is ``min(doc_id) <>
    max(doc_id)`` as a WINDOW over the gram partition (single pass —
    the agg-joined form double-scanned the grams, BASELINE §29; no
    countDistinct); covered
    positions are unioned IN-ROW per doc (``array_distinct`` over the
    flattened per-start windows) after a single groupBy(doc_id) of the
    matched starts, so no per-position rows ever shuffle.
    """
    d, starts = _cross_dup_starts(docs, n)
    covered = F.size(
        F.array_distinct(
            F.flatten(
                F.transform("starts", lambda s: F.sequence(s, s + (n - 1)))
            )
        )
    ).cast("long")
    base = d.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
    out = base.join(starts, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(
            F.when(F.col("starts").isNotNull(), covered), F.lit(0).cast("long")
        ).alias("n_dup_positions"),
    )
    return out.withColumn(
        "dup_span_frac",
        F.when(
            F.col("n_tokens") > 0, F.col("n_dup_positions") / F.col("n_tokens")
        ).otherwise(F.lit(0.0)),
    )


DOC_DUP_SPAN_ORACLE_SQL = """
WITH l AS (
    SELECT doc_id, regexp_extract_all(lower(text), '[A-Za-z0-9]+') AS toks
    FROM documents WHERE text IS NOT NULL
),
p AS (
    SELECT doc_id,
           unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS pos,
           toks AS toks
    FROM l
),
pg AS (
    SELECT doc_id, pos,
           toks[pos] || ' ' || toks[pos + 1] || ' ' || toks[pos + 2] AS g
    FROM p
),
cross_g AS (SELECT g FROM pg GROUP BY g HAVING min(doc_id) <> max(doc_id)),
m AS (SELECT pg.doc_id, pg.pos FROM pg JOIN cross_g ON pg.g = cross_g.g),
cov AS (
    SELECT DISTINCT doc_id, pos + off AS cp
    FROM m, (SELECT unnest(generate_series(0, 2)) AS off)
),
cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup FROM cov GROUP BY 1)
SELECT l.doc_id,
       CAST(len(l.toks) AS BIGINT) AS n_tokens,
       CAST(coalesce(c.n_dup, 0) AS BIGINT) AS n_dup_positions,
       CASE WHEN len(l.toks) > 0
            THEN CAST(coalesce(c.n_dup, 0) AS DOUBLE) / len(l.toks)
            ELSE 0.0 END AS dup_span_frac
FROM l LEFT JOIN cnt c ON l.doc_id = c.doc_id
"""


def doc_dedup_spans(docs: DataFrame, n: int = DUP_SPAN_N) -> DataFrame:
    """The REMOVAL form of ``doc_dup_span_stats``: emit each document's
    text with every cross-document duplicated n-gram span cut out — the
    ExactSubstr dedup step itself (Lee et al.: remove the repeated
    substring, keep the unique remainder), at fixed n-gram granularity.
    Output text is whitespace-canonical (kept tokens joined by single
    spaces, lowercased — the same token stream every text operator here
    ranks on).

    Plan shape: identical to the stats op through the matched-starts
    groupBy (``_cross_dup_starts`` — literally shared code, so the two
    ops can never drift); the cut itself is IN-ROW Catalyst — covered
    positions via ``array_distinct(flatten(...))``, kept positions via
    ``array_except`` over the position sequence (hash-based, O(tokens)),
    token gather via ``transform`` + ``element_at`` — no second shuffle,
    no Python."""
    d, starts = _cross_dup_starts(docs, n)
    covered = F.array_distinct(
        F.flatten(F.transform("starts", lambda s: F.sequence(s, s + (n - 1))))
    )
    kept_pos = F.array_sort(
        F.array_except(F.sequence(F.lit(1), F.size("toks")), covered)
    )
    kept = F.transform(kept_pos, lambda p: F.element_at(F.col("toks"), p))
    return (
        d.join(starts, "doc_id", "left")
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            F.when(F.col("starts").isNull(), F.col("toks"))
            .otherwise(kept)
            .alias("kept"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.size("kept").cast("long").alias("n_kept"),
            F.array_join("kept", " ").alias("text_clean"),
        )
    )


DOC_DEDUP_SPANS_ORACLE_SQL = """
WITH l AS (
    SELECT doc_id, regexp_extract_all(lower(text), '[A-Za-z0-9]+') AS toks
    FROM documents WHERE text IS NOT NULL
),
p AS (
    SELECT doc_id,
           unnest(generate_series(1, greatest(len(toks) - 2, 0))) AS pos,
           toks AS toks
    FROM l
),
pg AS (
    SELECT doc_id, pos,
           toks[pos] || ' ' || toks[pos + 1] || ' ' || toks[pos + 2] AS g
    FROM p
),
cross_g AS (SELECT g FROM pg GROUP BY g HAVING min(doc_id) <> max(doc_id)),
m AS (SELECT pg.doc_id, pg.pos FROM pg JOIN cross_g ON pg.g = cross_g.g),
cov AS (
    SELECT DISTINCT doc_id, pos + off AS cp
    FROM m, (SELECT unnest(generate_series(0, 2)) AS off)
),
allpos AS (
    SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos, toks
    FROM l
),
kept AS (
    SELECT a.doc_id,
           coalesce(
               string_agg(a.toks[a.pos], ' ' ORDER BY a.pos)
                   FILTER (WHERE c.cp IS NULL),
               '') AS text_clean,
           CAST(count(*) FILTER (WHERE c.cp IS NULL) AS BIGINT) AS n_kept
    FROM allpos a
    LEFT JOIN cov c ON a.doc_id = c.doc_id AND a.pos = c.cp
    GROUP BY a.doc_id
)
SELECT l.doc_id,
       CAST(len(l.toks) AS BIGINT) AS n_tokens,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       coalesce(k.text_clean, '') AS text_clean
FROM l LEFT JOIN kept k ON l.doc_id = k.doc_id
"""


# ---------------------------------------------------------------------------
# corpus-wide line dedup (CCNet/RefinedWeb paragraph rule)
# ---------------------------------------------------------------------------

LINE_DEDUP_MAX_DUP_FRAC = 0.3


def doc_line_dedup(docs: DataFrame) -> DataFrame:
    """Corpus-wide exact LINE dedup — the CCNet/RefinedWeb paragraph
    rule, distinct from ``doc_dedup_spans`` (token n-gram grain) and
    ``doc_exact_dedup`` (whole-document grain): every line keeps only
    its FIRST occurrence across the whole corpus (order = (doc_id,
    pos)); all later occurrences are cut. Whitespace-only lines are
    exempt (they are formatting, not boilerplate — dedup'ing '' would
    strip every blank separator after the corpus's first). Emits the
    MassiveText doc-drop signal too: ``drop_doc`` when more than
    ``LINE_DEDUP_MAX_DUP_FRAC`` of a doc's lines were duplicates.

    Plan shape (the 100 TB-safe one): posexplode is map-only; each
    occurrence's fate is ONE ``row_number`` window keyed by the line's
    md5 ((doc_id, pos) order — rn 1 is the corpus-wide winner): a
    single pass over the occurrences, one hash shuffle, and the
    in-group sorts are per-distinct-line (tiny). The seemingly-
    scalable alternative — a first-occurrence AGGREGATE joined back to
    the occurrences — reads the exploded corpus TWICE (the winners
    subtree and the join probe are separate scans unless the whole
    occurrence table is persisted, which at corpus scale is its own
    cost); measured 4.1×/1.3× slower at 4M occurrences across
    duplication regimes (BASELINE §29).
    Removed positions then fold to one small array per affected doc;
    the cut itself is the same IN-ROW Catalyst gather as
    ``doc_dedup_spans`` (array_except over the position sequence — no
    Python, no second pass over the text). Whole-doc duplicates are a
    special case: a later exact copy of a single-line doc loses its
    only line (consistency with ``doc_exact_dedup`` is pinned in
    tests)."""
    d = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.split("text", "\n", -1).alias("lines")
    )
    occ = d.select("doc_id", F.posexplode("lines").alias("pos", "line"))
    cand = occ.filter(F.trim("line") != "")
    w = Window.partitionBy(F.md5("line")).orderBy("doc_id", "pos")
    removed = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter("rn > 1")
        .groupBy("doc_id")
        .agg(F.collect_list("pos").alias("rm"))
    )
    kept_pos = F.array_sort(
        F.array_except(F.sequence(F.lit(0), F.size("lines") - 1), F.col("rm"))
    )
    kept = F.transform(kept_pos, lambda p: F.element_at(F.col("lines"), p + 1))
    n_lines = F.size("lines").cast("long")
    frac = (F.col("n_lines") - F.size("kept")).cast("double") / F.col("n_lines")
    return (
        d.join(removed, "doc_id", "left")
        .select(
            "doc_id",
            n_lines.alias("n_lines"),
            F.when(F.col("rm").isNull(), F.col("lines"))
            .otherwise(kept)
            .alias("kept"),
        )
        .select(
            "doc_id",
            "n_lines",
            F.size("kept").cast("long").alias("n_kept"),
            frac.alias("dup_line_frac"),
            (frac > LINE_DEDUP_MAX_DUP_FRAC).alias("drop_doc"),
            F.array_join("kept", "\n").alias("text_clean"),
        )
    )


DOC_LINE_DEDUP_ORACLE_SQL = f"""
WITH d AS (
    SELECT doc_id, string_split(text, chr(10)) AS lines
    FROM documents WHERE text IS NOT NULL
),
occ AS (
    SELECT doc_id, pos, lines[pos] AS line
    FROM (SELECT doc_id, unnest(generate_series(1, len(lines))) AS pos, lines
          FROM d)
),
r AS (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY md5(line)
                              ORDER BY doc_id, pos) AS rn
    FROM occ WHERE trim(line) <> ''
),
removed AS (SELECT doc_id, pos FROM r WHERE rn > 1),
kept AS (
    SELECT occ.doc_id,
           coalesce(string_agg(occ.line, chr(10) ORDER BY occ.pos)
                        FILTER (WHERE removed.pos IS NULL), '') AS text_clean,
           CAST(count(*) FILTER (WHERE removed.pos IS NULL) AS BIGINT) AS n_kept
    FROM occ
    LEFT JOIN removed ON occ.doc_id = removed.doc_id AND occ.pos = removed.pos
    GROUP BY occ.doc_id
)
SELECT d.doc_id,
       CAST(len(d.lines) AS BIGINT) AS n_lines,
       k.n_kept,
       CAST(len(d.lines) - k.n_kept AS DOUBLE) / len(d.lines) AS dup_line_frac,
       (CAST(len(d.lines) - k.n_kept AS DOUBLE) / len(d.lines)) > {LINE_DEDUP_MAX_DUP_FRAC} AS drop_doc,
       k.text_clean
FROM d JOIN kept k USING (doc_id)
"""


# ---------------------------------------------------------------------------
# unigram log-probability quality score (CCNet-style perplexity proxy)
# ---------------------------------------------------------------------------

def doc_unigram_logprob(docs: DataFrame) -> DataFrame:
    """Per-document mean negative unigram log-probability under the
    corpus's own unigram distribution — the model-free analog of CCNet's
    KenLM perplexity filter (no LM ships in this container): documents
    made of rare tokens score high (surprising), boilerplate scores low.

    Scale shape: the unigram table is VOCABULARY-sized, so it broadcasts
    (at 100 TB one would cap it to the top-K heavy hitters —
    ``operators/heavy_hitters.py`` — with an OOV floor; the full table
    is exact here and keeps the oracle closed-form). One corpus-wide
    agg builds the table (map-side partials), the per-doc score is an
    explode → broadcast join → groupBy(doc_id) mean — one shuffle keyed
    by doc_id. Verified in pytest with float tolerance (ln() is libm-
    dependent in the last ulp, so this is deliberately NOT a value-hash
    driver entry; every integer column still matches exactly).
    """
    toks = word_tokens(F.col("text"))
    d = docs.filter(F.col("text").isNotNull()).select("doc_id", toks.alias("toks"))
    t = d.select("doc_id", F.explode("toks").alias("t"))
    freq = t.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    total = freq.agg(F.sum("cnt").cast("long").alias("total"))
    logp = (
        t.join(F.broadcast(freq), "t")
        .crossJoin(F.broadcast(total))
        .select("doc_id", (-F.log(F.col("cnt") / F.col("total"))).alias("nlp"))
    )
    scored = logp.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.avg("nlp").alias("mean_neg_logprob"),
    )
    base = d.select("doc_id")
    return base.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
        "mean_neg_logprob",
    )


DOC_UNIGRAM_LOGPROB_ORACLE_SQL = """
WITH l AS (
    SELECT doc_id, regexp_extract_all(lower(text), '[A-Za-z0-9]+') AS toks
    FROM documents WHERE text IS NOT NULL
),
t AS (SELECT doc_id, unnest(toks) AS t FROM l),
freq AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY t),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM freq),
s AS (
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           avg(-ln(CAST(freq.cnt AS DOUBLE) / tot.total)) AS mean_neg_logprob
    FROM t JOIN freq ON t.t = freq.t CROSS JOIN tot
    GROUP BY t.doc_id
)
SELECT l.doc_id,
       CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       s.mean_neg_logprob
FROM l LEFT JOIN s ON l.doc_id = s.doc_id
"""


# ---------------------------------------------------------------------------
# DSIR importance resampling (data selection toward a target distribution)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 256
DSIR_ALPHA = 1.0
DSIR_K = 100


def _dsir_bucket(col):
    """Hashed-feature bucket of one gram: md5's first 48 bits mod
    ``DSIR_BUCKETS`` — the same Spark/DuckDB-portable construction as
    ``_md5_byte``. Int-typed to match the scoring map literal's keys."""
    return F.pmod(
        F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long"),
        F.lit(DSIR_BUCKETS),
    ).cast("int")


def _dsir_grams(toks):
    """DSIR's hashed n-gram feature set: unigrams + word bigrams (the
    paper's ``ngrams=2`` default), as one string array per doc."""
    bigrams = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bigrams)


def doc_dsir_select(docs: DataFrame, k: int = DSIR_K) -> DataFrame:
    """DSIR — Data Selection with Importance Resampling (Xie et al.,
    NeurIPS 2023): keep the k raw documents whose hashed-n-gram profile
    best matches a TARGET corpus. Importance weight between two
    bag-of-hashed-ngrams models, then Gumbel-top-k resampling:

        log w(d) = Σ_grams(d) [ln p_target(bucket) − ln p_raw(bucket)]

    with Laplace-``DSIR_ALPHA`` smoothing over the ``DSIR_BUCKETS``
    feature buckets; the target seat is this repo's curation-kept set
    (``doc_curation_kept``), i.e. "select raw docs that look like the
    docs our quality gate already trusts". Ranking ``log w(d) +
    Gumbel(u(doc_id))`` samples WITHOUT replacement with probability
    ∝ softmax(log w) — the Gumbel-max trick, RNG-free and rerun-stable
    because u derives from md5('dsir:'||doc_id) (its own salt prefix,
    per the repo's salted-decision rule — never shared with the
    split/decontamination bytes).

    Scale shape: the FIT is one corpus-wide aggregate producing a
    B-row (rc, tc) count table with map-side partials, collapsed to
    driver literals — the same bounded-driver-action budget as the
    z-order bounds (B=256 here; the paper uses 10k — still literal-
    sized). SCORING is then map-only: an in-row ``F.aggregate`` over
    each doc's gram array against the B-entry log-ratio map literal —
    no explode shuffle, no vocabulary join (contrast
    ``doc_unigram_logprob``, whose table is vocabulary-sized and must
    broadcast-join). SELECTION is the constant-key map-side-trimmed
    ``grouped_topk`` (shuffle carries ≤ k rows per Arrow batch). The
    corpus is read twice (fit pass, score pass) — inherent to DSIR.

    Float venue: ln() and float sums are libm/summation-order sensitive,
    so this is a pytest value oracle, not a value-hash driver entry; the
    RANKING itself is ulp-robust (Gumbel key gaps dwarf 1e-13 sum noise
    — the ``doc_weighted_sample`` argument)."""
    import math

    base = docs.filter(F.col("text").isNotNull())
    # whitespace-only docs can never pass the curation gate (token band
    # starts at 20) but would 0-divide its ratio columns under ANSI mode
    # — exclude them from the target FIT only; they stay scorable (0.0)
    kept = doc_curation_kept(base.filter(F.trim("text") != "")).select(
        "doc_id", F.lit(True).alias("is_t")
    )
    grams = base.select(
        "doc_id", _dsir_grams(word_tokens(F.col("text"))).alias("grams")
    )
    counts = (
        grams.join(kept, "doc_id", "left")
        .select(F.explode("grams").alias("g"), "is_t")
        .select(_dsir_bucket(F.col("g")).alias("bucket"), "is_t")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("rc"),
            F.count(F.when(F.col("is_t"), 1)).cast("long").alias("tc"),
        )
    )
    rows = counts.collect()  # bounded: ≤ DSIR_BUCKETS rows
    rt = float(sum(r["rc"] for r in rows))
    tt = float(sum(r["tc"] for r in rows))
    denom = math.log(tt + DSIR_ALPHA * DSIR_BUCKETS) - math.log(
        rt + DSIR_ALPHA * DSIR_BUCKETS
    )
    lr = {
        int(r["bucket"]): math.log(r["tc"] + DSIR_ALPHA)
        - math.log(r["rc"] + DSIR_ALPHA)
        - denom
        for r in rows
    }
    # a bucket absent from the fit cannot appear at scoring time (same
    # corpus), but the smoothed OOV value keeps the lookup total anyway
    oov = -denom
    lr_map = F.create_map(
        *[
            x
            for b in sorted(lr)
            for x in (F.lit(b).cast("int"), F.lit(float(lr[b])))
        ]
    )
    score = F.aggregate(
        F.col("grams"),
        F.lit(0.0),
        lambda acc, g: acc
        + F.coalesce(
            F.element_at(lr_map, _dsir_bucket(g)), F.lit(float(oov))
        ),
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("dsir:"), F.col("doc_id").cast("string"))),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(1 << 48))
    scored = grams.select(
        "doc_id",
        F.size("grams").cast("long").alias("n_grams"),
        score.alias("log_importance"),
    ).select(
        "*",
        (F.col("log_importance") - F.log(-F.log(u))).alias("gumbel_key"),
        F.lit(0).alias("_all"),
    )
    from ..operators.topk import grouped_topk

    return grouped_topk(
        scored,
        keys=["_all"],
        order_col="gumbel_key",
        k=k,
        tiebreak="doc_id",
        ascending=False,
    ).select("doc_id", "n_grams", "log_importance", "rank")


def doc_dsir_oracle_sql(k: int = DSIR_K) -> str:
    b, a = DSIR_BUCKETS, DSIR_ALPHA
    return (
        "WITH kept AS (" + DOC_CURATION_ORACLE_SQL + "), "
        f"""
l AS (
    SELECT doc_id, regexp_extract_all(lower(text), '[A-Za-z0-9]+') AS toks
    FROM documents WHERE text IS NOT NULL
),
gr AS (
    SELECT doc_id,
           list_concat(
               toks,
               CASE WHEN len(toks) >= 2
                    THEN list_transform(range(2, len(toks) + 1),
                                        i -> toks[i - 1] || ' ' || toks[i])
                    ELSE CAST([] AS VARCHAR[]) END) AS grams
    FROM l
),
g AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(gram), 1, 12))::UBIGINT % {b} AS INTEGER) AS bucket
    FROM (SELECT doc_id, unnest(grams) AS gram FROM gr)
),
c AS (
    SELECT bucket,
           count(*) AS rc,
           count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM kept)) AS tc
    FROM g GROUP BY bucket
),
tot AS (SELECT sum(rc) AS rt, sum(tc) AS tt FROM c),
lr AS (
    SELECT bucket,
           ln(tc + {a}) - ln(tt + {a} * {b})
         - ln(rc + {a}) + ln(rt + {a} * {b}) AS lr
    FROM c CROSS JOIN tot
),
s AS (
    SELECT g.doc_id, sum(lr.lr) AS log_importance
    FROM g JOIN lr USING (bucket) GROUP BY g.doc_id
),
scored AS (
    SELECT gr.doc_id,
           CAST(len(gr.grams) AS BIGINT) AS n_grams,
           coalesce(s.log_importance, 0.0) AS log_importance
    FROM gr LEFT JOIN s ON gr.doc_id = s.doc_id
),
keyed AS (
    SELECT *,
           log_importance - ln(-ln(
               (('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 12))::UBIGINT
                + 0.5) / 281474976710656.0)) AS gk
    FROM scored
),
ranked AS (
    SELECT doc_id, n_grams, log_importance,
           row_number() OVER (ORDER BY gk DESC, doc_id ASC) AS rank
    FROM keyed
)
SELECT doc_id, n_grams, log_importance, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {k}
"""
    )


# ---------------------------------------------------------------------------
# text normalization (C4/CCNet-style cleanup battery)
# ---------------------------------------------------------------------------

# 1:1 character map: curly quotes, en/em dash, ellipsis, NBSP → ASCII
NORM_FROM = "‘’“”–—… "
NORM_TO = "''\"\"--. "
# control characters except \t (x09) and \n (x0a) — \r IS stripped,
# so CRLF corpora normalize to the same md5 dedup keys as LF ones
CTRL_RE = r"[\x00-\x08\x0b-\x1f\x7f]"


def doc_normalize(docs: DataFrame) -> DataFrame:
    """The corpus-cleanup battery every web-scale text pipeline runs
    before anything hash-keyed (C4/CCNet preprocessing stage): map
    typographic Unicode to ASCII (curly quotes, dashes, ellipsis,
    NBSP — 1:1 ``translate``), strip control characters (keeping
    ``\\t``/``\\n``), collapse horizontal whitespace runs to one space,
    drop spaces hugging newlines, cap blank runs at one empty line,
    and trim — emitting the char counts an audit wants. Determinism
    matters doubly here: every exact-dedup grain (doc/span/line) keys
    on md5(text), so normalization must be a pure function of the
    input or dedup decisions drift between runs/engines.

    Pure Catalyst (``translate`` + chained ``regexp_replace``) —
    whole-stage codegen, map-only, fused into the scan; the exact
    shape of ``doc_pii_scrub``, staged so the DuckDB oracle reproduces
    each intermediate."""
    t0 = F.col("text")
    n_ctrl = F.regexp_count(t0, F.lit(CTRL_RE))
    t = F.translate(t0, NORM_FROM, NORM_TO)
    t = F.regexp_replace(t, CTRL_RE, "")
    t = F.regexp_replace(t, r"[ \t]+", " ")
    t = F.regexp_replace(t, r" ?\n ?", "\n")
    t = F.regexp_replace(t, r"\n{3,}", "\n\n")
    t = F.trim(t)
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_raw"),
        n_ctrl.cast("long").alias("n_ctrl"),
        t.alias("text_norm"),
        F.length(t).cast("long").alias("n_chars_norm"),
        (t != t0).alias("changed"),
    )


DOC_NORMALIZE_ORACLE_SQL = r"""
WITH s0 AS (
    SELECT doc_id, text,
           CAST(length(text) AS BIGINT) AS n_chars_raw,
           CAST(len(regexp_extract_all(text,
                '[\x00-\x08\x0b-\x1f\x7f]')) AS BIGINT) AS n_ctrl,
           translate(text,
                     chr(8216) || chr(8217) || chr(8220) || chr(8221) ||
                     chr(8211) || chr(8212) || chr(8230) || chr(160),
                     e'\'\'""--. ') AS t
    FROM documents WHERE text IS NOT NULL
),
s1 AS (SELECT doc_id, n_chars_raw, n_ctrl, text,
              regexp_replace(t, '[\x00-\x08\x0b-\x1f\x7f]', '', 'g') AS t
       FROM s0),
s2 AS (SELECT doc_id, n_chars_raw, n_ctrl, text,
              regexp_replace(t, '[ \t]+', ' ', 'g') AS t FROM s1),
s3 AS (SELECT doc_id, n_chars_raw, n_ctrl, text,
              regexp_replace(t, ' ?\n ?', e'\n', 'g') AS t FROM s2),
s4 AS (SELECT doc_id, n_chars_raw, n_ctrl, text,
              regexp_replace(t, '\n{3,}', e'\n\n', 'g') AS t FROM s3)
SELECT doc_id, n_chars_raw, n_ctrl,
       trim(t) AS text_norm,
       CAST(length(trim(t)) AS BIGINT) AS n_chars_norm,
       (trim(t) <> text) AS changed
FROM s4
"""


# ---------------------------------------------------------------------------
# character-entropy quality signal
# ---------------------------------------------------------------------------


def doc_char_entropy(docs: DataFrame) -> DataFrame:
    """Per-document Shannon entropy of the character distribution (nats)
    — the classic gibberish/boilerplate detector of web-scale quality
    filters: keyboard-mash and binary-ish junk score anomalously HIGH,
    single-character padding and repeated boilerplate anomalously LOW,
    prose sits in a narrow band (filterable by percentile, e.g. via the
    GK sketch).

    Entirely IN-ROW Catalyst: a doc's characters never leave its row —
    distinct chars via ``array_distinct``, per-char counts via
    ``transform``+``filter``, the −Σ p·ln p fold via ``aggregate``. No
    shuffle, no Python, map-only. Per-doc cost is O(distinct × len);
    documents are bounded-length (100 TB means more docs, not longer
    ones), so the constant is fine — the ``doc_repetition_stats``
    sort+run-length fold is the fallback shape if a corpus had
    megabyte rows. Float venue: ln() ⇒ pytest tolerance oracle, like
    every entropy/logprob score here; the integer columns are exact."""
    chars = F.filter(F.split(F.col("text"), ""), lambda c: c != "")
    n = F.size(chars)
    dist = F.array_distinct(chars)
    counts = F.transform(
        dist, lambda c: F.size(F.filter(chars, lambda x: x == c))
    )
    p_logp = F.aggregate(
        counts,
        F.lit(0.0),
        lambda acc, cnt: acc
        + (cnt.cast("double") / n) * F.log(cnt.cast("double") / n),
    )
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        n.cast("long").alias("n_chars"),
        F.size(dist).cast("long").alias("n_distinct_chars"),
        F.when(n > 0, -p_logp).otherwise(F.lit(0.0)).alias("char_entropy"),
    )


DOC_CHAR_ENTROPY_ORACLE_SQL = """
WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
c AS (
    SELECT doc_id, unnest(string_split(text, '')) AS ch FROM d
),
per_char AS (
    SELECT doc_id, ch, count(*) AS cnt FROM c WHERE ch <> '' GROUP BY doc_id, ch
),
tot AS (SELECT doc_id, sum(cnt) AS n FROM per_char GROUP BY doc_id),
ent AS (
    SELECT p.doc_id,
           CAST(t.n AS BIGINT) AS n_chars,
           CAST(count(*) AS BIGINT) AS n_distinct_chars,
           -sum((CAST(cnt AS DOUBLE) / t.n) * ln(CAST(cnt AS DOUBLE) / t.n))
               AS char_entropy
    FROM per_char p JOIN tot t USING (doc_id) GROUP BY p.doc_id, t.n
)
SELECT d.doc_id,
       coalesce(e.n_chars, 0) AS n_chars,
       coalesce(e.n_distinct_chars, 0) AS n_distinct_chars,
       coalesce(e.char_entropy, 0.0) AS char_entropy
FROM d LEFT JOIN ent e ON d.doc_id = e.doc_id
"""
