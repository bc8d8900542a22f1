"""North-star extension queries (BASELINE.json): dedup, text analysis,
similarity search over `documents` / `embeddings`.

These are first-class operators for a 100 TB training-data pipeline.
Heavier algorithms (MinHash-LSH, SimHash, ANN) live in
``operators/`` — entries here are the oracle-checkable query surface.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import content_fingerprint, rolling_hash
from ..sources.testdata import load_table
from .catalog import query

# Tiny fixed stopword list shared by Spark + oracle text.
_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
_STOP_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)

# BPE-ish token regex: alpha runs | digit runs | single non-space symbol.
# Kept to constructs with identical semantics in Java regex (Spark) and
# RE2 (DuckDB).
_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


# ---------------------------------------------------------------------------
# Exact deduplication (hash-groupBy): keep the lowest doc_id per text.
# ---------------------------------------------------------------------------
@query(
    "dedup_exact",
    extra=True,  # full-text-shuffle anchor; dedup_fingerprints carries the driver row
    tags=("dedup",),
    oracle="""
SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
FROM documents
GROUP BY text
ORDER BY doc_id
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup = hash aggregate on the full text. At 100 TB you'd
    group on a content hash instead of the raw text to shrink shuffle
    width — that variant is `dedup_fingerprint` below."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("doc_id", "n_copies")
        .orderBy("doc_id")
    )


@query(
    "dedup_fingerprint",
    extra=True,  # merged into dedup_fingerprints
    tags=("dedup",),
    oracle="""
WITH fp AS (
  SELECT doc_id,
         md5(lower(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))) AS fingerprint
  FROM documents
)
SELECT fingerprint, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM fp
GROUP BY fingerprint
ORDER BY keep_doc_id
""",
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprint dedup: whitespace-collapse + lower
    + md5. Shuffles 16-byte keys instead of full documents — the
    scale-path for exact dedup (the md5 hex string is identical across
    engines, so it doubles as an oracle-checkable content hash)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = content_fingerprint("text")
    return (
        docs.select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("keep_doc_id")
    )


# ---------------------------------------------------------------------------
# Text analysis: token counting, quality scoring, language stats.
# ---------------------------------------------------------------------------
@query(
    "text_quality_by_lang",
    extra=True,  # merged into text_quality_percentiles
    tags=("text",),
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang,
         n_chars,
         len(string_split(text, ' ')) AS n_ws_tokens,
         len(regexp_extract_all(text, '{_TOKEN_RE}')) AS n_bpe_tokens,
         len(list_filter(string_split(text, ' '), w -> w IN ({_STOP_SQL}))) AS n_stopwords
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_ws_tokens) AS BIGINT) AS total_ws_tokens,
       CAST(SUM(n_bpe_tokens) AS BIGINT) AS total_bpe_tokens,
       ROUND(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_ws_tokens), 4) AS chars_per_token,
       ROUND(CAST(SUM(n_stopwords) AS DOUBLE) / SUM(n_ws_tokens), 4) AS stopword_ratio
FROM tok
GROUP BY lang
ORDER BY lang
""",
)
def text_quality_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring primitives (token counts, stopword ratio) rolled
    up per language. All tokenization is JVM-side built-ins — no Python
    in the hot path; integer sums keep the oracle hash exact."""
    docs = load_table(spark, sf_dir, "documents")
    ws_tokens = F.split(F.col("text"), " ")
    tok = docs.select(
        "lang",
        "n_chars",
        F.size(ws_tokens).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_RE), F.lit(0))).alias("n_bpe_tokens"),
        F.size(
            F.filter(ws_tokens, lambda w: w.isin(*_STOPWORDS))
        ).alias("n_stopwords"),
    )
    return (
        tok.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_ws_tokens").alias("total_ws_tokens"),
            F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
            F.round(F.sum("n_chars").cast("double") / F.sum("n_ws_tokens"), 4).alias(
                "chars_per_token"
            ),
            F.round(F.sum("n_stopwords").cast("double") / F.sum("n_ws_tokens"), 4).alias(
                "stopword_ratio"
            ),
        )
        .orderBy("lang")
    )


@query(
    "token_counts_by_source",
    extra=True,  # merged into token_stats_by_source
    tags=("text",),
    oracle=f"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(regexp_extract_all(text, '{_TOKEN_RE}'))) AS BIGINT) AS total_tokens,
       CAST(MIN(len(regexp_extract_all(text, '{_TOKEN_RE}'))) AS BIGINT) AS min_tokens,
       CAST(MAX(len(regexp_extract_all(text, '{_TOKEN_RE}'))) AS BIGINT) AS max_tokens
FROM documents
GROUP BY source
ORDER BY source
""",
)
def token_counts_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting per source — the budgeting query every
    training-data pipeline runs before a mix is finalized."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_RE), F.lit(0)))
    return (
        docs.select("source", n_tok.alias("n_tokens"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .orderBy("source")
    )


@query(
    "doc_length_percentiles",
    extra=True,  # merged into text_quality_percentiles
    tags=("text",),
    oracle="""
WITH ordered AS (
  SELECT lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT lang,
       MIN(n_chars) AS min_chars,
       MIN(CASE WHEN rn = CAST(floor((n + 1) / 2.0) AS BIGINT) THEN n_chars END) AS median_chars,
       MAX(n_chars) AS max_chars
FROM ordered
GROUP BY lang
ORDER BY lang
""",
)
def doc_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete median of document lengths per lang, computed explicitly
    via ROW_NUMBER so both engines use identical (non-interpolating)
    semantics. percentile_approx is the 100 TB path; this exact variant
    is its correctness anchor at test scale."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("lang")
    ordered = docs.select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    mid = F.floor((F.col("n") + 1) / 2.0).cast("bigint")
    return (
        ordered.groupBy("lang")
        .agg(
            F.min("n_chars").alias("min_chars"),
            F.min(F.when(F.col("rn") == mid, F.col("n_chars"))).alias("median_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Similarity search: brute-force cosine top-k (the baseline ANN path).
# ---------------------------------------------------------------------------
@query(
    "similarity_topk_cosine",
    headline=True,
    tags=("similarity",),
    oracle="""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
), c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings
), scored AS (
  SELECT q.query_id, c.neighbor_id,
         list_dot_product(q.qv, c.cv)
           / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) AS cos_sim
  FROM q CROSS JOIN c
  WHERE q.query_id <> c.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, ROUND(cos_sim, 4) AS cosine_sim
FROM ranked
WHERE rank <= 5
ORDER BY query_id, rank
""",
)
def similarity_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the (tiny) query set against
    the full corpus — each partition scores its shard independently, then
    a per-query top-k window. This is the exact baseline an IVF/LSH path
    (operators/similarity.py) is validated against at scale."""
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    as_double = lambda c: F.transform(F.col(c), lambda x: x.cast("double"))  # noqa: E731

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    # Norms hoisted per ROW (one dot per pair instead of three) —
    # bit-identical to the inline cosine the oracle computes; the
    # substitution property is fuzz-pinned in tests/test_properties.py.
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        as_double("embedding").alias("qv"),
        F.sqrt(dot(as_double("embedding"), as_double("embedding"))).alias("_qn"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        as_double("embedding").alias("cv"),
        F.sqrt(dot(as_double("embedding"), as_double("embedding"))).alias("_cn"),
    )

    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("cv")) / (F.col("_qn") * F.col("_cn"))).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 4).alias("cosine_sim"))
        .orderBy("query_id", "rank")
    )


@query(
    "takedown_expansion_radius",
    extra=True,  # what-if face of operators/takedown.semantic_expand_ids
    tags=("takedown", "similarity", "llm-pipeline"),
    oracle="""
WITH s AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS sv
  FROM embeddings WHERE vec_id < 3
), c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings
), m AS (
  SELECT c.vec_id,
         MAX(list_dot_product(s.sv, c.cv)
             / (sqrt(list_dot_product(s.sv, s.sv))
                * sqrt(list_dot_product(c.cv, c.cv)))) AS cos_max
  FROM c CROSS JOIN s
  GROUP BY c.vec_id
)
SELECT t.threshold,
       CAST(COUNT(CASE WHEN m.cos_max >= t.threshold THEN 1 END) AS BIGINT)
         AS n_expanded
FROM (VALUES (0.70), (0.80), (0.90), (0.95)) t(threshold)
CROSS JOIN m
GROUP BY t.threshold
ORDER BY t.threshold
""",
)
def takedown_expansion_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blast-radius what-if for a semantic takedown: before running
    ``cascade_takedown`` with expansion, an operator wants to know how
    many vectors each candidate cosine threshold would sweep in — the
    difference between "this removes the doc and its two mirrors" and
    "this removes a third of the corpus" (the fat-finger case
    ``semantic_expand_ids``' max_expansion guard hard-stops; this query
    is the dial you read before choosing the threshold). One corpus
    pass: the seed rows broadcast, each corpus vector keeps only its
    MAX cosine against any seed (max is order-free, so the aggregate
    is engine-exact given the fuzz-pinned bit-identical cosine), then
    a 4-row threshold frame counts membership per threshold. Seeds
    count themselves (cos 1.0) — the radius is the full erased set.

    Scale shape: |corpus| × |seeds| map-side folds (never corpus²),
    one groupBy on vec_id, one KB-frame join — the same shape as the
    expansion itself, read-only."""
    emb = load_table(spark, sf_dir, "embeddings")
    as_double = lambda c: F.transform(F.col(c), lambda x: x.cast("double"))  # noqa: E731

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    s = emb.filter(F.col("vec_id") < 3).select(
        as_double("embedding").alias("sv"),
        F.sqrt(dot(as_double("embedding"), as_double("embedding"))).alias("_sn"),
    )
    c = emb.select(
        "vec_id",
        as_double("embedding").alias("cv"),
        F.sqrt(dot(as_double("embedding"), as_double("embedding"))).alias("_cn"),
    )
    cos_max = (
        c.crossJoin(F.broadcast(s))
        .select(
            "vec_id",
            (dot(F.col("sv"), F.col("cv")) / (F.col("_sn") * F.col("_cn"))).alias(
                "cos"
            ),
        )
        .groupBy("vec_id")
        .agg(F.max("cos").alias("cos_max"))
    )
    thresholds = spark.createDataFrame(
        [(0.70,), (0.80,), (0.90,), (0.95,)], "threshold double"
    )
    return (
        F.broadcast(thresholds)
        .crossJoin(cos_max)
        .groupBy("threshold")
        .agg(
            F.count(F.when(F.col("cos_max") >= F.col("threshold"), 1))
            .cast("long")
            .alias("n_expanded")
        )
        .orderBy("threshold")
    )


@query(
    "knn_label_agreement",
    extra=True,  # QA diagnostic over the pinned brute-force top-k
    tags=("similarity", "quality", "llm-pipeline"),
    oracle="""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label AS qlabel
  FROM embeddings WHERE vec_id < 100
), c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv, label AS nlabel
  FROM embeddings
), scored AS (
  SELECT q.query_id, q.qlabel, c.neighbor_id, c.nlabel,
         list_dot_product(q.qv, c.cv)
           / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) AS cos_sim
  FROM q CROSS JOIN c
  WHERE q.query_id <> c.neighbor_id
), ranked AS (
  SELECT query_id, qlabel, nlabel,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT qlabel AS label,
       CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS matches,
       (10000 * CAST(SUM(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) AS BIGINT))
         // (CAST(COUNT(DISTINCT query_id) AS BIGINT) * 5) AS agreement_bp
FROM ranked
WHERE rank <= 5
GROUP BY qlabel
ORDER BY label
""",
)
def knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality QA: for each of the first 100 vectors, how
    often do its 5 exact-cosine nearest neighbors share its label? Low
    agreement for a label means that region of embedding space doesn't
    separate — the metric an embedding-model upgrade is gated on before
    the pipeline trusts the vectors for near-dup and retrieval. Exact
    integer scoring (matches, basis points via integer division) — no
    float-aggregation drift between engines; the cosine ranking reuses
    the hoisted-norm form pinned bit-identical to the oracle's inline
    cosine (tests/test_properties.py). At 100 TB the same two-stage
    shape runs over an ANN top-k instead of the brute-force scorer —
    agreement is then a lower bound, which is the conservative
    direction for a quality gate."""
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    as_double = lambda c: F.transform(F.col(c), lambda x: x.cast("double"))  # noqa: E731

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    q = emb.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        as_double("embedding").alias("qv"),
        F.sqrt(dot(as_double("embedding"), as_double("embedding"))).alias("_qn"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("nlabel"),
        as_double("embedding").alias("cv"),
        F.sqrt(dot(as_double("embedding"), as_double("embedding"))).alias("_cn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "qlabel",
            "neighbor_id",
            "nlabel",
            (dot(F.col("qv"), F.col("cv")) / (F.col("_qn") * F.col("_cn"))).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    top = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 5)
    return (
        top.groupBy(F.col("qlabel").alias("label"))
        .agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.sum(
                F.when(F.col("nlabel") == F.col("qlabel"), 1).otherwise(0)
            ).alias("matches"),
        )
        .select(
            "label",
            "n_queries",
            "matches",
            F.expr("(10000 * matches) div (n_queries * 5)").alias("agreement_bp"),
        )
        .orderBy("label")
    )


@query(
    "embedding_label_stats",
    extra=True,  # plain agg family amply covered by driver rows
    tags=("similarity",),
    oracle="""
SELECT label,
       COUNT(*) AS n_vectors,
       MIN(len(embedding)) AS min_dim,
       MAX(len(embedding)) AS max_dim
FROM embeddings
GROUP BY label
ORDER BY label
""",
)
def embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sanity stats over the embedding column (array cardinality checks
    are the cheap guardrail before any ANN build)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min(F.size("embedding")).alias("min_dim"),
            F.max(F.size("embedding")).alias("max_dim"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Language-ID heuristic + document fingerprinting (functions/text.py).
# ---------------------------------------------------------------------------
def _langid_oracle() -> str:
    from ..functions.text import LANG_MARKERS

    score = lambda ms: "len(list_filter(string_split(text, ' '), w -> w IN ({})))".format(  # noqa: E731
        ", ".join(f"'{w}'" for w in ms)
    )
    scores = {lang: score(ms) for lang, ms in LANG_MARKERS.items()}
    cases = " ".join(
        f"WHEN {scores[lang]} = m THEN '{lang}'" for lang in LANG_MARKERS
    )
    m = "greatest({})".format(", ".join(scores.values()))
    return f"""
WITH scored AS (
  SELECT lang AS lang_actual,
         CASE {cases} END AS lang_pred
  FROM (SELECT lang, text, {m} AS m FROM documents)
)
SELECT lang_actual, lang_pred, COUNT(*) AS n_docs
FROM scored
GROUP BY lang_actual, lang_pred
ORDER BY lang_actual, lang_pred
"""


@query(
    "language_id_confusion",
    tags=("text", "langid"),
    oracle=_langid_oracle(),
)
def language_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language ID applied to the corpus, rolled up as a
    (labeled lang × predicted lang) confusion matrix. The synthetic
    testdata shares one vocabulary across langs, so predictions collapse
    to the tie-break language — the matrix exposes that honestly; on
    real web text the same operator separates languages by function
    words. Oracle replays the identical scoring in SQL."""
    from ..functions.text import language_id

    docs = load_table(spark, sf_dir, "documents")
    pred = language_id(F.split(F.col("text"), " "))
    return (
        docs.select(F.col("lang").alias("lang_actual"), pred.alias("lang_pred"))
        .groupBy("lang_actual", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang_actual", "lang_pred")
    )


@query(
    "doc_rolling_fingerprint",
    extra=True,  # merged into dedup_fingerprints
    tags=("text", "fingerprint"),
    oracle="""
WITH fp AS (
  SELECT doc_id,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
           (a, b) -> (a * 131 + b) % 1000000007) AS fingerprint
  FROM documents
)
SELECT fingerprint, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM fp
GROUP BY fingerprint
ORDER BY keep_doc_id
""",
)
def doc_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp rolling-hash fingerprints (base 131 mod 1e9+7) rolled
    up as a dedup table — the streaming-friendly cousin of the md5
    fingerprint (a rolling hash extends incrementally as chunks arrive,
    so at 100 TB it fingerprints append-only shards without re-reading
    them). Both engines fold the identical character-code sequence."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", rolling_hash(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("keep_doc_id")
    )


# ---------------------------------------------------------------------------
# Document chunking + deterministic sampling — the two curation steps
# between dedup and training-mix assembly.
# ---------------------------------------------------------------------------
@query(
    "chunk_documents",
    tags=("text", "chunking"),
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words,
         CAST(ceil(greatest(len(string_split(text, ' ')) - 16, 1) / 48.0) AS BIGINT) AS nc
  FROM documents WHERE doc_id < 50
),
ix AS (
  SELECT doc_id, words, unnest(generate_series(0, nc - 1)) AS chunk_id
  FROM w
)
SELECT doc_id,
       CAST(chunk_id AS INT) AS chunk_id,
       array_to_string(words[chunk_id*48 + 1 : chunk_id*48 + 64], ' ') AS chunk_text,
       len(string_split(array_to_string(words[chunk_id*48 + 1 : chunk_id*48 + 64], ' '), ' ')) AS chunk_words
FROM ix
ORDER BY doc_id, chunk_id
""",
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window document chunking (64-word chunks, stride 48 →
    16-word overlap) — the standard pre-tokenization step for training
    corpora. Pure built-ins: sequence → slice → posexplode; each chunk
    carries (doc_id, chunk_id) lineage for provenance joins."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    chunk, stride = 64, 48
    words = F.col("_w")
    n_chunks = F.ceil(F.greatest(F.size(words) - (chunk - stride), F.lit(1)) / stride).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(words, i * stride + 1, chunk), " "),
    )
    return (
        docs.select("doc_id", F.split("text", " ").alias("_w"))
        .select("doc_id", F.posexplode(chunks).alias("chunk_id", "chunk_text"))
        .select(
            "doc_id",
            "chunk_id",
            "chunk_text",
            F.size(F.split("chunk_text", " ")).alias("chunk_words"),
        )
        .orderBy("doc_id", "chunk_id")
    )


@query(
    "deterministic_sample",
    extra=True,  # hash-mod sampling has a driver row via stratified_sample_by_lang
    tags=("sampling",),
    oracle="""
WITH h AS (
  SELECT source, doc_id, n_chars,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS bucket
  FROM documents
)
SELECT source,
       COUNT(*) AS sampled_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sampled_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
FROM h
WHERE bucket < 20
GROUP BY source
ORDER BY source
""",
)
def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 20% corpus sample via hash-mod bucketing (md5 of the
    stable id — engine-portable, partitioning-independent, re-runnable).
    This is how a training mix samples at 100 TB: `rand()` or sampleBy
    depend on partition order and can't be audited; a content-hash
    bucket can be re-derived forever."""
    from ..operators.simhash import token_hash60

    docs = load_table(spark, sf_dir, "documents")
    bucket = token_hash60(F.col("doc_id").cast("string")) % 100
    return (
        docs.filter(bucket < 20)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("sampled_docs"),
            F.sum("n_chars").alias("sampled_chars"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .orderBy("source")
    )


@query(
    "heavy_hitters_terms",
    extra=True,  # approximate family's anchors live in tests/test_approx.py
    tags=("sketch", "misra-gries", "heavy-hitters", "mapInPandas"),
    oracle="""
WITH t AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents
),
tot AS (SELECT COUNT(*) AS n FROM t),
c AS (SELECT term, COUNT(*) AS cnt FROM t GROUP BY term)
SELECT term, CAST(cnt AS BIGINT) AS cnt
FROM c, tot
WHERE cnt * 200 > n
ORDER BY cnt DESC, term
""",
)
def heavy_hitters_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terms above 1/200 of all token occurrences via Misra-Gries
    candidate pruning + one exact count pass
    (``functions/approx.heavy_hitters_exact``). The sketch only PRUNES
    — MG's superset guarantee means every true heavy hitter reaches the
    exact recount — so the result is bit-identical to the oracle's full
    GROUP BY, while the Spark side shuffles candidate terms only
    (≤ k·partitions rows) instead of every distinct term. This is the
    heavy-hitter shape at 100 TB: the full-term shuffle IS the cost,
    and the Zipf tail (the overwhelming majority of distinct terms)
    never leaves its scan partition."""
    from ..functions.approx import heavy_hitters_exact

    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(F.explode(F.split(F.col("text"), " ")).alias("term"))
    return heavy_hitters_exact(terms, "term", k=200)


@query(
    "weighted_sample_by_quality",
    extra=True,  # sampling family's driver row is stratified_sample_by_lang
    tags=("sampling", "curation", "quality"),
    oracle="""
WITH scored AS (
  SELECT source, doc_id, n_chars,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
           AS bucket,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_filter(string_split(text, ' '),
                         t -> regexp_full_match(t, '[a-z]+'))) AS n_alpha
  FROM documents
)
SELECT source,
       COUNT(*) AS docs_in,
       CAST(SUM(CASE WHEN bucket * n_tokens < 100 * n_alpha THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_kept,
       CAST(SUM(CASE WHEN bucket * n_tokens < 100 * n_alpha THEN n_chars ELSE 0 END)
            AS BIGINT) AS chars_kept,
       ROUND(100.0 * SUM(CASE WHEN bucket * n_tokens < 100 * n_alpha THEN 1 ELSE 0 END)
             / COUNT(*), 2) AS kept_pct
FROM scored
GROUP BY source
ORDER BY source
""",
)
def weighted_sample_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc importance sampling with keep-probability equal to the
    doc's quality weight — here the alphabetic-token fraction — via the
    same auditable md5-bucket mechanism as ``deterministic_sample``:
    keep iff ``bucket·n_tokens < 100·n_alpha``, an ALL-INTEGER
    cross-multiplication, so the decision is bit-exact across engines
    (no float weight ever materializes) and re-derivable forever from
    (doc_id, text) alone. This is how a quality-weighted training mix
    downsamples at 100 TB: ``rand() < w`` can't be audited or replayed,
    a content-hash threshold can. The whole scoring is a map-side
    projection (split + filter-lambda + hash, whole-stage codegen);
    the only shuffle is the per-source rollup."""
    from ..operators.simhash import token_hash60

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    scored = docs.select(
        "source",
        "n_chars",
        (token_hash60(F.col("doc_id").cast("string")) % 100).alias("bucket"),
        F.size(toks).alias("n_tokens"),
        # \A..\z, not ^..$: Java's $ matches BEFORE a trailing newline,
        # so a token like 'hello\n' would count as alphabetic on the
        # Spark side but fail DuckDB's regexp_full_match — flipping the
        # integer keep decision on corpora with embedded newlines. \z
        # anchors at absolute end in Java, matching RE2's full-match.
        F.size(F.filter(toks, lambda t: t.rlike(r"\A[a-z]+\z"))).alias("n_alpha"),
    )
    keep = F.col("bucket") * F.col("n_tokens") < 100 * F.col("n_alpha")
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_in"),
            F.sum(keep.cast("long")).alias("docs_kept"),
            F.sum(F.when(keep, F.col("n_chars")).otherwise(0)).alias("chars_kept"),
            F.round(
                F.lit(100.0) * F.sum(keep.cast("long")) / F.count(F.lit(1)), 2
            ).alias("kept_pct"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Capstone: the full curation funnel as ONE lazy DAG.
# ---------------------------------------------------------------------------
@query(
    "curation_pipeline",
    tags=("text", "dedup", "sampling", "pipeline"),
    oracle=f"""
WITH deduped AS (
  SELECT * FROM (
    SELECT doc_id, text, lang, source, n_chars,
           ROW_NUMBER() OVER (
             PARTITION BY md5(lower(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')))
             ORDER BY doc_id) AS rn
    FROM documents
  ) WHERE rn = 1
),
quality AS (
  SELECT * FROM deduped
  WHERE n_chars >= 80 AND len(string_split(text, ' ')) >= 10
),
sampled AS (
  SELECT * FROM quality
  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 50
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(len(regexp_extract_all(text, '{_TOKEN_RE}'))) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
FROM sampled
GROUP BY lang
ORDER BY lang
""",
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-corpus funnel — fingerprint dedup →
    quality gate → deterministic 50% sample → per-language token
    budget — composed as ONE lazy DataFrame DAG.

    Catalyst fuses the three filter stages into the scan projection; the
    only shuffles are the dedup window (16-byte md5 keys) and the final
    tiny groupBy. This is the shape a 100 TB curation run takes: no
    intermediate materialization, every stage's predicate pushed as
    close to the parquet scan as semantics allow.
    """
    from pyspark.sql import Window

    from ..operators.simhash import token_hash60

    docs = load_table(spark, sf_dir, "documents")
    fp = content_fingerprint("text")
    deduped = (
        docs.withColumn(
            "rn", F.row_number().over(Window.partitionBy(fp).orderBy("doc_id"))
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    quality = deduped.filter(
        (F.col("n_chars") >= 80) & (F.size(F.split("text", " ")) >= 10)
    )
    sampled = quality.filter(token_hash60(F.col("doc_id").cast("string")) % 100 < 50)
    return (
        sampled.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.size(F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_RE), F.lit(0)))
            ).alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Decontamination: flag training docs whose word 5-grams collide with a
# held-out eval/benchmark slice (standard LLM-data hygiene — eval
# overlap leaks benchmark answers into training).
# ---------------------------------------------------------------------------
@query(
    "decontaminate_eval_overlap",
    tags=("decontamination", "ngram", "broadcast"),
    oracle="""
WITH s AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(w) - 4, 0)),
           i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]))) AS gram
  FROM s
),
ev AS (SELECT doc_id AS eval_id, gram FROM g WHERE doc_id % 7 = 0),
tr AS (SELECT doc_id, gram FROM g WHERE doc_id % 7 <> 0)
SELECT tr.doc_id,
       COUNT(DISTINCT tr.gram) AS n_shared_grams,
       COUNT(DISTINCT ev.eval_id) AS n_eval_docs_hit
FROM tr JOIN ev ON tr.gram = ev.gram
GROUP BY tr.doc_id
HAVING COUNT(DISTINCT tr.gram) >= 3
ORDER BY doc_id
""",
)
def decontaminate_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs sharing >= 3 distinct word 5-grams with the eval
    slice (deterministic stand-in: doc_id % 7 == 0). The eval side is
    tiny by construction, so its exploded gram set is BROADCAST — the
    100 TB-side plan is scan -> explode -> broadcast-hash-join ->
    partial agg, with no shuffle of training grams; only the matched
    slice aggregates. (A real pipeline swaps the eval slice for its
    benchmark suites; the plumbing is identical.)"""
    from ..operators.minhash import shingles_from_words

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("_w")
    ).select("doc_id", F.explode(shingles_from_words(F.col("_w"), 5)).alias("gram"))
    ev = grams.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("eval_id"), "gram"
    )
    tr = grams.filter(F.col("doc_id") % 7 != 0)
    return (
        tr.join(F.broadcast(ev), "gram")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gram").alias("n_shared_grams"),
            F.countDistinct("eval_id").alias("n_eval_docs_hit"),
        )
        .filter(F.col("n_shared_grams") >= 3)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Stratified sampling: per-language target rates (the auditable
# hash-mod analog of sampleBy for building a training mix).
# ---------------------------------------------------------------------------
_STRATA_RATES = {"en": 60, "de": 40, "fr": 40, "es": 20, "zh": 20}
_RATES_SQL = ", ".join(f"('{k}', {v})" for k, v in _STRATA_RATES.items())


@query(
    "stratified_sample_by_lang",
    tags=("sampling", "stratified", "broadcast"),
    oracle=f"""
WITH rates(lang, pct) AS (VALUES {_RATES_SQL}),
h AS (
  SELECT d.lang, d.doc_id, d.n_chars, r.pct,
         CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS bucket
  FROM documents d JOIN rates r ON d.lang = r.lang
)
SELECT lang,
       COUNT(*) AS sampled_docs,
       CAST(MIN(pct) AS INTEGER) AS target_pct,
       ROUND(100.0 * COUNT(*) / MIN(strata_n), 1) AS achieved_pct,
       CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
FROM (SELECT *, COUNT(*) OVER (PARTITION BY lang) AS strata_n FROM h)
WHERE bucket < pct
GROUP BY lang
ORDER BY lang
""",
)
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language training-mix sampling at declared rates (en 60%,
    de/fr 40%, es/zh 20%) via the same auditable md5-bucket used by
    ``deterministic_sample`` — unlike ``df.sampleBy`` the membership is
    a pure function of doc_id, so the mix is reproducible across runs,
    partitionings, and engines. The rates table is a broadcast join
    (literally a dozen rows); at 100 TB the plan stays scan ->
    broadcast-join -> filter -> partial agg with no extra shuffle."""
    from pyspark.sql.window import Window

    from ..operators.simhash import token_hash60

    docs = load_table(spark, sf_dir, "documents")
    rates = F.create_map(
        *[F.lit(x) for kv in _STRATA_RATES.items() for x in kv]
    )
    bucket = token_hash60(F.col("doc_id").cast("string")) % 100
    wn = Window.partitionBy("lang")
    base = (
        docs.filter(F.col("lang").isin(*_STRATA_RATES))
        .select(
            "lang",
            "doc_id",
            "n_chars",
            rates[F.col("lang")].alias("pct"),
            bucket.alias("bucket"),
        )
        .withColumn("strata_n", F.count(F.lit(1)).over(wn))
    )
    return (
        base.filter(F.col("bucket") < F.col("pct"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("sampled_docs"),
            F.min("pct").cast("int").alias("target_pct"),
            F.round(F.lit(100.0) * F.count(F.lit(1)) / F.min("strata_n"), 1).alias(
                "achieved_pct"
            ),
            F.sum("n_chars").alias("sampled_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# TF-IDF-style keyword extraction: top-3 distinguishing terms per doc.
# ---------------------------------------------------------------------------
@query(
    "tfidf_top_terms",
    tags=("text", "tfidf", "explode", "window"),
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM words GROUP BY doc_id, term
),
df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df
  FROM words GROUP BY term
),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         CAST(tf.tf AS DOUBLE) / df.df AS score
  FROM tf JOIN df ON tf.term = df.term
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term) AS rank
  FROM scored
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       ROUND(score, 6) AS score, CAST(rank AS BIGINT) AS rank
FROM ranked
WHERE rank <= 3 AND doc_id < 50
ORDER BY doc_id, rank
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinguishing terms per document by tf/df — the TF-IDF
    shape with an exactly-rounded rational score (IEEE division of two
    ints is bit-identical across engines, unlike ln(N/df), so the
    oracle hash stays exact; the ln variant changes only the monotonic
    transform, not the ranking for fixed N). Plan: explode -> two hash
    aggs (term grain + (doc,term) grain) -> shuffle join on term ->
    per-doc window. At 100 TB the df side is Zipf-skewed; AQE's
    skew-join split handles the head terms, and the doc_id filter
    prunes the window to the reported slice only AFTER df is computed
    corpus-wide (df must see every doc)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = words.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(df, "term").withColumn(
        "score", F.col("tf").cast("double") / F.col("df")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter((F.col("rank") <= 3) & (F.col("doc_id") < 50))
        .select("doc_id", "term", "tf", "df", F.round("score", 6).alias("score"), "rank")
        .orderBy("doc_id", "rank")
    )


# ---------------------------------------------------------------------------
# n-gram language-model quality scoring (CCNet-style, Wenzek et al. 2020:
# filter/bucket web text by LM perplexity). The model here is a bigram
# MLE trained on the corpus itself — all counts are integers, so both
# engines see identical probabilities, and the per-doc score is a sum of
# per-term values each rounded to fixed decimals BEFORE a DECIMAL sum
# (order-independent, unlike a raw double sum, which would make the
# cross-engine hash depend on aggregation order).
# ---------------------------------------------------------------------------
@query(
    "lm_bigram_perplexity",
    extra=True,  # local-harness coverage; text-quality family holds the driver row
    tags=("text", "lm", "perplexity", "curation"),
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
big AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, greatest(len(w) - 1, 0)),
           i -> w[i] || ' ' || w[i+1])) AS bigram,
         unnest(list_transform(
           generate_series(1, greatest(len(w) - 1, 0)),
           i -> w[i])) AS ctx
  FROM toks
),
cb AS (SELECT bigram, COUNT(*) AS c_big FROM big GROUP BY bigram),
cc AS (SELECT ctx, COUNT(*) AS c_ctx FROM big GROUP BY ctx),
scored AS (
  SELECT b.doc_id,
         CAST(ROUND(log10(CAST(cc.c_ctx AS DOUBLE) / cb.c_big), 6)
              AS DECIMAL(18,6)) AS neglog10,
         CASE WHEN cb.c_big = 1 THEN 1 ELSE 0 END AS is_hapax
  FROM big b JOIN cb USING (bigram) JOIN cc USING (ctx)
  WHERE b.doc_id < 50
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         SUM(neglog10) AS s, SUM(is_hapax) AS h
  FROM scored GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_bigrams AS BIGINT) AS n_bigrams,
       ROUND(CAST(s AS DOUBLE) / n_bigrams, 6) AS avg_neglog10,
       ROUND(CAST(h AS DOUBLE) / n_bigrams, 6) AS hapax_ratio
FROM per_doc
ORDER BY doc_id
""",
)
def lm_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc bigram-LM fluency score: ``avg_neglog10`` is the mean
    -log10 P(w_i | w_{i-1}) under corpus MLE counts (perplexity =
    10^avg_neglog10 — the round-trip through pow is omitted to keep the
    cross-engine hash exact), plus ``hapax_ratio`` — the fraction of a
    doc's bigrams seen exactly once corpus-wide, an exact-rational
    novelty signal. High values of either flag disfluent/outlier text;
    CCNet buckets a web corpus by exactly this kind of LM score.

    Plan: the exploded (doc, bigram, ctx) frame is persisted ONCE and
    feeds all three consumers — the bigram-grain count, the ctx-grain
    count, and the scoring slice (differently-keyed aggregations can't
    share a map stage via ReuseExchange, so without the persist the
    corpus explode would run 3×). At 100 TB the persist-vs-recompute
    choice is storage economics — MEMORY_AND_DISK spills the exploded
    corpus rather than re-shingling it; the count tables are
    Zipf-skewed (AQE's skew split handles the head keys) and a
    production variant would min-count-prune the model and broadcast it
    (the model is vocabulary-sized, not corpus-sized); training on a
    hash-mod sample instead of the full corpus drops the count pass to
    O(sample). The doc_id<50 reporting slice prunes the scoring join
    only — counts stay corpus-wide, exactly like ``tfidf_top_terms``'s
    df side."""
    from pyspark.storagelevel import StorageLevel

    from ..operators.minhash import shingles_from_words
    from .catalog import track_persist

    docs = load_table(spark, sf_dir, "documents")
    bigr = track_persist(
        docs.select("doc_id", F.split(F.col("text"), " ").alias("_w"))
        .select(
            "doc_id",
            F.explode(
                shingles_from_words(F.col("_w"), 2, distinct=False)
            ).alias("bigram"),
        )
        .withColumn("ctx", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1))),
        StorageLevel.MEMORY_AND_DISK,
    )
    cb = bigr.groupBy("bigram").agg(F.count(F.lit(1)).alias("c_big"))
    cc = bigr.groupBy("ctx").agg(F.count(F.lit(1)).alias("c_ctx"))
    scored = (
        bigr.filter(F.col("doc_id") < 50)
        .join(cb, "bigram")
        .join(cc, "ctx")
        .select(
            "doc_id",
            F.round(
                F.log10(F.col("c_ctx").cast("double") / F.col("c_big")), 6
            )
            .cast("decimal(18,6)")
            .alias("neglog10"),
            (F.col("c_big") == 1).cast("int").alias("is_hapax"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("neglog10").alias("_s"),
        F.sum("is_hapax").alias("_h"),
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        F.round(F.col("_s").cast("double") / F.col("n_bigrams"), 6).alias(
            "avg_neglog10"
        ),
        F.round(F.col("_h").cast("double") / F.col("n_bigrams"), 6).alias(
            "hapax_ratio"
        ),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Portable HyperLogLog NDV (functions/approx.py): register-table HLL
# whose sketch replays bit-exactly in SQL — the oracle-hashable sketch
# the opaque approx_count_distinct can't be.
# ---------------------------------------------------------------------------
_HLL_SQL_COMMON = """
tok AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
h AS (SELECT source,
             CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS hv
      FROM tok),
rr AS (SELECT source, CAST(hv % 64 AS INT) AS j,
              CASE WHEN (hv >> 6) = 0 THEN 55
                   ELSE 55 - length(bin(hv >> 6)) END AS rho
       FROM h),
reg AS (SELECT source, j, MAX(rho) AS r FROM rr GROUP BY source, j),
regall AS (SELECT '__all__' AS source, j, MAX(r) AS r FROM reg GROUP BY j),
allreg AS (SELECT * FROM reg UNION ALL SELECT * FROM regall),
agg AS (SELECT source, COUNT(*) AS n_present,
               CAST(SUM(CAST(1 AS BIGINT) << (55 - r)) AS BIGINT) AS s
        FROM allreg GROUP BY source),
raw AS (SELECT source, 64 - n_present AS v,
               0.709 * 64 * 64 * CAST(CAST(1 AS BIGINT) << 55 AS DOUBLE)
               / CAST(s + (64 - n_present) * (CAST(1 AS BIGINT) << 55)
                      AS DOUBLE) AS e_raw
        FROM agg),
fin AS (SELECT source,
               CASE WHEN e_raw <= 160.0 AND v > 0
                    THEN 64.0 * ln(64.0 / v) ELSE e_raw END AS est
        FROM raw),
ex AS (SELECT source, CAST(COUNT(DISTINCT w) AS BIGINT) AS exact_distinct
       FROM tok GROUP BY source
       UNION ALL
       SELECT '__all__', CAST(COUNT(DISTINCT w) AS BIGINT) FROM tok)
"""


@query(
    "hll_distinct_tokens_by_source",
    extra=True,  # sketch family; token_stats_by_source holds the driver row
    tags=("sketch", "hll", "ndv", "mergeable", "llm-pipeline"),
    oracle=f"""
WITH {_HLL_SQL_COMMON}
SELECT f.source, e.exact_distinct,
       ROUND(f.est, 4) AS hll_ndv,
       ROUND((f.est - e.exact_distinct) / e.exact_distinct, 4) AS rel_err
FROM fin f JOIN ex e USING (source)
ORDER BY f.source
""",
)
def hll_distinct_tokens_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-token NDV per source via a PORTABLE HyperLogLog
    (functions/approx.py): registers are plain (source, j, r) rows from
    a deterministic md5-derived hash, so the DuckDB oracle replays the
    ENTIRE sketch pipeline bit-exactly — unlike
    ``approx_count_distinct``, whose opaque binary sketch can only be
    tolerance-tested. The ``__all__`` row is the mergeability claim
    made executable: it is computed by MERGING the per-source register
    tables (max per register — never re-scanning tokens), exactly how
    per-day/per-partition sketches compose at 100 TB. ``exact_distinct``
    and ``rel_err`` ride along as the error audit (σ ≈ 13% at m=64;
    the exact side exists at fixture scale only — production keeps just
    the KB-sized register tables).

    All-integer harmonic sum (exact BIGINT, no order-dependent float
    accumulation) with linear-counting small-range correction — see
    ``hll_estimate``."""
    from ..functions.approx import hll_estimate, hll_register_rows

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("w"))
    reg = hll_register_rows(tok, ["source"], "w")
    regall = reg.groupBy("j").agg(F.max("r").alias("r")).select(
        F.lit("__all__").alias("source"), "j", "r"
    )
    est = hll_estimate(reg.unionByName(regall), ["source"])
    exact = tok.groupBy("source").agg(
        F.countDistinct("w").alias("exact_distinct")
    ).unionByName(
        tok.agg(
            F.lit("__all__").alias("source"),
            F.countDistinct("w").alias("exact_distinct"),
        )
    )
    return (
        est.join(exact, "source")
        .select(
            "source",
            "exact_distinct",
            F.round("hll_ndv", 4).alias("hll_ndv"),
            F.round(
                (F.col("hll_ndv") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                4,
            ).alias("rel_err"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Portable count-min sketch (functions/approx.py): the frequency
# companion to the portable HLL — d×w integer counters as rows,
# estimates never below truth, merge = cell-wise SUM.
# ---------------------------------------------------------------------------
@query(
    "cms_term_frequency_audit",
    extra=True,  # sketch family; token_stats_by_source holds the driver row
    tags=("sketch", "count-min", "frequency", "mergeable", "llm-pipeline"),
    oracle="""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
iser AS (SELECT unnest(generate_series(0, 3)) AS i),
rows_ AS (
  SELECT CAST(i.i AS INT) AS row_i,
         CAST(CAST('0x' || substr(md5(i.i || ':cms:' || t.w), 1, 15)
              AS BIGINT) % 256 AS INT) AS bucket
  FROM tok t CROSS JOIN iser i
),
counters AS (
  SELECT row_i, bucket, CAST(COUNT(*) AS BIGINT) AS c
  FROM rows_ GROUP BY row_i, bucket
),
probes AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS exact_n
  FROM tok GROUP BY w
  ORDER BY exact_n DESC, w LIMIT 20
),
prow AS (
  SELECT p.w, p.exact_n, CAST(i.i AS INT) AS row_i,
         CAST(CAST('0x' || substr(md5(i.i || ':cms:' || p.w), 1, 15)
              AS BIGINT) % 256 AS INT) AS bucket
  FROM probes p CROSS JOIN iser i
)
SELECT p.w AS term, p.exact_n,
       CAST(MIN(c.c) AS BIGINT) AS cms_n,
       CAST(MIN(c.c) - p.exact_n AS BIGINT) AS overcount
FROM prow p JOIN counters c USING (row_i, bucket)
GROUP BY p.w, p.exact_n
ORDER BY p.exact_n DESC, term
""",
)
def cms_term_frequency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min point-frequency audit: build the (4 × 256)-counter
    sketch over every token occurrence, then estimate the corpus's 20
    most frequent terms against their exact counts. ``cms_n >=
    exact_n`` ALWAYS (min over d rows of counters that each saw every
    occurrence); ``overcount`` is the collision error the w dial
    buys down. The counter table is ≤ 1024 rows at any corpus size and
    merges across days/partitions by cell-wise integer SUM — same
    compose-without-rescanning contract as the portable HLL, exact
    rather than register-max. The full sketch replays bit-exactly in
    the DuckDB oracle (why this exists next to the opaque built-ins);
    the probe list is a TakeOrdered top-k, and estimating costs
    O(probes) via a broadcast join of the counter table."""
    from ..functions.approx import cms_counter_rows, cms_estimate

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("w"))
    counters = cms_counter_rows(tok, "w")
    probes = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "w")
        .limit(20)
    )
    est = cms_estimate(counters, probes.select("w"), "w")
    return (
        probes.join(est, "w")
        .select(
            F.col("w").alias("term"),
            "exact_n",
            "cms_n",
            (F.col("cms_n") - F.col("exact_n")).alias("overcount"),
        )
        .orderBy(F.col("exact_n").desc(), "term")
    )


# ---------------------------------------------------------------------------
# Portable bottom-k quantile sketch (functions/approx.py): completes
# the replayable sketch trio — HLL distinct, CMS frequency, bottom-k
# quantiles. Sample = the k rows with the SMALLEST md5(doc_id) per
# group: deterministic (DuckDB replays it bit-exactly, which
# percentile_approx's GK/t-digest state cannot be) and mergeable (the
# bottom-k of a union is the bottom-k of the concatenated samples).
# ---------------------------------------------------------------------------
_BK_K = 16  # small enough that every sf forces real truncation


@query(
    "quantile_sketch_doclen_by_source",
    extra=True,  # sketch family; token_stats_by_source holds the driver row
    tags=("sketch", "bottom-k", "quantiles", "mergeable", "llm-pipeline"),
    oracle=f"""
WITH v AS (
  SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS hkey,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS v
  FROM documents
),
samp AS (
  SELECT source, hkey, v FROM v
  QUALIFY row_number() OVER (PARTITION BY source ORDER BY hkey) <= {_BK_K}
),
merged AS (
  SELECT '__all__' AS source, hkey, v FROM samp
  QUALIFY row_number() OVER (ORDER BY hkey) <= {_BK_K}
),
allsamp AS (SELECT * FROM samp UNION ALL SELECT * FROM merged),
ranked AS (
  SELECT source, v,
         row_number() OVER (PARTITION BY source ORDER BY v, hkey) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM allsamp
),
est AS (
  SELECT source, CAST(MAX(n) AS BIGINT) AS sample_n,
         MAX(CASE WHEN rn = (5000 * (n - 1)) // 10000 + 1 THEN v END) AS p50,
         MAX(CASE WHEN rn = (9000 * (n - 1)) // 10000 + 1 THEN v END) AS p90,
         MAX(CASE WHEN rn = (9900 * (n - 1)) // 10000 + 1 THEN v END) AS p99
  FROM ranked GROUP BY source
),
exact_ranked AS (
  SELECT source, v,
         row_number() OVER (PARTITION BY source ORDER BY v, hkey) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM (SELECT source, hkey, v FROM v
        UNION ALL SELECT '__all__', hkey, v FROM v)
),
exact AS (
  SELECT source,
         MAX(CASE WHEN rn = (5000 * (n - 1)) // 10000 + 1 THEN v END) AS exact_p50,
         MAX(CASE WHEN rn = (9900 * (n - 1)) // 10000 + 1 THEN v END) AS exact_p99
  FROM exact_ranked GROUP BY source
)
SELECT e.source, e.sample_n, e.p50, e.p90, e.p99, x.exact_p50, x.exact_p99
FROM est e JOIN exact x USING (source)
ORDER BY e.source
""",
)
def quantile_sketch_doclen_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length (token-count) quantiles from the
    portable bottom-k sketch, with the ``__all__`` row computed by
    MERGING the per-source k-row samples (never re-scanning the
    corpus) — the same executable-mergeability shape as the HLL/CMS
    entries. Integer index rule throughout (basis points × (n−1) div
    10⁴): 0.9/0.99 have no exact binary form, so a float multiply
    could flip a boundary rank between engines. ``exact_p50/p99``
    ride along as the error audit computed by the SAME rule over the
    full per-group data — at fixture scale only; production keeps the
    k-row sample tables. k=16 here so every sf genuinely truncates
    (sources hold ≥25 docs at sf0.001)."""
    from ..functions.approx import (
        bottomk_merge,
        bottomk_quantiles,
        bottomk_sample_rows,
    )
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.size(F.split("text", " ")).alias("toks")
    )
    samp = bottomk_sample_rows(docs, ["source"], "doc_id", "toks", k=_BK_K)
    merged = bottomk_merge(
        samp.select(F.lit("__all__").alias("source"), "hkey", "v"),
        ["source"],
        k=_BK_K,
    )
    est = bottomk_quantiles(samp.unionByName(merged), ["source"])
    # exact audit under the identical integer rule (fixture-scale only)
    full = docs.select(
        "source",
        F.md5(F.col("doc_id").cast("string")).alias("hkey"),
        F.col("toks").cast("long").alias("v"),
    )
    fboth = full.unionByName(
        full.select(F.lit("__all__").alias("source"), "hkey", "v")
    )
    w = W.partitionBy("source").orderBy("v", "hkey")
    wn = W.partitionBy("source")
    t = fboth.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(wn)
    )
    exact = t.groupBy("source").agg(
        F.max(
            F.when(
                F.col("_rn") == F.expr("CAST((5000 * (_n - 1)) DIV 10000 AS INT) + 1"),
                F.col("v"),
            )
        ).alias("exact_p50"),
        F.max(
            F.when(
                F.col("_rn") == F.expr("CAST((9900 * (_n - 1)) DIV 10000 AS INT) + 1"),
                F.col("v"),
            )
        ).alias("exact_p99"),
    )
    return (
        est.join(exact, "source")
        .select(
            "source", "sample_n", "p50", "p90", "p99", "exact_p50", "exact_p99"
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Sketch-merge proof over a partition axis (round-11 VERDICT #6): the
# HLL/CMS docstrings promise per-day sketch tables that merge without
# re-scanning — this entry makes the promise EXECUTABLE under the
# oracle gate (the physically-partitioned-writes half is pinned in
# tests/test_approx.py over real per-day parquet files).
# ---------------------------------------------------------------------------
@query(
    "sketch_merge_partitioned",
    extra=True,  # sketch family; token_stats_by_source holds the driver row
    tags=("sketch", "hll", "count-min", "mergeable", "llm-pipeline"),
    oracle="""
WITH tok AS (SELECT CAST(doc_id % 5 AS INT) AS day,
                    unnest(string_split(text, ' ')) AS w FROM documents),
h AS (SELECT day, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS hv FROM tok),
rr AS (SELECT day, CAST(hv % 64 AS INT) AS j,
              CASE WHEN (hv >> 6) = 0 THEN 55
                   ELSE 55 - length(bin(hv >> 6)) END AS rho
       FROM h),
reg_day AS (SELECT day, j, MAX(rho) AS r FROM rr GROUP BY day, j),
merged AS (SELECT j, MAX(r) AS r FROM reg_day GROUP BY j),
single AS (SELECT j, MAX(rho) AS r FROM rr GROUP BY j),
regneq AS (SELECT COUNT(*) AS n FROM merged m FULL OUTER JOIN single s
           USING (j) WHERE m.r IS DISTINCT FROM s.r),
agg_m AS (SELECT COUNT(*) AS n_present,
                 CAST(SUM(CAST(1 AS BIGINT) << (55 - r)) AS BIGINT) AS s
          FROM merged),
raw_m AS (SELECT 64 - n_present AS v,
                 0.709 * 64 * 64 * CAST(CAST(1 AS BIGINT) << 55 AS DOUBLE)
                 / CAST(s + (64 - n_present) * (CAST(1 AS BIGINT) << 55)
                        AS DOUBLE) AS e_raw
          FROM agg_m),
fin_m AS (SELECT CASE WHEN e_raw <= 160.0 AND v > 0
                      THEN 64.0 * ln(64.0 / v) ELSE e_raw END AS est
          FROM raw_m),
agg_s AS (SELECT COUNT(*) AS n_present,
                 CAST(SUM(CAST(1 AS BIGINT) << (55 - r)) AS BIGINT) AS s
          FROM single),
raw_s AS (SELECT 64 - n_present AS v,
                 0.709 * 64 * 64 * CAST(CAST(1 AS BIGINT) << 55 AS DOUBLE)
                 / CAST(s + (64 - n_present) * (CAST(1 AS BIGINT) << 55)
                        AS DOUBLE) AS e_raw
          FROM agg_s),
fin_s AS (SELECT CASE WHEN e_raw <= 160.0 AND v > 0
                      THEN 64.0 * ln(64.0 / v) ELSE e_raw END AS est
          FROM raw_s),
iser AS (SELECT unnest(generate_series(0, 3)) AS i),
rows_ AS (SELECT t.day, CAST(i.i AS INT) AS row_i,
                 CAST(CAST('0x' || substr(md5(i.i || ':cms:' || t.w), 1, 15)
                      AS BIGINT) % 256 AS INT) AS bucket
          FROM tok t CROSS JOIN iser i),
cnt_day AS (SELECT day, row_i, bucket, CAST(COUNT(*) AS BIGINT) AS c
            FROM rows_ GROUP BY day, row_i, bucket),
cms_m AS (SELECT row_i, bucket, CAST(SUM(c) AS BIGINT) AS c
          FROM cnt_day GROUP BY row_i, bucket),
cms_s AS (SELECT row_i, bucket, CAST(COUNT(*) AS BIGINT) AS c
          FROM rows_ GROUP BY row_i, bucket),
cmsneq AS (SELECT COUNT(*) AS n FROM cms_m m FULL OUTER JOIN cms_s s
           USING (row_i, bucket) WHERE m.c IS DISTINCT FROM s.c),
tot_m AS (SELECT CAST(SUM(c) / 4 AS BIGINT) AS t FROM cms_m),
days AS (SELECT CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days FROM tok)
SELECT d.n_days,
       CAST(r.n AS BIGINT) AS hll_reg_mismatches,
       ROUND(em.est, 4) AS hll_merged_ndv,
       ROUND(es.est, 4) AS hll_single_ndv,
       CAST(c.n AS BIGINT) AS cms_cell_mismatches,
       tm.t AS cms_merged_tokens
FROM days d, regneq r, fin_m em, fin_s es, cmsneq c, tot_m tm
""",
)
def sketch_merge_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compose-without-rescanning contract, exercised end-to-end:
    HLL register tables and CMS counter tables are built PER PARTITION
    (a synthetic ``day = doc_id % 5`` ingestion axis), merged by pure
    sketch algebra — ``groupBy(j).max(r)`` for registers,
    ``groupBy(row_i, bucket).sum(c)`` for counters, never a token
    re-scan — and compared against the single-pass sketch over the
    union: registers and cells must match BIT-EXACTLY (max and sum are
    associative), so the merged estimate equals the single-pass
    estimate by construction. At 100 TB this is the shape that matters:
    each day contributes a KB-sized sketch table, and any date range's
    NDV/frequency is a KB-scale merge, not a corpus pass. Mismatch
    counts are computed null-safely over a full outer join so a
    register present on one side only is a mismatch, not a silent skip.
    ``cms_merged_tokens`` (Σc/d) audits that no occurrence was lost in
    the fold. The physically-separate-writes half — one parquet write
    per day, read back, merged — is pinned in tests/test_approx.py."""
    from ..functions.approx import (
        CMS_D,
        cms_counter_rows,
        hll_estimate,
        hll_register_rows,
    )

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        (F.col("doc_id") % 5).cast("int").alias("day"),
        F.explode(F.split("text", " ")).alias("w"),
    )

    reg_day = hll_register_rows(tok, ["day"], "w")
    merged_reg = reg_day.groupBy("j").agg(F.max("r").alias("r"))
    single_reg = hll_register_rows(tok, [], "w")
    reg_neq = (
        merged_reg.withColumnRenamed("r", "mr")
        .join(single_reg.withColumnRenamed("r", "sr"), "j", "full_outer")
        .agg(
            F.sum(
                F.when(F.col("mr").eqNullSafe(F.col("sr")), 0).otherwise(1)
            ).alias("hll_reg_mismatches")
        )
    )
    est_m = hll_estimate(merged_reg, []).select(
        F.round("hll_ndv", 4).alias("hll_merged_ndv")
    )
    est_s = hll_estimate(single_reg, []).select(
        F.round("hll_ndv", 4).alias("hll_single_ndv")
    )

    cnt_day = cms_counter_rows(tok, "w", ["day"])
    cms_m = cnt_day.groupBy("row_i", "bucket").agg(F.sum("c").alias("c"))
    cms_s = cms_counter_rows(tok, "w")
    cms_neq = (
        cms_m.withColumnRenamed("c", "mc")
        .join(
            cms_s.withColumnRenamed("c", "sc"), ["row_i", "bucket"], "full_outer"
        )
        .agg(
            F.sum(
                F.when(F.col("mc").eqNullSafe(F.col("sc")), 0).otherwise(1)
            ).alias("cms_cell_mismatches")
        )
    )
    tot_m = cms_m.agg(
        (F.sum("c") / CMS_D).cast("long").alias("cms_merged_tokens")
    )
    days = tok.agg(F.countDistinct("day").alias("n_days"))

    return (
        days.crossJoin(reg_neq)
        .crossJoin(est_m)
        .crossJoin(est_s)
        .crossJoin(cms_neq)
        .crossJoin(tot_m)
        .select(
            "n_days",
            "hll_reg_mismatches",
            "hll_merged_ndv",
            "hll_single_ndv",
            "cms_cell_mismatches",
            "cms_merged_tokens",
        )
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval (Robertson & Zaragoza 2009; Lucene's idf form):
# the text-retrieval primitive a training-data engine reaches for when
# "find the docs most like this eval item" must be LEXICAL — dedup
# triage, contamination forensics, nearest-doc diagnostics — the
# sparse complement to the dense ANN path.
# ---------------------------------------------------------------------------
_BM25_TERMS = ("dup", "vector", "join")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPN = 10


@query(
    "bm25_topk_docs",
    extra=True,  # retrieval family; inverted_index_postings holds the driver row
    tags=("retrieval", "bm25", "ranking", "llm-pipeline"),
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
       WHERE w IN ('dup', 'vector', 'join') GROUP BY doc_id, w),
dft AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS dft FROM tf GROUP BY w),
c AS (SELECT t.doc_id,
             CAST(ROUND(
               ln(1 + (CAST(s.n_docs AS DOUBLE) - f.dft + 0.5) / (f.dft + 0.5))
               * (t.tf * {_BM25_K1 + 1}) /
               (t.tf + {_BM25_K1} * ({1 - _BM25_B} + {_BM25_B} * d.dl /
                   (CAST(s.sum_dl AS DOUBLE) / s.n_docs))), 6)
               AS DECIMAL(18,6)) AS contrib
      FROM tf t JOIN dl d USING (doc_id) JOIN dft f USING (w)
      CROSS JOIN stats s),
sc AS (SELECT doc_id, ROUND(CAST(SUM(contrib) AS DOUBLE), 4) AS bm25
       FROM c GROUP BY doc_id)
SELECT doc_id, bm25,
       CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank
FROM sc ORDER BY bm25 DESC, doc_id LIMIT {_BM25_TOPN}
""",
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents for a fixed lexical query under BM25
    (k1=1.2, b=0.75, Lucene's ln(1+(N-df+0.5)/(df+0.5)) idf). Shape at
    100 TB: term stats (df per query term, N, avgdl) are corpus
    aggregates a production system precomputes with the inverted index
    (``inverted_index_postings``); scoring touches only docs containing
    ≥1 query term (the tf frame IS a postings lookup — here derived
    inline so the oracle replays one self-contained query), one
    broadcast of the KB-sized (term, df) + (N, sum_dl) stats, and a
    TakeOrdered top-n — never a corpus-wide sort. Per-term
    contributions are rounded to DECIMAL(18,6) before the per-doc sum
    so the cross-engine float-addition order can't flip a rank (the
    ``lm_bigram_perplexity`` trick); the final window ranks only the
    LIMITed top-n rows (bounded by contract). The rare term 'dup'
    dominates by idf — top docs are exactly the near-dup-marked ones,
    which is the dedup-triage use this exists for."""
    from pyspark.sql.window import Window

    terms = list(_BM25_TERMS)
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    tf = (
        tok.filter(F.col("w").isin(terms))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dft = tf.groupBy("w").agg(F.count(F.lit(1)).alias("dft"))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        1
        + (F.col("n_docs").cast("double") - F.col("dft") + 0.5)
        / (F.col("dft") + 0.5)
    )
    denom = F.col("tf") + _BM25_K1 * (
        F.lit(1 - _BM25_B) + _BM25_B * F.col("dl") / avgdl
    )
    contrib = F.round(idf * (F.col("tf") * (_BM25_K1 + 1)) / denom, 6).cast(
        "decimal(18,6)"
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dft), "w")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", contrib.alias("contrib"))
        .groupBy("doc_id")
        .agg(F.round(F.sum("contrib").cast("double"), 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_BM25_TOPN)
    )
    w = Window.orderBy(F.col("bm25").desc(), "doc_id")
    return scored.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "bm25", "rank"
    )


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling"): fit hashed-unigram
# bag-of-words models over a TARGET domain and the RAW corpus, weight
# each doc by its log-likelihood ratio, and resample via Gumbel-top-k.
# ---------------------------------------------------------------------------
_DSIR_BUCKETS = 64
_DSIR_TARGET_LANG = "en"


@query(
    "dsir_importance_resample",
    extra=True,  # curation family's driver row is curation_pipeline
    tags=("curation", "importance-sampling", "dsir", "llm-pipeline"),
    oracle=f"""
WITH tok AS (
  SELECT doc_id,
         CASE WHEN lang = '{_DSIR_TARGET_LANG}' THEN 1 ELSE 0 END AS is_t,
         CAST('0x' || substr(md5(unnest(string_split(text, ' '))), 1, 15)
              AS BIGINT) % {_DSIR_BUCKETS} AS bkt
  FROM documents
),
cnt AS (
  SELECT bkt, COUNT(*) AS n_raw, SUM(is_t) AS n_tgt
  FROM tok GROUP BY bkt
),
tot AS (
  SELECT SUM(n_raw) AS r_tot, SUM(n_tgt) AS t_tot FROM cnt
),
model AS (
  SELECT bkt,
         CAST(ROUND(log10(
               ((CAST(n_tgt AS DOUBLE) + 1.0)
                * (CAST(r_tot AS DOUBLE) + {_DSIR_BUCKETS}))
             / ((CAST(n_raw AS DOUBLE) + 1.0)
                * (CAST(t_tot AS DOUBLE) + {_DSIR_BUCKETS}))), 6)
              AS DECIMAL(18,6)) AS llr
  FROM cnt CROSS JOIN tot
),
perdoc AS (
  SELECT t.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         SUM(m.llr) AS sum_llr
  FROM tok t JOIN model m USING (bkt)
  GROUP BY t.doc_id
),
g AS (
  SELECT doc_id, n_tokens, sum_llr,
         CAST(ROUND(-log10(-log10(
               (CAST('0x' || substr(md5(doc_id || ':dsir'), 1, 15)
                     AS BIGINT) % 1000000 + 1) / 1000002.0)), 6)
              AS DECIMAL(18,6)) AS gumbel
  FROM perdoc
),
sc AS (SELECT *, sum_llr + gumbel AS score FROM g),
thr AS (
  SELECT MIN(score) AS kth FROM (
    SELECT score FROM sc ORDER BY score DESC
    LIMIT (SELECT CAST(ceil(COUNT(*) / 4.0) AS BIGINT) FROM documents)
  )
)
SELECT doc_id, n_tokens,
       CAST(sum_llr AS DOUBLE) AS sum_llr,
       CAST(gumbel AS DOUBLE) AS gumbel,
       CAST(score AS DOUBLE) AS score,
       score >= (SELECT kth FROM thr) AS sampled
FROM sc
ORDER BY doc_id
""",
)
def dsir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR), the published
    recipe for "give me raw-web docs that look like my target domain":
    hashed-unigram bag-of-words models are fitted to the TARGET slice
    (``lang = 'en'`` stands in for the curated domain) and the RAW
    corpus; each doc scores the sum of per-token bucket log-likelihood
    ratios (add-one smoothing); selection is Gumbel-top-k — a
    deterministic md5-derived uniform per doc feeds the Gumbel
    perturbation, so sampling probability tracks the importance weight
    while the draw stays replayable. ``sampled`` marks the top quarter
    by perturbed score (ties included by both engines' shared
    >=-threshold rule).

    Scale shape: the model FIT is one token pass into a
    ``_DSIR_BUCKETS``-row aggregate (map-side combined; the bucket
    count table is KB-sized at any corpus size) joined back broadcast
    onto the token stream — scoring is map-side, one doc-keyed
    aggregate shuffles. The selection threshold is a TakeOrdered top-K
    (never a global sort); the only driver values are the doc count and
    the 1-row Kth score. Per-bucket LLRs are rounded to DECIMAL(18,6)
    before summation so the cross-engine hash is exact (same discipline
    as ``lm_bigram_perplexity``)."""
    from ..operators.simhash import token_hash60

    docs = load_table(spark, sf_dir, "documents")
    B = _DSIR_BUCKETS
    tok = docs.select(
        "doc_id",
        (F.col("lang") == _DSIR_TARGET_LANG).cast("int").alias("is_t"),
        F.explode(F.split("text", " ")).alias("_w"),
    ).select("doc_id", "is_t", (token_hash60(F.col("_w")) % B).cast("int").alias("bkt"))
    cnt = tok.groupBy("bkt").agg(
        F.count(F.lit(1)).alias("n_raw"), F.sum("is_t").alias("n_tgt")
    )
    tot = cnt.agg(F.sum("n_raw").alias("r_tot"), F.sum("n_tgt").alias("t_tot"))
    model = cnt.crossJoin(F.broadcast(tot)).select(
        "bkt",
        F.round(
            F.log10(
                ((F.col("n_tgt").cast("double") + 1.0) * (F.col("r_tot").cast("double") + B))
                / ((F.col("n_raw").cast("double") + 1.0) * (F.col("t_tot").cast("double") + B))
            ),
            6,
        )
        .cast("decimal(18,6)")
        .alias("llr"),
    )
    perdoc = (
        tok.join(F.broadcast(model), "bkt")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("llr").alias("sum_llr"))
    )
    u = (
        token_hash60(F.concat(F.col("doc_id").cast("string"), F.lit(":dsir")))
        % 1000000
        + 1
    ) / F.lit(1000002.0)
    scored = perdoc.withColumn(
        "gumbel", F.round(-F.log10(-F.log10(u)), 6).cast("decimal(18,6)")
    ).withColumn("score", F.col("sum_llr") + F.col("gumbel"))
    # Bounded driver values: the doc count (an int) and the Kth score
    # (1 row off a TakeOrdered top-K — never a global sort).
    k = -(-docs.count() // 4)
    thr = (
        scored.orderBy(F.col("score").desc())
        .limit(k)
        .agg(F.min("score").alias("kth"))
        .collect()[0]["kth"]
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        F.col("sum_llr").cast("double").alias("sum_llr"),
        F.col("gumbel").cast("double").alias("gumbel"),
        F.col("score").cast("double").alias("score"),
        (F.col("score") >= F.lit(thr)).alias("sampled"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Custom aggregate via pandas GROUPED_AGG UDAF (Arrow-batched) — the
# escape hatch for aggregations Spark's built-ins can't express.
# ---------------------------------------------------------------------------
@query(
    "udaf_median_chars_by_source",
    extra=True,  # merged into token_stats_by_source (all-UDAF agg)
    tags=("udaf", "pandas-udf", "arrow"),
    oracle="""
SELECT source,
       COUNT(*) AS n_docs,
       median(n_chars) AS median_chars
FROM documents
GROUP BY source
ORDER BY source
""",
)
def udaf_median_chars_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolating median per source via a pandas GROUPED_AGG UDAF —
    the Arrow-batched custom-aggregate path (one Python batch per
    group, never per row). Built-ins (`percentile`, `median`) are the
    production path; this entry pins the UDAF plumbing the engine
    offers for aggregations Catalyst lacks. Exactness across engines:
    the mean of two ints <= 2^52 is exactly representable, so pandas'
    interpolating median bit-matches DuckDB's."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def median_udaf(v: pd.Series) -> float:
        return float(v.median())

    @pandas_udf("long")
    def count_udaf(v: pd.Series) -> int:
        return len(v)

    # Spark disallows mixing GROUPED_AGG pandas UDFs with JVM aggregates
    # in one Aggregate node, so the row count is a (trivial) second UDAF
    # — both ride the same Arrow batch per group.
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            count_udaf("n_chars").alias("n_docs"),
            median_udaf("n_chars").alias("median_chars"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Sequence packing: group documents into ~context-window-sized packs
# (the step between curation and tokenized training batches).
# ---------------------------------------------------------------------------
@query(
    "sequence_packing",
    tags=("packing", "window", "prefix-sum"),
    oracle="""
WITH t AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 8 AS shard,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
),
pref AS (
  SELECT doc_id, shard, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
  FROM t
),
packed AS (
  SELECT shard, CAST(floor(start_tok / 2048.0) AS BIGINT) AS pack_id,
         doc_id, n_tokens
  FROM pref
)
SELECT shard, pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc_id
FROM packed
GROUP BY shard, pack_id
ORDER BY shard, pack_id
""",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity-quantized sequence packing: shard the corpus by the
    auditable md5 bucket (8 shards), then within each shard assign docs
    (in doc_id order) to 2048-token packs by exclusive prefix sum —
    pack_id = floor(tokens_before / capacity). Packs can overflow by at
    most one document (greedy-fill semantics); what matters at scale is
    that packing is embarrassingly parallel across shards: one window
    sort per shard, no cross-shard coordination, and shard count scales
    with the cluster. The oracle replays the identical prefix-sum."""
    from pyspark.sql.window import Window

    from ..operators.simhash import token_hash60

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        (token_hash60(F.col("doc_id").cast("string")) % 8).alias("shard"),
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pref = t.withColumn("start_tok", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    packed = pref.withColumn(
        "pack_id", F.floor(F.col("start_tok") / 2048.0).cast("bigint")
    )
    return (
        packed.groupBy("shard", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .orderBy("shard", "pack_id")
    )


# ---------------------------------------------------------------------------
# Repetition quality filter: intra-document duplicate 3-gram ratio
# (the Gopher-rules-style signal that catches boilerplate/spam docs).
# ---------------------------------------------------------------------------
@query(
    "repetition_filter",
    tags=("text", "quality", "ngram"),
    oracle="""
WITH s AS (
  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
),
g AS (
  SELECT doc_id, source,
         greatest(len(w) - 2, 0) AS n_grams,
         len(list_distinct(list_transform(
           generate_series(1, greatest(len(w) - 2, 0)),
           i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS n_distinct
  FROM s
),
r AS (
  SELECT doc_id, source,
         CASE WHEN n_grams > 0
              THEN ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_grams, 4)
              ELSE 0.0 END AS rep_ratio
  FROM g
)
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(CASE WHEN rep_ratio > 0.2 THEN 1 END) AS n_flagged,
       ROUND(MAX(rep_ratio), 4) AS max_rep_ratio
FROM r
GROUP BY source
ORDER BY source
""",
)
def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition: 1 - distinct/total word 3-grams per
    doc, flagged above 0.2 and rolled up per source — the
    Gopher-rules-style quality gate that catches templated/boilerplate
    text exact dedup misses. Per-doc map-side expression (reuses the
    zip_with shingle kernel) + one partial-aggregated rollup; nothing
    shuffles but the per-source partials."""
    from ..operators.minhash import shingles_from_words

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "source", F.split(F.col("text"), " ").alias("_w")
    )
    n_grams = F.greatest(F.size("_w") - 2, F.lit(0))
    n_distinct = F.size(shingles_from_words(F.col("_w"), 3))
    rep = base.select(
        "source",
        F.when(
            n_grams > 0,
            F.round(F.lit(1.0) - n_distinct.cast("double") / n_grams, 4),
        )
        .otherwise(F.lit(0.0))
        .alias("rep_ratio"),
    )
    return (
        rep.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("rep_ratio") > 0.2, 1)).alias("n_flagged"),
            F.round(F.max("rep_ratio"), 4).alias("max_rep_ratio"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Consolidated driver entries (round 3): each merges 2-3 of the EXTRA
# micro-queries above into one registry slot so every operator family
# fits the driver's 50-entry correctness window. The originals stay
# above as EXTRAS (same oracle discipline, local differential tests).
# ---------------------------------------------------------------------------
@query(
    "dedup_fingerprints",
    tags=("dedup", "fingerprint"),
    oracle="""
WITH fp AS (
  SELECT doc_id, text,
         md5(lower(regexp_replace(text, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))) AS fingerprint,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
           (a, b) -> (a * 131 + b) % 1000000007) AS rolling_fp
  FROM documents
)
SELECT fingerprint,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies,
       COUNT(DISTINCT text) AS n_distinct_texts,
       CAST(MIN(rolling_fp) AS BIGINT) AS min_rolling_fp
FROM fp
GROUP BY fingerprint
ORDER BY keep_doc_id
""",
)
def dedup_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three exact-dedup schemes in one plan (merges `dedup_exact` +
    `dedup_fingerprint` + `doc_rolling_fingerprint`): group by the
    normalized md5 fingerprint (16-byte shuffle keys — the 100 TB
    path), keep the lowest doc_id, and audit the scheme against the
    others in the same pass — COUNT(DISTINCT text) inside each
    fingerprint group IS the exact full-text dedup (>1 means
    normalization merged genuinely different texts), and the group-min
    Rabin-Karp rolling hash exercises the streaming-friendly
    fingerprint both engines fold identically."""
    docs = load_table(spark, sf_dir, "documents")
    fp = content_fingerprint("text")
    return (
        docs.select(
            "doc_id",
            "text",
            fp.alias("fingerprint"),
            rolling_hash(F.col("text")).alias("rolling_fp"),
        )
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("text").alias("n_distinct_texts"),
            F.min("rolling_fp").alias("min_rolling_fp"),
        )
        .orderBy("keep_doc_id")
    )


@query(
    "text_quality_percentiles",
    tags=("text",),
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, n_chars,
         len(string_split(text, ' ')) AS n_ws_tokens,
         len(regexp_extract_all(text, '{_TOKEN_RE}')) AS n_bpe_tokens,
         len(list_filter(string_split(text, ' '), w -> w IN ({_STOP_SQL}))) AS n_stopwords,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_ws_tokens) AS BIGINT) AS total_ws_tokens,
       CAST(SUM(n_bpe_tokens) AS BIGINT) AS total_bpe_tokens,
       ROUND(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_ws_tokens), 4) AS chars_per_token,
       ROUND(CAST(SUM(n_stopwords) AS DOUBLE) / SUM(n_ws_tokens), 4) AS stopword_ratio,
       MIN(n_chars) AS min_chars,
       MIN(CASE WHEN rn = CAST(floor((n + 1) / 2.0) AS BIGINT) THEN n_chars END) AS median_chars,
       MAX(n_chars) AS max_chars
FROM tok
GROUP BY lang
ORDER BY lang
""",
)
def text_quality_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality scoring AND length percentiles in one pass
    (merges `text_quality_by_lang` + `doc_length_percentiles`): token
    counts / stopword ratio from JVM-side built-ins, plus the exact
    discrete median via a ROW_NUMBER window sharing the same lang
    partitioning as the final groupBy — one scan, one lang shuffle.
    percentile_approx (functions/approx.py) is the 100 TB path; this
    exact variant is its correctness anchor."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    ws_tokens = F.split(F.col("text"), " ")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("lang")
    tok = docs.select(
        "lang",
        "n_chars",
        F.size(ws_tokens).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_RE), F.lit(0))).alias(
            "n_bpe_tokens"
        ),
        F.size(F.filter(ws_tokens, lambda w_: w_.isin(*_STOPWORDS))).alias("n_stopwords"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    mid = F.floor((F.col("n") + 1) / 2.0).cast("bigint")
    return (
        tok.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_ws_tokens").alias("total_ws_tokens"),
            F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
            F.round(F.sum("n_chars").cast("double") / F.sum("n_ws_tokens"), 4).alias(
                "chars_per_token"
            ),
            F.round(F.sum("n_stopwords").cast("double") / F.sum("n_ws_tokens"), 4).alias(
                "stopword_ratio"
            ),
            F.min("n_chars").alias("min_chars"),
            F.min(F.when(F.col("rn") == mid, F.col("n_chars"))).alias("median_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang")
    )


@query(
    "token_stats_by_source",
    tags=("text", "udaf", "pandas-udf", "arrow"),
    oracle=f"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(regexp_extract_all(text, '{_TOKEN_RE}'))) AS BIGINT) AS total_tokens,
       CAST(MIN(len(regexp_extract_all(text, '{_TOKEN_RE}'))) AS BIGINT) AS min_tokens,
       CAST(MAX(len(regexp_extract_all(text, '{_TOKEN_RE}'))) AS BIGINT) AS max_tokens,
       median(n_chars) AS median_chars
FROM documents
GROUP BY source
ORDER BY source
""",
)
def token_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting per source — the budgeting query every
    training-data pipeline runs — computed ENTIRELY through pandas
    GROUPED_AGG UDAFs (merges `token_counts_by_source` +
    `udaf_median_chars_by_source`). Spark disallows mixing GROUPED_AGG
    pandas UDFs with JVM aggregates in one Aggregate node, so all five
    aggregates are Arrow-batched UDAFs riding one batch per group;
    tokenization itself stays a JVM-side regexp before the shuffle.
    Exactness: int sums/extrema are exact in int64, and the mean of two
    ints <= 2^52 is exactly representable, so pandas' interpolating
    median bit-matches DuckDB's."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def count_udaf(v: pd.Series) -> int:
        return len(v)

    @pandas_udf("long")
    def sum_udaf(v: pd.Series) -> int:
        return int(v.sum())

    @pandas_udf("long")
    def min_udaf(v: pd.Series) -> int:
        return int(v.min())

    @pandas_udf("long")
    def max_udaf(v: pd.Series) -> int:
        return int(v.max())

    @pandas_udf("double")
    def median_udaf(v: pd.Series) -> float:
        return float(v.median())

    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.regexp_extract_all(F.col("text"), F.lit(_TOKEN_RE), F.lit(0)))
    return (
        docs.select("source", n_tok.alias("n_tokens"), "n_chars")
        .groupBy("source")
        .agg(
            count_udaf("n_tokens").alias("n_docs"),
            sum_udaf("n_tokens").alias("total_tokens"),
            min_udaf("n_tokens").alias("min_tokens"),
            max_udaf("n_tokens").alias("max_tokens"),
            median_udaf("n_chars").alias("median_chars"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# PII scrubbing (EXTRA): redaction is a canonical pre-training pass.
# The synthetic corpus carries no PII, so the query PLANTS deterministic
# PII spans (email/phone/IPv4 derived from doc_id) on a doc_id-mod
# subset, scrubs them, and audits counts + a zero-residual self-check;
# the oracle replays the planting and the regexes in DuckDB (patterns
# restricted to Java-regex/RE2-identical constructs).
# ---------------------------------------------------------------------------
@query(
    "pii_scrub_stats",
    extra=True,  # headroom: driver window is full at 49; same local gate
    tags=("text", "pii", "redaction"),
    oracle="""
WITH planted AS (
  SELECT source, doc_id,
         CASE WHEN doc_id % 5 = 0 THEN
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example'
                || ' call +' || CAST(100 + doc_id % 900 AS VARCHAR) || '-555-'
                || CAST(1000 + doc_id % 9000 AS VARCHAR)
                || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
         ELSE text END AS text
  FROM documents
),
scrubbed AS (
  SELECT source, doc_id,
         len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]+')) AS n_email,
         len(regexp_extract_all(text, '[+]?[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phone,
         len(regexp_extract_all(text, '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}')) AS n_ipv4,
         regexp_replace(
           regexp_replace(
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]+', '<EMAIL>', 'g'),
             '[+]?[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
           '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}', '<IP>', 'g') AS clean
  FROM planted
)
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(CASE WHEN n_email + n_phone + n_ipv4 > 0 THEN 1 END) AS docs_with_pii,
       CAST(SUM(n_email) AS BIGINT) AS emails_redacted,
       CAST(SUM(n_phone) AS BIGINT) AS phones_redacted,
       CAST(SUM(n_ipv4) AS BIGINT) AS ips_redacted,
       CAST(SUM(len(regexp_extract_all(clean, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]+'))
              + len(regexp_extract_all(clean, '[+]?[0-9]{3}-[0-9]{3}-[0-9]{4}'))
              + len(regexp_extract_all(clean, '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}'))) AS BIGINT)
         AS residual_after_scrub
FROM scrubbed
GROUP BY source
ORDER BY source
""",
)
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction audit per source: plant deterministic email/phone/
    IPv4 spans on the doc_id%5==0 slice, count matches per kind
    (JVM-side regexp_extract_all), scrub with functions/text.scrub_pii,
    and prove zero residual matches in the scrubbed text — the
    self-check every redaction pass should ship with. All regex stays
    in whole-stage codegen; no Python in the scan path."""
    from ..functions.text import PII_PATTERNS, pii_counts, scrub_pii

    docs = load_table(spark, sf_dir, "documents")
    planted_text = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example call +"),
            (F.col("doc_id") % 900 + 100).cast("string"),
            F.lit("-555-"),
            (F.col("doc_id") % 9000 + 1000).cast("string"),
            F.lit(" from 10."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0.1"),
        ),
    ).otherwise(F.col("text"))
    planted = docs.select("source", "doc_id", planted_text.alias("text"))
    counts = pii_counts(F.col("text"))
    clean_counts = pii_counts(F.col("clean"))
    residual = sum(clean_counts.values(), F.lit(0))
    scrubbed = planted.select(
        "source",
        counts["email"].alias("n_email"),
        counts["phone"].alias("n_phone"),
        counts["ipv4"].alias("n_ipv4"),
        scrub_pii(F.col("text")).alias("clean"),
    )
    return (
        scrubbed.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(
                F.when(F.col("n_email") + F.col("n_phone") + F.col("n_ipv4") > 0, 1)
            ).alias("docs_with_pii"),
            F.sum("n_email").alias("emails_redacted"),
            F.sum("n_phone").alias("phones_redacted"),
            F.sum("n_ipv4").alias("ips_redacted"),
            F.sum(residual).alias("residual_after_scrub"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Vocabulary builder (EXTRA): the pre-tokenizer corpus step — term
# frequencies, ranks, and cumulative corpus coverage for a top-K vocab.
# Integer counts + rational coverage keep the hash exact.
# ---------------------------------------------------------------------------
@query(
    "vocab_top_terms",
    extra=True,  # text family has ample driver rows; same local gate
    tags=("text", "vocab", "tokenizer"),
    oracle="""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT term, COUNT(*) AS freq FROM words GROUP BY term
),
tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM tf),
ranked AS (
  SELECT term, freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rank,
         SUM(freq) OVER (ORDER BY freq DESC, term
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM tf
)
SELECT r.rank, r.term, CAST(r.freq AS BIGINT) AS freq,
       ROUND(CAST(100 AS DOUBLE) * r.cum / t.total, 4) AS coverage_pct
FROM ranked r CROSS JOIN tot t
WHERE r.rank <= 100
ORDER BY r.rank
""",
)
def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 corpus vocabulary with cumulative coverage — the check a
    tokenizer build runs first ("how much of the corpus do K terms
    cover"). Plan: explode -> one term-grain hash aggregate -> a single
    global window for rank + running coverage on the (small) term table
    -> broadcast of the 1-row total. The global single-partition window
    runs on |vocab| rows, never corpus rows; Zipf head means even a
    100 TB corpus's term table is cluster-trivial after the map-side
    combine."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    tf = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    total = tf.agg(F.sum("freq").alias("total"))
    w = Window.orderBy(F.desc("freq"), F.asc("term"))
    ranked = tf.select(
        "term",
        "freq",
        F.row_number().over(w).alias("rank"),
        F.sum("freq").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("cum"),
    )
    return (
        ranked.filter(F.col("rank") <= 100)
        .crossJoin(F.broadcast(total))
        .select(
            "rank",
            "term",
            "freq",
            F.round(F.lit(100.0) * F.col("cum") / F.col("total"), 4).alias("coverage_pct"),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Training-mix rebalance (EXTRA): derive the per-language sampling
# rates that achieve a target token share — the computation that feeds
# `stratified_sample_by_lang`'s rate table instead of hand-picking it.
# ---------------------------------------------------------------------------
_TARGET_SHARES = {"en": 40, "de": 20, "fr": 20, "es": 10, "zh": 10}  # percent
_TARGET_SQL = ", ".join(f"('{k}', {v})" for k, v in _TARGET_SHARES.items())


@query(
    "mix_rebalance_rates",
    extra=True,  # sampling family driver row is stratified_sample_by_lang
    tags=("sampling", "mix", "rebalance"),
    oracle=f"""
WITH cur AS (
  SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
  FROM documents GROUP BY lang
),
tgt(lang, target_pct) AS (VALUES {_TARGET_SQL}),
tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total FROM cur),
-- Downsample-only rebalance: the binding language is the one whose
-- target share is hardest to reach from its current tokens; scale
-- every language to `anchor = min(tokens / target)` so rates stay <= 1.
anchor AS (
  SELECT MIN(CAST(c.tokens AS DOUBLE) / t.target_pct) AS per_pct
  FROM cur c JOIN tgt t ON c.lang = t.lang
)
SELECT c.lang,
       c.tokens AS current_tokens,
       ROUND(CAST(100 AS DOUBLE) * c.tokens / x.total, 4) AS current_pct,
       CAST(t.target_pct AS BIGINT) AS target_pct,
       ROUND(a.per_pct * t.target_pct / c.tokens, 6) AS sampling_rate,
       CAST(ROUND(a.per_pct * t.target_pct, 0) AS BIGINT) AS sampled_tokens
FROM cur c
JOIN tgt t ON c.lang = t.lang
CROSS JOIN tot x CROSS JOIN anchor a
ORDER BY c.lang
""",
)
def mix_rebalance_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language sampling rates that achieve a target token-share
    mix by downsampling only (the binding language — hardest target to
    reach — keeps rate 1.0; everything else scales to it). One
    lang-grain aggregate plus arithmetic over two broadcast singletons;
    the output is exactly the rates table a stratified sampler consumes.
    Token accounting uses the whitespace tokenizer shared with
    `text_quality_percentiles`."""
    docs = load_table(spark, sf_dir, "documents")
    cur = (
        docs.select("lang", F.size(F.split("text", " ")).alias("_t"))
        .groupBy("lang")
        .agg(F.sum("_t").alias("current_tokens"))
    )
    tgt = F.create_map(*[F.lit(x) for kv in _TARGET_SHARES.items() for x in kv])
    with_tgt = cur.filter(F.col("lang").isin(*_TARGET_SHARES)).withColumn(
        "target_pct", tgt[F.col("lang")]
    )
    total = with_tgt.agg(F.sum("current_tokens").alias("total"))
    anchor = with_tgt.agg(
        F.min(F.col("current_tokens").cast("double") / F.col("target_pct")).alias(
            "per_pct"
        )
    )
    return (
        with_tgt.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(anchor))
        .select(
            "lang",
            "current_tokens",
            F.round(F.lit(100.0) * F.col("current_tokens") / F.col("total"), 4).alias(
                "current_pct"
            ),
            F.col("target_pct").cast("bigint").alias("target_pct"),
            F.round(
                F.col("per_pct") * F.col("target_pct") / F.col("current_tokens"), 6
            ).alias("sampling_rate"),
            F.round(F.col("per_pct") * F.col("target_pct"), 0)
            .cast("bigint")
            .alias("sampled_tokens"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Bloom-gated decontamination: the scale path for the eval-overlap
# filter. decontaminate_eval_overlap broadcast-joins the EXPLODED eval
# gram set (rows ∝ eval grams); this gate compresses the whole eval
# side into a portable 8 KB Bloom array inlined into the plan, so the
# training-side filter is a pure zero-join projection — the shape that
# holds when the benchmark suite is millions of grams and the corpus
# is 100 TB. False positives (≈0.1% here) only over-flag for human
# review; false negatives never happen, which is the directional
# guarantee decontamination needs.
# ---------------------------------------------------------------------------
@query(
    "bloom_decontaminate_gate",
    extra=True,
    tags=("decontamination", "sketch", "bloom", "llm-pipeline"),
    oracle="""
WITH s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(w) - 4, 0)),
           i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]))) AS gram
  FROM s
),
pr AS (SELECT i FROM range(7) t(i)),
evh AS (
  SELECT CAST('0x' || substr(md5('bloom:' || gram), 1, 15) AS BIGINT) AS h
  FROM (SELECT gram FROM g WHERE doc_id % 7 = 0)
),
evp AS (
  SELECT ((h % 1073741824) + i * (2 * (h // 1073741824) + 1)) % 61440 AS pos
  FROM evh, pr
),
bloom AS (
  SELECT CAST(pos // 60 AS INT) AS word,
         bit_or(1::BIGINT << CAST(pos % 60 AS INT)) AS bits
  FROM evp GROUP BY 1
),
trh AS (
  SELECT doc_id, gram,
         CAST('0x' || substr(md5('bloom:' || gram), 1, 15) AS BIGINT) AS h
  FROM (SELECT doc_id, gram FROM g WHERE doc_id % 7 <> 0)
),
trp AS (
  SELECT doc_id, gram,
         ((h % 1073741824) + i * (2 * (h // 1073741824) + 1)) % 61440 AS pos
  FROM trh, pr
),
member AS (
  SELECT doc_id, gram
  FROM trp LEFT JOIN bloom ON CAST(trp.pos // 60 AS INT) = bloom.word
  GROUP BY doc_id, gram
  HAVING SUM(CASE WHEN COALESCE(bloom.bits, 0)
                       & (1::BIGINT << CAST(trp.pos % 60 AS INT)) <> 0
             THEN 1 ELSE 0 END) = 7
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_flagged_grams
FROM member GROUP BY doc_id ORDER BY doc_id
""",
)
def bloom_decontaminate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs whose word 5-grams hit the Bloom filter built over
    the eval slice's grams (same deterministic eval stand-in as
    ``decontaminate_eval_overlap``: doc_id % 7 == 0) — per doc, the
    count of distinct flagged grams.

    Plan: build = one BIT_OR aggregate over the eval grams' 7 probe
    positions (≤1024-row word table, duplicate grams free — OR is
    idempotent, so NO pre-distinct shuffle of the eval side); the
    array is collected (bounded by contract, 8 KB) and inlined as a
    plan literal; the training side is scan → explode → map-side
    ``bloom_member`` filter → one groupBy(doc_id) of only the FLAGGED
    rows. The whole eval corpus never crosses an exchange, and the
    membership test runs inside whole-stage codegen. The DuckDB oracle
    replays the entire sketch algebra bit-exactly, false positives
    included — the gate is deterministic, not statistical."""
    from ..functions.approx import bloom_array, bloom_member, bloom_word_rows
    from ..operators.minhash import shingles_from_words

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("_w")
    ).select(
        "doc_id",
        F.explode(F.array_distinct(shingles_from_words(F.col("_w"), 5))).alias(
            "gram"
        ),
    )
    ev = grams.filter(F.col("doc_id") % 7 == 0)
    arr = bloom_array(bloom_word_rows(ev, "gram"))
    tr = grams.filter(F.col("doc_id") % 7 != 0)
    return (
        tr.filter(bloom_member(F.col("gram"), arr))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_flagged_grams"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Weighted PageRank (operators/pagerank.py) over the event-type
# transition graph — the iterative join→aggregate pattern, driver face.
# ---------------------------------------------------------------------------
def _pagerank_iter_sql(i: int) -> str:
    """One unrolled PageRank iteration as SQL CTEs (d<i>/c<i>/r<i+1>),
    expression-shape-identical to weighted_pagerank's Spark columns."""
    return f"""
d{i} AS (
  SELECT CAST(COALESCE(SUM(CAST(ROUND(r, 9) AS DECIMAL(28,9))), 0)
              AS DOUBLE) AS dm
  FROM r{i} WHERE node NOT IN (SELECT src FROM outw)
),
c{i} AS (
  SELECT e.dst AS node,
         SUM(CAST(ROUND(CAST(0.85 AS DOUBLE) * r.r * CAST(e.w AS DOUBLE)
                        / o.outw, 9) AS DECIMAL(28,9))) AS cs
  FROM edges e JOIN outw o ON e.src = o.src JOIN r{i} r ON e.src = r.node
  GROUP BY e.dst
),
r{i + 1} AS (
  SELECT nd.node,
         ((1 - CAST(0.85 AS DOUBLE)) / n
          + COALESCE(CAST(c{i}.cs AS DOUBLE), 0))
         + (CAST(0.85 AS DOUBLE) * d{i}.dm) / n AS r
  FROM nodes nd LEFT JOIN c{i} ON nd.node = c{i}.node, nn, d{i}
)"""


@query(
    "pagerank_event_transitions",
    # Promoted to the driver window in round 14 (VERDICT r13 #3): the
    # iterative graph family's bit-matched-oracle representative (slot
    # freed by sort_nulls_last's demotion).
    tags=("graph", "iterative", "llm-pipeline"),
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS nxt
  FROM events
),
edges AS (
  SELECT event_type AS src, nxt AS dst, CAST(COUNT(*) AS BIGINT) AS w
  FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
outw AS (SELECT src, CAST(SUM(w) AS DOUBLE) AS outw FROM edges GROUP BY src),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
r0 AS (SELECT node, CAST(1 AS DOUBLE) / n AS r FROM nodes, nn),
{_pagerank_iter_sql(0)},
{_pagerank_iter_sql(1)},
{_pagerank_iter_sql(2)}
SELECT node, r AS rank
FROM r3 ORDER BY node
""",
)
def pagerank_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the event-type transition graph (edge
    u→v weighted by how often v follows u within a user's timeline):
    which event type is the behavioral attention sink. The graph
    derivation is the scale-bearing stage — one window over the events
    table, edges aggregate to |types|² rows — and the rank loop is the
    generic ``weighted_pagerank`` operator (domain-graph sized in
    production: rank/outw frames one row per node, every step a key
    join or aggregate, dangling mass a 1-row broadcast — nothing
    driver-side in the loop). Oracle unrolls the 3 iterations as CTEs
    with bit-matched arithmetic: contributions are fixed-shape DOUBLE
    expressions ROUNDed to scale 9 then cast to DECIMAL(28,9) before
    the order-free SUM (scale 18 diverged cross-engine in the last
    digit — Spark's double→decimal is string-mediated, DuckDB rounds
    the binary value), and the recombine keeps one parenthesization —
    so the final DOUBLE is bit-identical across engines and hashes
    raw."""
    from pyspark.sql import Window

    from ..operators.pagerank import weighted_pagerank

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.withColumn("nxt", F.lead("event_type").over(w))
        .filter(F.col("nxt").isNotNull())
        .groupBy(
            F.col("event_type").alias("src"), F.col("nxt").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return weighted_pagerank(edges).orderBy("node")


@query(
    "unigram_logprob_quality",
    extra=True,
    tags=("text", "quality", "lm", "llm-pipeline"),
    oracle="""
WITH tok AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
  FROM documents
),
cnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY w),
tot AS (
  SELECT CAST(SUM(n) AS DOUBLE) AS t, CAST(COUNT(*) AS DOUBLE) AS v FROM cnt
),
model AS (
  SELECT w,
         CAST(ROUND(log10((CAST(n AS DOUBLE) + 1.0) / (t + v)), 6)
              AS DECIMAL(18,6)) AS lp
  FROM cnt CROSS JOIN tot
),
perdoc AS (
  SELECT t.doc_id, t.source,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         SUM(m.lp) AS sum_lp
  FROM tok t JOIN model m USING (w)
  GROUP BY t.doc_id, t.source
),
scored AS (
  SELECT doc_id, source, n_tokens,
         CAST(ROUND(CAST(sum_lp AS DOUBLE) / n_tokens, 6)
              AS DECIMAL(18,6)) AS mean_lp
  FROM perdoc
),
g AS (
  SELECT SUM(mean_lp) AS s1, SUM(mean_lp * mean_lp) AS s2,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM scored
),
thr AS (
  SELECT (CAST(s1 AS DOUBLE) / n)
         - 2.0 * sqrt((CAST(s2 AS DOUBLE) / n)
                      - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
           AS lo
  FROM g
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(mean_lp) AS DOUBLE) / COUNT(*), 6) AS avg_doc_logprob,
       CAST(SUM(CASE WHEN CAST(mean_lp AS DOUBLE) < (SELECT lo FROM thr)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
FROM scored
GROUP BY source
ORDER BY source
""",
)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring, the perplexity-proxy filter of
    CCNet-style pipelines (Wenzek et al. 2020) with the corpus's OWN
    unigram model standing in for the external LM (no model deps in
    this container): each doc's mean token log10-probability under
    add-one-smoothed corpus unigram frequencies; docs more than 2σ
    below the global mean are flagged (gibberish / alien-vocabulary
    text reads far less probable than the corpus baseline). Reported
    per source — where to point the cleaning budget.

    Scale shape: one token pass; the model is vocab-sized and joins
    back on the token (broadcast under threshold); per-doc and
    per-source reductions are map-side-combined aggregates. The global
    μ/σ ride as a 1-row broadcast cross join — no driver collect.
    Cross-engine determinism is the DSIR discipline: log10 outputs are
    ROUND(·,6)→DECIMAL(18,6) BEFORE any sum (absorbs libm ulp
    disagreement and makes every reduction order-free); the σ pipeline
    sums exact decimal squares; every division/comparison is a
    fixed-shape IEEE expression over identical inputs."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("w")
    )
    cnt = tok.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    tot = cnt.agg(
        F.sum("n").cast("double").alias("t"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    model = cnt.crossJoin(F.broadcast(tot)).select(
        "w",
        F.round(
            F.log10(
                (F.col("n").cast("double") + 1.0) / (F.col("t") + F.col("v"))
            ),
            6,
        )
        .cast("decimal(18,6)")
        .alias("lp"),
    )
    perdoc = (
        tok.join(model, "w")
        .groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("lp").alias("sum_lp"))
    )
    scored = perdoc.select(
        "doc_id",
        "source",
        F.round(
            F.col("sum_lp").cast("double") / F.col("n_tokens"), 6
        )
        .cast("decimal(18,6)")
        .alias("mean_lp"),
    )
    g = scored.agg(
        F.sum("mean_lp").alias("s1"),
        F.sum(F.col("mean_lp") * F.col("mean_lp")).alias("s2"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    thr = (
        mu
        - F.lit(2.0)
        * F.sqrt(F.col("s2").cast("double") / F.col("n") - mu * mu)
    ).alias("lo")
    return (
        scored.crossJoin(F.broadcast(g.select(thr)))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum("mean_lp").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_doc_logprob"),
            F.sum(
                F.when(F.col("mean_lp").cast("double") < F.col("lo"), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_flagged"),
        )
        .orderBy("source")
    )


_MIX_ALPHA = 0.7  # the usual multilingual/web mixing temperature


@query(
    "source_mixture_plan",
    extra=True,
    tags=("curation", "mixing", "sampling", "llm-pipeline"),
    oracle=f"""
WITH perdoc AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
src AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens
  FROM perdoc GROUP BY source
),
tot AS (
  SELECT CAST(SUM(n_tokens) AS DOUBLE) AS t,
         CAST(SUM(n_docs) AS DOUBLE) AS d FROM src
),
p AS (
  SELECT source, n_docs, n_tokens,
         CAST(ROUND(pow(CAST(n_tokens AS DOUBLE), {_MIX_ALPHA}), 6)
              AS DECIMAL(18,6)) AS pw
  FROM src
),
ps AS (SELECT SUM(pw) AS pwsum FROM p),
plan AS (
  SELECT p.source, p.n_docs, p.n_tokens,
         ROUND(CAST(p.n_tokens AS DOUBLE) / t, 9) AS raw_share,
         ROUND(CAST(p.pw AS DOUBLE) / CAST(ps.pwsum AS DOUBLE), 9)
           AS temp_share,
         CAST(floor((d / 2.0)
              * (CAST(p.pw AS DOUBLE) / CAST(ps.pwsum AS DOUBLE)))
              AS BIGINT) AS quota_docs
  FROM p CROSS JOIN ps CROSS JOIN tot
),
ranked AS (
  SELECT d.source, d.n_tok,
         ROW_NUMBER() OVER (PARTITION BY d.source
                            ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id)
           AS rn
  FROM perdoc d
),
sel AS (
  SELECT r.source,
         CAST(COUNT(*) AS BIGINT) AS selected_docs,
         CAST(SUM(r.n_tok) AS BIGINT) AS selected_tokens
  FROM ranked r JOIN plan pl USING (source)
  WHERE r.rn <= pl.quota_docs
  GROUP BY r.source
)
SELECT pl.source, pl.n_docs, pl.n_tokens, pl.raw_share, pl.temp_share,
       pl.quota_docs,
       COALESCE(s.selected_docs, 0) AS selected_docs,
       COALESCE(s.selected_tokens, 0) AS selected_tokens
FROM plan pl LEFT JOIN sel s USING (source)
ORDER BY pl.source
""",
)
def source_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing — the data-recipe step between
    per-source accounting and the training shuffle: sampling weight
    w_i ∝ n_i^α (α = 0.7, the standard multilingual/web temperature;
    α→1 is proportional, α→0 uniform — small sources get boosted,
    mega-sources damped), a per-source DOC QUOTA for a half-corpus
    budget, and a deterministic selection meeting it (md5-ordered per
    source, so the plan is replayable and the same doc set ships every
    epoch — the training_shuffle_interleave input contract).

    Scale shape: one token-length pass, a source-sized plan frame
    (KB), one window per source for the selection rank. Cross-engine:
    pow() is libm (not IEEE-exact), so the weights are ROUND(·,6)→
    DECIMAL before the normalizing SUM (order-free, ulp-immune — the
    DSIR discipline); shares and quotas are then fixed-shape IEEE
    expressions over identical inputs, and floor() makes the quota an
    exact integer both engines agree on."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    perdoc = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    )
    src = perdoc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )
    tot = src.agg(
        F.sum("n_tokens").cast("double").alias("t"),
        F.sum("n_docs").cast("double").alias("d"),
    )
    p = src.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.pow(F.col("n_tokens").cast("double"), F.lit(_MIX_ALPHA)), 6)
        .cast("decimal(18,6)")
        .alias("pw"),
    )
    ps = p.agg(F.sum("pw").alias("pwsum"))
    share = F.col("pw").cast("double") / F.col("pwsum").cast("double")
    plan = (
        p.crossJoin(F.broadcast(ps))
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens").cast("double") / F.col("t"), 9).alias(
                "raw_share"
            ),
            F.round(share, 9).alias("temp_share"),
            F.floor((F.col("d") / F.lit(2.0)) * share)
            .cast("bigint")
            .alias("quota_docs"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    sel = (
        perdoc.withColumn("rn", F.row_number().over(w))
        .join(plan.select("source", "quota_docs"), "source")
        .filter(F.col("rn") <= F.col("quota_docs"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("selected_docs"),
            F.sum("n_tok").alias("selected_tokens"),
        )
    )
    return (
        plan.join(sel, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "raw_share",
            "temp_share",
            "quota_docs",
            F.coalesce(F.col("selected_docs"), F.lit(0).cast("bigint")).alias(
                "selected_docs"
            ),
            F.coalesce(F.col("selected_tokens"), F.lit(0).cast("bigint")).alias(
                "selected_tokens"
            ),
        )
        .orderBy("source")
    )


@query(
    "release_diff_summary",
    tags=("lifecycle", "release"),
    extra=True,
    oracle="""
WITH per_lang AS (
  SELECT lang,
         COUNT(*) AS n_before,
         COUNT(CASE WHEN doc_id % 97 = 0 THEN 1 END) AS n_hit
  FROM documents
  GROUP BY lang
)
SELECT lang,
       CASE WHEN n_before = n_hit THEN 'removed'
            WHEN n_hit > 0 THEN 'rewritten'
            ELSE 'unchanged' END AS status,
       CAST(n_before AS BIGINT) AS rows_before,
       CAST(n_before - n_hit AS BIGINT) AS rows_after
FROM per_lang
ORDER BY lang
""",
)
def release_diff_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The release-manifest lineage layer (pipeline/release.py,
    VERDICT r15 #6), exercised end-to-end against a real file diff:
    publish release r1 of a lang-partitioned corpus table, run a
    takedown-shaped ``delete_where`` (every ``doc_id % 97 = 0``),
    publish r2, and summarize ``diff_releases(r1, r2)`` per partition.
    The DuckDB oracle derives the same summary from the DATA alone —
    so the manifest arithmetic (footer row counts, file-set
    fingerprints, added/removed/rewritten classification) must agree
    with ground truth: a partition reads 'rewritten' exactly when the
    delete touched it (delete_where rewrites only hit files, so an
    unhit partition's file set — and fingerprint — is bit-stable),
    'removed' exactly when the delete emptied it. The manifest side is
    pure metadata: one footer read per file at snapshot time, KB-sized
    JSON arithmetic at diff time — the 100 TB release audit never
    rescans data."""
    import shutil
    import tempfile

    from ..pipeline.release import diff_releases, snapshot_release
    from ..pipeline.writers import delete_where

    docs = load_table(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="release-diag-")
    try:
        tbl = f"{root}/corpus"
        (
            docs.select("doc_id", "lang")
            .repartition(2, "doc_id")
            .write.partitionBy("lang")
            .parquet(tbl)
        )
        man1 = snapshot_release(tbl, "r1")
        delete_where(spark, tbl, F.col("doc_id") % 97 == 0)
        man2 = snapshot_release(tbl, "r2")
        d = diff_releases(man1, man2)
    finally:
        # everything below is driver-side arithmetic over the collected
        # manifests — the scratch table is no longer needed, and the
        # registered query runs many times (bench reps, parity suite,
        # driver) so leaking a corpus copy per call would fill /tmp
        shutil.rmtree(root, ignore_errors=True)
    rows = []
    for status in ("added", "removed", "rewritten", "unchanged"):
        for part, e in d[status].items():
            rows.append(
                (
                    part.split("=", 1)[1],
                    status,
                    int(e["rows_before"]),
                    int(e["rows_after"]),
                )
            )
    return spark.createDataFrame(
        sorted(rows),
        "lang string, status string, rows_before long, rows_after long",
    ).orderBy("lang")


@query(
    "release_retention_accounting",
    tags=("lifecycle", "release"),
    extra=True,
    oracle="""
WITH per_lang AS (
  SELECT lang,
         COUNT(*) AS n_before,
         COUNT(CASE WHEN doc_id % 89 = 0 THEN 1 END) AS n_hit
  FROM documents
  GROUP BY lang
)
SELECT lang,
       CAST(n_before AS BIGINT) AS rows_release,
       CAST(n_before - n_hit AS BIGINT) AS rows_current,
       CAST(n_hit AS BIGINT) AS rows_erased
FROM per_lang
ORDER BY lang
""",
)
def release_retention_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-root accounting under the oracle gate: publish release
    r1, run a RELEASE-PROTECTED takedown-shaped delete (every
    ``doc_id % 89 = 0`` — old files park under ``.retired/`` instead
    of deleting), publish r2, and report per partition the release
    row count, the current row count, and the erased delta — all from
    MANIFEST arithmetic (footer sums recorded at snapshot time; the
    table itself is never re-scanned at reporting time). The DuckDB
    oracle derives the same numbers from the data, so the protected
    delete's bookkeeping (visible set shrinks by exactly the hits;
    parked files never leak into a snapshot) is hash-verified against
    ground truth. The companion pytest pins the physical side
    (read_release resolves parked files; verify_takedown counts them;
    expire_releases reclaims)."""
    import shutil
    import tempfile

    from ..pipeline.release import diff_releases, snapshot_release
    from ..pipeline.writers import delete_where

    docs = load_table(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="release-retain-")
    try:
        tbl = f"{root}/corpus"
        (
            docs.select("doc_id", "lang")
            .repartition(2, "doc_id")
            .write.partitionBy("lang")
            .parquet(tbl)
        )
        man1 = snapshot_release(tbl, "r1")
        delete_where(
            spark, tbl, F.col("doc_id") % 89 == 0, protect_releases=True
        )
        man2 = snapshot_release(tbl, "r2")
        d = diff_releases(man1, man2)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    rows = []
    for status in ("removed", "rewritten", "unchanged"):
        for part, e in d[status].items():
            rows.append(
                (
                    part.split("=", 1)[1],
                    int(e["rows_before"]),
                    int(e["rows_after"]),
                    int(e["rows_before"]) - int(e["rows_after"]),
                )
            )
    return spark.createDataFrame(
        sorted(rows),
        "lang string, rows_release long, rows_current long, rows_erased long",
    ).orderBy("lang")


@query(
    "release_row_delta_erasures",
    tags=("lifecycle", "release"),
    extra=True,
    oracle="""
SELECT doc_id, lang, 'removed' AS _change
FROM documents
WHERE doc_id % 89 = 0
ORDER BY doc_id
""",
)
def release_row_delta_erasures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level release audit under the oracle gate: publish r1, run a
    release-protected delete (every ``doc_id % 89 = 0``), publish r2,
    and ask ``release_row_delta`` exactly which (doc_id, lang) rows
    left the corpus between the releases. The delta reads the PINNED
    file sets — the removed rows resolve from the ``.retired/`` parked
    copies, not from any surviving live data — and the manifest diff
    prunes unchanged partitions before the anti-joins, so the audit
    reads only the partitions the delete touched. The DuckDB oracle
    derives the same removed set straight from the data; the hash gate
    therefore verifies the whole pinned-read + pruning + membership
    pipeline end to end."""
    import shutil
    import tempfile

    from ..pipeline.release import release_row_delta, snapshot_release
    from ..pipeline.writers import delete_where

    docs = load_table(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="release-delta-")
    try:
        tbl = f"{root}/corpus"
        (
            docs.select("doc_id", "lang")
            .repartition(2, "doc_id")
            .write.partitionBy("lang")
            .parquet(tbl)
        )
        snapshot_release(tbl, "r1")
        delete_where(
            spark, tbl, F.col("doc_id") % 89 == 0, protect_releases=True
        )
        snapshot_release(tbl, "r2")
        rows = (
            release_row_delta(spark, tbl, "r1", "r2", ["doc_id", "lang"])
            .collect()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        sorted((int(r["doc_id"]), r["lang"], r["_change"]) for r in rows),
        "doc_id long, lang string, _change string",
    ).orderBy("doc_id")


@query(
    "snapshot_isolated_read",
    tags=("lifecycle", "release"),
    extra=True,
    oracle="""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY lang
ORDER BY lang
""",
)
def snapshot_isolated_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-read isolation under the oracle gate (VERDICT r16 #4):
    pin a ``read_table_snapshot`` over a scratch corpus, then inject a
    promoted-looking duplicate file — the exact old+new state a
    listing-based reader sees inside a manifest swap's promote window.
    A naive ``spark.read.parquet`` double-counts the duplicated
    partition (guarded: the builder raises if the probe is vacuous);
    the pinned reader aggregates EXACTLY the release-consistent rows,
    and the DuckDB oracle derives the same per-partition counts from
    the source data — so the hash gate verifies the isolation property,
    not just a row count."""
    import pathlib
    import shutil
    import tempfile

    from ..pipeline.release import read_table_snapshot

    docs = load_table(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="snap-iso-")
    try:
        tbl = f"{root}/corpus"
        (
            docs.select("doc_id", "lang")
            .repartition(2, "doc_id")
            .write.partitionBy("lang")
            .parquet(tbl)
        )
        snap = read_table_snapshot(spark, tbl)
        # the mid-promote state: a promoted twin beside its original
        p = next(
            f
            for f in sorted(pathlib.Path(tbl).rglob("*.parquet"))
            if not any(
                seg.startswith((".", "_"))
                for seg in f.relative_to(tbl).parts
            )
        )
        shutil.copy(p, p.parent / "part-cmp000000000000-0.parquet")
        naive = spark.read.parquet(tbl).count()
        rows = (
            snap.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .collect()
        )
        exact = sum(r["n_docs"] for r in rows)
        if naive <= exact:
            raise RuntimeError(
                "snapshot_isolated_read: probe vacuous — the duplicated "
                "file did not inflate the naive listing read"
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        sorted((r["lang"], int(r["n_docs"])) for r in rows),
        "lang string, n_docs long",
    ).orderBy("lang")


@query(
    "release_row_delta_unpruned",
    tags=("lifecycle", "release"),
    extra=True,
    oracle="""
WITH keyed AS (
  SELECT doc_id % 97 AS key, doc_id, lang FROM documents
),
ml AS (
  SELECT MIN(lang) AS m FROM documents WHERE doc_id % 89 = 0
),
survivors AS (
  SELECT DISTINCT key FROM keyed, ml
  WHERE NOT (key = 11 OR (doc_id % 89 = 0 AND lang = m))
)
SELECT key, 'removed' AS _change
FROM (SELECT DISTINCT key FROM keyed) a
WHERE key NOT IN (SELECT key FROM survivors)
ORDER BY key
""",
)
def release_row_delta_unpruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNPRUNED ``release_row_delta`` fallback under the oracle
    gate — ADVICE r16 #1's exact failure shape, built to DISTINGUISH
    the fix: the scratch corpus is lang-partitioned but keyed on a
    NON-UNIQUE derived key (``doc_id % 97``), so most keys have rows
    in several partitions. The protected delete removes (a) every row
    of one whole key and (b) the ``doc_id % 89 = 0`` rows of ONE
    partition only. Ground truth (the oracle derives it from the
    data): exactly the keys with no surviving row anywhere — the
    whole-key takedown, plus any key incidentally confined to the
    deleted slice. The pre-fix pruned plan read only the CHANGED
    partitions and therefore also reported keys that merely lost their
    changed-partition rows while surviving in unchanged partitions —
    false erasure claims the hash gate now rejects; the sound fallback
    reads both releases' full pinned file sets."""
    import shutil
    import tempfile

    from ..pipeline.release import release_row_delta, snapshot_release
    from ..pipeline.writers import delete_where

    docs = load_table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 97).alias("key"), "doc_id", "lang"
    )
    min_lang = (
        docs.filter(F.col("doc_id") % 89 == 0)
        .agg(F.min("lang"))
        .collect()[0][0]
    )
    root = tempfile.mkdtemp(prefix="release-unpruned-")
    try:
        tbl = f"{root}/corpus"
        docs.repartition(2, "doc_id").write.partitionBy("lang").parquet(tbl)
        snapshot_release(tbl, "r1")
        delete_where(
            spark,
            tbl,
            (F.col("key") == 11)
            | ((F.col("doc_id") % 89 == 0) & (F.col("lang") == min_lang)),
            protect_releases=True,
        )
        snapshot_release(tbl, "r2")
        rows = release_row_delta(spark, tbl, "r1", "r2", ["key"]).collect()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        sorted((int(r["key"]), r["_change"]) for r in rows),
        "key long, _change string",
    ).orderBy("key")


@query(
    "merge_key_locality_audit",
    tags=("lifecycle", "merge"),
    extra=True,
    oracle="""
SELECT MIN(doc_id) AS doc_id, CAST(2 AS BIGINT) AS n_partitions
FROM documents
WHERE lang = (SELECT MIN(lang) FROM documents)
""",
)
def merge_key_locality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The partition-locality contract made CHECKABLE (VERDICT r17
    #3): ``merge_upsert(partition_col=)`` requires each update row to
    carry its key's CURRENT partition value — a wrong value inserts
    the key into a second partition and, until round 18, nothing
    could detect the table-wide duplicate afterwards. This probe
    stages a lang-partitioned corpus, commits one contract-VIOLATING
    update (the lowest doc_id of the lowest lang, stamped with the
    highest lang — its key now lives in two partitions) alongside one
    contract-honoring update (the lowest doc_id of the highest lang,
    staying put), then runs ``audit_key_partition_locality``. Ground
    truth the oracle derives from the source data: exactly the
    violated key, in exactly 2 partitions — the honoring update must
    NOT be flagged (no false positives) and the pre-violation audit
    must be empty (guarded: the builder raises if it isn't)."""
    import shutil
    import tempfile

    from ..pipeline.writers import (
        audit_key_partition_locality,
        merge_upsert,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    lo, hi = docs.agg(F.min("lang"), F.max("lang")).collect()[0]
    if lo == hi:
        raise RuntimeError(
            "merge_key_locality_audit: probe vacuous — documents has a "
            "single lang, no second partition to violate into"
        )
    vk = docs.filter(F.col("lang") == lo).agg(F.min("doc_id")).collect()[0][0]
    ck = docs.filter(F.col("lang") == hi).agg(F.min("doc_id")).collect()[0][0]
    root = tempfile.mkdtemp(prefix="merge-locality-")
    try:
        tbl = f"{root}/corpus"
        docs.repartition(2, "doc_id").write.partitionBy("lang").parquet(tbl)
        if audit_key_partition_locality(
            spark, tbl, ("doc_id",), "lang"
        ).count():
            raise RuntimeError(
                "merge_key_locality_audit: probe vacuous — the corpus "
                "has duplicate doc_ids across partitions BEFORE the "
                "violating merge"
            )
        upd = spark.createDataFrame(
            [(int(vk), hi), (int(ck), hi)], "doc_id long, lang string"
        )
        merge_upsert(spark, tbl, upd, keys=("doc_id",), partition_col="lang")
        rows = audit_key_partition_locality(
            spark, tbl, ("doc_id",), "lang"
        ).collect()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        sorted((int(r["doc_id"]), int(r["n_partitions"])) for r in rows),
        "doc_id long, n_partitions long",
    ).orderBy("doc_id")


@query(
    "release_fsck_accounting",
    tags=("lifecycle", "release"),
    extra=True,
    oracle="""
SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) AS files,
       CAST(COUNT(DISTINCT lang) - 2 AS BIGINT) AS live,
       CAST(1 AS BIGINT) AS retired,
       CAST(1 AS BIGINT) AS n_missing,
       CAST(0 AS BIGINT) AS ok_flag
FROM documents
""",
)
def release_fsck_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``verify_release`` under the oracle gate (round 18): the fsck's
    live/retired/missing accounting derived independently by DuckDB
    from the source data. One file per lang partition (repartition(1)
    before the partitioned write pins the layout), snapshot, then one
    PROTECTED single-row delete (its lang's recorded file parks →
    retired) and one UNPROTECTED single-row delete in a different lang
    (its recorded file is destroyed → missing). Ground truth: files =
    n_langs, live = n_langs − 2, retired = 1, missing = 1, ok = 0 —
    the oracle computes the same from ``COUNT(DISTINCT lang)``.
    Guarded: raises when the corpus has < 3 langs (the two damaged
    partitions must leave a live remainder)."""
    import shutil
    import tempfile

    from ..pipeline.release import snapshot_release, verify_release
    from ..pipeline.writers import delete_where

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    lo, hi = docs.agg(F.min("lang"), F.max("lang")).collect()[0]
    n_langs = docs.select("lang").distinct().count()
    if n_langs < 3:
        raise RuntimeError(
            "release_fsck_accounting: probe vacuous — needs >= 3 langs "
            "so damage in two partitions leaves a live remainder"
        )
    vk_lo = docs.filter(F.col("lang") == lo).agg(F.min("doc_id")).collect()[0][0]
    vk_hi = docs.filter(F.col("lang") == hi).agg(F.min("doc_id")).collect()[0][0]
    root = tempfile.mkdtemp(prefix="release-fsck-")
    try:
        tbl = f"{root}/corpus"
        docs.repartition(1).write.partitionBy("lang").parquet(tbl)
        snapshot_release(tbl, "r1")
        delete_where(
            spark, tbl, F.col("doc_id") == vk_lo, protect_releases=True
        )
        delete_where(spark, tbl, F.col("doc_id") == vk_hi)
        out = verify_release(tbl, "r1", check_rows=True)
        if out["size_mismatches"] or out["row_mismatches"]:
            raise RuntimeError(
                f"release_fsck_accounting: unexpected corruption class "
                f"{out} — the probe stages only park/destroy damage"
            )
        row = (
            int(out["files"]),
            int(out["live"]),
            int(out["retired"]),
            len(out["missing"]),
            int(out["ok"]),
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [row],
        "files long, live long, retired long, n_missing long, ok_flag long",
    )


@query(
    "merge_multilevel_locality_audit",
    tags=("lifecycle", "merge"),
    extra=True,
    oracle="""
SELECT MIN(doc_id) AS doc_id, CAST(2 AS BIGINT) AS n_leaves,
       CAST(0 AS BIGINT) AS first_level_flags
FROM documents
WHERE lang = (SELECT MIN(lang) FROM documents)
""",
)
def merge_multilevel_locality_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round 19 (VERDICT r18 next #1): the partition-scoped merge and
    the locality audit over a MULTI-LEVEL Hive layout, oracle-gated.
    The probe stages a two-level ``lang/bkt`` corpus, commits one
    merge whose update row violates the locality contract at the
    SECOND level only — the lowest doc_id of the lowest lang arrives
    with the right lang but the WRONG bkt, so its key now lives in
    two LEAF partitions of the same first-level dir — plus one
    contract-honoring update (right lang, right bkt). Ground truth
    the oracle derives from source data: the violated key flagged
    with exactly 2 leaves, and ZERO flags from the first-level audit
    (same lang — a flat audit cannot see sub-partition violations;
    this pins the leaf-granularity semantics). Guards: pre-merge
    audits at both depths must be clean, else the probe raises as
    vacuous. ≙ reference: none (the reference's pipeline overwrites
    whole single-level ingestion_date partitions,
    raw_to_trusted_processor.py:148-211; nested-layout maintenance is
    north-star lifecycle surface)."""
    import shutil
    import tempfile

    from ..pipeline.writers import (
        audit_key_partition_locality,
        merge_upsert,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .withColumn("bkt", (F.col("doc_id") % 2).cast("int"))
    )
    lo, hi = docs.agg(F.min("lang"), F.max("lang")).collect()[0]
    if lo == hi:
        raise RuntimeError(
            "merge_multilevel_locality_audit: probe vacuous — a single "
            "lang leaves no honoring-update partition"
        )
    vk = docs.filter(F.col("lang") == lo).agg(F.min("doc_id")).collect()[0][0]
    ck = docs.filter(F.col("lang") == hi).agg(F.min("doc_id")).collect()[0][0]
    root = tempfile.mkdtemp(prefix="merge-mlvl-")
    try:
        tbl = f"{root}/corpus"
        docs.repartition(2, "doc_id").write.partitionBy("lang", "bkt").parquet(
            tbl
        )
        for cols in (("lang", "bkt"), "lang"):
            if audit_key_partition_locality(
                spark, tbl, ("doc_id",), cols
            ).count():
                raise RuntimeError(
                    "merge_multilevel_locality_audit: probe vacuous — "
                    "duplicate doc_ids across partitions BEFORE the merge"
                )
        upd = spark.createDataFrame(
            [
                (int(vk), lo, int(1 - (vk % 2))),  # right lang, WRONG bkt
                (int(ck), hi, int(ck % 2)),  # honoring: stays put
            ],
            "doc_id long, lang string, bkt int",
        )
        merge_upsert(
            spark, tbl, upd, keys=("doc_id",), partition_col=("lang", "bkt")
        )
        leaf = audit_key_partition_locality(
            spark, tbl, ("doc_id",), ("lang", "bkt")
        ).collect()
        flat_flags = audit_key_partition_locality(
            spark, tbl, ("doc_id",), "lang"
        ).count()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    if len(leaf) != 1:
        raise RuntimeError(
            f"merge_multilevel_locality_audit: expected exactly the one "
            f"staged violation, audit returned {leaf!r}"
        )
    return spark.createDataFrame(
        [(int(leaf[0]["doc_id"]), int(leaf[0]["n_partitions"]), int(flat_flags))],
        "doc_id long, n_leaves long, first_level_flags long",
    )


@query(
    "compact_multilevel_content_preserved",
    tags=("lifecycle", "compaction"),
    extra=True,
    oracle="""
SELECT lang,
       CAST(doc_id % 2 AS BIGINT) AS bkt,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY 1, 2
ORDER BY lang, bkt
""",
)
def compact_multilevel_content_preserved(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round 19: per-leaf compaction on a MULTI-LEVEL layout under the
    oracle gate. The probe stages a two-level ``lang/bkt`` corpus with
    exactly ONE fragmented leaf (the lowest lang's bkt=0, written in
    12 shards; every other leaf lands as one file), sweeps it with
    ``compact_fragmented_partitions``, and returns the per-leaf row
    counts read back from the compacted table — DuckDB derives the
    same counts from the source, so a compaction that lost, duplicated
    or cross-contaminated ANY leaf's rows hash-mismatches. Guards
    (raise = vacuous, never a silent pass): exactly the staged hot
    leaf must be reported compacted and fold to ≤ 4 files, and a cold
    sibling leaf's bytes must survive untouched. ≙ reference: none
    (the reference has no compaction; nested-layout maintenance is
    north-star lifecycle surface)."""
    import hashlib as _hl
    import pathlib
    import shutil
    import tempfile

    from ..pipeline.writers import compact_fragmented_partitions

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .withColumn("bkt", (F.col("doc_id") % 2).cast("int"))
    )
    lo = docs.agg(F.min("lang")).collect()[0][0]
    hot = (F.col("lang") == lo) & (F.col("bkt") == 0)
    root = tempfile.mkdtemp(prefix="compact-mlvl-")
    try:
        tbl = f"{root}/corpus"
        docs.filter(~hot).repartition(1).write.partitionBy(
            "lang", "bkt"
        ).parquet(tbl)
        docs.filter(hot).repartition(12).write.mode("append").partitionBy(
            "lang", "bkt"
        ).parquet(tbl)
        rp = pathlib.Path(tbl)
        cold_leaf = sorted(
            d for d in rp.glob("lang=*/bkt=*") if d.is_dir()
        )[-1]

        def _md5s(d):
            return {
                p.name: _hl.md5(p.read_bytes()).hexdigest()
                for p in d.glob("*.parquet")
            }

        cold_before = _md5s(cold_leaf)
        out = compact_fragmented_partitions(
            spark, tbl, max_files_per_partition=4
        )
        if out["partitions_compacted"] != [f"lang={lo}/bkt=0"]:
            raise RuntimeError(
                f"compact_multilevel_content_preserved: probe vacuous — "
                f"expected exactly the staged hot leaf compacted, got "
                f"{out['partitions_compacted']!r}"
            )
        hot_files = len(list((rp / f"lang={lo}" / "bkt=0").glob("*.parquet")))
        if hot_files > 4:
            raise RuntimeError(
                f"compact_multilevel_content_preserved: hot leaf still "
                f"has {hot_files} files after the sweep"
            )
        if _md5s(cold_leaf) != cold_before:
            raise RuntimeError(
                "compact_multilevel_content_preserved: a cold sibling "
                "leaf's bytes changed — the sweep touched an "
                "unfragmented leaf"
            )
        rows = (
            spark.read.parquet(tbl)
            .groupBy("lang", "bkt")
            .count()
            .collect()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        sorted((r["lang"], int(r["bkt"]), int(r["count"])) for r in rows),
        "lang string, bkt long, n_docs long",
    ).orderBy("lang", "bkt")
