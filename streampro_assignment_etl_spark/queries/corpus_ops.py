"""Corpus-preparation operators beyond the dedup/ANN families: span-level
dedup with document reconstruction, inverted-index construction, the
deterministic epoch shuffle a trainer consumes, model-based quality
filtering, incremental dedup against an existing corpus, cross-source
vocabulary drift, embedding-coverage auditing, and per-source dedup
diagnostics — the remaining verbs of a training-data pipeline that the
existing extensions (document-level dedup, quality, sampling, packing)
don't cover.

All are EXTRAS: their operator families already have driver-window
representatives, so they ride the local differential harness
(tests/test_oracle_parity.py, REGISTRY ∪ EXTRAS) with full DuckDB
oracles instead of spending driver slots.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import content_fingerprint
from ..operators.components import _truncate_lineage
from ..sources.testdata import load_table
from .catalog import query

_SPAN_WORDS = 8


# ---------------------------------------------------------------------------
# Span-level dedup + document reconstruction (C4/RefinedWeb-style).
# ---------------------------------------------------------------------------
@query(
    "span_dedup_reconstruct",
    extra=True,
    tags=("dedup", "span", "llm-pipeline"),
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
spans AS (
  SELECT doc_id, i AS pos,
         array_to_string(w[(i*{_SPAN_WORDS}+1):(i*{_SPAN_WORDS}+{_SPAN_WORDS})], ' ') AS span
  FROM w, UNNEST(generate_series(0, CAST(ceil(len(w)/{_SPAN_WORDS}.0) AS BIGINT) - 1)) AS t(i)
),
kept AS (
  SELECT doc_id, pos, span FROM spans
  QUALIFY row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) = 1
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS kept_spans,
       string_agg(span, ' ' ORDER BY pos) AS text_dedup
FROM kept
GROUP BY doc_id
ORDER BY doc_id
""",
)
def span_dedup_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup: cut every document into fixed 8-word spans,
    keep each distinct span's globally FIRST occurrence (ordered by
    (doc_id, pos)), and reassemble documents from their surviving spans
    in order — the C4/RefinedWeb "remove repeated passages" operator
    that document-level fingerprints can't express (a doc that shares
    half its content survives with the shared half cut, instead of
    being kept or dropped whole). Documents whose every span was seen
    earlier disappear entirely — on both engines.

    Scale shape: explode to one row per span (rows ≈ words/8, each row
    ~8 words wide — the corpus roughly once over the wire), ONE shuffle
    on the span string for the first-occurrence window, one shuffle back
    on doc_id to reassemble. The span-keyed window is the same key
    profile as exact fingerprint dedup (dominated by near-unique keys);
    repeated boilerplate spans are the skewed tail and AQE absorbs them.
    This anchor keys the window on the verbatim span string (what the
    oracle replays); production callers get ``build_span_dedup``'s
    ``hash_span_key=True`` default — xxhash64 of the span as the
    shuffle/sort key — property-pinned identical.
    """
    docs = load_table(spark, sf_dir, "documents")
    return build_span_dedup(docs, hash_span_key=False)


def build_span_dedup(docs: DataFrame, hash_span_key: bool = True) -> DataFrame:
    """Span-level dedup + reconstruction (see ``span_dedup_reconstruct``).

    ``hash_span_key=True`` (the scale default) keys the first-occurrence
    window on ``xxhash64(span)`` instead of the raw span string: the
    window's shuffle partitioning and per-group sort then compare
    8-byte longs instead of ~50-byte UTF-8 strings (the span itself
    still rides the row once for reconstruction — the saving is the
    KEY, which Spark materializes again in the exchange and sort). A
    64-bit collision merges two distinct spans (the later one is
    wrongly cut) with probability ~n²/2⁶⁵ — at 10¹² spans that is ~3%
    of one span corpus-wide, the standard fingerprint-dedup trade. The
    string-keyed form (``False``) is the oracle anchor; equality is
    property-pinned in tests/test_corpus_ops.py.
    """
    k = _SPAN_WORDS
    # Split once into its own projection — referencing split(text) in
    # both the sequence bound and the slice would tokenize every row
    # twice (codegen does not CSE across the lambda boundary).
    words = docs.select("doc_id", F.split("text", " ").alias("_w"))
    spans = words.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(_w)/{k}.0) as int) - 1),"
                f" i -> array_join(slice(_w, i*{k}+1, {k}), ' '))"
            )
        ).alias("pos", "span"),
    )
    if hash_span_key:
        spans = spans.withColumn("_sk", F.xxhash64("span"))
        first = Window.partitionBy("_sk").orderBy("doc_id", "pos")
    else:
        first = Window.partitionBy("span").orderBy("doc_id", "pos")
    kept = (
        spans.withColumn("_rn", F.row_number().over(first))
        .filter(F.col("_rn") == 1)
        .drop("_rn", *(["_sk"] if hash_span_key else []))
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("kept_spans"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "span"))),
                    lambda s: s["span"],
                ),
                " ",
            ).alias("text_dedup"),
        )
        .select("doc_id", "kept_spans", "text_dedup")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Maximal duplicated-interval merge (VERDICT r12 Next #4): the
# Lee-et-al. exact-substring-dedup shape approximated at span
# granularity — adjacent duplicate spans merge into ONE interval.
# ---------------------------------------------------------------------------
@query(
    "span_dedup_intervals",
    extra=True,
    tags=("dedup", "span", "llm-pipeline", "intervals"),
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
spans AS (
  SELECT doc_id, i AS pos,
         array_to_string(w[(i*{_SPAN_WORDS}+1):(i*{_SPAN_WORDS}+{_SPAN_WORDS})], ' ') AS span
  FROM w, UNNEST(generate_series(0, CAST(ceil(len(w)/{_SPAN_WORDS}.0) AS BIGINT) - 1)) AS t(i)
),
marked AS (
  SELECT doc_id, pos, span,
         CASE WHEN row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) = 1
              THEN 0 ELSE 1 END AS is_dup
  FROM spans
),
runs AS (
  SELECT doc_id, pos, span, is_dup,
         pos - row_number() OVER (PARTITION BY doc_id, is_dup ORDER BY pos) AS grp
  FROM marked
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS start_pos,
       CAST(MAX(pos) AS BIGINT) AS end_pos,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       string_agg(span, ' ' ORDER BY pos) AS cut_text
FROM runs
WHERE is_dup = 1
GROUP BY doc_id, grp
ORDER BY doc_id, start_pos
""",
)
def span_dedup_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit face of span dedup (VERDICT r12 Next #4): instead of
    reporting each cut 8-word span separately, merge RUNS of adjacent
    duplicate spans into MAXIMAL duplicated intervals — the
    exact-substring-dedup shape (Lee et al., "Deduplicating Training
    Data Makes Language Models Better") approximated at span
    granularity. A document that copied a 400-word passage shows ONE
    50-span interval, not 50 rows; overlapping duplicated passages
    collapse into one interval each (pinned). The surviving text is
    unchanged versus ``span_dedup_reconstruct`` — removing a run
    removes exactly its spans — so this query materializes what the
    cut actually was: (doc_id, start_pos, end_pos, n_spans, cut_text)
    per interval. The oracle replays the identical chain: global
    first-occurrence marking, per-doc islands
    (pos − row_number over (doc, is_dup)), one aggregate per island."""
    docs = load_table(spark, sf_dir, "documents")
    return span_dup_intervals(docs, hash_span_key=False)


def span_dup_intervals(docs: DataFrame, hash_span_key: bool = True) -> DataFrame:
    """Maximal duplicated intervals per document (see
    ``span_dedup_intervals``). Same span cut and first-occurrence
    window as ``build_span_dedup`` (one span-keyed shuffle — xxhash64
    key under the scale default, verbatim string for the oracle
    anchor), then a pure per-doc window chain: lag over span index
    detects dup-flag edges, a running sum turns edges into run ids —
    one doc-keyed shuffle shared by both windows, then one aggregate
    over (doc, run) on the dup spans only (a frame already reduced to
    the duplicated tail, so its exchange is proportional to what was
    CUT, not the corpus)."""
    k = _SPAN_WORDS
    words = docs.select("doc_id", F.split("text", " ").alias("_w"))
    spans = words.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(_w)/{k}.0) as int) - 1),"
                f" i -> array_join(slice(_w, i*{k}+1, {k}), ' '))"
            )
        ).alias("pos", "span"),
    )
    key = F.xxhash64("span") if hash_span_key else F.col("span")
    first = Window.partitionBy("_sk").orderBy("doc_id", "pos")
    marked = (
        spans.withColumn("_sk", key)
        .withColumn("_dup", (F.row_number().over(first) > 1).cast("int"))
        .drop("_sk")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    runs = marked.withColumn(
        "_chg",
        F.when(
            F.lag("_dup").over(wdoc).isNull()
            | (F.lag("_dup").over(wdoc) != F.col("_dup")),
            1,
        ).otherwise(0),
    ).withColumn(
        "_run",
        F.sum("_chg").over(
            wdoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        runs.filter(F.col("_dup") == 1)
        .groupBy("doc_id", "_run")
        .agg(
            F.min("pos").cast("long").alias("start_pos"),
            F.max("pos").cast("long").alias("end_pos"),
            F.count(F.lit(1)).alias("n_spans"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "span"))),
                    lambda s: s["span"],
                ),
                " ",
            ).alias("cut_text"),
        )
        .select("doc_id", "start_pos", "end_pos", "n_spans", "cut_text")
        .orderBy("doc_id", "start_pos")
    )


# ---------------------------------------------------------------------------
# Inverted index (term -> document frequency + ordered posting list).
# ---------------------------------------------------------------------------
_MAX_DF_FRACTION = 0.5


def build_inverted_index(
    docs: DataFrame, max_df_fraction: float | None = _MAX_DF_FRACTION
) -> DataFrame:
    """term → (df, ascending comma-joined doc_id postings).

    ``max_df_fraction`` (the DEFAULT) drops terms whose document
    frequency exceeds ``floor(frac · n_docs)`` BEFORE the posting lists
    are built — stopword-class terms otherwise produce corpus-sized
    ``collect_list`` rows on one reducer (the round-7 watch item), and
    they carry no selectivity for the search/decontamination consumers
    anyway. The df pre-pass costs one extra term-keyed count aggregate;
    the posting build then only ever materializes bounded rows.
    ``None`` keeps the full index — the oracle anchor.

    Scale shape either way: ``array_distinct`` before the explode
    collapses within-document repeats map-side (a term repeated 50× in
    one doc ships once), then term-keyed shuffles do the rest. The
    capped path persists the tokenized frame — the df pre-pass and the
    posting build both consume it, and without the persist the
    split/distinct/explode (the most expensive map stage) would run
    twice. ``docs.count()`` is parquet-metadata-cheap by comparison.
    """
    terms = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("term")
    )
    if max_df_fraction is not None:
        from .catalog import track_persist

        terms = track_persist(terms, StorageLevel.MEMORY_AND_DISK)
        cap = int(max_df_fraction * docs.count())
        kept_terms = (
            terms.groupBy("term")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= cap)
            .select("term")
        )
        terms = terms.join(kept_terms, "term")
    return (
        terms.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda d: d.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .orderBy("term")
    )


@query(
    "inverted_index_postings",
    extra=True,
    tags=("index", "text", "llm-pipeline"),
    oracle="""
WITH terms AS (
  SELECT DISTINCT doc_id, t.term
  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
)
SELECT term,
       CAST(COUNT(*) AS BIGINT) AS df,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
FROM terms
GROUP BY term
ORDER BY term
""",
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the inverted index search/decontamination tooling reads:
    term → document frequency + doc_id posting list (ascending,
    comma-joined so the cross-engine hash compares strings, not
    engine-specific array dtypes).

    This is the UNCAPPED oracle anchor (``max_df_fraction=None`` —
    DuckDB replays the full index); production callers get
    ``build_inverted_index``'s capped default, oracle-checked by the
    ``inverted_index_capped`` extra.
    """
    docs = load_table(spark, sf_dir, "documents")
    return build_inverted_index(docs, max_df_fraction=None)


@query(
    "inverted_index_capped",
    extra=True,
    tags=("index", "text", "llm-pipeline"),
    oracle=f"""
WITH terms AS (
  SELECT DISTINCT doc_id, t.term
  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
),
kept AS (
  SELECT term FROM terms GROUP BY term
  HAVING COUNT(*) <= (SELECT CAST(floor({_MAX_DF_FRACTION} * COUNT(*)) AS BIGINT)
                      FROM documents)
)
SELECT t.term,
       CAST(COUNT(*) AS BIGINT) AS df,
       string_agg(CAST(t.doc_id AS VARCHAR), ',' ORDER BY t.doc_id) AS postings
FROM terms t JOIN kept USING (term)
GROUP BY t.term
ORDER BY t.term
""",
)
def inverted_index_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale DEFAULT: df-capped inverted index — terms in more than
    ``floor(0.5 · n_docs)`` documents are dropped before any posting
    list is built, so no reducer ever materializes a corpus-sized
    ``collect_list`` row (see ``build_inverted_index``)."""
    docs = load_table(spark, sf_dir, "documents")
    return build_inverted_index(docs)


# ---------------------------------------------------------------------------
# Deterministic epoch shuffle + worker interleave.
# ---------------------------------------------------------------------------
_SHUFFLE_SEED = "42"
_N_WORKERS = 8


def epoch_shuffle_positions(
    keyed: DataFrame,
    *,
    n_workers: int = _N_WORKERS,
    n_partitions: int = 32,
    use_global_window: bool = False,
) -> DataFrame:
    """Global permutation rank over ``(hkey, doc_id)`` → ``(pos, doc_id,
    worker_shard)``, where ``pos`` is the 0-based rank of the row in the
    total order and ``worker_shard = pos % n_workers``.

    Default (scale-safe) shape — NO global window anywhere in the plan:

    1. ``repartitionByRange(n_partitions, hkey, doc_id)`` — Spark samples
       the key space so range partition *i* holds exactly the rows ranked
       below every row of partition *i+1* (total order is strict because
       ``doc_id`` is unique, so equal-key straddling can't misrank).
    2. One tiny aggregate (``groupBy(pid).count()``, ``n_partitions``
       rows) collected to the driver — bounded by contract — and turned
       into a literal cumulative-offset map inlined into the plan.
    3. Per-partition local rank via ``Window.partitionBy(pid)`` — every
       window group is ONE range partition (≈ corpus/n_partitions rows),
       sorted independently in parallel; ``pos = offset[pid] + local``.

    Cost: the range shuffle + one hash shuffle on ``pid`` (whole
    partitions move as units) + the n_partitions-row count agg. Every
    stage is bounded by partition size, so the plan survives 100 TB —
    unlike the unpartitioned ``Window.orderBy`` (``use_global_window=
    True``), a single-task sort of the entire corpus that is kept ONLY
    as the oracle anchor (it is what DuckDB's ``row_number() OVER
    (ORDER BY …)`` replays) and is property-pinned bit-equal to this
    builder in tests/test_corpus_ops.py.
    """
    if use_global_window:
        w = Window.orderBy("hkey", "doc_id")
        return (
            keyed.withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
            .select(
                "pos",
                "doc_id",
                (F.col("pos") % n_workers).cast("long").alias("worker_shard"),
            )
            .orderBy("pos")
        )

    from .catalog import track_persist

    # Persist is CORRECTNESS-load-bearing, not an optimization:
    # repartitionByRange re-samples range boundaries per action, so
    # without it the count pass and the rank pass could see different
    # pid→range assignments and the offsets would misalign.
    ranged = track_persist(
        keyed.repartitionByRange(n_partitions, "hkey", "doc_id").withColumn(
            "pid", F.spark_partition_id()
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    # Bounded collect: exactly one row per range partition.
    counts = {
        r["pid"]: r["n"]
        for r in ranged.groupBy("pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets: dict[int, int] = {}
    running = 0
    for pid in sorted(counts):  # range partitions are ordered by pid
        offsets[pid] = running
        running += counts[pid]
    # Empty frame → no offsets; create_map() with zero args types as
    # map<void,void> and fails analysis, so skip the lookup (no rows
    # exist to rank anyway).
    if offsets:
        offset_map = F.create_map(
            *[F.lit(v) for pid_off in sorted(offsets.items()) for v in pid_off]
        )
        pos_expr = offset_map[F.col("pid")] + F.col("lrank")
    else:
        pos_expr = F.col("lrank")
    local = Window.partitionBy("pid").orderBy("hkey", "doc_id")
    return (
        ranged.withColumn("lrank", (F.row_number().over(local) - 1).cast("long"))
        .withColumn("pos", pos_expr)
        .select(
            "pos",
            "doc_id",
            (F.col("pos") % n_workers).cast("long").alias("worker_shard"),
        )
        .orderBy("pos")
    )


@query(
    "training_shuffle_interleave",
    extra=True,
    tags=("shuffle", "training", "llm-pipeline"),
    oracle=f"""
WITH h AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':{_SHUFFLE_SEED}') AS hkey
  FROM documents
)
SELECT CAST(row_number() OVER (ORDER BY hkey, doc_id) - 1 AS BIGINT) AS pos,
       doc_id,
       CAST((row_number() OVER (ORDER BY hkey, doc_id) - 1) % {_N_WORKERS} AS BIGINT)
         AS worker_shard
FROM h
ORDER BY pos
""",
)
def training_shuffle_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The epoch shuffle a trainer consumes: a deterministic,
    seed-keyed global permutation (md5 of doc_id + seed — identical
    bytes on any engine, any partitioning, any run) with round-robin
    worker assignment, so every data-loader rank can independently
    compute exactly which documents it owns in which order. Changing
    the seed string re-permutes the corpus for the next epoch.

    Runs the rank-computable ``epoch_shuffle_positions`` builder — range
    partitioning + per-partition offsets, no global window — which is
    bit-equal (property-pinned) to the single ``row_number() OVER
    (ORDER BY hkey, doc_id)`` the DuckDB oracle replays.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":" + _SHUFFLE_SEED))).alias(
            "hkey"
        ),
    )
    return epoch_shuffle_positions(h)


# ---------------------------------------------------------------------------
# Hashed linear quality classifier (fasttext-style model filter).
# ---------------------------------------------------------------------------
_CLS_BUCKETS = 64
# Stand-in "trained" weights: integer weights in [-10, 10], derived
# deterministically so both engines inline the identical literal model.
_CLS_WEIGHTS = [((j * 37) % 21) - 10 for j in range(_CLS_BUCKETS)]


def _cls_weight_values() -> str:
    return ", ".join(f"({j}, {w})" for j, w in enumerate(_CLS_WEIGHTS))


@query(
    "quality_classifier_scores",
    extra=True,
    tags=("quality", "classifier", "llm-pipeline"),
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
b AS (
  SELECT doc_id, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % {_CLS_BUCKETS} AS bkt
  FROM tok
),
wt AS (SELECT * FROM (VALUES {_cls_weight_values()}) AS t(bkt, wgt)),
s AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(SUM(wgt) AS BIGINT) AS wsum
  FROM b JOIN wt USING (bkt)
  GROUP BY doc_id
)
SELECT doc_id, n_terms,
       ROUND(CAST(wsum AS DOUBLE) / (11.0 * n_terms), 6) AS quality_score,
       wsum > 0 AS keep
FROM s
ORDER BY doc_id
""",
)
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering, the CCNet/RefinedWeb fasttext
    pattern: hash each token into a weight bucket, score the document
    with a LINEAR model over its bag of words, keep above threshold.
    The "model" here is a literal 64-bucket integer weight vector so
    the oracle replays the identical arithmetic — the accumulation is
    an exact integer sum (float sums are partition-order-dependent and
    would flake the cross-engine hash), with ONE deterministic division
    into the normalized score and the keep decision made on the integer
    sum itself.

    Scale shape: the model rides in the plan as a literal array —
    scoring is map-side (explode → element_at → doc-keyed agg), no
    join, no broadcast, no Python. A real trained model (2^20 hashed
    buckets) won't inline as a literal; ``build_quality_scores``'s
    ``broadcast_model=True`` ships it as a broadcast weight-table
    join instead — bit-equal, plan-pinned BroadcastHashJoin.
    """
    docs = load_table(spark, sf_dir, "documents")
    return build_quality_scores(docs, _CLS_WEIGHTS)


def build_quality_scores(
    docs: DataFrame, weights: list[int], broadcast_model: bool = False
) -> DataFrame:
    """Hashed linear quality scoring (see ``quality_classifier_scores``).

    ``broadcast_model=False`` (right for toy models) inlines the weight
    vector as a plan literal — zero joins, pure map-side ``element_at``.
    ``broadcast_model=True`` is the 2^20-bucket path: the weights become
    a (bkt, wgt) frame broadcast-joined on the token's bucket — the
    model ships to each executor ONCE per job instead of being
    serialized into every task's plan (literal arrays above ~a few MB
    bloat task binaries and codegen); scoring stays one hash + one
    broadcast probe per token, still no shuffle before the doc-keyed
    aggregate. Both paths are bit-equal (integer arithmetic) and pinned
    against each other in tests/test_corpus_ops.py.
    """
    from ..operators.simhash import token_hash60

    n_buckets = len(weights)
    bkt = (token_hash60(F.col("_w")) % n_buckets).cast("int")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("_w"))
    if broadcast_model:
        spark = docs.sparkSession
        wtab = spark.createDataFrame(
            list(enumerate(weights)), ["_bkt", "_wgt"]
        )
        tok = tok.select("doc_id", bkt.alias("_bkt")).join(
            F.broadcast(wtab), "_bkt"
        )
    else:
        wvec = F.array(*[F.lit(w) for w in weights])
        tok = tok.select("doc_id", F.element_at(wvec, bkt + 1).alias("_wgt"))
    return (
        tok.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("_wgt").alias("_wsum"),
        )
        .select(
            "doc_id",
            "n_terms",
            F.round(
                F.col("_wsum").cast("double") / (11.0 * F.col("n_terms")), 6
            ).alias("quality_score"),
            (F.col("_wsum") > 0).alias("keep"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new arrivals against an existing corpus.
# ---------------------------------------------------------------------------
@query(
    "incremental_dedup_against_corpus",
    extra=True,
    tags=("dedup", "incremental", "llm-pipeline"),
    oracle=r"""
WITH fp AS (
  SELECT doc_id, source,
         md5(lower(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))) AS fingerprint
  FROM documents
),
corpus AS (SELECT DISTINCT fingerprint FROM fp WHERE CAST(substr(source, 4) AS INT) < 10),
batch AS (
  SELECT MIN(doc_id) AS doc_id, fingerprint
  FROM fp WHERE CAST(substr(source, 4) AS INT) >= 10
  GROUP BY fingerprint
)
SELECT b.doc_id, b.fingerprint
FROM batch b LEFT JOIN corpus c USING (fingerprint)
WHERE c.fingerprint IS NULL
ORDER BY b.doc_id
""",
)
def incremental_dedup_against_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup mode the batch operators don't model: a NEW
    delivery deduped against the already-ingested corpus without
    re-deduping the corpus itself — within-batch collapse (min doc_id
    per fingerprint) then an anti-join against the corpus fingerprint
    set. Sources src0–src9 stand in for the corpus, src10+ for the
    arrival batch.

    Scale shape: cost ∝ batch + corpus KEYS, never corpus text — the
    corpus side is its 16-byte fingerprint column only (in production a
    maintained fingerprint table, bucketed on fingerprint so the
    anti-join co-locates without shuffling the corpus side; here it's
    derived in-query so the oracle can replay it). The anti-join is the
    same plan Spark gives `LEFT ANTI`; AQE broadcasts the batch side
    when it's small.
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        F.substring("source", 4, 10).cast("int").alias("_src_n"),
        content_fingerprint("text").alias("fingerprint"),
    )
    corpus = fp.filter(F.col("_src_n") < 10).select("fingerprint").distinct()
    batch = (
        fp.filter(F.col("_src_n") >= 10)
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return (
        batch.join(corpus, "fingerprint", "left_anti")
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")
    )


def incremental_dedup_vs_bucketed_corpus(
    spark: SparkSession, batch: DataFrame, corpus_table: str = "corpus_fingerprints"
) -> DataFrame:
    """The co-located production path the in-query form above only
    described: anti-join the arrival batch against a MAINTAINED corpus
    fingerprint table written bucketed on ``fingerprint``
    (``catalog_ops.save_bucketed_table(corpus_fps, table,
    ["fingerprint"], n)``). The bucketed scan already satisfies the
    join's hash distribution, so the 100 TB corpus side reads WITHOUT
    an exchange every delivery — only the (small) batch side shuffles
    to the bucket count. Plan-pinned in tests/test_corpus_ops.py:
    corpus-side scan selects buckets, zero Exchange above it.

    ``batch`` must already be collapsed to one row per fingerprint
    (``doc_id``, ``fingerprint``) as in
    ``incremental_dedup_against_corpus``.
    """
    corpus = spark.table(corpus_table).select("fingerprint")
    return (
        batch.join(corpus, "fingerprint", "left_anti")
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Cross-source vocabulary overlap (corpus-mixing drift diagnostic).
# ---------------------------------------------------------------------------
@query(
    "source_vocab_overlap",
    extra=True,
    tags=("vocab", "drift", "llm-pipeline"),
    oracle="""
WITH vocab AS (
  SELECT DISTINCT source, t.term
  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
),
sizes AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_terms FROM vocab GROUP BY source
),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM vocab a JOIN vocab b ON a.term = b.term AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.source_a, i.source_b, i.n_common,
       ROUND(CAST(i.n_common AS DOUBLE)
             / (sa.n_terms + sb.n_terms - i.n_common), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.source = i.source_a
JOIN sizes sb ON sb.source = i.source_b
ORDER BY source_a, source_b
""",
)
def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary Jaccard between every pair of sources — the cheap
    drift diagnostic run before mixing corpora (a source whose
    vocabulary barely overlaps the rest is a different register or a
    different language mislabeled; one that overlaps ~1.0 is probably a
    re-crawl of an existing source and a dedup candidate).

    Scale shape: the corpus collapses to DISTINCT (source, term) first
    — output is vocabulary-sized, not corpus-sized — then the pair
    expansion joins vocab to itself on term: candidate volume is
    Σ_term df(term)², the same blocking bound as the rare-shingle
    containment dedup, NOT n_sources² × corpus. Jaccard is rounded to 6
    places because it divides two exact ints — the division is the one
    float op, performed identically on both engines, and the round
    guards the hash against formatting-of-double drift only.
    """
    from pyspark import StorageLevel

    from .catalog import track_persist

    docs = load_table(spark, sf_dir, "documents")
    # Persist the distinct (source, term) frame: it is VOCABULARY-sized
    # (tiny relative to the corpus) and feeds three consumers (both
    # join sides + the size table) — without the persist each consumer
    # re-scans and re-explodes the whole corpus (measured: 4 scans / 11
    # exchanges → 1 scan path reused).
    vocab = track_persist(
        docs.select(
            "source", F.explode(F.array_distinct(F.split("text", " "))).alias("term")
        ).distinct(),
        StorageLevel.MEMORY_AND_DISK,
    )
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("n_terms"))
    a, b = vocab.alias("a"), vocab.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("n_terms").alias("_na")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("n_terms").alias("_nb")
    )
    return (
        inter.join(sa, "source_a")
        .join(sb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("_na") + F.col("_nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Embedding-coverage referential audit (documents <-> embeddings).
# ---------------------------------------------------------------------------
@query(
    "embedding_coverage_audit",
    extra=True,
    tags=("audit", "referential", "llm-pipeline"),
    oracle="""
SELECT 'docs_total' AS metric, CAST(COUNT(*) AS BIGINT) AS n FROM documents
UNION ALL
SELECT 'docs_without_embedding',
       CAST(COUNT(*) AS BIGINT)
FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
WHERE e.vec_id IS NULL
UNION ALL
SELECT 'orphan_embeddings',
       CAST(COUNT(*) AS BIGINT)
FROM embeddings e LEFT JOIN documents d ON e.vec_id = d.doc_id
WHERE d.doc_id IS NULL
ORDER BY metric
""",
)
def embedding_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The referential-integrity audit a text+embedding pipeline runs
    before training: documents missing their embedding row (the embed
    job's backlog — these can't enter similarity dedup or ANN recall
    and silently shrink those ops' coverage) and orphan embeddings
    whose document was deleted or re-keyed (stale vectors that WOULD
    surface in ANN results). Expressed as anti-joins on the id key —
    at 100 TB both sides shuffle 8-byte keys only (column pruning
    drops text and vectors before the exchange), and with both tables
    bucketed on the id the audit is shuffle-free."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    d_ids = docs.select("doc_id")
    e_ids = emb.select("vec_id")
    rows = [
        d_ids.agg(F.count(F.lit(1)).alias("n")).select(
            F.lit("docs_total").alias("metric"), "n"
        ),
        d_ids.join(e_ids, d_ids.doc_id == e_ids.vec_id, "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("docs_without_embedding").alias("metric"), "n"),
        e_ids.join(d_ids, e_ids.vec_id == d_ids.doc_id, "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("orphan_embeddings").alias("metric"), "n"),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("metric")


# ---------------------------------------------------------------------------
# Dedup diagnostics: which source pollutes the corpus?
# ---------------------------------------------------------------------------
@query(
    "dedup_rate_by_source",
    extra=True,
    tags=("dedup", "diagnostics", "llm-pipeline"),
    oracle=r"""
WITH fp AS (
  SELECT doc_id, source,
         md5(lower(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))) AS fingerprint
  FROM documents
),
dup AS (
  SELECT fingerprint, COUNT(*) AS n_occ FROM fp GROUP BY fingerprint
)
SELECT f.source,
       CAST(COUNT(*) AS BIGINT) AS docs,
       CAST(SUM(CASE WHEN d.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
       ROUND(CAST(SUM(CASE WHEN d.n_occ > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS dup_rate
FROM fp f JOIN dup d USING (fingerprint)
GROUP BY f.source
ORDER BY f.source
""",
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication rates — the diagnostic that decides WHERE
    to point the dedup budget (a source with dup_rate ~1.0 is a
    re-crawl or a mirror; drop it at ingest instead of paying
    corpus-wide LSH for it). A doc counts as duplicated when its
    fingerprint occurs more than once ANYWHERE in the corpus, so
    cross-source mirrors are charged to both sources.

    Scale shape: one fingerprint-keyed aggregate (16-byte keys) builds
    the occurrence table, one join back on fingerprint, one source
    aggregate — the df table is distinct-fingerprint-sized and the
    exact integer counts keep the rate division deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        "source",
        content_fingerprint("text").alias("fingerprint"),
    )
    occ = fp.groupBy("fingerprint").agg(F.count(F.lit(1)).alias("n_occ"))
    dup_flag = F.when(F.col("n_occ") > 1, 1).otherwise(0)
    return (
        fp.join(occ, "fingerprint")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(dup_flag).alias("dup_docs"),
        )
        .select(
            "source",
            "docs",
            "dup_docs",
            F.round(F.col("dup_docs").cast("double") / F.col("docs"), 6).alias(
                "dup_rate"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Per-source cap (domain over-representation control).
# ---------------------------------------------------------------------------
_SOURCE_CAP = 20


def per_source_topn(
    docs: DataFrame, n: int = _SOURCE_CAP, scale_safe: bool = True
) -> DataFrame:
    """Keep at most ``n`` documents per source, preferring the longest
    (``n_chars`` DESC, ``doc_id`` tie-break) — the C4/RefinedWeb-style
    over-representation control that stops one crawl domain from
    dominating the mix. Returns the kept (doc_id, source, n_chars) rows.

    ``scale_safe=True`` (default) is the two-phase top-N: a FIRST
    window over ``(source, spark_partition_id())`` prunes each input
    partition to its local top-n — group size is bounded by one
    partition's share of one source, so a mega-source (half the corpus
    behind one domain) never sorts in a single task — then the global
    per-source window ranks only the ≤ n·n_partitions survivors.
    ``False`` is the literal single-window form the oracle replays;
    bit-equality is pinned in tests/test_corpus_ops.py (the two phases
    keep identical rows because the final ranking's comparator is a
    prefix of the local one's).
    """
    ranked_cols = [F.col("n_chars").desc(), F.col("doc_id")]
    if scale_safe:
        local = Window.partitionBy("source", F.spark_partition_id()).orderBy(
            *ranked_cols
        )
        docs = (
            docs.withColumn("_lrn", F.row_number().over(local))
            .filter(F.col("_lrn") <= n)
            .drop("_lrn")
        )
    final = Window.partitionBy("source").orderBy(*ranked_cols)
    return (
        docs.withColumn("_rn", F.row_number().over(final))
        .filter(F.col("_rn") <= n)
        .select("doc_id", "source", "n_chars")
    )


@query(
    "per_source_cap",
    extra=True,
    tags=("curation", "sampling", "llm-pipeline"),
    oracle=f"""
WITH kept AS (
  SELECT doc_id, source, n_chars
  FROM documents
  QUALIFY row_number() OVER (PARTITION BY source
                             ORDER BY n_chars DESC, doc_id) <= {_SOURCE_CAP}
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS kept_docs,
       CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
FROM kept
GROUP BY source
ORDER BY source
""",
)
def per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap every source at its top-20 longest documents and report the
    surviving per-source footprint — see ``per_source_topn`` for the
    skew-safe two-phase ranking this runs by default."""
    docs = load_table(spark, sf_dir, "documents")
    kept = per_source_topn(docs)
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("kept_docs"),
            F.sum("n_chars").alias("kept_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# OOV rate by source (tokenizer-coverage / vocab-drift diagnostic).
# ---------------------------------------------------------------------------
_OOV_VOCAB_K = 50


@query(
    "oov_rate_by_source",
    extra=True,
    tags=("vocab", "quality", "llm-pipeline"),
    oracle=f"""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
),
vocab AS (
  SELECT term FROM tok GROUP BY term
  ORDER BY COUNT(*) DESC, term LIMIT {_OOV_VOCAB_K}
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       ROUND(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS oov_rate
FROM tok LEFT JOIN vocab v USING (term)
GROUP BY source
ORDER BY source
""",
)
def oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per source against the corpus-global
    top-50 vocabulary (count DESC, term tie-break) — the
    tokenizer-coverage question asked before adding a new source to the
    mix: how much of it falls outside the vocabulary the model already
    spends its merges on.

    Scale shape: one term-keyed count aggregate builds the vocab; the
    top-k is a TakeOrdered (k rows to the driver, never the full term
    table), and k vocab rows broadcast-join back onto the token stream
    (Spark picks broadcast on its own for a 50-row side) feeding one
    source-keyed aggregate. Tokens shuffle once (the count agg); the
    scoring join is map-side.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(F.split("text", " ")).alias("term"))
    vocab = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .orderBy(F.col("_cnt").desc(), "term")
        .limit(_OOV_VOCAB_K)
        .select("term", F.lit(1).alias("_in_vocab"))
    )
    return (
        tok.join(vocab, "term", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            F.round(
                F.col("n_oov").cast("double") / F.col("n_tokens"), 6
            ).alias("oov_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# BPE pair statistics (tokenizer-training prep).
# ---------------------------------------------------------------------------
_BPE_TOP = 50


@query(
    "bpe_pair_counts",
    extra=True,
    tags=("tokenizer", "bpe", "llm-pipeline"),
    oracle=f"""
WITH words AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE len(w) >= 2
  GROUP BY w
),
pairs AS (
  SELECT substr(w, i, 2) AS pair, freq
  FROM words, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
)
SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
FROM pairs
GROUP BY pair
ORDER BY n DESC, pair
LIMIT {_BPE_TOP}
""",
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of BPE tokenizer training: corpus-wide counts
    of adjacent symbol pairs (character bigrams within words), the
    statistic whose argmax becomes the first merge rule. Runs the real
    algorithm's efficiency trick — aggregate to DISTINCT words with
    frequencies FIRST (vocab-sized frame), then explode each unique
    word's bigrams once and weight by frequency — so the expensive
    explode touches |vocab| rows, not |corpus| (on a Zipf corpus that
    is orders of magnitude less; subsequent merge iterations would
    rewrite the same weighted-vocab frame).

    Scale shape: one word-keyed count shuffle, a vocab-sized explode,
    one pair-keyed partial/final aggregate, TakeOrdered top-50.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = _bpe_word_freq(docs)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(_BPE_TOP)
    )


# ---------------------------------------------------------------------------
# BPE iterated merges (the tokenizer-training loop proper).
# ---------------------------------------------------------------------------
_BPE_MERGE_STEPS = 4
# The oracle replays each merge with SQL replace() over a bracket-wrapped
# symbol string: every symbol rides as \x1f sym \x1e, so "merge (a,b)"
# is replace('\x1f a \x1e\x1f b \x1e' -> '\x1f ab \x1e') — replace() is
# left-to-right non-overlapping, which is EXACTLY BPE's one-pass apply
# semantics, and the brackets make matches boundary-aligned (a pair can
# never match inside a longer symbol). \x1e/\x1f are control-range
# separators that cannot appear in the space-split ASCII corpus words.
_BPE_OPEN, _BPE_CLOSE = chr(31), chr(30)


def _bpe_merges_oracle(k: int) -> str:
    o, c = _BPE_OPEN, _BPE_CLOSE
    parts = [
        f"""
WITH vocab0 AS (
  -- (?s): RE2 '.' excludes newline by default; a word containing \\n
  -- (space-split keeps it) must wrap ALL its chars or the oracle's
  -- symbol stream silently drops one and pair counts diverge from the
  -- Spark side's substring() symbols.
  SELECT regexp_replace(w, '(?s)(.)', '{o}\\1{c}', 'g') AS r,
         CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE len(w) >= 2
  GROUP BY w
)"""
    ]
    for s in range(k):
        parts.append(
            f""", syms{s} AS (
  SELECT regexp_extract_all(r, '{o}([^{c}]*){c}', 1) AS ss, freq FROM vocab{s}
), pairs{s} AS (
  SELECT ss[i] AS l, ss[i + 1] AS rgt, freq
  FROM syms{s}, UNNEST(generate_series(1, len(ss) - 1)) AS t(i)
), best{s} AS (
  SELECT {s + 1} AS step, l, rgt, CAST(SUM(freq) AS BIGINT) AS n
  FROM pairs{s} GROUP BY l, rgt
  ORDER BY n DESC, l, rgt LIMIT 1
), vocab{s + 1} AS (
  -- coalesce: if merges exhaust before step {s + 1} (best{s} empty),
  -- replace(r, NULL, NULL) would NULL-wipe every word; chr(1) never
  -- occurs in the wrapped repr, so the replace becomes a no-op and
  -- later stages see the unchanged vocab (matching the Spark side's
  -- early break).
  SELECT replace(r,
           coalesce((SELECT '{o}' || l || '{c}{o}' || rgt || '{c}' FROM best{s}),
                    chr(1)),
           coalesce((SELECT '{o}' || l || rgt || '{c}' FROM best{s}), '')) AS r,
         freq
  FROM vocab{s}
)"""
        )
    union = " UNION ALL ".join(f"SELECT * FROM best{s}" for s in range(k))
    parts.append(
        f"""
SELECT CAST(step AS INT) AS step, l AS left_sym, rgt AS right_sym,
       l || rgt AS merged, n
FROM ({union})
ORDER BY step
"""
    )
    return "".join(parts)


def _bpe_word_freq(docs: DataFrame) -> DataFrame:
    """The weighted-distinct vocab frame (w, freq) — BPE's efficiency
    trick in one shared home: the ONE corpus-wide explode + word count;
    every BPE stage (pair counts, merge learning, tokenize-apply)
    aggregates this |vocab|-sized frame, never the corpus again."""
    return (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _bpe_vocab(docs: DataFrame) -> DataFrame:
    """(ss array<string>, freq): each distinct word split to single-char
    symbols — the merge loop's working frame."""
    chars = F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
    return _bpe_word_freq(docs).select(chars.alias("ss"), "freq")


def _bpe_fold_merge(ss, a: str, b: str):
    """One BPE merge (a,b)→a+b applied to a symbol-array column as a
    left-to-right fold — THE one copy of the apply rule (learning loop
    and tokenize-apply both use it). The empty-acc branch comes FIRST so
    element_at(acc, -1) is never evaluated on an empty array (CaseWhen
    evaluates branches lazily; ANSI would raise). A freshly merged token
    can never re-merge in the same pass because a+b ≠ a (b non-empty),
    so the fold equals the textbook scan (hypothesis-pinned)."""

    def step(acc, x):
        return F.when(F.size(acc) == 0, F.array(x)).otherwise(
            F.when(
                (F.element_at(acc, -1) == F.lit(a)) & (x == F.lit(b)),
                F.concat(
                    F.slice(acc, F.lit(1), F.size(acc) - 1),
                    F.array(F.lit(a + b)),
                ),
            ).otherwise(F.concat(acc, F.array(x)))
        )

    return F.aggregate(ss, F.expr("array()").cast("array<string>"), step)


def _bpe_learn_rules(
    docs: DataFrame, k: int, vocab: DataFrame | None = None
) -> list[tuple[int, str, str, str, int]]:
    """Run ``k`` BPE merge iterations over the corpus and return the
    learned merge rules as a driver-resident list of
    (step, left_sym, right_sym, merged, n) — callers that apply the
    rules (``bpe_token_counts``) consume the list directly;
    ``bpe_merge_table`` is the thin DataFrame wrapper.

    Each iteration is the same vocab-sized dataflow as
    ``bpe_pair_counts`` — the weighted-distinct-word frame, never the
    corpus: (1) explode each unique word's adjacent symbol pairs
    weighted by frequency and aggregate (one pair-keyed shuffle over a
    |vocab|-sized frame); (2) collect the argmax pair (ONE row, tie →
    lexicographic smallest, the rule both the oracle and the scalar
    hypothesis reference replay); (3) rewrite every word's symbol array
    map-side with a left-to-right fold over plan-literal (left, right)
    — a freshly merged token can never re-merge in the same pass
    because left+right ≠ left (right is non-empty), so the fold equals
    the textbook scan (hypothesis-pinned). The new vocab is persisted
    and the old released, keeping plan depth O(1) per step instead of
    O(k). At 100 TB the vocab frame is the Zipf-distinct word set —
    orders of magnitude below corpus — and the per-iteration cost is
    one aggregate + one projection over it (measured in SCALE.md).

    ``vocab`` lets a caller that already built (and persisted) the
    ``_bpe_vocab`` frame share it — e.g. ``bpe_token_counts``, which
    needs the same frame again for the apply stage; a caller-owned
    frame is never unpersisted here.

    ≙ reference: none (north-star extension; the reference has no
    tokenizer surface).
    """
    spark = docs.sparkSession
    base = vocab if vocab is not None else _bpe_vocab(docs)
    owned = vocab is None
    prev = base.persist(StorageLevel.MEMORY_AND_DISK) if owned else base
    rules: list[tuple[int, str, str, str, int]] = []
    try:
        for step in range(1, k + 1):
            pair_structs = F.expr(
                "transform(sequence(1, size(ss) - 1),"
                " i -> struct(element_at(ss, i) AS l, element_at(ss, i + 1) AS rgt))"
            )
            top = (
                # size >= 2: sequence(1, size-1) DESCENDS to [1, 0] on a
                # fully-merged single-symbol word and element_at(ss, 2)
                # raises under ANSI (hypothesis-found).
                prev.filter(F.size("ss") >= 2)
                .select(F.explode(pair_structs).alias("p"), "freq")
                .groupBy("p.l", "p.rgt")
                .agg(F.sum("freq").alias("n"))
                .orderBy(F.col("n").desc(), "l", "rgt")
                .limit(1)
                .collect()
            )
            if not top:
                break  # vocab fully merged / no multi-symbol words left
            a, b, n = top[0]["l"], top[0]["rgt"], int(top[0]["n"])
            rules.append((step, a, b, a + b, n))
            # Truncate LINEAGE, not just cache: persist keeps the data
            # hot but the logical plan still nests one fold per step,
            # and Catalyst re-analyzes the whole tree each iteration —
            # measured 0.98 s/iteration at k=4 growing to 3.3 s at
            # k=16 under persist. Checkpointing (local blocks; reliable
            # when SPARK_CHECKPOINT_DIR is set, same switch as
            # connected components) keeps each step's plan one fold
            # deep — flat per-iteration cost. Lifetime trade, stated
            # honestly: checkpointed frames have no cache entry to
            # unpersist, so intermediate vocab blocks are reclaimed by
            # ContextCleaner on GC rather than deterministically per
            # step (and a reliable checkpoint recomputes its write job
            # and leaves files until the dir is cleaned — the same
            # accepted trade as dedup_clusters). The vocab frame is the
            # SMALLEST object in this pipeline by construction, which
            # is why the bounded-lifetime trade is taken for the
            # quadratic-analysis fix rather than the reverse.
            nxt = _truncate_lineage(
                prev.select(_bpe_fold_merge(F.col("ss"), a, b).alias("ss"), "freq")
            )
            if prev is base and owned:
                prev.unpersist()  # only the base persist has a cache entry
            prev = nxt
    finally:
        if prev is base and owned:
            prev.unpersist()  # checkpointed intermediates have no cache entry
    return rules


def bpe_merge_table(
    docs: DataFrame, k: int, vocab: DataFrame | None = None
) -> DataFrame:
    return docs.sparkSession.createDataFrame(
        _bpe_learn_rules(docs, k, vocab=vocab),
        "step int, left_sym string, right_sym string, merged string, n long",
    )


@query(
    "bpe_merges",
    extra=True,
    tags=("tokenizer", "bpe", "llm-pipeline"),
    oracle=_bpe_merges_oracle(_BPE_MERGE_STEPS),
)
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE tokenizer-training loop: ``_BPE_MERGE_STEPS`` iterations
    of count-pairs → argmax → apply-merge over the weighted-distinct
    vocab frame (see ``bpe_merge_table``). Output is the learned merge
    table — the artifact a tokenizer pipeline persists. The DuckDB
    oracle unrolls the same k stages in SQL, replaying each merge as a
    boundary-bracketed string replace (left-to-right non-overlapping,
    BPE's exact apply rule) with the identical argmax tie-break.

    Cross-engine precondition: the corpus words are assumed printable
    ASCII (the fixture generator's contract). The oracle's \\x1e/\\x1f
    bracket separators must not occur inside words, and its
    per-CODEPOINT regexp split vs Spark's ``substring`` (UTF-16 code
    units) agree only inside the BMP — words carrying control chars or
    astral-plane characters would silently diverge the two engines.
    The Spark-side semantics themselves are well-defined for any BMP
    text; only the ORACLE comparison narrows to ASCII."""
    return bpe_merge_table(load_table(spark, sf_dir, "documents"), _BPE_MERGE_STEPS)


_BPE_TOKEN_TOP = 50


def _bpe_token_counts_oracle(k: int) -> str:
    """Token counts under the learned merges: reuse the k-stage merge
    replay (same CTE chain as ``bpe_merges``) and unnest the FINAL
    vocab's symbols, weighted by word frequency."""
    o, c = _BPE_OPEN, _BPE_CLOSE
    base = _bpe_merges_oracle(k)
    head = base[: base.rindex("\nSELECT CAST(step AS INT)")]
    return (
        head
        + f"""
, final_syms AS (
  SELECT unnest(regexp_extract_all(r, '{o}([^{c}]*){c}', 1)) AS token, freq
  FROM vocab{k}
)
SELECT token, CAST(SUM(freq) AS BIGINT) AS n
FROM final_syms
GROUP BY token
ORDER BY n DESC, token
LIMIT {_BPE_TOKEN_TOP}
"""
    )


def bpe_apply_merges(
    docs: DataFrame,
    rules: list[tuple[str, str]],
    vocab: DataFrame | None = None,
) -> DataFrame:
    """Tokenize the weighted-distinct vocab under learned BPE merges:
    apply the rules IN LEARNING ORDER as ``k`` chained map-side folds
    (``_bpe_fold_merge``) over each word's symbol array — one
    projection, no shuffle, no per-step action (the rules are plan
    literals; contrast the learning loop, which needs an argmax collect
    per step). Returns (ss array<string>, freq) — the tokenized vocab
    frame downstream token accounting aggregates. Pass ``vocab`` to
    reuse an already-built ``_bpe_vocab`` frame (the corpus-wide
    explode+count is the expensive stage; a caller that just learned
    the rules has it in hand)."""
    base = vocab if vocab is not None else _bpe_vocab(docs)
    ss = F.col("ss")
    for a, b in rules:
        ss = _bpe_fold_merge(ss, a, b)
    return base.select(ss.alias("ss"), "freq")


@query(
    "bpe_token_counts",
    extra=True,
    tags=("tokenizer", "bpe", "llm-pipeline"),
    oracle=_bpe_token_counts_oracle(_BPE_MERGE_STEPS),
)
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer loop closed end-to-end: learn ``_BPE_MERGE_STEPS``
    merges (``bpe_merge_table``), APPLY them in learning order to the
    vocab frame (``bpe_apply_merges`` — one map-side projection of k
    chained folds), and report the top token frequencies the resulting
    vocabulary induces — the table a token-budget planner reads. The
    oracle replays the identical k merge stages and counts the final
    wrapped-symbol strings' tokens. The ``_bpe_vocab`` frame — the one
    corpus-wide explode+count — is built ONCE and shared between the
    learning loop and the apply stage (tracked-persisted; the harness
    releases it after the run)."""
    from .catalog import track_persist

    docs = load_table(spark, sf_dir, "documents")
    vocab = track_persist(_bpe_vocab(docs), StorageLevel.MEMORY_AND_DISK)
    learned = _bpe_learn_rules(docs, _BPE_MERGE_STEPS, vocab=vocab)
    rules = [(left, right) for _, left, right, _, _ in learned]
    tokens = bpe_apply_merges(docs, rules, vocab=vocab).select(
        F.explode("ss").alias("token"), "freq"
    )
    return (
        tokens.groupBy("token")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(_BPE_TOKEN_TOP)
    )


# ---------------------------------------------------------------------------
# BPE encode-to-ids: documents → token-ID sequences (the training feed).
# ---------------------------------------------------------------------------
def bpe_word_token_map(docs: DataFrame, rules: list[tuple[str, str]]) -> DataFrame:
    """(w, ss): every DISTINCT corpus word tokenized under the learned
    merges — the k chained map-side folds of ``bpe_apply_merges``, but
    keyed by the word so documents can join to their token streams.
    Unlike the TRAINING vocab (``_bpe_vocab``, length >= 2 — one-char
    words cannot pair so they never influence learning), encoding
    covers length-1 words too: they are single-symbol tokens the
    documents still contain. Empty strings (split debris) are dropped
    on both engines."""
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 1)
        .distinct()
    )
    ss = F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
    for a, b in rules:
        ss = _bpe_fold_merge(ss, a, b)
    return words.select("w", ss.alias("ss"))


def bpe_token_id_table(
    docs: DataFrame, rules: list[tuple[str, str]], wmap: DataFrame | None = None
) -> DataFrame:
    """(token, tid, n): deterministic token-ID assignment — rank by
    corpus token frequency (count weighted by word occurrences over
    ALL words), ties broken lexicographically, ids dense from 0. The
    ranking window is global — right for this artifact: only the token
    VOCABULARY flows through it (bounded by the tokenizer's vocab-size
    contract, 10⁴-10⁵ rows — the same driver-scale object every
    tokenizer ships as its vocab file), never the corpus."""
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wn"))
    )
    wm = wmap if wmap is not None else bpe_word_token_map(docs, rules)
    freq = (
        wm.join(wc, "w")
        .select(F.explode("ss").alias("token"), "wn")
        .groupBy("token")
        .agg(F.sum("wn").alias("n"))
    )
    rank = Window.orderBy(F.desc("n"), F.asc("token"))
    return freq.select(
        "token", (F.row_number().over(rank) - 1).cast("int").alias("tid"), "n"
    )


def bpe_encode(docs: DataFrame, rules: list[tuple[str, str]]) -> DataFrame:
    """(doc_id, token_ids array<int>): every document as its token-ID
    sequence under the learned merges — what a training pipeline feeds
    the packer. Dataflow: tokenize the DISTINCT-word map once (vocab-
    sized fold, not corpus-sized), attach ids per token (vocab-keyed
    join), then one word-keyed join from the exploded documents and an
    ordered flatten back to (doc_id, ids) — the corpus is touched by
    exactly one explode + join + collect, all standard shuffles on
    word/doc keys; no Python row work anywhere. Documents with no
    encodable word (empty text) produce no row.

    ≙ reference: none (north-star extension; the reference has no
    tokenizer surface)."""
    from .catalog import track_persist

    # The distinct-word fold chain is the CPU-dominant stage and feeds
    # the final plan TWICE (id frequencies via bpe_token_id_table, and
    # the per-word id arrays below); Catalyst does not dedupe common
    # subplans, so persist the vocab-sized map once.
    wm = track_persist(bpe_word_token_map(docs, rules), StorageLevel.MEMORY_AND_DISK)
    ids = bpe_token_id_table(docs, rules, wmap=wm)
    wids = (
        wm.select("w", F.posexplode("ss").alias("tp", "token"))
        .join(ids.select("token", "tid"), "token")
        .groupBy("w")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tp", "tid"))),
                lambda s: s["tid"],
            ).alias("ids")
        )
    )
    dwords = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("wp", "w")
    ).filter(F.length("w") >= 1)
    return (
        dwords.join(wids, "w")
        .groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("wp", "ids"))),
                    lambda s: s["ids"],
                )
            ).alias("token_ids")
        )
    )


def _bpe_wtoks_ctes(k: int) -> str:
    """Shared oracle prefix: the k-stage merge chain
    (``_bpe_merges_oracle``) plus a parallel replace chain over the
    DISTINCT all-words map (the training chain loses the word key),
    ending at ``wtoks(w, ss)`` — every corpus word tokenized under the
    learned merges. Consumed by the encode→pack and fertility
    oracles."""
    o, c = _BPE_OPEN, _BPE_CLOSE
    base = _bpe_merges_oracle(k)
    head = base[: base.rindex("\nSELECT CAST(step AS INT)")]
    parts = [
        head,
        f""", wmap0 AS (
  SELECT w, regexp_replace(w, '(?s)(.)', '{o}\\1{c}', 'g') AS r
  FROM (SELECT DISTINCT w
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE len(w) >= 1)
)""",
    ]
    for s in range(k):
        parts.append(
            f""", wmap{s + 1} AS (
  SELECT w, replace(r,
           coalesce((SELECT '{o}' || l || '{c}{o}' || rgt || '{c}' FROM best{s}),
                    chr(1)),
           coalesce((SELECT '{o}' || l || rgt || '{c}' FROM best{s}), '')) AS r
  FROM wmap{s}
)"""
        )
    parts.append(
        f""", wtoks AS (
  SELECT w, regexp_extract_all(r, '{o}([^{c}]*){c}', 1) AS ss FROM wmap{k}
)"""
    )
    return "".join(parts)


def _bpe_encode_pack_oracle(k: int) -> str:
    """Replay the full encode→pack pipeline in SQL: the shared
    merge+word-map chain (``_bpe_wtoks_ctes``), frequency-ranked id
    assignment, per-doc position-indexed token streams, and the
    md5-shard prefix-sum packing of ``sequence_packing`` — with an
    order-pinning positional checksum."""
    parts = [
        _bpe_wtoks_ctes(k),
        """,
wcount AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS wn
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE len(w) >= 1
  GROUP BY w
),
tokfreq AS (
  SELECT t.ss[u.tp] AS token, CAST(SUM(c.wn) AS BIGINT) AS n
  FROM wtoks t
  JOIN wcount c USING (w),
       UNNEST(generate_series(1, len(t.ss))) AS u(tp)
  GROUP BY t.ss[u.tp]
),
tokid AS (
  SELECT token,
         CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) - 1 AS INT) AS tid
  FROM tokfreq
),
dwords AS (
  SELECT d.doc_id, string_split(d.text, ' ')[u.wp] AS w, u.wp
  FROM documents d, UNNEST(generate_series(1, len(string_split(d.text, ' ')))) AS u(wp)
  WHERE len(string_split(d.text, ' ')[u.wp]) >= 1
),
dtoks AS (
  SELECT d.doc_id, d.wp, u.tp, m.ss[u.tp] AS token
  FROM dwords d
  JOIN wtoks m USING (w),
       UNNEST(generate_series(1, len(m.ss))) AS u(tp)
),
seq AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY wp, tp) AS idx,
         i.tid
  FROM dtoks JOIN tokid i USING (token)
),
dstats AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(idx * tid) AS BIGINT) AS checksum
  FROM seq GROUP BY doc_id
),
sharded AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 8
           AS shard,
         n_tokens, checksum
  FROM dstats
),
pref AS (
  SELECT doc_id, shard, n_tokens, checksum,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
  FROM sharded
)
SELECT shard, CAST(floor(start_tok / 2048.0) AS BIGINT) AS pack_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc_id,
       CAST(SUM(checksum) AS BIGINT) AS ids_checksum
FROM pref
GROUP BY shard, CAST(floor(start_tok / 2048.0) AS BIGINT)
ORDER BY shard, pack_id
""",
    ]
    return "".join(parts)


@query(
    "bpe_encode_pack",
    extra=True,
    tags=("tokenizer", "bpe", "packing", "llm-pipeline"),
    oracle=_bpe_encode_pack_oracle(_BPE_MERGE_STEPS),
)
def bpe_encode_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer pipeline closed all the way to the trainer's
    input: learn ``_BPE_MERGE_STEPS`` merges, ENCODE every document to
    its token-ID sequence (``bpe_encode`` — frequency-ranked dense
    ids), and pack the sequences into 2048-token shard-parallel packs
    using the REAL tokenized lengths (``sequence_packing`` fed
    synthetic whitespace counts; this is the composed production
    shape). ``ids_checksum`` is the per-pack sum of position-weighted
    token ids (Σ idx·tid, idx from 1 in document order) — an
    order-sensitive integer pin on the exact ID sequences, exact
    cross-engine. Same ASCII-corpus oracle precondition as
    ``bpe_merges``."""
    from .catalog import track_persist

    docs = load_table(spark, sf_dir, "documents")
    vocab = track_persist(_bpe_vocab(docs), StorageLevel.MEMORY_AND_DISK)
    learned = _bpe_learn_rules(docs, _BPE_MERGE_STEPS, vocab=vocab)
    rules = [(left, right) for _, left, right, _, _ in learned]
    enc = bpe_encode(docs, rules)
    checksum = F.aggregate(
        F.zip_with(
            F.col("token_ids"),
            F.sequence(F.lit(1), F.size("token_ids")),
            lambda t, i: t.cast("long") * i.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    from ..operators.simhash import token_hash60

    stats = enc.select(
        "doc_id",
        (token_hash60(F.col("doc_id").cast("string")) % 8).alias("shard"),
        F.size("token_ids").cast("long").alias("n_tokens"),
        checksum.alias("checksum"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pref = stats.withColumn(
        "start_tok", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return (
        pref.withColumn(
            "pack_id", F.floor(F.col("start_tok") / 2048.0).cast("bigint")
        )
        .groupBy("shard", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc_id"),
            F.sum("checksum").alias("ids_checksum"),
        )
        .orderBy("shard", "pack_id")
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility: tokens/word and chars/token by language — the
# coverage metric that decides whether a tokenizer is fair to a
# language before training starts.
# ---------------------------------------------------------------------------
def _bpe_fertility_oracle(k: int) -> str:
    """Replay fertility in SQL: the shared merge+word-map chain
    (``_bpe_wtoks_ctes``) joined to per-(lang, word) occurrence counts;
    all counts integer-exact, the two ratios rounded last."""
    return (
        _bpe_wtoks_ctes(k)
        + """,
lwords AS (
  SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS wn
  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE len(w) >= 1
  GROUP BY lang, w
),
fert AS (
  SELECT l.lang,
         CAST(SUM(l.wn) AS BIGINT) AS n_words,
         CAST(SUM(l.wn * len(t.ss)) AS BIGINT) AS n_tokens,
         CAST(SUM(l.wn * len(l.w)) AS BIGINT) AS n_chars
  FROM lwords l JOIN wtoks t USING (w)
  GROUP BY l.lang
)
SELECT lang, n_words, n_tokens, n_chars,
       ROUND(CAST(n_tokens AS DOUBLE) / n_words, 6) AS fertility,
       ROUND(CAST(n_chars AS DOUBLE) / n_tokens, 6) AS chars_per_token
FROM fert
ORDER BY lang
"""
    )


@query(
    "bpe_fertility_by_lang",
    extra=True,
    tags=("tokenizer", "bpe", "fertility", "coverage", "llm-pipeline"),
    oracle=_bpe_fertility_oracle(_BPE_MERGE_STEPS),
)
def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language under the learned merges:
    tokens-per-word and chars-per-token — the standard multilingual
    tokenizer-equity audit (a lang whose fertility is 2× pays 2× the
    context budget per sentence; merges learned on an en-heavy corpus
    do exactly this to the tail langs). Companion to
    ``oov_rate_by_source``'s coverage gate.

    Scale shape: tokenization stays on the DISTINCT-word map
    (``bpe_word_token_map`` — vocab-sized, k chained map-side folds),
    joined once to the (lang, word) occurrence table; both sides are
    vocab-scale, never corpus-scale, and the final aggregate is
    ~n_langs rows. All counts integer-exact; the two ratios round
    last."""
    from .catalog import track_persist

    docs = load_table(spark, sf_dir, "documents")
    vocab = track_persist(_bpe_vocab(docs), StorageLevel.MEMORY_AND_DISK)
    learned = _bpe_learn_rules(docs, _BPE_MERGE_STEPS, vocab=vocab)
    rules = [(left, right) for _, left, right, _, _ in learned]
    wmap = bpe_word_token_map(docs, rules)
    lw = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 1)
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("wn"))
    )
    fert = (
        lw.join(wmap, "w")
        .groupBy("lang")
        .agg(
            F.sum("wn").alias("n_words"),
            F.sum(F.col("wn") * F.size("ss")).alias("n_tokens"),
            F.sum(F.col("wn") * F.length("w")).alias("n_chars"),
        )
    )
    return fert.select(
        "lang",
        "n_words",
        "n_tokens",
        "n_chars",
        F.round(F.col("n_tokens").cast("double") / F.col("n_words"), 6).alias(
            "fertility"
        ),
        F.round(F.col("n_chars").cast("double") / F.col("n_tokens"), 6).alias(
            "chars_per_token"
        ),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# Positional phrase search over the tokenized corpus.
# ---------------------------------------------------------------------------
_PHRASES = ("order order", "order fast", "part filter scan")


def phrase_match_positions(
    spark: SparkSession, docs: DataFrame, phrases: tuple[str, ...]
) -> DataFrame:
    """Exact-phrase occurrence search: for each query phrase, the docs
    that contain its terms CONSECUTIVELY, with occurrence count and
    first match position — the positional layer the inverted index
    (``build_inverted_index``, term → doc_id postings only) does not
    carry, and what decontamination needs when an eval question is a
    quoted span rather than a bag of shingles.

    Plan shape (one shuffle): tokenize with ``posexplode`` (position is
    free at tokenize time — no second pass), broadcast-join the
    KB-sized (phrase, term_idx, term) frame so non-phrase terms die
    map-side, then the classic anchor trick: a token matching phrase
    term ``i`` at position ``p`` votes for anchor ``p - i``, and an
    anchor with ALL ``k`` distinct term indexes present is a full
    match. One ``groupBy(phrase, doc_id, anchor)`` — the only exchange;
    never a per-term self-join chain (``k-1`` shuffles) and never a
    substring scan over raw text (which would false-positive across
    token boundaries). Repeated-term phrases ("order order") work
    because votes are keyed by term INDEX, not term; overlapping
    occurrences count separately (anchors 3 and 4 both match in
    "order order order"), which is the honest count for audit use.

    At 100 TB: tokens scale with the corpus but are filtered to phrase
    terms before the exchange, so the shuffle carries only candidate
    votes (∝ phrase-term frequency, not corpus size); the phrase frame
    is always broadcast-sized. Parity: reference has no retrieval
    engine (pandas + SQL clients only, src/core/base_processor.py);
    this extends the repo's inverted-index/BM25 retrieval family.
    """
    rows = []
    for p in phrases:
        terms = p.split(" ")
        for i, t in enumerate(terms):
            rows.append((p, i, t, len(terms)))
    pf = spark.createDataFrame(
        rows, "phrase string, term_idx int, term string, k int"
    )
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term")
    )
    anchors = (
        toks.join(F.broadcast(pf), "term")
        .select(
            "phrase",
            "doc_id",
            (F.col("pos") - F.col("term_idx")).alias("anchor"),
            "term_idx",
            "k",
        )
        .groupBy("phrase", "doc_id", "anchor")
        # votes are unique by construction — for a fixed (phrase,
        # term_idx, anchor) the source position is determined (pos =
        # anchor + term_idx) and toks has one row per (doc_id, pos) —
        # so count() == countDistinct(term_idx) without the distinct
        # rewrite's extra exchange (plan-pinned at 3 shuffles)
        .agg(
            F.count(F.lit(1)).alias("n_idx"),
            F.max("k").alias("k"),
        )
        .filter(F.col("n_idx") == F.col("k"))
    )
    return (
        anchors.groupBy("phrase", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("anchor").cast("bigint").alias("first_pos"),
        )
        .orderBy("phrase", "doc_id")
    )


def _phrase_values_sql(phrases: tuple[str, ...]) -> str:
    vals = []
    for p in phrases:
        terms = p.split(" ")
        for i, t in enumerate(terms):
            vals.append(f"('{p}', {i}, '{t}', {len(terms)})")
    return ",\n  ".join(vals)


@query(
    "phrase_search_positions",
    extra=True,
    tags=("index", "text", "retrieval", "llm-pipeline"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
         unnest(string_split(text, ' ')) AS term
  FROM documents
),
phrase(phrase, term_idx, term, k) AS (VALUES
  {_phrase_values_sql(_PHRASES)}),
anchors AS (
  SELECT p.phrase, t.doc_id, t.pos - p.term_idx AS anchor
  FROM toks t JOIN phrase p USING (term)
  GROUP BY p.phrase, t.doc_id, t.pos - p.term_idx
  HAVING COUNT(DISTINCT p.term_idx) = MAX(p.k)
)
SELECT phrase, doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_matches,
       CAST(MIN(anchor) AS BIGINT) AS first_pos
FROM anchors
GROUP BY phrase, doc_id
ORDER BY phrase, doc_id
""",
)
def phrase_search_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver face of ``phrase_match_positions`` over three fixed
    phrases chosen to exercise the three shapes: a repeated-term
    bigram ("order order" — the anchor trick's adversarial case), a
    distinct-term bigram, and a trigram. Full DuckDB oracle replays
    the anchor algebra in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    return phrase_match_positions(spark, docs, _PHRASES)


@query(
    "decontaminate_quoted_spans",
    extra=True,
    tags=("decontamination", "retrieval", "positions", "llm-pipeline"),
    oracle="""
WITH ev AS (
  SELECT doc_id AS span_id,
         array_to_string(string_split(text, ' ')[1:8], ' ') AS span_text
  FROM documents
  WHERE doc_id % 7 = 0 AND len(string_split(text, ' ')) >= 8
),
g AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, greatest(len(w) - 7, 0)),
           i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
                ||' '||w[i+5]||' '||w[i+6]||' '||w[i+7])) AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE doc_id % 7 <> 0)
),
hits AS (
  SELECT g.doc_id, ev.span_id
  FROM g JOIN ev ON g.gram = ev.span_text
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_quoted_spans,
       CAST(COUNT(DISTINCT span_id) AS BIGINT) AS n_eval_docs
FROM hits
GROUP BY doc_id
ORDER BY doc_id
""",
)
def decontaminate_quoted_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quoted-span decontamination: every eval doc's leading 8-word
    span searched VERBATIM in training docs (consecutive words, with
    occurrence and eval-doc counts) — the exact-quotation check
    shingle OVERLAP can't express.

    Plan: sliding 8-gram equi-join. Training docs explode to their
    word 8-grams (``shingles_from_words`` — the span-dedup machinery);
    the span frame (ONE row per eval doc, KB against any corpus)
    broadcasts; candidates are exact gram==span matches only. This
    REPLACED an anchor-vote design (the ``phrase_match_positions``
    shape) after an sf1 measurement: with a fixed span length the
    anchor join's key is a bare TERM, and on a small/stop-wordy
    vocabulary nearly every token matches thousands of span-term rows
    — the candidate frame exploded to billions of votes and the job
    ran >10 min where this plan takes seconds. Anchor votes remain the
    right shape for VARIABLE-length phrase queries (where materializing
    every n-gram per phrase length is the blowup instead); fixed-length
    span search is a gram equi-join. Overlapping quotes count
    separately (one row per matching position)."""
    from ..operators.minhash import shingles_from_words

    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    ev = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .select(
            F.col("doc_id").alias("span_id"),
            F.array_join(F.slice(words, 1, 8), " ").alias("span_text"),
        )
        .filter(F.size(words) >= 8)
    )
    grams = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.explode(shingles_from_words(words, 8, distinct=False)).alias("gram"),
    )
    hits = grams.join(
        F.broadcast(ev), grams["gram"] == ev["span_text"]
    )
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_quoted_spans"),
            F.countDistinct("span_id").alias("n_eval_docs"),
        )
        .orderBy("doc_id")
    )
