"""Plan-shape pins (SURVEY §4): the physical plans the 100 TB story
depends on must not silently regress."""

from __future__ import annotations

import pytest

from streampro_assignment_etl_spark.plans import (
    broadcast_join_count,
    parquet_scan_count,
    pushed_filters,
    read_schema_columns,
    shuffle_count,
)
from streampro_assignment_etl_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def _q(spark, name):
    return REGISTRY[name].builder(spark, SF)


def test_filter_pushdown_reaches_scan(spark):
    df = _q(spark, "distinct_filter_pushdown")
    pushed = pushed_filters(df)
    assert any("o_totalprice" in p for p in pushed), pushed
    assert any("o_orderdate" in p for p in pushed), pushed


def test_column_pruning(spark):
    """The 2-column distinct + 2 filter columns over the 6-column orders
    table must read exactly those 4 columns."""
    df = _q(spark, "distinct_filter_pushdown")
    (cols,) = read_schema_columns(df)
    assert sorted(cols) == [
        "o_orderdate",
        "o_orderpriority",
        "o_orderstatus",
        "o_totalprice",
    ]


def test_dim_join_broadcasts(spark):
    """Dimension rollup joins broadcast the small sides — no shuffle of
    the fact table for the join itself."""
    df = _q(spark, "join_dims_rollup")
    assert broadcast_join_count(df) >= 1


def test_single_pass_session_q1(spark):
    """Q1 is scan → one user_id shuffle → fold: exactly 1 events scan
    and no join operators at all."""
    df = _q(spark, "sp_q1_first_session_conversion")
    assert parquet_scan_count(df) == 1
    from streampro_assignment_etl_spark.plans import plan_string

    assert "Join" not in plan_string(df)


def test_single_scan_no_self_join_q2(spark):
    """Q2 must stay ONE events scan: the udg/sa self-join this replaced
    looked broadcast-cheap but its DeduplicateRelations-re-id'd branch
    missed the cache and re-executed the whole events pipeline (second
    scan + window + grouping sets)."""
    df = _q(spark, "sp_q2_dominant_genre_retention")
    assert parquet_scan_count(df) == 1
    from streampro_assignment_etl_spark.plans import plan_string

    assert "Join" not in plan_string(df)


def test_pricing_summary_single_scan_single_agg_shuffle(spark):
    df = _q(spark, "pricing_summary")
    assert parquet_scan_count(df) == 1
    # One hash-partitioned exchange for the groupBy (plus the one
    # single-partition exchange for the final orderBy).
    assert shuffle_count(df) <= 3


def test_range_join_binned_is_equi_join(spark):
    """The binned interval join must plan as a hash equi-join on
    (user_id, bin) — never a BroadcastNestedLoopJoin / cartesian."""
    from streampro_assignment_etl_spark.plans import plan_string

    plan = plan_string(_q(spark, "range_join_binned"))
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert "HashJoin" in plan


def test_cube_single_expand_single_agg(spark):
    """CUBE plans one Expand feeding one partial+final aggregate —
    not a union of per-granularity scans."""
    df = _q(spark, "cube_returnflag_status")
    assert parquet_scan_count(df) == 1
    from streampro_assignment_etl_spark.plans import plan_string

    # The formatted plan names each node twice (tree + detail section),
    # so one physical Expand appears as exactly two mentions.
    assert plan_string(df).count("Expand") == 2


def test_pivot_is_one_pass(spark):
    """Explicit pivot value list: a single aggregation job, no extra
    distinct-values collect (two scans total: wide sums + row counts)."""
    df = _q(spark, "pivot_event_type_daily")
    assert parquet_scan_count(df) == 2


def test_curation_pipeline_two_shuffled_stages(spark):
    """Dedup window + final groupBy are the only wide dependencies;
    quality/sample filters fuse into the projections (no extra scans)."""
    df = _q(spark, "curation_pipeline")
    assert parquet_scan_count(df) == 1


def test_decontaminate_broadcasts_eval_side(spark):
    """The eval-slice gram set must broadcast — the training-side gram
    stream joins it without shuffling 100 TB of exploded n-grams."""
    from streampro_assignment_etl_spark.plans import broadcast_join_count

    df = _q(spark, "decontaminate_eval_overlap")
    assert broadcast_join_count(df) >= 1


def test_ann_ivf_cell_assignment_is_map_side(spark):
    """IVF cell assignment is a pure projection over broadcast centroid
    literals — no corpus byte crosses an Exchange for the argmax. The
    whole query carries exactly 2 shuffles (candidate top-k window +
    final orderBy), down from 3 with the old crossJoin+window shape."""
    from pyspark.sql import functions as F

    from streampro_assignment_etl_spark.operators.similarity import (
        assign_cells,
        collect_centroids,
        seed_centroids,
    )
    from streampro_assignment_etl_spark.sources.testdata import load_table

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = collect_centroids(seed_centroids(emb, "vec_id", "embedding", 8))
    cells = assign_cells(emb, cents, "vec_id", "embedding")
    assert shuffle_count(cells) == 0, "cell assignment must not shuffle"

    df = _q(spark, "similarity_ann_ivf")
    assert shuffle_count(df) <= 2


def test_near_dup_cells_is_equi_join(spark):
    """Cell-blocked near-dup mining must plan the pair join as a hash
    equi-join on the cell id — never the BroadcastNestedLoopJoin the
    all-pairs theta form degenerates to."""
    from streampro_assignment_etl_spark.plans import plan_string

    plan = plan_string(_q(spark, "embedding_near_dup_cells"))
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert "HashJoin" in plan


def test_lsh_build_py4j_calls_bounded(spark):
    """Building the SRP-LSH query stays cheap in driver-to-JVM round
    trips: every dot, norm and plane bucket is one parsed SQL-text fold
    (``similarity._dot_sql``), not a Column lambda tree that costs ~30
    py4j calls per fold. 756 calls on pyspark 4.1 when this was
    written; the Column-API form took 2,688. The bound is ~2× the
    current count and below the Column-API count."""
    from streampro_assignment_etl_spark.plans import py4j_calls

    _q(spark, "similarity_ann_lsh")  # first build also loads table metadata
    with py4j_calls(spark) as n:
        _q(spark, "similarity_ann_lsh")
    assert n["calls"] < 1500, n


# perfbench's notebook_analytics round (perfbench/workloads.py NOTEBOOK).
_NOTEBOOK = (
    "sp_q1_first_session_conversion", "sp_q2_dominant_genre_retention",
    "sp_q3_dropoff_outliers", "sp_drilldown_worst_combo", "sp_session_overview",
    "sp_daily_patterns", "pricing_summary", "join_dims_rollup", "theta_range_join",
)


def test_notebook_round_reuses_generated_code(spark):
    """An interleaved notebook round compiles (almost) nothing once
    warm: the session's codegen cache holds the nine queries' whole
    working set (~215 generated classes at sf0.001), so a query's
    classes are still cached when it comes round again. With Spark's
    default 100-entry cache the LRU evicts them and the reversed round
    compiled 137 classes again. The 8 that remain come from q3 and the
    drill-down, whose ``Expand`` projection order differs build to
    build (~4 classes each)."""
    from streampro_assignment_etl_spark.plans import codegen_compiles
    from streampro_assignment_etl_spark.queries import release_persisted
    from streampro_assignment_etl_spark.session import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)

    def run(name):
        _q(spark, name).write.format("noop").mode("overwrite").save()
        release_persisted()

    for name in _NOTEBOOK:
        run(name)
    with codegen_compiles(spark) as c:
        for name in reversed(_NOTEBOOK):
            run(name)
    assert c["compiles"] < 20, c


def _inferred_load(spark, sf_dir, name):
    """``load_table`` as it was with Spark's own schema inference: one
    schema-inference job per call."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df


def test_load_table_schema_matches_inference(spark, tmp_path):
    """``load_table`` reads each table's schema from its parquet footer,
    and it is exactly the schema Spark's inference job returns: for the
    ten pyarrow-written testdata tables, for a pyarrow ``events`` whose
    ``ts`` is TIMESTAMP(NANOS), and for a Spark-written multi-part
    directory whose timestamps are INT96."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from streampro_assignment_etl_spark.sources.testdata import TESTDATA_TABLES, load_table

    for name in TESTDATA_TABLES:
        assert load_table(spark, SF, name).schema == _inferred_load(spark, SF, name).schema, name

    events = pq.read_table(f"{SF}/events.parquet")
    events = events.set_column(
        events.schema.get_field_index("ts"), "ts", events["ts"].cast(pa.timestamp("ns"))
    )
    pq.write_table(events, tmp_path / "events.parquet")
    spark.range(0, 40, numPartitions=4).selectExpr(
        "id AS doc_id", "CAST(id AS STRING) AS text", "timestamp_seconds(id) AS ts"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    for name in ("events", "documents"):
        got, want = load_table(spark, str(tmp_path), name), _inferred_load(spark, str(tmp_path), name)
        assert got.schema == want.schema, name
        assert sorted(got.collect()) == sorted(want.collect()), name


def test_load_tables_start_no_spark_job(spark):
    """Loading and registering all ten tables runs no Spark job: with
    Spark's schema inference each ``load_table`` ran one (20 here)."""
    from streampro_assignment_etl_spark.plans import spark_jobs
    from streampro_assignment_etl_spark.sources.testdata import load_tables, register_views

    with spark_jobs(spark) as j:
        load_tables(spark, SF)
        register_views(spark, SF)
    assert j["jobs"] == 0, j


def test_notebook_builds_start_no_spark_job(spark):
    """Building a notebook query is plan construction only. The
    drill-down is left out: its ``first()`` on the worst combination is
    a deliberate eager step."""
    from streampro_assignment_etl_spark.plans import spark_jobs
    from streampro_assignment_etl_spark.queries import release_persisted

    for name in _NOTEBOOK:
        if name == "sp_drilldown_worst_combo":
            continue
        with spark_jobs(spark) as j:
            _q(spark, name)
        release_persisted()
        assert j["jobs"] == 0, (name, j)


def test_dedup_clusters_bounded_iterations(spark):
    """Star-contraction must converge well under the max_iter bound on
    a worst-case path graph (O(log n) rounds, not O(n))."""
    from pyspark.sql import functions as F

    from streampro_assignment_etl_spark.operators.components import (
        connected_components,
    )

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["doc_a", "doc_b"]
    )
    # local_threshold=0 forces the distributed rounds — this test pins
    # the star-contraction's convergence bound, not the hybrid finish
    # (that equivalence is pinned in test_operators).
    got = connected_components(path, "doc_a", "doc_b", max_iter=10, local_threshold=0)
    assert got.filter(F.col("component") != 0).count() == 0
    assert got.count() == 41


def test_cbo_uses_analyze_stats_for_join_reorder(spark):
    """ANALYZE feeds the CBO: with column stats on catalog tables, a
    customer⋈orders⋈nation star written fact-first is REORDERED to
    reduce through the selective dims before touching the fact table,
    and the optimizer's cardinality estimate becomes the exact group
    count instead of a multi-GiB size guess. This is the reference's
    ANALYZE surface (duckdb_client.py:271-279) closed end-to-end."""
    import re

    from streampro_assignment_etl_spark.pipeline.catalog_ops import analyze_table
    from streampro_assignment_etl_spark.sources.testdata import load_table

    assert spark.conf.get("spark.sql.cbo.enabled") == "true"

    import shutil

    def clean(t):
        # Drop catalog entry AND any orphaned warehouse dir from an
        # earlier session (the in-memory catalog forgets tables between
        # sessions but their managed locations survive on disk).
        spark.sql(f"DROP TABLE IF EXISTS cbo_{t}")
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        shutil.rmtree(f"{wh}/cbo_{t}", ignore_errors=True)

    try:
        for t in ("customer", "orders", "nation"):
            clean(t)
            load_table(spark, SF, t).write.mode("overwrite").saveAsTable(f"cbo_{t}")
            assert analyze_table(spark, f"cbo_{t}")
        q = """
        SELECT n.n_name, COUNT(*) AS n_orders
        FROM cbo_orders o
        JOIN cbo_customer c ON o.o_custkey = c.c_custkey
        JOIN cbo_nation n ON c.c_nationkey = n.n_nationkey
        WHERE n.n_name IN ('FRANCE','GERMANY')
        GROUP BY n.n_name ORDER BY n.n_name
        """
        opt = spark.sql(q)._jdf.queryExecution().optimizedPlan()
        # Exact cardinality from column stats (2 qualifying nations).
        assert "rowCount=2" in str(opt.stats())
        # Stats-informed reorder: the fact table is no longer the first
        # (deepest-left) relation despite being written first in the SQL.
        order = re.findall(r"cbo_\w+", str(opt))
        assert order and order[0] != "cbo_orders", order
    finally:
        for t in ("customer", "orders", "nation"):
            clean(t)


def test_aqe_skew_join_absorbs_hot_user(spark):
    """SCALE.md claims the session-DAG's join skew is absorbed by AQE
    skew-join; nothing pinned it (round-5 VERDICT #4). Synthesizes the
    hot-key shape — one user holding ~50% of events — with the skew
    thresholds scaled down to fixture size, and asserts the runtime
    plan actually split the hot partition (SortMergeJoin(skew=true));
    disabling the session's skewJoin conf makes the flag disappear, so
    this fails if skew handling is ever turned off.

    Scope note: AQE splits skewed JOIN partitions. The user_id WINDOW
    shuffle in sp_q2/q3 is not splittable by construction (window
    semantics need the whole key co-located) — a hot AGGREGATION key is
    what operators/skew.py salting is for (tested in test_operators)."""
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    saved["spark.sql.adaptive.skewJoin.enabled"] = "true"

    hot = spark.range(200_000).select(
        F.lit("user_hot").alias("user_id"), F.col("id").alias("v")
    )
    rest = spark.range(200_000).select(
        F.concat(F.lit("u_"), (F.col("id") % 500).cast("string")).alias("user_id"),
        F.col("id").alias("v"),
    )
    events = hot.union(rest)
    users = spark.createDataFrame(
        [("user_hot",)] + [(f"u_{i}",) for i in range(500)], ["user_id"]
    )

    def final_plan():
        j = events.join(users, "user_id").select(F.sum("v").alias("s"))
        j.collect()
        return j._jdf.queryExecution().executedPlan().toString()

    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        plan = final_plan()
        assert "skew=true" in plan, plan
        assert "skewed" in plan  # AQEShuffleRead coalesced and skewed
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        assert "skew=true" not in final_plan()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_runtime_bloom_filter_engages(spark):
    """The session enables AQE runtime bloom-filter pushdown; with the
    size thresholds scaled down to fixture scale, a selective dim
    filter must inject a bloom filter into the fact-side scan plan —
    the 100 TB lever that prunes most of a fact scan pre-shuffle."""
    from pyspark.sql import functions as F

    from streampro_assignment_etl_spark.sources.testdata import load_table

    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    )
    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        o = load_table(spark, SF, "orders").filter(F.col("o_totalprice") > 400000)
        li = load_table(spark, SF, "lineitem")
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("l_returnflag").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom" in plan.lower(), plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


# -- PQ family (round 9): fused index projection + LUT broadcast join --------
def test_pq_encode_is_map_side_projection(spark):
    """PQ encoding must be a pure projection — codebooks ride the plan
    as literals, m byte-codes replace the vector, and no corpus byte
    crosses an Exchange for the argmin."""
    from streampro_assignment_etl_spark.operators import similarity
    from streampro_assignment_etl_spark.sources.testdata import load_table

    emb = load_table(spark, SF, "embeddings")
    cbs = similarity.pq_codebooks(emb, "vec_id", "embedding", m=4, n_codes=16)
    enc = similarity.pq_encode(emb, cbs, "vec_id", "embedding")
    assert shuffle_count(enc) == 0, "PQ encode must not shuffle"
    assert parquet_scan_count(enc) == 1


def test_ivfpq_index_build_is_one_fused_projection(spark):
    """The composed IVF-PQ index (cell + m codes) must come out of ONE
    map-side projection over ONE corpus scan — the corpus-wide glue
    join between assign_cells and pq_encode outputs that a naive
    composition pays would dominate a 10^9-vector build."""
    from streampro_assignment_etl_spark.operators import similarity
    from streampro_assignment_etl_spark.sources.testdata import load_table

    emb = load_table(spark, SF, "embeddings")
    cbs = similarity.pq_codebooks(emb, "vec_id", "embedding", m=4, n_codes=16)
    cents = similarity.collect_centroids(
        similarity.seed_centroids(emb, "vec_id", "embedding", 16)
    )
    fused = similarity.pq_encode(
        similarity.assign_cells(emb, cents, "vec_id", "embedding"),
        cbs,
        "vec_id",
        "embedding",
    )
    assert shuffle_count(fused) == 0
    assert parquet_scan_count(fused) == 1


def test_pq_topk_one_scan_two_shuffles(spark):
    """ADC scoring rides the encode projection (LUTs are literal
    arrays): the whole query is 1 corpus scan + exactly the top-k
    window shuffle and the final orderBy — nothing else is wide."""
    from streampro_assignment_etl_spark.queries import EXTRAS

    df = EXTRAS["similarity_ann_pq"].builder(spark, SF)
    assert parquet_scan_count(df) == 1
    assert shuffle_count(df) <= 2


def test_ivfpq_adc_is_broadcast_lut_join_no_nested_loop(spark):
    """The composed pipeline's relational ADC must join the per-query
    LUT table as a BROADCAST (it is q×m×n_codes rows by contract) and
    never degenerate to a nested-loop/cartesian anywhere; total wide
    ops stay at 3 shuffles (ADC groupBy + shortlist window + rerank
    window/orderBy chain)."""
    from streampro_assignment_etl_spark.plans import plan_string
    from streampro_assignment_etl_spark.queries import EXTRAS

    df = EXTRAS["similarity_ann_ivfpq"].builder(spark, SF)
    p = plan_string(df)
    assert "NestedLoop" not in p and "Cartesian" not in p, p
    assert broadcast_join_count(df) >= 1
    assert shuffle_count(df) <= 3


def test_ivfpq_residual_encode_stays_one_fused_projection(spark):
    """The residual subtraction (zip_with over the literal centroid
    map) must ride the SAME fused zero-shuffle projection as the
    absolute encode — cell assign, centroid subtract, and per-subspace
    argmin in one map-side pass over one corpus scan; and the full
    residual query keeps the broadcast-LUT ADC shape (no nested loop,
    the melt join broadcasts the per-(query, cell) LUT table)."""
    from streampro_assignment_etl_spark.operators import similarity
    from streampro_assignment_etl_spark.plans import plan_string
    from streampro_assignment_etl_spark.queries import EXTRAS
    from streampro_assignment_etl_spark.sources.testdata import load_table

    emb = load_table(spark, SF, "embeddings")
    cents = similarity.collect_centroids(
        similarity.seed_centroids(emb, "vec_id", "embedding", 16)
    )
    cbs = similarity.pq_codebooks_residual(emb, cents, "vec_id", "embedding", 4, 16)
    fused = similarity.pq_encode(
        similarity.with_residual(
            similarity.assign_cells(emb, cents, "vec_id", "embedding"),
            cents,
            "embedding",
            "_rv",
        ).drop("embedding"),
        cbs,
        "vec_id",
        "_rv",
    )
    assert shuffle_count(fused) == 0
    assert parquet_scan_count(fused) == 1

    df = EXTRAS["similarity_ann_ivfpq_residual"].builder(spark, SF)
    p = plan_string(df)
    assert "NestedLoop" not in p and "Cartesian" not in p, p
    assert broadcast_join_count(df) >= 1


def test_incremental_fuzzy_probe_cap_adds_no_shuffle(spark):
    """The probe-side hot-bucket cap (round-12): capping the store per
    (band_id, band_hash) is a window over EXACTLY the probe join's
    keys, so EnsureRequirements reuses the window's hash partitioning
    for the join — the capped plan must have the SAME shuffle count as
    the uncapped one. Broadcast is disabled so every exchange is
    visible (AQE would otherwise hide the store side under a
    broadcast at fixture scale)."""
    from streampro_assignment_etl_spark.operators import minhash
    from streampro_assignment_etl_spark.queries import release_persisted

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    corpus = docs.filter("doc_id % 2 = 0")
    batch = docs.filter("doc_id % 2 = 1").limit(50)
    store = minhash.signature_store(corpus, "doc_id", "text", num_hashes=32, bands=8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        counts = []
        for cap in (None, 1000):
            out = minhash.incremental_fuzzy_matches(
                batch, corpus, store, "doc_id", "text",
                threshold=0.8, num_hashes=32, bands=8, max_bucket_size=cap,
            )
            counts.append(shuffle_count(out))
            release_persisted()
        assert counts[0] == counts[1], counts
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_interval_join_extracts_equi_key(spark):
    """The batch face of the stream-stream interval join must plan as a
    hash join on the extracted user_id equi-key with the time-range
    conditions residual — never a nested-loop/cartesian — and push the
    click-side user filter into BOTH event scans (Catalyst infers it
    across the equi-join)."""
    from streampro_assignment_etl_spark.plans import plan_string
    from streampro_assignment_etl_spark.queries import EXTRAS

    df = EXTRAS["view_click_attribution_interval"].builder(spark, SF)
    plan = plan_string(df)
    assert "HashJoin" in plan  # broadcast or shuffled — either hash form
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    pushed = " ".join(pushed_filters(df))
    # the user_id < 10 predicate reaches BOTH scans (click side wrote
    # it; Catalyst infers the view side across the equi-join)
    assert pushed.count("LessThan(user_id") == 2, pushed


def test_span_intervals_shuffle_budget(spark):
    """The interval merge must add only the (doc, run) aggregate beyond
    what build_span_dedup already pays: span-key window + doc-key
    window chain + final aggregate = 3 shuffles, one corpus scan."""
    from streampro_assignment_etl_spark.queries import EXTRAS

    df = EXTRAS["span_dedup_intervals"].builder(spark, SF)
    assert parquet_scan_count(df) == 1
    assert shuffle_count(df) <= 4  # 3 + the final presentation sort


def test_dynamic_partition_pruning_engages(spark, tmp_path):
    """Catalyst's dynamic partition pruning (session.py enables it;
    previously un-pinned): a fact table partitioned on the join key,
    joined against a dimension whose filter is only known at runtime,
    must plan a ``dynamicpruningexpression`` into the fact scan's
    PartitionFilters — at 100 TB this is the difference between
    listing/reading one partition and scanning the table when the
    selective predicate lives on the dim side."""
    from streampro_assignment_etl_spark.plans import plan_string

    ev = spark.read.parquet(f"{SF}/events.parquet")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(
        f"{tmp_path}/dpp_ev"
    )
    fact = spark.read.parquet(f"{tmp_path}/dpp_ev")
    dim = spark.createDataFrame(
        [("click", 1), ("view", 0)], ["event_type", "flag"]
    )
    j = (
        fact.join(dim.filter("flag = 1"), "event_type")
        .groupBy("event_type")
        .count()
    )
    plan = plan_string(j)
    assert "dynamicpruningexpression" in plan.lower(), plan[:2000]


def test_phrase_search_plan_shape(spark):
    """phrase_search_positions: one parquet scan, the phrase frame
    broadcast (non-phrase tokens die map-side, before any exchange),
    and at most 3 shuffles (anchor groupBy, per-doc rollup, final
    presentation sort) — the vote shuffle carries only phrase-term
    candidates, never the tokenized corpus."""
    from streampro_assignment_etl_spark.plans import plan_string
    from streampro_assignment_etl_spark.queries import EXTRAS

    df = EXTRAS["phrase_search_positions"].builder(spark, SF)
    assert parquet_scan_count(df) == 1
    assert shuffle_count(df) <= 3
    assert "BroadcastExchange" in plan_string(df)


def test_bloom_gate_plan_is_joinless(spark):
    """bloom_decontaminate_gate's zero-join claim, pinned: the returned
    frame reads ONE parquet scan, carries NO join of any kind (the 8 KB
    bloom array is a plan literal — membership is pure projection), and
    shuffles at most twice (doc rollup + presentation sort). The eval
    side's build job runs at builder time and never appears in the
    served plan."""
    from streampro_assignment_etl_spark.plans import plan_string
    from streampro_assignment_etl_spark.queries import EXTRAS

    df = EXTRAS["bloom_decontaminate_gate"].builder(spark, SF)
    plan = plan_string(df)
    assert parquet_scan_count(df) == 1
    assert shuffle_count(df) <= 2
    assert "Join" not in plan, plan[:1500]


def test_scd2_pit_join_is_keyed_not_cartesian(spark):
    """scd2_point_in_time_enrich: the interval predicate must ride as a
    RESIDUAL on a user_id-keyed join — never degrade to a nested-loop/
    cartesian plan, which an interval-only condition would produce."""
    from streampro_assignment_etl_spark.plans import plan_string
    from streampro_assignment_etl_spark.queries import EXTRAS

    df = EXTRAS["scd2_point_in_time_enrich"].builder(spark, SF)
    plan = plan_string(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:1500]


@pytest.mark.fast
def test_delete_where_hit_scan_pushes_predicate(spark, tmp_path):
    """delete_where's hit scan must reach the parquet scan as a pushed
    filter — filtering ABOVE the input_file_name projection loses
    pushdown entirely (measured round 14), turning every takedown into
    a full-table read. Pin the filter-first shape."""
    from pyspark.sql import functions as F

    tbl = str(tmp_path / "t")
    spark.range(1000).selectExpr("id", "id % 7 AS g").write.parquet(tbl)
    df = spark.read.parquet(tbl)
    shaped = (
        df.filter(F.expr("id IN (1, 2, 3)"))
        .withColumn("_f", F.input_file_name())
        .select("_f")
    )
    plan = shaped._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [In(id" in plan, plan[:1200]


def test_scd2_pit_join_helper_extracts_equi_key(spark):
    """The factored scd2_pit_join (round 14 — the streaming PIT
    runner's batch face) must plan like the inline PIT query: Catalyst
    extracts the key equality into a hash join (broadcast or SMJ) and
    the interval predicate rides as a residual — never a nested-loop/
    cartesian, even when facts and dim share lineage (both derived
    from events here, the aliasing trap)."""
    from pyspark.sql import functions as F

    from streampro_assignment_etl_spark.plans import plan_string
    from streampro_assignment_etl_spark.queries.reshape import (
        scd2_from_log,
        scd2_pit_join,
    )
    from streampro_assignment_etl_spark.sources.testdata import load_table

    ev = load_table(spark, SF, "events").select(
        "user_id",
        F.col("event_id").alias("change_id"),
        F.col("event_type").alias("status"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    dim = scd2_from_log(ev, "change_id")
    facts = ev.select("user_id", F.col("change_id").alias("fact_id"), "ts_us")
    df = scd2_pit_join(facts, dim)
    plan = plan_string(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:1500]
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan), plan[:1500]


def test_scd2_pit_join_bucketed_dim_exchanges_only_fact_side(spark, tmp_path):
    """VERDICT r14 #4: once the SCD-2 dimension outgrows the broadcast
    threshold, every PIT micro-batch would re-shuffle it. The named
    fix: store the dimension as a catalog table BUCKETED on the key —
    the bucketed scan satisfies the join's hash distribution, so only
    the FACT side exchanges (exactly one Exchange in the plan, the
    bucketed-corpus dedup precedent), and the result is bit-equal to
    the plain-parquet PIT. Also drives run_pit_enriched_stream's
    dim_table mode end-to-end against the same table."""
    from pyspark.sql import functions as F

    from streampro_assignment_etl_spark.pipeline import catalog_ops as C
    from streampro_assignment_etl_spark.plans import plan_string
    from streampro_assignment_etl_spark.queries.reshape import (
        scd2_from_log,
        scd2_pit_join,
    )
    from streampro_assignment_etl_spark.sources.testdata import load_table
    from streampro_assignment_etl_spark.streaming.events_stream import (
        run_pit_enriched_stream,
    )

    ev = load_table(spark, SF, "events").select(
        "user_id",
        F.col("event_id").alias("change_id"),
        F.col("event_type").alias("status"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    dim = scd2_from_log(ev, "change_id")
    facts = ev.select("user_id", F.col("change_id").alias("fact_id"), "ts_us")
    try:
        C.save_bucketed_table(
            dim, "b_scd2_dim", ["user_id"], 4, sort_cols=["user_id"]
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = scd2_pit_join(facts, spark.table("b_scd2_dim"))
            plan = plan_string(joined)
            assert "SortMergeJoin" in plan, plan[:1500]
            assert shuffle_count(joined) == 1, plan[:1500]  # fact side only
            got = sorted(tuple(r) for r in joined.collect())
            plain = sorted(
                tuple(r) for r in scd2_pit_join(facts, dim).collect()
            )
            assert got == plain

            # streaming face: dim_table mode equals the dim_path mode
            chg = str(tmp_path / "facts")
            facts.coalesce(1).write.parquet(chg)
            out_t = str(tmp_path / "out_table")
            run_pit_enriched_stream(
                spark.readStream.schema(facts.schema).parquet(chg),
                None,
                out_t,
                str(tmp_path / "ck_t"),
                dim_table="b_scd2_dim",
            )
            stream_got = sorted(
                tuple(r)
                for r in spark.read.option("basePath", out_t)
                .parquet(out_t)
                .drop("batch_id")
                .collect()
            )
            assert stream_got == plain
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        C.drop_table(spark, "b_scd2_dim")


def test_quoted_span_gate_plan_broadcasts_spans(spark):
    """decontaminate_quoted_spans' rewrite pin (SCALE.md quoted-span
    postmortem): the span frame must BROADCAST into a hash equi-join
    on the full 8-gram — two scans of documents (spans + grams), no
    shuffle of the exploded gram stream before the join, ≤3 exchanges
    total (doc rollup, countDistinct's distinct rewrite over the tiny
    FLAGGED set, presentation sort — everything post-join is
    match-proportional, never corpus-proportional)."""
    from streampro_assignment_etl_spark.queries import EXTRAS

    df = EXTRAS["decontaminate_quoted_spans"].builder(spark, SF)
    assert parquet_scan_count(df) == 2
    assert broadcast_join_count(df) >= 1
    assert shuffle_count(df) <= 3


def test_locality_audit_prunes_to_key_columns(spark, tmp_path):
    """audit_key_partition_locality's 100 TB claim is the plan: the
    parquet scan reads ONLY the key columns (the partition value comes
    from the Hive dirs), and the aggregation is the two-exchange
    distinct-agg shape whose shuffle is bounded by key cardinality —
    never table bytes."""
    from streampro_assignment_etl_spark.pipeline.writers import (
        audit_key_partition_locality,
    )

    tbl = str(tmp_path / "audit_plan_t")
    spark.createDataFrame(
        [(i, f"v{i}", float(i), i % 3) for i in range(60)],
        "id INT, val STRING, score DOUBLE, part INT",
    ).write.partitionBy("part").parquet(tbl)
    df = audit_key_partition_locality(spark, tbl, ("id",), "part")
    (cols,) = read_schema_columns(df)
    assert cols == ["id"], cols  # val/score never leave the footer
    assert shuffle_count(df) == 2  # partial distinct + count-distinct


def test_locality_audit_multilevel_prunes_to_key_columns(spark, tmp_path):
    """Round 19: the leaf-granularity audit keeps the same 100 TB plan
    shape on a multi-level layout — both partition columns come from
    the Hive dirs, so the parquet scan still reads ONLY the key
    columns, and the distinct-agg over the (date, hour) tuple stays
    the two-exchange shape bounded by key cardinality."""
    from streampro_assignment_etl_spark.pipeline.writers import (
        audit_key_partition_locality,
    )

    tbl = str(tmp_path / "audit_plan_ml")
    spark.createDataFrame(
        [(i, f"v{i}", float(i), f"d{i % 2}", i % 3) for i in range(60)],
        "id INT, val STRING, score DOUBLE, date STRING, hour INT",
    ).write.partitionBy("date", "hour").parquet(tbl)
    df = audit_key_partition_locality(
        spark, tbl, ("id",), ("date", "hour")
    )
    (cols,) = read_schema_columns(df)
    assert cols == ["id"], cols  # val/score never leave the footer
    assert shuffle_count(df) == 2
