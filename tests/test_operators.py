"""Operator-level tests for MinHash-LSH, SimHash, and IVF ANN
(operators/ — the north-star fuzzy-dedup / similarity scale paths)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from streampro_assignment_etl_spark.operators import minhash, simhash, similarity

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def _cosine(a: str, b: str):
    """Inline cosine of two array<double> columns through the SQL-text
    vector kernel (norms computed in place, not carried)."""
    return F.expr(
        similarity._cosine_sql(a, b, similarity._norm_sql(a), similarity._norm_sql(b))
    )


# -- MinHash ---------------------------------------------------------------
def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("x y",)], ["text"])
    rows = df.select(minhash.word_shingles(F.col("text")).alias("sh")).collect()
    assert rows[0]["sh"] == ["a b c", "b c d"]
    assert rows[1]["sh"] == []  # fewer words than n → no shingles


def test_minhash_seed_sensitivity(spark):
    """Signature slots must differ across seeds (regression for the
    two-arg-lambda bug where every slot hashed with the array index)."""
    df = spark.createDataFrame([(1, "w1 w2 w3 w4 w5 w6")], ["id", "text"])
    shingled = df.select("id", minhash.word_shingles(F.col("text")).alias("sh"))
    row = minhash.minhash_signatures(shingled, "id", "sh").collect()[0]
    slots = [row[f"_m{i}"] for i in range(minhash.DEFAULT_NUM_HASHES)]
    assert len(set(slots)) > 32  # distinct mins under distinct seeds
    keys = minhash.band_key_rows(
        minhash.minhash_signatures(shingled, "id", "sh"), "id"
    ).collect()
    assert len(keys) == 16
    assert len({r["band_hash"] for r in keys}) == 16


def test_fuzzy_dup_candidates_bounded(docs):
    """Candidate generation is O(n·bands): the exploded band frame has
    exactly bands rows per (shingled) doc, and bucketing never crosses
    buckets."""
    n_docs = docs.count()
    shingled = docs.select(
        F.col("doc_id").alias("_id"), minhash.word_shingles(F.col("text")).alias("sh")
    )
    sigs = minhash.minhash_signatures(shingled, "_id", "sh")
    exploded = minhash.band_key_rows(sigs, "_id")
    assert exploded.count() == n_docs * minhash.DEFAULT_BANDS

    cand = minhash.candidate_pairs(shingled, "_id", "sh")
    # Bucketed candidates are a tiny fraction of the n^2 pair space.
    assert cand.count() < n_docs * 5


def test_fuzzy_dup_pairs_finds_planted_dups(docs):
    pairs = minhash.fuzzy_dup_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    assert len(pairs) == 25  # planted near-dups at sf0.01
    assert all(p["jaccard"] >= 0.8 for p in pairs)
    assert all(p["doc_a"] < p["doc_b"] for p in pairs)


def test_fuzzy_dup_pairs_pruned_verification_parity(docs):
    """The candidate-pruned verification plan (the 100 TB shape: 1 full
    shingle pass + 2 cohort passes instead of 3 full passes) returns
    EXACTLY the same pairs and jaccards as the overlap-friendly default."""
    from streampro_assignment_etl_spark.queries import release_persisted

    key = lambda r: (r["doc_a"], r["doc_b"], r["jaccard"])  # noqa: E731
    base = sorted(
        map(key, minhash.fuzzy_dup_pairs(docs, "doc_id", "text", threshold=0.8).collect())
    )
    pruned = sorted(
        map(
            key,
            minhash.fuzzy_dup_pairs(
                docs, "doc_id", "text", threshold=0.8, prune_verification=True
            ).collect(),
        )
    )
    release_persisted()
    assert pruned == base


def test_fuzzy_dup_pairs_auto_selects_pruned_plan_on_wide_input(docs, monkeypatch):
    """prune_verification=None auto-selects by Catalyst's input size
    estimate (a pure driver-side plan lookup — the round-6 review
    killed the df.rdd partition-count proxy, which under AQE EXECUTES
    the upstream DAG and reads the post-shuffle coalesced count): a
    small input keeps the overlapped 3-pass plan; one estimated past
    _PRUNE_AUTO_BYTES gets the cohort-pruned plan (visible as the
    verification LeftSemi join), so a 100 TB user gets the scale-safe
    default without opting in. The threshold is monkeypatched below the
    fixture's estimated size to pin the switch host-independently."""
    from streampro_assignment_etl_spark.queries import release_persisted

    def plan(frame):
        out = minhash.fuzzy_dup_pairs(frame, "doc_id", "text", threshold=0.8)
        s = out._jdf.queryExecution().optimizedPlan().toString()
        release_persisted()
        return s

    assert "LeftSemi" not in plan(docs)
    est = int(docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert 0 < est < minhash._PRUNE_AUTO_BYTES  # sanity: fixture is "narrow"
    monkeypatch.setattr(minhash, "_PRUNE_AUTO_BYTES", est - 1)
    assert "LeftSemi" in plan(docs)
    monkeypatch.undo()

    # In-memory frames report the defaultSizeInBytes SENTINEL (unknown
    # size ⇒ Long.MaxValue), which deliberately lands on the pruned plan
    # — the conservative direction for un-estimable inputs.
    mem = docs.sparkSession.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        ["doc_id", "text"],
    )
    assert (
        int(mem._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        > minhash._PRUNE_AUTO_BYTES
    )
    assert "LeftSemi" in plan(mem)


def test_fuzzy_dup_pairs_auto_select_pins_both_branches_on_stubbed_estimate(
    docs, monkeypatch
):
    """Catalyst-independent pin of the auto-select decision itself: with
    the size estimate STUBBED (not the threshold), an estimate one byte
    over _PRUNE_AUTO_BYTES must pick the cohort-pruned plan and one byte
    under must pick the overlapped 3-pass plan — so a Catalyst
    estimation change can shift WHERE real corpora land but can never
    silently invert the decision function."""
    from streampro_assignment_etl_spark.queries import release_persisted

    def plan(frame):
        out = minhash.fuzzy_dup_pairs(frame, "doc_id", "text", threshold=0.8)
        s = out._jdf.queryExecution().optimizedPlan().toString()
        release_persisted()
        return s

    monkeypatch.setattr(
        minhash, "_plan_size_estimate", lambda df: minhash._PRUNE_AUTO_BYTES + 1
    )
    assert "LeftSemi" in plan(docs)
    monkeypatch.setattr(
        minhash, "_plan_size_estimate", lambda df: minhash._PRUNE_AUTO_BYTES - 1
    )
    assert "LeftSemi" not in plan(docs)


def test_incremental_fuzzy_matches_vs_signature_store(spark):
    """Arrival-batch fuzzy dedup against a persisted LSH store: a batch
    doc that near-duplicates a corpus doc matches it (best match by
    jaccard desc, lowest corpus id), an exact mirror scores 1.0, a
    novel doc produces no row — and the corpus contributes only its
    band rows to candidate generation (text re-read is LeftSemi-pruned
    to candidate ids, pinned on the optimized plan)."""
    from streampro_assignment_etl_spark.queries import release_persisted

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    corpus = spark.createDataFrame(
        [(1, base), (2, base.replace("alpha", "omega")), (3, "completely different words here " * 5)],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (101, base.replace("gamma", "jinx", 1)),  # near-dup of 1 (and 2)
            (102, base.replace("alpha", "omega")),    # exact mirror of 2
            (103, "nothing shared with any corpus document at all " * 4),
        ],
        ["doc_id", "text"],
    )
    store = minhash.signature_store(corpus, "doc_id", "text", num_hashes=32, bands=8)
    out = minhash.incremental_fuzzy_matches(
        batch, corpus, store, "doc_id", "text",
        threshold=0.7, num_hashes=32, bands=8,
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LeftSemi") >= 2  # both verification sides pruned
    rows = {r["doc_id"]: r for r in out.collect()}
    release_persisted()
    assert set(rows) == {101, 102}  # novel doc 103 produces no row
    assert rows[102]["dup_of"] == 2 and rows[102]["jaccard"] == 1.0
    assert rows[101]["dup_of"] in (1, 2) and 0.7 <= rows[101]["jaccard"] < 1.0

    # Geometry contract: a store built under different (num_hashes,
    # bands) hashes into disjoint buckets — zero candidates, loud in
    # effect (callers persist geometry next to the store).
    store16 = minhash.signature_store(corpus, "doc_id", "text", num_hashes=32, bands=16)
    none = minhash.incremental_fuzzy_matches(
        batch, corpus, store16, "doc_id", "text",
        threshold=0.7, num_hashes=32, bands=8,
    ).count()
    release_persisted()
    assert none == 0


def test_hot_bucket_cap_bounds_degenerate_bucket(spark):
    """Round-11 VERDICT #2 + ADVICE r12: a degenerate band (all docs
    share a band hash — web boilerplate) must not cross the full
    bucket. With a cap, the bucket contributes the cross of its cap
    lowest ids — a bounded, deterministic pair count — PLUS a
    (min_id, dropped_id) spine pair per over-cap member, so an
    exact-dup flood (same doc set in the same bucket in EVERY band,
    where "meets in its other bands" is false) keeps every member
    connected to the cluster. A genuine near-dup pair OUTSIDE the
    flood still meets via its own buckets."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    flood = [(i, base) for i in range(1, 21)]  # 20 identical docs
    near = base.replace("gamma", "jinx", 1)
    rows = flood + [(21, near), (22, near)]  # near-dup pair vs the flood
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    shingled = docs.select(
        F.col("doc_id").alias("_id"), minhash.word_shingles(F.col("text")).alias("sh")
    )

    uncapped = {
        (r["id_a"], r["id_b"])
        for r in minhash.candidate_pairs(
            shingled, "_id", "sh", num_hashes=32, bands=8, max_bucket_size=None
        ).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in minhash.candidate_pairs(
            shingled, "_id", "sh", num_hashes=32, bands=8, max_bucket_size=5
        ).collect()
    }
    # Uncapped: the flood cross alone is C(20,2)=190 pairs. Capped: the
    # flood bucket contributes the C(5,2)=10 cross of ids 1..5 plus the
    # connectivity spine (1, j) for each dropped j in 6..20 — every
    # flood member still reaches the cluster through the min id.
    assert len(uncapped) >= 190
    flood_pairs = {p for p in capped if p[0] <= 20 and p[1] <= 20}
    assert flood_pairs == {
        (a, b) for a in range(1, 6) for b in range(a + 1, 6)
    } | {(1, j) for j in range(6, 21)}
    covered = {i for p in flood_pairs for i in p}
    assert covered == set(range(1, 21))  # no member bypasses dedup
    # Multi-band recovery: 21/22 are identical to each other, so every
    # band they DON'T share with the flood is a size-2 bucket that
    # survives any cap — the pair is still a candidate.
    assert (21, 22) in capped
    assert capped <= uncapped  # the cap only removes pairs, never invents

    stats = minhash.overcap_bucket_stats(
        shingled, "_id", "sh", num_hashes=32, bands=8, max_bucket_size=5
    ).collect()[0]
    assert stats["n_overcap_buckets"] >= 1
    assert stats["max_bucket_docs"] >= 20
    assert stats["dropped_id_slots"] >= 15  # ≥ one 20-doc bucket capped at 5

    # End-to-end: fuzzy_dup_pairs under the cap still verifies the
    # surviving candidates exactly; the flood's capped subset verifies
    # at jaccard 1.0 and the (21,22) mirror pair is present.
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash.fuzzy_dup_pairs(
            docs, "doc_id", "text", threshold=0.8,
            num_hashes=32, bands=8, max_bucket_size=5,
        ).collect()
    }
    assert pairs[(21, 22)] == 1.0
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 6)] == 1.0  # spine pair, verified exactly
    assert (6, 7) not in pairs  # dropped members cross only via the spine


def test_incremental_fuzzy_matches_hot_bucket_cap(spark):
    """Probe-side hot-bucket guard: a store band bucket holding many
    corpus ids is capped to its lowest ids before the probe join —
    bounded join output — and the surviving match equals the uncapped
    best match (ties already go to the lowest corpus id)."""
    from streampro_assignment_etl_spark.queries import release_persisted

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    corpus = spark.createDataFrame(
        [(i, base) for i in range(1, 21)], ["doc_id", "text"]
    )
    batch = spark.createDataFrame([(101, base)], ["doc_id", "text"])
    store = minhash.signature_store(corpus, "doc_id", "text", num_hashes=32, bands=8)

    capped = minhash.incremental_fuzzy_matches(
        batch, corpus, store, "doc_id", "text",
        threshold=0.7, num_hashes=32, bands=8, max_bucket_size=3,
    ).collect()
    release_persisted()
    uncapped = minhash.incremental_fuzzy_matches(
        batch, corpus, store, "doc_id", "text",
        threshold=0.7, num_hashes=32, bands=8, max_bucket_size=None,
    ).collect()
    release_persisted()
    assert len(capped) == len(uncapped) == 1
    assert capped[0]["dup_of"] == uncapped[0]["dup_of"] == 1
    assert capped[0]["jaccard"] == 1.0


# -- SimHash ---------------------------------------------------------------
def test_simhash_identical_and_perturbed(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, base.replace("gamma", "jinx", 1))], ["id", "text"]
    )
    sigs = {
        r["id"]: r["sig"]
        for r in simhash.simhash_signatures(df, "id", "text").collect()
    }
    assert sigs[1] == sigs[2]  # identical text → identical signature
    assert sigs[1] != sigs[3]  # perturbed text → different signature
    assert 0 <= sigs[1] < 2**60


def test_simhash_near_dup_pairs_exact(docs, spark):
    """Banded pairs == brute-force pairs at distance<=3 (pigeonhole)."""
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash.near_dup_pairs(docs, "doc_id", "text").collect()
    }
    sigs = simhash.simhash_signatures(
        docs.select(F.col("doc_id").alias("_id"), "text"), "_id", "text"
    )
    a = sigs.select(F.col("_id").alias("ia"), F.col("sig").alias("sa"))
    b = sigs.select(F.col("_id").alias("ib"), F.col("sig").alias("sb"))
    brute = {
        (r["ia"], r["ib"], r["d"])
        for r in a.join(b, F.col("ia") < F.col("ib"))
        .select("ia", "ib", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).alias("d"))
        .filter(F.col("d") <= 3)
        .collect()
    }
    assert got == brute
    assert simhash.near_dup_pairs.__defaults__  # exactness guard exists
    with pytest.raises(ValueError):
        simhash.near_dup_pairs(docs, "doc_id", "text", max_distance=4, chunks=4)


# -- IVF ANN ---------------------------------------------------------------
def test_ann_recall_vs_brute_force(emb, spark):
    """Recall@5 >= 0.9 against brute-force cosine for the 5 query
    vectors (the driver-checked config: C=16, P=4)."""
    queries = emb.filter(F.col("vec_id") < 5)
    ann = similarity.ann_topk(emb, queries, k=5, n_centroids=16, probes=4)
    got = {(r["query_id"], r["neighbor_id"]) for r in ann.collect()}

    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    q = queries.select(F.col("vec_id").alias("qid"), v.alias("qv"))
    c = emb.select(F.col("vec_id").alias("nid"), v.alias("cv"))
    from pyspark.sql.window import Window

    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", _cosine("qv", "cv").alias("s"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("s"), F.asc("nid"))
    truth = {
        (r["qid"], r["nid"])
        for r in scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"recall@5={recall}"


def test_ann_scans_fraction_of_corpus(emb):
    """The probed candidate set is a strict subset of the corpus —
    the point of IVF (P/C cells ≈ P/C of a balanced corpus)."""
    n = emb.count()
    queries = emb.filter(F.col("vec_id") < 5)
    cents = similarity.seed_centroids(emb, "vec_id", "embedding", 16)
    cells = similarity.assign_cells(emb, cents, "vec_id", "embedding")
    probed = similarity.probe_cells(queries, cents, "vec_id", "embedding", 4)
    cand_per_query = (
        probed.join(cells.select(F.col("vec_id").alias("nid"), "cell"), "cell")
        .groupBy("query_id")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert cand_per_query < n * 0.6  # never close to a full scan


# -- skew salting ------------------------------------------------------------
def test_salted_sum_count_equals_plain(spark):
    from streampro_assignment_etl_spark.operators import skew

    # 90% of rows share one hot key.
    df = spark.range(20000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(F.lit("cold")).alias("k"),
        (F.col("id") % 100).cast("double").alias("v"),
        F.col("id"),
    )
    got = {
        r["k"]: (r["sum_v"], r["n_rows"])
        for r in skew.salted_sum_count(df, ["k"], "v", ["id"], n_salts=16).collect()
    }
    want = {
        r["k"]: (r["s"], r["c"])
        for r in df.groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("c")).collect()
    }
    assert got == want


def test_salted_join_preserves_multiplicity(spark):
    from streampro_assignment_etl_spark.operators import skew

    big = spark.range(5000).select(
        F.when(F.col("id") % 5 < 4, F.lit(1)).otherwise(F.col("id") % 7).alias("k"),
        F.col("id").alias("big_id"),
    )
    small = spark.range(8).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("small_val")
    )
    got = skew.salted_join_small_right(big, small, "k", n_salts=8)
    plain = big.join(small, "k")
    assert got.count() == plain.count()
    g = sorted(tuple(r) for r in got.collect())
    p = sorted(tuple(r) for r in plain.collect())
    assert g == p


def test_salt_is_deterministic(spark):
    from streampro_assignment_etl_spark.operators import skew

    df = spark.range(100).select("id")
    a = df.withColumn("s", skew.salt_expr(["id"], 8)).collect()
    b = df.withColumn("s", skew.salt_expr(["id"], 8)).collect()
    assert a == b
    assert {r["s"] for r in a} == set(range(8))  # spreads over all salts


# -- vectorized cosine path ---------------------------------------------------
def test_vectorized_cosine_matches_builtin(spark, emb):
    """The Arrow/numpy top-k equals the pure-built-in exact query
    (neighbor sets identical; scores equal to 4 decimals)."""
    from streampro_assignment_etl_spark.queries.extensions import similarity_topk_cosine

    queries = emb.filter(F.col("vec_id") < 5)
    fast = similarity.cosine_topk_vectorized(emb, queries, k=5)
    exact = similarity_topk_cosine(spark, SF)
    f = {(r["query_id"], r["neighbor_id"]): r["cosine_sim"] for r in fast.collect()}
    e = {(r["query_id"], r["neighbor_id"]): r["cosine_sim"] for r in exact.collect()}
    assert set(f) == set(e)
    assert all(abs(f[kk] - e[kk]) < 1e-3 for kk in f)


# -- as-of join ---------------------------------------------------------------
def test_asof_join_edges(spark):
    from datetime import datetime

    from streampro_assignment_etl_spark.operators.asof import asof_join_backward

    ts = lambda s: datetime.fromisoformat(s)  # noqa: E731
    left = spark.createDataFrame(
        [
            (1, ts("2024-01-01T10:00:00"), "before_any"),
            (1, ts("2024-01-01T12:00:00"), "exact_tie"),
            (1, ts("2024-01-01T13:30:00"), "between"),
            (2, ts("2024-01-01T09:00:00"), "other_key"),
        ],
        ["k", "ts", "label"],
    )
    right = spark.createDataFrame(
        [
            (1, ts("2024-01-01T11:00:00"), 1.0),
            (1, ts("2024-01-01T12:00:00"), 2.0),
            (1, ts("2024-01-01T13:00:00"), 3.0),
            (2, ts("2024-01-01T09:30:00"), 9.0),
        ],
        ["k", "ts", "v"],
    )
    got = {
        r["label"]: (r["v"], r["matched_ts"])
        for r in asof_join_backward(left, right, "k", "ts", ["v"]).collect()
    }
    assert got["before_any"] == (None, None)  # no prior right row → NULL
    assert got["exact_tie"][0] == 2.0  # inclusive at equal ts
    assert got["between"][0] == 3.0  # latest at-or-before wins
    assert got["other_key"] == (None, None)  # keys never cross


def test_connected_components_chain_hub_and_cross_cluster(spark):
    """Chains (multi-round convergence), hubs, and separate clusters all
    resolve to min-id components; string ids work too."""
    from streampro_assignment_etl_spark.operators.components import (
        canonical_docs,
        connected_components,
    )

    # chain 1-2-3-4-5, hub 10-{11,12,13}, pair 20-21, reversed edge 31->30
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (10, 12), (10, 13),
         (20, 21), (31, 30)],
        ["doc_a", "doc_b"],
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, "doc_a", "doc_b").collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
        10: 10, 11: 10, 12: 10, 13: 10,
        20: 20, 21: 20,
        30: 30, 31: 30,
    }

    docs = spark.createDataFrame([(i,) for i in [1, 3, 5, 11, 40]], ["doc_id"])
    cd = {r["doc_id"]: (r["canonical_id"], r["is_canonical"])
          for r in canonical_docs(docs, edges, "doc_id").collect()}
    assert cd == {1: (1, True), 3: (1, False), 5: (1, False),
                  11: (10, False), 40: (40, True)}  # isolated doc = own canonical


def test_dedup_keep_best_quality_prefers_rich_member(spark, tmp_path):
    """Quality-aware canonical selection: within a near-dup cluster the
    member with the HIGHER distinct-word count wins even when it has
    the HIGHER doc_id (a min-id canonical would keep the degraded
    copy); equal quality falls back to the min-id tiebreak. Built on a
    planted corpus so the selection is forced, then run through the
    registered query builder against its own parquet layout."""
    from streampro_assignment_etl_spark.operators import components, minhash

    base = " ".join(f"w{i}" for i in range(30))
    # doc 2 = doc 1 degraded: last third replaced by repeats of w0
    # (near-dup by shingles, strictly poorer vocabulary)
    degraded = " ".join(
        [f"w{i}" for i in range(20)] + ["w0"] * 10
    )
    docs = spark.createDataFrame(
        [(1, degraded), (2, base), (50, "solo " + base[:40])],
        "doc_id long, text string",
    )
    dup = minhash.fuzzy_dup_pairs(
        docs, "doc_id", "text", threshold=0.5, num_hashes=32, bands=8,
        max_bucket_size=None,
    ).select("doc_a", "doc_b")
    assert {(r["doc_a"], r["doc_b"]) for r in dup.collect()} == {(1, 2)}
    cc = components.connected_components(dup, "doc_a", "doc_b")
    quality = docs.select(
        F.col("doc_id").alias("node"),
        F.size(F.array_distinct(F.split("text", " "))).cast("long").alias("q"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("component").orderBy(F.col("q").desc(), F.col("node"))
    kept = (
        cc.join(quality, "node")
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("component", "node")
        .collect()
    )
    # cluster label is min-id (1), but the KEPT doc is the richer 2
    assert [(r["component"], r["node"]) for r in kept] == [(1, 2)]


def test_connected_components_string_ids_and_bridge_merge(spark):
    """Two clusters bridged by one edge merge into one component under
    lexicographic min for string ids."""
    from streampro_assignment_etl_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [("b", "c"), ("x", "y"), ("c", "x")], ["doc_a", "doc_b"]
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, "doc_a", "doc_b").collect()
    }
    assert got == {"b": "b", "c": "b", "x": "b", "y": "b"}


def test_lsh_topk_finds_planted_twins(spark):
    """On clustered data (the case LSH exists for) each query's planted
    near-identical twin must appear at rank 1: cos(base, twin) ~ 0.999
    flips a sign bit with probability ~ theta/pi ~ 0.8% per plane, and
    the 1-bit multiprobe absorbs single flips."""
    import hashlib

    from streampro_assignment_etl_spark.operators.similarity import lsh_topk

    def hvec(seed, dim=16):
        # deterministic pseudo-random components in [-1, 1)
        return [
            (int(hashlib.md5(f"{seed}_{i}".encode()).hexdigest()[:8], 16) % 2000)
            / 1000.0
            - 1.0
            for i in range(dim)
        ]

    rows = []
    for b in range(20):
        base = hvec(f"base{b}")
        twin = [x + 0.01 * ((b + i) % 3 - 1) for i, x in enumerate(base)]
        rows.append((b, base))          # query ids 0..19
        rows.append((100 + b, twin))    # twins
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = emb.filter("vec_id < 20")
    got = lsh_topk(emb, queries, k=1, n_planes=6, dim=16).collect()
    hits = sum(1 for r in got if r["neighbor_id"] == r["query_id"] + 100)
    assert hits >= 18, f"only {hits}/20 twins found at rank 1"

def test_near_dup_cells_recall_and_planted_exactness(emb, spark):
    """Cell-blocked near-dup mining vs exact all-pairs: (a) on the
    isotropic fixture corpus (blocking's worst case) recall >= 0.85 at
    the driver config (tau=0.4, C=16, P=4) with zero false pairs;
    (b) genuine near-dups (planted cos~0.999 twins) are found with
    recall 1.0 — the case the operator exists for."""
    got = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.near_dup_pairs_cells(
            emb, "vec_id", "embedding", threshold=0.4, n_centroids=16, probes=4
        ).collect()
    }
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    a = emb.select(F.col("vec_id").alias("vec_a"), v.alias("va"))
    b = emb.select(F.col("vec_id").alias("vec_b"), v.alias("vb"))
    cos = _cosine("va", "vb")
    truth = {
        (r["vec_a"], r["vec_b"])
        for r in a.join(b, F.col("vec_a") < F.col("vec_b"))
        .filter(cos >= 0.4)
        .select("vec_a", "vec_b")
        .collect()
    }
    assert not (got - truth), "blocking must never invent pairs"
    assert len(got & truth) / len(truth) >= 0.85, (len(got), len(truth))

    import hashlib

    def hvec(seed, dim=16):
        return [
            (int(hashlib.md5(f"{seed}_{i}".encode()).hexdigest()[:8], 16) % 2000)
            / 1000.0
            - 1.0
            for i in range(dim)
        ]

    rows = []
    for k in range(20):
        base = hvec(f"nd{k}")
        twin = [x + 0.005 * ((k + i) % 3 - 1) for i, x in enumerate(base)]
        rows.append((k, base))
        rows.append((100 + k, twin))
    planted = spark.createDataFrame(rows, ["vec_id", "embedding"])
    found = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.near_dup_pairs_cells(
            planted, "vec_id", "embedding", threshold=0.99, n_centroids=8, probes=2
        ).collect()
    }
    assert found >= {(k, 100 + k) for k in range(20)}, found

def test_spread_small_input_gated_on_partition_count(spark):
    """r20 repartition gate: a one-split frame is spread to the session
    parallelism; a frame already at/above it passes through UNCHANGED
    (identical plan object — no round-robin shuffle of payload bytes at
    scale, the r19 verdict's 'What's wrong #2'). Multi-split plan dumps
    for the full operators live in plans/r20/*_multisplit_*.txt."""
    from streampro_assignment_etl_spark.operators._spread import spread_small_input

    n = spark.sparkContext.defaultParallelism
    narrow = spark.range(1000).coalesce(1)
    spread = spread_small_input(narrow)
    assert spread.rdd.getNumPartitions() == n
    wide = spark.range(1000).repartition(n)
    assert spread_small_input(wide) is wide
    wider = spark.range(1000).repartition(n + 3)
    assert spread_small_input(wider) is wider


def test_nested_double_literal_bit_exact_and_single_node(spark):
    """The r20 single-``Literal`` centroid matrix: (a) evaluates
    bit-identically to the parsed shortest-repr ``array(array(...))``
    form (including subnormals, max-double, -0.0 and shortest-repr
    worst cases); (b) lands in the plan as ONE literal node, not a
    CreateArray tree (the analysis-cost property the optimization
    exists for); (c) the parsed-expr FALLBACK produces the identical
    values, so a catalyst-internals drift degrades speed, never
    results."""
    import struct as _struct

    from streampro_assignment_etl_spark.operators.similarity import (
        _double_array_sql,
        _nested_double_literal,
    )

    rows = [
        [0.1, 1 / 3, 2.0**-1074, 1.7976931348623157e308],
        [-0.0, 5e-324, 0.30000000000000004, -123456.789e-30],
    ]
    fast = spark.range(1).select(_nested_double_literal(rows).alias("m")).first()["m"]
    parsed_col = F.expr(
        "array(" + ",".join(_double_array_sql(r) for r in rows) + ")"
    )
    parsed = spark.range(1).select(parsed_col.alias("m")).first()["m"]
    for fr, pr, src in zip(fast, parsed, rows):
        assert [_struct.pack("<d", x) for x in fr] == [
            _struct.pack("<d", x) for x in pr
        ]
        assert [_struct.pack("<d", x) for x in fr] == [
            _struct.pack("<d", float(x)) for x in src
        ]
    # single node: the analyzed plan must not carry a CreateArray tree
    df = spark.range(1).select(_nested_double_literal(rows).alias("m"))
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "array(" not in analyzed, analyzed


def test_nested_double_literal_lambda_matches_parsed_transform(spark):
    """``_nested_double_literal(rows, lambda_sql)`` scores each literal
    row with a SQL-text lambda: bit-identical to the parsed
    ``transform(array(array(...)), lambda)`` fallback, and the matrix
    still enters the plan as one literal node."""
    import struct as _struct

    from streampro_assignment_etl_spark.operators.similarity import (
        _dot_sql,
        _double_array_sql,
        _nested_double_literal,
    )

    rows = [[0.1, 1 / 3, -2.5], [5e-324, 0.30000000000000004, 7.0]]
    lam = f"(r, i) -> {_dot_sql('v', 'r')} + i"
    vdf = spark.createDataFrame([([0.7, -1 / 7, 3.0],)], "v array<double>")
    fast_df = vdf.select(_nested_double_literal(rows, lam).alias("s"))
    parsed = ",".join(_double_array_sql(r) for r in rows)
    slow_df = vdf.select(F.expr(f"transform(array({parsed}), {lam})").alias("s"))
    fast, slow = fast_df.first()["s"], slow_df.first()["s"]
    assert [_struct.pack("<d", x) for x in fast] == [
        _struct.pack("<d", x) for x in slow
    ]
    analyzed = fast_df._jdf.queryExecution().analyzed().toString()
    assert "array(" not in analyzed, analyzed


def test_near_dup_cells_block_size_invariant(emb):
    """The r19 block-GEMM scorer's results are ``block_size``-invariant
    — from the degenerate one-vector-per-block packing through
    whole-cell blocks — and every emitted cosine is bit-identical
    across packings (the cumsum fold's accumulation order per pair does
    not depend on how pairs are grouped into blocks). Mis-sizing the
    block dial must cost time, never correctness."""
    frames = [
        similarity.near_dup_pairs_cells(
            emb, "vec_id", "embedding",
            threshold=0.4, n_centroids=16, probes=4, block_size=bs,
        )
        .orderBy("vec_a", "vec_b")
        .collect()
        for bs in (1, 7, similarity.DEFAULT_PAIR_BLOCK, 100_000)
    ]
    ref = [(r["vec_a"], r["vec_b"], r["cos_sim"]) for r in frames[0]]
    assert ref, "fixture corpus must yield pairs"
    for other in frames[1:]:
        assert [(r["vec_a"], r["vec_b"], r["cos_sim"]) for r in other] == ref


def test_near_dup_cells_hot_cell_deskewed(spark):
    """r20 de-skew pin: (a) a pathologically hot cell (every vector in
    ONE cell: C=1, P=1) still yields exactly the brute-force pair set
    with bit-matching rounded cosines; (b) the pack-building window
    partitions by (input partition, cell) — not cell alone — so a hot
    cell is split across input partitions instead of funneling through
    one task's sort; (c) the pack aggregation reuses the window's
    exchange (no second full-payload shuffle between Window and the
    pack ObjectHashAggregate)."""
    import hashlib

    def hvec(seed, dim=8):
        return [
            (int(hashlib.md5(f"{seed}_{i}".encode()).hexdigest()[:8], 16) % 2000)
            / 1000.0
            - 1.0
            for i in range(dim)
        ]

    rows = [(i, hvec(f"hot{i}")) for i in range(60)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(8)
    got_df = similarity.near_dup_pairs_cells(
        emb, "vec_id", "embedding", threshold=0.3, n_centroids=1, probes=1,
        block_size=7,
    )
    got = {(r["vec_a"], r["vec_b"], r["cos_sim"]) for r in got_df.collect()}
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    a = emb.select(F.col("vec_id").alias("vec_a"), v.alias("va"))
    b = emb.select(F.col("vec_id").alias("vec_b"), v.alias("vb"))
    cos = _cosine("va", "vb")
    truth = {
        (r["vec_a"], r["vec_b"], r["cos_sim"])
        for r in a.join(b, F.col("vec_a") < F.col("vec_b"))
        .filter(cos >= 0.3)
        .select("vec_a", "vec_b", F.round(cos, 4).alias("cos_sim"))
        .collect()
    }
    # C=1/P=1 blocking prunes nothing: exact equality, not just recall.
    assert got == truth and got, (len(got), len(truth))
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(_pid" in plan, plan[:2000]
    # no Exchange between the Window and the pack aggregation
    import re

    seg = re.findall(r"ObjectHashAggregate.*?Window", plan, flags=re.S)
    assert seg and all("Exchange" not in s for s in seg), plan[:2000]


def test_connected_components_local_matches_distributed(spark):
    """The r19 hybrid finish (driver union-find under the frontier
    threshold) labels exactly like the distributed star-contraction —
    on a component mix that exercises chains, stars, and singletons
    joined out of order."""
    from streampro_assignment_etl_spark.operators.components import (
        connected_components,
    )

    edges = (
        [(i, i + 1) for i in range(30)]                 # long chain
        + [(100, 100 + i) for i in range(1, 8)]         # star
        + [(205, 203), (201, 205), (203, 207)]          # out-of-order merges
        + [(300, 301)]
    )
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    local = {
        (r["node"], r["component"])
        for r in connected_components(df, "doc_a", "doc_b").collect()
    }
    dist = {
        (r["node"], r["component"])
        for r in connected_components(
            df, "doc_a", "doc_b", local_threshold=0
        ).collect()
    }
    assert local == dist
    assert (201, 201) in local and (207, 201) in local


def test_connected_components_reliable_checkpoint_switch(spark, tmp_path, monkeypatch):
    """SPARK_CHECKPOINT_DIR selects reliable checkpoint() (files land in
    the dir and survive executor loss); unset falls back to
    localCheckpoint with no files written. Results identical."""
    from streampro_assignment_etl_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["a", "b"])
    ckpt = tmp_path / "cc_ckpt"
    monkeypatch.setenv("SPARK_CHECKPOINT_DIR", str(ckpt))
    got = {
        (r["node"], r["component"])
        for r in connected_components(edges, "a", "b").collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    assert any(ckpt.rglob("*")), "reliable checkpoint must write files"

    monkeypatch.delenv("SPARK_CHECKPOINT_DIR")
    got2 = {
        (r["node"], r["component"])
        for r in connected_components(edges, "a", "b").collect()
    }
    assert got2 == got

def test_kmeans_centroids_recover_clusters(spark):
    """On clustered data, sample-trained spherical k-means centroids
    beat id-seeding: every planted cluster gets its own centroid, so
    1-probe assignment groups each cluster into one cell and ANN
    recall@1 for planted twins is perfect at P=1 (id-seeding at P=1
    splits clusters across arbitrary low-id cells)."""
    import hashlib

    def hvec(seed, dim=16):
        return [
            (int(hashlib.md5(f"{seed}_{i}".encode()).hexdigest()[:8], 16) % 2000)
            / 1000.0
            - 1.0
            for i in range(dim)
        ]

    # 4 well-separated cluster centers, 30 jittered members each.
    rows = []
    vid = 0
    for c in range(4):
        base = hvec(f"cluster{c}")
        for m in range(30):
            member = [x + 0.02 * ((c + m + i) % 5 - 2) for i, x in enumerate(base)]
            rows.append((vid, member))
            vid += 1
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    cents = similarity.kmeans_centroids(
        emb, "vec_id", "embedding", n=4, sample_pct=100, iters=10
    )
    assert len(cents) == 4
    cells = similarity.assign_cells(emb, cents, "vec_id", "embedding")
    got = {r["vec_id"]: r["cell"] for r in cells.collect()}
    # Each planted cluster maps to exactly one cell, and distinct
    # clusters map to distinct cells.
    cluster_cells = [{got[c * 30 + m] for m in range(30)} for c in range(4)]
    assert all(len(s) == 1 for s in cluster_cells), cluster_cells
    assert len(set().union(*cluster_cells)) == 4

    # Deterministic: retraining yields identical centroids.
    again = similarity.kmeans_centroids(
        emb, "vec_id", "embedding", n=4, sample_pct=100, iters=10
    )
    assert again == cents

    with pytest.raises(ValueError):
        similarity.kmeans_centroids(emb, "vec_id", "embedding", n=4, sample_pct=1)


def test_zero_norm_embeddings_excluded_not_fatal(spark):
    """A failed embed job emits all-zero, NaN-poisoned, or overflowing
    vectors; cosine is undefined for all of them. ANSI mode turns the
    zero-norm division into a job-killing error, and a NaN norm passes
    a naive ``> 0`` filter (Spark orders NaN above every numeric), then
    ranks FIRST in every desc top-k. Every ANN path must EXCLUDE such
    rows (corpus and query side), not crash or mis-rank — one garbage
    row must never fail or corrupt a 100 TB job."""
    import hashlib

    def hvec(seed, dim=8):
        return [
            (int(hashlib.md5(f"{seed}_{i}".encode()).hexdigest()[:8], 16) % 2000)
            / 1000.0
            - 1.0
            for i in range(dim)
        ]

    bad = [
        (99, [0.0] * 8),  # zero norm: ANSI DIVIDE_BY_ZERO
        (100, [1e-308] * 8),  # subnormal: norm underflows to 0
        (101, [float("nan")] + [1.0] * 7),  # NaN norm: passes > 0, ranks first
        (102, [1e200] * 8),  # overflow: inf norm
    ]
    BAD = {99, 100, 101, 102}
    rows = [(i, hvec(i)) for i in range(20)] + bad
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = emb.filter("vec_id in (3, 99, 101)")

    got = similarity.ann_topk(emb, queries, k=3, n_centroids=4, probes=2).collect()
    ids = {r["query_id"] for r in got}
    neigh = {r["neighbor_id"] for r in got}
    assert 3 in ids and not (BAD & ids)  # bad-norm queries dropped
    assert not (BAD & neigh)  # bad-norm corpus rows dropped

    got_lsh = similarity.lsh_topk(emb, queries, k=3, dim=8).collect()
    assert {r["query_id"] for r in got_lsh} <= {3}
    assert not (BAD & {r["neighbor_id"] for r in got_lsh})

    got_vec = similarity.cosine_topk_vectorized(emb, queries, k=3).collect()
    assert {r["query_id"] for r in got_vec} == {3}
    assert not (BAD & {r["neighbor_id"] for r in got_vec})

    pairs = similarity.near_dup_pairs_cells(
        emb, threshold=0.4, n_centroids=4, probes=2
    ).collect()
    flat = {x for r in pairs for x in (r["vec_a"], r["vec_b"])}
    assert not (BAD & flat)


def test_kmeans_centroids_driver_sample_hard_cap(spark):
    """The driver-collect is bounded by max_sample_rows no matter the
    corpus size, and the capped slice is the HASH-ordered (unbiased)
    prefix, not the lowest ids: training on a corpus far larger than
    the cap equals training on exactly the 200 lowest-hash ids alone —
    so a 100 TB corpus can never OOM the driver through this path, and
    a time-ordered corpus doesn't train only on its oldest rows."""
    import hashlib

    from pyspark.sql import functions as F

    from streampro_assignment_etl_spark.operators.simhash import token_hash60

    def hvec(seed, dim=8):
        return [
            (int(hashlib.md5(f"{seed}_{i}".encode()).hexdigest()[:8], 16) % 2000)
            / 1000.0
            - 1.0
            for i in range(dim)
        ]

    rows = [(i, hvec(i)) for i in range(2000)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    capped = similarity.kmeans_centroids(
        emb, "vec_id", "embedding", n=3, sample_pct=100, iters=3, max_sample_rows=200
    )
    slice_ids = [
        r["vec_id"]
        for r in emb.orderBy(
            token_hash60(F.col("vec_id").cast("string")), "vec_id"
        )
        .limit(200)
        .collect()
    ]
    # Unbiased: the hash-ordered slice is not the id-ordered head.
    assert sorted(slice_ids) != list(range(200))
    slice_only = similarity.kmeans_centroids(
        emb.filter(F.col("vec_id").isin(slice_ids)),
        "vec_id",
        "embedding",
        n=3,
        sample_pct=100,
        iters=3,
    )
    assert capped == slice_only

def test_asof_forward_edges(spark):
    """Forward as-of: exact-ts right row matches (inclusive), otherwise
    the earliest later row; no later row -> NULL match."""
    from datetime import datetime as dt

    from streampro_assignment_etl_spark.operators.asof import asof_join_forward

    L = spark.createDataFrame(
        [
            (1, dt(2024, 1, 1, 10, 0, 0), "exact"),
            (1, dt(2024, 1, 1, 11, 30, 0), "between"),
            (1, dt(2024, 1, 1, 23, 0, 0), "after_all"),
            (2, dt(2024, 1, 1, 9, 0, 0), "other_key"),
        ],
        ["k", "ts", "label"],
    )
    R = spark.createDataFrame(
        [
            (1, dt(2024, 1, 1, 10, 0, 0), 100.0),
            (1, dt(2024, 1, 1, 12, 0, 0), 200.0),
            (2, dt(2024, 1, 1, 9, 30, 0), 300.0),
        ],
        ["k", "ts", "v"],
    )
    got = {
        r["label"]: r["v"]
        for r in asof_join_forward(L, R, "k", "ts", ["v"]).collect()
    }
    assert got == {
        "exact": 100.0,       # inclusive at equal ts
        "between": 200.0,     # earliest later row
        "after_all": None,    # nothing later
        "other_key": 300.0,   # per-key isolation
    }


def test_containment_catches_subdocument_jaccard_misses(spark):
    """The asymmetric operator's reason to exist: a short doc fully
    quoted inside a much longer one has containment 1.0 but Jaccard
    well under the 0.8 fuzzy threshold — fuzzy_dup_pairs misses it,
    the rare-shingle-blocked containment query finds it."""
    from streampro_assignment_etl_spark.queries.dedup_ann import (
        dedup_containment_rare_shingle,
    )
    from streampro_assignment_etl_spark.queries import release_persisted

    short = "quick zephyr vexes jumbled gnomes daily"
    filler = " ".join(f"w{i} common filler token" for i in range(20))
    rows = [
        (0, short),
        (1, f"{filler} {short} {filler}"),  # contains doc 0 verbatim
        (2, "totally unrelated prose about mundane things entirely"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    import streampro_assignment_etl_spark.queries.dedup_ann as da

    # Route load_table to the in-memory corpus for this call.
    orig = da.load_table
    da.load_table = lambda s, sf, name: df
    try:
        got = {(r["doc_a"], r["doc_b"]): r for r in
               dedup_containment_rare_shingle(spark, "unused").collect()}
    finally:
        da.load_table = orig
    assert (0, 1) in got
    assert got[(0, 1)]["containment"] == 1.0
    assert got[(0, 1)]["jaccard"] < 0.8  # symmetric threshold would miss it

    from streampro_assignment_etl_spark.operators import minhash as mh

    fuzzy = mh.fuzzy_dup_pairs(df, "doc_id", "text", threshold=0.8).collect()
    release_persisted()
    assert not any({r["doc_a"], r["doc_b"]} == {0, 1} for r in fuzzy)


# -- PQ / ADC ANN -----------------------------------------------------------
def test_pq_rerank_recall_and_duplicate_optimality(emb, spark):
    """Three pins for the PQ family:
    1. A planted exact duplicate of a query achieves the GLOBAL minimum
       ADC distance (its codes equal the query's argmin codes, and the
       self-distance is the sum of per-subspace minima), so it ranks 1.
    2. ADC-only recall@5 vs exact L2 is the crude-codebook floor
       (isotropic corpus, 16 id-seeded codewords) — assert the
       measured band so a silent arithmetic break is visible.
    3. The +rerank path recovers >= 0.8 recall@5 at shortlist=100
       (5% of this worst-case isotropic corpus; clustered real corpora
       need far less).
    """
    from pyspark.sql.window import Window

    from streampro_assignment_etl_spark.operators import similarity

    queries = emb.filter(F.col("vec_id") < 5)

    # 1: plant a duplicate of query 0 under a fresh id.
    dup = queries.filter(F.col("vec_id") == 0).select(
        F.lit(990001).cast("long").alias("vec_id"), "embedding", "label"
    )
    planted = emb.unionByName(dup)
    pq = similarity.pq_topk(planted, queries.filter(F.col("vec_id") == 0), k=1)
    top = pq.collect()[0]
    assert top["neighbor_id"] == 990001 and top["rank"] == 1

    # exact-L2 truth for 2 and 3
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    q = queries.select(F.col("vec_id").alias("qid"), v.alias("qv"))
    c = emb.select(F.col("vec_id").alias("nid"), v.alias("cv"))
    l2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("qid").orderBy(F.asc("s"), F.asc("nid"))
    truth = {
        (r["qid"], r["nid"])
        for r in F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", l2.alias("s"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .collect()
    }

    adc = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.pq_topk(emb, queries, k=5).collect()
    }
    adc_recall = len(adc & truth) / len(truth)
    assert 0.1 <= adc_recall < 0.8, f"ADC-only recall@5={adc_recall}"

    rr = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.pq_topk_rerank(emb, queries, k=5, shortlist=100).collect()
    }
    rr_recall = len(rr & truth) / len(truth)
    assert rr_recall >= 0.8, f"reranked recall@5={rr_recall}"
    assert rr_recall > adc_recall


def test_pq_topk_empty_queries_and_large_magnitude_overflow(emb, spark):
    """Review pins: (1) an empty query set returns an empty typed frame
    (F.array() of zero structs is VOID and used to break the explode);
    (2) unnormalized large-magnitude vectors don't overflow the ADC sum
    (int32 literals used to wrap/crash past 2^31 under ANSI)."""
    from streampro_assignment_etl_spark.operators import similarity

    none = similarity.pq_topk(emb, emb.filter(F.col("vec_id") < 0), k=5)
    assert none.count() == 0
    assert [f.name for f in none.schema.fields] == [
        "query_id", "neighbor_id", "rank", "adc_dist",
    ]

    big = spark.createDataFrame(
        [(i, [float(1000 + i)] * 64) for i in range(20)]
        + [(100, [5000.0] * 64)],  # distant query → ADC dist ≈ 4000²·64·10⁶
        "vec_id long, embedding array<float>",
    )
    out = similarity.pq_topk(big, big.filter(F.col("vec_id") == 100), k=3)
    rows = out.collect()
    assert len(rows) == 3
    assert all(r["adc_dist"] >= 0 for r in rows)  # wrapped int32 would go negative
    assert min(r["adc_dist"] for r in rows) > 2**31  # genuinely exercises long range


def test_ivfpq_recall_vs_brute_force(emb, spark):
    """The full composed pipeline (cell probing × ADC shortlist × exact
    rerank) recovers recall@5 >= 0.8 vs exact L2 on the isotropic
    worst-case corpus (measured 0.92 at C=16/P=4/shortlist=100)."""
    from pyspark.sql.window import Window

    from streampro_assignment_etl_spark.operators import similarity

    queries = emb.filter(F.col("vec_id") < 5)
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivfpq_topk(emb, queries).collect()
    }
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    q = queries.select(F.col("vec_id").alias("qid"), v.alias("qv"))
    c = emb.select(F.col("vec_id").alias("nid"), v.alias("cv"))
    l2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("qid").orderBy(F.asc("s"), F.asc("nid"))
    truth = {
        (r["qid"], r["nid"])
        for r in F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", l2.alias("s"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.8, f"ivfpq recall@5={recall}"


def test_pq_codebooks_skip_poison_seed_rows(spark):
    """A NaN/inf component in one of the lowest-id vectors must not
    poison the codebooks (floor(nan) in _lut_int used to kill every PQ
    query batch): the seed cut happens AFTER the finiteness filter, so
    the poison row is skipped and the next finite id takes its slot."""
    from streampro_assignment_etl_spark.operators import similarity

    rows = [(i, [float(i + j) for j in range(8)]) for i in range(20)]
    rows[3] = (3, [float("nan")] * 8)
    rows[7] = (7, [1.0, float("inf")] + [0.0] * 6)
    bad = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    cbs = similarity.pq_codebooks(bad, "vec_id", "embedding", m=4, n_codes=16)
    seed_ids = [code for code, _ in cbs[0]]
    assert 3 not in seed_ids and 7 not in seed_ids
    assert seed_ids == [i for i in range(18) if i not in (3, 7)]

    # End-to-end: the query batch survives (poison corpus rows are
    # encoded but a finite query scores normally).
    out = similarity.pq_topk(bad, bad.filter(F.col("vec_id") == 0), k=3)
    assert out.count() == 3


def _clustered_emb(spark, dim=16, n_clusters=4, members=30):
    """The kmeans fixture generator (same construction as
    test_kmeans_centroids_recover_clusters): well-separated cluster
    centers, deterministic jitter, ids grouped by cluster — so the 16
    lowest ids all live in cluster 0 and id-seeded codebooks quantize
    the other clusters badly."""
    import hashlib

    def hvec(seed):
        return [
            (int(hashlib.md5(f"{seed}_{i}".encode()).hexdigest()[:8], 16) % 2000)
            / 1000.0
            - 1.0
            for i in range(dim)
        ]

    rows, vid = [], 0
    for c in range(n_clusters):
        base = hvec(f"cluster{c}")
        for m in range(members):
            member = [x + 0.02 * ((c + m + i) % 5 - 2) for i, x in enumerate(base)]
            rows.append((vid, member))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_pq_kmeans_codebooks_beat_id_seeding(spark):
    """Trained per-subspace codebooks (pq_codebooks_kmeans) reach ADC
    recall@5 at least as high as the id-seeded oracle anchor on the
    clustered fixture — where the 16 lowest ids all come from ONE
    cluster, so id-seeded codewords can't represent the others. Both
    books flow through the same codebooks= hook; determinism pinned by
    retraining."""
    from pyspark.sql.window import Window

    from streampro_assignment_etl_spark.operators import similarity

    emb = _clustered_emb(spark)
    queries = emb.filter(F.col("vec_id").isin([0, 35, 70, 105]))  # one per cluster

    v = F.col("embedding")
    q = queries.select(F.col("vec_id").alias("qid"), v.alias("qv"))
    c = emb.select(F.col("vec_id").alias("nid"), v.alias("cv"))
    l2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("qid").orderBy(F.asc("s"), F.asc("nid"))
    truth = {
        (r["qid"], r["nid"])
        for r in F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", l2.alias("s"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .collect()
    }

    def recall(cbs):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.pq_topk(emb, queries, k=5, codebooks=cbs).collect()
        }
        return len(got & truth) / len(truth)

    seeded = recall(similarity.pq_codebooks(emb, "vec_id", "embedding", m=4))
    trained_books = similarity.pq_codebooks_kmeans(
        emb, "vec_id", "embedding", m=4, sample_pct=100, iters=10
    )
    trained = recall(trained_books)
    assert trained >= seeded, (trained, seeded)
    assert trained >= 0.8, trained  # codewords at density modes → near-exact

    again = similarity.pq_codebooks_kmeans(
        emb, "vec_id", "embedding", m=4, sample_pct=100, iters=10
    )
    assert again == trained_books  # fully deterministic training


# -- Persisted IVF-PQ index (operators/ann_index.py) ------------------------
def test_ivfpq_index_bit_equal_and_pruned(emb, spark, tmp_path):
    """The persisted index answers bit-identically to the composed
    in-memory path (shared ADC/rerank code + exact model round-trip),
    and the query-side scan statically prunes to the probed cell
    partitions."""
    from streampro_assignment_etl_spark.operators import ann_index

    path = str(tmp_path / "idx")
    built = ann_index.build_ivfpq_index(
        emb, path, n_centroids=16, m=4, n_codes=16
    )
    loaded = ann_index.load_ivfpq_model(spark, path)
    assert loaded == built  # floats bit-equal through the JSON artifact

    queries = emb.filter(F.col("vec_id") < 5)
    composed = similarity.ivfpq_topk(
        emb, queries, k=5, n_centroids=16, probes=4, m=4, n_codes=16,
        shortlist=100,
    ).collect()
    served = ann_index.ivfpq_topk_over_index(
        emb, queries, path, k=5, probes=4, shortlist=100
    )
    assert served.collect() == composed

    # Serve-many: a second query batch reuses the same index files.
    one = emb.filter(F.col("vec_id") == 7)
    again = ann_index.ivfpq_topk_over_index(
        emb, one, path, k=3, probes=2, shortlist=50
    )
    assert len(again.collect()) == 3

    # Plan pin: the encoded-corpus scan carries a LITERAL partition
    # filter on cell (static pruning at the file listing, not DPP).
    plan = again._jdf.queryExecution().executedPlan().toString()
    enc_scan = next(
        ln for ln in plan.splitlines()
        # (the Location string may truncate the tmp path, so match the
        # filter itself — only the encoded scan has a cell partition)
        if "FileScan" in ln and "PartitionFilters: [cast(cell" in ln
    )
    import re

    in_list = re.search(r"IN \(([-0-9,]+)\)", enc_scan).group(1)
    # one query x probes=2 -> exactly 2 cells survive the listing
    assert len(in_list.split(",")) == 2, enc_scan


def test_ivfpq_index_version_guard_and_empty_queries(emb, spark, tmp_path):
    """A model artifact from another version fails loudly; an
    empty/all-poison query batch returns the typed empty frame."""
    import json

    from streampro_assignment_etl_spark.operators import ann_index

    path = str(tmp_path / "idx")
    ann_index.build_ivfpq_index(emb, path)

    none = emb.filter(F.col("vec_id") < 0)
    out = ann_index.ivfpq_topk_over_index(emb, none, path)
    assert out.columns == ["query_id", "neighbor_id", "rank", "l2sq_micro"]
    assert out.count() == 0

    # Corrupt by committing a HIGHER-epoch manifest file with a foreign
    # version: readers pick the latest committed artifact, so the guard
    # must fire on it.
    import glob as _glob
    import os as _os

    latest = sorted(_glob.glob(f"{path}/{ann_index.MODEL_PREFIX}*.json"))[-1]
    with open(latest) as f:
        doc = json.loads(f.read())
    doc["version"] = 999
    poison = f"{path}/{ann_index.MODEL_PREFIX}999999999999-poison.json"
    with open(poison, "w") as f:
        f.write(json.dumps(doc))
    with pytest.raises(ValueError, match="version"):
        ann_index.load_ivfpq_model(spark, path)
    _os.remove(poison)
    # A crashed commit's STAGING file (never renamed) is invisible to
    # readers — the rename IS the commit.
    with open(f"{path}/.tmp-crashed", "w") as f:
        f.write("{not even json")
    assert ann_index.load_ivfpq_model(spark, path).m == 4


def test_ivfpq_index_geometry_from_codebooks_and_snapshot_rebuild(
    emb, spark, tmp_path
):
    """Review findings (round 10): (a) a caller-supplied codebook's
    geometry WINS over the m/n_codes defaults — an m=8 trained book
    passed without m=8 must not persist a truncated 4-subspace index;
    (b) a rebuild writes a FRESH encoded-<token> snapshot and commits
    it via the manifest pointer, leaving the previous snapshot intact —
    a crash between the two writes can only ever lose the NEW build."""
    import os

    from streampro_assignment_etl_spark.operators import ann_index

    path = str(tmp_path / "idx")
    books8 = similarity.pq_codebooks(emb, "vec_id", "embedding", m=8, n_codes=8)
    built = ann_index.build_ivfpq_index(emb, path, codebooks=books8)  # no m=
    assert (built.m, built.n_codes) == (8, 8)
    loaded = ann_index.load_ivfpq_model(spark, path)
    assert (loaded.m, loaded.n_codes) == (8, 8)
    enc = spark.read.parquet(f"{path}/{loaded.encoded_dir}")
    assert sorted(c for c in enc.columns if c.startswith("_code")) == [
        f"_code{j}" for j in range(8)
    ]
    q = emb.filter(F.col("vec_id") == 3)
    assert len(
        ann_index.ivfpq_topk_over_index(emb, q, path, k=3).collect()
    ) == 3  # serving runs end to end on the derived geometry

    rebuilt = ann_index.build_ivfpq_index(emb, path)  # default m=4 book
    assert rebuilt.encoded_dir != built.encoded_dir
    reloaded = ann_index.load_ivfpq_model(spark, path)
    assert reloaded.encoded_dir == rebuilt.encoded_dir
    assert (reloaded.m, reloaded.n_codes) == (4, 16)
    # The superseded snapshot is garbage, not gone: readers holding the
    # old manifest keep a consistent (codes, model) view.
    assert os.path.isdir(os.path.join(path, built.encoded_dir))


def test_ivfpq_index_incremental_append_bit_equal(emb, spark, tmp_path):
    """append_to_ivfpq_index encodes ONLY the new batch under the
    resident model, so serving over (build half-A, append half-B) must
    be bit-equal to a full build over A∪B under the SAME model — the
    daily-ingest contract: corpus-size-independent incremental cost
    with no result drift."""
    from streampro_assignment_etl_spark.operators import ann_index

    cents = similarity.collect_centroids(
        similarity.seed_centroids(emb, "vec_id", "embedding", 16)
    )
    cbs = similarity.pq_codebooks(emb, "vec_id", "embedding", m=4, n_codes=16)
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)

    inc = str(tmp_path / "inc")
    built = ann_index.build_ivfpq_index(half_a, inc, centroids=cents, codebooks=cbs)
    model = ann_index.append_to_ivfpq_index(half_b, inc)
    assert model.encoded_dir == built.encoded_dir  # grew in place

    full = str(tmp_path / "full")
    ann_index.build_ivfpq_index(emb, full, centroids=cents, codebooks=cbs)

    q = emb.filter(F.col("vec_id") < 5)
    got = ann_index.ivfpq_topk_over_index(
        emb, q, inc, k=5, probes=4, shortlist=100
    ).collect()
    want = ann_index.ivfpq_topk_over_index(
        emb, q, full, k=5, probes=4, shortlist=100
    ).collect()
    assert got == want
    assert (
        spark.read.parquet(f"{inc}/{model.encoded_dir}").count() == emb.count()
    )  # every appended row landed in the manifest's snapshot


def test_ivfpq_index_filtered_search_semi_join_broadcasts(emb, spark, tmp_path):
    """Filtered search: every returned neighbor satisfies the metadata
    predicate, k still fills from WITHIN the filtered set, and the
    eligible-id restriction is a broadcast LEFT-SEMI join on the
    candidate side (the id set is query-time small by contract; the
    big side — probed-cell codes — never shuffles for it)."""
    from streampro_assignment_etl_spark.operators import ann_index

    path = str(tmp_path / "idx")
    ann_index.build_ivfpq_index(emb, path)
    q = emb.filter(F.col("vec_id") < 5)
    allowed = emb.filter(F.col("label") == 3)
    out = ann_index.ivfpq_topk_over_index(emb, q, path, k=3, allowed=allowed)

    allowed_ids = {r["vec_id"] for r in allowed.select("vec_id").collect()}
    rows = out.collect()
    assert rows and all(r["neighbor_id"] in allowed_ids for r in rows)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert any(
        "BroadcastHashJoin" in ln and "LeftSemi" in ln for ln in plan.splitlines()
    ), plan


def test_ivfpq_index_compaction_one_file_per_cell(emb, spark, tmp_path):
    """compact_ivfpq_index rewrites the snapshot to ONE file per cell
    dir (append-heavy indexes accumulate one file per append per cell
    — the small-files scan tax), pointer-swaps the manifest, changes
    no results, and leaves the old snapshot for in-flight readers."""
    import glob
    import os

    from streampro_assignment_etl_spark.operators import ann_index

    def cell_files(p, d):
        # The snapshot is partitioned (ingest, cell): count files per
        # CELL across all ingest subtrees — that's what a probe scans.
        out: dict[str, int] = {}
        for f in glob.glob(os.path.join(p, d, "ingest=*", "cell=*", "*.parquet")):
            c = os.path.basename(os.path.dirname(f))
            out[c] = out.get(c, 0) + 1
        return out

    path = str(tmp_path / "idx")
    thirds = [emb.filter(F.col("vec_id") % 3 == r) for r in range(3)]
    before = ann_index.build_ivfpq_index(thirds[0], path)
    ann_index.append_to_ivfpq_index(thirds[1], path)
    ann_index.append_to_ivfpq_index(thirds[2], path)
    frag = cell_files(path, before.encoded_dir)
    assert max(frag.values()) >= 2  # appends fragmented at least one cell

    q = emb.filter(F.col("vec_id") < 5)
    want = ann_index.ivfpq_topk_over_index(emb, q, path, k=5).collect()

    compacted = ann_index.compact_ivfpq_index(spark, path)
    assert compacted.encoded_dir != before.encoded_dir
    tidy = cell_files(path, compacted.encoded_dir)
    assert set(tidy) == set(frag) and set(tidy.values()) == {1}
    assert ann_index.load_ivfpq_model(spark, path).encoded_dir == compacted.encoded_dir
    assert ann_index.ivfpq_topk_over_index(emb, q, path, k=5).collect() == want
    assert os.path.isdir(os.path.join(path, before.encoded_dir))  # old snapshot kept

    # Retention sweep: every snapshot/manifest dir the current manifest
    # epoch doesn't name goes (superseded snapshot + the manifests the
    # build/appends/compaction superseded); the live pair stays and
    # still serves the same results.
    gone = ann_index.expire_ivfpq_snapshots(spark, path)
    assert before.encoded_dir in gone
    assert not os.path.isdir(os.path.join(path, before.encoded_dir))
    assert os.path.isdir(os.path.join(path, compacted.encoded_dir))
    assert ann_index.ivfpq_topk_over_index(emb, q, path, k=5).collect() == want
    assert ann_index.expire_ivfpq_snapshots(spark, path) == []  # idempotent


def test_ivfpq_index_delete_takedown(emb, spark, tmp_path):
    """VERDICT r13 #1 (index half): delete_from_ivfpq_index removes ids
    by rewriting ONLY the partitions that contain them. Pins: (1) index
    content after delete is bit-equal to a fresh build over corpus∖ids
    under the SAME model; (2) serving never returns a deleted id; (3)
    an UNTOUCHED partition's files are byte-identical (surgical, not a
    rebuild); (4) re-running the same delete is a no-op without an
    epoch bump; (5) the retention sweep retires the tombstone once the
    rows are physically gone, and serving stays correct after."""
    import glob
    import hashlib
    import os

    from streampro_assignment_etl_spark.operators import ann_index, similarity

    cents = similarity.collect_centroids(
        similarity.seed_centroids(emb, "vec_id", "embedding", 8)
    )
    cbs = similarity.pq_codebooks(emb, "vec_id", "embedding", m=2, n_codes=8)
    path = str(tmp_path / "idx")
    built = ann_index.build_ivfpq_index(
        emb.filter(F.col("vec_id") % 2 == 0), path,
        centroids=cents, codebooks=cbs,
    )
    ann_index.append_to_ivfpq_index(
        emb.filter(F.col("vec_id") % 2 == 1), path, ingest_id="day1"
    )
    snap = os.path.join(path, built.encoded_dir)
    q = emb.filter(F.col("vec_id") < 3)
    before = ann_index.ivfpq_topk_over_index(emb, q, path, k=5).collect()
    doom = sorted({int(r["neighbor_id"]) for r in before})[:3]

    # md5 every file of a partition the doomed ids do NOT live in
    rows = spark.read.parquet(snap).select("neighbor_id", "ingest", "cell").collect()
    hot = {(r["ingest"], r["cell"]) for r in rows if int(r["neighbor_id"]) in doom}
    cold = next(
        (r["ingest"], r["cell"]) for r in rows
        if (r["ingest"], r["cell"]) not in hot
    )
    cold_dir = os.path.join(snap, f"ingest={cold[0]}", f"cell={cold[1]}")
    md5s = lambda d: {  # noqa: E731
        os.path.basename(f): hashlib.md5(open(f, "rb").read()).hexdigest()
        for f in glob.glob(os.path.join(d, "*.parquet"))
    }
    cold_before = md5s(cold_dir)

    out = ann_index.delete_from_ivfpq_index(spark, path, doom)
    assert out["deleted_rows"] == len(doom)
    assert out["partitions_rewritten"] == len(hot)
    assert md5s(cold_dir) == cold_before  # untouched partition: same bytes

    served = ann_index.ivfpq_topk_over_index(emb, q, path, k=5).collect()
    assert served and not {int(r["neighbor_id"]) for r in served} & set(doom)

    # bit-equal to a fresh build over corpus∖ids under the same model
    fresh = str(tmp_path / "fresh")
    fm = ann_index.build_ivfpq_index(
        emb.filter(~F.col("vec_id").isin(doom)), fresh,
        centroids=cents, codebooks=cbs,
    )
    content = lambda p, d: sorted(  # noqa: E731
        tuple(r)
        for r in spark.read.parquet(os.path.join(p, d))
        .drop("ingest").collect()
    )
    assert content(path, built.encoded_dir) == content(fresh, fm.encoded_dir)

    # re-run: idempotent no-op, no epoch bump
    epoch = ann_index.load_ivfpq_model(spark, path).epoch
    out2 = ann_index.delete_from_ivfpq_index(spark, path, doom)
    assert out2["deleted_rows"] == 0 and out2["epoch"] == epoch
    assert ann_index.load_ivfpq_model(spark, path).epoch == epoch

    # sweep retires the tombstones (rows physically gone), serving holds
    gone = ann_index.expire_ivfpq_snapshots(spark, path)
    assert out["tombstone"] in gone and out2["tombstone"] in gone
    assert ann_index.tombstoned_ids(path) == []
    after_sweep = ann_index.ivfpq_topk_over_index(emb, q, path, k=5).collect()
    assert after_sweep and not {int(r["neighbor_id"]) for r in after_sweep} & set(doom)


@pytest.mark.fast
def test_ivfpq_delete_crash_recovery_restores_stranded_partition(
    emb, spark, tmp_path
):
    """ADVICE r14 #1: a hard crash between delete_from_ivfpq_index's
    two swap renames strands a partition's NON-deleted rows in a hidden
    ``.del-old-*`` trash dir; before the recovery sweep a retry no-oped
    (the doomed ids were no longer visible) and the survivors were
    permanently lost. Pins: (1) recover_index_delete restores a trash
    dir whose live partition is missing and sweeps the orphan staging
    root; (2) the retried delete then converges to the fresh-build
    oracle over corpus∖ids; (3) a trash dir whose swap COMPLETED (live
    dir present) is dropped, live bytes untouched; (4) delete entry
    runs the recovery itself — no manual call needed."""
    import os
    import shutil

    from streampro_assignment_etl_spark.operators import ann_index, similarity

    cents = similarity.collect_centroids(
        similarity.seed_centroids(emb, "vec_id", "embedding", 8)
    )
    cbs = similarity.pq_codebooks(emb, "vec_id", "embedding", m=2, n_codes=8)
    path = str(tmp_path / "idx")
    built = ann_index.build_ivfpq_index(emb, path, centroids=cents, codebooks=cbs)
    snap = os.path.join(path, built.encoded_dir)
    all_rows = sorted(
        tuple(r) for r in spark.read.parquet(snap).drop("ingest").collect()
    )

    # victim partition and a doomed id inside it
    first = spark.read.parquet(snap).select("neighbor_id", "ingest", "cell").first()
    doom = int(first["neighbor_id"])
    part = f"ingest={first['ingest']}/cell={first['cell']}"
    live = os.path.join(snap, part)
    survivors_in_part = (
        spark.read.parquet(live).filter(f"neighbor_id != {doom}").count()
    )
    assert survivors_in_part > 0  # the rows the old code lost forever

    # fabricate the exact crash window: live dir moved to trash, staged
    # survivors written, second rename never happened
    trash = os.path.join(snap, f".del-old-deadbeefdead-{part.replace('/', '~')}")
    os.rename(live, trash)
    stage_root = os.path.join(snap, ".del-deadbeefdead")
    os.makedirs(stage_root)
    with open(os.path.join(stage_root, "leftover"), "w") as f:
        f.write("staging debris")

    out = ann_index.recover_index_delete(path)
    assert out["restored"] == [part]
    assert out["staging_swept"] == [".del-deadbeefdead"]
    assert os.path.isdir(live) and not os.path.exists(trash)
    assert not os.path.exists(stage_root)
    assert (
        sorted(tuple(r) for r in spark.read.parquet(snap).drop("ingest").collect())
        == all_rows
    )

    # the retried delete now converges to the fresh-build oracle
    ann_index.delete_from_ivfpq_index(spark, path, [doom])
    fresh = str(tmp_path / "fresh")
    fm = ann_index.build_ivfpq_index(
        emb.filter(F.col("vec_id") != doom), fresh,
        centroids=cents, codebooks=cbs,
    )
    content = lambda p, d: sorted(  # noqa: E731
        tuple(r)
        for r in spark.read.parquet(os.path.join(p, d)).drop("ingest").collect()
    )
    assert content(path, built.encoded_dir) == content(fresh, fm.encoded_dir)

    # crashed AFTER the swap (live dir present): trash is dropped, live
    # bytes untouched; and delete entry itself performs the recovery
    rows2 = spark.read.parquet(snap).select("neighbor_id", "ingest", "cell").collect()
    nxt = next(r for r in rows2)
    part2 = f"ingest={nxt['ingest']}/cell={nxt['cell']}"
    live2 = os.path.join(snap, part2)
    trash2 = os.path.join(snap, f".del-old-feedfacefeed-{part2.replace('/', '~')}")
    shutil.copytree(live2, trash2)
    doom2 = int(nxt["neighbor_id"])
    state_before = content(path, built.encoded_dir)
    ann_index.delete_from_ivfpq_index(spark, path, [doom2])  # entry recovers
    assert not os.path.exists(trash2)
    assert sorted(
        t for t in state_before if int(t[0]) != doom2
    ) == content(path, built.encoded_dir)

    # foreign dot-dirs sharing the prefix (ADVICE r15 #4): a hand-made
    # `.del-old-x` has no 12-hex token — recovery must SKIP it (neither
    # IndexError-abort nor restore-as-ours), and the catch-all sweep
    # must not destroy a `.del-*` dir that isn't a minted staging root
    foreign_old = os.path.join(snap, ".del-old-x")
    foreign_stage = os.path.join(snap, ".del-notatoken")
    os.makedirs(foreign_old)
    os.makedirs(foreign_stage)
    out_f = ann_index.recover_index_delete(path)
    assert out_f == {"restored": [], "dropped": [], "staging_swept": []}
    assert os.path.isdir(foreign_old) and os.path.isdir(foreign_stage)
    shutil.rmtree(foreign_old)
    shutil.rmtree(foreign_stage)


def test_semantic_expand_ids_drops_unusable_vectors(spark):
    """A corpus vector with a NaN component or an all-zero vector has no
    cosine. Under Spark's NaN ordering a NaN cosine passes
    ``>= threshold`` (the poison row would be erased from every
    surface), and under ANSI mode one zero vector anywhere in the
    corpus fails the whole expansion with DIVIDE_BY_ZERO. Both are
    dropped on both sides; a seed with an unusable vector still comes
    back, like a seed that is absent from the corpus."""
    from streampro_assignment_etl_spark.operators.takedown import semantic_expand_ids

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.99, 0.1]),  # near-copy of 1
        (3, [0.0, 1.0]),
        (4, [float("nan"), 1.0]),
    ]
    schema = "vec_id long, embedding array<double>"
    emb = spark.createDataFrame(rows, schema)
    assert semantic_expand_ids(emb, [1], threshold=0.9) == [1, 2]

    with_zero = spark.createDataFrame(rows + [(5, [0.0, 0.0])], schema)
    assert semantic_expand_ids(with_zero, [1], threshold=0.9) == [1, 2]
    assert semantic_expand_ids(with_zero, [1, 4, 5], threshold=0.9) == [1, 2, 4, 5]


@pytest.mark.fast
@pytest.mark.slow
def test_cascade_takedown_all_surfaces(emb, spark, tmp_path):
    """operators/takedown.py: one request clears every surface. The
    semantic expansion finds the planted near-copy (cosine ≈ 1) and
    nothing else; the cascade then removes the expanded set from the
    ANN index, the fuzzy store, and a lake table — each verified by
    its own read path — and the CLI drives the same composition."""
    import json

    from streampro_assignment_etl_spark.operators import ann_index
    from streampro_assignment_etl_spark.operators.takedown import (
        cascade_takedown,
        semantic_expand_ids,
    )
    from streampro_assignment_etl_spark.pipeline.cli import main
    from streampro_assignment_etl_spark.streaming import (
        fuzzy_store_ingest as fsi,
    )

    # corpus with a planted near-copy of vec 0 under id 900001
    seed_vec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    near = [x * 1.0000001 for x in seed_vec]
    emb2 = emb.unionByName(
        spark.createDataFrame([(900001, near, 0)], emb.schema)
    )
    expanded = semantic_expand_ids(emb2, [0], threshold=0.999)
    assert 0 in expanded and 900001 in expanded
    assert len(expanded) < 5  # no broad-corpus false sweep
    # fat-finger guard: a typo'd-low threshold must refuse before
    # collecting a corpus-scale id list
    with pytest.raises(ValueError, match="max_expansion"):
        semantic_expand_ids(emb2, [0], threshold=-1.0, max_expansion=50)

    # three surfaces holding the doomed ids
    idx = str(tmp_path / "idx")
    ann_index.build_ivfpq_index(emb2, idx)
    store = str(tmp_path / "store")
    docs = spark.createDataFrame(
        [(0, "w0 " + _long_text(0)), (900001, "w1 " + _long_text(1)),
         (7, "w7 " + _long_text(7))],
        "doc_id long, text string",
    )
    writer = fsi.make_fuzzy_ingest_writer(store, threshold=0.95)
    writer(docs, 0)
    tbl = str(tmp_path / "tbl")
    docs.write.parquet(tbl)

    out = cascade_takedown(
        spark, expanded, index_path=idx, store_path=store,
        tables=((tbl, "doc_id"),),
    )
    assert out["index"]["deleted_rows"] == len(expanded)
    assert out["store"]["removed_docs"] == 2  # 0 and 900001 were stored
    assert out["tables"][tbl]["rows_deleted"] == 2
    snap = ann_index.load_ivfpq_model(spark, idx).encoded_dir
    left = {
        int(r["neighbor_id"])
        for r in spark.read.parquet(f"{idx}/{snap}").select("neighbor_id").collect()
    }
    assert not left & set(expanded)
    assert {r["doc_id"] for r in fsi.read_store_docs(spark, store).collect()} == {7}
    assert {r["doc_id"] for r in spark.read.parquet(tbl).collect()} == {7}

    # erasure evidence: every surface reads back clean, and the store
    # tombstone is reported as the standing guard
    from streampro_assignment_etl_spark.operators.takedown import (
        verify_takedown,
    )

    ev = verify_takedown(
        spark, expanded, index_path=idx, store_path=store,
        tables=((tbl, "doc_id"),),
    )
    assert ev["clean"] is True
    assert ev["index"]["servable_rows"] == 0
    assert ev["store"]["doc_rows"] == 0 and ev["store"]["band_rows"] == 0
    assert ev["store"]["tombstone_guarded"] == [0, 900001]
    assert ev["tables"][tbl] == 0
    # negative control: an id never taken down reads back dirty
    dirty = verify_takedown(spark, [7], store_path=store, tables=((tbl, "doc_id"),))
    assert dirty["clean"] is False and dirty["tables"][tbl] == 1

    # CLI face: rerun over the already-clean surfaces is idempotent
    rc = main([
        "takedown", "--ids", ",".join(str(i) for i in expanded),
        "--index", idx, "--store", store, "--table", f"{tbl}:doc_id",
    ])
    assert rc == 0
    rc = main([
        "takedown", "--verify-only",
        "--ids", ",".join(str(i) for i in expanded),
        "--index", idx, "--store", store, "--table", f"{tbl}:doc_id",
    ])
    assert rc == 0
    assert main(["takedown", "--ids", "1"]) == 2  # no surface given


def test_takedown_string_keys_and_physical_evidence(spark, tmp_path):
    """VERDICT r14 #3 + ADVICE r14 #3: (a) the cascade erases
    STRING-keyed subjects (user_id, the reference's own key shape) from
    lake tables — ids travel as typed Column.isin literals, so an
    injection-shaped id is just a string that matches nothing; (b)
    string ids against the int-keyed index/store surfaces fail loudly;
    (c) verify_takedown reports store PHYSICAL residue separately from
    servable residue — a tombstone that landed without its physical
    rewrite (the epoch-fence-abort state) reads clean=True but
    physical_clean=False instead of overstating erasure."""
    import json
    import os

    from streampro_assignment_etl_spark.operators.takedown import (
        cascade_takedown,
        verify_takedown,
    )
    from streampro_assignment_etl_spark.streaming import (
        fuzzy_store_ingest as fsi,
    )

    users = spark.createDataFrame(
        [(f"user_{i}", f"u{i}@x.io", i * 10) for i in range(20)],
        "user_id string, email string, score long",
    )
    tbl = str(tmp_path / "users")
    users.repartition(4, "user_id").write.parquet(tbl)

    out = cascade_takedown(
        spark, ["user_7", "user_13"], tables=((tbl, "user_id"),)
    )
    assert out["tables"][tbl]["rows_deleted"] == 2
    left = {r["user_id"] for r in spark.read.parquet(tbl).collect()}
    assert left == {f"user_{i}" for i in range(20)} - {"user_7", "user_13"}

    # injection-shaped id: a literal that matches nothing, table intact
    evil = "x') OR 1=1 --"
    out2 = cascade_takedown(spark, [evil], tables=((tbl, "user_id"),))
    assert out2["tables"][tbl]["rows_deleted"] == 0
    assert spark.read.parquet(tbl).count() == 18
    ev = verify_takedown(spark, ["user_7", evil], tables=((tbl, "user_id"),))
    assert ev["clean"] is True and ev["physical_clean"] is True

    # string ids cannot reach the int-keyed index/store surfaces
    with pytest.raises(ValueError, match="integer vec/doc ids"):
        cascade_takedown(spark, ["user_7"], index_path=str(tmp_path / "idx"))
    with pytest.raises(ValueError, match="integer vec/doc ids"):
        verify_takedown(spark, ["user_7"], store_path=str(tmp_path / "st"))

    # physical vs servable: tombstone landed, physical rewrite did NOT
    # (fence-abort state) — servable counts are 0, physical counts not
    store = str(tmp_path / "fstore")
    writer = fsi.make_fuzzy_ingest_writer(store, threshold=0.95)
    writer(
        spark.createDataFrame(
            [(1, _long_text(1)), (2, _long_text(2))],
            "doc_id long, text string",
        ),
        0,
    )
    with open(os.path.join(store, "tombstone-feedbeef0000.json"), "w") as f:
        json.dump({"ids": [1]}, f)
    ev2 = verify_takedown(spark, [1], store_path=store)
    assert ev2["store"]["doc_rows"] == 0  # reads exclude the tombstone
    assert ev2["store"]["physical_doc_rows"] == 1  # ...but bytes remain
    assert ev2["store"]["physical_band_rows"] > 0
    assert ev2["clean"] is True and ev2["physical_clean"] is False
    # after the physical removal both evidence levels read clean
    fsi.remove_docs(spark, store, [1])
    ev3 = verify_takedown(spark, [1], store_path=store)
    assert ev3["store"]["physical_doc_rows"] == 0
    assert ev3["clean"] is True and ev3["physical_clean"] is True


def _long_text(seed: int) -> str:
    return " ".join(f"t{seed}w{i}" for i in range(12))


def test_ivfpq_index_rebuild_and_append_honor_tombstones(emb, spark, tmp_path):
    """Standing takedowns survive the index lifecycle: after a delete,
    (a) an APPEND whose batch contains the tombstoned id silently
    excludes it, and (b) a REBUILD over a corpus that still contains
    it excludes it before encoding — so the retention sweep can retire
    the tombstone against the rebuilt snapshot, and a retrain can
    never resurrect a deleted vector."""
    import os

    from streampro_assignment_etl_spark.operators import ann_index

    path = str(tmp_path / "idx")
    ann_index.build_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 0), path)
    victim = int(
        emb.filter(F.col("vec_id") % 2 == 0).select("vec_id").first()["vec_id"]
    )
    ann_index.delete_from_ivfpq_index(spark, path, [victim])

    def snapshot_ids():
        m = ann_index.load_ivfpq_model(spark, path)
        return {
            int(r["neighbor_id"])
            for r in spark.read.parquet(os.path.join(path, m.encoded_dir))
            .select("neighbor_id")
            .collect()
        }

    # (a) append re-offering the deleted id (plus genuinely new rows)
    ann_index.append_to_ivfpq_index(
        emb.filter((F.col("vec_id") % 2 == 1) | (F.col("vec_id") == victim)),
        path,
        ingest_id="day1",
    )
    assert victim not in snapshot_ids()

    # (b) rebuild over the FULL corpus (victim included)
    ann_index.build_ivfpq_index(emb, path)
    assert victim not in snapshot_ids()
    # the sweep can now retire the tombstone against the new snapshot
    gone = ann_index.expire_ivfpq_snapshots(spark, path)
    assert any(g.startswith("tombstone-") for g in gone)
    assert ann_index.tombstoned_ids(path) == []
    # re-consent: with the tombstone retired, a fresh append readmits
    ann_index.append_to_ivfpq_index(
        emb.filter(F.col("vec_id") == victim), path, ingest_id="day2"
    )
    assert victim in snapshot_ids()


def test_ivfpq_index_delete_stale_snapshot_and_race(
    emb, spark, tmp_path, monkeypatch
):
    """The two delete edge contracts: (a) the tombstone ALONE keeps a
    still-physically-present id out of serving — the stale-snapshot
    guarantee for readers inside the grace window; (b) a delete racing
    a concurrent writer aborts at the epoch fence with the tombstone
    left in place, so serving stays correct while the caller retries."""
    import json as _json
    import os

    from streampro_assignment_etl_spark.operators import ann_index

    path = str(tmp_path / "idx")
    ann_index.build_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 0), path)
    q = emb.filter(F.col("vec_id") < 3)
    before = ann_index.ivfpq_topk_over_index(emb, q, path, k=5).collect()
    victim = int(before[0]["neighbor_id"])

    # (a) tombstone only — no physical rewrite has happened
    tomb = os.path.join(path, "tombstone-feedfeedfeed.json")
    with open(tomb, "w") as f:
        _json.dump({"ids": [victim]}, f)
    served = ann_index.ivfpq_topk_over_index(emb, q, path, k=5).collect()
    assert victim not in {int(r["neighbor_id"]) for r in served}
    os.remove(tomb)

    # (b) racing writer: stale model at delete time -> fence abort
    stale = ann_index.load_ivfpq_model(spark, path)
    ann_index.append_to_ivfpq_index(
        emb.filter(F.col("vec_id") % 2 == 1), path, ingest_id="day1"
    )
    monkeypatch.setattr(
        ann_index, "load_ivfpq_model", lambda s, p: stale
    )
    with pytest.raises(RuntimeError, match="moved from epoch"):
        ann_index.delete_from_ivfpq_index(spark, path, [victim])
    monkeypatch.undo()
    # the tombstone survives the abort: serving filters the id even
    # though the failed delete never committed
    assert victim in set(ann_index.tombstoned_ids(path))
    served = ann_index.ivfpq_topk_over_index(emb, q, path, k=5).collect()
    assert victim not in {int(r["neighbor_id"]) for r in served}


def test_ivfpq_index_epoch_fence_detects_append_compact_interleave(
    emb, spark, tmp_path, monkeypatch
):
    """Writer fencing (round-10 watch item): a compaction that loaded
    the model, then lost a race to a concurrent append, must ABORT at
    its commit instead of publishing a snapshot missing the appended
    rows (last-manifest-wins silently dropped them before). The
    interleave is forced deterministically: the append runs inside the
    compaction's model load, i.e. after compact pinned its epoch but
    before its commit."""
    from streampro_assignment_etl_spark.operators import ann_index

    path = str(tmp_path / "idx")
    ann_index.build_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 0), path)

    late = emb.filter(F.col("vec_id") % 2 == 1)
    real_load = ann_index.load_ivfpq_model
    raced = [False]

    def load_then_append(s, p):
        model = real_load(s, p)
        if not raced[0]:
            raced[0] = True  # guard: the nested append loads too
            ann_index.append_to_ivfpq_index(late, p)
        return model

    monkeypatch.setattr(ann_index, "load_ivfpq_model", load_then_append)
    with pytest.raises(RuntimeError, match="moved from epoch"):
        ann_index.compact_ivfpq_index(spark, path)
    monkeypatch.undo()

    # Nothing lost: the manifest still points at the dir holding BOTH
    # halves, and the compaction's orphaned snapshot is mere debris.
    model = ann_index.load_ivfpq_model(spark, path)
    assert (
        spark.read.parquet(f"{path}/{model.encoded_dir}").count() == emb.count()
    )
    # A clean retry (no concurrent writer) succeeds.
    compacted = ann_index.compact_ivfpq_index(spark, path)
    assert (
        spark.read.parquet(f"{path}/{compacted.encoded_dir}").count() == emb.count()
    )


def test_ivfpq_index_expiry_min_age_grace(emb, spark, tmp_path):
    """Age-guarded retention (advisor + round-10 watch item): a
    just-superseded snapshot survives a sweep with a nonzero horizon
    (an in-flight reader that loaded the old manifest may still be
    scanning it) and is reaped once aged past it."""
    import os

    from streampro_assignment_etl_spark.operators import ann_index

    path = str(tmp_path / "idx")
    first = ann_index.build_ivfpq_index(emb, path)
    second = ann_index.build_ivfpq_index(emb, path)  # supersedes first

    assert ann_index.expire_ivfpq_snapshots(spark, path, min_age_seconds=3600) == []
    assert os.path.isdir(os.path.join(path, first.encoded_dir))

    # Age every superseded dir past the horizon; the sweep reaps them
    # (old snapshot + the build's superseded manifest), never the live
    # pair.
    live_manifest = next(
        d
        for d in os.listdir(path)
        if d.startswith(ann_index.MODEL_PREFIX)
        and int(d[len(ann_index.MODEL_PREFIX) :].split("-")[0]) == second.epoch
    )
    old = (1_000_000_000, 1_000_000_000)
    for d in os.listdir(path):
        if d not in (second.encoded_dir, live_manifest):
            os.utime(os.path.join(path, d), old)

    gone = ann_index.expire_ivfpq_snapshots(spark, path, min_age_seconds=3600)
    assert first.encoded_dir in gone
    assert live_manifest not in gone
    assert os.path.isdir(os.path.join(path, second.encoded_dir))
    q = emb.filter(F.col("vec_id") < 3)
    assert ann_index.ivfpq_topk_over_index(emb, q, path, k=3).count() == 9


def test_ivfpq_index_occupancy_drift_signals_retrain(spark, tmp_path):
    """index_occupancy_stats: appends drawn from the build's own
    distribution keep total-variation drift near 0 (growth alone must
    not trigger a retrain), while a shifted distribution — all mass
    landing in a few cells the centroids no longer describe — pushes
    it past the alert threshold."""
    import random

    from streampro_assignment_etl_spark.operators import ann_index

    rng = random.Random(11)
    dim = 8

    def cloud(n, center, start_id):
        return [
            (start_id + i, [c + rng.gauss(0, 0.05) for c in center])
            for i in range(n)
        ]

    centers = [[float(j == k) for j in range(dim)] for k in range(4)]
    base = [r for k, c in enumerate(centers) for r in cloud(30, c, 1000 * k)]
    emb8 = spark.createDataFrame(base, "vec_id long, embedding array<double>")

    path = str(tmp_path / "idx")
    ann_index.build_ivfpq_index(emb8, path, n_centroids=4, m=2, n_codes=8)

    fresh = ann_index.index_occupancy_stats(spark, path)
    assert fresh["tv_drift_new_mass"] is None  # nothing appended yet
    assert fresh["new_mass_fraction"] == 0.0

    same = spark.createDataFrame(
        [r for k, c in enumerate(centers) for r in cloud(30, c, 50_000 + 1000 * k)],
        "vec_id long, embedding array<double>",
    )
    ann_index.append_to_ivfpq_index(same, path)
    balanced = ann_index.index_occupancy_stats(spark, path)
    assert balanced["current_total"] == 2 * balanced["built_total"]
    assert balanced["tv_drift"] < 0.1, balanced
    # new-mass drift: the appended mass itself matches the model (the
    # bound is looser than whole-index tv — a 120-point sample of a
    # lumpy 4-cell distribution carries ~0.1 of pure sampling noise,
    # where the whole-index statistic is diluted by the resident half)
    assert balanced["tv_drift_new_mass"] < 0.15, balanced
    assert abs(balanced["new_mass_fraction"] - 0.5) < 1e-9

    # a TIGHT spike at centers[0] (σ=0.005, vs the build's 0.05): wide
    # enough noise straddles two of the id-seeded centroids (measured
    # per-batch TV 0.4875) — the spike assigns wholly to the single
    # nearest one
    shifted = spark.createDataFrame(
        [
            (90_000 + i, [c + rng.gauss(0, 0.005) for c in centers[0]])
            for i in range(240)
        ],
        "vec_id long, embedding array<double>",
    )
    ann_index.append_to_ivfpq_index(shifted, path)
    drifted = ann_index.index_occupancy_stats(spark, path)
    assert drifted["tv_drift"] > 0.25, drifted
    assert drifted["tv_drift"] > balanced["tv_drift"]
    # the early signal is PER-APPEND (r12 VERDICT #1: the cumulative
    # current−built form let the balanced batch dilute the alien one
    # to 0.344): the shifted 240 are one append subtree whose mass all
    # piles into a single cell, so its own TV vs the built shape is
    # 1 − built_share(that cell) ≥ 1 − 52/120 ≈ 0.57 (the lumpiest
    # built cell), while the balanced batch stays a separate subtree
    # near 0. max over subtrees reads the alien one undiluted.
    assert drifted["tv_drift_new_mass"] > drifted["tv_drift"], drifted
    assert drifted["tv_drift_new_mass"] > 0.5, drifted
    # per-append detail: two subtrees, worst-first — the alien 240 at
    # the top, the balanced 120 unchanged from its solo reading
    assert [d["n"] for d in drifted["per_append"]] == [240, 120], drifted
    assert drifted["per_append"][0]["tv_vs_built"] == drifted["tv_drift_new_mass"]
    assert abs(
        drifted["per_append"][1]["tv_vs_built"] - balanced["tv_drift_new_mass"]
    ) < 1e-12


@pytest.mark.slow
def test_maintain_index_drift_triggered_retrain_loop(spark, tmp_path):
    """Round-11 VERDICT #5 — the composed cron body: occupancy drift
    below threshold → no-op; a shifted-distribution append trips the
    TV threshold → exactly ONE epoch-fenced retrained rebuild over the
    current corpus, recall@5 recovers, superseded snapshots are swept
    under the grace horizon, and the very next run measures ~0 drift
    and no-ops again (the loop is self-quiescing). The rebuilt index is
    bit-equal to a direct trained fresh build over the same corpus —
    maintain adds orchestration, never a different model."""
    import random

    from pyspark.sql.window import Window

    from streampro_assignment_etl_spark.operators import ann_index

    rng = random.Random(11)
    dim = 8

    def cloud(n, center, start_id):
        return [
            (start_id + i, [c + rng.gauss(0, 0.05) for c in center])
            for i in range(n)
        ]

    centers = [[float(j == k) for j in range(dim)] for k in range(4)]
    base = spark.createDataFrame(
        [r for k, c in enumerate(centers) for r in cloud(30, c, 1000 * k)],
        "vec_id long, embedding array<double>",
    )
    # the shift: a region NONE of the built centroids describes
    newc = [0.7071 if j in (4, 5) else 0.0 for j in range(dim)]
    new = spark.createDataFrame(
        cloud(240, newc, 90_000), "vec_id long, embedding array<double>"
    )
    union = base.unionByName(new)

    path = str(tmp_path / "idx")
    ann_index.build_ivfpq_index(base, path, n_centroids=4, m=2, n_codes=8)

    # no drift → no-op (growth alone must never trigger a retrain)
    out = ann_index.maintain_index(spark, path, base, drift_threshold=0.25)
    assert out["rebuilt"] is False and out["epoch"] == 1
    assert out["tv_drift"] < 0.05

    ann_index.append_to_ivfpq_index(new, path)

    queries = new.filter(F.col("vec_id") < 90_005)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    q = queries.select(F.col("vec_id").alias("qid"), v.alias("qv"))
    c = union.select(F.col("vec_id").alias("nid"), v.alias("cv"))
    l2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("qid").orderBy(F.asc("s"), F.asc("nid"))
    truth = {
        (r["qid"], r["nid"])
        for r in F.broadcast(q)
        .crossJoin(c)
        .filter("qid != nid")
        .select("qid", "nid", l2.alias("s"))
        .withColumn("rk", F.row_number().over(w))
        .filter("rk <= 5")
        .collect()
    }

    def recall(at_path):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ann_index.ivfpq_topk_over_index(
                union, queries, at_path, k=5, probes=2, shortlist=50
            ).collect()
        }
        return len(got & truth) / len(truth)

    before = recall(path)  # stale centroids: the new mass is one blob

    out2 = ann_index.maintain_index(
        spark, path, union, drift_threshold=0.25, min_age_seconds=0.0
    )
    assert out2["rebuilt"] is True and out2["epoch"] == 3  # append=2, rebuild=3
    assert out2["tv_drift"] >= 0.25
    assert out2["expired"]  # superseded snapshot + manifests swept

    after = recall(path)
    assert after > before, (before, after)
    assert after >= 0.6  # deterministic fixture measures 0.68

    # self-quiescing: fresh occupancy → next run measures 0 and no-ops
    out3 = ann_index.maintain_index(spark, path, union, drift_threshold=0.25)
    assert out3["rebuilt"] is False and out3["epoch"] == 3
    assert out3["tv_drift"] == 0.0

    # orchestration-only: bit-equal to a direct trained build over the
    # same corpus (both model trainers are deterministic)
    from streampro_assignment_etl_spark.operators.similarity import (
        kmeans_centroids,
        pq_codebooks_kmeans,
    )

    fresh = str(tmp_path / "fresh")
    ann_index.build_ivfpq_index(
        union,
        fresh,
        n_centroids=4,
        m=2,
        n_codes=8,
        centroids=kmeans_centroids(union, "vec_id", "embedding", 4),
        codebooks=pq_codebooks_kmeans(union, "vec_id", "embedding", 2, 8),
    )
    key = lambda p: sorted(  # noqa: E731
        tuple(r)
        for r in ann_index.ivfpq_topk_over_index(
            union, queries, p, k=5, probes=2, shortlist=50
        ).collect()
    )
    assert key(path) == key(fresh)


def test_maintain_index_composite_trigger_early_retrain(spark, tmp_path):
    """Round-12 VERDICT #2 — the wired composite rule: a 10% append is
    far below what whole-index tv_drift can register (SCALE.md proves
    tv_drift ≤ append fraction), so the r12 loop served a stale model
    until alien mass was ~25% of the corpus. The composite trigger
    retrains the day a 10% ALIEN batch lands (new-mass arm), while a
    10% SAME-distribution batch still no-ops — and a tiny alien batch
    below min_new_mass_fraction no-ops too (no retraining a 10⁹-row
    index over a 50-row oddball)."""
    import random

    from streampro_assignment_etl_spark.operators import ann_index

    rng = random.Random(7)
    dim = 8
    centers = [[float(j == k) for j in range(dim)] for k in range(4)]

    def cloud(n, center, start_id, sigma=0.05):
        return [
            (start_id + i, [c + rng.gauss(0, sigma) for c in center])
            for i in range(n)
        ]

    base_rows = [r for k, c in enumerate(centers) for r in cloud(60, c, 1000 * k)]
    base = spark.createDataFrame(base_rows, "vec_id long, embedding array<double>")

    # Case A: 10% same-distribution append → both arms quiet, no-op.
    pa = str(tmp_path / "same")
    ann_index.build_ivfpq_index(base, pa, n_centroids=4, m=2, n_codes=8)
    same = spark.createDataFrame(
        [r for k, c in enumerate(centers) for r in cloud(6, c, 50_000 + 100 * k)],
        "vec_id long, embedding array<double>",
    )
    ann_index.append_to_ivfpq_index(same, pa)
    out = ann_index.maintain_index(spark, pa, base.unionByName(same))
    assert out["rebuilt"] is False and out["trigger"] is None, out
    assert out["tv_drift"] < 0.1  # bounded by the 1/11 append fraction anyway
    assert out["tv_drift_new_mass"] < 0.5

    # Case B: 10% ALIEN append → tv_drift CANNOT trip (≤ append
    # fraction ≈ 0.091 < 0.25) but the new-mass arm fires same-day.
    pb = str(tmp_path / "alien")
    ann_index.build_ivfpq_index(base, pb, n_centroids=4, m=2, n_codes=8)
    alien = spark.createDataFrame(
        cloud(30, centers[0], 90_000, sigma=0.005),
        "vec_id long, embedding array<double>",
    )
    ann_index.append_to_ivfpq_index(alien, pb)
    out2 = ann_index.maintain_index(spark, pb, base.unionByName(alien))
    assert out2["tv_drift"] < 0.25, out2  # the r12 trigger would no-op here
    assert out2["trigger"] == "new_mass" and out2["rebuilt"] is True, out2
    # self-quiescing after the rebuild: subtrees folded, both arms ~0
    out3 = ann_index.maintain_index(spark, pb, base.unionByName(alien))
    assert out3["rebuilt"] is False and out3["trigger"] is None

    # Case C: alien but BELOW min_new_mass_fraction → no-op (volume
    # gate keeps an oddball trickle from thrashing the index).
    pc = str(tmp_path / "tiny")
    ann_index.build_ivfpq_index(base, pc, n_centroids=4, m=2, n_codes=8)
    tiny = spark.createDataFrame(
        cloud(5, centers[0], 95_000, sigma=0.005),
        "vec_id long, embedding array<double>",
    )
    ann_index.append_to_ivfpq_index(tiny, pc)
    out4 = ann_index.maintain_index(
        spark, pc, base.unionByName(tiny), min_new_mass_fraction=0.05
    )
    assert out4["tv_drift_new_mass"] > 0.5  # the shape IS alien...
    assert out4["new_mass_fraction"] < 0.05  # ...but the volume gate holds
    assert out4["rebuilt"] is False and out4["trigger"] is None, out4


@pytest.mark.slow
def test_new_mass_noise_floor_blocks_small_batch_false_positives(spark, tmp_path):
    """The per-append signal's failure mode, defused: a 6-row honest
    batch over 16 cells reads raw TV ≈ 0.63 from sampling noise alone,
    so the MAX over ten such batches sails past any fixed threshold —
    yet nothing drifted. The trigger gates every batch against its own
    ``tv_noise`` floor (noise_multiple×), so the cloud of small honest
    batches no-ops even with the raw statistic high and the volume
    gate satisfied, while ONE equally-small-per-row alien batch (60
    rows into a region the build never emphasized; floor ≈ 0.2) still
    fires the new-mass arm with whole-index tv_drift far below its
    threshold."""
    import random

    from streampro_assignment_etl_spark.operators import ann_index

    rng = random.Random(5)
    dim = 8

    def iso(n, start_id):
        return [
            (start_id + i, [rng.gauss(0, 1.0) for _ in range(dim)])
            for i in range(n)
        ]

    base = spark.createDataFrame(iso(400, 0), "vec_id long, embedding array<double>")
    path = str(tmp_path / "idx")
    ann_index.build_ivfpq_index(base, path, n_centroids=16, m=2, n_codes=8)

    corpus = base
    for b in range(10):  # ten honest 6-row batches
        batch = spark.createDataFrame(
            iso(6, 10_000 + 100 * b), "vec_id long, embedding array<double>"
        )
        ann_index.append_to_ivfpq_index(batch, path)
        corpus = corpus.unionByName(batch)
    stats = ann_index.index_occupancy_stats(spark, path)
    assert stats["tv_drift_new_mass"] > 0.5, stats  # the raw hazard is real
    assert stats["new_mass_fraction"] >= 0.1  # volume gate satisfied too
    out = ann_index.maintain_index(spark, path, corpus)
    assert out["rebuilt"] is False and out["trigger"] is None, out

    # one alien 60-row batch: a tight spike far outside the ball
    alien = spark.createDataFrame(
        [(90_000 + i, [3.0 + rng.gauss(0, 0.01) for _ in range(dim)]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    ann_index.append_to_ivfpq_index(alien, path)
    corpus = corpus.unionByName(alien)
    out2 = ann_index.maintain_index(spark, path, corpus)
    assert out2["tv_drift"] < 0.25, out2  # whole-index arm still blind
    assert out2["trigger"] == "new_mass" and out2["rebuilt"] is True, out2


def test_maintain_index_recall_probe_catches_within_cell_rot(spark, tmp_path):
    """Round-12 VERDICT Next #6 — the occupancy statistic is blind to
    quality loss that keeps the cell SHAPE intact: here occupancy
    drift reads ~0 (no appends at all), yet the served recall under a
    deliberately starved probe budget sits below the floor, and the
    recall arm — an exact-vs-served probe over a small query set —
    trips the rebuild. Also pins the lazy contract: recall_floor=None
    (the default tick) never runs the probe, and a floor the index
    already meets no-ops with the measured recall reported."""
    import random

    from streampro_assignment_etl_spark.operators import ann_index

    rng = random.Random(3)
    # isotropic ball: cells carve it arbitrarily, so probes=1 of 8
    # genuinely misses cross-cell neighbors — recall well below 1
    rows = [
        (i, [rng.gauss(0, 1.0) for _ in range(8)]) for i in range(400)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "idx")
    ann_index.build_ivfpq_index(emb, path, n_centroids=8, m=2, n_codes=8)
    probes_q = emb.filter(F.col("vec_id") < 20)

    stats = ann_index.index_occupancy_stats(spark, path)
    assert stats["tv_drift"] == 0.0 and stats["tv_drift_new_mass"] is None

    # floor unreachable at probes=1 → the recall arm fires
    out = ann_index.maintain_index(
        spark, path, emb,
        probe_queries=probes_q, recall_floor=0.95,
        recall_probes=1, recall_shortlist=20,
    )
    assert out["tv_drift"] == 0.0  # occupancy saw nothing...
    assert out["recall"] is not None and out["recall"] < 0.95
    assert out["trigger"] == "recall" and out["rebuilt"] is True, out

    # a floor the (rebuilt, trained) index meets at a sane budget →
    # no-op, recall reported
    out2 = ann_index.maintain_index(
        spark, path, emb,
        probe_queries=probes_q, recall_floor=0.5,
        recall_probes=8, recall_shortlist=100,
    )
    assert out2["rebuilt"] is False and out2["trigger"] is None
    assert out2["recall"] >= 0.5

    # default tick: no floor → probe never runs, recall stays None
    out3 = ann_index.maintain_index(spark, path, emb)
    assert out3["recall"] is None and out3["rebuilt"] is False

    with pytest.raises(ValueError, match="probe_queries"):
        ann_index.maintain_index(spark, path, emb, recall_floor=0.9)


def test_pq_kmeans_duplicate_subspace_points_fail_loudly(spark):
    """Advisor finding (round 9): a sample with >= n_codes ROWS but
    fewer DISTINCT points in some subspace made farthest-first init
    silently seed duplicate codewords (d2 all-zero -> argmax pins 0;
    Lloyd can never split them). Now loud."""
    rows = [
        # subspace 0 (components 0-1) is CONSTANT across the corpus;
        # the rest varies, so only subspace 0 is degenerate.
        (i, [1.0, 2.0] + [float(i + j) for j in range(6)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="distinct sample points"):
        similarity.pq_codebooks_kmeans(
            emb, "vec_id", "embedding", m=4, n_codes=16, sample_pct=100
        )


def test_knn_label_agreement_ann_lower_bound_on_label_informative_fixture(
    spark, tmp_path
):
    """The served-gate contract: agreement over ANN top-k is a
    conservative LOWER bound of the exact gate — but only where the
    bound means anything, i.e. when labels correlate with geometry (an
    exact neighbor is likelier same-label than the farther vector an
    ANN miss substitutes). The sf fixture's labels are deliberately
    ~independent of the embedding space (both gates read ~1/n_labels
    there, direction pure noise), so this pins the claim on a
    label-informative fixture: four Gaussian clouds, label = cloud.
    Exact agreement is ~1; the served gate must be ≤ it and within a
    recall-style floor of it."""
    import random

    from pyspark.sql.window import Window

    from streampro_assignment_etl_spark.operators import ann_index

    rng = random.Random(7)
    dim = 8
    centers = [[4.0 * float(j == k) for j in range(dim)] for k in range(4)]
    rows = [
        (1000 * k + i, [c + rng.gauss(0, 0.3) for c in center], k)
        for k, center in enumerate(centers)
        for i in range(40)
    ]
    emb8 = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    path = str(tmp_path / "idx")
    ann_index.build_ivfpq_index(emb8, path, n_centroids=8, m=2, n_codes=16)
    queries = emb8.filter(F.col("vec_id") % 5 == 0)

    def agreement(hits):
        labels = emb8.select("vec_id", "label")
        joined = (
            hits.join(
                labels.withColumnRenamed("vec_id", "query_id").withColumnRenamed(
                    "label", "qlabel"
                ),
                "query_id",
            )
            .join(
                labels.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed(
                    "label", "nlabel"
                ),
                "neighbor_id",
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.when(F.col("nlabel") == F.col("qlabel"), 1).otherwise(0)
                ).alias("m"),
            )
            .first()
        )
        return joined["m"] / joined["n"]

    served = agreement(
        ann_index.ivfpq_topk_over_index(
            emb8, queries, path, k=5, probes=2, shortlist=50
        )
    )

    # Exact top-5 by the same L2 metric the index serves.
    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb8.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    w = Window.partitionBy("query_id").orderBy("d", "neighbor_id")
    exact_hits = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "d",
            dot(F.col("qv"), F.col("qv"))
            - 2 * dot(F.col("qv"), F.col("cv"))
            + dot(F.col("cv"), F.col("cv")),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    exact = agreement(exact_hits)

    assert exact > 0.9, exact  # the fixture IS label-informative
    assert served <= exact + 1e-9, (served, exact)
    assert served >= 0.8 * exact, (served, exact)


def test_ivfpq_residual_recall_beats_absolute_on_clustered_fixture(spark):
    """IVFADC's reason to exist (Jégou et al. 2011): with good
    centroids, absolute-vector codebooks waste their resolution
    re-encoding cluster identity (id-seeded codewords all sit in one
    region of space), while residual codebooks see the SAME
    within-cell distribution from every cell — materially higher
    shortlist recall at identical code size. 8 well-separated Gaussian
    clouds, true centers as centroids, identical (probes, m, n_codes,
    shortlist) budgets for both paths."""
    import random

    from pyspark.sql.window import Window

    rng = random.Random(5)
    dim, C = 32, 8
    centers = [[8.0 * rng.gauss(0, 1) for _ in range(dim)] for _ in range(C)]
    rows = [
        (1000 * k + i, [c + rng.gauss(0, 0.5) for c in ctr])
        for k, ctr in enumerate(centers)
        for i in range(50)
    ]
    emb8 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb8.filter(F.col("vec_id") % 25 == 0)
    cents = [(k, centers[k]) for k in range(C)]

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    c = emb8.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    w = Window.partitionBy("query_id").orderBy("d", "neighbor_id")
    truth: dict[int, set[int]] = {}
    brute = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "d",
            dot(F.col("qv"), F.col("qv"))
            - 2 * dot(F.col("qv"), F.col("cv"))
            + dot(F.col("cv"), F.col("cv")),
        )
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 5)
    )
    for r in brute.collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(df):
        got: dict[int, set[int]] = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        tot = sum(len(v) for v in truth.values())
        return sum(len(truth[k] & got.get(k, set())) for k in truth) / tot

    shared = dict(k=5, probes=2, m=4, n_codes=16, shortlist=20)
    plain = recall(
        similarity.ivfpq_topk(emb8, queries, centroids=cents, **shared)
    )
    resid = recall(
        similarity.ivfpq_residual_topk(emb8, queries, centroids=cents, **shared)
    )
    assert resid >= 0.75, (plain, resid)
    assert resid >= plain + 0.15, (plain, resid)


@pytest.mark.slow
def test_ivfpq_residual_index_lifecycle_bit_equal(emb, spark, tmp_path):
    """The persisted index in RESIDUAL mode: the manifest carries the
    flag, the build encodes residuals through the same fused
    projection, serving is bit-equal to the composed
    ``ivfpq_residual_topk`` under the same model, an append grows it
    bit-equal to a full residual build over the union, and filtered
    search serves within the predicate."""
    from streampro_assignment_etl_spark.operators import ann_index

    cents = similarity.collect_centroids(
        similarity.seed_centroids(emb, "vec_id", "embedding", 16)
    )
    rbooks = similarity.pq_codebooks_residual(
        emb, cents, "vec_id", "embedding", m=4, n_codes=16
    )
    path = str(tmp_path / "ridx")
    built = ann_index.build_ivfpq_index(
        emb, path, centroids=cents, codebooks=rbooks, residual=True
    )
    loaded = ann_index.load_ivfpq_model(spark, path)
    assert loaded == built and loaded.residual

    q = emb.filter(F.col("vec_id") < 5)
    composed = similarity.ivfpq_residual_topk(
        emb, q, k=5, probes=4, shortlist=100,
        centroids=cents, codebooks=rbooks,
    ).collect()
    served = ann_index.ivfpq_topk_over_index(
        emb, q, path, k=5, probes=4, shortlist=100
    ).collect()
    assert served == composed and len(served) == 25

    # Incremental: half-build + append == full build, same model.
    inc = str(tmp_path / "rinc")
    ann_index.build_ivfpq_index(
        emb.filter(F.col("vec_id") % 2 == 0), inc,
        centroids=cents, codebooks=rbooks, residual=True,
    )
    ann_index.append_to_ivfpq_index(emb.filter(F.col("vec_id") % 2 == 1), inc)
    got = ann_index.ivfpq_topk_over_index(
        emb, q, inc, k=5, probes=4, shortlist=100
    ).collect()
    assert got == served

    # Filtered residual search: top-k within the predicate.
    allowed = emb.filter(F.col("label") == 3)
    out = ann_index.ivfpq_topk_over_index(
        emb, q, path, k=3, probes=4, shortlist=100, allowed=allowed
    ).collect()
    allowed_ids = {r["vec_id"] for r in allowed.select("vec_id").collect()}
    assert out and all(r["neighbor_id"] in allowed_ids for r in out)


def test_trained_residual_codebooks_compose_and_beat_seeding(spark):
    """The trained-residual path is pure COMPOSITION — no new trainer:
    ``pq_codebooks_kmeans`` over the residual frame
    (assign_cells → with_residual) plugs into
    ``ivfpq_residual_topk(codebooks=)`` and beats the id-seeded
    residual books on the clustered fixture (codewords move to residual
    density modes instead of sitting at arbitrary cluster-0 residual
    points). Same fixture and budgets as the residual-vs-absolute pin:
    seeded residual reads 0.81 there; trained ~0.89."""
    import random

    rng = random.Random(5)
    dim, C = 32, 8
    centers = [[8.0 * rng.gauss(0, 1) for _ in range(dim)] for _ in range(C)]
    rows = [
        (1000 * k + i, [c + rng.gauss(0, 0.5) for c in ctr])
        for k, ctr in enumerate(centers)
        for i in range(50)
    ]
    emb8 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb8.filter(F.col("vec_id") % 25 == 0)
    cents = [(k, centers[k]) for k in range(C)]

    res_frame = similarity.with_residual(
        similarity.assign_cells(emb8, cents, "vec_id", "embedding"),
        cents,
        "embedding",
        "_rv",
    ).select("vec_id", "_rv")
    trained = similarity.pq_codebooks_kmeans(
        res_frame, "vec_id", "_rv", m=4, n_codes=16, sample_pct=100
    )
    seeded = similarity.pq_codebooks_residual(
        emb8, cents, "vec_id", "embedding", m=4, n_codes=16
    )

    from pyspark.sql.window import Window

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    q = emb8.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb8.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    w = Window.partitionBy("query_id").orderBy("d", "neighbor_id")
    truth: dict[int, set[int]] = {}
    brute = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "d",
            dot(F.col("qv"), F.col("qv"))
            - 2 * dot(F.col("qv"), F.col("cv"))
            + dot(F.col("cv"), F.col("cv")),
        )
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 5)
    )
    for r in brute.collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(books):
        df = similarity.ivfpq_residual_topk(
            emb8, queries, k=5, probes=2, m=4, n_codes=16, shortlist=20,
            centroids=cents, codebooks=books,
        )
        got: dict[int, set[int]] = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        tot = sum(len(v) for v in truth.values())
        return sum(len(truth[k] & got.get(k, set())) for k in truth) / tot

    r_seed, r_train = recall(seeded), recall(trained)
    assert r_train >= r_seed, (r_seed, r_train)
    assert r_train >= 0.85, (r_seed, r_train)


def test_embedding_diversity_sample_flattens_density(spark):
    """Cluster-balanced sampling invariants at sf0.01: per cell exactly
    min(cell_n, cap) rows are kept under the deterministic order, so
    dense cells truncate and the kept sample's cell distribution is
    strictly flatter than the corpus's."""
    from streampro_assignment_etl_spark.queries import EXTRAS
    from streampro_assignment_etl_spark.queries.dedup_ann import _DIVERSITY_CAP

    out = EXTRAS["embedding_diversity_sample"].builder(spark, SF).toPandas()
    per_cell = out.groupby("cell").agg(
        n=("vec_id", "size"), kept=("kept", "sum"), cell_n=("cell_n", "first")
    )
    assert (per_cell["n"] == per_cell["cell_n"]).all()
    assert (per_cell["kept"] == per_cell["cell_n"].clip(upper=_DIVERSITY_CAP)).all()
    assert per_cell["cell_n"].max() > _DIVERSITY_CAP  # the cap binds somewhere
    spread = lambda s: s.max() / s.min()  # noqa: E731
    assert spread(per_cell["kept"]) < spread(per_cell["cell_n"])


# ---------------------------------------------------------------------------
# Weighted PageRank (operators/pagerank.py): structural invariants.
# ---------------------------------------------------------------------------
def test_pagerank_mass_hub_and_dangling(spark):
    """(1) Ranks always sum to 1 (dangling mass redistributed, not
    lost); (2) the node every edge points AT outranks the spokes; (3)
    edge WEIGHTS matter (heavier in-edge -> higher rank); (4) a sink
    node (no out-edges) is handled without dropping mass."""
    from pyspark.sql import functions as F

    from streampro_assignment_etl_spark.operators.pagerank import (
        weighted_pagerank,
    )

    # star INTO 'hub' + a dangling sink fed by the hub
    edges = spark.createDataFrame(
        [
            ("a", "hub", 1), ("b", "hub", 1), ("c", "hub", 1),
            ("hub", "sink", 1),
            # weight asymmetry: d -> a heavy, d -> b light
            ("d", "a", 9), ("d", "b", 1),
        ],
        ["src", "dst", "w"],
    )
    ranks = {
        r.node: float(r.rank)
        for r in weighted_pagerank(edges, iters=6).collect()
    }
    assert abs(sum(ranks.values()) - 1.0) < 1e-6, ranks
    assert ranks["hub"] > max(ranks["a"], ranks["b"], ranks["c"]), ranks
    assert ranks["a"] > ranks["b"], "edge weight must bias rank"
    assert ranks["sink"] > 0 and abs(sum(ranks.values()) - 1.0) < 1e-6


def test_personalized_pagerank_localizes_near_seed(spark):
    """Personalized PageRank: teleport concentrated on one seed must
    (1) keep total mass 1, (2) rank the seed and its out-neighborhood
    above far nodes, (3) give an unreachable node with zero teleport
    weight rank 0, and (4) redistribute dangling mass to the SEED, not
    uniformly."""
    from pyspark.sql import functions as F

    from streampro_assignment_etl_spark.operators.pagerank import (
        weighted_pagerank,
    )

    # chain seed -> a -> b (b dangling); isolated pair x -> y
    edges = spark.createDataFrame(
        [("seed", "a", 1), ("a", "b", 1), ("x", "y", 1)],
        ["src", "dst", "w"],
    )
    restart = spark.createDataFrame([("seed", 1.0)], ["node", "weight"])
    # damping 0.5: the walk's geometric decay dominates the seed->a->b
    # 3-cycle quickly (0.85 at few iters still oscillates phase mass
    # onto b; the fixed point's ordering is the same either way)
    ranks = {
        r.node: float(r.rank)
        for r in weighted_pagerank(
            edges, iters=12, damping=0.5, restart=restart
        ).collect()
    }
    assert abs(sum(ranks.values()) - 1.0) < 1e-6, ranks
    assert ranks["seed"] > ranks["a"] > ranks["b"] > 0, ranks
    # x never receives teleport and nothing walks into it
    assert ranks["x"] == 0.0 and ranks["y"] == 0.0, ranks
    # uniform run for contrast: x/y hold mass there
    uni = {
        r.node: float(r.rank)
        for r in weighted_pagerank(edges, iters=8).collect()
    }
    assert uni["x"] > 0 and uni["y"] > 0


def test_pagerank_degenerate_inputs_fail_loudly(spark):
    """Library code fails at build time, not with silent NULL ranks
    (ADVICE r13): (1) empty edge list -> ValueError; (2) restart with
    zero total weight -> ValueError; (3) restart naming ONLY nodes
    absent from the graph -> ValueError (t normalizes over the graph's
    node set, so off-graph rows carry no teleport mass)."""
    import pytest
    from pyspark.sql import types as T

    from streampro_assignment_etl_spark.operators.pagerank import (
        weighted_pagerank,
    )

    empty = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("src", T.StringType()),
                T.StructField("dst", T.StringType()),
                T.StructField("w", T.LongType()),
            ]
        ),
    )
    with pytest.raises(ValueError, match="empty edge list"):
        weighted_pagerank(empty)

    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "a", 1)], ["src", "dst", "w"]
    )
    zero = spark.createDataFrame([("a", 0.0)], ["node", "weight"])
    with pytest.raises(ValueError, match="no teleport mass"):
        weighted_pagerank(edges, restart=zero)
    offgraph = spark.createDataFrame([("zz", 5.0)], ["node", "weight"])
    with pytest.raises(ValueError, match="no teleport mass"):
        weighted_pagerank(edges, restart=offgraph)


def test_personalized_pagerank_offgraph_restart_mass(spark):
    """Restart rows for nodes NOT in the edge graph must not dilute
    the teleport normalization: with (seed: 1, ghost: 9) where ghost
    has no edges, ranks over the graph still sum to 1 (pre-fix they
    summed to 0.1 — ADVICE r13)."""
    from streampro_assignment_etl_spark.operators.pagerank import (
        weighted_pagerank,
    )

    edges = spark.createDataFrame(
        [("seed", "a", 1), ("a", "seed", 1)], ["src", "dst", "w"]
    )
    restart = spark.createDataFrame(
        [("seed", 1.0), ("ghost", 9.0)], ["node", "weight"]
    )
    ranks = {
        r.node: float(r.rank)
        for r in weighted_pagerank(
            edges, iters=8, damping=0.5, restart=restart
        ).collect()
    }
    assert set(ranks) == {"seed", "a"}
    assert abs(sum(ranks.values()) - 1.0) < 1e-6, ranks
    assert ranks["seed"] > ranks["a"]


@pytest.mark.slow
def test_pagerank_l1_early_stop(spark):
    """VERDICT r13 #5: tol-driven L1 early stop. (1) On a graph whose
    walk decays fast (damping 0.2) the stop FIRES well under the iter
    cap, and the early-stopped ranks are BIT-EQUAL to the fixed-iters
    run at the stopped round (stopping changes when the loop exits,
    never what a round computes). (2) On a 2-cycle with all teleport
    mass on one node the rank oscillates (decay 0.85^k) — the stop
    must NOT fire within 8 rounds at tol=1e-3."""
    from streampro_assignment_etl_spark.operators.pagerank import (
        weighted_pagerank,
    )

    edges = spark.createDataFrame(
        [("a", "hub", 1), ("b", "hub", 1), ("hub", "sink", 1)],
        ["src", "dst", "w"],
    )
    stats = {}
    early = {
        r.node: float(r.rank)
        for r in weighted_pagerank(
            edges, iters=60, damping=0.2, tol=1e-9, stats=stats
        ).collect()
    }
    assert stats["iters_run"] < 60, stats
    assert stats["final_delta"] is not None and stats["final_delta"] < 1e-9
    fixed = {
        r.node: float(r.rank)
        for r in weighted_pagerank(
            edges, iters=stats["iters_run"], damping=0.2
        ).collect()
    }
    assert early == fixed  # bit-equal, not approx

    cyc = spark.createDataFrame(
        [("a", "b", 1), ("b", "a", 1)], ["src", "dst", "w"]
    )
    restart = spark.createDataFrame([("a", 1.0)], ["node", "weight"])
    stats2 = {}
    weighted_pagerank(
        cyc, iters=8, damping=0.85, restart=restart, tol=1e-3, stats=stats2
    ).collect()
    assert stats2["iters_run"] == 8, stats2
    assert stats2["final_delta"] > 1e-3


def test_takedown_evidence_never_undercounts_mid_promote(spark, tmp_path):
    """Round 17 (documented in verify_takedown's docstring): the
    manifest-swap protocol deletes old files only after every
    replacement is promoted, so a torn mid-promote listing can only
    OVER-count residue — never report an erased subject clean-er than
    it is. Pins both directions of the safe asymmetry: (a) an ERASED
    subject stays at zero under a simulated mid-promote state (the
    doubled files contain no subject rows, so 0 + 0 = 0 — no false
    clean); (b) an un-erased subject's count can only rise under the
    same state (false alarm is the legal failure mode)."""
    import pathlib
    import shutil as _sh

    from streampro_assignment_etl_spark.operators.takedown import (
        cascade_takedown,
        verify_takedown,
    )

    users = spark.createDataFrame(
        [(f"user_{i}", i * 10) for i in range(20)],
        "user_id string, score long",
    )
    tbl = str(tmp_path / "users_race")
    users.repartition(4, "user_id").write.parquet(tbl)
    cascade_takedown(spark, ["user_7"], tables=((tbl, "user_id"),))

    # simulate the promote window: promoted-looking twins beside every
    # original (exactly what a listing sees between promote and
    # delete-olds)
    root = pathlib.Path(tbl)
    vis = [
        p
        for p in root.rglob("*.parquet")
        if not any(
            seg.startswith((".", "_")) for seg in p.relative_to(root).parts
        )
    ]
    for i, p in enumerate(vis):
        _sh.copy(p, p.parent / f"part-cmp{'0' * 12}-{i}.parquet")
    assert spark.read.parquet(tbl).count() == 38  # the torn listing doubles

    # (a) erased subject: still zero — a race can never fake a clean
    # subject dirtier... nor, crucially, a dirty subject clean
    ev = verify_takedown(spark, ["user_7"], tables=((tbl, "user_id"),))
    assert ev["tables"][tbl] == 0 and ev["clean"] is True

    # (b) un-erased subject: over-counted (2 ≥ 1), clean=False holds
    ev2 = verify_takedown(spark, ["user_3"], tables=((tbl, "user_id"),))
    assert ev2["tables"][tbl] >= 1 and ev2["clean"] is False
