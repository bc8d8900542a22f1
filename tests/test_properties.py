"""Property-based cross-engine differential tests (SURVEY §5.4).

Hypothesis generates adversarial inputs; each property asserts a
primitive that the oracle gates depend on produces IDENTICAL results
in Spark and DuckDB. These are the primitives where an engine
divergence would silently flip value hashes: ordered string agg (the
R18 dialect rewrite), content fingerprints, token hashes, rolling
hashes, and lexicographic MIN on strings (SURVEY §1.4's load-bearing
session semantics).
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

# Safe-but-adversarial text: ASCII incl. spaces and punctuation that
# regex/split/quote paths must survive (no control chars — the JSON
# fixture layer, not the engines, would eat those).
WORD = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    min_size=0,
    max_size=12,
)

HYP = dict(max_examples=15, deadline=None)


@pytest.fixture(scope="module")
def duck():
    return duckdb.connect()


@settings(**HYP)
@given(st.lists(st.tuples(WORD, WORD), min_size=1, max_size=8))
def test_ordered_string_agg_matches(spark, duck, pairs):
    """R18: the GROUP_CONCAT rewrite (array_join∘array_sort∘collect_list)
    equals DuckDB's string_agg ORDER BY for arbitrary strings, with the
    value appended to the sort key for total determinism."""
    df = spark.createDataFrame(pairs, ["k", "v"])
    got = df.agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("k"), F.col("v")))),
                lambda s: s["v"],
            ),
            ",",
        ).alias("c")
    ).collect()[0]["c"]
    duck.execute("CREATE OR REPLACE TABLE t (k VARCHAR, v VARCHAR)")
    duck.executemany("INSERT INTO t VALUES (?, ?)", pairs)
    want = duck.execute("SELECT string_agg(v, ',' ORDER BY k, v) FROM t").fetchone()[0]
    assert got == want


# Separators engineered to collide with every token the shim's string
# surgery scans for: parens (paren matcher), commas (arg splitter),
# the ORDER BY / INTERVAL keywords (separator detectors), quotes.
_ADVERSARIAL_SEP = st.one_of(
    st.just(" ORDER BY "),
    st.just("INTERVAL 3 DAY"),
    st.just("(,"),
    st.just("')('"),
    st.just('")"'),
    st.just("(("),
    st.text(alphabet="(),'\" abORDERBYINTERVAL_", min_size=0, max_size=8),
)


@settings(**HYP)
@given(
    _ADVERSARIAL_SEP,
    st.lists(
        st.tuples(st.integers(0, 50), WORD),
        min_size=1,
        max_size=6,
        unique_by=lambda t: t[0],
    ),
)
def test_group_concat_rewrite_survives_quoted_separators(spark, duck, sep, rows):
    """Round-5 VERDICT #6: the dialect shim rewrites by paren-matching
    over the raw SQL string; a separator LITERAL containing parens,
    commas, quotes, or the very keywords the shim scans for must not
    derail the surgery — the rewritten query's result equals DuckDB's
    string_agg bit-for-bit."""
    from streampro_assignment_etl_spark.functions.dialect import run_duckdb_sql

    lit = "'" + sep.replace("'", "''") + "'"
    sql = f"SELECT GROUP_CONCAT(v, {lit} ORDER BY k, v) AS c FROM gc_fuzz"
    spark.createDataFrame(rows, ["k", "v"]).createOrReplaceTempView("gc_fuzz")
    duck.execute("CREATE OR REPLACE TABLE gc_fuzz (k INT, v VARCHAR)")
    duck.executemany("INSERT INTO gc_fuzz VALUES (?, ?)", rows)
    want = duck.execute(
        f"SELECT string_agg(v, {lit} ORDER BY k, v) AS c FROM gc_fuzz"
    ).fetchone()[0]
    got = run_duckdb_sql(spark, sql).collect()[0]["c"]
    assert got == want


def test_nested_group_concat_inside_date_add(spark, duck):
    """GROUP_CONCAT nested inside DATE_ADD's first argument (and
    DATE_ADD alongside a paren-laden GROUP_CONCAT in one projection):
    the two rewrites compose without eating each other's parens, and
    the quirk-preserving TIMESTAMP render matches DuckDB."""
    from streampro_assignment_etl_spark.functions.dialect import run_duckdb_sql

    rows = [(1, "2025-09-09")]
    spark.createDataFrame(rows, ["k", "d"]).createOrReplaceTempView("nest_t")
    duck.execute("CREATE OR REPLACE TABLE nest_t (k INT, d VARCHAR)")
    duck.executemany("INSERT INTO nest_t VALUES (?, ?)", rows)
    sql = """
    SELECT CAST(DATE_ADD(CAST(GROUP_CONCAT(d, '((' ORDER BY k) AS DATE),
                         INTERVAL 2 DAY) AS VARCHAR) AS a,
           GROUP_CONCAT(d, '),(' ORDER BY k, d) AS c
    FROM nest_t
    """
    got = run_duckdb_sql(spark, sql).collect()[0]
    want = duck.execute(sql).fetchone()
    assert (got["a"], got["c"]) == want


def test_dialect_unsupported_forms_fail_loudly():
    """Shapes the shim cannot map keep failing with a real error —
    never a silent mis-rewrite."""
    from streampro_assignment_etl_spark.functions.dialect import (
        rewrite_date_diff,
        rewrite_group_concat,
    )

    with pytest.raises(NotImplementedError, match="GROUP_CONCAT"):
        rewrite_group_concat("SELECT GROUP_CONCAT(a, b, c) FROM t")
    with pytest.raises(NotImplementedError, match="DATE_DIFF"):
        rewrite_date_diff("SELECT DATE_DIFF('month', a, b) FROM t")
    with pytest.raises(ValueError, match="unbalanced"):
        rewrite_group_concat("SELECT GROUP_CONCAT(a ORDER BY ( FROM t")


@settings(**HYP)
@given(st.lists(WORD, min_size=1, max_size=6))
def test_fingerprint_and_hashes_match(spark, duck, texts):
    """md5 fingerprint (normalized), 60-bit token hash, and the rolling
    hash are bit-identical across engines for arbitrary text."""
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    from streampro_assignment_etl_spark.functions.text import rolling_hash
    from streampro_assignment_etl_spark.operators.simhash import token_hash60

    got = df.select(
        F.md5(F.lower(F.regexp_replace("text", r"[ \t\n\r\f\x0B]+", " "))).alias("fp"),
        token_hash60(F.col("text")).alias("h60"),
        rolling_hash(F.col("text")).alias("rh"),
    ).collect()
    for (t,), row in zip([(t,) for t in texts], got):
        fp, h60, rh = duck.execute(
            """
            SELECT md5(lower(regexp_replace(?, '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))),
                   CAST('0x' || substr(md5(?), 1, 15) AS BIGINT),
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(string_split(?, ''), c -> CAST(ascii(c) AS BIGINT))),
                     (a, b) -> (a * 131 + b) % 1000000007)
            """,
            [t, t, t],
        ).fetchone()
        assert row["fp"] == fp, t
        assert row["h60"] == h60, t
        assert (row["rh"] or 0) == (rh or 0), t


@settings(**HYP)
@given(st.lists(WORD, min_size=1, max_size=10))
def test_lexicographic_min_matches(spark, duck, values):
    """SURVEY §1.4: string MIN/MAX must be byte-wise identical — the
    session semantics depend on it."""
    df = spark.createDataFrame([(v,) for v in values], ["s"])
    got = df.agg(F.min("s").alias("lo"), F.max("s").alias("hi")).collect()[0]
    duck.execute("CREATE OR REPLACE TABLE ls (s VARCHAR)")
    duck.executemany("INSERT INTO ls VALUES (?)", [(v,) for v in values])
    lo, hi = duck.execute("SELECT MIN(s), MAX(s) FROM ls").fetchone()
    assert got["lo"] == lo and got["hi"] == hi, values


@settings(**HYP)
@given(st.lists(st.text(alphabet="abcdefg h", min_size=1, max_size=30), min_size=1, max_size=5))
@pytest.mark.slow
def test_stream_signature_equals_batch_signature(spark, texts):
    """The streaming map-side MinHash signature must equal the batch
    explode+groupBy layout for arbitrary word streams — batch bootstrap
    and streaming guard must agree on near-duplicate identity. Docs
    with <n words produce no shingles: stream yields an empty array,
    batch drops the row; both mean 'cannot match anything'."""
    from streampro_assignment_etl_spark.operators.minhash import (
        minhash_signatures,
        word_shingles,
    )
    from streampro_assignment_etl_spark.streaming.fuzzy_dedup import signature_array

    k = 8
    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    stream_form = {
        r["doc_id"]: list(r["sig"])
        for r in docs.select("doc_id", word_shingles(F.col("text")).alias("sh"))
        .filter(F.size("sh") > 0)  # the operator's shingle-less guard
        .select("doc_id", signature_array(F.col("sh"), k).alias("sig"))
        .collect()
    }
    batch = minhash_signatures(
        docs.select("doc_id", word_shingles(F.col("text")).alias("sh")),
        "doc_id",
        "sh",
        num_hashes=k,
    )
    batch_form = {r["doc_id"]: [r[f"_m{i}"] for i in range(k)] for r in batch.collect()}
    assert stream_form == batch_form


@settings(**HYP)
@given(st.lists(st.tuples(st.integers(0, 2**16 - 1), st.integers(0, 2**16 - 1)),
                min_size=1, max_size=8))
def test_zorder_interleave_is_bijective(spark, pairs):
    """zorder_value must be a true bit interleave: de-interleaving the
    key recovers (a, b) exactly for arbitrary 16-bit inputs — a broken
    interleave silently destroys the two-dimensional clustering."""
    from streampro_assignment_etl_spark.pipeline.writers import zorder_value

    df = spark.createDataFrame(pairs, ["a", "b"])
    rows = df.select("a", "b", zorder_value(F.col("a"), F.col("b")).alias("z")).collect()
    for r in rows:
        a = sum(((r["z"] >> (2 * i)) & 1) << i for i in range(16))
        b = sum(((r["z"] >> (2 * i + 1)) & 1) << i for i in range(16))
        assert (a, b) == (r["a"], r["b"]), (r["a"], r["b"], r["z"])


@settings(**HYP)
@given(
    st.integers(min_value=2, max_value=16).flatmap(
        lambda dim: st.lists(
            st.lists(
                st.floats(
                    min_value=-1e6,
                    max_value=1e6,
                    allow_nan=False,
                    allow_infinity=False,
                ),
                min_size=dim,
                max_size=dim,
            ).filter(lambda v: any(abs(x) > 1e-100 for x in v)),
            # |x| > 1e-100 keeps dot(v,v) clear of subnormal underflow:
            # a vector like [0.0, 1e-308] has (1e-308)^2 == 0.0, zero
            # norm, and divide-by-zero under ANSI — in BOTH cosine
            # forms equally, so it proves nothing about the rewrite.
            min_size=2,
            max_size=6,
        )
    )
)
@pytest.mark.slow
def test_norm_carried_cosine_is_bit_identical(spark, vectors):
    """The similarity operators replace cosine(a,b) with
    dot(a,b)/(norm_a*norm_b) where the norms are hoisted per row (JVM)
    or precomputed on the driver (_py_norm). All three must agree
    BIT-FOR-BIT for arbitrary vectors — a single-ulp divergence could
    flip an IVF cell assignment or a rank tie against the DuckDB
    oracle."""
    import struct

    from streampro_assignment_etl_spark.operators.similarity import (
        _cosine_sql,
        _norm_sql,
        _py_norm,
    )

    rows = [(i, v) for i, v in enumerate(vectors)]
    df = (
        spark.createDataFrame(rows, ["id", "v"])
        .selectExpr("id", "cast(v as array<double>) v")
        .selectExpr("*", f"{_norm_sql('v')} n")
    )
    a = df.selectExpr("id id_a", "v va", "n na")
    b = df.selectExpr("id id_b", "v vb", "n nb")
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    got = pairs.select(
        "id_a",
        "id_b",
        F.expr(_cosine_sql("va", "vb", _norm_sql("va"), _norm_sql("vb"))).alias(
            "inline"
        ),
        F.expr(_cosine_sql("va", "vb", "na", "nb")).alias("carried"),
        "na",
    ).collect()
    bits = lambda x: struct.pack(">d", x)  # noqa: E731
    for r in got:
        assert bits(r["inline"]) == bits(r["carried"]), (r["id_a"], r["id_b"])
        # Driver-side norm replica matches the JVM fold bit-for-bit.
        assert bits(_py_norm(vectors[r["id_a"]])) == bits(r["na"])


def test_alpha_token_regex_newline_parity(spark):
    """Round-6 review finding: Java's $ matches BEFORE a trailing
    newline, RE2's full-match does not — a token 'hello\\n' counted as
    alphabetic only on the Spark side, able to flip
    weighted_sample_by_quality's integer keep decision. The \\A..\\z
    anchors pin absolute-end semantics; this test plants the newline
    token and checks both engines agree (and that ^$ would not)."""
    import duckdb

    from pyspark.sql import functions as F

    text = "hello\n world zz9"
    toks = F.split(F.col("text"), " ")
    got = (
        spark.createDataFrame([(text,)], ["text"])
        .select(
            F.size(F.filter(toks, lambda t: t.rlike(r"\A[a-z]+\z"))).alias("fixed"),
            F.size(F.filter(toks, lambda t: t.rlike("^[a-z]+$"))).alias("dollar"),
        )
        .first()
    )
    duck = duckdb.sql(
        "SELECT len(list_filter(string_split('hello' || chr(10) || ' world zz9', ' '),"
        " t -> regexp_full_match(t, '[a-z]+')))"
    ).fetchone()[0]
    assert got["fixed"] == duck
    assert got["dollar"] != duck  # the quirk this test exists to remember


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.sampled_from([f"t{i}" for i in range(12)]),
        min_size=1,
        max_size=400,
    ),
    st.integers(min_value=2, max_value=6),
)
@pytest.mark.slow
def test_heavy_hitters_exact_equals_full_groupby(spark, terms, k):
    """Property: Misra-Gries candidate pruning + exact recount equals
    the straight exact GROUP BY heavy-hitter set for ANY term stream
    and counter budget — the superset guarantee is the whole proof
    obligation; a single missed candidate would show up here."""
    from collections import Counter

    from streampro_assignment_etl_spark.functions.approx import heavy_hitters_exact

    df = spark.createDataFrame([(t,) for t in terms], ["term"]).repartition(4)
    got = {(r["term"], r["cnt"]) for r in heavy_hitters_exact(df, "term", k).collect()}
    n = len(terms)
    expect = {(t, c) for t, c in Counter(terms).items() if c * k > n}
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=30), min_size=0, max_size=6, unique=True),
        min_size=1,
        max_size=5,
    )
)
def test_pairs_from_sorted_ids_equals_combinations(spark, buckets):
    """Property for the shared bucket-to-pairs expansion (used by both
    the LSH and rare-shingle blockers): the distinct pair set equals
    the union of itertools.combinations over each sorted bucket."""
    from itertools import combinations

    from streampro_assignment_etl_spark.operators.minhash import pairs_from_sorted_ids

    df = spark.createDataFrame(
        [(sorted(b),) for b in buckets], "ids: array<long>"
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs_from_sorted_ids(df).collect()}
    expect = {p for b in buckets for p in combinations(sorted(b), 2)}
    assert got == expect


# ---------------------------------------------------------------------------
# Vectorized state functions vs scalar references (no Spark needed —
# the state ops are plain Python functions over pandas + a state stub).
# ---------------------------------------------------------------------------
class _MemState:
    """Minimal GroupState stand-in: exists/get/update (+ never timed out)."""

    hasTimedOut = False

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def _scalar_bucket_matcher(threshold):
    """The pre-round-7 per-row implementation, kept verbatim as the
    semantic reference for the vectorized matcher."""

    def match_bucket(key, pdfs, state):
        import pandas as pd

        if state.exists:
            ids, sigs = list(state.get[0]), [list(s) for s in state.get[1]]
        else:
            ids, sigs = [], []
        out = []
        for pdf in pdfs:
            for doc_id, sig in zip(pdf["doc_id"], pdf["sig"]):
                doc_id, sig = int(doc_id), [int(x) for x in sig]
                for prior_id, prior_sig in zip(ids, sigs):
                    if prior_id == doc_id:
                        continue
                    est = sum(a == b for a, b in zip(sig, prior_sig)) / len(sig)
                    if est >= threshold:
                        out.append((min(doc_id, prior_id), max(doc_id, prior_id), est))
                ids.append(doc_id)
                sigs.append(sig)
        # Round-9 contract: never mint state for a bucket that stored
        # nothing (under store-once probing most visited buckets are
        # probe-only; state entries must not balloon to probed-bucket
        # count). Store-all still updates whenever any row arrived.
        if state.exists or ids:
            state.update((ids, sigs))
        if out:
            yield pd.DataFrame(out, columns=["doc_a", "doc_b", "est_jaccard"])

    return match_bucket


_SIG = st.lists(st.integers(min_value=0, max_value=2), min_size=4, max_size=4)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(  # a stream of micro-batches …
        st.lists(  # … each a list of (doc_id, 4-slot signature) rows
            st.tuples(st.integers(min_value=0, max_value=9), _SIG),
            min_size=0,
            max_size=5,
        ),
        min_size=1,
        max_size=4,
    ),
    st.sampled_from([0.25, 0.5, 0.75, 1.0]),
)
def test_vectorized_bucket_matcher_equals_scalar(batches, threshold):
    """Round-7 refactor pin: the numpy matrix matcher emits exactly the
    scalar reference's pairs (same batches, same estimates) and leaves
    identical state, over adversarial streams incl. repeated doc_ids,
    empty batches, and threshold edge values. The tiny slot alphabet
    forces frequent partial agreements so >=threshold edges are dense."""
    import pandas as pd

    from streampro_assignment_etl_spark.streaming.fuzzy_dedup import _bucket_matcher

    vec_state, ref_state = _MemState(), _MemState()
    vec_fn, ref_fn = _bucket_matcher(threshold), _scalar_bucket_matcher(threshold)
    for rows in batches:
        pdf = pd.DataFrame(
            {"doc_id": [d for d, _ in rows], "sig": [s for _, s in rows]}
        )
        # Exercise the multi-chunk iterator path: split each batch into
        # two pdf chunks (applyInPandasWithState may deliver several).
        chunks = [pdf.iloc[: len(pdf) // 2], pdf.iloc[len(pdf) // 2 :]]

        def emitted(fn, state):
            out = list(fn(None, iter(chunks), state))
            if not out:
                return []
            cat = pd.concat(out, ignore_index=True)
            return sorted(
                (int(a), int(b), round(float(e), 9))
                for a, b, e in zip(cat["doc_a"], cat["doc_b"], cat["est_jaccard"])
            )

        assert emitted(vec_fn, vec_state) == emitted(ref_fn, ref_state)
    assert vec_state.exists == ref_state.exists  # all-empty streams mint no state
    if vec_state.exists:
        assert list(vec_state.get[0]) == list(ref_state.get[0])
        assert [list(s) for s in vec_state.get[1]] == [
            list(s) for s in ref_state.get[1]
        ]


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=20),
                st.sampled_from(["fa", "fb", "fc", "fd"]),
            ),
            min_size=0,
            max_size=6,
        ),
        min_size=1,
        max_size=4,
    )
)
def test_sharded_emit_equals_per_key_composition(batches):
    """The sharded-exact state function (one call per shard) must keep
    exactly the rows the fine-grained per-fingerprint function keeps
    when composed over the batch's fingerprints — min doc_id per
    fingerprint per batch, first batch wins."""
    import pandas as pd

    from streampro_assignment_etl_spark.streaming.stateful_dedup import (
        _emit_first_unseen,
        _emit_shard_unseen,
    )

    shard_state = _MemState()
    fine_states: dict[str, _MemState] = {}
    for rows in batches:
        pdf = pd.DataFrame(
            {
                "doc_id": [d for d, _ in rows],
                "text": [f"t{d}" for d, _ in rows],
                "fingerprint": [f for _, f in rows],
            }
        )
        shard_out = list(_emit_shard_unseen(None, iter([pdf]), shard_state))
        shard_kept = sorted(
            (int(r.doc_id), r.fingerprint)
            for o in shard_out
            for r in o.itertuples()
        )
        fine_kept = []
        for f in sorted({f for _, f in rows}):
            sub = pdf[pdf["fingerprint"] == f]
            stt = fine_states.setdefault(f, _MemState())
            for o in _emit_first_unseen(None, iter([sub]), stt):
                fine_kept += [(int(r.doc_id), r.fingerprint) for r in o.itertuples()]
        assert shard_kept == sorted(fine_kept)
    # State parity: the shard's seen-set equals the union of fine keys.
    assert sorted(shard_state.get[0]) == sorted(
        f for f, s in fine_states.items() if s.exists
    )


# -- gap sessionization vs a scalar Python reference ------------------------
@settings(**HYP)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),            # user_id
            st.integers(0, 8000),         # offset seconds (gaps straddle 1800)
            st.integers(0, 999_999),      # microsecond fraction (sub-second ties)
        ),
        min_size=1,
        max_size=40,
    )
)
def test_gap_sessionize_matches_scalar_reference(spark, events):
    """The windowed sessionizer (lag + cumsum, integer-microsecond gap
    test) must agree with an obviously-correct per-user scalar fold —
    including duplicate timestamps (event_id tie-break) and gaps landing
    exactly ON the 1800 s boundary (> , not >=)."""
    import datetime as dt

    from streampro_assignment_etl_spark.queries.streaming_q import (
        _SESSION_GAP_S,
        gap_sessionize,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (
            i,
            base + dt.timedelta(seconds=off, microseconds=us),
            uid,
            "view",
            1.0,
            "{}",
        )
        for i, (uid, off, us) in enumerate(events)
    ]
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="gap_prop_")
    try:
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp_ntz, user_id long, event_type string, "
            "value double, props string",
        ).write.mode("overwrite").parquet(f"{d}/events.parquet")

        got = {
            r["user_id"]: (
                r["n_sessions"], r["n_events"], r["max_session_events"],
                r["total_duration_sec"],
            )
            for r in gap_sessionize(spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)

    # Scalar reference: per user, sort by (ts, event_id), split on
    # gap > 1800s using exact integer microseconds.
    from collections import defaultdict

    per_user = defaultdict(list)
    for eid, ts, uid, *_ in rows:
        per_user[uid].append((ts, eid))
    want = {}
    for uid, evs in per_user.items():
        evs.sort()
        sessions = []
        for ts, _ in evs:
            # tz-independent exact integer micros since epoch (naive ts)
            us = (ts - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
            if not sessions or us - sessions[-1][-1] > _SESSION_GAP_S * 1_000_000:
                sessions.append([us])
            else:
                sessions[-1].append(us)
        durs = [(s[-1] - s[0]) // 1_000_000 for s in sessions]
        want[uid] = (
            len(sessions),
            sum(len(s) for s in sessions),
            max(len(s) for s in sessions),
            sum(durs),
        )
    assert got == want


# -- cohort state-bounding policy hooks (round 9) ----------------------------
# Direct matcher invocations with a GroupState stub: the store-once and
# TTL contracts are pinned here row-for-row (the stream-level tests pin
# the end-to-end pair semantics; these pin the STATE accounting the
# round-8 verdict flagged — state rows per vector must be exactly 1).
class _TimeoutState(_MemState):
    """_MemState + the timeout surface the TTL hook touches."""

    def __init__(self, timed_out: bool = False):
        super().__init__()
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_sets: list[int] = []

    def remove(self):
        self._v = None
        self.removed = True

    def setTimeoutDuration(self, ms):
        self.timeout_sets.append(ms)


def _emb_rows(rows):
    """rows = [(vec_id, unit_vec, is_base)] -> the matcher's input pdf."""
    import pandas as pd

    return pd.DataFrame(
        {
            "vec_id": [r[0] for r in rows],
            "unit": [r[1] for r in rows],
            "is_base": [r[2] for r in rows],
        }
    )


def _run_emb_matcher(state, rows, threshold=0.9, ttl_ms=None):
    import pandas as pd

    from streampro_assignment_etl_spark.streaming.embedding_dedup import (
        _cohort_matcher,
    )

    out = list(_cohort_matcher(threshold, ttl_ms)(None, iter([_emb_rows(rows)]), state))
    if not out:
        return set()
    cat = pd.concat(out, ignore_index=True)
    return {(int(a), int(b)) for a, b in zip(cat["vec_a"], cat["vec_b"])}


E1, E3 = [1.0, 0.0], [0.0, 1.0]


def test_store_once_state_is_one_row_per_base_vector():
    """Only is_base rows persist: a bucket fed two base + one probe row
    holds exactly the two base ids (state rows per vector = 1 — the
    round-8 weak's fix), and the probe row still pairs in-batch with a
    base row it matches."""
    st_ = _MemState()
    pairs = _run_emb_matcher(st_, [(1, E1, True), (2, E1, False), (3, E3, True)])
    assert pairs == {(1, 2)}  # probe 2 pairs with base 1 (cos=1), not with 3
    assert list(st_.get[0]) == [1, 3]  # probe row 2 did NOT persist


def test_probe_only_bucket_mints_no_state():
    """A bucket visited only by probe rows creates NO state entry —
    under store-once probing most visited buckets are probe-only, and
    minting empties would balloon state entries to probed-bucket count."""
    st_ = _MemState()
    pairs = _run_emb_matcher(st_, [(4, E1, False), (5, E1, False)])
    assert pairs == set()  # probe∩probe in-batch must not emit either
    assert not st_.exists


def test_probe_row_pairs_against_cohort_without_joining_it():
    """Cross-batch: a probe row scores against the persisted cohort and
    emits, but leaves the cohort unchanged."""
    st_ = _MemState()
    _run_emb_matcher(st_, [(1, E1, True), (3, E3, True)])
    pairs = _run_emb_matcher(st_, [(6, E1, False)])
    assert pairs == {(1, 6)}
    assert list(st_.get[0]) == [1, 3]


def test_cohort_ttl_sets_refreshes_and_evicts():
    """TTL hook: arrivals set/refresh the processing-time horizon
    (including probe-only arrivals on an existing cohort); a timed-out
    invocation removes the cohort and emits nothing."""
    st_ = _TimeoutState()
    _run_emb_matcher(st_, [(1, E1, True)], ttl_ms=5000)
    assert st_.timeout_sets == [5000]
    # Probe-only arrival on an existing cohort refreshes the horizon.
    _run_emb_matcher(st_, [(2, E3, False)], ttl_ms=5000)
    assert st_.timeout_sets == [5000, 5000]
    assert list(st_.get[0]) == [1]
    # Timeout invocation: cohort dropped, nothing emitted.
    timed = _TimeoutState(timed_out=True)
    timed.update(([1], [E1]))
    assert _run_emb_matcher(timed, [], ttl_ms=5000) == set()
    assert timed.removed and not timed.exists


def test_probe_masks_cover_hamming_ball_exactly_once():
    """Radius-2 probe ring over n planes = 1 + n + C(n,2) DISTINCT
    masks, so a vector visits each probe bucket exactly once; radius 0
    degenerates to the base bucket; out-of-range radius fails loudly."""
    import pytest as _pytest

    from streampro_assignment_etl_spark.streaming.embedding_dedup import probe_masks

    m2 = probe_masks(6, 2)
    assert len(m2) == len(set(m2)) == 1 + 6 + 15
    assert all(bin(m).count("1") <= 2 for m in m2)
    assert probe_masks(6, 0) == [0]
    assert len(probe_masks(6, 1)) == 7
    with _pytest.raises(ValueError):
        probe_masks(6, 7)


# -- BPE merge loop vs a scalar Python reference -----------------------------
@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abc", min_size=2, max_size=6),
        min_size=1,
        max_size=25,
    ),
    st.integers(min_value=1, max_value=4),
)
def test_bpe_merges_match_scalar_reference(spark, words, k):
    """bpe_merge_table's fold-based one-pass apply must equal the
    textbook left-to-right scan (including overlapping pairs like 'aaa'
    under merge (a,a)), and its argmax tie-break (max n, then
    lexicographic smallest pair) must match the scalar fold — over
    adversarial tiny-alphabet vocabularies where ties and self-pairs
    are dense."""
    from collections import Counter

    from streampro_assignment_etl_spark.queries.corpus_ops import bpe_merge_table

    docs = spark.createDataFrame([(0, " ".join(words))], ["doc_id", "text"])
    got = [
        (r["step"], r["left_sym"], r["right_sym"], r["merged"], r["n"])
        for r in bpe_merge_table(docs, k).collect()
    ]

    freq = Counter(w for w in words if len(w) >= 2)
    vocab = [(list(w), f) for w, f in freq.items()]
    want = []
    for step in range(1, k + 1):
        counts: Counter = Counter()
        for syms, f in vocab:
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += f
        if not counts:
            break
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((step, a, b, a + b, n))

        def apply(syms):
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            return out

        vocab = [(apply(s), f) for s, f in vocab]
    assert got == want


def _scalar_store_once_matcher(threshold):
    """Obviously-correct scalar reference for the store-once rule:
    row i pairs with every STORED cohort member and with every earlier
    same-batch row when at least one side is stored here; only stored
    rows join the cohort; a bucket that stores nothing mints no state."""

    def match_bucket(key, pdfs, state):
        import pandas as pd

        if state.exists:
            ids = list(state.get[0])
            vecs = [list(v) for v in state.get[1]]
        else:
            ids, vecs = [], []
        out = []
        rows = []
        for pdf in pdfs:
            rows.extend(
                (int(i), [float(x) for x in v], bool(s))
                for i, v, s in zip(pdf["vec_id"], pdf["unit"], pdf["is_base"])
            )
        for i, (rid, rv, rs) in enumerate(rows):
            for pid, pv in zip(ids, vecs):
                if pid == rid:
                    continue
                sc = sum(a * b for a, b in zip(rv, pv))
                if sc >= threshold:
                    out.append((min(rid, pid), max(rid, pid), sc))
            for qid, qv, qs in (r for r in rows[:i]):
                if qid == rid or not (rs or qs):
                    continue
                sc = sum(a * b for a, b in zip(rv, qv))
                if sc >= threshold:
                    out.append((min(rid, qid), max(rid, qid), sc))
        stored = [(rid, rv) for rid, rv, rs in rows if rs]
        if state.exists or stored:
            state.update(
                (ids + [r for r, _ in stored], vecs + [v for _, v in stored])
            )
        if out:
            yield pd.DataFrame(out, columns=["vec_a", "vec_b", "cos_sim"])

    return match_bucket


_VEC2 = st.tuples(
    st.sampled_from([-1.0, -0.5, 0.0, 0.5, 1.0]),
    st.sampled_from([-1.0, -0.5, 0.0, 0.5, 1.0]),
)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(  # stream of micro-batches …
        st.lists(  # … of (vec_id, 2d payload, is_base) rows
            st.tuples(st.integers(min_value=0, max_value=9), _VEC2, st.booleans()),
            min_size=0,
            max_size=5,
        ),
        min_size=1,
        max_size=4,
    ),
    st.sampled_from([-0.6, 0.0, 0.5, 1.0]),
)
def test_store_once_matcher_equals_scalar(batches, threshold):
    """The vectorized store-once matcher emits exactly the scalar
    reference's pairs and leaves identical state over adversarial
    streams: repeated vec_ids, probe/base mixes, empty batches,
    negative thresholds (every cross pair scores), chunked iterators."""
    import pandas as pd

    from streampro_assignment_etl_spark.streaming.embedding_dedup import (
        _cohort_matcher,
    )

    vec_state, ref_state = _MemState(), _MemState()
    vec_fn = _cohort_matcher(threshold)
    ref_fn = _scalar_store_once_matcher(threshold)
    for rows in batches:
        pdf = pd.DataFrame(
            {
                "vec_id": [r[0] for r in rows],
                "unit": [list(r[1]) for r in rows],
                "is_base": [r[2] for r in rows],
            }
        )
        chunks = [pdf.iloc[: len(pdf) // 2], pdf.iloc[len(pdf) // 2 :]]

        def emitted(fn, state):
            outs = list(fn(None, iter(chunks), state))
            if not outs:
                return []
            cat = pd.concat(outs, ignore_index=True)
            return sorted(
                (int(a), int(b), round(float(s), 9))
                for a, b, s in zip(cat["vec_a"], cat["vec_b"], cat["cos_sim"])
            )

        assert emitted(vec_fn, vec_state) == emitted(ref_fn, ref_state)
    assert vec_state.exists == ref_state.exists
    if vec_state.exists:
        assert list(vec_state.get[0]) == list(ref_state.get[0])
        assert [list(v) for v in vec_state.get[1]] == [
            list(v) for v in ref_state.get[1]
        ]


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(0, 3), min_size=0, max_size=6),  # spans per doc, tiny alphabet forces dups
        min_size=1,
        max_size=5,
    )
)
def test_span_intervals_match_bruteforce_reference(spark, docs_spans):
    """span_dup_intervals against a 10-line Python reference: for
    random documents over a tiny span alphabet (heavy duplication by
    construction), the distributed marking (global first occurrence by
    (doc_id, pos)) + island merge equals the sequential scan exactly —
    interval bounds, counts, and cut text."""
    from streampro_assignment_etl_spark.queries.corpus_ops import (
        _SPAN_WORDS,
        span_dup_intervals,
    )

    # each "span token" expands to an exact 8-word span
    def span_text(tok):
        return " ".join(f"s{tok}w{j}" for j in range(_SPAN_WORDS))

    rows = [
        (d, " ".join(span_text(t) for t in toks))
        for d, toks in enumerate(docs_spans)
        if toks
    ]
    if not rows:
        return

    # brute-force reference: first-occurrence mark in (doc, pos) order,
    # then merge adjacent dup runs per doc
    seen: set[int] = set()
    expect = []
    for d, toks in enumerate(docs_spans):
        run = None
        for pos, t in enumerate(toks):
            dup = t in seen
            seen.add(t)
            if dup:
                if run and run[2] == pos - 1:
                    run[2] = pos
                    run[3].append(t)
                else:
                    if run:
                        expect.append(tuple(run[:3]) + (" ".join(map(span_text, run[3])),))
                    run = [d, pos, pos, [t]]
            else:
                if run:
                    expect.append(tuple(run[:3]) + (" ".join(map(span_text, run[3])),))
                    run = None
        if run:
            expect.append(tuple(run[:3]) + (" ".join(map(span_text, run[3])),))

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r["doc_id"], r["start_pos"], r["end_pos"], r["cut_text"])
        for r in span_dup_intervals(df, hash_span_key=False).collect()
    ]
    assert got == sorted(expect)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # user
            st.sampled_from(["A", "B", "C"]),        # status
            st.integers(min_value=0, max_value=40),  # ts
        ),
        min_size=1,
        max_size=14,
    ),
    st.data(),
)
@pytest.mark.slow
def test_scd2_time_block_batches_converge_in_any_order(spark, changes, data):
    """PROPERTY: for ANY change log, deduped on (user, ts), cut into
    TIME-CONTIGUOUS blocks at arbitrary boundaries, sequential
    scd2_apply_changes converges to the single-shot bulk build for
    every SPAN-ADJACENT arrival order — each block lands either
    entirely after or entirely before everything already applied
    (append or full backfill; the applied blocks always form a
    contiguous time window). That is the out-of-order-wave contract
    the streaming sink relies on.

    Both qualifiers are load-bearing, each discovered by a stronger,
    FALSE formulation of this very test:

    * arbitrary cuts (not time blocks): a continuation collapsed
      inside one batch can't be resurrected when a later batch
      backfills between the run start and the dropped continuation
      (C@15,C@27 together, then A@24 — the record had forgotten C@27);
    * time blocks in ARBITRARY order: a MIDDLE block arriving last
      fails when its flanks have already same-status-collapsed across
      the gap (A@27 applied, A@0 prepended — one run now, A@27's
      start forgotten — then C@25 arrives and bulk says A,C,A but the
      record can only say A,C).

    Span-adjacent orders make both impossible: no block ever lands
    strictly inside the covered window. The contract is documented on
    scd2_apply_changes."""
    from streampro_assignment_etl_spark.queries.reshape import (
        scd2_apply_changes,
        scd2_from_log,
    )

    # one change per (user, ts): the builder's ordering contract
    seen, log = set(), []
    for i, (u, s, t) in enumerate(changes):
        if (u, t) not in seen:
            seen.add((u, t))
            log.append((u, s, t, i))
    log.sort(key=lambda r: r[2])  # time order, so cuts make time blocks
    cols = ["user_id", "status", "ts_us", "change_id"]
    bulk = sorted(
        tuple(r)
        for r in scd2_from_log(spark.createDataFrame(log, cols), "change_id").collect()
    )

    # cut into 1..4 time-contiguous blocks, then apply in a drawn order
    n_cuts = data.draw(st.integers(min_value=0, max_value=3))
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(min_value=1, max_value=max(len(log) - 1, 1)),
                min_size=n_cuts,
                max_size=n_cuts,
            )
        )
    )
    bounds = sorted(set([0, *cuts, len(log)]))
    blocks = [log[a:b] for a, b in zip(bounds, bounds[1:]) if a < b]
    # span-adjacent arrival order: start anywhere, then repeatedly take
    # the block just left or just right of the applied window
    lo = hi = data.draw(st.integers(min_value=0, max_value=len(blocks) - 1))
    order = [lo]
    while lo > 0 or hi < len(blocks) - 1:
        go_left = lo > 0 and (hi == len(blocks) - 1 or data.draw(st.booleans()))
        if go_left:
            lo -= 1
            order.append(lo)
        else:
            hi += 1
            order.append(hi)
    state = None
    for ix in order:
        batch = spark.createDataFrame(blocks[ix], cols)
        state = (
            scd2_from_log(batch, "change_id")
            if state is None
            else scd2_apply_changes(state, batch)
        )
    got = sorted(tuple(r) for r in state.collect())
    assert got == bulk


@settings(max_examples=8, deadline=None)
@given(st.data())
@pytest.mark.slow
def test_delete_where_equals_filter_semantics(spark, tmp_path_factory, data):
    """delete_where (round-15 FS-seam rewrite) must implement exactly
    SQL DELETE semantics over arbitrary tables: rows where the
    predicate is TRUE go, FALSE and NULL stay — i.e. the surviving
    table equals ``df.filter(~coalesce(pred, False))`` — for random
    data (with NULLs), random Hive-partitioned or flat layouts, and
    both predicate shapes the takedown paths use (typed isin lists
    that may name absent ids, and threshold predicates that evaluate
    to NULL on NULL values). Re-running the same delete is a no-op."""
    from pyspark.sql import functions as F

    from streampro_assignment_etl_spark.pipeline.writers import delete_where

    n = data.draw(st.integers(min_value=1, max_value=40))
    rows = [
        (
            i,
            f"d{data.draw(st.integers(min_value=0, max_value=2))}",
            data.draw(
                st.one_of(st.none(), st.integers(min_value=-5, max_value=5))
            ),
        )
        for i in range(n)
    ]
    partitioned = data.draw(st.booleans())
    tbl = str(
        tmp_path_factory.mktemp("delprop") / ("part" if partitioned else "flat")
    )
    df = spark.createDataFrame(rows, "id long, day string, val long")
    w = df.repartition(data.draw(st.integers(min_value=1, max_value=4))).write
    (w.partitionBy("day") if partitioned else w).parquet(tbl)

    shape = data.draw(st.sampled_from(["isin", "threshold", "wipe"]))
    if shape == "isin":
        subset = data.draw(
            st.lists(
                st.integers(min_value=-3, max_value=n + 3), min_size=0, max_size=8
            )
        )
        pred = F.col("id").isin(subset) if subset else F.lit(False)
    elif shape == "threshold":
        cut = data.draw(st.integers(min_value=-5, max_value=5))
        pred = F.col("val") > cut  # NULL val -> NULL -> row stays
    else:
        # the FULL WIPE, drawn deliberately (round 18 — a random run
        # found it: zero surviving files left the table unreadable;
        # the schema-anchor fix makes DELETE-everything leave an
        # empty-but-readable table)
        pred = F.lit(True)

    expect = sorted(
        tuple(r)
        for r in df.filter(~F.coalesce(pred, F.lit(False)))
        .select("id", "day", "val")
        .collect()
    )
    out = delete_where(spark, tbl, pred)
    assert out["rows_deleted"] == n - len(expect)
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(tbl).select("id", "day", "val").collect()
    )
    assert got == expect
    # idempotent: the second application finds nothing
    out2 = delete_where(spark, tbl, pred)
    assert out2["rows_deleted"] == 0 and out2["files_rewritten"] == 0


@pytest.mark.fast
@settings(max_examples=40, deadline=None)
@given(st.data())
def test_object_swap_replay_converges_from_any_crash_point(
    tmp_path_factory, data
):
    """pipeline/object_swap.py: the manifest protocol's whole crash
    contract as ONE property — kill the commit after ANY prefix of its
    action sequence (partial staged uploads, manifest landed, partial
    promotes, partial old-drops/retires, manifest cleanup) and
    ``recover_object_swap`` must converge to exactly one of the two
    legal states: pre-manifest crash → full UNWIND (originals
    byte-identical, staged debris swept, no manifest), post-manifest
    crash → full ROLL-FORWARD (finals carry the staged bytes, olds
    deleted or parked under .retired/ exactly per the recorded retire
    flags). Foreign dot-files survive every path. This subsumes the
    hand-fabricated crash cases in the moto tests with mechanical
    coverage of every kill point."""
    import json as _json
    import pathlib

    from streampro_assignment_etl_spark.pipeline.object_swap import (
        RETIRED_DIR,
        recover_object_swap,
    )

    root = pathlib.Path(tmp_path_factory.mktemp("oswap"))
    tok = "deadbeefdead"
    man_name = f".scd2-manifest-{tok}.json"

    # table: two partitions, 1-2 original files each, known bytes
    n_parts = data.draw(st.integers(1, 2), label="n_parts")
    entries, actions, orig_bytes, staged_bytes = [], [], {}, {}
    for b in range(n_parts):
        pdir = root / f"bucket={b}"
        pdir.mkdir(parents=True)
        olds = []
        for j in range(data.draw(st.integers(1, 2), label=f"olds{b}")):
            rel = f"bucket={b}/part-orig{b}{j}.parquet"
            (root / rel).write_bytes(f"old-{b}-{j}".encode())
            orig_bytes[rel] = f"old-{b}-{j}".encode()
            olds.append(rel)
        staged, final = [], []
        for j in range(data.draw(st.integers(1, 2), label=f"news{b}")):
            s = f"bucket={b}/.scd2-{tok}-{b}{j}.parquet"
            f = f"bucket={b}/part-scd2-{tok}-{b}{j}.parquet"
            staged_bytes[f] = f"new-{b}-{j}".encode()
            staged.append(s)
            final.append(f)
            actions.append(("stage", s, staged_bytes[f]))
        retire_flag = data.draw(st.booleans(), label=f"retire{b}")
        entries.append(
            {
                "bucket": b,
                "old": [] if retire_flag else olds,
                "retire": olds if retire_flag else [],
                "staged": staged,
                "final": final,
            }
        )
    actions.append(("manifest", man_name, _json.dumps(entries).encode()))
    for e in entries:
        for s, f in zip(e["staged"], e["final"]):
            actions.append(("move", s, f))
        for o in e["old"]:
            actions.append(("delete", o, None))
        for r in e["retire"]:
            actions.append(("retire", r, None))
    actions.append(("delete", man_name, None))
    # a foreign dot-file that every recovery path must leave alone
    (root / "bucket=0" / ".scd2-notatoken.parquet").write_bytes(b"foreign")

    k = data.draw(st.integers(0, len(actions)), label="crash_after")
    manifest_landed = False
    for op, a, payload in actions[:k]:
        if op == "stage" or op == "manifest":
            (root / a).write_bytes(payload)
            manifest_landed |= op == "manifest"
        elif op == "move":
            (root / a).rename(root / payload if payload else root / a)
        elif op == "delete":
            (root / a).unlink(missing_ok=True)
        elif op == "retire":
            dst = root / RETIRED_DIR / a
            dst.parent.mkdir(parents=True, exist_ok=True)
            (root / a).rename(dst)
    recover_object_swap(
        str(root),
        manifest_prefix=".scd2-manifest-",
        staged_file_prefix=".scd2-",
        stage_dir_prefix=".scd2stage-",
    )
    listing = {
        p.relative_to(root).as_posix(): p.read_bytes()
        for p in root.rglob("*")
        if p.is_file()
    }
    assert listing.pop("bucket=0/.scd2-notatoken.parquet") == b"foreign"
    assert man_name not in listing
    assert not any("/.scd2-" in f"/{k2}" for k2 in listing), listing
    if manifest_landed:  # roll-forward: committed state exactly
        want = {}
        for e in entries:
            for f in e["final"]:
                want[f] = staged_bytes[f]
            for r in e["retire"]:
                want[f"{RETIRED_DIR}/{r}"] = orig_bytes[r]
        assert listing == want
    else:  # unwind: originals intact, nothing else
        assert listing == orig_bytes


@settings(max_examples=6, deadline=None)
@given(st.data())
@pytest.mark.slow
def test_release_pin_exact_or_loud_under_any_maintenance(
    spark, tmp_path_factory, data
):
    """The audit layer's core contract as ONE property (round 17,
    composing the r16/r17 retention surfaces): pin release r1, then run
    a random sequence of maintenance ops — row delete, whole-table
    compaction, keyed merge, partition age-out, expiry — each randomly
    protected or not. After EVERY op, ``read_release(r1)``:

    * when it RETURNS, returns exactly the pinned rows — never a
      silently different set (the immutable-file fingerprint argument,
      exercised end to end: every writer lands new names, so a stale
      rel can never resolve to different bytes);
    * when the pin is broken it FAILS LOUDLY (missing-file or
      expired-manifest error), and that may only happen after an
      UNPROTECTED destructive op or an expiry — a fully-protected
      history must keep the pin readable forever.
    """
    from pyspark.sql import functions as F

    from streampro_assignment_etl_spark.pipeline.release import (
        expire_releases,
        read_release,
        snapshot_release,
    )
    from streampro_assignment_etl_spark.pipeline.writers import (
        compact_parquet,
        delete_where,
        drop_partitions_before,
        merge_upsert,
    )

    n = data.draw(st.integers(min_value=6, max_value=30), label="rows")
    # d0 is droppable; d1/d2 guarantee the table never empties
    rows = [(i, f"d{i % 3}") for i in range(n)]
    tbl = str(tmp_path_factory.mktemp("relprop") / "t")
    (
        spark.createDataFrame(rows, "id long, day string")
        .repartition(data.draw(st.integers(1, 3), label="shards"))
        .write.partitionBy("day")
        .parquet(tbl)
    )
    snapshot_release(tbl, "r1")
    want = sorted(tuple(r) for r in spark.read.parquet(tbl).collect())

    fully_protected = True
    dropped_d0 = False
    n_ops = data.draw(st.integers(min_value=1, max_value=4), label="n_ops")
    for step in range(n_ops):
        op = data.draw(
            st.sampled_from(["delete", "compact", "merge", "drop", "expire"]),
            label=f"op{step}",
        )
        protected = data.draw(st.booleans(), label=f"protected{step}")
        if op == "delete":
            k = data.draw(st.integers(2, 7), label=f"mod{step}")
            out = delete_where(
                spark, tbl, F.col("id") % k == 0, protect_releases=protected
            )
            if out["rows_deleted"] == 0:
                continue  # nothing destroyed: no state change to check
        elif op == "compact":
            compact_parquet(spark, tbl, protect_releases=protected)
        elif op == "merge":
            # guaranteed-new keys: honoring the partition-locality
            # contract (r18 — the old draw re-inserted key 0 into d2
            # while its d0 row could survive, the exact violation
            # audit_key_partition_locality exists to catch)
            upd = spark.createDataFrame(
                [(n + 100 + step, "d1"), (n + 200 + step, "d2")],
                "id long, day string",
            )
            merge_upsert(
                spark, tbl, upd, keys=("id",), partition_col="day",
                protect_releases=protected,
            )
        elif op == "drop":
            out = drop_partitions_before(
                tbl, "day", "d1", protect_releases=protected
            )
            # an unprotected drop only endangers the pin if d0 was
            # still present (a second drop is a no-op)
            if not out["dropped"]:
                continue
            dropped_d0 = True
        else:
            expire_releases(tbl, expire_all=True)
            protected = False
        if not protected and (op != "drop" or dropped_d0):
            fully_protected = False

        # the fsck runs FIRST and must PREDICT the pinned read's fate
        # (round 18 — verify_release's whole claim is naming the
        # damage before a read trips): ok ⇔ the read returns exactly;
        # damage (missing files, or the manifest itself expired) ⇔ the
        # read fails loudly
        from streampro_assignment_etl_spark.pipeline.release import (
            verify_release,
        )

        try:
            fsck_damage = not verify_release(tbl, "r1")["ok"]
        except Exception:
            fsck_damage = True  # manifest gone (expiry) — loud damage

        try:
            got = sorted(
                tuple(r)
                for r in read_release(spark, tbl, "r1")
                .select("id", "day")
                .collect()
            )
        except (FileNotFoundError, ValueError, OSError):
            # loud is legal — but only once something unprotected ran
            assert not fully_protected, (
                f"pin lost after step {step} ({op}) despite a fully "
                f"protected history"
            )
            assert fsck_damage, (
                f"read failed loudly after step {step} ({op}) but the "
                f"fsck reported the release healthy"
            )
        else:
            assert got == want, (
                f"SILENTLY WRONG pinned read after step {step} ({op}, "
                f"protected={protected})"
            )
            assert not fsck_damage, (
                f"fsck reported damage after step {step} ({op}) but "
                f"the pinned read returned exactly"
            )
    # a fully protected history must still read exactly at the end
    if fully_protected:
        got = sorted(
            tuple(r)
            for r in read_release(spark, tbl, "r1").select("id", "day").collect()
        )
        assert got == want


@settings(max_examples=6, deadline=None)
@given(st.data())
@pytest.mark.slow
def test_partitioned_merge_equals_filter_union_semantics(
    spark, tmp_path_factory, data
):
    """The round-17 partition-scoped merge route must implement exactly
    the keyed-merge semantics the whole-table route always had, for
    random tables and update batches: the merged table equals
    ``target − {rows in a TOUCHED partition whose key appears in
    updates} ∪ updates`` (keys are partition-local by contract — a row
    of the same key in an untouched partition survives), new
    partitions are pure inserts, untouched partitions keep their exact
    rows, and re-running the same merge converges to the same table."""
    from pyspark.sql import functions as F

    from streampro_assignment_etl_spark.pipeline.writers import merge_upsert

    n = data.draw(st.integers(min_value=4, max_value=40), label="rows")
    n_parts = data.draw(st.integers(min_value=1, max_value=4), label="parts")
    rows = [
        (i, f"d{data.draw(st.integers(0, n_parts - 1))}", i * 10)
        for i in range(n)
    ]
    tbl = str(tmp_path_factory.mktemp("mrgprop") / "t")
    df = spark.createDataFrame(rows, "id long, day string, val long")
    df.repartition(data.draw(st.integers(1, 3), label="shards")).write.partitionBy(
        "day"
    ).parquet(tbl)

    n_upd = data.draw(st.integers(min_value=1, max_value=8), label="n_upd")
    upd_rows = []
    for j in range(n_upd):
        # ids may hit existing keys or be new; days may hit existing
        # partitions or name a brand-new one
        uid = data.draw(st.integers(min_value=0, max_value=n + 10), label=f"u{j}")
        uday = f"d{data.draw(st.integers(0, n_parts), label=f'ud{j}')}"
        upd_rows.append((uid, uday, 7777))
    updates = spark.createDataFrame(
        upd_rows, "id long, day string, val long"
    ).dropDuplicates(["id"])

    touched = {r["day"] for r in updates.select("day").distinct().collect()}
    upd_keys = {r["id"] for r in updates.collect()}
    expect = sorted(
        [
            t
            for t in rows
            if not (t[1] in touched and t[0] in upd_keys)
        ]
        + [tuple(r) for r in updates.collect()]
    )

    merge_upsert(spark, tbl, updates, keys=("id",), partition_col="day")
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(tbl).select("id", "day", "val").collect()
    )
    assert got == expect
    # convergent: the same merge again changes nothing
    merge_upsert(spark, tbl, updates, keys=("id",), partition_col="day")
    got2 = sorted(
        tuple(r)
        for r in spark.read.parquet(tbl).select("id", "day", "val").collect()
    )
    assert got2 == expect


@settings(max_examples=8, deadline=None)
@given(st.data())
@pytest.mark.slow
def test_duplicate_update_resolution_deterministic_or_loud(
    spark, tmp_path_factory, data
):
    """Round 18 (VERDICT r17 #2): for RANDOM update batches with
    forced key collisions, ``resolve_update_duplicates`` must (a) with
    order_by, pick exactly the Python-computed max over
    ``(order_by, *rest)`` per key — a total order, so two evaluations
    agree and a merge re-run converges; (b) without order_by, raise
    iff the batch carries conflicting same-key rows, and never mutate
    a target before raising."""
    from streampro_assignment_etl_spark.pipeline.writers import (
        merge_upsert,
        resolve_update_duplicates,
    )

    n = data.draw(st.integers(min_value=2, max_value=12), label="n")
    rows = [
        (
            data.draw(st.integers(0, 3), label=f"k{j}"),  # few keys: collisions
            data.draw(st.integers(0, 2), label=f"s{j}"),
            data.draw(st.sampled_from(["a", "b", "c"]), label=f"p{j}"),
        )
        for j in range(n)
    ]
    updates = spark.createDataFrame(rows, "id long, seq long, payload string")

    # (a) order_by pick == Python max over (seq, payload) per key
    want = {}
    for k, s, p in set(rows):
        if k not in want or (s, p) > want[k]:
            want[k] = (s, p)
    got = {
        r["id"]: (r["seq"], r["payload"])
        for r in resolve_update_duplicates(
            updates, ("id",), "seq"
        ).collect()
    }
    assert got == want

    # (b) conflict detection: raises iff two distinct rows share a key
    distinct = set(rows)
    keys_seen = [k for k, _, _ in distinct]
    has_conflict = len(keys_seen) != len(set(keys_seen))
    if has_conflict:
        with pytest.raises(ValueError, match="CONFLICTING"):
            resolve_update_duplicates(updates, ("id",))
    else:
        assert resolve_update_duplicates(updates, ("id",)).count() == len(
            distinct
        )

    # merge re-run with the same ambiguous batch converges bit-equal
    # (base keys disjoint from update keys, honoring the locality
    # contract: the first merge is a pure insert of the winners, the
    # second anti-joins and re-inserts them identically)
    tbl = str(tmp_path_factory.mktemp("dupprop") / "t")
    spark.createDataFrame(
        [(100 + i, -1, "z") for i in range(5)],
        "id long, seq long, payload string",
    ).write.partitionBy("payload").parquet(tbl)
    want_tbl = sorted(
        [(100 + i, -1, "z") for i in range(5)]
        + [(k, s, p) for k, (s, p) in want.items()]
    )
    for _ in range(2):
        merge_upsert(
            spark, tbl, updates, keys=("id",), partition_col="payload",
            order_by="seq",
        )
        got_tbl = sorted(
            tuple(r)
            for r in spark.read.parquet(tbl)
            .select("id", "seq", "payload")
            .collect()
        )
        assert got_tbl == want_tbl

@settings(max_examples=5, deadline=None)
@given(st.data())
@pytest.mark.slow
def test_multilevel_merge_equals_reference_semantics(
    spark, tmp_path_factory, data
):
    """Round 19: the multi-level partition-scoped merge as a property —
    for ANY two-level layout and ANY contract-honoring update batch,
    merge_upsert(partition_col=(p1, p2)) produces exactly the
    reference semantics (target minus updated keys, plus the batch),
    and every leaf the batch does NOT touch keeps byte-identical
    files. Updates draw existing keys WITH their current partition
    values (the locality contract) plus fresh keys in arbitrary —
    including brand-new — leaves."""
    import pathlib

    from streampro_assignment_etl_spark.pipeline.writers import merge_upsert

    n1 = data.draw(st.integers(1, 2), label="n_p1")
    n2 = data.draw(st.integers(1, 3), label="n_p2")
    n_rows = data.draw(st.integers(4, 24), label="n_rows")
    rows = [
        (i, f"v{i}", f"a{i % n1}", i % n2) for i in range(n_rows)
    ]
    root = pathlib.Path(tmp_path_factory.mktemp("mlmerge")) / "t"
    tbl = str(root)
    spark.createDataFrame(
        rows, "id INT, val STRING, p1 STRING, p2 INT"
    ).repartition(1).write.partitionBy("p1", "p2").parquet(tbl)

    upd_existing = data.draw(
        st.lists(st.sampled_from(range(n_rows)), unique=True, max_size=5),
        label="upd_existing",
    )
    n_new = data.draw(st.integers(0, 3), label="n_new")
    upd_rows = [
        (i, "UPD", f"a{i % n1}", i % n2) for i in upd_existing
    ] + [
        (
            1000 + j,
            "NEW",
            data.draw(st.sampled_from([f"a{k}" for k in range(n1 + 1)]),
                      label=f"new_p1_{j}"),
            data.draw(st.integers(0, n2), label=f"new_p2_{j}"),
        )
        for j in range(n_new)
    ]
    if not upd_rows:
        upd_rows = [(0, "UPD", "a0", 0)]
        upd_existing = [0]
    upd = spark.createDataFrame(
        upd_rows, "id INT, val STRING, p1 STRING, p2 INT"
    )
    touched = {(r[2], r[3]) for r in upd_rows}
    before_bytes = {
        p: p.read_bytes()
        for p in root.rglob("*.parquet")
        if not any(
            seg.startswith((".", "_")) for seg in p.relative_to(root).parts
        )
        and (
            p.relative_to(root).parts[0].split("=", 1)[1],
            int(p.relative_to(root).parts[1].split("=", 1)[1]),
        )
        not in touched
    }

    out = merge_upsert(
        spark, tbl, upd, keys=("id",), partition_col=("p1", "p2")
    )
    upd_ids = {r[0] for r in upd_rows}
    expected = sorted(
        [r for r in rows if r[0] not in upd_ids] + upd_rows
    )
    got = sorted(
        (r["id"], r["val"], r["p1"], int(r["p2"]))
        for r in spark.read.parquet(tbl).collect()
    )
    assert got == expected
    assert out["updated"] == len(upd_existing)
    assert out["inserted"] == len(upd_rows) - len(upd_existing)
    for p, want in before_bytes.items():
        assert p.read_bytes() == want, p
