"""IVF-Flat approximate nearest neighbors (north-star operator).

The scale path for embedding similarity search: partition the corpus
into C centroid cells (inverted file), probe only the P cells nearest
each query, score exactly within probed cells. Cost per query drops
from O(N) to O(N·P/C) expected, with recall controlled by P.

Centroid "training" offers two deterministic paths: id-seeding (the C
lowest-vec_id vectors — reproducible AND oracle-checkable, since a
DuckDB oracle can replay the identical plan) and ``kmeans_centroids``
(spherical Lloyd iterations on an auditable hash-bucket sample with
farthest-first init — the path for real clustered corpora, pinned by a
cluster-recovery test instead of a SQL oracle). Everything downstream
(assignment, probing, in-cell scoring) takes either centroid list
unchanged, and assignment/scoring stay JVM-side column expressions —
no Python in the per-vector path.

Brute-force cosine (`queries/extensions.similarity_topk_cosine`) is
the correctness anchor; tests measure recall@k of this operator
against it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DEFAULT_CENTROIDS = 16
DEFAULT_PROBES = 4


def _dot_sql(a_sql: str, b_sql: str) -> str:
    """Sequential-fold dot product as SQL text — the ONE definition of
    the vector-math fold every similarity path scores with. The
    left-to-right accumulation from a 0.0D seed is DuckDB's
    ``list_dot_product`` order, so scores are bit-identical
    cross-engine (the contract the oracle gate checks). Text, not the
    Column higher-order-function API: one ``F.expr`` parse costs ~1
    py4j round trip, the same tree built through Column lambdas ~30
    (lambda-variable creation, ~26 ms per fold in the r20 cProfile)."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x)"
    )


def _as_double_sql(c: str) -> str:
    """Column ``c`` cast element-wise to array<double> (backtick-quoted
    column name)."""
    return f"transform(`{c}`, x -> cast(x as double))"


def _norm_sql(v_sql: str) -> str:
    """sqrt(``_dot_sql(v, v)``). Hoist it per ROW (not per pair) and
    candidate scoring drops from three folds to one: ``_cosine_sql``
    with carried norms is bit-identical to the inline cosine, because
    the substituted norms are the identical subexpressions."""
    return f"sqrt({_dot_sql(v_sql, v_sql)})"


def _cosine_sql(a_sql: str, b_sql: str, an_sql: str, bn_sql: str) -> str:
    """Cosine of ``a`` and ``b`` given their norms (``_norm_sql`` text or
    the name of a column that carries it)."""
    return f"{_dot_sql(a_sql, b_sql)} / ({an_sql} * {bn_sql})"


def _py_norm(vec: list[float]) -> float:
    """Driver-side replica of ``_norm_sql`` for literal centroids: Python
    floats are IEEE doubles and the fold order matches ``_dot_sql``, so
    the result is bit-identical to the JVM evaluating the same
    expression."""
    import math

    acc = 0.0
    for x in vec:
        x = float(x)
        acc = acc + x * x
    return math.sqrt(acc)


def _finite_positive(c: Column) -> Column:
    """True iff ``c`` is a finite positive double — the usable-norm
    predicate for every similarity path. A bare ``c > 0`` is NOT enough:
    Spark orders NaN above every numeric, so a NaN norm (an embedding
    with a NaN component — what a failed embed job emits) passes ``> 0``,
    scores NaN cosine, and ranks FIRST under desc ordering in every
    top-k. ``c < +inf`` rejects both NaN (ordered above inf) and inf
    (overflowed squared norm); ``~isnan`` is kept explicit so the intent
    survives anyone weakening the range check."""
    return (c > 0) & (c < F.lit(float("inf"))) & ~F.isnan(c)


def seed_centroids(emb: DataFrame, id_col: str, vec_col: str, n: int) -> DataFrame:
    """Deterministic centroid set: the n lowest-id vectors.
    (kmeans-on-sample drop-in point at real scale.)"""
    return (
        emb.orderBy(id_col)
        .limit(n)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.expr(_as_double_sql(vec_col)).alias("centroid"),
        )
    )


CentroidList = list[tuple[int, list[float]]]


def kmeans_centroids(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n: int,
    sample_pct: int = 20,
    iters: int = 10,
    max_sample_rows: int = 100_000,
) -> CentroidList:
    """Spherical k-means on a deterministic corpus sample — the trained
    alternative to ``seed_centroids`` for real (clustered) corpora.

    The sample is the auditable md5-bucket selection used everywhere
    else in this repo (pure function of the id — reproducible across
    runs/partitionings), collected to the driver (a k-means training
    sample is thousands of rows by contract, the same scale as any
    broadcast dim) and run through Lloyd iterations in numpy: normalize
    → assign to argmax-cosine centroid → recompute means → renormalize.
    Initialization is farthest-first from the hash-ordered sample's
    first vector, so training is fully deterministic. Everything downstream (assignment, probing,
    in-cell scoring) takes the returned CentroidList unchanged.

    The IVF driver query stays on ``seed_centroids`` because its DuckDB
    oracle replays seeding in SQL; this trainer is pinned by a recall
    test instead and a hard ``max_sample_rows`` driver-collect cap
    enforced as a distributed top-k (``limit`` after ``orderBy`` plans
    as TakeOrderedAndProject — a percentage of a 100 TB corpus must
    never reach the driver). The sample is ordered by the md5 token
    hash of the id (ties → id), NOT by raw id: a lowest-id cap slice
    on a time-ordered corpus would train exclusively on the oldest
    rows, while the hash order keeps the capped slice an unbiased —
    and still fully deterministic, partitioning-independent — draw
    (tests/test_operators.py) — on clustered data it
    recovers the true cluster structure that id-seeding misses.
    """
    import numpy as np

    from .simhash import token_hash60

    frame = emb.select(
        F.col(id_col).alias("_id"), F.expr(_as_double_sql(vec_col)).alias("_v")
    )
    hash_key = token_hash60(F.col("_id").cast("string"))
    if sample_pct < 100:
        frame = frame.filter(hash_key % 100 < sample_pct)
    rows = frame.orderBy(hash_key, "_id").limit(max_sample_rows).collect()
    if len(rows) < n:
        raise ValueError(f"sample of {len(rows)} rows cannot seed {n} centroids")
    X = np.array([r["_v"] for r in rows], dtype=np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    # Farthest-first init (deterministic k-means++ flavor): the lowest-id
    # vector, then repeatedly the sample point least similar to its
    # nearest chosen centroid (ties → lowest index). Plain take-first-n
    # init degenerates when low ids share one cluster.
    chosen = [0]
    best_sim = Xn @ Xn[0]
    for _ in range(1, n):
        nxt = int(np.argmin(best_sim))
        chosen.append(nxt)
        best_sim = np.maximum(best_sim, Xn @ Xn[nxt])
    C = Xn[chosen].copy()
    for _ in range(iters):
        assign = (Xn @ C.T).argmax(axis=1)
        for j in range(n):
            members = Xn[assign == j]
            if len(members):
                m = members.mean(axis=0)
                norm = np.linalg.norm(m)
                if norm > 0:
                    C[j] = m / norm
    return [(j, C[j].tolist()) for j in range(n)]


def collect_centroids(centroids: DataFrame) -> CentroidList:
    """Materialize the (small, by-contract) centroid table to driver
    literals so cell assignment can be a pure projection. C is 16-1024
    in practice — the same scale as any broadcast dim."""
    return [(r["centroid_id"], list(r["centroid"])) for r in centroids.collect()]


def _double_array_sql(xs: list[float]) -> str:
    """SQL literal for array<double>. ``repr`` emits the shortest
    round-trip decimal and Java parses it back to the identical IEEE
    bits (both sides implement shortest-repr), verified bit-exact in
    tests — so this is the same literal ``F.lit`` would build, minus
    the one-py4j-call-per-element cost (0.7 s per 16x64 matrix, paid
    twice per ANN query, vs ~10 ms for one parsed string).

    Non-finite components are rejected LOUDLY: ``repr`` would render
    them as ``infD``/``nanD``, which the SQL parser cannot read, and a
    centroid containing inf/NaN is garbage upstream (a vector whose
    squared norm overflowed) — fail at build time with a real message
    instead of a ParseException."""
    import math

    vals = [float(x) for x in xs]
    if not all(map(math.isfinite, vals)):
        raise ValueError(f"non-finite component in centroid/plane vector: {vals}")
    return "array(" + ",".join(repr(x) + "D" for x in vals) + ")"


def _nested_double_literal(
    rows: list[list[float]], lambda_sql: str | None = None
) -> Column:
    """``array<array<double>>`` as ONE catalyst ``Literal`` node — or,
    with ``lambda_sql`` (SQL text such as ``"(c, i) -> ..."``),
    ``transform(<that literal>, <lambda_sql>)``: the way a lambda body
    written with ``_dot_sql`` scores every row of a literal matrix. SQL
    text cannot hold the binary literal, so the parsed lambda and the
    literal are joined in one ``ArrayTransform`` node — the same tree
    ``F.transform`` builds, with no temporary column to prune.

    Why not ``F.expr("array(array(...)))"`` (the r19 form) or
    ``F.lit(nested_list)``: the parsed form builds a ~rows·dim-node
    ``CreateArray`` tree that Spark-classic re-ANALYZES at every
    subsequent DataFrame operation (~0.1 s per op for a 16×64 matrix
    on a loaded host — the dominant residual plan-build cost of the
    IVF family, r19 "not yet optimized" #1), and PySpark's ``lit``
    secretly expands a list element-wise into the same tree via one
    py4j call per element (measured r20: 13k py4j calls per ann_ivf
    build). A ``Literal`` LEAF is one node no matter the payload, so
    downstream re-analysis cost collapses (r20 probe: a 12-op chain
    over the 16×64 literal analyzes in 0.13 s vs 0.27 s parsed).

    The doubles ship to the JVM as ONE binary py4j transfer
    (big-endian pack → ``ByteBuffer.asDoubleBuffer`` → per-row
    ``double[]`` → ``UnsafeArrayData``), ~4 py4j calls per row instead
    of one per element; bit-exactness is structural (no text round
    trip at all — the IEEE bytes themselves cross) and pinned against
    the parsed form in tests. Catalyst internals are version-coupled,
    so any failure falls back to the parsed-expr form — identical
    floats, only slower analysis."""
    import math
    import struct as _struct

    from pyspark.sql import SparkSession

    vals = [[float(x) for x in r] for r in rows]
    if not all(math.isfinite(x) for r in vals for x in r):
        raise ValueError(f"non-finite component in literal matrix: {vals}")
    try:
        spark = SparkSession.getActiveSession()
        jvm = spark._jvm
        gw = spark.sparkContext._gateway
        flat = [x for r in vals for x in r]
        buf = jvm.java.nio.ByteBuffer.wrap(
            _struct.pack(f">{len(flat)}d", *flat)
        ).asDoubleBuffer()
        uad = jvm.org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        outer = gw.new_array(jvm.java.lang.Object, len(vals))
        for i, r in enumerate(vals):
            darr = gw.new_array(jvm.double, len(r))
            buf.get(darr)
            outer[i] = uad.fromPrimitiveArray(darr)
        gad = jvm.org.apache.spark.sql.catalyst.util.GenericArrayData(outer)
        dt = jvm.org.apache.spark.sql.types.DataType.fromDDL("array<array<double>>")
        node = jvm.org.apache.spark.sql.catalyst.expressions.Literal(gad, dt)
        if lambda_sql is not None:
            parser = spark._jsparkSession.sessionState().sqlParser()
            node = jvm.org.apache.spark.sql.catalyst.expressions.ArrayTransform(
                node, parser.parseExpression(lambda_sql)
            )
        jc = jvm.org.apache.spark.sql.classic.ExpressionUtils.column(node)
        from pyspark.sql.classic.column import Column as _ClassicColumn

        return _ClassicColumn(jc)
    except Exception:
        # Catalyst internals moved (or Connect session): same floats
        # through the shortest-repr parse round trip, slower analysis.
        parsed = "array(" + ",".join(_double_array_sql(r) for r in vals) + ")"
        if lambda_sql is not None:
            parsed = f"transform({parsed}, {lambda_sql})"
        return F.expr(parsed)


def _scored_cells(vec_sql: str, cents: CentroidList, vnorm_sql: str) -> Column:
    """Unsorted array of struct(_ns, cid), one per centroid. ``_ns`` is
    the negated cosine, so the natural ascending struct order ranks
    cosine DESC, centroid_id ASC — exactly the ROW_NUMBER ordering the
    oracle replays (IEEE negation is exact). Top-P consumers
    (``probe_cells``) ``array_sort`` and slice; top-1 consumers
    (``assign_cells``) take ``array_min`` and skip the per-row sort.

    ``vnorm_sql`` is the row's own norm hoisted by the caller (computed
    once per row, not once per centroid) and each centroid's norm is
    precomputed on the driver (``_py_norm``, bit-identical fold), so
    scoring C cells costs C ``_dot_sql`` folds instead of 3C: _ns =
    -(dot(v,c)/(vnorm*cnorm)) ≡ -cosine(v,c) bit-for-bit.

    Inputs are SQL expression TEXT (column names, backtick-quoted by
    the caller if needed). The centroid matrix rides in as ONE
    ``Literal`` node (``_nested_double_literal`` — the r19 parsed
    ``array(array(...))`` tree of ~C·dim nodes was re-analyzed at
    every downstream DataFrame op, the residual 0.7–0.8 s of warm plan
    build r19 measured), scored by ONE SQL-text lambda — a
    per-centroid Python loop would inline C copies of the fold and plan
    compile time, not row work, would dominate the query. The
    per-centroid norms and ids stay small parsed arrays (C nodes each).
    transform's (element, index) lambda pairs each centroid vector with
    its norm and id via ``element_at`` — bit-identical floats, pinned
    by the oracle gate and the literal round-trip test."""
    import math

    norms = [_py_norm(cvec) for _, cvec in cents]
    if not all(map(math.isfinite, norms)):
        raise ValueError(f"non-finite centroid norm: {norms}")
    cids = ",".join(str(int(cid)) for cid, _ in cents)
    return _nested_double_literal(
        [cvec for _, cvec in cents],
        "(_c, _i) -> struct("
        f"-({_dot_sql(vec_sql, '_c')} / ({vnorm_sql} * "
        f"element_at({_double_array_sql(norms)}, _i + 1))) AS _ns, "
        f"element_at(array({cids}), _i + 1) AS cid)",
    )


def _as_centroid_list(centroids: DataFrame | CentroidList) -> CentroidList:
    if isinstance(centroids, DataFrame):
        return collect_centroids(centroids)
    return centroids


def assign_cells(
    emb: DataFrame,
    centroids: DataFrame | CentroidList,
    id_col: str,
    vec_col: str,
    norm_col: str | None = None,
) -> DataFrame:
    """Nearest-centroid (by cosine) cell assignment: (id, vec, cell).

    A pure map-side projection: the C centroids are driver-collected
    literals, each row computes its C cosines and takes the argmax via
    a sorted literal-struct array — N·C dot products, ZERO shuffles, no
    corpus byte ever leaves its scan partition. (The previous
    crossJoin + top-1-window shape moved every corpus vector through an
    Exchange on the row id — one full pass of embedding bytes over the
    wire for what is an argmax over broadcast constants.)

    ``norm_col`` optionally keeps the per-row norm (already computed
    for the argmax) as an output column so downstream exact scoring can
    reuse it instead of re-deriving it per candidate pair.

    Rows whose norm is zero, NaN, or infinite (all-zero, NaN-poisoned,
    or overflowing embeddings — what a failed embed job emits) are
    EXCLUDED: cosine is undefined for them, and under ANSI mode a
    zero-norm row would fail an entire 100 TB job with DIVIDE_BY_ZERO
    mid-stage while a NaN row would rank first in every top-k.
    """
    cents = _as_centroid_list(centroids)
    v_sql = _as_double_sql(vec_col)
    base = emb.select(
        F.col(id_col),
        F.expr(v_sql).alias(vec_col),
        F.expr(_norm_sql(v_sql)).alias("_vn"),
    ).filter(_finite_positive(F.col("_vn")))
    out = base.select(
        F.col(id_col),
        F.col(vec_col),
        F.col("_vn"),
        F.array_min(_scored_cells(f"`{vec_col}`", cents, "_vn"))["cid"].alias(
            "cell"
        ),
    )
    if norm_col is None:
        return out.drop("_vn")
    return out.withColumnRenamed("_vn", norm_col)


def probe_cells(
    queries: DataFrame,
    centroids: DataFrame | CentroidList,
    id_col: str,
    vec_col: str,
    probes: int,
    norm_col: str | None = None,
) -> DataFrame:
    """Top-``probes`` cells per query: (query_id, qv, cell) — the same
    map-side ranked-cells projection as ``assign_cells``, sliced to P
    and exploded (still no shuffle; the query set is small anyway).
    Zero/NaN/inf-norm queries are excluded like ``assign_cells`` corpus
    rows."""
    cents = _as_centroid_list(centroids)
    v_sql = _as_double_sql(vec_col)
    base = queries.select(
        F.col(id_col).alias("query_id"),
        F.expr(v_sql).alias("qv"),
        F.expr(_norm_sql(v_sql)).alias("_qn"),
    ).filter(_finite_positive(F.col("_qn")))
    ranked = F.slice(F.array_sort(_scored_cells("qv", cents, "_qn")), 1, probes)
    out = base.select(
        "query_id",
        "qv",
        F.col("_qn"),
        F.explode(F.transform(ranked, lambda s: s["cid"])).alias("cell"),
    )
    if norm_col is None:
        return out.drop("_qn")
    return out.withColumnRenamed("_qn", norm_col)


def ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = DEFAULT_CENTROIDS,
    probes: int = DEFAULT_PROBES,
    centroids: CentroidList | None = None,
) -> DataFrame:
    """IVF-Flat top-k: (query_id, neighbor_id, rank, cosine_sim).

    Candidates = corpus rows whose cell is probed by the query (an
    equi-join on cell — the bucketed path; the probe fraction P/C bounds
    scanned corpus share). Exact cosine + per-query top-k window on
    candidates only. Self-matches excluded, ties broken by neighbor_id.
    ``centroids`` accepts a trained list (``kmeans_centroids``) for
    clustered corpora; default is deterministic id-seeding, which the
    DuckDB oracle can replay.
    """
    cents = centroids or collect_centroids(
        seed_centroids(emb, id_col, vec_col, n_centroids)
    )
    cells = assign_cells(emb, cents, id_col, vec_col, norm_col="_cn")
    probed = probe_cells(queries, cents, id_col, vec_col, probes, norm_col="_qn")
    cand = probed.join(
        cells.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), "_cn", "cell"
        ),
        "cell",
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    # One ``_dot_sql`` fold per pair: both norms ride in from the cell
    # frames (bit-identical to the inline cosine — see ``_norm_sql``).
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.expr(_cosine_sql("qv", "cv", "_qn", "_cn")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "rank", F.round("cos_sim", 4).alias("cosine_sim")
        )
        .orderBy("query_id", "rank")
    )


DEFAULT_PAIR_BLOCK = 256


def _unpack_pack_column(col):
    """(per-row numpy views) of a ``list<struct<_id,_v,_n>>`` Arrow
    column: ids (int64), V (rows x dim float64), ns (float64), plus the
    list offsets to slice per pack. Buffer-level conversion — no
    ``as_py`` per element — so unpacking a 10^4-vector pack costs three
    array casts, not 10^6 Python objects. Raises loudly on ragged
    vector lengths (a corpus with mixed embedding dims is garbage
    upstream; the JVM fold would silently null-pad it)."""
    import numpy as np

    offsets = col.offsets.to_numpy(zero_copy_only=False)
    # Rebase to 0: a SLICED Arrow list array keeps its raw offsets
    # while flatten() rebases the values it returns — indexing the
    # flattened buffers with raw offsets would silently misalign rows
    # (r19 ADVICE). Spark hands whole batches today; this keeps the
    # function correct if it ever hands slices.
    offsets = offsets - offsets[0]
    structs = col.flatten()
    ids = structs.field("_id").to_numpy(zero_copy_only=False)
    ns = structs.field("_n").to_numpy(zero_copy_only=False)
    vlist = structs.field("_v")
    voff = vlist.offsets.to_numpy(zero_copy_only=False)
    dims = np.diff(voff)
    if len(dims) and (dims != dims[0]).any():
        raise ValueError(
            f"ragged embedding dims in pack: {sorted(set(dims.tolist()))[:5]}"
        )
    dim = int(dims[0]) if len(dims) else 0
    V = vlist.flatten().to_numpy(zero_copy_only=False).reshape(-1, max(dim, 1))
    return ids, V, ns, offsets


def _make_block_pair_scorer(threshold: float):
    """mapInArrow scorer for (ba, bb, pa, pb) block-pair rows: exact
    cosine for every cross pair of the two packs, computed as the same
    strict left-fold sum as ``_dot_sql`` (``np.cumsum`` is a sequential
    scan, so each pair's accumulation order — and therefore every IEEE
    rounding step — is bit-identical to the JVM fold and to DuckDB's
    list_dot_product). Packs are id-ordered subsets of one cell with
    each id in exactly one pack per cell, so ba == bb is the in-block
    upper triangle and ba < bb the full cross; emitted pairs are
    normalized to (min id, max id) — bit-exact, because both the dot
    fold (element-wise products, same accumulation order) and the norm
    product are symmetric in the two vectors. Ids are int64 by the
    output-schema contract (see ``near_dup_pairs_cells``)."""
    import numpy as np
    import pyarrow as pa

    def score(batches):
        for batch in batches:
            ca, cb = batch.column("pa"), batch.column("pb")
            same = batch.column("ba").to_numpy(zero_copy_only=False) == batch.column(
                "bb"
            ).to_numpy(zero_copy_only=False)
            ids_a, Va, ns_a, off_a = _unpack_pack_column(ca)
            ids_b, Vb, ns_b, off_b = _unpack_pack_column(cb)
            outs: list[tuple] = []
            for i in range(batch.num_rows):
                sa, ea = off_a[i], off_a[i + 1]
                sb, eb = off_b[i], off_b[i + 1]
                ida, A, na = ids_a[sa:ea], Va[sa:ea], ns_a[sa:ea]
                idb, B, nb = ids_b[sb:eb], Vb[sb:eb], ns_b[sb:eb]
                if not len(ida) or not len(idb):
                    continue
                # Strict left-fold pairwise dots (see docstring).
                dots = np.cumsum(A[:, None, :] * B[None, :, :], axis=2)[:, :, -1]
                cos = dots / (na[:, None] * nb[None, :])
                if same[i]:
                    ii, jj = np.triu_indices(len(ida), k=1)
                else:
                    ii, jj = np.meshgrid(
                        np.arange(len(ida)), np.arange(len(idb)), indexing="ij"
                    )
                    ii, jj = ii.ravel(), jj.ravel()
                c = cos[ii, jj]
                keep = c >= threshold
                if keep.any():
                    va, vb = ida[ii][keep], idb[jj][keep]
                    # (min, max) pair order — see docstring.
                    outs.append((np.minimum(va, vb), np.maximum(va, vb), c[keep]))
            if outs:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate([o[0] for o in outs]), type=pa.int64()),
                        pa.array(np.concatenate([o[1] for o in outs]), type=pa.int64()),
                        pa.array(np.concatenate([o[2] for o in outs]), type=pa.float64()),
                    ],
                    names=["vec_a", "vec_b", "_cos"],
                )

    return score


def near_dup_pairs_cells(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_centroids: int = DEFAULT_CENTROIDS,
    probes: int = DEFAULT_PROBES,
    block_size: int = DEFAULT_PAIR_BLOCK,
) -> DataFrame:
    """Cell-restricted embedding near-dup mining:
    (vec_a, vec_b, cos_sim) for all pairs with cosine >= threshold whose
    probed IVF cells intersect.

    Ids must be int64 and unique per corpus (the scorer's Arrow output
    schema is ``vec_a long, vec_b long`` — string ids would need a
    surrogate key attached first; uniqueness makes each (id, cell)
    assignment a single pack member, so no self-pair can be emitted).

    The scale path for corpus-level near-dup detection: every vector is
    blocked into its ``probes`` nearest centroid cells (the same
    zero-shuffle ranked-cells projection as ``assign_cells``), each
    cell's vectors pack into id-ordered blocks of ``<= block_size``
    (one id-sorted slice per input partition — see the de-skew note at
    the window below), and candidate generation is an EQUI-JOIN of
    block pairs on the cell id
    — candidates are O(N²·(probes/C)) pairs grouped into
    O((n_c/B)²) block rows per cell, a hash join, never a
    BroadcastNestedLoop. Multi-probe blocking on BOTH sides means a
    pair is found iff the two vectors share any of their top-P cells —
    symmetric, strictly higher recall than top-1 blocking. A pair found
    through several shared cells is deduplicated after the
    (deterministic) cosine is attached.

    Scoring runs as one vectorized numpy pass per block pair
    (``_make_block_pair_scorer``): each vector crosses the Python
    boundary once per block pair instead of once per PAIR, cutting the
    Arrow traffic by ~``block_size``× versus scoring joined pair rows,
    and the per-pair sum keeps the exact sequential fold ``_dot_sql`` uses
    (r19 rewrite: the previous per-pair interpreted fold was 2 × 64
    lambda evals per candidate — the whole query was ~14.8 s at sf0.1
    against ~3 s for this plan, identical output pinned by
    test_near_dup_cells_block_size_invariant and the driver oracle).
    ``block_size`` bounds per-task memory at B²·dim doubles (~33 MB at
    B=256, dim=64); results are B-invariant, so mis-sizing costs time,
    never correctness.

    Recall is governed by the same probe math as ``ann_topk``; the
    all-pairs form (the registered oracle) verifies that on the fixed
    test corpora blocking misses nothing at this threshold.
    """
    from ._spread import spread_small_input

    cents = collect_centroids(seed_centroids(emb, id_col, vec_col, n_centroids))
    v_sql = _as_double_sql(vec_col)
    # Spread a few-split input before the ranked-cells projection: the
    # C-cosine argmax is the most expensive per-row step (same
    # rationale as minhash.fuzzy_dup_pairs). Gated on the actual
    # partition count — a many-split corpus at real scale skips the
    # shuffle entirely (guide §2.4; r19 verdict "What's wrong #2").
    base = (
        spread_small_input(emb)
        .select(
            F.col(id_col).alias("_id"),
            F.expr(v_sql).alias("_v"),
            F.expr(_norm_sql(v_sql)).alias("_n"),
        )
        .filter(_finite_positive(F.col("_n")))  # cosine undefined otherwise
    )
    ranked = F.slice(F.array_sort(_scored_cells("_v", cents, "_n")), 1, probes)
    blocked = base.select(
        "_id",
        "_v",
        "_n",
        F.explode(F.transform(ranked, lambda s: s["cid"])).alias("cell"),
    )
    # De-skew (r19 verdict #6): a per-cell row_number window funneled a
    # whole cell through ONE task's sort before blocking spread it
    # again. Blocking needs NO global per-cell rank — any deterministic
    # partition of a cell into <= block_size groups yields the identical
    # pair set and cosines (block-invariance, pinned in tests) — so the
    # window partitions by (input partition, cell): a hot cell splits
    # across every input partition, each task sorts only its local
    # slice, and the hard B²·dim per-task memory bound is kept (local
    # blocks are exactly <= block_size). The scorer normalizes emitted
    # pairs to (min, max) since cross-block id order is no longer
    # globally monotone.
    w = Window.partitionBy("_pid", "cell").orderBy("_id")
    packs = (
        blocked.withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_lblk", ((F.row_number().over(w) - 1) / F.lit(block_size)).cast("long")
        )
        # Group by the window's OWN partition keys plus the local block
        # so the pack aggregation reuses the window's exchange (keys
        # (_pid, cell, _lblk) are a superset of the partitioning
        # (_pid, cell) — grouping by the derived _blk instead would
        # force a second full-payload shuffle, since the optimizer
        # can't see that _blk embeds _pid).
        .groupBy("_pid", "cell", "_lblk")
        # array_sort on struct(_id first) = deterministic id order
        # within the pack regardless of collect_list's arrival order.
        .agg(F.array_sort(F.collect_list(F.struct("_id", "_v", "_n"))).alias("pack"))
        # Unique block id per (input partition, local block): local
        # block indexes are partition_rows/B < 2^32, pids < 2^31.
        .select(
            "cell",
            (F.col("_pid").cast("long") * F.lit(1 << 32) + F.col("_lblk")).alias(
                "_blk"
            ),
            "pack",
        )
    )
    a = packs.select("cell", F.col("_blk").alias("ba"), F.col("pack").alias("pa"))
    b = packs.select("cell", F.col("_blk").alias("bb"), F.col("pack").alias("pb"))
    bp = (
        a.join(b, "cell")
        .filter(F.col("ba") <= F.col("bb"))
        .select("ba", "bb", "pa", "pb")
    )
    scored = bp.mapInArrow(
        _make_block_pair_scorer(float(threshold)), "vec_a long, vec_b long, _cos double"
    )
    return (
        scored.filter(F.col("_cos") >= F.lit(float(threshold)))
        .select("vec_a", "vec_b", F.round("_cos", 4).alias("cos_sim"))
        .distinct()
    )


def cosine_topk_vectorized(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Brute-force cosine top-k via Arrow-batched numpy matmul — the
    vectorized alternative to the pure-built-in `similarity_topk_cosine`
    path. Same O(Q·N) work, executed as one BLAS matmul per batch
    instead of interpreted per-element folds (~10-100x on wide query
    sets); each partition emits only its local top-k per query, so the
    final window ranks Q·k·partitions rows, never Q·N.

    The query matrix is collected to the driver (queries are small by
    contract) and closure-broadcast to executors.
    """
    import numpy as np
    import pandas as pd

    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        raise ValueError("empty query set")
    qids = np.array([r[id_col] for r in qrows])
    Q = np.array([list(r[vec_col]) for r in qrows], dtype=np.float64)
    qnorm = np.linalg.norm(Q, axis=1, keepdims=True)
    # cosine undefined for zero/NaN/inf-norm queries
    keep_q = np.isfinite(qnorm[:, 0]) & (qnorm[:, 0] > 0)
    qids, Q, qnorm = qids[keep_q], Q[keep_q], qnorm[keep_q]
    if not len(qids):
        raise ValueError("all query vectors have zero or non-finite norm")
    Qn = Q / qnorm

    out_schema = "query_id long, neighbor_id long, cos_sim double"

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy()
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            vnorm = np.linalg.norm(V, axis=1, keepdims=True)
            keep = np.isfinite(vnorm[:, 0]) & (vnorm[:, 0] > 0)
            if not keep.all():
                ids, V, vnorm = ids[keep], V[keep], vnorm[keep]
            if not len(ids):
                continue
            Vn = V / vnorm
            S = Qn @ Vn.T  # (n_queries, batch_rows)
            kk = min(k + 1, S.shape[1])  # +1 absorbs a self-match
            top = np.argpartition(-S, kk - 1, axis=1)[:, :kk]
            q_idx = np.repeat(np.arange(len(qids)), kk)
            n_idx = top.ravel()
            yield pd.DataFrame(
                {
                    "query_id": qids[q_idx],
                    "neighbor_id": ids[n_idx],
                    "cos_sim": S[q_idx, n_idx],
                }
            )

    from ._spread import spread_small_input

    local_topk = (
        spread_small_input(emb)
        .select(id_col, vec_col)
        .mapInPandas(score, out_schema)
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        local_topk.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos_sim", 4).alias("cosine_sim"))
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH ANN — the bucketed alternative to IVF-Flat.
# ---------------------------------------------------------------------------
DEFAULT_PLANES = 6


def hyperplanes(dim: int, n_planes: int = DEFAULT_PLANES) -> list[list[float]]:
    """Deterministic ±1 hyperplane matrix: component (j, i) is the md5
    parity of "j_i". Reproducible across engines and runs (SRP-LSH
    needs random signs, not Gaussians — sign vectors preserve the
    angular collision probability 1 - θ/π), so both the Spark plan and
    the DuckDB oracle can embed the SAME literal planes."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"{j}_{i}".encode()).hexdigest()[:2], 16) % 2 == 0 else -1.0
            for i in range(dim)
        ]
        for j in range(n_planes)
    ]


def srp_bucket(vec_sql: str, planes: list[list[float]]) -> Column:
    """SRP-LSH bucket id of the array<double> SQL expression ``vec_sql``:
    bit j = sign(v · w_j), packed little-endian, as ONE parsed sum.
    Each plane dot is ``_dot_sql`` (bit-identical to DuckDB's
    list_dot_product), so bucketing agrees cross-engine."""
    terms = "".join(
        f" + CASE WHEN {_dot_sql(vec_sql, _double_array_sql(w))} >= 0"
        f" THEN {1 << j} ELSE 0 END"
        for j, w in enumerate(planes)
    )
    return F.expr("0" + terms)


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = DEFAULT_PLANES,
    dim: int = 64,
) -> DataFrame:
    """SRP-LSH top-k: (query_id, neighbor_id, rank, cosine_sim).

    Corpus vectors hash to ONE bucket each (map-side expression, no
    shuffle); queries probe their own bucket plus every 1-bit flip
    (n_planes+1 buckets), an equi-join on the bucket id — so candidate
    generation touches ~(n_planes+1)/2^n_planes of the corpus instead
    of all of it, and the only wide op is the bucket-key join. Exact
    cosine + per-query top-k on candidates only, like ``ann_topk``.
    vs IVF: no centroid model to seed/train (works on a cold corpus),
    at the cost of a recall curve set by plane count, not probe count.
    """
    planes = hyperplanes(dim, n_planes)
    v_sql = _as_double_sql(vec_col)
    corp = (
        emb.select(
            F.col(id_col).alias("neighbor_id"),
            F.expr(v_sql).alias("cv"),
            F.expr(_norm_sql(v_sql)).alias("_cn"),
        )
        .filter(_finite_positive(F.col("_cn")))  # cosine undefined otherwise
        .withColumn("bucket", srp_bucket("cv", planes))
    )
    probes = [0] + [1 << j for j in range(n_planes)]
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.expr(v_sql).alias("qv"),
            F.expr(_norm_sql(v_sql)).alias("_qn"),
        )
        .filter(_finite_positive(F.col("_qn")))
        .withColumn("_b", srp_bucket("qv", planes))
        .select(
            "query_id",
            "qv",
            "_qn",
            F.explode(
                F.array(*[F.col("_b").bitwiseXOR(F.lit(m)) for m in probes])
            ).alias("bucket"),
        )
    )
    cand = q.join(corp, "bucket").filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.expr(_cosine_sql("qv", "cv", "_qn", "_cn")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "rank", F.round("cos_sim", 4).alias("cosine_sim")
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's compression half) — the 10^9-vector path.
# ---------------------------------------------------------------------------
PQCodebooks = list[list[tuple[int, list[float]]]]  # [subspace][(code_id, codeword)]


def pq_codebooks(
    emb: DataFrame, id_col: str, vec_col: str, m: int = 4, n_codes: int = 16
) -> PQCodebooks:
    """Deterministic per-subspace codebooks: the ``n_codes`` lowest-id
    FINITE vectors, sliced into ``m`` equal subvectors — the same
    id-seeding trick as ``seed_centroids``, so the DuckDB oracle can
    replay the identical codebooks (``pq_codebooks_kmeans`` is the
    trained form for real corpora). Bounded collect by contract
    (n_codes rows). Non-finite rows are dropped BEFORE the id cut
    (``_finite_rows``, the query side's guard): one poison embed row among
    the seeds would otherwise flow into ``_lut_int`` where
    ``floor(nan)`` kills every PQ query batch (the oracles apply the
    same isfinite guard to their seed CTE)."""
    rows = _finite_rows(emb, id_col, vec_col).orderBy(id_col).limit(n_codes).collect()
    if len(rows) < n_codes:
        # Loud, like the kmeans trainer — a silently undersized codebook
        # degrades every downstream LUT/encode with no diagnostic.
        raise ValueError(
            f"only {len(rows)} finite vectors available to seed {n_codes} codewords"
        )
    dim = len(rows[0][1])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return [
        [(int(r[0]), list(r[1][j * sub : (j + 1) * sub])) for r in rows]
        for j in range(m)
    ]


def pq_codebooks_kmeans(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    n_codes: int = 16,
    sample_pct: int = 20,
    iters: int = 10,
    max_sample_rows: int = 100_000,
) -> PQCodebooks:
    """Trained per-subspace codebooks: plain-L2 Lloyd k-means run
    independently on each of the ``m`` subvector slices of the SAME
    deterministic hash-bucket sample ``kmeans_centroids`` trains on
    (md5-bucket selection, hash-ordered ``max_sample_rows`` cap via
    TakeOrderedAndProject — a corpus fraction never reaches the
    driver). This is the codebook PQ actually ships at scale: id-seeded
    codewords are arbitrary corpus points, while per-subspace k-means
    places codewords at subvector density modes, cutting quantization
    error and raising ADC recall (pinned ≥ id-seeded on the clustered
    fixture in tests/test_operators.py). Distance is L2, not cosine —
    PQ quantizes raw subvectors, which are not unit vectors even when
    the full vectors are.

    Initialization is farthest-first from the sample's first vector
    per subspace (deterministic); empty cells keep their previous
    codeword, exactly like the spherical trainer. Code ids are
    0..n_codes-1 in training order — ``pq_encode``/``_lut_int`` only
    use list position, so the id-vs-index distinction is invisible
    downstream. The id-seeded ``pq_codebooks`` remains the
    oracle-replayable anchor (a k-means fit is not SQL-replayable);
    every ``pq_topk``/``pq_topk_rerank``/``ivfpq_topk`` call accepts
    the trained books through their existing ``codebooks=`` hook."""
    import numpy as np

    from .simhash import token_hash60

    frame = emb.select(
        F.col(id_col).alias("_id"), F.expr(_as_double_sql(vec_col)).alias("_v")
    ).filter(_finite_vec("_v"))
    hash_key = token_hash60(F.col("_id").cast("string"))
    if sample_pct < 100:
        frame = frame.filter(hash_key % 100 < sample_pct)
    rows = frame.orderBy(hash_key, "_id").limit(max_sample_rows).collect()
    if len(rows) < n_codes:
        raise ValueError(f"sample of {len(rows)} rows cannot seed {n_codes} codewords")
    X = np.array([r["_v"] for r in rows], dtype=np.float64)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books: PQCodebooks = []
    for j in range(m):
        S = X[:, j * sub : (j + 1) * sub]
        # Farthest-first init on L2: start at sample row 0, repeatedly
        # add the point farthest from its nearest chosen codeword. A
        # sample can hold >= n_codes ROWS but fewer DISTINCT points in
        # this subspace — then d2 goes all-zero and argmax would keep
        # picking index 0, silently seeding duplicate codewords. Fail
        # loudly instead, matching the undersized-sample guard above
        # (Lloyd iterations can never split a duplicated codeword, so
        # the degradation would be permanent and invisible).
        chosen = [0]
        d2 = ((S - S[0]) ** 2).sum(axis=1)
        for _ in range(1, n_codes):
            if d2.max() == 0.0:
                raise ValueError(
                    f"subspace {j}: only {len(chosen)} distinct sample points "
                    f"available to seed {n_codes} codewords — lower n_codes or "
                    "widen the sample"
                )
            nxt = int(np.argmax(d2))
            chosen.append(nxt)
            d2 = np.minimum(d2, ((S - S[nxt]) ** 2).sum(axis=1))
        C = S[chosen].copy()
        for _ in range(iters):
            # ||s-c||² = ||s||² - 2<s,c> + ||c||²; ||s||² constant per row
            dist = (C**2).sum(axis=1)[None, :] - 2.0 * (S @ C.T)
            assign = dist.argmin(axis=1)
            for c in range(n_codes):
                members = S[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books.append([(c, C[c].tolist()) for c in range(n_codes)])
    return books


def _long_array_sql(xs: list[int]) -> str:
    """SQL literal for array<bigint> — the integer twin of
    ``_double_array_sql`` (exact by construction; ``L`` suffix keeps
    every element BIGINT so LUT sums can't overflow int32)."""
    return "array(" + ",".join(f"{int(x)}L" for x in xs) + ")"


def _finite_vec(v_sql: str) -> Column:
    """True iff every component of the array<double> SQL expression
    ``v_sql`` is finite: NaN/inf poison both the
    argmin encode (NaN distances) and the driver-side LUT build
    (int(NaN) raises). Zero vectors stay — PQ distance is L2, where a
    zero vector is perfectly valid (unlike the cosine paths' 
    ``_finite_positive``)."""
    n = F.expr(_norm_sql(v_sql))
    return ~F.isnan(n) & (n < F.lit(float("inf")))


def _finite_rows(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, double-vector) rows with NaN/inf rows DROPPED map-side — a
    failed embed job's poison row must not kill the whole query batch
    in ``_lut_int``."""
    v_sql = _as_double_sql(vec_col)
    return df.select(F.col(id_col), F.expr(v_sql)).filter(_finite_vec(v_sql))


def pq_encode(
    emb: DataFrame, codebooks: PQCodebooks, id_col: str, vec_col: str
) -> DataFrame:
    """(id, _code0.._code{m-1}): per-subspace argmin codeword INDEX
    (first minimum = lowest-id codeword, the tie rule the oracle's
    ``ORDER BY dist, code`` replays). Entirely JVM-side: the codebooks
    ride the plan as literals, so encoding is one map-side projection —
    m one-byte codes (4 bytes at the default m=4) replace the vector, the ~16-64× compression that
    lets a 10^9-vector index live in memory.

    The per-subspace distance array is ONE ``transform`` lambda over a
    nested array literal (the ``_scored_cells`` technique: one
    ``_nested_double_literal`` scored by a SQL-text lambda): inlining
    n_codes copies of the expansion-form tree made plan compile time —
    not row work — the dominant cost of a PQ query batch. The distance
    is the EXPANSION form ⟨s,s⟩ − 2⟨s,w⟩ + ⟨w,w⟩ with sequential
    left-to-right ``_dot_sql`` folds — the exact operation sequence DuckDB's
    ``list_dot_product`` arithmetic runs, so both engines produce
    bit-identical doubles and the argmin tie-break never diverges
    ((s−w)² summed is algebraically equal but NOT float-equal; pinned
    by the cross-engine oracles)."""
    sub = len(codebooks[0][0][1])
    # Preserve the input's other columns (minus the raw vector): the
    # composed IVF-PQ feeds assign_cells output through here so cell +
    # codes come out of ONE map-side projection with no glue join.
    out = emb.withColumn("_v", F.expr(_as_double_sql(vec_col))).drop(vec_col)
    for j, cb in enumerate(codebooks):
        s = f"slice(_v, {j * sub + 1}, {sub})"
        # One Literal node per codebook (same analysis-cost rationale
        # and bit-exact binary transfer as _scored_cells).
        d = _nested_double_literal(
            [w for _, w in cb],
            f"_w -> {_dot_sql(s, s)} - 2.0D * {_dot_sql(s, '_w')}"
            f" + {_dot_sql('_w', '_w')}",
        )
        out = out.withColumn(
            f"_code{j}", (F.array_position(d, F.array_min(d)) - 1).cast("int")
        )
    return out.drop("_v")


def _lut_int(qv: list[float], cb: list[tuple[int, list[float]]]) -> list[int]:
    """Integer-microdistance LUT row for one (query, subspace):
    d = ⟨qs,qs⟩ − 2⟨qs,w⟩ + ⟨w,w⟩ with sequential float64 sums (the
    order both engines use), then floor(d·10⁶ + 0.5) — integerized so
    the ADC sum is EXACT in both engines (a float SUM over a GROUP BY
    has engine-chosen addend order; integer sums don't care)."""
    import math

    out = []
    for _, w in cb:
        qq = 0.0
        qw = 0.0
        ww = 0.0
        for a, b in zip(qv, w):
            qq += a * a
            qw += a * b
            ww += b * b
        out.append(int(math.floor((qq - 2.0 * qw + ww) * 1_000_000 + 0.5)))
    return out


def pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 4,
    n_codes: int = 16,
    codebooks: PQCodebooks | None = None,
) -> DataFrame:
    """PQ top-k by asymmetric distance (ADC):
    (query_id, neighbor_id, rank, adc_dist).

    The compression half of IVF-PQ: the corpus is encoded ONCE into m
    small codes (``pq_encode``, map-side), each query precomputes an
    m×n_codes lookup table of integer micro-distances to every
    codeword, and a candidate's approximate distance is m table probes
    + an integer sum — no vector arithmetic per pair at query time. At
    10^9 vectors this is what makes exhaustive scoring affordable
    (compose with IVF cells to also bound the scanned fraction; here
    the corpus fits, so ADC scans it all).

    One corpus pass total: every query's distance expression rides the
    same projection (array-of-structs explode), then a per-query top-k
    window. Queries are bounded by contract (collected to build the
    LUT literals). ``adc_dist`` is the integer micro-distance — exact
    cross-engine, no float-sum order hazard."""
    from functools import reduce
    from operator import add

    cbs = codebooks or pq_codebooks(emb, id_col, vec_col, m, n_codes)
    sub = len(cbs[0][0][1])
    enc = pq_encode(emb, cbs, id_col, vec_col)
    qrows = _finite_rows(queries, id_col, vec_col).collect()
    if not qrows:
        # F.array() of zero structs types as VOID and breaks the
        # explode; an empty (or all-poison) query set is a valid call
        # → empty result.
        return emb.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, rank int, adc_dist long"
        )

    per_query = []
    for qid, qv in qrows:
        luts = [_lut_int(list(qv[j * sub : (j + 1) * sub]), cbs[j]) for j in range(len(cbs))]
        dist = reduce(
            add,
            [
                F.element_at(
                    # BIGINT literals (the L suffix): int32 LUT sums
                    # overflow past 2^31 on unnormalized corpora (ANSI
                    # mode crashes, non-ANSI silently wraps); the
                    # oracle sums BIGINT. One parsed array per
                    # (query, subspace), not n_codes py4j lit calls.
                    F.expr(_long_array_sql(luts[j])),
                    F.col(f"_code{j}") + 1,
                )
                for j in range(len(cbs))
            ],
        )
        per_query.append(
            F.struct(
                F.lit(int(qid)).cast("long").alias("query_id"),
                dist.cast("long").alias("adc_dist"),
            )
        )

    scored = (
        enc.select(F.col(id_col).alias("neighbor_id"), F.explode(F.array(*per_query)).alias("_s"))
        .select("_s.query_id", "neighbor_id", "_s.adc_dist")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc_dist")
        .orderBy("query_id", "rank")
    )


def _exact_rerank(
    short: DataFrame,
    queries: DataFrame,
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Exact integer-micro L2 re-rank of a (query_id, neighbor_id)
    shortlist — the ONE copy of the rerank bit-parity contract (same
    expansion form + integerization as the LUTs; ``_dot_sql`` is the
    sequential-fold primitive the DuckDB oracle replays)."""
    v_sql = _as_double_sql(vec_col)
    qv = queries.select(F.col(id_col).alias("query_id"), F.expr(v_sql).alias("_qv"))
    cv = emb.select(F.col(id_col).alias("neighbor_id"), F.expr(v_sql).alias("_cv"))
    l2sq_micro = F.expr(
        f"cast(floor(({_dot_sql('_qv', '_qv')} - 2.0D * {_dot_sql('_qv', '_cv')}"
        f" + {_dot_sql('_cv', '_cv')}) * 1000000 + 0.5D) as bigint)"
    )
    exact = (
        short.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .select("query_id", "neighbor_id", l2sq_micro.alias("l2sq_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("l2sq_micro"), F.asc("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "l2sq_micro")
        .orderBy("query_id", "rank")
    )


def pq_topk_rerank(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    shortlist: int = 50,
    m: int = 4,
    n_codes: int = 16,
    codebooks: PQCodebooks | None = None,
) -> DataFrame:
    """PQ-ADC shortlist + exact re-rank — how IVF-PQ is actually served:
    the cheap integer ADC pass picks ``shortlist`` candidates per query
    (table probes only, no vector math), then ONLY those rows pay an
    exact squared-L2 against the query (integer micro-distance, exact
    cross-engine) for the final top-``k``. Query cost: n·m table probes
    + shortlist exact distances — the recall of exact search at ~1/40th
    of its arithmetic here (shortlist/corpus), and the ratio improves
    with corpus size. (query_id, neighbor_id, rank, l2sq_micro)."""
    short = pq_topk(
        emb, queries, id_col, vec_col, k=shortlist, m=m, n_codes=n_codes,
        codebooks=codebooks,
    ).select("query_id", "neighbor_id")
    return _exact_rerank(short, queries, emb, id_col, vec_col, k)


def ivfpq_topk(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = DEFAULT_CENTROIDS,
    probes: int = DEFAULT_PROBES,
    m: int = 4,
    n_codes: int = 16,
    shortlist: int = 100,
    centroids: CentroidList | None = None,
    codebooks: PQCodebooks | None = None,
) -> DataFrame:
    """Full IVF-PQ: cell-probed candidates × ADC shortlist × exact
    re-rank — the complete 10^9-vector serving pipeline, assembled from
    the pieces above. Per query: scanned fraction ≈ probes/n_centroids
    (IVF), per-candidate cost = m table probes + an integer sum (PQ/ADC,
    no vector math), exact arithmetic only on the ``shortlist``
    survivors. Returns (query_id, neighbor_id, rank, l2sq_micro).

    The ADC here is relational (melt candidate codes → broadcast-join
    the per-query LUT table → integer sum) rather than pq_topk's
    literal-expression form, because candidates now carry query_id as
    DATA (many queries × probed cells in one frame) — the join shape is
    what a 10^5-query batch lookup would use anyway. Both the candidate
    restriction and the LUT arithmetic are replayed verbatim by the
    DuckDB oracle. ``centroids=``/``codebooks=`` accept trained models
    (same hooks as the residual path and the persisted index)."""
    cents = centroids or collect_centroids(
        seed_centroids(emb, id_col, vec_col, n_centroids)
    )
    cbs = codebooks or pq_codebooks(emb, id_col, vec_col, m, n_codes)
    m = len(cbs)

    # ONE fused map-side projection for the index: assign_cells emits
    # (id, vec, cell) with zero shuffles, and pq_encode preserves the
    # cell column while adding the codes — no corpus-wide glue join
    # between two projections of the same frame (that exchange would
    # dominate the 10^9-vector build this models).
    cells = assign_cells(emb, cents, id_col, vec_col)
    cellenc = pq_encode(cells, cbs, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "cell", *[f"_code{j}" for j in range(m)]
    )
    probed = probe_cells(queries, cents, id_col, vec_col, probes)
    cand = (
        probed.select("query_id", "cell")
        .join(cellenc, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )

    short = _adc_shortlist(cand, queries, cbs, id_col, vec_col, shortlist)
    if short is None:
        return emb.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, rank int, l2sq_micro long"
        )
    return _exact_rerank(short, queries, emb, id_col, vec_col, k)


def _adc_shortlist(
    cand: DataFrame,
    queries: DataFrame,
    cbs: PQCodebooks,
    id_col: str,
    vec_col: str,
    shortlist: int,
) -> DataFrame | None:
    """Relational ADC over a candidate frame carrying PQ codes — THE
    one copy of the per-query LUT build feeding the melt → LUT-join →
    integer-sum → top-``shortlist`` stage (``_adc_top``), shared by the in-memory composed ``ivfpq_topk`` and the
    persisted-index ``ann_index.ivfpq_topk_over_index`` so the two
    serving shapes are bit-equal by construction. ``cand`` columns:
    (query_id, neighbor_id, _code0.._code{m-1}). Returns the
    (query_id, neighbor_id) shortlist, or None when the query set is
    empty/all-poison (callers emit their typed empty frame)."""
    m = len(cbs)
    sub = len(cbs[0][0][1])
    qrows = _finite_rows(queries, id_col, vec_col).collect()
    if not qrows:
        return None
    lut_rows = []
    for qid, qv in qrows:
        for j in range(m):
            row = _lut_int(list(qv[j * sub : (j + 1) * sub]), cbs[j])
            lut_rows.extend((int(qid), j, c, d) for c, d in enumerate(row))
    return _adc_top(
        cand, ["query_id", "neighbor_id"], lut_rows, "query_id long", m, shortlist
    )


def _adc_top(
    cand: DataFrame,
    keys: list[str],
    lut_rows: list[tuple],
    lut_key_ddl: str,
    m: int,
    shortlist: int,
) -> DataFrame:
    """Shared tail of both relational ADC stages: melt each candidate's
    m codes into (``keys``, j, code) rows, broadcast-join the integer
    LUT rows (``lut_key_ddl`` columns, then j, code, d) on every key
    but neighbor_id, sum per (query, neighbor), and keep the
    ``shortlist`` smallest per query (ties → neighbor_id)."""
    melted = cand.select(
        *keys,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), F.col(f"_code{j}").alias("code"))
                    for j in range(m)
                ]
            )
        ).alias("_s"),
    ).select(*keys, "_s.j", "_s.code")
    lut_df = cand.sparkSession.createDataFrame(
        lut_rows, f"{lut_key_ddl}, j int, code int, d long"
    )
    on = [k for k in keys if k != "neighbor_id"] + ["j", "code"]
    adc = (
        melted.join(F.broadcast(lut_df), on)
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").alias("adc_dist"))
    )
    ws = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        adc.withColumn("_rn", F.row_number().over(ws))
        .filter(F.col("_rn") <= shortlist)
        .select("query_id", "neighbor_id")
    )


# ---------------------------------------------------------------------------
# Residual IVF-PQ (IVFADC): quantize v - centroid[cell], not v.
# ---------------------------------------------------------------------------
def _centroid_map_lit(cents: CentroidList) -> Column:
    """MAP<cell id → centroid array> as a plan literal, for the
    map-side residual subtraction (same broadcast-constants technique
    as ``_scored_cells``; C×dim doubles ride the plan, no join)."""
    keys = F.expr("array(" + ",".join(str(int(cid)) for cid, _ in cents) + ")")
    vals = _nested_double_literal([v for _, v in cents])
    return F.map_from_arrays(keys, vals)


def with_residual(
    assigned: DataFrame,
    cents: CentroidList,
    vec_col: str,
    out_col: str = "_rv",
    cell_col: str = "cell",
) -> DataFrame:
    """Append the residual column ``out_col`` = vec − centroid[cell] to
    an ``assign_cells`` output frame. Pure map-side (``zip_with`` over
    the literal centroid map) — element-wise IEEE double subtraction,
    the exact op DuckDB's list arithmetic runs, so residuals are
    bit-identical cross-engine."""
    cent_map = _centroid_map_lit(cents)
    return assigned.withColumn(
        out_col,
        F.zip_with(
            F.expr(_as_double_sql(vec_col)),
            F.element_at(cent_map, F.col(cell_col)),
            lambda x, c: x - c,
        ),
    )


def pq_codebooks_residual(
    emb: DataFrame,
    cents: CentroidList,
    id_col: str,
    vec_col: str,
    m: int = 4,
    n_codes: int = 16,
) -> PQCodebooks:
    """Deterministic per-subspace codebooks over RESIDUALS: the
    ``n_codes`` lowest-id rows that carry a cell (finite, nonzero norm
    — ``assign_cells``'s domain, stricter than ``pq_codebooks``'s
    because a residual needs an assignment), each minus its own
    centroid, sliced into ``m`` subvectors. Same id-seeding trick as
    ``pq_codebooks`` so the DuckDB oracle replays the identical books;
    train per-subspace k-means over residual vectors for production
    (the ``codebooks=`` hooks accept either).

    Why residuals: with absolute-vector codebooks the quantizer must
    span the WHOLE corpus spread — most of its resolution is spent
    encoding which cluster a vector sits in, information IVF already
    has in ``cell``. Encoding v − centroid[cell] spends all m×n_codes
    codewords on the within-cell detail, cutting quantization error
    roughly by the ratio of between-cluster to within-cluster variance
    (Jégou et al., "Product Quantization for Nearest Neighbor Search",
    IEEE TPAMI 2011 — the IVFADC system). Recall win pinned in
    tests/test_operators.py on a clustered fixture."""
    seeds = (
        assign_cells(emb, cents, id_col, vec_col)
        .orderBy(id_col)
        .limit(n_codes)
        .collect()
    )
    if len(seeds) < n_codes:
        raise ValueError(
            f"only {len(seeds)} assignable vectors available to seed "
            f"{n_codes} residual codewords"
        )
    cent_by_id = {int(cid): v for cid, v in cents}
    dim = len(seeds[0][vec_col])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    residuals = []
    for r in seeds:
        c = cent_by_id[int(r["cell"])]
        residuals.append((int(r[id_col]), [a - b for a, b in zip(r[vec_col], c)]))
    return [
        [(rid, rv[j * sub : (j + 1) * sub]) for rid, rv in residuals]
        for j in range(m)
    ]


def _adc_shortlist_residual(
    cand: DataFrame,
    probed_rows: list,
    cents: CentroidList,
    cbs: PQCodebooks,
    shortlist: int,
) -> DataFrame | None:
    """Relational ADC with PER-(query, cell) LUTs — the residual twin
    of ``_adc_shortlist``. Under residual encoding a candidate's codes
    approximate v − centroid[cell], so the query side of the distance
    is q − centroid[cell] too: the LUT key grows a ``cell`` column and
    the broadcast table holds Q×P×m×n_codes rows (still tiny — the
    probe set is bounded by contract). ``cand`` columns:
    (query_id, cell, neighbor_id, _code0.._code{m-1}); ``probed_rows``
    are collected (query_id, qv, cell) rows from ``probe_cells``."""
    if not probed_rows:
        return None
    m = len(cbs)
    sub = len(cbs[0][0][1])
    cent_by_id = {int(cid): v for cid, v in cents}
    lut_rows = []
    for r in probed_rows:
        qid, qv, cell = int(r["query_id"]), r["qv"], int(r["cell"])
        c = cent_by_id[cell]
        qr = [a - b for a, b in zip(qv, c)]
        for j in range(m):
            row = _lut_int(qr[j * sub : (j + 1) * sub], cbs[j])
            lut_rows.extend((qid, cell, j, code, d) for code, d in enumerate(row))
    return _adc_top(
        cand,
        ["query_id", "cell", "neighbor_id"],
        lut_rows,
        "query_id long, cell int",
        m,
        shortlist,
    )


def ivfpq_residual_topk(
    emb: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = DEFAULT_CENTROIDS,
    probes: int = DEFAULT_PROBES,
    m: int = 4,
    n_codes: int = 16,
    shortlist: int = 100,
    centroids: CentroidList | None = None,
    codebooks: PQCodebooks | None = None,
) -> DataFrame:
    """Residual IVF-PQ (the IVFADC composition): like ``ivfpq_topk``
    but the PQ stage quantizes RESIDUALS v − centroid[cell], so the
    codebooks spend their resolution on within-cell detail instead of
    re-encoding the cluster identity the cell id already carries —
    materially higher shortlist recall at identical code size and
    query cost (+1 broadcast-key column). Same plan shape as the
    absolute path: one fused zero-shuffle assign→subtract→encode
    projection over the corpus, per-(query, cell) integer LUTs
    broadcast into the melt join, exact re-rank on raw vectors.
    Returns (query_id, neighbor_id, rank, l2sq_micro).

    A candidate appearing in several probed cells of one query scores
    identically under each (ADC approximates the same ||q − v||), and
    the groupBy sums each (query, neighbor) ONCE per cell membership —
    a corpus row lives in exactly ONE cell, so no double counting."""
    cents = centroids or collect_centroids(
        seed_centroids(emb, id_col, vec_col, n_centroids)
    )
    cbs = codebooks or pq_codebooks_residual(emb, cents, id_col, vec_col, m, n_codes)
    m = len(cbs)

    cells = assign_cells(emb, cents, id_col, vec_col)
    res = with_residual(cells, cents, vec_col, "_rv")
    cellenc = pq_encode(res.drop(vec_col), cbs, id_col, "_rv").select(
        F.col(id_col).alias("neighbor_id"), "cell", *[f"_code{j}" for j in range(m)]
    )
    probed = probe_cells(queries, cents, id_col, vec_col, probes)
    probed_rows = probed.collect()  # Q×P rows, bounded by contract
    cand = (
        probed.select("query_id", "cell")
        .join(cellenc, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    short = _adc_shortlist_residual(cand, probed_rows, cents, cbs, shortlist)
    if short is None:
        return emb.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, rank int, l2sq_micro long"
        )
    return _exact_rerank(short, queries, emb, id_col, vec_col, k)
