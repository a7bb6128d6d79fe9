"""Similarity search over an embedding column (array<float>).

Two paths, mirroring how ANN is deployed on large corpora:

- ``cosine_topk_bruteforce`` — exact baseline: query-set × corpus join with
  a JVM-side fold for the dot product. Correct at any scale but O(Q×N);
  use for small query sets / golden evaluation.
- ``cosine_topk_lsh``        — the scale path: sign-LSH bucketing (the sign
  bits of leading dimensions form the bucket key), candidates restricted to
  the query's bucket, exact re-rank within. One equi-join on the bucket key
  instead of a cross join.

Determinism: embeddings are float32; all arithmetic is promoted to double
(exact promotion), the sequential fold order is fixed by array order, and
similarities are rounded to 6dp with doc-id tie-breaks — so top-k sets are
stable across engines and partitionings.

Dot products in plain expressions use F.zip_with + F.aggregate (Catalyst
HigherOrderFunctions). Four stages run Arrow-batched ``mapInPandas``
kernels instead, where the interpreted folds dominate CPU:
``nearest_centroid`` and ``two_level_assignments`` (argmax-cosine
assignment), ``_with_cosine_arrow`` (pair-bounded exact re-rank) and
``_rp_band_buckets_arrow`` (banded random-projection buckets). Each one
keeps the expression route's arithmetic (the same sequential float64 fold,
or exact int64 math), so its output is bit-identical to it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SIM_SCALE = 6


def embedding_dim(df: DataFrame) -> int:
    """Dimensionality of the ``embedding`` column — a 1-row eager probe at
    plan-build time."""
    return df.select(F.size("embedding").alias("d")).limit(1).first()["d"]


def _dot(a: Column, b: Column) -> Column:
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _embedding_matrix(values, col: str):
    """One Arrow batch's embedding column as a (rows × dim) float64
    matrix. The kernels require every vector non-null and of equal fixed
    width (the fixture invariant their docstrings state); a NULL or
    ragged row used to surface as an opaque numpy shape error deep in the
    executor — assert the invariant here with a message that names the
    column instead (ADVICE r11 hardening; the expression routes
    null-propagated, so corpora that can't guarantee the invariant must
    stay on those)."""
    import numpy as np

    try:
        m = np.array([np.asarray(v, dtype=np.float64) for v in values])
    except (TypeError, ValueError) as exc:
        raise ValueError(
            f"embedding column {col!r} violates the Arrow-kernel "
            "invariant: every vector must be non-null with one fixed "
            "width (got a NULL or ragged row)"
        ) from exc
    if m.ndim != 2:
        raise ValueError(
            f"embedding column {col!r} violates the Arrow-kernel "
            "invariant: every vector must be non-null with one fixed "
            "width (got a NULL or ragged row)"
        )
    return m


def _with_cosine_arrow(
    df: DataFrame,
    a_col: str,
    b_col: str,
    out_col: str,
    keep: list[str],
) -> DataFrame:
    """``df`` reduced to ``keep`` columns plus ``out_col`` = the EXACT
    cosine of the two embedding columns, computed in an Arrow-batched
    NumPy pass that replays :func:`_dot`/:func:`_norm`'s fold order
    bit-for-bit: products/squares are float64 IEEE multiplies and the
    accumulation loops dims SEQUENTIALLY (``acc = acc + a[:, i] * b[:, i]``
    — vectorized across rows, left-associated across dims, exactly the
    HOF fold's association), then one sqrt and one divide. Rounding and
    thresholding stay in the JVM (callers apply ``F.round(out_col, 6)``),
    so no decimal-rounding semantics are re-implemented in Python — the
    Arrow stage only replaces the interpreted CodegenFallback folds
    (guide §4.2), which dominate pair-bounded re-rank stages (measured
    ~6 s → ~2 s for the SemDeDup pair stage at 250k candidate pairs).

    Requires both vectors non-null and of equal fixed width per row (the
    fixture invariant all cosine callers already rely on — zip_with pads
    mismatched widths with NULL products, i.e. returns NULL cosine, while
    this kernel raises; neither case occurs on the fixed-width corpora).
    Equality with the expression route is pinned by
    tests/test_operators.py::test_cosine_arrow_matches_expression_route.
    """
    import numpy as np

    fields = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in keep
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            a = _embedding_matrix(pdf[a_col], a_col)
            b = _embedding_matrix(pdf[b_col], b_col)
            n = a.shape[1]
            # the HOF fold starts at acc = 0.0, so the first partial is
            # 0.0 + p0 — which canonicalizes a -0.0 product to +0.0;
            # replay that exactly
            dot = 0.0 + a[:, 0] * b[:, 0]
            na = 0.0 + a[:, 0] * a[:, 0]
            nb = 0.0 + b[:, 0] * b[:, 0]
            for i in range(1, n):
                dot = dot + a[:, i] * b[:, i]
                na = na + a[:, i] * a[:, i]
                nb = nb + b[:, i] * b[:, i]
            out = pdf[list(keep)].copy()
            out[out_col] = dot / (np.sqrt(na) * np.sqrt(nb))
            yield out

    return df.select(*keep, a_col, b_col).mapInPandas(
        score, f"{fields}, {out_col} double"
    )


def _cosine_topk(
    cand: DataFrame,
    k: int,
    cols: tuple[str, ...] = ("query_id", "vec_id"),
    by: tuple[str, ...] = ("query_id",),
    settings: DataFrame | None = None,
) -> DataFrame:
    """The exact re-rank every top-k path ends with: over candidate rows
    carrying ``q_embedding`` and ``embedding``, sim = 6dp cosine, rnk =
    row_number per ``by`` by (sim desc, vec_id asc), rows with
    rnk <= k. Out: ``cols``, sim, rnk.

    A recall sweep passes its ``settings`` table and ranks per (dials,
    query): each candidate is scored once, then copied to every setting
    that covers it (:func:`_covered_by`), so its ``cols`` must carry
    probe_rank. The settings' columns then come out after sim."""
    scored = cand.select(
        *cols,
        F.round(cosine(F.col("q_embedding"), F.col("embedding")), SIM_SCALE).alias("sim"),
    )
    if settings is not None:
        scored = _covered_by(scored, settings)
    w = Window.partitionBy(*by).orderBy(F.desc("sim"), F.asc("vec_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


def _covered_by(cand: DataFrame, settings: DataFrame) -> DataFrame:
    """Each ``cand`` row once per row of the broadcast sweep ``settings``
    table (an ``n_probe`` column plus any other dials) whose n_probe
    reaches the row's probe_rank: the top-k over the first p probed
    lists is the top-k over the candidates with probe_rank <= p."""
    return cand.join(
        F.broadcast(settings), F.col("probe_rank") <= F.col("n_probe")
    )


def _probe_lists(
    queries: DataFrame, centroids: DataFrame, n_probe: int, *cols
) -> DataFrame:
    """IVF query routing: each query scored against the broadcast
    ``centroids`` (csim = 6dp cosine), keeping its ``n_probe`` best lists
    by (csim desc, cent_id asc); ``rn`` is a list's probe rank. Out:
    ``cols``."""
    q_scored = queries.crossJoin(F.broadcast(centroids)).select(
        "query_id",
        "q_embedding",
        "cent_id",
        F.round(cosine(F.col("q_embedding"), F.col("c_emb")), SIM_SCALE).alias("csim"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("cent_id"))
    return (
        q_scored.withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= n_probe)
        .select(*cols)
    )


def cosine_topk_bruteforce(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    ``embeddings``: (vec_id, embedding); ``queries``: (query_id, q_embedding).
    Returns (query_id, vec_id, sim, rnk). Self-matches excluded.

    The query side is BROADCAST by construction (recall evaluation uses a
    handful of probes): without the structural hint, a query frame derived
    by filtering a large scan inherits the scan's size estimate and the
    cross join degrades to a CartesianProduct — caught by the scaling
    suite's plan asserts at 10x, same failure mode as the IVF seed join.
    """
    joined = F.broadcast(queries).crossJoin(embeddings).filter(
        F.col("query_id") != F.col("vec_id")
    )
    return _cosine_topk(joined, k)


def sign_bucket(emb: Column, n_bits: int = 8) -> Column:
    """Sign-LSH bucket key: concatenated sign bits of the first n_bits dims.

    A degenerate but deterministic random-hyperplane LSH (hyperplanes =
    coordinate axes). At 100 TB: compute once, store as a partition column,
    and ANN queries prune to one bucket."""
    bits = F.transform(
        F.slice(emb, 1, n_bits),
        lambda x: F.when(x >= 0, F.lit("1")).otherwise(F.lit("0")),
    )
    return F.array_join(bits, "")


def seed_centroids(embeddings: DataFrame, n_centroids: int = 16) -> DataFrame:
    """Distance-aware deterministic IVF seeding: one representative (the
    lowest vec_id) per sign-orthant of the leading ``log2(n_centroids)``
    dimensions.

    Unlike first-N-by-id seeding, the seeds are guaranteed to be spread
    across direction space (no two seeds share the leading-dim orthant), so
    initial inverted lists are balanced instead of reflecting ingestion
    order. Deterministic and engine-portable: min-id per bucket, cent_ids
    ranked by bucket string. Cost: one tiny aggregation (≤ n_centroids
    groups) — no ordering of the corpus. Empty orthants simply yield fewer
    lists; C adapts to the data's directional spread.

    For non-power-of-two ``n_centroids`` the leading dims span up to
    ``2^ceil(log2(n))`` orthants, so the bucket-ranked list is explicitly
    capped at ``n_centroids`` seeds (first n buckets in bucket order —
    deterministic) to honor the ≤ n_centroids contract.
    """
    bits = max(1, (max(n_centroids, 2) - 1).bit_length())
    reps = (
        embeddings.select(
            "vec_id", sign_bucket(F.col("embedding"), bits).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.min("vec_id").alias("vec_id"))
    )
    w = Window.orderBy("bucket")
    # reps is <= 2^bits rows BY CONSTRUCTION (one per orthant), but
    # Catalyst's size estimate for an aggregate scales with its child, so
    # on a large corpus the auto-broadcast lapses and the seed join would
    # plan a corpus shuffle on vec_id. Hint it explicitly — the bound is
    # structural, not statistical.
    return (
        F.broadcast(reps).join(embeddings, "vec_id")
        .select("bucket", F.col("embedding").alias("c_emb"))
        .withColumn("cent_id", F.row_number().over(w) - 1)
        .filter(F.col("cent_id") < n_centroids)
        .select("cent_id", "c_emb")
    )


def _exact_seq_norm(vec: list[float]) -> float:
    """Driver-side replay of :func:`_norm`'s fold: left-associated
    float64 squares accumulation starting at 0.0, then one sqrt —
    bit-identical to the HOF expression on the same values."""
    import math

    acc = 0.0
    for x in vec:
        acc = acc + x * x
    return math.sqrt(acc)


def _centroid_rows(centroids: DataFrame) -> list:
    """The centroid table collected to the driver, sorted by cent_id."""
    return sorted(
        centroids.select("cent_id", "c_emb").collect(),
        key=lambda r: r["cent_id"],
    )


def nearest_centroid(
    df: DataFrame,
    centroids: DataFrame,
    _rows: list | None = None,
) -> DataFrame:
    """Map-side nearest-centroid assignment of the ``embedding`` column
    (argmax cosine, ties to the lowest cent_id), appended as column
    ``cent_id``.

    The centroid table is pulled to the driver once per call (an eager
    k-row job — k is metadata-sized by construction: ≤ 2^16 lists even at
    the adaptive dial's cap, the same artifact the serve paths read back
    from parquet) and shipped to the executors inside an Arrow kernel
    that emits the RAW per-centroid ratio array: per centroid one
    sequentially-accumulated float64 dot product over the once-computed
    row norm — the exact association order of :func:`_dot`/:func:`_norm`,
    vectorized across rows (guide §4.2; the previous broadcast-array HOF
    fold was CodegenFallback-interpreted and dominated assignment CPU at
    every scale — 176 s at N=200k/k=8192 even after norm hoisting).

    The DECISION stays in the JVM: csim = round(raw, 6) per centroid and
    the struct-lexicographic max of (csim, -cent_id) — max csim, ties to
    the LOWEST cent_id — identical semantics and bit-identical values to
    the old in-expression fold (pinned by tests/test_operators.py::
    test_nearest_centroid_arrow_matches_fold). Still NO Exchange between
    the corpus scan and the assignment: the Arrow stage is a narrow
    map-side pass (plan-asserted in tests/test_plans.py).

    The centroid matrix ships to the executors as an explicit Spark
    BROADCAST variable, not a task-closure capture: at the k = 2^16 dial
    a closure-captured matrix would be re-pickled into every task
    description, while a broadcast is fetched once per executor (the r11
    verdict's #4b). ``_rows`` lets callers that already collected the
    same centroid table (``_centroid_rows``) inject it and skip the
    collect job; the decision semantics are unchanged either way.
    """
    import numpy as np

    rows = _rows if _rows is not None else _centroid_rows(centroids)
    ids = [r["cent_id"] for r in rows]
    c_mat = [[float(x) for x in r["c_emb"]] for r in rows]
    c_norms = [_exact_seq_norm(v) for v in c_mat]
    cent_type = centroids.schema["cent_id"].dataType.simpleString()
    in_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    cols = [f.name for f in df.schema.fields]
    bc = df.sparkSession.sparkContext.broadcast((c_mat, c_norms))

    def score(batches):
        mat, norms = bc.value
        C = np.array(mat, dtype=np.float64)  # (k, d)
        cn = np.array(norms, dtype=np.float64)
        k = C.shape[0]
        for pdf in batches:
            if not len(pdf):
                continue
            emb = _embedding_matrix(pdf["embedding"], "embedding")
            d = emb.shape[1]
            nx = 0.0 + emb[:, 0] * emb[:, 0]
            for i in range(1, d):
                nx = nx + emb[:, i] * emb[:, i]
            nx = np.sqrt(nx)
            if k <= d:
                # one sequential fold per centroid, vectorized over rows
                csims = np.empty((len(pdf), k), dtype=np.float64)
                for j in range(k):
                    dot = 0.0 + emb[:, 0] * C[j, 0]
                    for i in range(1, d):
                        dot = dot + emb[:, i] * C[j, i]
                    csims[:, j] = dot / (nx * cn[j])
            else:
                # large-k dial (k up to 2^16): accumulate over DIMS with a
                # (rows × k) rank-1 update — the identical left-associated
                # order per (row, centroid), d passes instead of k — and
                # chunk rows so the accumulator stays ~4M cells
                chunk = max(1, 4_000_000 // k)
                csims = np.empty((len(pdf), k), dtype=np.float64)
                for lo in range(0, len(pdf), chunk):
                    sub = emb[lo : lo + chunk]
                    acc = 0.0 + np.outer(sub[:, 0], C[:, 0])
                    for i in range(1, d):
                        acc = acc + np.outer(sub[:, i], C[:, i])
                    csims[lo : lo + chunk] = acc / (
                        nx[lo : lo + chunk, None] * cn[None, :]
                    )
            out = pdf[cols].copy()
            out["_csims"] = list(csims)
            yield out

    scored = df.mapInPandas(score, f"{in_fields}, _csims array<double>")
    ids_lit = F.lit(ids).cast(f"array<{cent_type}>")
    pick = F.transform(
        F.col("_csims"),
        lambda c, j: F.struct(
            F.round(c, SIM_SCALE).alias("csim"),
            (-F.element_at(ids_lit, j + F.lit(1))).alias("neg_cent_id"),
        ),
    )
    return scored.withColumn(
        "cent_id",
        (-F.array_max(pick).getField("neg_cent_id")).cast(cent_type),
    ).drop("_csims")


# Flat assignment scores every vector against ALL k centroids — O(N·k)
# FLOPs, which turns quadratic when k scales with the corpus
# (k ~ N/target_cluster_size, the SemDeDup dial: measured x26.4 wall at
# x32 data for the scaled-k cell, artifacts/SCALING_r06_pipe.json). Above this
# threshold ivf_assignments switches to the two-level route (coarse
# ~sqrt(k) cells -> fine argmax within the cell): O(N·sqrt(k)) FLOPs,
# same broadcast-fold plan shape, no corpus shuffle either way.
TWO_LEVEL_THRESHOLD = 32

# Adaptive centroid count for SemDeDup-style clustering: k doubles with
# the corpus past the base size so cluster OCCUPANCY (and hence the
# within-cluster quadratic pair stage) stays flat — the k ∝ N dial from
# Abbas et al., made affordable by the two-level assignment. Powers of
# two only, so the DuckDB oracle can derive the same k (and both seeding
# bit widths) with integer shift arithmetic.
SEMDEDUP_BASE_VECTORS = 2000
SEMDEDUP_BASE_BITS = 6  # k = 64 at base scale
SEMDEDUP_MAX_BITS = 16


def _doubled_bits(n_vectors: int, base_n: int, base_bits: int, max_bits: int) -> int:
    """Smallest ``base_bits + e`` with base_n * 2**e >= n_vectors, capped
    at ``max_bits`` — one more bit per doubling of the corpus past the
    base size. Integer shifts only, so the DuckDB oracles derive the
    same value."""
    e = 0
    while (base_n << e) < n_vectors:
        e += 1
    return min(max_bits, base_bits + e)


def adaptive_centroids(n_vectors: int) -> int:
    """k = 2**min(SEMDEDUP_MAX_BITS, SEMDEDUP_BASE_BITS + e) with the
    smallest e such that SEMDEDUP_BASE_VECTORS * 2**e >= n_vectors — the
    same doubling schedule as adaptive_sign_bits, expressed as a centroid
    count."""
    return 1 << _doubled_bits(
        n_vectors, SEMDEDUP_BASE_VECTORS, SEMDEDUP_BASE_BITS, SEMDEDUP_MAX_BITS
    )


def two_level_assignments(
    embeddings: DataFrame, n_centroids: int = 64, refine_iters: int = 0
) -> tuple[DataFrame, DataFrame]:
    """Two-level IVF assignment (the IMI/coarse-quantizer trick): seed
    ``2**ceil(b/2)`` coarse cells for k = 2**b — within sqrt(2)·sqrt(k),
    derived with integer bit arithmetic so the DuckDB oracle reproduces
    it exactly — map each of the k fine centroids to
    its nearest coarse cell (k×sqrt(k) — tiny), then assign each corpus
    vector by (1) argmax over the NONEMPTY coarse cells and (2) argmax
    over only the fine centroids living in that cell. Per-vector cost
    drops from k dot products to ~2·sqrt(k), which is what keeps k ∝ N
    affordable (total FLOPs O(N·sqrt(k)) instead of O(N·k)).

    Approximation note: a vector whose true nearest fine centroid lives
    in a different coarse cell gets its within-cell best instead — the
    standard IVF trade, deterministic here (6dp-rounded cosine, ties to
    the lowest id at both levels) and modeled exactly by the DuckDB
    oracle of pipe_semantic_dedup_two_level.

    Plan shape: both centroid tables collapse to broadcast arrays; the
    coarse argmax is a map-side fold; the fine argmax is a broadcast
    equi-join on coarse_id + a fold over that cell's centroid array.
    No shuffle of the corpus at any point. Returns (fine centroids,
    assignments) with the same schema as the flat path.
    """
    fine = seed_centroids(embeddings, n_centroids)
    if refine_iters:
        fine = kmeans_refine(embeddings, fine, n_iters=refine_iters)
    # ~sqrt(k) coarse cells, derived from k's bit length rather than a
    # float sqrt so the DuckDB oracle reproduces it with pure integer
    # arithmetic (for k = 2^b this is 2^ceil(b/2) — within sqrt(2) of
    # sqrt(k), which only nudges the coarse/fine cost split).
    bits_f = max(n_centroids, 2) - 1
    k_c = 1 << ((bits_f.bit_length() + 1) // 2)
    coarse = seed_centroids(embeddings, k_c).select(
        F.col("cent_id").alias("coarse_id"), F.col("c_emb").alias("co_emb")
    )
    # The coarse table is collected ONCE (k_c ≈ sqrt(k) rows, metadata-
    # sized) and injected into both nearest_centroid calls below via
    # ``_rows`` — previously each call re-executed the coarse seeding
    # subtree for its own collect (one corpus aggregation per call).
    coarse_view = coarse.select(
        F.col("coarse_id").alias("cent_id"), F.col("co_emb").alias("c_emb")
    )
    coarse_rows = _centroid_rows(coarse_view)
    # fine centroid -> nearest coarse cell (k x sqrt(k)); collected to
    # the driver once — k is metadata-sized — so the within-cell argmax
    # below runs as the same Arrow kernel shape as nearest_centroid.
    f2c = nearest_centroid(
        fine.select(
            F.col("cent_id").alias("fine_id"), F.col("c_emb").alias("embedding")
        ),
        coarse_view,
        _rows=coarse_rows,
    ).select(
        F.col("fine_id"),
        F.col("embedding").alias("f_emb"),
        F.col("cent_id").alias("coarse_id"),
    )
    # cell membership driver-side: coarse_id -> cent_id-sorted fine
    # centroids with exact-fold norms (the same values the old broadcast
    # struct carried)
    cells_py: dict[int, list[tuple[int, list[float], float]]] = {}
    for r in f2c.collect():
        v = [float(x) for x in r["f_emb"]]
        cells_py.setdefault(r["coarse_id"], []).append(
            (r["fine_id"], v, _exact_seq_norm(v))
        )
    for members in cells_py.values():
        members.sort(key=lambda t: t[0])
    # vectors -> nearest NONEMPTY coarse cell (a cell no fine centroid
    # mapped to can never win: it has no candidates to offer). The
    # nonempty filter is applied to the already-collected rows — the
    # argmax only ever consumed the collected table, so no third
    # execution of the coarse seeding subtree is needed.
    nonempty_rows = [r for r in coarse_rows if int(r["cent_id"]) in cells_py]
    v_coarse = nearest_centroid(
        embeddings.select("vec_id", "embedding"),
        coarse_view,
        _rows=nonempty_rows,
    ).withColumnRenamed("cent_id", "coarse_id")
    # within-cell argmax: Arrow kernel emits the row's cell ids + RAW
    # ratios (exact fold order); the JVM rounds to 6dp and takes the
    # (csim, -cent_id) struct max — identical decision semantics to the
    # old broadcast-array fold.
    import numpy as np

    in_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in v_coarse.schema.fields
    )
    cols = [f.name for f in v_coarse.schema.fields]
    # fine-cell membership ships as an explicit broadcast (fetched once
    # per executor) instead of a task-closure capture — at the k = 2^16
    # dial the cells hold every fine centroid vector (same fix as
    # nearest_centroid, r11 verdict #4b).
    bc_cells = embeddings.sparkSession.sparkContext.broadcast(cells_py)

    def cell_score(batches):
        import pandas as pd

        mats = {
            cid: (
                np.array([m[1] for m in members], dtype=np.float64),
                np.array([m[2] for m in members], dtype=np.float64),
                [m[0] for m in members],
            )
            for cid, members in bc_cells.value.items()
        }
        for pdf in batches:
            if not len(pdf):
                continue
            emb = _embedding_matrix(pdf["embedding"], "embedding")
            d = emb.shape[1]
            nx = 0.0 + emb[:, 0] * emb[:, 0]
            for i in range(1, d):
                nx = nx + emb[:, i] * emb[:, i]
            nx = np.sqrt(nx)
            csims: list = [None] * len(pdf)
            cids: list = [None] * len(pdf)
            coarse_vals = pdf["coarse_id"].to_numpy()
            for cid in np.unique(coarse_vals):
                C, cn, fid = mats[int(cid)]
                sel = np.nonzero(coarse_vals == cid)[0]
                sub = emb[sel]
                out = np.empty((len(sel), C.shape[0]), dtype=np.float64)
                for j in range(C.shape[0]):
                    dot = 0.0 + sub[:, 0] * C[j, 0]
                    for i in range(1, d):
                        dot = dot + sub[:, i] * C[j, i]
                    out[:, j] = dot / (nx[sel] * cn[j])
                for row_i, orig in enumerate(sel):
                    csims[orig] = out[row_i]
                    cids[orig] = fid
            out_pdf = pdf[cols].copy()
            out_pdf["_csims"] = csims
            out_pdf["_cids"] = cids
            yield out_pdf

    cent_type = fine.schema["cent_id"].dataType.simpleString()
    scored = v_coarse.mapInPandas(
        cell_score,
        f"{in_fields}, _csims array<double>, _cids array<{cent_type}>",
    )
    pick = F.transform(
        F.col("_csims"),
        lambda c, j: F.struct(
            F.round(c, SIM_SCALE).alias("csim"),
            (-F.element_at(F.col("_cids"), j + F.lit(1))).alias(
                "neg_cent_id"
            ),
        ),
    )
    assignments = (
        scored.withColumn(
            "cent_id",
            (-F.array_max(pick).getField("neg_cent_id")).cast(cent_type),
        )
        .select("vec_id", "embedding", "cent_id")
    )
    return fine, assignments


def ivf_assignments(
    embeddings: DataFrame,
    n_centroids: int = 16,
    refine_iters: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantization: deterministic centroids + nearest-centroid
    assignment.

    Centroids come from :func:`seed_centroids` (one per sign-orthant —
    distance-aware, deterministic); ``refine_iters > 0`` runs that many
    distributed Lloyd's iterations (:func:`kmeans_refine`) before
    assignment. Assignment is argmax cosine, ties to the lowest cent_id.
    The assignment route is chosen by k: flat O(N·k) fold up to
    TWO_LEVEL_THRESHOLD centroids, the :func:`two_level_assignments`
    O(N·sqrt(k)) route above it — the switch that keeps the k ∝ N
    SemDeDup dial affordable. Past the threshold the result is the
    two-level approximation (within-cell-only argmax), which every
    registered entry models in its oracle.

    At 100 TB: centroids are a broadcast single-row array; assignment is a
    map-side fold (no shuffle of the corpus); the assignment would be
    persisted as a partition column so queries prune to probed lists.
    Returns (centroids, assignments).
    """
    if n_centroids > TWO_LEVEL_THRESHOLD:
        return two_level_assignments(embeddings, n_centroids, refine_iters)
    centroids = seed_centroids(embeddings, n_centroids)
    if refine_iters:
        centroids = kmeans_refine(embeddings, centroids, n_iters=refine_iters)
    assignments = nearest_centroid(
        embeddings.select("vec_id", "embedding"), centroids
    ).select("vec_id", "embedding", "cent_id")
    return centroids, assignments


# Fixed-point quantum for deterministic k-means member means: values are
# floored to 1e-6 before summation so the per-dimension sum is an exact
# BIGINT — order-independent, hence bit-identical across engines and
# partitionings — and the mean is one exact division at the end.
MEAN_QUANT = 1e6


def kmeans_refine(
    embeddings: DataFrame, centroids: DataFrame, n_iters: int = 2
) -> DataFrame:
    """Lloyd's-iteration refinement of IVF centroids, fully distributed:

    per iteration — (1) assign every vector to its nearest centroid
    (:func:`nearest_centroid`: broadcast centroid array, map-side fold —
    no corpus shuffle, no Window); (2) recompute each centroid as the
    element-wise member mean via fixed-point accumulation: posexplode →
    floor(val·1e6) as BIGINT → groupBy (cent_id, dim) SUM/COUNT → rebuild
    array. Integer sums are order-independent, so the refined centroids are
    bit-identical across engines and partitionings — what makes the
    refined IVF entry oracle-checkable instead of rows-only. Means are
    rounded to 4dp. Empty clusters keep their previous centroid.

    At 100 TB each iteration costs one broadcast map pass + one
    (cent_id, dim)-key aggregation of C×D cells — tiny — so iterations
    are scan-bound, the same cost profile as MLlib's KMeans.

    Returns refined centroids (cent_id, c_emb) with c_emb array<double>.
    Refined centroids feed ivf_assignments/cosine_topk_ivf unchanged: the
    index structure is identical, only list balance/recall improves.
    """
    cents = centroids.select(
        "cent_id", F.transform("c_emb", lambda x: x.cast("double")).alias("c_emb")
    )
    for _ in range(n_iters):
        assigned = nearest_centroid(
            embeddings.select("vec_id", "embedding"), cents
        ).select("vec_id", "embedding", "cent_id")
        means = (
            assigned.select(
                "cent_id", F.posexplode(F.col("embedding")).alias("pos", "val")
            )
            .groupBy("cent_id", "pos")
            .agg(
                F.round(
                    F.sum(
                        F.floor(F.col("val").cast("double") * MEAN_QUANT).cast("long")
                    )
                    / (F.count("*") * F.lit(MEAN_QUANT)),
                    4,
                ).alias("mv")
            )
            .groupBy("cent_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mv"))),
                    lambda s: s.getField("mv"),
                ).alias("new_emb")
            )
        )
        cents = (
            cents.join(means, "cent_id", "left")
            .select(
                "cent_id",
                F.coalesce(F.col("new_emb"), F.col("c_emb")).alias("c_emb"),
            )
        )
    return cents


def cosine_topk_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    refine_iters: int = 0,
) -> DataFrame:
    """IVF-style ANN: nearest-centroid inverted lists, query probes the
    ``n_probe`` closest lists, exact cosine re-rank inside.

    The candidate set is bounded by the probed lists (≈ N·n_probe/C rows
    per query) instead of the corpus — the standard recall/latency dial.
    Join shape: broadcast(queries × probes) ⋈ assignments on cent_id.
    ``refine_iters``: k-means refinement passes for the centroids.
    """
    centroids, assignments = ivf_assignments(embeddings, n_centroids, refine_iters)
    return _cosine_topk(
        _ivf_candidates(queries, centroids, assignments, n_probe), k
    )


def _ivf_candidates(
    queries: DataFrame,
    centroids: DataFrame,
    assignments: DataFrame,
    n_probe: int,
    *cols,
) -> DataFrame:
    """The members of each query's ``n_probe`` probed lists, self-matches
    dropped: (cent_id, query_id, q_embedding, ``cols``..., vec_id,
    embedding). ``cols`` are extra :func:`_probe_lists` columns."""
    probes = _probe_lists(
        queries, centroids, n_probe, "query_id", "q_embedding", "cent_id", *cols
    )
    return probes.join(assignments, "cent_id").filter(
        F.col("query_id") != F.col("vec_id")
    )


def _ivf_probe_sweep(
    embeddings: DataFrame,
    queries: DataFrame,
    settings: DataFrame,
    n_probe: int,
    k: int = 5,
    n_centroids: int = 16,
) -> DataFrame:
    """:func:`cosine_topk_ivf` at every n_probe row of the ``settings``
    table, from ONE index build and one scored candidate set: each query
    is routed to ``n_probe`` lists (the sweep's largest), every candidate
    is scored once and ranked per (n_probe, query). Out: query_id,
    vec_id, probe_rank, sim, n_probe, rnk."""
    centroids, assignments = ivf_assignments(embeddings, n_centroids)
    cand = _ivf_candidates(
        queries, centroids, assignments, n_probe, F.col("rn").alias("probe_rank")
    )
    return _cosine_topk(
        cand, k, ("query_id", "vec_id", "probe_rank"),
        by=("n_probe", "query_id"), settings=settings,
    )


# Adaptive sign-LSH sizing: keep expected bucket occupancy at the level
# the base fixture measured as healthy (BANDED_BASE_VECTORS vectors over
# 2^BANDED_BASE_BITS buckets ≈ 8 vectors/bucket). In-bucket pair counts
# are quadratic in occupancy, so a FIXED bit width saturates as the corpus
# grows (measured: n_bits=8 went x43.3 wall at x32 data and unmeasurable
# at x100, while 8+ceil(log2(N/N0)) bits measured x2.9/x5.45 —
# artifacts/SCALING_r06_pipe.json / _x100.json). The dial is derived from ONE
# count() at plan-build time; integer shift arithmetic keeps the Python
# and DuckDB-oracle derivations bit-identical.
BANDED_BASE_VECTORS = 2000
BANDED_BASE_BITS = 8
# Slice buckets (leading-dim signs) run out of dimensions at 16 bits
# (4 bands x 16 = all 64 fixture dims); past BANDED_SLICE_MAX_BITS the
# banded path switches to hash-seeded random-hyperplane projections
# (_rp_band_buckets_arrow — deterministic, oracle-reproducible), which keep
# doubling bucket counts with the corpus up to BANDED_MAX_BITS = 32
# (occupancy flat to ~2000·2^24 ≈ 3·10^10 vectors).
BANDED_SLICE_MAX_BITS = 16
BANDED_MAX_BITS = 32


def adaptive_sign_bits(n_vectors: int) -> int:
    """Smallest ``BANDED_BASE_BITS + e`` with BANDED_BASE_VECTORS * 2**e
    >= n_vectors, capped at BANDED_MAX_BITS — i.e. double the bucket
    count every time the corpus doubles past the base size, so per-bucket
    occupancy (and hence candidate-pair cost per bucket) stays constant."""
    return _doubled_bits(
        n_vectors, BANDED_BASE_VECTORS, BANDED_BASE_BITS, BANDED_MAX_BITS
    )


def cosine_near_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.25, n_bits: int | None = None
) -> DataFrame:
    """Embedding-cosine near-duplicate candidates: self-join restricted to
    the sign-LSH bucket, exact cosine inside, keep pairs ≥ threshold.

    The dedup twin of ``cosine_topk_lsh``: instead of per-query top-k it
    yields all high-similarity pairs (vec_id < vec_id2 canonical order) for
    a downstream keep-one policy. At 100 TB: one shuffle on the bucket key;
    within-bucket pair counts are quadratic in bucket size, so the default
    bucket width ADAPTS to the corpus (``adaptive_sign_bits`` — one
    count() at plan-build time keeps occupancy constant, doubling buckets
    per corpus doubling up to 32 bits); band over multiple sign-bit
    slices for recall like MinHash-LSH.
    """
    if n_bits is None:
        n_bits = adaptive_sign_bits(embeddings.count())
    a = embeddings.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        sign_bucket(F.col("embedding"), n_bits).alias("bucket"),
    )
    b = embeddings.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        sign_bucket(F.col("embedding"), n_bits).alias("bucket"),
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine(F.col("emb_a"), F.col("emb_b")), SIM_SCALE).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def sign_bucket_band(emb: Column, band: int, n_bits: int = 8) -> Column:
    """Sign bucket over the band-th n_bits-dim slice (dims
    band*n_bits+1 .. (band+1)*n_bits). Band 0 equals :func:`sign_bucket`."""
    bits = F.transform(
        F.slice(emb, band * n_bits + 1, n_bits),
        lambda x: F.when(x >= 0, F.lit("1")).otherwise(F.lit("0")),
    )
    return F.array_join(bits, "")


# Deterministic random-hyperplane sign-LSH (Charikar 2002), fixed-point:
# hyperplane weights are hash-seeded integers (xorshift-multiply mix of
# the flat (band, bit, dim) index) and the projection is an exact BIGINT
# sum of weight × floor(x·1e6) — so the sign, hence the bucket, is
# bit-identical across engines and partitionings and the DuckDB oracles
# replay it with pure integer arithmetic. This is what lifts the banded
# slice route's 16-bit cap: slice bits are LEADING-DIMENSION signs, so
# 4 bands × 16 bits exhausts the 64 fixture dims; hyperplane bits draw on
# ALL dims and keep doubling with the corpus indefinitely.
#
# The mix MUST be nonlinear in t: a purely multiplicative hash (mid-bits
# of t·A) makes weight vectors for adjacent bits differ by a
# near-constant (t offsets by a constant, so t·A does too, modulo
# carries), which measured 0.99 inter-bit sign correlation and ~15
# effective bits out of 20 — mega-buckets and a 380× candidate-pair
# blowup at x100. Two multiply rounds with xor-shift between them break
# the linearity: measured max inter-bit |corr| 0.27, top bucket
# occupancy 13 vs 1407 on the same corpus. All intermediates stay below
# 2^63 (t < 2^22, masked to 31 bits between rounds), so Python's exact
# ints and DuckDB's overflow-checked BIGINT agree exactly.
RP_MULT_1 = 2654435761  # xxhash/Knuth-style odd multipliers
RP_MULT_2 = 2246822519
RP_MASK_31 = (1 << 31) - 1
RP_DIM_STRIDE = 4096  # supports embeddings up to 4096 dims
RP_BIT_STRIDE = 64  # up to 64 bits per band


def _rp_weight_py(t: int) -> int:
    """Pseudo-random weight in [-65536, 65536) from a flat index:
    h = mask31(t·A1); h ^= h>>15; h = mask31(h·A2); h ^= h>>13;
    w = (h & 131071) - 65536. All-positive integer arithmetic (Python
    ints are exact), so the weights are bit-identical to the DuckDB
    oracle's replay (queries.pipeline._duck_rp_bucket). Called only by
    :func:`rp_hyperplane_weights`, the one weight derivation."""
    h = (t * RP_MULT_1) & RP_MASK_31
    h ^= h >> 15
    h = (h * RP_MULT_2) & RP_MASK_31
    h ^= h >> 13
    return (h & 131071) - 65536


def rp_hyperplane_weights(
    dim: int, n_bits: int, n_bands: int
) -> dict[int, list[list[int]]]:
    """The full hyperplane weight tensor of the banded-RP kernel as a
    plain driver-side structure: band → per-bit weight vectors (each
    ``dim`` ints from :func:`_rp_weight_py`). This is the table
    production PERSISTS next to the other index fixtures — the whole ANN
    surface then serves from stored artifacts, with no per-query
    derivation left — and the structure :func:`_rp_band_buckets_arrow`
    takes back as ``rp_weights``, so stored and derived weights go
    through one kernel."""
    return {
        b: [
            [
                _rp_weight_py((b * RP_BIT_STRIDE + j) * RP_DIM_STRIDE + i)
                for i in range(dim)
            ]
            for j in range(n_bits)
        ]
        for b in range(n_bands)
    }


def _rp_band_buckets_arrow(
    embeddings: DataFrame,
    n_bits: int,
    n_bands: int,
    dim: int,
    rp_weights: dict[int, list[list[int]]] | None = None,
) -> DataFrame:
    """(vec_id, band_idx, bucket) rows of the banded RP kernel computed in
    ONE Arrow-batched NumPy pass — the guide-§4.2 shape for this operator:
    Spark distributes and shuffles, the per-batch arithmetic is a single
    int64 matrix multiply ``floor(emb·1e6) @ W`` against the broadcast
    (dim × n_bands·n_bits) hyperplane matrix instead of n_bands·n_bits
    interpreted ``aggregate(zip_with(...))`` folds per row (higher-order
    functions are CodegenFallback — measured 4.5 s interpreted vs 1.1 s
    Arrow for the registered 18-bit × 4-band dial at 8 000 rows, plus
    ~11 s of per-query py4j expression build eliminated).

    The same buckets as the DuckDB replay
    :func:`queries.pipeline._duck_rp_bucket` (pinned row for row by
    tests/test_operators.py::test_rp_arrow_route_matches_expression_route):
    the quantization is the same float64 multiply + floor, weights are the
    :func:`rp_hyperplane_weights` ints (derived here, or ``rp_weights``,
    the stored tensor), and the dot product is exact int64 arithmetic
    (|qx| ≲ 1e7 · |w| < 2^17 · dim ≤ 4096 stays far below 2^63), where
    summation order cannot matter.

    A stored tensor is read back from parquet, so its shape is checked
    against (n_bands, n_bits, dim) here: a tensor built at another dial or
    for another embedding width raises a ``ValueError`` naming the
    mismatch instead of producing wrong buckets.

    Requires fixed-width vectors of exactly ``dim`` elements (the fixture
    invariant; callers probe ``dim`` via :func:`embedding_dim`).
    """
    import numpy as np
    import pandas as pd

    if rp_weights is None:
        rp_weights = rp_hyperplane_weights(dim, n_bits, n_bands)
    elif sorted(rp_weights) != list(range(n_bands)):
        raise ValueError(
            f"_rp_band_buckets_arrow: stored tensor carries bands "
            f"{sorted(rp_weights)} but n_bands={n_bands} — it was built at "
            "a different band dial"
        )
    else:
        for b, per_bit in rp_weights.items():
            if len(per_bit) != n_bits:
                raise ValueError(
                    f"_rp_band_buckets_arrow: band {b} carries "
                    f"{len(per_bit)} hyperplanes but n_bits={n_bits} — "
                    "the stored tensor was built at a different bit dial"
                )
            bad = next((j for j, w in enumerate(per_bit) if len(w) != dim), None)
            if bad is not None:
                raise ValueError(
                    f"_rp_band_buckets_arrow: hyperplane ({b}, {bad}) carries "
                    f"{len(per_bit[bad])} weights but dim={dim} — the stored "
                    "tensor was built for a different embedding width"
                )
    w_arr = np.array(
        [rp_weights[b][j] for b in range(n_bands) for j in range(n_bits)],
        dtype=np.int64,
    ).T  # (dim, n_bands*n_bits)
    vid_type = embeddings.schema["vec_id"].dataType.simpleString()

    def buckets(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            emb = _embedding_matrix(pdf["embedding"], "embedding")
            qx = np.floor(emb * 1e6).astype(np.int64)  # == floor(cast*1e6)
            s = qx @ w_arr  # exact int64, order-free
            bits = np.where(s >= 0, "1", "0")
            for b in range(n_bands):
                seg = bits[:, b * n_bits : (b + 1) * n_bits]
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "band_idx": b,
                        "bucket": ["".join(r) for r in seg],
                    }
                )

    return embeddings.select("vec_id", "embedding").mapInPandas(
        buckets, f"vec_id {vid_type}, band_idx int, bucket string"
    )


def cosine_near_dup_pairs_banded(
    embeddings: DataFrame,
    threshold: float = 0.25,
    n_bits: int | None = None,
    n_bands: int = 4,
    rp_weights: dict[int, list[list[int]]] | None = None,
) -> DataFrame:
    """Multi-band sign-LSH near-duplicate pairs: candidates are the UNION
    over ``n_bands`` sign-bit slices of same-bucket pairs (MinHash-LSH's
    banding applied to sign-LSH), deduplicated, then exact-cosine re-ranked
    against ``threshold``. Up to BANDED_SLICE_MAX_BITS band 0 is exactly
    the single-band bucket, so the candidate set is a superset of
    :func:`cosine_near_dup_pairs` — the recall-closing move the
    single-slice path documents. Past 16 bits the bands switch to
    hash-seeded random-hyperplane signs (:func:`_rp_band_buckets_arrow`): the
    superset identity no longer holds, but bucket counts keep doubling
    with the corpus instead of capping when the slice dims run out.

    Scale shape: only (vec_id, band_idx, bucket) rows enter the candidate
    self-join (the vectors do NOT fan out ×n_bands); exact re-rank joins the
    embedding back by vec_id. One equi-join on (band_idx, bucket) + one
    distinct + two key joins — no all-pairs stage. Per-bucket pair counts
    stay quadratic in bucket size, so the default bit width ADAPTS to the
    corpus size (``adaptive_sign_bits``: one count() at plan-build time,
    buckets double as the corpus doubles — measured x2.9 wall at x32 data
    / x5.45 at x100 vs x43.3 / unmeasurable for a fixed 8-bit dial);
    recall lost to narrower buckets is recovered by the union over bands.

    ``rp_weights``: a persisted hyperplane tensor
    (:func:`rp_hyperplane_weights`, band → per-bit weight vectors) for
    the RP route — same buckets as the derived weights, sourced from a
    stored artifact (fixtures/rp_hyperplanes) instead of a per-query
    derivation. Ignored on the slice route (<= BANDED_SLICE_MAX_BITS),
    which has no hyperplanes.
    """
    if n_bits is None:
        n_bits = adaptive_sign_bits(embeddings.count())
    # slice buckets while dims last; hash-seeded hyperplanes beyond —
    # the deterministic rule the oracles mirror (CASE on the bit width).
    # The RP route probes the dimensionality once (1-row job) to size the
    # driver-built hyperplane matrix.
    if n_bits <= BANDED_SLICE_MAX_BITS:
        slim = embeddings.select(
            "vec_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_idx"),
                            sign_bucket_band(
                                F.col("embedding"), b, n_bits
                            ).alias("bucket"),
                        )
                        for b in range(n_bands)
                    ]
                )
            ).alias("bb"),
        ).select(
            "vec_id",
            F.col("bb.band_idx").alias("band_idx"),
            F.col("bb.bucket").alias("bucket"),
        )
    else:
        # RP route: ONE Arrow-batched int64 matmul per batch instead of
        # n_bands × n_bits interpreted HOF folds per row (guide §4.2).
        slim = _rp_band_buckets_arrow(
            embeddings,
            n_bits,
            n_bands,
            embedding_dim(embeddings),
            rp_weights=rp_weights,
        )
    a = slim.toDF("vec_a", "band_idx", "bucket")
    b = slim.toDF("vec_b", "band_idx", "bucket")
    cand = (
        a.join(b, ["band_idx", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    ea = embeddings.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a")
    )
    eb = embeddings.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b")
    )
    # exact-fold Arrow cosine; the 6dp round (the emitted value) stays in
    # the JVM, so sim is bit-identical to the in-expression route
    return (
        _with_cosine_arrow(
            cand.join(ea, "vec_a").join(eb, "vec_b"),
            "emb_a",
            "emb_b",
            "_cos",
            keep=["vec_a", "vec_b"],
        )
        .select(
            "vec_a",
            "vec_b",
            F.round(F.col("_cos"), SIM_SCALE).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def cosine_topk_lsh(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Bucketed ANN: candidates share the query's 8-bit sign bucket
    (:func:`sign_bucket`'s default width); exact cosine re-rank inside the
    bucket. Recall < 1.0 by design — the oracle defines the same bucketed
    semantics, so results are exactly comparable."""
    emb_b = embeddings.withColumn("bucket", sign_bucket(F.col("embedding")))
    q_b = queries.withColumn("bucket", sign_bucket(F.col("q_embedding")))
    joined = q_b.join(emb_b, "bucket").filter(F.col("query_id") != F.col("vec_id"))
    return _cosine_topk(joined, k)


# --- product quantization (ADC) ----------------------------------------------
# Axis-sign product quantizer: the embedding is split into PQ_M subspaces;
# each subspace's cells are the sign orthants of its 3 leading dimensions
# (PQ_K = 8 codes, 3 bits/subspace) and the codeword is the cell's member
# mean. Parameters picked by measurement (tools: recall@5 sweep at sf0.01):
# (m=4,k=4) 0.04, (m=8,k=8) 0.20, (m=16,k=8) 0.28; one Lloyd refinement of
# the codebooks moves none of these, so the plain orthant-mean codebook is
# kept. That makes
# codebook construction, encoding, and ADC scoring pure column expressions
# with the fixed-point arithmetic kmeans_refine established — deterministic
# across engines, hence oracle-checkable instead of rows-only. A production
# deployment swaps the cell rule for per-subspace k-means codebooks
# (identical plan shape: tiny broadcast codebook, map-side encode/score).
PQ_M = 16  # subspaces
PQ_K = 8  # codes per subspace (3 sign bits)


def normalize_embeddings(embeddings: DataFrame) -> DataFrame:
    """(vec_id, ne): unit-norm double vectors. Cosine == inner product on
    these, which is what ADC approximates subspace-wise."""
    return (
        embeddings.withColumn("_n", _norm(F.col("embedding")))
        .select(
            "vec_id",
            F.transform(
                F.col("embedding"), lambda x: x.cast("double") / F.col("_n")
            ).alias("ne"),
        )
    )


# --- SQ8: per-dimension int8 scalar quantization ------------------------------
def sq8_stats(embeddings: DataFrame) -> DataFrame:
    """Per-dimension global (min, max) of the corpus as ONE row of two
    position-ordered arrays — the codebook of scalar quantization. The
    aggregate is a 64-row groupBy (one per dimension) collapsed to a
    single broadcastable row: at any corpus size this is one map-side
    combinable pass and a tiny driver-free broadcast."""
    dims = (
        embeddings.select(F.posexplode(F.col("embedding")).alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
    )
    return dims.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mn"))), lambda s: s["mn"]
        ).alias("mns"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mx"))), lambda s: s["mx"]
        ).alias("mxs"),
    )


def _sq8_dequant(emb, mns, mxs):
    """Quantize-then-dequantize one vector column against broadcast stats:
    code_i = floor((x_i - mn_i) * 255 / (mx_i - mn_i) + 0.5), value back
    as mn_i + code_i * (mx_i - mn_i) / 255. Exact formula order is kept
    engine-portable (the oracle replays it verbatim); constant dimensions
    (mx == mn) dequantize to the constant."""

    def one(x, i):
        mn = F.element_at(mns, (i + F.lit(1)).cast("int"))
        mx = F.element_at(mxs, (i + F.lit(1)).cast("int"))
        code = F.floor((x.cast("double") - mn) * 255 / (mx - mn) + F.lit(0.5))
        # Clamp to the codebook range: for in-corpus queries this is a
        # no-op (stats cover them), but external query vectors outside
        # [mn, mx] must saturate like real int8 quantization, not
        # extrapolate past the grid.
        code = F.least(F.greatest(code, F.lit(0.0)), F.lit(255.0))
        return F.when(mx == mn, mn).otherwise(mn + code * (mx - mn) / F.lit(255.0))

    return F.transform(emb, one)


def sq8_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Approximate top-k over int8 scalar-quantized vectors: both sides are
    quantized against the corpus per-dimension stats (broadcast single
    row), dequantized, and scored with the exact-cosine kernel — i.e. the
    ranking a 4x-compressed in-memory scan would produce, which is what
    SQ8 buys at 100 TB (memory-bound ANN: vectors at 1 byte/dim). The
    scoring scan here is brute force over the eval corpus; at scale SQ8
    composes with IVF list pruning (cosine_topk_ivf) — quantization
    decides bytes/vector, IVF decides vectors touched.

    Returns (query_id, vec_id, sim, rnk) like cosine_topk_bruteforce, so
    recall@k against the exact path is a direct join."""
    stats = F.broadcast(sq8_stats(embeddings))
    e = embeddings.crossJoin(stats).select(
        "vec_id",
        _sq8_dequant(F.col("embedding"), F.col("mns"), F.col("mxs")).alias(
            "embedding"
        ),
    )
    q = queries.crossJoin(stats).select(
        "query_id",
        _sq8_dequant(F.col("q_embedding"), F.col("mns"), F.col("mxs")).alias(
            "q_embedding"
        ),
    )
    return cosine_topk_bruteforce(e, q, k=k)


def _pq_d_sub(dim: int) -> int:
    if dim % PQ_M:
        raise ValueError(f"embedding dim {dim} not divisible by PQ_M={PQ_M}")
    return dim // PQ_M


def pq_cells(norm_emb: DataFrame, d_sub: int) -> DataFrame:
    """Explode (vec_id, ne) into per-subspace rows (vec_id, s, code, sub):
    s in [0, PQ_M), code = sign orthant of the subspace's 3 leading dims."""
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        lambda s: F.struct(
            s.alias("s"),
            F.slice(F.col("ne"), s * d_sub + 1, d_sub).alias("sub"),
        ),
    )
    cell = norm_emb.select(
        "vec_id", F.explode(subs).alias("c")
    ).select("vec_id", F.col("c.s").alias("s"), F.col("c.sub").alias("sub"))
    code = (
        F.when(F.element_at("sub", 1) >= 0, F.lit(4)).otherwise(F.lit(0))
        + F.when(F.element_at("sub", 2) >= 0, F.lit(2)).otherwise(F.lit(0))
        + F.when(F.element_at("sub", 3) >= 0, F.lit(1)).otherwise(F.lit(0))
    )
    return cell.withColumn("code", code.cast("int"))


def pq_codebooks(norm_emb: DataFrame, d_sub: int) -> DataFrame:
    """Codebook (s, code, n_members, c_emb): element-wise member mean per
    cell via the fixed-point accumulation of kmeans_refine (floor to 1e-6,
    exact BIGINT sum — order-independent, bit-identical across engines),
    rounded to 4dp. One (s, code, pos)-keyed aggregation of N×D cells."""
    cells = pq_cells(norm_emb, d_sub)
    members = cells.groupBy("s", "code").agg(
        F.countDistinct("vec_id").alias("n_members")
    )
    means = (
        cells.select("s", "code", F.posexplode("sub").alias("pos", "val"))
        .groupBy("s", "code", "pos")
        .agg(
            F.round(
                F.sum(F.floor(F.col("val") * MEAN_QUANT).cast("long"))
                / (F.count("*") * F.lit(MEAN_QUANT)),
                4,
            ).alias("mv")
        )
        .groupBy("s", "code")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mv"))),
                lambda g: g.getField("mv"),
            ).alias("c_emb")
        )
    )
    return means.join(members, ["s", "code"]).select(
        "s", "code", "n_members", "c_emb"
    )


def _pq_code_array(d_sub: int, ne_col: str = "ne") -> Column:
    """The PQ_M per-subspace codes of a unit-normalized vector column as
    one array<int> — row-local expression shared by pq_codes and the
    IVF-PQ index build."""
    def code_at(s):
        return (
            F.when(F.element_at(ne_col, s * d_sub + 1) >= 0, F.lit(4)).otherwise(F.lit(0))
            + F.when(F.element_at(ne_col, s * d_sub + 2) >= 0, F.lit(2)).otherwise(F.lit(0))
            + F.when(F.element_at(ne_col, s * d_sub + 3) >= 0, F.lit(1)).otherwise(F.lit(0))
        ).cast("int")
    return F.array(*[code_at(s) for s in range(PQ_M)])


def pq_codes(norm_emb: DataFrame, d_sub: int) -> DataFrame:
    """(vec_id, codes): the PQ_M per-subspace codes as one array — the
    compressed representation (3 bits/subspace = 48-bit codes for d=64,
    a ~42x reduction over float32 vectors). Pure map-side expression."""
    return norm_emb.select(
        "vec_id",
        _pq_code_array(d_sub).alias("codes"),
    )


def _pq_lut(
    queries: DataFrame, codebooks: DataFrame, d_sub: int | Column
) -> DataFrame:
    """(query_id, lut): each query's PQ_M×PQ_K lookup table of subspace
    partial inner products against the broadcast ``codebooks`` codewords,
    as a map key = s·PQ_K + code → floor(partial·1e6) BIGINT, so the sum
    over subspaces is order-independent. ``d_sub`` is the subspace width,
    an int or a Column."""
    return (
        queries.crossJoin(F.broadcast(codebooks))
        .select(
            "query_id",
            (F.col("s") * PQ_K + F.col("code")).alias("key"),
            F.floor(
                _dot(
                    F.slice(F.col("q_embedding"), F.col("s") * d_sub + 1, d_sub),
                    F.col("c_emb"),
                )
                * MEAN_QUANT
            )
            .cast("long")
            .alias("p_int"),
        )
        .groupBy("query_id")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("key", "p_int"))).alias("lut")
        )
    )


def _adc_score() -> Column:
    """The ADC score s_int of a row carrying ``codes`` and its query's
    ``lut``: one fold over the code array summing the LUT partials."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.element_at(F.col("lut"), s * PQ_K + F.element_at(F.col("codes"), s + 1)),
    )


def _adc_rank(by: tuple[str, ...] = ("query_id",)) -> Column:
    """Row number of an ADC-scored row within ``by``, by (s_int desc,
    vec_id asc): the ADC shortlist order both PQ paths cut on."""
    w = Window.partitionBy(*by).orderBy(F.desc("s_int"), F.asc("vec_id"))
    return F.row_number().over(w)


def pq_adc_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Approximate top-k by PQ asymmetric-distance computation: per query,
    a PQ_M×PQ_K lookup table of subspace partial inner products against
    the codewords (fixed-point BIGINT so the sum over subspaces is
    order-independent); corpus vectors are scored by ONE map-side fold
    over their code array against the broadcast LUT — no shuffle of the
    corpus, no per-row vector arithmetic at query time. The 100 TB query
    path for memory-bound ANN: the scan touches 2·PQ_M bits + vec_id per
    row instead of the full vector.

    Returns (query_id, vec_id, score, rnk); score = approximate inner
    product vs the unit-normalized corpus (monotone in approximate cosine).
    """
    d = embedding_dim(embeddings)
    d_sub = _pq_d_sub(d)
    ne = normalize_embeddings(embeddings)
    lut = _pq_lut(queries, pq_codebooks(ne, d_sub), d_sub)
    scored = (
        pq_codes(ne, d_sub)
        .crossJoin(F.broadcast(lut))
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn("s_int", _adc_score())
    )
    return (
        scored.withColumn("rnk", _adc_rank())
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "vec_id",
            F.round(F.col("s_int") / F.lit(MEAN_QUANT), 6).alias("score"),
            "rnk",
        )
    )


def ivf_pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    refine_k: int = 32,
) -> DataFrame:
    """Composed IVF-PQ ANN — the production path for memory-bound ANN at
    10⁹+ vectors (the FAISS ``IVFx,PQy`` index): IVF routing decides which
    vectors are TOUCHED, PQ decides the BYTES per touched vector, and an
    exact re-rank of the ADC shortlist buys back the quantization error.

    Stages, each with its 100 TB shape:
      1. index build — ONE map-side pass over the corpus: nearest-centroid
         assignment is a broadcast fold (:func:`nearest_centroid`),
         normalization + PQ codes are row-local expressions; the stored
         index row is (vec_id, cent_id, 48-bit codes) — no corpus shuffle,
         and at scale cent_id becomes the partition column.
      2. query routing — queries × broadcast(centroids), top ``n_probe``
         lists per query (same dial as :func:`cosine_topk_ivf`).
      3. ADC scan — probed lists only: index ⋈ broadcast(probes) on
         cent_id, then one fold per candidate over its code array against
         the query's broadcast PQ_M×PQ_K LUT (exact BIGINT partials, so
         the shortlist is deterministic). The scan reads ≈ N·n_probe/C
         code rows instead of N full vectors.
      4. refine — the top ``refine_k`` ADC candidates per query re-scored
         with exact cosine against the raw vectors (broadcast the tiny
         shortlist into one more corpus scan — the standard stored-raw
         refine), final top-k on the exact score.

    Returns (query_id, vec_id, sim, rnk); sim = exact cosine (6dp), so
    recall against :func:`cosine_topk_bruteforce` is a direct join.
    (The dimensionality comes from one 1-row probe per index build —
    :func:`embedding_dim`; the query path reads the subspace width off
    the codebook rows.)
    """
    centroids, index, cb = build_ivf_pq_index(embeddings, n_centroids)
    return ivf_pq_topk_from_index(
        centroids, index, cb, embeddings, queries,
        k=k, n_probe=n_probe, refine_k=refine_k,
    )


def build_ivf_pq_index(
    embeddings: DataFrame, n_centroids: int = 16
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The three STORED tables of a FAISS-style ``IVFx,PQy`` index —
    (centroids, index, codebooks) — factored out of :func:`ivf_pq_topk`
    so production can build once and serve many: at 100 TB the index is
    materialized to parquet (cent_id the partition column for the index
    rows) and every query reads it instead of re-deriving centroids,
    codes, and codebooks per query (the reference's own pattern:
    pre-loaded warehouse, queries only — IcebergBenchmark.java:153).

    centroids: (cent_id, c_emb); index: (vec_id, cent_id, codes) — ONE
    map-side corpus pass (broadcast-fold assignment + row-local code
    expressions, plan-asserted no corpus shuffle); codebooks: (s, code,
    n_members, c_emb) — one (s, code, pos)-keyed aggregation.
    """
    d = embedding_dim(embeddings)
    d_sub = _pq_d_sub(d)
    centroids, assignments = ivf_assignments(embeddings, n_centroids)
    # codes are SIGN-based per subspace, and sign(x / ||v||) == sign(x)
    # (norms are positive), so the index build reads signs off the RAW
    # embedding — no per-row norm fold, no normalization transform.
    # Byte-identical codes to _pq_code_array over normalized vectors,
    # PROVIDED components are normal-range floats from a non-zero vector:
    # x = ±0.0 on a zero-norm row (0/0 → NaN fails `>= 0`) or a denormal
    # x that underflows to -0.0 after the divide would flip the coded bit
    # vs the normalized-side oracle. The sf0.001-sf0.1 `embeddings`
    # tables hold no zero and no subnormal component (smallest |x| is
    # ~1e-6, far above float32's 1.2e-38 normal floor); a corpus that
    # can't promise this is routed through
    # pq_codes(normalize_embeddings(...)) instead.
    index = assignments.select(
        "vec_id", "cent_id", _pq_code_array(d_sub, ne_col="embedding").alias("codes")
    )
    cb = pq_codebooks(normalize_embeddings(embeddings), d_sub)
    return centroids, index, cb


def ivf_pq_topk_from_index(
    centroids: DataFrame,
    index: DataFrame,
    codebooks: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    refine_k: int = 32,
) -> DataFrame:
    """The QUERY path of the composed IVF-PQ ANN over prebuilt index
    tables (:func:`build_ivf_pq_index`, possibly read back from parquet):
    route queries against broadcast ``centroids``, ADC-scan the probed
    ``index`` lists against the broadcast per-query LUT built from
    ``codebooks``, exact-refine the shortlist against ``corpus`` raw
    vectors. Contains NO index-build stages — no centroid seeding, no
    corpus-wide codebook aggregate, no code derivation (plan-asserted):
    the serve-path cost is routing + probed-list scan + shortlist refine,
    which is what an online ANN service pays per query batch. The
    subspace width is each codebook row's ``size(c_emb)``, so the query
    path runs no probe job.
    """
    short = (
        _adc_candidates(centroids, index, codebooks, queries, n_probe)
        .withColumn("rn", _adc_rank())
        .filter(F.col("rn") <= refine_k)
        .select("query_id", "vec_id")
    )
    return _exact_refine(short, queries, corpus, k)


def _adc_candidates(
    centroids: DataFrame,
    index: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    n_probe: int,
    *cols,
) -> DataFrame:
    """The ``index`` rows of each query's ``n_probe`` probed lists,
    self-matches dropped, each with its ADC score s_int against the
    query's broadcast LUT. ``cols`` are extra :func:`_probe_lists`
    columns carried along."""
    probes = _probe_lists(queries, centroids, n_probe, "query_id", "cent_id", *cols)
    lut = _pq_lut(
        queries, codebooks.select("s", "code", "c_emb"), F.size(F.col("c_emb"))
    )
    return (
        index.join(F.broadcast(probes), "cent_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .join(F.broadcast(lut), "query_id")
        .withColumn("s_int", _adc_score())
    )


def _exact_refine(
    short: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    by: tuple[str, ...] = ("query_id",),
) -> DataFrame:
    """Exact cosine top-k per ``by`` over the ``short`` (``by``, vec_id)
    shortlist: the tiny shortlist is broadcast into one scan of the raw
    ``corpus`` vectors."""
    short_q = short.join(
        queries.select("query_id", "q_embedding"), "query_id"
    )
    refined = corpus.select("vec_id", "embedding").join(
        F.broadcast(short_q), "vec_id"
    )
    return _cosine_topk(refined, k, (*by, "vec_id"), by=by)


def _ivf_pq_sweep_from_index(
    centroids: DataFrame,
    index: DataFrame,
    codebooks: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    settings: DataFrame,
    n_probe: int,
    k: int = 5,
) -> DataFrame:
    """:func:`ivf_pq_topk_from_index` at every (n_probe, refine_k) row of
    the ``settings`` table, from one scored candidate set: each query is
    routed to ``n_probe`` lists (the sweep's largest) and its candidates
    are ADC-scored once; each setting keeps the candidates its n_probe
    covers, cuts them at its refine_k, and one exact refine ranks every
    shortlist. Out: n_probe, refine_k, query_id, vec_id, sim, rnk."""
    by = ("n_probe", "refine_k", "query_id")
    cand = _adc_candidates(
        centroids, index, codebooks, queries, n_probe,
        F.col("rn").alias("probe_rank"),
    )
    short = (
        _covered_by(cand, settings)
        .withColumn("rn", _adc_rank(by))
        .filter(F.col("rn") <= F.col("refine_k"))
        .select(*by, "vec_id")
    )
    return _exact_refine(short, queries, corpus, k, by)


# Bounded physical-partition count for the stored two-level index: the
# serve read prunes on shard (= cent_id % this), so ≤ n_probe shards are
# scanned regardless of how many fine lists the adaptive dial reaches.
TWO_LEVEL_INDEX_SHARDS = 256


def build_two_level_index(
    embeddings: DataFrame, n_centroids: int
) -> tuple[DataFrame, DataFrame]:
    """The STORED tables of an IVF-Flat index whose assignment ran
    through the two-level (coarse→fine) route — factored out of
    :func:`cosine_topk_ivf` exactly like :func:`build_ivf_pq_index` so
    production can build once and serve many (the reference's own
    pattern: pre-loaded warehouse, queries only —
    IcebergBenchmark.java:153). The EXPENSIVE part of the two-level
    route is all build-time: fine+coarse sign-orthant seeding, the
    fine→coarse mapping, and the per-vector two-stage argmax
    (O(N·sqrt(k)) FLOPs). None of it belongs in a query plan that runs
    per request.

    Returns (centroids, index): centroids = the k fine centroids
    (cent_id, c_emb) — the query-routing table, broadcast at serve
    time; index = (vec_id, cent_id, shard, embedding) — the inverted
    lists in the FAISS IVF-Flat layout, raw vectors stored WITH their
    list so a probed-lists-only partition-pruned read yields everything
    the exact in-list re-rank needs (no corpus-wide vec_id join at serve
    time). The PHYSICAL partition column is ``shard`` =
    cent_id % TWO_LEVEL_INDEX_SHARDS, not cent_id itself: the adaptive
    dial reaches k = 2^16 lists at ~10^8 vectors, and one directory per
    list is a filesystem liability — the bounded shard count keeps the
    layout sane while the serve path joins on (shard, cent_id) so
    partition pruning still cuts the read to ≤ n_probe shards."""
    centroids, assignments = ivf_assignments(embeddings, n_centroids)
    index = assignments.select(
        "vec_id",
        "cent_id",
        F.pmod(F.col("cent_id"), F.lit(TWO_LEVEL_INDEX_SHARDS)).alias("shard"),
        "embedding",
    )
    return centroids, index


def two_level_topk_from_index(
    centroids: DataFrame,
    index: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """The QUERY path of IVF top-k over a prebuilt two-level index
    (:func:`build_two_level_index`, read back from parquet): route each
    query against the broadcast ``centroids`` (k dot products — the
    serve side never pays the two-level assignment, that was the build's
    cost), scan only the ``n_probe`` probed lists of ``index`` (broadcast
    probe join on the partition column → partition-pruned read), exact
    cosine re-rank within the candidates. Contains NO index-build stages
    — no orthant seeding, no coarse/fine mapping, no corpus argmax
    (plan-asserted by tests/test_plans.py::
    test_two_level_serve_path_reads_stored_index)."""
    probes = _probe_lists(
        queries,
        centroids,
        n_probe,
        "query_id",
        "q_embedding",
        "cent_id",
        F.pmod(F.col("cent_id"), F.lit(TWO_LEVEL_INDEX_SHARDS)).alias("shard"),
    )
    # join on (shard, cent_id): shard is the index's physical partition
    # column, so the broadcast probe side prunes the scan to ≤ n_probe
    # shards; cent_id keeps the logical list equality exact.
    cand = index.join(F.broadcast(probes), ["shard", "cent_id"]).filter(
        F.col("query_id") != F.col("vec_id")
    )
    return _cosine_topk(cand, k)


# Occupancy bound for SemDeDup's within-cluster pair stage. The pair
# self-join is quadratic in CLUSTER SIZE, and k ∝ N keeps occupancy flat
# only until SEMDEDUP_MAX_BITS caps k = 65,536 — past the cap (and under
# orthant skew before it) individual clusters grow with the corpus and
# the pair stage turns quadratic again (measured x33.3 wall at x100,
# artifacts/SCALING_r07_semdedup_addendum.json). Clusters above the bound are
# re-split by sign-orthant on the dimensions AFTER the seeding bits
# (the same deterministic re-seed geometry seed_centroids uses, applied
# within the oversize cell): each doubling of occupancy past the bound
# adds one split bit, so expected sub-cell size stays ≤ the bound at any
# corpus size. Pairs across sub-cells of an oversize cluster are no
# longer compared — the measured recall trade that replaces the cliff.
SEMDEDUP_OCC_BOUND = 64
SEMDEDUP_SPLIT_MAX_E = 24  # bound * 2^24 ≈ 10^9 members — beyond any cell
# Multi-probe boundary margin for the occupancy split, in units of the
# vector's per-dimension RMS (sqrt(<v,v>/d) — scale-free, row-local, so
# the DuckDB oracle replays it exactly). A vector whose split-dim value
# lies within margin·rms of the sign boundary ALSO probes the sub-cell
# with that bit flipped — the n_probe move applied to the orthant split,
# which recovers the cross-sub-cell ε-pairs the r8 single-probe split
# stopped comparing. Since round 10 the candidate rule is ASYMMETRIC
# (_pair_partners: probe keys join the partner's PRIMARY key only, both
# directions), so pair cost grows by ~keys/vector instead of the r9
# symmetric-intersection ~(keys/vector)² — at the registered margin the
# join volume is ~1.93× the unsplit pair stage vs r9's ~3.15×, a ~40%
# cut. The margin is widened 0.75 → 0.95 to hold pair retention above
# 0.9 under the stricter rule (measured on the forced-split corpus,
# margin sweep under the asymmetric rule: 0.75/0.85/0.95/1.0 →
# 0.887/0.906/0.915/0.918 retention at 1.77/1.86/1.93/2.0 keys/vector;
# registered 0.95 → retention 0.915, drop retention 0.991). Constant
# factor either way: the bound's ≤ occ_bound²-per-cell invariant becomes
# ≤ 2·1.93·occ_bound² and stays flat in corpus size.
SEMDEDUP_PROBE_MARGIN = 0.95
# The assignment is ALWAYS materialized (localCheckpoint) before the
# pair stage: it feeds three consumers, and re-running the O(N·sqrt(k))
# fold per consumer loses at every measured size once the pair cosine
# moved to the Arrow kernel (r11 re-measure at 1x/N=2000: ~6.1 s
# pipelined vs ~4.0 s checkpointed per run; at x100/N=200k the r9
# measurement stands: 187 s un-materialized vs 104 s). The old
# size gate (SEMDEDUP_CHECKPOINT_MIN = 50_000) also cost an eager
# corpus-count probe job per query even when n_centroids was explicit —
# both the gate and the probe are gone.


def semantic_dedup(
    embeddings: DataFrame,
    n_centroids: int | None = 16,
    threshold: float = 0.2,
    occupancy_bound: int | None = SEMDEDUP_OCC_BOUND,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the corpus with the deterministic IVF path, then WITHIN each cluster
    mark cosine-near-duplicate groups and keep only the member least
    similar to its centroid (the diversity-preserving keep rule; ties to
    the lowest vec_id). No transitive closure — the paper's greedy
    pairwise form: a vector is dropped iff some same-cluster ε-neighbor
    beats it under (cent_sim asc, vec_id asc).

    Shape at 100 TB: assignment is the map-side broadcast-centroid fold
    (no corpus shuffle); the only pairwise stage is the within-cluster
    self-join on cent_id, quadratic ONLY in cluster size — n_centroids is
    the dial that scales with the corpus (k ~ N/target_cluster_size) to
    keep in-cluster occupancy flat, exactly like the LSH n_bits dial.
    ``n_centroids=None`` applies that dial: k = adaptive_centroids(count)
    (64 at base scale, doubling with the corpus), which routes through
    the two-level assignment so total FLOPs stay O(N·sqrt(k)).

    With an explicit ``n_centroids`` the plan runs NO eager probe jobs:
    the assignment is unconditionally materialized (localCheckpoint)
    before the pair stage — measured faster at every size (see the
    module comment above), and it is what production does anyway
    (persist the IVF index table once).

    ``occupancy_bound`` (default 64) bounds the pair stage itself:
    clusters with more than bound members are deterministically sub-split
    by the sign-orthant of the ``e`` dimensions following the seeding
    bits, with ``e`` the smallest integer where occ <= bound·2^e — so the
    expected sub-cell size stays ≤ bound even when k hits its cap or a
    cluster is orthant-skewed. ε-neighborhoods (and hence the keep rule)
    are then scoped to the sub-cell: a recall trade, made deterministic
    (pure integer derivation, same on the DuckDB oracle side) instead of
    a scale cliff. ``None`` disables the bound (exact paper semantics).

    The split buys back most of its pair recall by multi-probe at the
    SEMDEDUP_PROBE_MARGIN boundary margin: a vector whose split-dim value
    is within margin·rms(v) of the sign boundary also probes the adjacent
    sub-cell (that bit flipped, one flip per boundary dim — single-bit
    probes, so ≤ e+1 keys/vector), and a pair is compared iff EITHER
    endpoint's probe-key set contains the other's primary sub-key (the
    asymmetric candidate rule of :func:`_pair_partners` — ~1.93× pair
    volume instead of the symmetric intersection rule's ~3.15×;
    duplicates from two-direction discovery are removed before the
    partner counts). Measured on the forced-split corpus
    (pipe_semantic_dedup_split_price): pair retention 0.915, drop
    retention 0.991, drop-set still a subset of the exact route's.

    Out: vec_id, cent_id, cent_sim, n_dup_partners, keep.
    """
    if n_centroids is None:
        n_centroids = adaptive_centroids(embeddings.count())
    centroids, assign = ivf_assignments(embeddings, n_centroids)
    cs = assign.join(F.broadcast(centroids), "cent_id").select(
        "vec_id",
        "cent_id",
        "embedding",
        F.round(cosine(F.col("embedding"), F.col("c_emb")), 6).alias(
            "cent_sim"
        ),
    )
    # The assignment feeds THREE consumers (both pair sides + the final
    # projection); without materialization Spark re-runs the O(N·sqrt(k))
    # assignment fold once per consumer, which loses at every measured
    # size (x100/N=200k: 187 s un-materialized vs 104 s checkpointed;
    # 1x/N=2000 after the Arrow pair kernel: ~6.1 s vs ~4.0 s).
    # localCheckpoint is the local-mode stand-in for what production
    # does anyway: persist the IVF index table once.
    cs = cs.localCheckpoint(eager=False)
    if occupancy_bound:
        # Occupancy comes from a cent_id-partitioned window — ONE shuffle
        # keyed like the pair join, no extra assignment-recomputing
        # branch (a groupBy+join-back formulation re-ran the whole
        # assignment for the probe: measured 353 s vs 187 s at x100).
        cs = cs.withColumn(
            "_occ", F.count("*").over(Window.partitionBy("cent_id"))
        )
    cs = _attach_probe_keys(cs, n_centroids, occupancy_bound)
    return _keep_decision(cs, _pair_partners(cs, cs, threshold, symmetric=True))


def _keep_decision(cells: DataFrame, partners: DataFrame) -> DataFrame:
    """The SemDeDup decision per member of ``cells``: its partner counts
    from ``partners`` (0 when it has none), kept iff no partner beats it.
    Out: vec_id, cent_id, cent_sim, n_dup_partners, keep (the explicit
    projection drops the internal sub_keys)."""
    return cells.join(partners, "vec_id", "left").select(
        "vec_id",
        "cent_id",
        "cent_sim",
        F.coalesce(F.col("n_dup_partners"), F.lit(0))
        .cast("long")
        .alias("n_dup_partners"),
        (F.coalesce(F.col("n_better"), F.lit(0)) == 0).alias("keep"),
    )


def _attach_probe_keys(
    cs: DataFrame, n_centroids: int, occupancy_bound: int | None
) -> DataFrame:
    """Derive the occupancy-split multi-probe key set ``sub_keys`` on a
    cells DataFrame (vec_id, cent_id, embedding, cent_sim[, _occ]) —
    shared by :func:`semantic_dedup` (window occupancy over one corpus)
    and :func:`incremental_semantic_dedup` (broadcast-joined occupancy
    over corpus+batch) so the split geometry can never drift between the
    full and the ingest paths. Consumes ``_occ`` when
    ``occupancy_bound`` is set; drops the intermediates.

    Invariant consumed by :func:`_pair_partners`: the PRIMARY sub-key
    (the vector's home sub-cell) is always element 1 of ``sub_keys`` —
    array_union preserves first-array order, and a boundary flip always
    differs from the primary in one bit, so it can never collapse into
    position 1."""
    if not occupancy_bound:
        return cs.withColumn("sub_keys", F.array(F.lit("")))
    # per-cluster split width: #caps [bound*2^0 .. bound*2^24] below
    # the cluster's occupancy = smallest e with occ <= bound*2^e.
    bits_f = max(1, (max(n_centroids, 2) - 1).bit_length())
    caps = F.array(
        *[
            F.lit(occupancy_bound << i)
            for i in range(SEMDEDUP_SPLIT_MAX_E + 1)
        ]
    )
    # sub-key = signs of dims [bits_f+1 .. bits_f+e] (1-based) — the
    # dims AFTER the seeding bits, which cluster members correlate on.
    # Slice truncates past the embedding's end identically in Spark
    # and DuckDB, so the key degrades deterministically if dims run
    # out. e = 0 (cluster within bound) → empty key → no split.
    vals = F.slice(F.col("embedding"), F.lit(bits_f + 1), F.col("_e"))
    sub_bits = F.transform(
        vals,
        lambda v: F.when(v >= 0, F.lit("1")).otherwise(F.lit("0")),
    )
    primary = F.when(F.col("_e") <= 0, F.lit("")).otherwise(
        F.array_join(sub_bits, "")
    )
    cs = cs.withColumn(
        "_e",
        F.size(F.filter(caps, lambda c: c < F.col("_occ"))),
    ).withColumn("sub_key", primary)
    # Multi-probe: one extra key per split dim within
    # SEMDEDUP_PROBE_MARGIN·rms(v) of the sign boundary — the flipped-bit
    # sub-cell. rms is the scale-free per-dim magnitude (sqrt(<v,v>/d)),
    # identical arithmetic on the oracle side. 1-based boundary dims; -1
    # sentinel filtered out.
    rms = F.sqrt(
        _dot(F.col("embedding"), F.col("embedding")) / F.size(F.col("embedding"))
    )
    flip_idx = F.filter(
        F.transform(
            vals,
            lambda v, i: F.when(
                F.abs(v) < F.lit(SEMDEDUP_PROBE_MARGIN) * F.col("_rms"),
                i + 1,
            ).otherwise(F.lit(-1)),
        ),
        lambda j: j > 0,
    )
    flip_key = lambda j: F.concat(  # noqa: E731
        F.substr(F.col("sub_key"), F.lit(1), j - 1),
        F.when(
            F.substr(F.col("sub_key"), j, F.lit(1)) == "1",
            F.lit("0"),
        ).otherwise(F.lit("1")),
        F.substr(F.col("sub_key"), j + 1),
    )
    cs = (
        cs.withColumn("_rms", rms)
        .withColumn(
            "sub_keys",
            F.array_union(
                F.array(F.col("sub_key")),
                F.transform(flip_idx, flip_key),
            ),
        )
        .drop("_rms")
    )
    return cs.drop("_e", "_occ", "sub_key")


def _pair_partners(
    x_cells: DataFrame,
    y_cells: DataFrame,
    threshold: float,
    symmetric: bool = False,
) -> DataFrame:
    """ε-neighbor partner counts of ``x_cells`` members against
    ``y_cells`` members under the ASYMMETRIC multi-probe candidate rule:
    a pair (a, b) is compared iff a's probe-key set contains b's PRIMARY
    sub-key or b's probe-key set contains a's primary — i.e. either
    endpoint probes the other's home sub-cell. The round-9 rule exploded
    ``sub_keys`` on BOTH join sides (pair compared iff the key sets
    intersect through ANY shared cell), which paid ~(keys/vector)² ≈ 3.2×
    the unsplit pair volume; probing against the primary only pays
    ~keys/vector ≈ 1.93× while keeping every boundary pair reachable
    through either endpoint's probe (the only pairs lost intersect solely
    through a third cell neither calls home — measured on the
    forced-split corpus: retention 0.887 at the r9 margin 0.75, bought
    back to 0.915 by widening SEMDEDUP_PROBE_MARGIN to 0.95, still at
    ~60% of the symmetric rule's join volume).

    Both inputs carry (vec_id, cent_id, embedding, cent_sim, sub_keys)
    with the PRIMARY sub-key at position 1 of ``sub_keys`` (the
    :func:`_attach_probe_keys` invariant). ``symmetric=True`` declares
    x_cells and y_cells to be the SAME corpus: the distinct ordered-pair
    set is then exactly both orderings of every discovered unordered
    pair, so it is computed from ONE execution of the join subtree —
    canonicalize each discovered row to (min-id, max-id), distinct, and
    explode each canonical pair into both directions (a row-local
    generate). The pre-r12 shape unioned the forward rows with their own
    swap, which physically re-executed the join + Arrow cosine for the
    second union branch (only the exchanges were shared via
    ReuseExchange). With ``symmetric=False`` (the incremental batch
    path) the reverse direction is a genuinely different join (the
    sides' probe/primary roles flip), so it runs as a second join.
    Output: DISTINCT qualifying pairs reduced to per-x-member
    n_dup_partners and n_better (the keep rule's numerator)."""
    x = x_cells.select(
        "cent_id",
        F.explode("sub_keys").alias("sub_key"),
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("ea"),
        F.col("cent_sim").alias("sa"),
    )
    y = y_cells.select(
        "cent_id",
        F.element_at("sub_keys", 1).alias("sub_key"),
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"),
        F.col("cent_sim").alias("sb"),
    )
    # pair cosine: exact Arrow fold (guide §4.2), threshold applied in the
    # JVM on the 6dp round of the bit-identical double — same qualifying
    # set as the in-expression filter, at vectorized instead of
    # interpreted-HOF cost (the pair stage's dominant term).
    fwd = (
        _with_cosine_arrow(
            x.join(y, ["cent_id", "sub_key"]).filter(F.col("va") != F.col("vb")),
            "ea",
            "eb",
            "_cos",
            keep=["va", "sa", "vb", "sb"],
        )
        .filter(F.round(F.col("_cos"), 6) >= threshold)
        .select("va", "sa", "vb", "sb")
    )
    if symmetric:
        # x == y: the reverse-direction pairs are exactly the forward
        # pairs swapped, so the DISTINCT ordered-pair set is, for every
        # UNORDERED qualifying pair {a, b}, both of its ordered rows.
        # Compute that with ONE execution of the join subtree: project
        # each discovered row to its canonical (min-id, max-id) form,
        # distinct, then explode every canonical pair into both
        # directions (a row-local generate — no second join, no second
        # Arrow pass). The previous shape unioned fwd with its own swap,
        # which re-executed the join + cosine kernel for the second
        # branch (only the exchanges were shared via ReuseExchange) —
        # this halves the pair-stage CPU (r11 verdict Next #3) while
        # keeping the whole subtree plan-visible (no RDD buffer).
        lo_first = F.col("va") < F.col("vb")
        canon = (
            fwd.select(
                F.when(lo_first, F.col("va")).otherwise(F.col("vb")).alias("va"),
                F.when(lo_first, F.col("sa")).otherwise(F.col("sb")).alias("sa"),
                F.when(lo_first, F.col("vb")).otherwise(F.col("va")).alias("vb"),
                F.when(lo_first, F.col("sb")).otherwise(F.col("sa")).alias("sb"),
            )
            .distinct()
        )
        pr = canon.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("va"), F.col("sa"), F.col("vb"), F.col("sb")
                    ),
                    F.struct(
                        F.col("vb").alias("va"),
                        F.col("sb").alias("sa"),
                        F.col("va").alias("vb"),
                        F.col("sa").alias("sb"),
                    ),
                )
            ).alias("p")
        ).select("p.va", "p.sa", "p.vb", "p.sb")
        return _partner_counts(pr)
    else:
        xp = x_cells.select(
            "cent_id",
            F.element_at("sub_keys", 1).alias("sub_key"),
            F.col("vec_id").alias("va"),
            F.col("embedding").alias("ea"),
            F.col("cent_sim").alias("sa"),
        )
        ye = y_cells.select(
            "cent_id",
            F.explode("sub_keys").alias("sub_key"),
            F.col("vec_id").alias("vb"),
            F.col("embedding").alias("eb"),
            F.col("cent_sim").alias("sb"),
        )
        rev = (
            _with_cosine_arrow(
                xp.join(ye, ["cent_id", "sub_key"]).filter(
                    F.col("va") != F.col("vb")
                ),
                "ea",
                "eb",
                "_cos",
                keep=["va", "sa", "vb", "sb"],
            )
            .filter(F.round(F.col("_cos"), 6) >= threshold)
            .select("va", "sa", "vb", "sb")
        )
    # multi-probe can surface the same pair through both directions (and
    # through the shared-primary case twice) — dedupe before the partner
    # counts (sa/sb are functions of va/vb, so pair distinctness == row
    # distinctness here)
    pr = fwd.unionAll(rev).distinct()
    return _partner_counts(pr)


def _partner_counts(pr: DataFrame) -> DataFrame:
    """Distinct ordered qualifying pairs (va, sa, vb, sb) reduced to
    per-va n_dup_partners and n_better — the keep rule's numerators."""
    return pr.groupBy(F.col("va").alias("vec_id")).agg(
        F.count("*").alias("n_dup_partners"),
        F.sum(
            F.when(
                (F.col("sb") < F.col("sa"))
                | ((F.col("sb") == F.col("sa")) & (F.col("vb") < F.col("va"))),
                1,
            ).otherwise(0)
        ).alias("n_better"),
    )


def incremental_semantic_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    n_centroids: int = 16,
    threshold: float = 0.2,
    check_ordered: bool = True,
    corpus_index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Ingestion-time SemDeDup: decide keep/drop for a NEW batch against
    an EXISTING corpus without re-clustering or re-comparing the corpus —
    the batch twin :func:`dedup.incremental_lsh_candidates` provides for
    MinHash. A training-data pipeline ingests batches; re-running the
    full corpus×corpus pair stage per batch is not a plan at 100 TB.

    Stages, each with its scale shape:
      1. centroids come from the CORPUS ONLY; the batch is assigned to
         those centroids by the broadcast map-side fold
         (:func:`nearest_centroid`) — no re-clustering, plan-asserted.
         Pass ``corpus_index`` = (centroids, assignments) — the stored
         IVF-Flat tables :func:`build_two_level_index` materializes
         (assignments: vec_id, cent_id, embedding) — and the corpus-side
         seeding + argmax run ZERO jobs here: the serve shape, where the
         per-batch plan reads the index instead of re-deriving it
         (registered as pipe_incremental_semantic_dedup_served; without
         it, both are re-derived per call by :func:`ivf_assignments`'
         routes, the flat one collecting the centroid table once for
         the corpus and the batch).
      2. cluster occupancy = corpus counts + batch counts per cent_id —
         a ≤ 2·n_centroids-row aggregate broadcast back onto the cells
         (NO corpus-row shuffle; the full operator's window shuffle is
         replaced by metadata the stored index already has).
      3. the pair stage is batch × (batch ∪ same-cluster corpus) via the
         shared multi-probe key join (:func:`_pair_partners`) — the
         corpus NEVER self-joins, so per-batch cost is
         |batch| · occupancy-bounded, independent of accumulated pairs.

    Decisions reconcile EXACTLY with the full-corpus operator restricted
    to batch members whenever (a) every occupied orthant bucket has a
    corpus member with the minimum vec_id (true for id-ordered ingest:
    batch ids > corpus ids), so seeds(corpus ∪ batch) == seeds(corpus),
    and (b) occupancy is counted over corpus+batch (done here): then
    centroids, assignments, split keys, and every batch-side pair match
    the full run's, and corpus×corpus pairs never affect a batch
    member's partner set (pinned by pipe_incremental_semantic_dedup_
    reconcile and the pytest twin).

    ``check_ordered`` (default True) GUARDS that precondition instead of
    trusting the caller: two min/max aggregate jobs (min batch vec_id,
    max corpus vec_id — note these are single-column SCANS, not free:
    vanilla Spark only answers min/max from parquet footers on a DSv2
    scan with ``spark.sql.parquet.aggregatePushdown`` — parquet is v1 by
    default, and the v2 pushdown is unsafe for float columns with NaNs —
    so at 100 TB either pin the ingest watermark in table metadata
    (e.g. Iceberg snapshot summaries) or accept an O(corpus) id-column
    scan per batch) and a
    ValueError when the batch interleaves, because an interleaved ingest
    would silently return decisions that are still well-defined but
    DIVERGE from the full operator's, with no signal (the r9 verdict's
    unguarded-precondition defect). Callers whose ingest discipline
    guarantees seeds are unchanged by other means (e.g. pre-pinned seed
    tables) pass ``check_ordered=False`` and own the precondition.

    Out (batch members only): vec_id, cent_id, cent_sim,
    n_dup_partners, keep.
    """
    corpus_ids = corpus if corpus is not None else corpus_index[1]
    if check_ordered:
        # ONE action for both watermarks (1-row aggs cross-joined) — the
        # guard previously ran two separate jobs per ingest call. These
        # are id-column scans under the default v1 parquet reader (see
        # the docstring for the 100 TB watermark alternatives).
        row = (
            batch.agg(F.min("vec_id").alias("b_lo"))
            .crossJoin(corpus_ids.agg(F.max("vec_id").alias("c_hi")))
            .first()
        )
        b_lo, c_hi = row["b_lo"], row["c_hi"]
        if b_lo is not None and c_hi is not None and b_lo <= c_hi:
            raise ValueError(
                "incremental_semantic_dedup: batch vec_ids interleave the "
                f"corpus (min batch id {b_lo} <= max corpus id {c_hi}); "
                "exact reconciliation with the full operator requires "
                "id-ordered ingest (seeds unchanged by the batch). Pass "
                "check_ordered=False only if seed stability is guaranteed "
                "by other means."
            )
    rows = None
    if corpus_index is not None:
        centroids, stored = corpus_index
        corpus_assign = stored.select("vec_id", "cent_id", "embedding")
    elif n_centroids > TWO_LEVEL_THRESHOLD:
        centroids, corpus_assign = two_level_assignments(corpus, n_centroids)
    else:
        # ivf_assignments' flat route, with the centroid table collected
        # once for both the corpus and the batch assignment
        centroids = seed_centroids(corpus, n_centroids)
        rows = _centroid_rows(centroids)
        corpus_assign = nearest_centroid(
            corpus.select("vec_id", "embedding"), centroids, _rows=rows
        ).select("vec_id", "embedding", "cent_id")
    batch_assign = nearest_centroid(batch, centroids, _rows=rows)

    def cells(assign: DataFrame) -> DataFrame:
        return assign.join(F.broadcast(centroids), "cent_id").select(
            "vec_id",
            "cent_id",
            "embedding",
            F.round(cosine(F.col("embedding"), F.col("c_emb")), 6).alias(
                "cent_sim"
            ),
        )

    c_cells, b_cells = cells(corpus_assign), cells(batch_assign)
    # Like the full operator, the incremental cells feed occupancy,
    # a pair side, AND the final projection each, so re-running the
    # assignment fold per consumer loses at every size (measured at
    # N=500: ~9.7 s pipelined vs ~2.5 s checkpointed). Materializing the
    # cells is also exactly what production does — the corpus cells ARE
    # the stored index table. When corpus_index IS that stored table,
    # the checkpoint is skipped on the corpus side: each consumer
    # re-reads the parquet lists (cheap pruned scans), which keeps the
    # index scan visible to the plan asserts instead of burying it in a
    # session-local RDD buffer.
    if corpus_index is None:
        c_cells = c_cells.localCheckpoint(eager=False)
    b_cells = b_cells.localCheckpoint(eager=False)
    # ONE occupancy join + ONE probe-key derivation over the tagged union
    # (r12; was one of each per side — double the driver-side expression
    # build and a second broadcast materialization of the occupancy rows).
    # The _b tag is a per-branch literal, so the batch-side filter below
    # constant-folds the corpus branch away entirely: the corpus cells
    # still appear ONLY as the probed y-side of the pair join
    # (plan-asserted by test_incremental_semantic_dedup_batch_shape).
    u = c_cells.withColumn("_b", F.lit(False)).unionAll(
        b_cells.withColumn("_b", F.lit(True))
    )
    occ = u.groupBy("cent_id").agg(F.count("*").alias("_occ"))
    u = u.join(F.broadcast(occ), "cent_id")
    u_keys = _attach_probe_keys(u, n_centroids, SEMDEDUP_OCC_BOUND)
    b_keys = u_keys.filter(F.col("_b")).drop("_b")
    return _keep_decision(
        b_keys, _pair_partners(b_keys, u_keys.drop("_b"), threshold)
    )


def gram_matrix(embeddings: DataFrame) -> DataFrame:
    """Second-moment matrix G = sum_v v v^T as a relational aggregation:
    one per-row d^2 product expansion (JVM transform/flatten) into a
    map-side-combinable (i, j) sum — the shuffle carries exactly d^2 rows
    regardless of corpus size. Fixed point: products rounded to 9dp
    DECIMAL before the cross-row sum (order-independent). Out: i, j, gd
    (double)."""
    emb = F.col("embedding")
    prods = F.flatten(
        F.transform(
            emb,
            lambda vi, i: F.transform(
                emb,
                lambda vj, j: F.struct(
                    i.alias("i"),
                    j.alias("j"),
                    F.round(vi.cast("double") * vj.cast("double"), 9)
                    .cast("decimal(28,9)")
                    .alias("p"),
                ),
            ),
        )
    )
    return (
        embeddings.select(F.explode(prods).alias("e"))
        .select("e.i", "e.j", "e.p")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("g"))
        .select("i", "j", F.col("g").cast("double").alias("gd"))
    )


def pca_top_component(embeddings: DataFrame, iterations: int = 3) -> DataFrame:
    """Top principal direction of the corpus second-moment matrix by
    fixed-point power iteration — the whitening/decorrelation primitive
    embedding pipelines run before clustering or semantic dedup.

    G = sum_v v v^T is built relationally: one per-row d^2 product
    expansion (JVM transform/flatten, no Python) into a map-side-
    combinable (i, j) sum — the shuffle carries exactly d^2 rows no
    matter the corpus size (d=dim, the 100 TB dial: cost is linear in
    corpus, d^2-bounded in state, the relational treeAggregate). Each
    iteration then multiplies the d^2-row G against the d-row vector —
    broadcast-sized joins only. Max-|component| normalization (divide by
    the signed entry of largest magnitude, ties to lowest index) avoids
    sqrt and canonicalizes the sign: the dominant component is exactly
    1.0.

    Determinism: products and per-iteration contributions are rounded to
    fixed point (9dp / 12dp DECIMAL) before every cross-row sum, so
    results are bit-identical across engines and partitionings (the
    textrank discipline).

    Out: i (component index), loading (double, 12dp-rounded, in [-1, 1]).
    """
    g = gram_matrix(embeddings).localCheckpoint(eager=False)
    x = g.select(F.col("i").alias("j")).distinct().select(
        "j", F.lit(1).cast("decimal(28,12)").alias("x")
    )
    for _ in range(iterations):
        y = (
            g.join(x, "j")
            .select(
                "i",
                F.round(F.col("gd") * F.col("x").cast("double"), 12)
                .cast("decimal(28,12)")
                .alias("c"),
            )
            .groupBy("i")
            .agg(F.sum("c").alias("y"))
        )
        m = (
            y.orderBy(
                F.abs(F.col("y").cast("double")).desc(), F.asc("i")
            )
            .limit(1)
            .select(F.col("y").cast("double").alias("m"))
        )
        x = (
            y.crossJoin(F.broadcast(m))
            .select(
                F.col("i").alias("j"),
                F.round(F.col("y").cast("double") / F.col("m"), 12)
                .cast("decimal(28,12)")
                .alias("x"),
            )
            .localCheckpoint(eager=False)
        )
    return x.select(
        F.col("j").alias("i"), F.col("x").cast("double").alias("loading")
    )
