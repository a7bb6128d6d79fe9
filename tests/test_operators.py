"""Unit tests for the pipeline operators (dedup/similarity/text/multimodal)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from iceberg_benchmark_java_spark.catalog import load_table
from iceberg_benchmark_java_spark.operators import dedup, multimodal, similarity, text
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMOKE, "documents")


def _planted(spark):
    """Corpus with known duplicates: 0≡1 exact, 2 near-dup of 0, 3 distinct."""
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
        (3, "one two three four five six seven eight"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicates_planted(spark):
    out = dedup.exact_duplicates(_planted(spark)).collect()
    assert len(out) == 1
    assert out[0].n_copies == 2 and out[0].canonical_id == 0


def test_ngram_jaccard_planted(spark):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(_planted(spark), threshold=0.3).collect()
    }
    assert pairs[(0, 1)] == 1.0  # identical docs
    assert 0.3 <= pairs[(0, 2)] < 1.0  # near-dup
    assert (0, 3) not in pairs and (1, 3) not in pairs


def test_minhash_lsh_planted(spark):
    cands = {
        (r.doc_a, r.doc_b): r.n_shared_bands
        for r in dedup.minhash_lsh_candidates(_planted(spark)).collect()
    }
    assert cands[(0, 1)] == dedup.N_HASHES // dedup.BAND_SIZE  # identical: all bands
    assert (0, 3) not in cands  # unrelated docs never bucket together


def test_simhash_planted(spark):
    fps = {r.doc_id: r.simhash for r in dedup.simhash_fingerprints(_planted(spark)).collect()}
    assert fps[0] == fps[1]  # identical text → identical fingerprint
    ham02 = bin(fps[0] ^ fps[2]).count("1")
    ham03 = bin(fps[0] ^ fps[3]).count("1")
    assert ham02 <= ham03  # near-dup at most as far as unrelated doc
    assert all(0 <= v < 2**dedup.SIMHASH_BITS for v in fps.values())


def test_simhash_near_pairs_blocking(spark):
    d = _planted(spark).withColumn("lang", F.lit("en"))
    pairs = dedup.simhash_near_pairs(d, ["lang"], max_hamming=0).collect()
    assert {(p.doc_a, p.doc_b) for p in pairs} >= {(0, 1)}


@pytest.mark.slow
def test_cosine_topk_self_similarity(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [1.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [0.7, 0.7, 0.0]),
        ],
        ["vec_id", "embedding"],
    ).withColumn("embedding", F.col("embedding").cast("array<float>"))
    q = emb.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    top = similarity.cosine_topk_bruteforce(emb, q, k=3).collect()
    assert [r.vec_id for r in top] == [1, 3, 2]  # identical > 45° > orthogonal
    assert top[0].sim == 1.0


def test_lsh_bucket_recall_subset(spark, docs):
    """LSH results are a subset of brute-force candidates per query."""
    e = load_table(spark, SF_SMOKE, "embeddings")
    q = e.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    brute = similarity.cosine_topk_bruteforce(e, q, k=500)
    lsh = similarity.cosine_topk_lsh(e, q, k=500)
    bs = {(r.query_id, r.vec_id) for r in brute.collect()}
    ls = {(r.query_id, r.vec_id) for r in lsh.collect()}
    assert ls <= bs and len(ls) > 0


def test_ivf_topk_sims_exact_within_candidates(spark):
    """IVF results carry exact cosine sims (match brute force for the same
    pairs) and well-formed per-query rankings."""
    e = load_table(spark, SF_SMOKE, "embeddings")
    q = e.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    brute = {
        (r.query_id, r.vec_id): r.sim
        for r in similarity.cosine_topk_bruteforce(e, q, k=10**6).collect()
    }
    ivf = similarity.cosine_topk_ivf(e, q, k=5, n_centroids=8, n_probe=2).collect()
    assert ivf, "IVF returned nothing"
    by_q: dict = {}
    for r in ivf:
        assert brute[(r.query_id, r.vec_id)] == r.sim  # exact re-rank inside lists
        by_q.setdefault(r.query_id, []).append((r.rnk, r.sim))
    for ranks in by_q.values():
        ranks.sort()
        assert [rk for rk, _ in ranks] == list(range(1, len(ranks) + 1))
        sims = [s for _, s in ranks]
        assert sims == sorted(sims, reverse=True)


def test_text_quality_bounds(spark, docs):
    m = text.quality_metrics(docs).collect()
    assert all(0 <= r.quality_score <= 1.0 + 1e-9 for r in m)
    assert all(r.n_tokens > 0 for r in m)


def test_fingerprint_order_insensitive(spark):
    d = spark.createDataFrame(
        [(0, "b a c"), (1, "c b a a"), (2, "x y z")], ["doc_id", "text"]
    )
    out = text.fingerprint_clusters(d).collect()
    assert len(out) == 1 and out[0].n_docs == 2 and out[0].canonical_id == 0


def test_multimodal_plumbing(spark, docs):
    media = multimodal.synthesize_media(docs)
    feats = multimodal.extract_features(media)
    rows = feats.limit(5).collect()
    assert all(r.n_bytes > 0 and len(r.payload_digest) == 32 for r in rows)
    # decode stub is deterministic: dims derive from payload length
    assert all(r.decoded_width == r.n_bytes % 1024 + 16 for r in rows)


def test_multimodal_resize_chain(spark, docs):
    """Resize chains into feature extraction; images clamp to max_dim while
    non-image rows pass through untouched."""
    media = multimodal.synthesize_media(docs)
    resized = multimodal.resize_images(media, max_dim=64)
    feats = multimodal.extract_features(resized)  # stage chaining
    rows = resized.limit(50).collect()
    assert rows and feats.limit(1).count() == 1
    for r in rows:
        if r.mime.startswith("image/"):
            assert max(r.meta_width, r.meta_height) <= 64
        else:
            assert r.meta_width >= 16  # untouched passthrough


def test_multimodal_metadata_pruning(spark, docs):
    """Metadata-only aggregates must not read the payload column."""
    media = multimodal.synthesize_media(docs)
    tmp = "/tmp/ibx_media_test.parquet"
    media.write.mode("overwrite").parquet(tmp)
    stats = spark.read.parquet(tmp).groupBy("mime").agg(F.count("*").alias("n"))
    plan = stats._jdf.queryExecution().executedPlan().toString()
    assert "payload" not in plan  # column pruned at the scan


def test_frame_sample_plan(spark, docs):
    media = multimodal.synthesize_media(docs)
    frames = multimodal.frame_sample_plan(media, every_n=10)
    r = frames.groupBy("media_id").count().limit(3).collect()
    assert all(x["count"] >= 1 for x in r)


# --- skew utilities (operators.scale) ---------------------------------------


def test_salted_aggregate_matches_plain(spark):
    from iceberg_benchmark_java_spark.operators import scale

    l = load_table(spark, SF_SMOKE, "lineitem")
    plain = {
        (r.l_returnflag): (r.s, r.c, r.mn)
        for r in l.groupBy("l_returnflag")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("s"),
            F.count("*").alias("c"),
            F.min("l_extendedprice").alias("mn"),
        )
        .collect()
    }
    salted = {
        (r.l_returnflag): (r.s, r.c, r.mn)
        for r in scale.salted_aggregate(
            l,
            ["l_returnflag"],
            {
                "s": ("sum", F.sum(F.col("l_quantity").cast("decimal(18,4)"))),
                "c": ("count", F.count("*")),
                "mn": ("min", F.min("l_extendedprice")),
            },
            n_salts=8,
        ).collect()
    }
    assert salted == plain


def test_salted_aggregate_rejects_distinct(spark):
    from iceberg_benchmark_java_spark.operators import scale

    l = load_table(spark, SF_SMOKE, "lineitem")
    with pytest.raises(ValueError, match="salted_count_distinct"):
        scale.salted_aggregate(
            l,
            ["l_returnflag"],
            {"d": ("count_distinct", F.countDistinct("l_partkey"))},
        )


def test_salted_count_distinct_matches_plain(spark):
    from iceberg_benchmark_java_spark.operators import scale

    l = load_table(spark, SF_SMOKE, "lineitem")
    plain = {
        r.l_returnflag: r.d
        for r in l.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("d"))
        .collect()
    }
    two_stage = {
        r.l_returnflag: r.d
        for r in scale.salted_count_distinct(
            l, ["l_returnflag"], "l_partkey", out_name="d"
        ).collect()
    }
    assert two_stage == plain


def test_salted_join_matches_plain(spark):
    from iceberg_benchmark_java_spark.operators import scale

    l = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, SF_SMOKE, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    plain = l.join(o, ["l_orderkey"]).groupBy("o_orderpriority").count()
    salted = (
        scale.salted_join(l, o, ["l_orderkey"], n_salts=4)
        .groupBy("o_orderpriority")
        .count()
    )
    assert {(r.o_orderpriority, r["count"]) for r in plain.collect()} == {
        (r.o_orderpriority, r["count"]) for r in salted.collect()
    }
    # left join keeps unmatched probe rows exactly once
    l_extra = l.union(spark.createDataFrame([(-1, 0.0)], ["l_orderkey", "l_quantity"]))
    left = scale.salted_join(l_extra, o, ["l_orderkey"], n_salts=4, how="left")
    assert left.filter("l_orderkey = -1").count() == 1


def test_quantile_buckets_approximate_ntile(spark):
    from iceberg_benchmark_java_spark.operators import scale

    l = load_table(spark, SF_SMOKE, "lineitem")
    out = scale.quantile_buckets(l, "l_extendedprice", n_buckets=4)
    sizes = {r.bucket: r.n for r in out.groupBy("bucket").agg(F.count("*").alias("n")).collect()}
    assert set(sizes) == {1, 2, 3, 4}
    total = sum(sizes.values())
    for b, n in sizes.items():
        assert abs(n - total / 4) / total < 0.05, (b, n, total)
    # no single-partition global sort in the plan (the point vs NTILE)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


# --- as-of join / range join (operators.asof) --------------------------------


def test_asof_join_matches_pandas_merge_asof(spark):
    """Backward as-of equals pandas.merge_asof on a small random frame."""
    import pandas as pd

    from iceberg_benchmark_java_spark.operators.asof import asof_join_backward

    probe_pd = pd.DataFrame(
        {"k": [1, 1, 1, 2, 2, 3], "t": [5, 10, 3, 7, 1, 4], "pid": range(6)}
    )
    build_pd = pd.DataFrame(
        {"k": [1, 1, 2, 4], "t": [4, 10, 6, 1], "bid": [100, 101, 102, 103]}
    )
    probe = spark.createDataFrame(probe_pd)
    build = spark.createDataFrame(build_pd.assign(bt=build_pd.t))
    got = {
        r.pid: r.bid
        for r in asof_join_backward(
            probe, build, key="k", ts="t", payload_cols=["bid", "bt"]
        ).collect()
    }
    exp_df = pd.merge_asof(
        probe_pd.sort_values("t"),
        build_pd.sort_values("t"),
        on="t",
        by="k",
        direction="backward",
    )
    exp = {int(r.pid): (None if r.bid != r.bid else int(r.bid)) for r in exp_df.itertuples()}
    assert got == exp


def test_asof_join_single_shuffle(spark):
    from iceberg_benchmark_java_spark.operators.asof import asof_join_backward

    e = load_table(spark, SF_SMOKE, "events")
    probe = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    build = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", F.col("event_id").alias("bid"))
    )
    out = asof_join_backward(probe, build, key="user_id", ts="ts", payload_cols=["bid"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    # union + one window: exactly one exchange, on the join key
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_equals_naive(spark):
    from iceberg_benchmark_java_spark.operators.asof import range_join_bucketed

    c = load_table(spark, SF_SMOKE, "customer").select("c_custkey", "c_acctbal")
    n = load_table(spark, SF_SMOKE, "nation").select(
        F.col("n_nationkey").alias("band_id"),
        (F.col("n_nationkey") * 300 - 450).cast("double").alias("lo"),
        (F.col("n_nationkey") * 300 + 777).cast("double").alias("hi"),
    )
    naive = {
        (r.c_custkey, r.band_id)
        for r in c.join(
            n, (F.col("c_acctbal") >= F.col("lo")) & (F.col("c_acctbal") < F.col("hi"))
        ).collect()
    }
    for width in (128.0, 300.0, 1000.0):
        got = {
            (r.c_custkey, r.band_id)
            for r in range_join_bucketed(
                c, n, "c_acctbal", "lo", "hi", bucket_width=width
            ).collect()
        }
        assert got == naive, f"width={width}"


def test_range_join_no_nested_loop(spark):
    from iceberg_benchmark_java_spark.operators.asof import range_join_bucketed

    c = load_table(spark, SF_SMOKE, "customer").select("c_custkey", "c_acctbal")
    n = load_table(spark, SF_SMOKE, "nation").select(
        F.col("n_nationkey").alias("band_id"),
        (F.col("n_nationkey") * 300.0).alias("lo"),
        (F.col("n_nationkey") * 300.0 + 500).alias("hi"),
    )
    plan = (
        range_join_bucketed(c, n, "c_acctbal", "lo", "hi", 250.0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.slow
def test_kmeans_refine_improves_objective(spark):
    """Lloyd's iterations must not worsen the clustering objective: mean
    cosine of vectors to their assigned centroid rises (or stays) after
    refinement, and the IVF query path still returns exact sims."""
    from iceberg_benchmark_java_spark.operators.similarity import (
        cosine,
        cosine_topk_ivf,
        ivf_assignments,
        kmeans_refine,
    )

    e = load_table(spark, SF_SMOKE, "embeddings")

    def objective(cents):
        scored = (
            e.select("vec_id", "embedding")
            .crossJoin(F.broadcast(cents))
            .select(
                "vec_id",
                cosine(F.col("embedding"), F.col("c_emb")).alias("csim"),
            )
            .groupBy("vec_id")
            .agg(F.max("csim").alias("best"))
        )
        return scored.agg(F.avg("best")).first()[0]

    seeded, _ = ivf_assignments(e, n_centroids=8)
    n_seeds = seeded.count()  # one per non-empty sign-orthant, <= 8
    assert 1 <= n_seeds <= 8
    refined = kmeans_refine(e, seeded, n_iters=2)
    assert refined.count() == n_seeds  # no centroid lost (empty clusters kept)
    assert objective(refined) >= objective(seeded) - 1e-9
    # query path unchanged: refined IVF returns well-formed exact-sim top-k
    q = e.filter("vec_id < 2").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    out = cosine_topk_ivf(e, q, k=3, n_centroids=8, n_probe=2, refine_iters=2).collect()
    assert out and all(r.rnk <= 3 for r in out)


def test_asof_join_tolerance(spark):
    """tolerance nulls out matches older than probe.ts - tolerance (pandas
    merge_asof tolerance semantics)."""
    from iceberg_benchmark_java_spark.operators.asof import asof_join_backward

    probe = spark.createDataFrame(
        [(1, 10, 0), (1, 20, 1), (2, 30, 2)], ["k", "t", "pid"]
    )
    build = spark.createDataFrame(
        [(1, 8, 100), (1, 12, 101), (2, 5, 102)], ["k", "t", "bid"]
    )
    got = {
        r.pid: r.bid
        for r in asof_join_backward(
            probe,
            build,
            key="k",
            ts="t",
            payload_cols=["bid"],
            tolerance=F.lit(5),
        ).collect()
    }
    # pid 0: latest build at t<=10 is t=8 (gap 2 <= 5) -> 100
    # pid 1: latest build at t<=20 is t=12 (gap 8 > 5) -> None
    # pid 2: latest build at t<=30 is t=5 (gap 25 > 5) -> None
    assert got == {0: 100, 1: None, 2: None}


def test_connected_components_clusters(spark):
    """Min-label propagation must produce the exact transitive closure:
    chain + triangle + isolated pair -> three components labelled by their
    min member, every pair member present exactly once."""
    from iceberg_benchmark_java_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        # chain 1-2-3-4 (diameter > 1 forces multiple rounds), triangle
        # 10-11-12 with redundant edges, isolated pair 20-21
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "doc_a BIGINT, doc_b BIGINT",
    )
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_connected_components_long_chain_converges(spark):
    """Pointer jumping: a 33-node path collapses within the iteration cap
    (log2(32) + slack rounds, not 32 rounds)."""
    from iceberg_benchmark_java_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(32)], "doc_a BIGINT, doc_b BIGINT"
    )
    out = connected_components(pairs, max_iter=8).collect()
    assert len(out) == 33
    assert {r.cluster_id for r in out} == {0}


@pytest.mark.medium
def test_connected_components_batched_check_same_clusters(spark):
    """Batched convergence checking (check_every > 1) must yield exactly the
    per-round-checked assignments — labels are monotone, so a clean k-round
    span is a true fixpoint, and an odd-length chain must not terminate
    early mid-collapse."""
    from iceberg_benchmark_java_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        # 10-node path (odd collapse rounds) + triangle + isolated pair
        [(i, i + 1) for i in range(9)] + [(50, 51), (51, 52), (50, 52), (90, 91)],
        "doc_a BIGINT, doc_b BIGINT",
    )
    per_round = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs, check_every=1).collect()
    }
    for k in (2, 3):
        batched = {
            r.doc_id: r.cluster_id
            for r in connected_components(pairs, check_every=k).collect()
        }
        assert batched == per_round


def test_connected_components_fractional_decimal_ids_use_join_witness(spark):
    """decimal(p, s>0) node ids must NOT ride the sum witness: the
    decimal(38,0) cast ROUNDS them, so an 8-node path whose ids all round
    to the same integer has EQUAL sums at every check while labels are
    still collapsing — the sum route would declare convergence at the
    second check and return wrong components. The scale gate must route
    these ids through the join-based changed-count witness instead."""
    from decimal import Decimal

    from iceberg_benchmark_java_spark.operators.dedup import connected_components

    ids = [Decimal(f"10.0{i}") for i in range(1, 9)]  # all round to 10
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(7)],
        "doc_a DECIMAL(4,2), doc_b DECIMAL(4,2)",
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {i: ids[0] for i in ids}


def test_connected_components_sum_overflow_falls_back(spark):
    """Node ids so large that the exact decimal(38,0) label sum overflows:
    try_sum yields NULL, and the witness must degrade to the join-based
    changed-count check — still detecting the fixpoint well before
    max_iter (never a wrong result, and no longer a silent run-to-cap)."""
    from decimal import Decimal

    from iceberg_benchmark_java_spark.operators.dedup import connected_components

    base = Decimal(9 * 10**37)
    ids = [base + i for i in range(9)]  # any 3+ labels overflow the sum
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(8)],
        "doc_a DECIMAL(38,0), doc_b DECIMAL(38,0)",
    )
    stats: dict = {}
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs, max_iter=12, stats=stats).collect()
    }
    assert got == {i: ids[0] for i in ids}
    assert stats["rounds"] < 12  # convergence was DETECTED, not capped


def test_ngram_kernels_skip_null_text_rows(spark):
    """NULL text tokenizes to a NULL array; the expression route's explode
    emitted no rows for it — the Arrow kernels must match instead of
    raising TypeError in the executor (ADVICE r11)."""
    d = spark.createDataFrame(
        [(1, "a b c d"), (2, None), (3, "a b c d e")],
        "doc_id BIGINT, text STRING",
    )
    sh = dedup.with_word_shingles(d, 3).collect()
    assert {r.doc_id for r in sh} == {1, 3}
    g = dedup.positional_ngrams(d, 3).collect()
    assert {r.doc_id for r in g} == {1, 3}
    spans = dedup.dup_span_removal(d, n=3, min_df=2).collect()
    assert {r.doc_id for r in spans} == {1, 3}


def test_cosine_kernel_rejects_null_embeddings(spark):
    """The Arrow cosine/assignment kernels require non-null fixed-width
    vectors; a NULL row must fail with an error naming the column, not an
    opaque numpy shape error (ADVICE r11)."""
    df = spark.createDataFrame(
        [(1, [1.0, 2.0], [1.0, 2.0]), (2, None, [3.0, 4.0])],
        "vec_id BIGINT, emb_a ARRAY<DOUBLE>, emb_b ARRAY<DOUBLE>",
    )
    out = similarity._with_cosine_arrow(df, "emb_a", "emb_b", "c", keep=["vec_id"])
    with pytest.raises(Exception, match="emb_a"):
        out.collect()


def test_ngram_kernel_chunked_flush_matches(spark, monkeypatch):
    """The bounded-chunk flush inside the exploding kernels must be
    invisible in the output: force a tiny flush bound and compare against
    the default."""
    d = spark.createDataFrame(
        [(i, "w%d x y z a b c d" % i) for i in range(6)],
        "doc_id BIGINT, text STRING",
    )
    expect = sorted(
        (r.doc_id, r.shingle) for r in dedup.with_word_shingles(d, 3).collect()
    )
    monkeypatch.setattr(dedup, "_NGRAM_FLUSH_ROWS", 2)
    got = sorted(
        (r.doc_id, r.shingle) for r in dedup.with_word_shingles(d, 3).collect()
    )
    assert got == expect


def test_ppm_decode_kernel_parses_real_netpbm():
    """The stdlib netpbm parser: P6/P5 headers with comments and arbitrary
    whitespace; truncated rasters and bad maxvals rejected."""
    from iceberg_benchmark_java_spark.operators.multimodal import _decode_ppm

    assert _decode_ppm(b"P6\n# a comment\n3 2\n255\n" + b"\x00" * 18) == (3, 2)
    assert _decode_ppm(b"P5 4 3 255 " + b"\x00" * 12) == (4, 3)
    assert _decode_ppm(b"P6\n3 2\n65535\n" + b"\x00" * 36) == (3, 2)  # 16-bit
    assert _decode_ppm(b"P6\n3 2\n255\n" + b"\x00" * 17) is None  # short raster
    assert _decode_ppm(b"P6\n3 2\n70000\n" + b"\x00" * 18) is None  # bad maxval
    assert _decode_ppm(b"not an image") is None


def test_ppm_synthesis_roundtrip(spark, docs):
    """synthesize_ppm_media emits REAL P6 bytes; extract_features must
    parse back exactly the metadata dims."""
    from iceberg_benchmark_java_spark.operators import multimodal

    media = multimodal.synthesize_ppm_media(docs.limit(20))
    meta = {r.media_id: (r.meta_width, r.meta_height) for r in media.collect()}
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == len(meta)
    for r in feats:
        assert (r.decoded_width, r.decoded_height) == meta[r.media_id]


def test_chunk_documents_windows(spark):
    """Chunk windows: size/stride arithmetic, overlap, short-final-chunk."""
    from iceberg_benchmark_java_spark.operators.text import chunk_documents

    d = spark.createDataFrame(
        [(0, " ".join(f"w{i}" for i in range(110))), (1, "only three words")],
        ["doc_id", "text"],
    )
    rows = chunk_documents(d, chunk_size=50, stride=40).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 0: starts at tokens 1, 41, 81 → 3 chunks of 50/50/30
    c0 = sorted(by_doc[0], key=lambda r: r.chunk_idx)
    assert [r.n_tokens for r in c0] == [50, 50, 30]
    assert c0[0].chunk_text.split()[40:] == c0[1].chunk_text.split()[:10]  # overlap
    # doc 1: single short chunk
    assert len(by_doc[1]) == 1 and by_doc[1][0].n_tokens == 3


def test_pack_sequences_greedy_rule(spark):
    """Packing: fill until overflow, oversized doc gets a bin alone."""
    from iceberg_benchmark_java_spark.operators.text import pack_sequences

    mk = lambda n: " ".join("t" for _ in range(n))
    d = spark.createDataFrame(
        [(0, "en", mk(300)), (1, "en", mk(200)), (2, "en", mk(100)),
         (3, "en", mk(600)), (4, "en", mk(10)), (5, "fr", mk(500))],
        ["doc_id", "lang", "text"],
    )
    got = {
        (r.lang, r.doc_id): r.bin_id
        for r in pack_sequences(d, capacity=512, group_cols=("lang",)).collect()
    }
    # en: 300+200=500 fits bin0; 100 overflows → bin1; 600 oversized → bin2;
    # 10 can't join an over-capacity bin → bin3. fr packs independently.
    assert got == {
        ("en", 0): 0, ("en", 1): 0, ("en", 2): 1,
        ("en", 3): 2, ("en", 4): 3, ("fr", 5): 0,
    }


def test_connected_components_batched_check_fewer_actions(spark):
    """check_every=2 must run ~half the convergence-check ACTIONS (the
    per-round driver sync points the batching exists to remove) at the
    cost of at most check_every-1 extra propagation rounds, with identical
    results (pinned by the same-clusters test above)."""
    from iceberg_benchmark_java_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(16)], "doc_a BIGINT, doc_b BIGINT"
    )
    s1: dict = {}
    s2: dict = {}
    connected_components(pairs, check_every=1, stats=s1).collect()
    connected_components(pairs, check_every=2, stats=s2).collect()
    assert s1["checks"] == s1["rounds"]  # per-round checking: one per round
    assert 0 < s2["checks"] < s1["checks"], (s1, s2)
    # a k-batched check detects the fixpoint at most 2k-2 rounds after a
    # per-round check would (stable span must cover a full k-gap aligned
    # to the check schedule)
    assert s2["rounds"] <= s1["rounds"] + 2, (s1, s2)


def test_banded_near_dup_superset_of_single_band(spark):
    """Multi-band sign-LSH: band 0 equals the single-band bucket, so the
    banded pair set must contain every single-band pair (recall can only
    go up), and every surviving pair must meet the exact threshold."""
    from iceberg_benchmark_java_spark.catalog import load_table
    from iceberg_benchmark_java_spark.operators.similarity import (
        cosine_near_dup_pairs,
        cosine_near_dup_pairs_banded,
    )

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    single = {
        (r.vec_a, r.vec_b)
        for r in cosine_near_dup_pairs(e, threshold=0.25, n_bits=8).collect()
    }
    banded_rows = cosine_near_dup_pairs_banded(
        e, threshold=0.25, n_bits=8, n_bands=4
    ).collect()
    banded = {(r.vec_a, r.vec_b) for r in banded_rows}
    assert single <= banded
    assert all(r.sim >= 0.25 and r.vec_a < r.vec_b for r in banded_rows)


def test_pack_sequences_sharding_bounds_groups(spark):
    """n_shards splits each lang group into bounded (lang, shard) groups:
    every shard is < the unsharded group size, shards partition the docs,
    and within a shard the greedy fill rule still holds."""
    from iceberg_benchmark_java_spark.operators.text import pack_sequences

    mk = lambda n: " ".join("t" for _ in range(n))
    d = spark.createDataFrame(
        [(i, "en", mk(50 + i % 7)) for i in range(64)], ["doc_id", "lang", "text"]
    )
    n_shards = 4
    rows = pack_sequences(
        d, capacity=512, group_cols=("lang",), n_shards=n_shards
    ).collect()
    assert len(rows) == 64 and len({r.doc_id for r in rows}) == 64
    by_shard: dict[int, list] = {}
    for r in rows:
        assert 0 <= r.shard < n_shards
        by_shard.setdefault(r.shard, []).append(r)
    # md5 spreads 64 ids over 4 shards: every shard non-empty and strictly
    # smaller than the unsharded group — the bounded-scan property.
    assert len(by_shard) == n_shards
    assert all(0 < len(v) < 64 for v in by_shard.values())
    # greedy fill rule holds independently inside each shard
    for members in by_shard.values():
        members.sort(key=lambda r: r.doc_id)
        fill, bin_id = None, -1
        for r in members:
            if fill is None or fill + r.n_tokens > 512:
                bin_id += 1
                fill = r.n_tokens
            else:
                fill += r.n_tokens
            assert r.bin_id == bin_id


def test_quality_filter_decision_consistency(spark, docs):
    """keep ⇔ no rule fired; n_rules_failed equals the count of true rule
    flags; reasons lists exactly the fired rules in battery order; and the
    fixture corpus exercises BOTH outcomes."""
    rows = text.quality_filter_decision(docs).collect()
    rule_names = [
        "too_few_tokens", "too_many_tokens", "low_stopword",
        "high_stopword", "bad_token_len", "repetitious",
    ]
    kept = dropped = 0
    for r in rows:
        fired = [n for n in rule_names if getattr(r, n)]
        assert r.n_rules_failed == len(fired)
        assert r.keep == (len(fired) == 0)
        assert r.reasons == "".join(n + ";" for n in fired)
        kept += r.keep
        dropped += not r.keep
    assert kept and dropped, (kept, dropped)


def test_incremental_lsh_candidates_planted(spark):
    """New-batch docs near-duplicating a corpus doc collide in a band
    bucket; distinct new docs don't; corpus docs never pair with each
    other (no corpus self-join by construction)."""
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "one two three four five six seven eight"),
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of 1
            (30, "red orange yellow green blue indigo violet ultraviolet"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r.new_id, r.corpus_id)
        for r in dedup.incremental_lsh_candidates(new, corpus).collect()
    }
    assert (10, 1) in got
    assert all(n in (10, 30) for n, _ in got)
    assert (30, 3) not in got and (30, 1) not in got


def test_dup_span_coverage_planted(spark):
    """Hand-computable coverage incl. the overlapping-interval union case."""
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),        # 8 tok
        (1, "alpha beta gamma delta epsilon zeta eta theta"),        # = doc 0
        (2, "alpha beta gamma delta epsilon zeta eta theta xx yy"),  # 10 tok
        (3, "one two three four five six seven eight"),              # unique
        (4, "tiny doc under eight tokens"),                          # 5 tok
        (5, "p1 p2 p3 p4 p5 p6 p7 p8 p9"),                           # 9 tok
        (6, "p1 p2 p3 p4 p5 p6 p7 p8 p9"),                           # = doc 5
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in dedup.dup_span_coverage(d, n=8).collect()}
    assert len(out) == 7  # every doc present, even short/clean ones
    assert out[0].dup_coverage == 1.0 and out[0].covered_tokens == 8
    assert out[1].dup_coverage == 1.0
    # doc 2: only the start-1 gram is shared; 8 of 10 tokens covered
    assert out[2].n_dup_spans == 1 and out[2].covered_tokens == 8
    assert out[2].dup_coverage == 0.8
    assert out[3].dup_coverage == 0.0 and out[3].n_dup_spans == 0
    assert out[4].dup_coverage == 0.0 and out[4].n_tok == 5
    # docs 5/6: TWO overlapping duplicated grams (starts 1,2) must union to
    # 9 covered tokens, not 16
    assert out[5].n_dup_spans == 2 and out[5].covered_tokens == 9
    assert out[5].dup_coverage == 1.0


def test_containment_pairs_asymmetric(spark):
    """A short doc fully inside a long one: high containment one way, below
    threshold the other way — the pair symmetric Jaccard misses."""
    rows = [
        (0, "alpha beta gamma delta"),  # 2 distinct 3-shingles, both in doc 1
        (1, "alpha beta gamma delta epsilon zeta eta theta"),  # 6 shingles
        (2, "one two three four five six seven eight"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r.doc_a, r.doc_b): r for r in dedup.containment_pairs(d, threshold=0.5).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)].containment == 1.0
    assert pairs[(0, 1)].sz_contained == 2
    assert (1, 0) not in pairs  # 2/6 < 0.5 in the other direction
    assert not any(2 in p for p in pairs)
    # symmetric Jaccard on the same corpus misses the quote pair at 0.5
    jacc = dedup.ngram_jaccard_pairs(d, threshold=0.5).collect()
    assert not any({r.doc_a, r.doc_b} == {0, 1} for r in jacc)


def test_scd2_history_tiles_and_matches_keep_latest(spark):
    """SCD2 invariants on the real event log: exactly one open (is_current)
    interval per user, its state equals keep-latest's answer, and
    consecutive intervals tile (valid_to == next valid_from)."""
    from iceberg_benchmark_java_spark.queries.registry import all_queries

    qs = all_queries()
    scd = qs["pipe_scd2_history"](spark, SF_SMOKE).collect()
    latest = qs["pipe_keep_latest_event"](spark, SF_SMOKE).collect()
    open_rows = [r for r in scd if r.is_current]
    assert len(open_rows) == len({r.user_id for r in scd})
    assert {r.user_id: r.state for r in open_rows} == {
        r.user_id: r.latest_type for r in latest
    }
    by_user = {}
    for r in sorted(scd, key=lambda r: (r.user_id, r.valid_from)):
        by_user.setdefault(r.user_id, []).append(r)
    for rows in by_user.values():
        for a, b in zip(rows, rows[1:]):
            assert a.valid_to == b.valid_from  # gap-free history
            assert a.state != b.state          # consecutive states collapsed


def test_pq_adc_exact_when_quantization_lossless(spark):
    """Corpus built so every PQ cell holds identical subvectors (4 sign
    prototypes differing only in subspace 0's leading dims): codewords
    reconstruct members exactly, so ADC top-5 must equal the exact cosine
    top-5 for every query — recall 1.0 when quantization is lossless."""
    import itertools

    protos = []
    for signs in [(1, 1, 1), (1, -1, -1), (-1, 1, -1), (-1, -1, 1)]:
        v = [1.0] * 64
        v[0], v[1], v[2] = (float(s) for s in signs)
        protos.append(v)
    rows = [
        (p * 10 + c, [x for x in proto])
        for p, proto in enumerate(protos)
        for c in range(5)
    ]
    from pyspark.sql.types import (
        ArrayType, FloatType, LongType, StructField, StructType,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    e = spark.createDataFrame(rows, schema)
    q = e.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    exact_rows = similarity.cosine_topk_bruteforce(e, q, k=5).collect()
    pq_rows = similarity.pq_adc_topk(e, q, k=5).collect()
    by_q = lambda rows: {
        qid: {r.vec_id for r in rows if r.query_id == qid}
        for qid in {r.query_id for r in rows}
    }
    assert by_q(pq_rows) == by_q(exact_rows)


def test_wav_decode_kernel_real_and_rejects_garbage():
    """_decode_wav parses a genuine stdlib-written WAV back to its exact
    parameters and returns None for truncated/corrupt/non-WAV bytes."""
    import io
    import wave

    import numpy as np

    samples = ((5 * 7 + 13 * np.arange(120)) % 256).astype(np.uint8)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(samples.tobytes())
    payload = buf.getvalue()
    got = multimodal._decode_wav(payload)
    assert got is not None
    sr, nf, rms_q = got
    assert (sr, nf) == (8000, 120)
    v = samples.astype(np.float64) - 128.0
    assert rms_q == int(np.floor(np.sqrt((v * v).sum() / 120) * 1000))
    assert multimodal._decode_wav(b"not a wav at all") is None
    assert multimodal._decode_wav(payload[:30]) is None  # truncated header
    # flipped magic must be rejected, not misparsed
    assert multimodal._decode_wav(b"XIFF" + payload[4:]) is None


def test_wav_roundtrip_drops_corrupt_rows(spark, docs):
    """wav_features keeps exactly the well-formed payloads: corrupting one
    row's payload routes it to the (implicit) dead-letter path while every
    other row decodes to its synthesis parameters."""
    media = multimodal.synthesize_wav_media(docs.limit(20))
    broken = media.withColumn(
        "payload",
        F.when(F.col("media_id") == 3, F.lit(b"RIFFgarbage")).otherwise(
            F.col("payload")
        ),
    )
    out = {r.media_id: r for r in multimodal.wav_features(broken).collect()}
    assert 3 not in out and len(out) == 19
    meta = {r.media_id: r.meta_frames for r in media.collect()}
    for mid, r in out.items():
        assert r.n_frames == meta[mid] and r.sample_rate == 8000
        assert r.duration_ms == r.n_frames * 1000 // 8000


def test_video_container_roundtrip_and_rejects_malformed(spark, docs):
    """video_frame_features decodes every well-formed container to its
    synthesis parameters (every-2nd frame sampled) and drops containers
    with a lying frame count, truncated frames, or a bad magic."""
    media = multimodal.synthesize_video_media(docs.limit(10))
    rows = multimodal.video_frame_features(media, every_n=2).collect()
    meta = {r.media_id: r.meta_frames for r in media.collect()}
    by_m: dict = {}
    for r in rows:
        by_m.setdefault(r.media_id, []).append(r.frame_idx)
    assert set(by_m) == set(meta)
    for mid, idxs in by_m.items():
        assert sorted(idxs) == list(range(0, meta[mid], 2))
    # malformed variants must all be rejected by the kernel
    good = media.limit(1).collect()[0].payload
    assert multimodal._decode_video(good) is not None
    assert multimodal._decode_video(b"NOPE" + good[4:]) is None
    assert multimodal._decode_video(good[:-5]) is None  # truncated last frame
    lying = good.replace(b"VID1\n" + str(meta[0]).encode(),
                         b"VID1\n" + str(meta[0] + 1).encode(), 1)
    assert multimodal._decode_video(lying) is None


# --- round-6 additions: KMV sketch, priority sample, entropy -----------------


def test_kmv_estimate_sane(spark):
    """KMV with k=12 over 15 distinct users per type: k_used saturates at
    12 and the estimate lands within a small constant factor of truth
    (KMV relative error ~ 1/sqrt(k-2) ~ 30%; factor-3 bound is loose
    enough to be seed-stable, tight enough to catch a broken estimator)."""
    from iceberg_benchmark_java_spark.queries.registry import all_queries

    out = all_queries()["pipe_kmv_distinct"](spark, SF_SMOKE).collect()
    assert len(out) == 5
    for r in out:
        assert r.k_used == 12
        assert r.exact_distinct / 3 <= r.est_distinct <= r.exact_distinct * 3
        assert r.rel_err >= 0.0


def test_priority_sample_equals_single_window(spark):
    """The two-phase sharded top-k must return exactly the naive
    single-window answer (every global top-k row wins its own shard)."""
    from pyspark.sql.window import Window

    from iceberg_benchmark_java_spark.queries.registry import all_queries

    two_phase = all_queries()["pipe_priority_sample"](spark, SF_SMOKE)
    got = {(r.lang, r.doc_id, r.rnk) for r in two_phase.collect()}

    d = load_table(spark, SF_SMOKE, "documents")
    h60 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    u = (h60 + F.lit(1.0)) / F.lit(float(1 << 60) + 1.0)
    naive = (
        d.select(
            "lang",
            "doc_id",
            F.round(F.log(u) / F.col("n_chars"), 9).alias("score"),
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(
                    F.desc("score"), F.asc("doc_id")
                )
            ),
        )
        .filter(F.col("rnk") <= 20)
    )
    want = {(r.lang, r.doc_id, r.rnk) for r in naive.collect()}
    assert got == want
    # exactly k rows per language
    langs = {}
    for lang, _, _ in got:
        langs[lang] = langs.get(lang, 0) + 1
    assert all(v == 20 for v in langs.values()), langs


def test_doc_entropy_bounds(spark):
    """Entropy lies in [0, ln(n_distinct)] (up to fixed-point slack) and
    the normalized form in [0, 1]; a single-token doc scores exactly 0."""
    import math

    from iceberg_benchmark_java_spark.queries.registry import all_queries

    rows = all_queries()["pipe_doc_entropy"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert -1e-6 <= r.entropy <= math.log(max(r.n_distinct, 1)) + 1e-4
        assert -1e-6 <= r.norm_entropy <= 1.0 + 1e-4
        if r.n_distinct == 1:
            assert abs(r.entropy) < 1e-4


def test_boilerplate_removal_planted(spark):
    # 4 docs; chunk "x y" appears in 3 of them -> boilerplate at min_docs=3;
    # every other chunk is unique and survives in original order.
    rows = [
        (0, "x y a b c d"),
        (1, "e f x y g h"),
        (2, "i j k l x y"),
        (3, "m n o p"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in dedup.boilerplate_removal(d, chunk_len=2, min_docs=3).collect()
    }
    assert out[0].n_chunks == 3 and out[0].n_removed == 1
    assert out[0].clean_text == "a b c d"
    assert out[1].clean_text == "e f g h"
    assert out[2].clean_text == "i j k l"
    assert out[3].n_removed == 0 and out[3].clean_text == "m n o p"


def test_boilerplate_removal_all_removed_and_odd_tail(spark):
    # doc 1 is pure boilerplate -> empty clean_text; doc 2 has an odd tail
    # chunk of one token which must survive intact.
    rows = [(0, "x y"), (1, "x y x y"), (2, "x y z")]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in dedup.boilerplate_removal(d, chunk_len=2, min_docs=3).collect()
    }
    assert out[1].clean_text == "" and out[1].n_removed == 2
    assert out[2].n_chunks == 2 and out[2].clean_text == "z"


def test_bloom_contamination_equals_exact(spark):
    d = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "text")
    )
    ev = d.filter(F.col("doc_id") % 11 == 0)
    tr = d.filter(F.col("doc_id") % 11 != 0)
    exact = {
        r.doc_id: (r.n_shingles, r.n_contaminated)
        for r in dedup.cross_corpus_contamination(tr, ev, n=3).collect()
    }
    bloom = {
        r.doc_id: (r.n_shingles, r.n_contaminated)
        for r in dedup.bloom_prefilter_contamination(tr, ev, n=3).collect()
    }
    assert bloom == exact  # the Bloom stage only prunes, never changes results


def test_bloom_prefilter_tiny_bitmap_still_exact(spark):
    # With a deliberately tiny bitmap (64 bits) almost everything collides:
    # the prefilter passes nearly all shingles, yet the exact join keeps the
    # result identical — false positives cost work, never correctness.
    d = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "text")
        .limit(40)
    )
    ev = d.filter(F.col("doc_id") % 7 == 0)
    tr = d.filter(F.col("doc_id") % 7 != 0)
    exact = {
        r.doc_id: r.n_contaminated
        for r in dedup.cross_corpus_contamination(tr, ev, n=3).collect()
    }
    tiny = {
        r.doc_id: r.n_contaminated
        for r in dedup.bloom_prefilter_contamination(
            tr, ev, n=3, m_bits=64
        ).collect()
    }
    assert tiny == exact


def test_textrank_hub_outranks_leaves(spark):
    # 'a' is adjacent to every other token -> highest rank; b/c/d are
    # symmetric leaves -> identical ranks; ranks stay a distribution.
    d = spark.createDataFrame(
        [(0, "a b"), (1, "a c"), (2, "a d")], ["doc_id", "text"]
    )
    out = {r.token: r.rank for r in text.textrank_keywords(d, k=10).collect()}
    assert set(out) == {"a", "b", "c", "d"}
    assert out["a"] > out["b"]
    assert out["b"] == out["c"] == out["d"]
    assert abs(sum(out.values()) - 1.0) < 1e-6  # rank mass preserved


def test_textrank_matches_pure_python_power_iteration(spark):
    # Bit-for-bit equality with a Decimal-rounded reference implementation
    # of the same damped power iteration (HALF_UP at 12 dp, the contract
    # the DuckDB oracle relies on).
    from collections import defaultdict
    from decimal import ROUND_HALF_UP, Decimal

    rows = [(0, "x y z x y"), (1, "y z q"), (2, "q x")]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.token: r.rank for r in text.textrank_keywords(d, k=10).collect()}

    cnt: dict[tuple[str, str], int] = defaultdict(int)
    for _, t in rows:
        toks = t.split()
        for a, b in zip(toks, toks[1:]):
            cnt[(a, b)] += 1
            cnt[(b, a)] += 1
    wout: dict[str, float] = defaultdict(float)
    for (a, _), c in cnt.items():
        wout[a] += float(c)
    nodes = sorted(wout)
    n = len(nodes)
    q12 = Decimal("1e-12")

    def r12(x: float) -> Decimal:
        return Decimal(repr(x)).quantize(q12, rounding=ROUND_HALF_UP)

    rank = {v: r12(1.0 / n) for v in nodes}
    for _ in range(3):
        s: dict[str, Decimal] = defaultdict(Decimal)
        for (a, b), c in cnt.items():
            s[b] += r12((c / wout[a]) * float(rank[a]))
        rank = {
            v: r12((1.0 - 0.85) / n + 0.85 * float(s[v])) for v in nodes
        }
    assert got == {v: float(rank[v]) for v in nodes}


def test_bpe_merges_classic_low_corpus(spark):
    # The canonical BPE teaching corpus: 'low'-family words learn
    # (l,o) -> (lo,w) -> ('low' extensions) in frequency order.
    d = spark.createDataFrame(
        [(0, "low low low lower"), (1, "lowest low newest")],
        ["doc_id", "text"],
    )
    rules = [
        (r.step, r.lhs, r.rhs, r.pair_count)
        for r in text.bpe_merges(d, n_merges=3).collect()
    ]
    assert rules[0] == (1, "l", "o", 6)
    assert rules[1] == (2, "lo", "w", 6)
    # step 3: ties at count 2 — (low,e), (e,s), (s,t) — break lexicographic
    assert rules[2] == (3, "e", "s", 2)


def test_bpe_merges_matches_pure_python(spark):
    # Full merge-table equality with a reference Sennrich-style trainer
    # (greedy left-to-right application, count-desc/(lhs,rhs)-asc ties).
    from collections import Counter, defaultdict

    rows = [(0, "spark scan span plan plan"), (1, "scan plan spans par")]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [
        (r.step, r.lhs, r.rhs, r.pair_count)
        for r in text.bpe_merges(d, n_merges=4).collect()
    ]

    vocab = Counter(w for _, t in rows for w in t.split())
    syms = {w: list(w) for w in vocab}
    want = []
    for step in range(1, 5):
        counts: dict[tuple[str, str], int] = defaultdict(int)
        for w, f in vocab.items():
            s = syms[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += f
        if not counts:
            break
        (a, b), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        want.append((step, a, b, c))
        for w in syms:
            s, out = syms[w], []
            for x in s:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            syms[w] = out
    assert got == want


def test_semantic_dedup_keep_rule(spark):
    # One positive-orthant cluster {v0, v1, v2} and one negative-orthant
    # cluster {v3}. v0/v1 are near-identical (cos ~ 0.9999): the keep rule
    # drops the member MORE similar to the centroid (v0, which IS the
    # seed) and keeps the diversity-preserving extreme v1. v2 is in the
    # cluster but below threshold -> no partners, kept. v3 alone, kept.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0, 0.0]),
        (2, [0.2, 1.0, 0.0, 0.0]),
        (3, [-1.0, -1.0, 0.0, 0.0]),
    ]
    e = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {
        r.vec_id: r
        for r in similarity.semantic_dedup(
            e, n_centroids=4, threshold=0.9
        ).collect()
    }
    assert out[0].n_dup_partners == 1 and not out[0].keep
    assert out[1].n_dup_partners == 1 and out[1].keep
    assert out[2].n_dup_partners == 0 and out[2].keep
    assert out[3].n_dup_partners == 0 and out[3].keep
    assert out[0].cent_sim >= out[1].cent_sim  # the rule's justification


def test_incremental_semantic_dedup_ordering_guard(spark):
    """Exact reconciliation with the full operator requires id-ordered
    ingest (seeds unchanged by the batch). The guard must refuse an
    interleaved batch loudly instead of silently returning decisions
    that diverge from the full run, and the documented override must
    hand the precondition back to the caller."""
    rows = [(i, [1.0 + i / 10, 0.5, -0.25, 0.125]) for i in range(8)]
    e = spark.createDataFrame(rows, ["vec_id", "embedding"])
    ordered_corpus = e.filter(F.col("vec_id") < 6)
    ordered_batch = e.filter(F.col("vec_id") >= 6)
    # ordered ingest passes the guard and yields one row per batch member
    out = similarity.incremental_semantic_dedup(
        ordered_corpus, ordered_batch, n_centroids=4
    )
    assert out.count() == 2
    # interleaved ids (batch min 0 <= corpus max 7) must raise
    inter_corpus = e.filter(F.col("vec_id") % 2 == 1)
    inter_batch = e.filter(F.col("vec_id") % 2 == 0)
    with pytest.raises(ValueError, match="interleave"):
        similarity.incremental_semantic_dedup(
            inter_corpus, inter_batch, n_centroids=4
        )
    # the override skips the guard and still returns well-defined
    # (approximate vs full) decisions for every batch member
    out2 = similarity.incremental_semantic_dedup(
        inter_corpus, inter_batch, n_centroids=4, check_ordered=False
    )
    assert out2.count() == 4


def _rp_rows(n: int) -> list[tuple[int, list[float]]]:
    """n fixed-width 8-dim vectors with negative, zero and non-dyadic
    elements, so floor(x·1e6) is exercised on both sides of zero."""
    return [
        (i, [((i * 11 + j * 5) % 17 - 8) / 7.0 for j in range(8)])
        for i in range(n)
    ]


def _duck_rp_rows(rows, n_bits: int, n_bands: int) -> list[tuple]:
    """(vec_id, band_idx, bucket) rows of the DuckDB replay the banded-RP
    oracles use (queries.pipeline._duck_rp_bucket) — an independent
    derivation of the hyperplane weights in pure integer SQL."""
    import duckdb

    from iceberg_benchmark_java_spark.queries.pipeline import _duck_rp_bucket

    con = duckdb.connect()
    con.execute("CREATE TABLE e (vec_id BIGINT, ee DOUBLE[])")
    con.executemany("INSERT INTO e VALUES (?, ?)", rows)
    return con.execute(
        f"""SELECT vec_id, CAST(t.b AS INTEGER) AS band_idx,
               {_duck_rp_bucket("t.b", str(n_bits))} AS bucket
        FROM e, UNNEST(generate_series(0, {n_bands - 1})) AS t(b)"""
    ).fetchall()


def test_package_derives_rp_weights_once():
    """_rp_weight_py( is called in the package only inside
    rp_hyperplane_weights: one derivation of the hyperplane weights,
    which the kernel and the stored tensor both take."""
    import ast
    from pathlib import Path

    package = Path(similarity.__file__).resolve().parent.parent
    callers = []
    for p in sorted(package.rglob("*.py")):
        tree = ast.parse(p.read_text())
        defs = [
            (n.lineno, n.end_lineno, n.name)
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for n in ast.walk(tree):
            f = getattr(n, "func", None)
            if getattr(f, "id", getattr(f, "attr", None)) == "_rp_weight_py":
                inner = max(
                    (d for d in defs if d[0] <= n.lineno <= d[1]),
                    default=(0, 0, "<module>"),
                )
                callers.append(f"{p.relative_to(package)}:{inner[2]}")
    assert callers == ["operators/similarity.py:rp_hyperplane_weights"]


@pytest.mark.parametrize(
    "module, owners",
    [
        (
            "queries/pipeline.py",
            {
                'F.col("vec_id") < 10': "_ann_queries",
                "btop AS (": "_DUCK_EXACT_TOP5",
                "MIN(vec_id) AS vec_id FROM eb GROUP BY bucket": "_duck_ivf_assign",
                "MIN(substr(md5(concat(": "_DUCK_MINHASH_BANDS",
            },
        ),
        (
            "operators/similarity.py",
            {
                'orderBy(F.desc("sim"), F.asc("vec_id"))': "_cosine_topk",
                "crossJoin(F.broadcast(centroids))": "_probe_lists",
                "map_from_entries(": "_pq_lut",
                'F.element_at(F.col("codes"), s + 1)': "_adc_score",
                'orderBy(F.desc("s_int"), F.asc("vec_id"))': "_adc_rank",
                'F.coalesce(F.col("n_better"), F.lit(0)) == 0': "_keep_decision",
                "while (base_n << e) < n_vectors:": "_doubled_bits",
            },
        ),
        (
            "operators/dedup.py",
            {
                "corpus_shingle_dial(docs)": "_shingle_sets",
                'F.col("df") <= max_df': "_shingle_overlaps",
                'orderBy("df", "shingle")': "_prefix_rows",
                'F.lit(tau_den + tau_num) * F.col("n_common")': "_verified_pairs",
            },
        ),
    ],
    ids=["pipeline", "similarity", "dedup"],
)
def test_pipeline_writes_shared_fragments_once(module, owners):
    """Each module writes every fragment its entries or operators share
    exactly once, inside the helper that owns it — in queries/pipeline.py
    the ANN query set, the exact top-5 CTEs, the flat IVF seeding and the
    MinHash signature CTE; in operators/similarity.py the exact-cosine
    top-k ranker, the IVF probe router, the PQ lookup table, the ADC
    fold, the ADC shortlist order, the SemDeDup keep decision and the
    doubling schedule; in
    operators/dedup.py the shingle dial, the max_df shingle self-join,
    the prefix ranking and the exact Jaccard verification. A pasted copy
    anywhere else fails."""
    import ast
    from pathlib import Path

    import iceberg_benchmark_java_spark as pkg

    src = (Path(pkg.__file__).parent / module).read_text()
    spans = {}
    for n in ast.parse(src).body:
        names = [n.name] if isinstance(n, ast.FunctionDef) else [
            t.id for t in getattr(n, "targets", []) if isinstance(t, ast.Name)
        ]
        for name in names:
            spans[name] = (n.lineno, n.end_lineno)
    for fragment, owner in owners.items():
        lines = [
            i for i, ln in enumerate(src.splitlines(), 1) if fragment in ln
        ]
        lo, hi = spans[owner]
        assert len(lines) == 1 and lo <= lines[0] <= hi, (fragment, lines)


def test_avg_recall_keeps_settings_without_hits(spark):
    """A sweep row per setting, even when its approx rows hit nothing in
    the exact top-5 or it has no approx rows at all: recall 0.0, not a
    missing row."""
    from iceberg_benchmark_java_spark.queries.pipeline import (
        _avg_recall_at_5,
        _sweep_settings,
    )

    q = spark.createDataFrame([(0,), (1,)], "query_id int")
    exact = spark.createDataFrame(
        [(0, v) for v in range(10, 15)] + [(1, v) for v in range(20, 25)],
        "query_id int, vec_id int",
    )
    approx = spark.createDataFrame(
        [(1, 0, 10), (1, 0, 11), (1, 1, 20), (2, 0, 99), (2, 1, 98)],
        "n_probe int, query_id int, vec_id int",
    )
    settings = _sweep_settings(spark, (1, 2, 4), "n_probe")
    got = {
        r.n_probe: r.avg_recall
        for r in _avg_recall_at_5(q, exact, approx, settings).collect()
    }
    assert got == {1: 0.3, 2: 0.0, 4: 0.0}


def test_index_code_hash_ignores_docstrings_and_comments(tmp_path):
    """The stored-index stamp hashes operators/similarity.py's code: a
    docstring-only or comment-only edit keeps the hash (no index
    rebuilds), a one-token code edit changes it."""
    from pathlib import Path

    from iceberg_benchmark_java_spark.queries.pipeline import _code_hash

    src = Path(similarity.__file__).read_text()
    base = tmp_path / "similarity.py"
    base.write_text(src)
    h = _code_hash(str(base))

    doc = 'def rp_hyperplane_weights(\n'
    assert src.count(doc) == 1
    i = src.index('"""', src.index(doc)) + 3
    edits = {
        "docstring": src[:i] + "Reworded. " + src[i:],
        "comment": "# a new comment line\n" + src.replace("\n\n\n", "\n\n\n# note\n", 1),
    }
    for what, text in edits.items():
        p = tmp_path / f"{what}.py"
        p.write_text(text)
        assert _code_hash(str(p)) == h, what

    assert "RP_BIT_STRIDE = 64" in src
    code = tmp_path / "code.py"
    code.write_text(src.replace("RP_BIT_STRIDE = 64", "RP_BIT_STRIDE = 65", 1))
    assert _code_hash(str(code)) != h


def test_rp_hyperplane_store_roundtrip(spark, tmp_path):
    """The persisted hyperplane tensor must reproduce the derived
    weights' buckets exactly: build rp_hyperplane_weights, round-trip it
    through parquet, and pin the kernel's rows on the stored tensor equal
    to its rows on the derived one. A stored tensor of the wrong shape
    fails with a ValueError naming the mismatch."""
    e = spark.createDataFrame(_rp_rows(40), ["vec_id", "embedding"])
    w = similarity.rp_hyperplane_weights(dim=8, n_bits=10, n_bands=2)
    hp = spark.createDataFrame(
        [(b, j, wv) for b, per in w.items() for j, wv in enumerate(per)],
        "band int, bit int, w array<bigint>",
    )
    p = str(tmp_path / "hp")
    hp.write.parquet(p)
    back: dict[int, dict[int, list[int]]] = {}
    for r in spark.read.parquet(p).collect():
        back.setdefault(r.band, {})[r.bit] = list(r.w)
    stored = {b: [bits[j] for j in sorted(bits)] for b, bits in back.items()}
    assert stored == w  # exact integer round-trip
    derived = similarity._rp_band_buckets_arrow(e, 10, 2, 8).collect()
    served = similarity._rp_band_buckets_arrow(
        e, 10, 2, 8, rp_weights=stored
    ).collect()
    assert len(derived) == 80
    assert sorted(map(tuple, served)) == sorted(map(tuple, derived))
    # stored tensor at another dial or width than requested: loud, named
    with pytest.raises(ValueError, match="different bit dial"):
        similarity._rp_band_buckets_arrow(e, 12, 2, 8, rp_weights=stored)
    with pytest.raises(ValueError, match="different band dial"):
        similarity._rp_band_buckets_arrow(e, 10, 3, 8, rp_weights=stored)
    with pytest.raises(ValueError, match="different embedding width"):
        similarity._rp_band_buckets_arrow(e, 10, 2, 9, rp_weights=stored)


def test_source_overlap_known_jaccard(spark):
    # A: {a b c, b c d}; B: {a b c, b c x} -> jaccard 1/3.
    # C shares nothing -> its pairs are absent (overlap-only output).
    d = spark.createDataFrame(
        [
            (0, "a b c d", "A"),
            (1, "a b c x", "B"),
            (2, "z z z z", "C"),
        ],
        ["doc_id", "text", "source"],
    )
    from iceberg_benchmark_java_spark.queries.pipeline import source_overlap_q

    sh = dedup.with_word_shingles(
        d.select(F.col("source").alias("doc_id"), "text"), n=3
    ).select(F.col("doc_id").alias("source"), "shingle").distinct()
    sizes = {r.source: r.n for r in sh.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert sizes == {"A": 2, "B": 2, "C": 1}
    a = sh.select(F.col("source").alias("source_a"), "shingle")
    b = sh.select(F.col("source").alias("source_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_common"))
        .collect()
    )
    assert {(r.source_a, r.source_b): r.n_common for r in inter} == {("A", "B"): 1}


def test_hll_distinct_matches_pure_python(spark):
    # The sketch is a deterministic function of the value set: replicate
    # registers, small-range correction and the estimate in pure Python
    # over the same md5-derived 60-bit hash and require exact agreement
    # (after the query's own 4dp rounding).
    import hashlib

    users = [f"u{i}" for i in range(137)]
    rows = [(("click" if i % 3 else "view"), u) for i, u in enumerate(users)]
    e = spark.createDataFrame(rows, ["event_type", "user_id"])
    h60 = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    w = F.shiftright(F.col("h60"), 6)
    rho = F.when(w == 0, F.lit(55)).otherwise(F.lit(55) - F.length(F.bin(w)))
    reg = (
        e.select("event_type", "user_id").distinct()
        .select("event_type", h60.alias("h60"))
        .select(
            "event_type",
            F.col("h60").bitwiseAND(F.lit(63)).alias("idx"),
            rho.alias("rho"),
        )
        .groupBy("event_type", "idx")
        .agg(F.max("rho").alias("m_j"))
        .collect()
    )
    spark_regs = {}
    for r in reg:
        spark_regs.setdefault(r.event_type, {})[r.idx] = r.m_j

    def py_est(vals):
        regs = {}
        for u in vals:
            h = int(hashlib.md5(u.encode()).hexdigest()[:15], 16)
            idx, word = h & 63, h >> 6
            r = 55 if word == 0 else 55 - word.bit_length()
            regs[idx] = max(regs.get(idx, 0), r)
        return regs

    by_type = {}
    for t, u in rows:
        by_type.setdefault(t, set()).add(u)
    for t, vals in by_type.items():
        assert spark_regs[t] == py_est(vals), t


def test_prefix_filter_pairs_lossless_vs_brute_force(spark):
    # Corpus with a near-dup pair (0,1), an exact dup pair (2,3), and
    # unrelated docs; prefix filtering must return EXACTLY the pairs the
    # brute-force Jaccard join returns (the losslessness theorem).
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog today"),
            (1, "the quick brown fox jumps over the lazy cat today"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "alpha beta gamma delta epsilon zeta"),
            (4, "one two three four five six seven eight nine ten"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r.doc_a, r.doc_b): r.n_common
        for r in dedup.prefix_filter_pairs(docs, n=3).collect()
    }
    # Brute force on the same shingle sets.
    sh = dedup.with_word_shingles(docs, n=3)
    sets = {}
    for r in sh.collect():
        sets.setdefault(r.doc_id, set()).add(r.shingle)
    want = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            c = len(sets[a] & sets[b])
            if 3 * c >= len(sets[a]) + len(sets[b]):
                want[(a, b)] = c
    assert got == want
    assert (2, 3) in got and (0, 1) in got and (0, 4) not in got


def test_bpe_encode_matches_pure_python(spark):
    # Train-then-encode round trip: per-doc BPE token counts must equal a
    # pure-Python trainer+encoder (same greedy fold, same tie rules).
    from collections import Counter, defaultdict

    rows = [(0, "spark scan span plan plan"), (1, "scan plan spans par")]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_words, r.n_chars, r.n_bpe_tokens)
        for r in text.bpe_encode(d, n_merges=4).collect()
    }

    vocab = Counter(w for _, t in rows for w in t.split())
    syms = {w: list(w) for w in vocab}
    for _ in range(4):
        counts: dict[tuple[str, str], int] = defaultdict(int)
        for w, f in vocab.items():
            s = syms[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += f
        if not counts:
            break
        (a, b), _c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        for w in syms:
            s, out = syms[w], []
            for x in s:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            syms[w] = out
    want = {}
    for doc_id, t in rows:
        ws = t.split()
        want[doc_id] = (
            len(ws),
            sum(len(w) for w in ws),
            sum(len(syms[w]) for w in ws),
        )
    assert got == want
    # merging must actually compress: fewer tokens than chars
    assert all(nb < nc for _, nc, nb in got.values())


def test_cms_overestimate_invariant(spark):
    # Count-min's one-sided guarantee: est >= exact for every probe, with
    # equality when no collision hits any of the d cells.
    from iceberg_benchmark_java_spark.queries.pipeline import (
        cms_heavy_hitters_q,
    )

    out = cms_heavy_hitters_q(spark, SF_SMOKE).collect()
    assert len(out) == 10
    assert all(r.overestimate >= 0 for r in out)
    assert all(r.est_cnt >= r.exact_cnt for r in out)


def test_pca_top_component_rank_one(spark):
    # Rank-1 corpus: every vector is a multiple of w, so the top principal
    # direction IS w, max-normalized to the signed largest component
    # (w[1] = -4 -> loadings = w / -4, dominant exactly 1.0).
    w = [2.0, -4.0, 1.0, 0.5]
    rows = [(i, [c * x for x in w]) for i, c in enumerate([1.0, -2.0, 3.0])]
    e = spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    got = {
        r.i: r.loading
        for r in similarity.pca_top_component(e, iterations=3).collect()
    }
    want = {i: x / -4.0 for i, x in enumerate(w)}
    assert set(got) == set(want)
    for i in want:
        assert abs(got[i] - want[i]) < 1e-9, (i, got[i], want[i])
    assert got[1] == 1.0  # canonical sign: dominant component exactly 1


def test_typo_pairs_lossless_vs_brute_force(spark):
    # Planted typos: substitution (hash/bash), deletion (spark/spak),
    # double-substitution at distance 2 (scan/skin), and an unrelated
    # word. FastSS blocking + verify must equal brute force exactly.
    docs = spark.createDataFrame(
        [(0, "hash bash spark spak scan skin unrelatedword hash")],
        ["doc_id", "text"],
    )
    got = {
        (r.word_a, r.word_b): (r.dist, r.freq_a, r.freq_b)
        for r in text.typo_pairs(docs).collect()
    }
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    words = "hash bash spark spak scan skin unrelatedword hash".split()
    freq = {w: words.count(w) for w in set(words)}
    want = {}
    for a, b in itertools.combinations(sorted(set(words)), 2):
        d = lev(a, b)
        if d <= 2:
            want[(a, b)] = (d, freq[a], freq[b])
    assert got == want
    assert ("bash", "hash") in got and got[("bash", "hash")][0] == 1


def test_random_projection_zero_shuffle_and_concentration(spark):
    # JL distortion must concentrate near 1 (k=16 gives ~1/sqrt(16)
    # relative spread: all fixture ratios should sit well inside [0.3, 1.9])
    # and the plan must be shuffle-free (one narrow projection).
    from iceberg_benchmark_java_spark.queries.pipeline import (
        random_projection_q,
    )

    df = random_projection_q(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:1500]
    rows = df.collect()
    assert len(rows) == 500
    # k=16 -> per-vector std ~ sqrt(2/k) ~ 0.35; individual ratios spread
    # but stay positive and bounded, and the MEAN concentrates near 1.
    assert all(0.0 < r.distortion < 4.0 for r in rows)
    import statistics

    assert abs(statistics.mean(r.distortion for r in rows) - 1.0) < 0.1


def test_shard_balance_invariants(spark):
    from iceberg_benchmark_java_spark.queries.pipeline import shard_balance_q

    r = shard_balance_q(spark, SF_SMOKE).collect()[0]
    assert r.n_shards == 16
    assert r.max_over_min >= r.max_over_mean >= 1.0
    d = load_table(spark, SF_SMOKE, "documents")
    assert r.total_docs == d.count()
    # content-independent hash sharding concentrates near balance
    assert r.max_over_mean < 2.0


def test_events_profile_null_accounting(spark):
    from iceberg_benchmark_java_spark.queries.pipeline import events_profile_q

    rows = {r.event_type: r for r in events_profile_q(spark, SF_SMOKE).collect()}
    e = load_table(spark, SF_SMOKE, "events")
    total = e.count()
    assert sum(r.n for r in rows.values()) == total
    for r in rows.values():
        assert 0 <= r.null_props <= r.n and 0 <= r.null_value <= r.n
        assert r.n_users <= r.n
        assert r.min_value <= r.max_value


# --- round-6 additions: real-pixel perceptual hash + image near-dup ----------
def test_phash_kernel_known_image_and_rejects():
    """_phash_kernel on a hand-built 8x8 gray P6 (left half 0, right half
    200): exactly the 4 right-hand columns of each grid row are above the
    mean; sub-8x8 and malformed payloads are rejected."""
    w = h = 8
    raster = bytes(
        (200 if x >= 4 else 0) for y in range(h) for x in range(w) for _ in range(3)
    )
    got = multimodal._phash_kernel(f"P6\n{w} {h}\n255\n".encode() + raster)
    assert got is not None
    gw, gh, bits = got
    assert (gw, gh) == (8, 8) and len(bits) == 64
    assert bits == ("0000" + "1111") * 8
    assert multimodal._phash_kernel(b"P6\n4 4\n255\n" + b"\x00" * 48) is None
    assert multimodal._phash_kernel(b"not an image") is None


def test_phash_uniform_image_all_zero_bits():
    """A constant raster has no cell above the mean (strict >): all-zero
    hash — the degenerate case the cross-multiplied compare must get
    right (no float-epsilon 'above mean' cells)."""
    payload = b"P6\n9 9\n255\n" + b"\x7f" * (9 * 9 * 3)
    got = multimodal._phash_kernel(payload)
    assert got is not None and got[2] == "0" * 64


@pytest.mark.medium
def test_image_near_dup_planted_and_blocking_lossless(spark):
    """The textured fixture family has genuine dup structure: docs with
    equal (doc_id%16, dims, doc_id%5) yield Hamming-0 pairs, and the
    4x16-bit banded blocking finds EVERY pair with Hamming <= 3 that a
    brute-force scan over the collected hashes finds (pigeonhole
    losslessness, verified end-to-end on real decoded pixels)."""
    rows = [(d, "x", "en", "s", 100) for d in (1, 17, 81, 3, 7, 23, 40, 55, 96)]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    hashes = multimodal.image_block_hash(multimodal.synthesize_textured_ppm(docs))
    hs = {r.media_id: r.phash for r in hashes.collect()}
    assert len(hs) == 9 and all(len(v) == 64 for v in hs.values())
    # identical synthesis parameters -> identical pixels -> identical hash:
    # 1 vs 81 share tex=1, phase=1, dims (same n_chars)
    assert hs[1] == hs[81]
    got = {
        (r.media_a, r.media_b): r.hamming
        for r in multimodal.phash_near_dup_pairs(
            hashes, max_hamming=3, n_bands=4
        ).collect()
    }
    assert got[(1, 81)] == 0
    ids = sorted(hs)
    brute = {
        (a, b): sum(ca != cb for ca, cb in zip(hs[a], hs[b]))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
    }
    expect = {p: d for p, d in brute.items() if d <= 3}
    assert got == expect


def test_sq8_reconstruction_error_bounded(spark):
    """Quantize-dequantize error is at most half a quantization step per
    dimension (step = (max-min)/255), the defining invariant of uniform
    scalar quantization; constant dims reconstruct exactly."""
    e = load_table(spark, SF_SMOKE, "embeddings").limit(50)
    stats = similarity.sq8_stats(e).collect()[0]
    mns, mxs = stats.mns, stats.mxs
    dq = (
        e.crossJoin(F.broadcast(similarity.sq8_stats(e)))
        .select(
            "vec_id",
            "embedding",
            similarity._sq8_dequant(
                F.col("embedding"), F.col("mns"), F.col("mxs")
            ).alias("de"),
        )
        .collect()
    )
    for r in dq:
        for i, (x, d) in enumerate(zip(r.embedding, r.de)):
            step = (mxs[i] - mns[i]) / 255.0
            assert abs(float(x) - d) <= step / 2 + 1e-12


def test_sq8_topk_matches_bruteforce_on_separated_vectors(spark):
    """On well-separated vectors SQ8 ranking is identical to exact ranking
    (8-bit grids lose less than the inter-vector gaps)."""
    e = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    exact = {
        (r.query_id, r.rnk): r.vec_id
        for r in similarity.cosine_topk_bruteforce(e, q, k=3).collect()
    }
    approx = {
        (r.query_id, r.rnk): r.vec_id
        for r in similarity.sq8_topk(e, q, k=3).collect()
    }
    assert exact == approx


def test_zorder_layout_beats_linear_on_2d_box(spark):
    """Layout report invariants: every scanned set covers the matched rows
    (pruning is sound — a reader never skips a bucket containing matches),
    and the Morton layout strictly beats the single-column layout on both
    dials for a genuinely 2-D predicate. Box sized to the smoke fixture's
    user range (0..14)."""
    from iceberg_benchmark_java_spark.operators.scale import layout_pruning_report

    e = load_table(spark, SF_SMOKE, "events")
    x = F.pmod(F.col("user_id"), F.lit(256))
    y = F.pmod((F.unix_timestamp(F.col("ts")) / F.lit(3600)).cast("long"), F.lit(256))
    rep = {
        r.layout: r
        for r in layout_pruning_report(
            e, x, y, box=(4, 11, 32, 95), n_buckets=64, bits=8
        ).collect()
    }
    z, lin = rep["zorder"], rep["linear"]
    assert z.rows_matched == lin.rows_matched > 0
    for r in (z, lin):
        assert r.rows_scanned >= r.rows_matched  # soundness
        assert 0 < r.n_scanned <= r.n_partitions
        assert r.read_amplification >= 1.0
    assert z.frac_scanned < lin.frac_scanned
    assert z.read_amplification < lin.read_amplification


def test_interleave_bits_known_values(spark):
    """Morton key spot-checks: (x=0b11, y=0b01) -> 0b0111 = 7;
    (x=255, y=0) -> 0b0101...01 = 21845; (0,255) -> 43690."""
    from iceberg_benchmark_java_spark.operators.scale import interleave_bits

    df = spark.createDataFrame([(3, 1), (255, 0), (0, 255)], ["x", "y"])
    got = [
        r.z for r in df.select(
            interleave_bits(F.col("x"), F.col("y")).alias("z")
        ).collect()
    ]
    assert got == [7, 21845, 43690]


def test_sorted_neighborhood_adjacent_dups_found(spark):
    """Docs that normalize identically sort adjacent, so SNM must pair them
    at jaccard 1.0; the pair count is exactly N*w - w*(w+1)/2 (every rank
    joins its d=1..w successors)."""
    rows = [
        (0, "delta beta alpha"),        # same token set as doc 2
        (1, "zz yy xx"),
        (2, "alpha beta delta"),
        (3, "alpha beta delta extra"),  # near-dup of 0/2
        (4, "mm nn oo"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        (r.doc_a, r.doc_b): r
        for r in dedup.sorted_neighborhood_pairs(docs, window=2).collect()
    }
    n, w = len(rows), 2
    assert len(out) == n * w - w * (w + 1) // 2
    assert out[(0, 2)].jaccard == 1.0 and out[(0, 2)].rank_gap == 1
    assert out[(2, 3)].jaccard == 0.75  # |{a,b,d}| / |{a,b,d,extra}|


def test_snapshot_diff_matches_pure_python_merkle(spark):
    """snapshot_diff's bucket digests equal a pure-Python replay of the
    md5 fold (shard, h31 sum, verdict) on a corpus with one delete, one
    update, and one insert — every verdict class exercised end-to-end."""
    import hashlib

    from iceberg_benchmark_java_spark.operators.scale import snapshot_diff

    old_rows = [(i, f"text number {i}") for i in range(10)]
    new_rows = (
        [(i, f"text number {i}") for i in range(10) if i != 3]  # delete 3
        + [(99, "a brand new doc")]                             # insert 99
    )
    new_rows = [(i, t + " changed") if i == 5 else (i, t) for i, t in new_rows]

    def shard(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 64

    def h31(payload):
        return int(hashlib.md5(payload.encode()).hexdigest()[:15], 16) % 2**31

    def summary(rows):
        out = {}
        for i, t in rows:
            b = shard(i)
            n, d = out.get(b, (0, 0))
            out[b] = (n + 1, d + h31(f"{i}|{t}"))
        return out

    so, sn = summary(old_rows), summary(new_rows)
    expect = {}
    for b in set(so) | set(sn):
        n_old, d_old = so.get(b, (None, None))
        n_new, d_new = sn.get(b, (None, None))
        if n_old is None:
            st = "only_new"
        elif n_new is None:
            st = "only_old"
        elif (n_old, d_old) == (n_new, d_new):
            st = "match"
        else:
            st = "differ"
        expect[b] = (n_old, n_new, d_old, d_new, st)

    old = spark.createDataFrame(old_rows, ["doc_id", "text"])
    new = spark.createDataFrame(new_rows, ["doc_id", "text"])
    payload = F.concat_ws("|", F.col("doc_id").cast("string"), F.col("text"))
    got = {
        r.bucket: (r.n_old, r.n_new, r.digest_old, r.digest_new, r.status)
        for r in snapshot_diff(
            old, new, F.col("doc_id"), payload, n_buckets=64
        ).collect()
    }
    assert got == expect
    assert {v[4] for v in got.values()} >= {"match", "differ"}


# --- round-6 continuation entries: invariants over the fixture corpus --------


def _q(spark, name):
    from iceberg_benchmark_java_spark.queries.registry import REGISTRY
    import iceberg_benchmark_java_spark.queries.pipeline  # noqa: F401

    return REGISTRY[name].builder(spark, SF_SMOKE)


def test_psi_contributions_nonnegative(spark):
    """Each PSI term (p_new - p_old)·ln(p_new/p_old) has matching signs in
    both factors, so every contribution is >= 0 — and with add-1 smoothing
    it is finite. The fixed-point floor preserves the bound exactly."""
    rows = _q(spark, "pipe_quality_psi").collect()
    assert rows
    assert all(r.psi_contrib_fp >= 0 for r in rows)
    assert sum(r.n_old for r in rows) + sum(r.n_new for r in rows) > 0


def test_erasure_audit_conserves_rows(spark):
    """erased + remaining == total per type, and every flagged user's
    events are gone from the remaining side by construction of the same
    broadcast join the delete would use."""
    rows = _q(spark, "pipe_user_erasure_audit").collect()
    assert rows
    for r in rows:
        assert r.n_erased + r.n_remaining == r.n_total
        assert r.users_erased <= r.n_erased


def test_method_agreement_diagonal_dominates(spark):
    """|A∩B| can never exceed |A∩A| or |B∩B| — the off-diagonal cells of
    the agreement matrix are bounded by the method totals."""
    rows = _q(spark, "pipe_dedup_method_agreement").collect()
    diag = {r.method_a: r.n_docs for r in rows if r.method_a == r.method_b}
    for r in rows:
        if r.method_a != r.method_b:
            assert r.n_docs <= diag.get(r.method_a, 0)
            assert r.n_docs <= diag.get(r.method_b, 0)


def test_dsir_target_slice_scores_higher(spark):
    """DSIR importance log-weights estimate ln(p_target/p_raw): the target
    slice (lang='en') must average strictly higher than the complement —
    otherwise the bucket distributions got crossed."""
    rows = _q(spark, "pipe_dsir_importance").collect()
    en = [r.avg_dsir for r in rows if r.lang == "en"]
    rest = [r.avg_dsir for r in rows if r.lang != "en"]
    assert en and rest
    assert sum(en) / len(en) > sum(rest) / len(rest)


def test_mixture_epochs_allocates_budget(spark):
    """Allocations sum to ~the 2x-corpus budget (floor slack per source)
    and every epoch count respects the cap."""
    rows = _q(spark, "pipe_mixture_epochs").collect()
    total = sum(r.n_tokens for r in rows)
    alloc = sum(r.alloc_tokens for r in rows)
    assert 0 <= 2 * total - alloc <= len(rows)
    assert all(0 < r.epochs <= 4.0 for r in rows)
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-4


def test_quality_filter_centroid_label_keeps_most(spark):
    """The label that defines the reference centroid must have the highest
    keep rate — the filter is supposed to prefer its own direction."""
    rows = _q(spark, "pipe_embedding_quality_filter").collect()
    by = {r.label: r for r in rows}
    assert by[0].keep_rate == max(r.keep_rate for r in rows)
    assert all(0 <= r.n_keep <= r.n_vecs for r in rows)


def test_ppjoin_equals_prefix_filter_and_prunes_candidates(spark, docs):
    """PPJoin's length+positional filters are lossless: final pairs equal
    prefix_filter_pairs exactly. And they genuinely prune: the candidate
    set reaching exact verification is a (strict, on this corpus) subset
    of the prefix-only candidates."""
    from pyspark.sql.window import Window

    d = docs.select("doc_id", "text")
    got = {
        (r.doc_a, r.doc_b, r.n_common)
        for r in dedup.ppjoin_pairs(d, n=3, tau_num=1, tau_den=2).collect()
    }
    ref = {
        (r.doc_a, r.doc_b, r.n_common)
        for r in dedup.prefix_filter_pairs(d, n=3, tau_num=1, tau_den=2).collect()
    }
    assert got == ref

    # candidate-volume audit: rebuild both candidate stages
    sh = dedup.with_word_shingles(d, n=3)
    df = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    ranked = (
        sh.join(df, "shingle")
        .withColumn(
            "rnk",
            F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "shingle")),
        )
        .withColumn("n", F.count("*").over(Window.partitionBy("doc_id")))
    )
    p = F.col("n") - F.floor((F.col("n") + 1) / 2) + 1
    prefix = ranked.filter(F.col("rnk") <= p)
    a = prefix.select(F.col("doc_id").alias("da"), "shingle", F.col("n").alias("na"), F.col("rnk").alias("pa"))
    b = prefix.select(F.col("doc_id").alias("db"), "shingle", F.col("n").alias("nb"), F.col("rnk").alias("pb"))
    joined = a.join(b, "shingle").filter(F.col("da") < F.col("db"))
    n_prefix = joined.select("da", "db").distinct().count()
    ub = F.least(F.col("pa"), F.col("pb")) + F.least(
        F.col("na") - F.col("pa"), F.col("nb") - F.col("pb")
    )
    alpha = F.floor((F.col("na") + F.col("nb") + 2) / 3)
    n_ppjoin = (
        joined.filter(2 * F.least("na", "nb") >= F.greatest("na", "nb"))
        .groupBy("da", "db", "na", "nb")
        .agg(F.max(ub).alias("mu"))
        .filter(F.col("mu") >= alpha)
        .count()
    )
    assert n_ppjoin <= n_prefix
    assert n_ppjoin < n_prefix  # the filters must actually bite here


def test_drop_reason_waterfall_planted(spark, tmp_path):
    """Planted corpus exercising every waterfall branch with known counts:
    id 0 -> eval_holdout, 1/2 identical (2 drops as exact_dup), 3 copies
    eval text (contaminated), 4 trips too_few_tokens (low_quality),
    5 is a clean keep."""
    good = (
        "the quick brown fox jumps over a lazy dog and then the dog "
        "sleeps while a cat watches the quiet yard and birds sing of "
        "morning light as the day begins slowly with a warm wind"
    )
    eval_text = (
        "the silver river bends north of a stone bridge and the water "
        "carries leaves past a quiet mill where the miller waits for "
        "morning grain carts of the valley farms to arrive in line"
    )
    rows = [
        (0, eval_text),
        (1, good),
        (2, good),
        (3, "intro words here " + eval_text),
        (4, "too short"),
        (5, good + " extra tail words close it out nicely today"),
    ]
    import pandas as pd

    d = tmp_path / "wf"
    d.mkdir()
    df = pd.DataFrame(rows, columns=["doc_id", "text"])
    df["lang"] = "en"
    df["source"] = "s0"
    df["n_chars"] = df.text.str.len()
    df.to_parquet(str(d / "documents.parquet"))
    from iceberg_benchmark_java_spark.queries.registry import REGISTRY
    import iceberg_benchmark_java_spark.queries.pipeline  # noqa: F401

    out = {
        r.reason: r.n_docs
        for r in REGISTRY["pipe_drop_reason_waterfall"].builder(
            spark, str(d)
        ).collect()
    }
    assert out["eval_holdout"] == 1
    assert out["exact_dup"] == 1  # id 2 (id 1 is the keeper)
    assert out["contaminated"] == 1  # id 3
    assert out["low_quality"] >= 1  # id 4; keepers may trip rules too
    assert sum(out.values()) == 6


def test_continuation_entry_invariants(spark):
    """One consolidated invariant battery over the continuation entries —
    each is cheap; together they pin the semantic contracts the oracles'
    hash equality alone wouldn't explain."""
    rows = _q(spark, "pipe_tokenizer_fertility").collect()
    assert rows and all(r.fertility >= 1.0 for r in rows)

    rows = _q(spark, "pipe_winsorized_means").collect()
    assert rows and all(0 <= r.n_clamped < r.n for r in rows)

    rows = _q(spark, "pipe_negative_sampling_table").collect()
    assert abs(sum(r.prob for r in rows) - 1.0) < 1e-3
    assert abs(max(r.cum_prob for r in rows) - 1.0) < 1e-5
    # ^0.75 flattens: top-rank prob share must be below raw count share
    total_cnt = sum(r.cnt for r in rows)
    top = min(rows, key=lambda r: r.rnk)
    assert top.prob < top.cnt / total_cnt

    card = _q(spark, "pipe_corpus_datacard").collect()[0]
    assert 0 <= card.exact_dup_rate <= 1 and 0 <= card.en_share <= 1
    assert card.n_tokens > card.n_docs

    sweep = {r.thr: r.n_pairs for r in _q(spark, "pipe_near_dup_threshold_sweep").collect()}
    ts = sorted(sweep)
    assert all(sweep[a] >= sweep[b] for a, b in zip(ts, ts[1:]))

    est = _q(spark, "pipe_join_size_estimate").collect()
    assert est and all(r.total_pairs >= r.n_rows for r in est)

    qs = _q(spark, "pipe_source_quota_sample").collect()
    assert qs and all(r.n_sampled == min(r.quota, r.n_docs) for r in qs)

    tr = _q(spark, "pipe_event_transitions").collect()
    by_src = {}
    for r in tr:
        by_src.setdefault(r.src, 0.0)
        by_src[r.src] += r.p
    assert all(abs(v - 1.0) < 1e-3 for v in by_src.values())

    mg = _q(spark, "pipe_ann_ranking_margin").collect()
    assert len(mg) == 10 and all(r.margin >= 0 for r in mg)

    ms = _q(spark, "pipe_mergeable_stats").collect()[0]
    assert ms.merge_exact is True

    ba = _q(spark, "pipe_sampler_bias_audit").collect()
    assert abs(sum(r.share_delta for r in ba)) < 1e-3

    au = _q(spark, "pipe_doc_embedding_audit").collect()[0]
    assert au.n_paired > 0 and au.docs_missing_vec == 0


def test_dup_span_removal_planted_and_reconciles(spark):
    """Excision on the same planted corpus as the coverage test: removed
    token counts must equal coverage's covered_tokens per doc (the Lee et
    al. measurement/production reconciliation), and the cleaned text must
    be exactly the uncovered positions in order."""
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),        # 8 tok
        (1, "alpha beta gamma delta epsilon zeta eta theta"),        # = doc 0
        (2, "alpha beta gamma delta epsilon zeta eta theta xx yy"),  # 10 tok
        (3, "one two three four five six seven eight"),              # unique
        (4, "tiny doc under eight tokens"),                          # 5 tok
        (5, "p1 p2 p3 p4 p5 p6 p7 p8 p9"),                           # 9 tok
        (6, "p1 p2 p3 p4 p5 p6 p7 p8 p9"),                           # = doc 5
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in dedup.dup_span_removal(d, n=8).collect()}
    cov = {r.doc_id: r for r in dedup.dup_span_coverage(d, n=8).collect()}
    assert len(out) == 7
    for i in range(7):
        assert out[i].tokens_removed == cov[i].covered_tokens, f"doc {i}"
        assert out[i].n_tok == cov[i].n_tok
    assert out[0].clean_text == ""  # fully duplicated doc -> excised away
    assert out[2].clean_text == "xx yy"  # only the shared 8-gram cut
    assert out[3].clean_text == rows[3][1]  # unique doc untouched
    assert out[4].clean_text == rows[4][1]  # short doc untouched
    assert out[5].clean_text == ""  # overlapping spans union to all 9
    # chars_removed measured against single-space normalization
    assert out[2].chars_removed == len(rows[2][1]) - len("xx yy")
    assert out[3].chars_removed == 0


def test_rp_arrow_route_matches_expression_route(spark):
    """The Arrow-batched NumPy kernel (_rp_band_buckets_arrow) must emit
    exactly the (vec_id, band_idx, bucket) rows of the DuckDB replay the
    oracles use — same float64 quantization, same xorshift-multiply
    weights, exact integer dot — for both the derived and the
    stored-tensor weight sources. This is the equality that keeps the
    banded-RP entries' oracle hashes invariant."""
    rows = _rp_rows(60)
    e = spark.createDataFrame(rows, ["vec_id", "embedding"])
    n_bits, n_bands, dim = 18, 2, 8
    want = sorted(_duck_rp_rows(rows, n_bits, n_bands))
    assert len(want) == 120 and len({r[2] for r in want}) > 1
    derived = similarity._rp_band_buckets_arrow(e, n_bits, n_bands, dim)
    assert sorted(map(tuple, derived.collect())) == want
    w = similarity.rp_hyperplane_weights(dim=dim, n_bits=n_bits, n_bands=n_bands)
    stored = similarity._rp_band_buckets_arrow(
        e, n_bits, n_bands, dim, rp_weights=w
    )
    assert sorted(map(tuple, stored.collect())) == want


def test_cosine_arrow_matches_expression_route(spark):
    """_with_cosine_arrow must reproduce the HOF cosine() fold
    bit-for-bit (same left-associated accumulation over dims, same
    float32->float64 widening), so callers' F.round(_, 6) thresholds and
    emitted sims cannot move. Checked on float32 vectors including
    negative, zero-leading, and anti-parallel rows."""
    import math

    rows = []
    for i in range(80):
        v = [((i * 13 + j * 7) % 29 - 14) / 8.0 for j in range(16)]
        w = [((i * 5 + j * 11) % 23 - 11) / 8.0 for j in range(16)]
        if i % 7 == 0:
            v[0] = 0.0
        rows.append((i, v, w))
    d = spark.createDataFrame(
        rows, "pid long, ea array<float>, eb array<float>"
    )
    expr = d.select(
        "pid", similarity.cosine(F.col("ea"), F.col("eb")).alias("c")
    ).collect()
    arrow = similarity._with_cosine_arrow(
        d, "ea", "eb", "c", keep=["pid"]
    ).collect()
    ce = {r.pid: r.c for r in expr}
    ca = {r.pid: r.c for r in arrow}
    assert ce.keys() == ca.keys()
    for k in ce:
        if math.isnan(ce[k]):
            assert math.isnan(ca[k])
        else:
            # bit-identical doubles, not approx-equal
            assert ce[k].hex() == ca[k].hex(), (k, ce[k], ca[k])


def test_shingle_arrow_matches_expression_route(spark):
    """with_word_shingles / positional_ngrams (Arrow n-gram assembly over
    the JVM-tokenized word array) must emit byte-identical rows to the
    original pure-expression forms, including degenerate docs (empty
    text, fewer tokens than n, repeated shingles, multi-space runs)."""
    d = spark.createDataFrame(
        [
            (1, ""),
            (2, "a"),
            (3, "a b"),
            (4, "a b c"),
            (5, "  x   y  "),
            (6, "a a a a a"),
            (7, "the quick brown fox jumps over the lazy dog"),
        ],
        ["doc_id", "text"],
    )
    for n in (2, 3, 5):
        words = F.split(F.trim(F.col("text")), r"\s+")
        expr_sh = d.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(
                            F.lit(1),
                            F.greatest(F.size(words) - (n - 1), F.lit(1)),
                        ),
                        lambda i: F.concat_ws(" ", F.slice(words, i, n)),
                    )
                )
            ).alias("shingle"),
        )
        got = dedup.with_word_shingles(d, n)
        assert (
            got.exceptAll(expr_sh).count() == 0
            and expr_sh.exceptAll(got).count() == 0
        ), f"shingles diverge at n={n}"
        base = d.select(
            "doc_id", words.alias("w"), F.size(words).cast("long").alias("n_tok")
        ).filter(F.col("n_tok") >= n)
        expr_g = (
            base.select(
                "doc_id",
                "n_tok",
                F.posexplode(
                    F.transform(
                        F.sequence(
                            F.lit(1), (F.col("n_tok") - (n - 1)).cast("int")
                        ),
                        lambda i: F.concat_ws(" ", F.slice(F.col("w"), i, n)),
                    )
                ).alias("p", "gram"),
            )
            .withColumn("start", (F.col("p") + 1).cast("long"))
            .select("doc_id", "n_tok", "start", "gram")
        )
        got_g = dedup.positional_ngrams(d, n).select(
            "doc_id", "n_tok", "start", "gram"
        )
        assert (
            got_g.exceptAll(expr_g).count() == 0
            and expr_g.exceptAll(got_g).count() == 0
        ), f"positional ngrams diverge at n={n}"


def test_nearest_centroid_arrow_matches_fold(spark):
    """nearest_centroid (Arrow raw-ratio kernel + JVM round/argmax) must
    reproduce the old broadcast-array fold expression exactly: same
    cent_id per vector (incl. round-to-6dp ties broken to the LOWEST
    cent_id) on adversarial near-tie data, and with non-consecutive
    centroid ids."""
    rows = [
        (i, [((i * 17 + j * 3) % 31 - 15) / 16.0 for j in range(8)])
        for i in range(120)
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # near-duplicate centroids to force rounded ties
    cents = [
        (0, [1.0, 0.5, -0.25, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (3, [1.0, 0.5, -0.25, 0.0, 0.0, 0.0, 0.0, 1e-9]),
        (7, [-1.0, 0.25, 0.5, 0.0, 0.0, 1.0, 0.0, 0.0]),
    ]
    c = spark.createDataFrame(cents, "cent_id int, c_emb array<float>")
    got = {
        r.vec_id: r.cent_id
        for r in similarity.nearest_centroid(e, c).select(
            "vec_id", "cent_id"
        ).collect()
    }
    # the pre-r11 fold expression, verbatim
    from iceberg_benchmark_java_spark.operators.similarity import (
        SIM_SCALE,
        _dot,
        _norm,
    )

    cent_arr = c.select(
        "cent_id", "c_emb", _norm(F.col("c_emb")).alias("c_n")
    ).agg(
        F.array_sort(
            F.collect_list(F.struct("cent_id", "c_emb", "c_n"))
        ).alias("_cents")
    )
    scored = F.transform(
        F.col("_cents"),
        lambda cc: F.struct(
            F.round(
                _dot(F.col("embedding"), cc.getField("c_emb"))
                / (F.col("_nx") * cc.getField("c_n")),
                SIM_SCALE,
            ).alias("csim"),
            (-cc.getField("cent_id")).alias("neg_cent_id"),
        ),
    )
    want = {
        r.vec_id: r.cent_id
        for r in e.withColumn("_nx", _norm(F.col("embedding")))
        .crossJoin(F.broadcast(cent_arr))
        .withColumn(
            "cent_id", (-F.array_max(scored).getField("neg_cent_id"))
        )
        .select("vec_id", "cent_id")
        .collect()
    }
    assert got == want
    # schema parity: cent_id keeps the centroid table's integer type
    out = similarity.nearest_centroid(e, c)
    assert dict(out.dtypes)["cent_id"] == "int"


def test_nearest_centroid_arrow_large_k_branch(spark):
    """The k > d accumulate-over-dims branch (rank-1 updates, row
    chunking) must agree with the k <= d per-centroid fold — identical
    left-associated order, so identical assignments."""
    rows = [
        (i, [((i * 7 + j * 5) % 19 - 9) / 8.0 for j in range(4)])
        for i in range(90)
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [
        (j, [((j * 3 + t) % 11 - 5) / 4.0 for t in range(4)])
        for j in range(6)  # k=6 > d=4 -> large-k branch
    ]
    c = spark.createDataFrame(cents, "cent_id int, c_emb array<float>")
    got = {
        r.vec_id: r.cent_id
        for r in similarity.nearest_centroid(e, c)
        .select("vec_id", "cent_id")
        .collect()
    }
    # brute-force expected via the expression kernel per (row, centroid)
    exp_rows = (
        e.crossJoin(c)
        .select(
            "vec_id",
            "cent_id",
            F.round(
                similarity.cosine(F.col("embedding"), F.col("c_emb")), 6
            ).alias("csim"),
        )
        .collect()
    )
    best: dict = {}
    for r in exp_rows:
        cur = best.get(r.vec_id)
        if cur is None or (r.csim, -r.cent_id) > (cur[0], -cur[1]):
            best[r.vec_id] = (r.csim, r.cent_id)
    assert got == {k: v[1] for k, v in best.items()}
