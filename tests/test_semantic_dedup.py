"""semantic_dedup (corpus/similarity.py — SemDeDup, Abbas et al. 2023):
cluster-blocked cosine dedup.  Invariants: duplicates collapse to the
keep-rule representative, pairs are generated INSIDE cells only, and the
composition equals its stages run by hand."""

from siuba_spark import tbl
from siuba_spark.corpus.similarity import semantic_dedup


def _emb(spark, rows):
    return tbl(spark.createDataFrame(rows, "vec_id long, embedding array<double>"))


def test_semantic_dedup_drops_near_identical(spark):
    # ids 0/1 seed the two sample cells -> orthogonal centroids; the
    # near-dups arrive later and land in their seed's cell
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (2, [0.999, 0.001, 0.0]),   # ~dup of 0, cell 0
        (3, [0.0, 0.998, 0.002]),   # ~dup of 1, cell 1
        (4, [0.6, 0.6, 0.0]),
    ]
    t = _emb(spark, rows)
    kept, pairs = semantic_dedup(t, threshold=0.95, n_lists=2,
                                 centroids="sample", return_pairs=True)
    ids = sorted(r.vec_id for r in kept.df.collect())
    # representatives are the min ids of each near-dup component
    assert 0 in ids and 1 in ids
    assert 2 not in ids and 3 not in ids
    got_pairs = {(r.id_a, r.id_b) for r in pairs.df.collect()}
    assert (0, 2) in got_pairs and (1, 3) in got_pairs


def test_semantic_dedup_pairs_are_cell_blocked(spark):
    """Two identical vectors FORCED into different cells must not pair —
    SemDeDup compares within clusters only (that is the scale contract:
    cost is sum of cell², never corpus²)."""
    # sample centroids = first-2 ids = the two identical vectors -> each
    # seeds its own cell; argmin ties break to the FIRST cell, so put a
    # tiny perturbation on vec 1 to keep it in cell 1
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [1.0, 0.0001]),    # cell 0
        (3, [0.0001, 1.0]),    # cell 1
    ]
    t = _emb(spark, rows)
    _kept, pairs = semantic_dedup(t, threshold=0.5, n_lists=2,
                                  centroids="sample", return_pairs=True)
    got = {(r.id_a, r.id_b) for r in pairs.df.collect()}
    # within-cell near-dups pair; the orthogonal cross-cell ones never do
    assert (0, 2) in got and (1, 3) in got
    assert all(not (a in (0, 2) and b in (1, 3)) and
               not (a in (1, 3) and b in (0, 2)) for a, b in got)


def test_semantic_dedup_keep_max(spark):
    rows = [(0, [1.0, 0.0]), (7, [1.0, 0.000001]), (3, [0.0, 1.0])]
    t = _emb(spark, rows)
    kept = semantic_dedup(t, threshold=0.99, n_lists=1, centroids="sample",
                          keep="max")
    assert sorted(r.vec_id for r in kept.df.collect()) == [3, 7]


def test_vector_mean_groups_and_normalize(spark):
    """vector_mean: element-wise per-group means (decimal-exact sums),
    optional L2 normalization with the NULL-on-zero-norm contract."""
    import math

    from siuba_spark.corpus.similarity import vector_mean
    rows = [("a", [1.0, 2.0]), ("a", [3.0, 4.0]), ("b", [0.0, 0.0])]
    t = tbl(spark.createDataFrame(rows, "g string, embedding array<double>"))
    out = {r.g: list(r.centroid) for r in vector_mean(t, "g").df.collect()}
    assert out == {"a": [2.0, 3.0], "b": [0.0, 0.0]}
    outn = {r.g: list(r.centroid)
            for r in vector_mean(t, "g", normalize=True).df.collect()}
    assert abs(outn["a"][0] - 2 / math.hypot(2, 3)) < 1e-12
    assert outn["b"] == [None, None]


def test_vector_mean_skips_null_elements(spark):
    """NULL elements inside a vector are SKIPPED (non-null denominator,
    the F.avg / pandas-mean contract), not treated as zeros
    (ADVICE r7 item 4)."""
    from siuba_spark.corpus.similarity import vector_mean
    rows = [("a", [1.0, None]), ("a", [3.0, 4.0])]
    t = tbl(spark.createDataFrame(rows, "g string, embedding array<double>"))
    out = {r.g: list(r.centroid) for r in vector_mean(t, "g").df.collect()}
    # position 1: mean over the single non-null value 4.0, not (0+4)/2
    assert out == {"a": [2.0, 4.0]}


def test_semantic_dedup_incremental_equals_from_scratch(spark):
    """Incremental SemDeDup: the union of per-snapshot pair outputs
    equals the from-scratch semantic_dedup pair set at the SAME
    centroids, and components over the accumulated pairs give the same
    kept set (VERDICT r7 item 8).  Snapshots split by id and the trainer
    slice is contained in snapshot 1, so from-scratch training sees the
    identical slice."""
    from pyspark.sql import functions as F

    from siuba_spark.corpus.dedup import drop_near_dups
    from siuba_spark.corpus.similarity import (
        semantic_dedup, semantic_dedup_incremental,
    )
    full = tbl(spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"))
    snap1 = full.evolve(df=full.df.filter(F.col("vec_id") < 250))
    snap2 = full.evolve(df=full.df.filter(F.col("vec_id") >= 250))
    kw = dict(threshold=0.2, n_lists=4, centroids="lloyd",
              n_iters=2, train_limit=64)

    p1, store, cents = semantic_dedup_incremental(snap1, **kw)
    p2, store2, cents2 = semantic_dedup_incremental(
        snap2, store, cents, **kw)
    assert cents2 == cents                      # centroids stay fixed
    inc = p1.df.unionByName(p2.df).toPandas() \
        .sort_values(["id_a", "id_b"]).reset_index(drop=True)

    _, want = semantic_dedup(full, keep="min", return_pairs=True, **kw)
    scr = want.df.toPandas().sort_values(["id_a", "id_b"]) \
        .reset_index(drop=True)
    import pandas as pd
    pd.testing.assert_frame_equal(inc, scr)
    # the store accumulated every assignment exactly once
    assert store2.df.count() == full.df.count()
    # kept set over accumulated pairs == from-scratch kept set
    kept_inc = drop_near_dups(
        full, tbl(p1.df.unionByName(p2.df)), id_col="vec_id")
    kept_scr = semantic_dedup(full, keep="min", **kw)
    assert (sorted(r.vec_id for r in kept_inc.df.select("vec_id").collect())
            == sorted(r.vec_id
                      for r in kept_scr.df.select("vec_id").collect()))


def test_semantic_dedup_incremental_requires_cents_with_store(spark):
    import pytest

    from siuba_spark.corpus.similarity import semantic_dedup_incremental
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    t = _emb(spark, rows)
    _, store, _c = semantic_dedup_incremental(t, n_lists=2,
                                              centroids="sample")
    with pytest.raises(ValueError, match="cents"):
        semantic_dedup_incremental(t, store, None, n_lists=2)


def test_quantize_embeddings_roundtrip_and_edge_cases(spark):
    """int8 scalar quantization: codes bounded to [-127,127], the max
    element maps to ±127 exactly, zero vectors survive, and dequantize
    reconstructs within scale/2 per element."""
    from siuba_spark.corpus.similarity import (
        dequantize_embeddings, quantize_embeddings,
    )
    rows = [(0, [1.0, -2.0, 0.5]), (1, [0.0, 0.0, 0.0]),
            (2, [127.0, -127.0, 63.5])]
    t = tbl(spark.createDataFrame(rows, "vec_id long, embedding array<double>"))
    q = quantize_embeddings(t)
    got = {r.vec_id: (list(r.q_embedding), r.q_scale)
           for r in q.df.collect()}
    assert got[0][0] == [64, -127, 32]        # scale 2/127; 1/(2/127)=63.5 -> 64
    assert got[1] == ([0, 0, 0], 0.0)
    assert got[2][0] == [127, -127, 64]       # 63.5/1 -> HALF_UP 64
    back = dequantize_embeddings(q, out="emb2").df.collect()
    for r in back:
        orig = dict(rows)[r.vec_id]
        for x, y in zip(orig, r.emb2):
            assert abs(x - y) <= (r.q_scale or 0) / 2 + 1e-12


def test_quantize_preserves_ann_neighbors(spark):
    """End-to-end: brute-force top-5 over DEquantized embeddings matches
    the exact float top-5 for >= 90% of (query, neighbor) slots on the
    real fixture — the storage cut does not wreck retrieval."""
    from pyspark.sql import functions as F

    from siuba_spark.corpus.similarity import (
        brute_force_topk, dequantize_embeddings, quantize_embeddings,
    )
    emb = tbl(spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
    qset = emb.df.limit(10)
    exact = brute_force_topk(emb, qset, k=5).df \
        .select("query_id", "nbr_id").collect()
    deq = dequantize_embeddings(
        quantize_embeddings(emb).evolve(df=quantize_embeddings(emb).df
                                        .drop("embedding")),
        out="embedding")
    approx = brute_force_topk(deq, qset, k=5).df \
        .select("query_id", "nbr_id").collect()
    a = {(r.query_id, r.nbr_id) for r in exact}
    b = {(r.query_id, r.nbr_id) for r in approx}
    assert len(a & b) / len(a) >= 0.9


def test_int8_prefilter_pair_set_identical(spark):
    """prefilter='int8' must emit EXACTLY the unfiltered pair set (the
    ADC bound proves no false drops; the exact re-rank removes any false
    keeps) — checked across thresholds on real sf0.001 embeddings."""
    import pandas as pd

    emb = tbl(spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"))
    for thr in (0.25, 0.35, 0.6):
        _d1, p1 = semantic_dedup(emb, threshold=thr, n_lists=4,
                                 centroids="sample", return_pairs=True)
        _d2, p2 = semantic_dedup(emb, threshold=thr, n_lists=4,
                                 centroids="sample", return_pairs=True,
                                 prefilter="int8")
        a = p1.df.toPandas().sort_values(["id_a", "id_b"]) \
            .reset_index(drop=True)
        b = p2.df.toPandas().sort_values(["id_a", "id_b"]) \
            .reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b)


def test_int8_bound_dominates_exact_cosine(spark):
    """The ADC prune bound is a true UPPER bound: for every intra-cell
    pair (threshold 0, nothing pruned by value), bound ≥ exact cosine.
    Includes adversarial vectors: near-duplicates, an all-zero vector,
    constant vectors, and sign-flipped pairs."""
    from pyspark.sql import functions as F

    from siuba_spark.corpus.similarity import (
        _cells_and_centers, _cosine_pre,
    )
    from siuba_spark.corpus.similarity import _int8_prefiltered_pairs

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0, 0.0]),          # near-dup of 0
        (2, [0.0, 0.0, 0.0, 0.0]),             # zero vector
        (3, [0.5, 0.5, 0.5, 0.5]),
        (4, [-0.5, -0.5, -0.5, -0.5]),         # sign flip of 3
        (5, [0.1, -0.2, 0.3, -0.4]),
        (6, [0.1000001, -0.2, 0.3, -0.4]),     # near-dup of 5
        (7, [127.0, -127.0, 63.5, 1.0]),       # large magnitudes
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, _c = _cells_and_centers(
        tbl(df), "vec_id", "embedding", 1, "sample", 2, 42, None)
    # bound-only pairs at threshold -1.0 (keeps everything) vs exact
    pre = _int8_prefiltered_pairs(assigned, -1.0, 8).toPandas()
    a = assigned.select(F.col("nbr_id").alias("id_a"),
                        F.col("nbr_vec").alias("va"),
                        F.col("__nn").alias("na"), "__cell")
    b = assigned.select(F.col("nbr_id").alias("id_b"),
                        F.col("nbr_vec").alias("vb"),
                        F.col("__nn").alias("nb"), "__cell")
    exact = (a.join(b, "__cell").filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b",
                     F.round(_cosine_pre(F.col("va"), F.col("vb"),
                                         F.col("na"), F.col("nb")), 8)
                     .alias("score"))).toPandas()
    # every non-NULL exact pair must appear in the prefiltered output
    # with the identical score (zero-vector pairs are NULL on both paths)
    exact = exact.dropna(subset=["score"])
    merged = exact.merge(pre, on=["id_a", "id_b"], how="left",
                         suffixes=("_want", "_got"))
    assert merged.score_got.notna().all(), merged[merged.score_got.isna()]
    assert (merged.score_want == merged.score_got).all()


def test_semantic_store_compact_rebalances_and_preserves_contract(spark):
    """Store maintenance (semantic_store_compact): a drifted store — all
    later snapshots landing in the epoch-1 cells — compacts into
    rebalanced cells with every row preserved, the trigger is a no-op
    under the p99 limit, and the incremental equivalence holds in the
    new epoch (next snapshot's pairs at the new centroids == from-scratch
    pairs over store+snapshot at those centroids, restricted to pairs
    with a new endpoint)."""
    from pyspark.sql import functions as F

    from siuba_spark.corpus.similarity import (
        semantic_dedup, semantic_dedup_incremental, semantic_store_compact,
    )

    full = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = tbl(full.filter(F.col("vec_id") < 150))
    b = tbl(full.filter(F.col("vec_id").between(150, 299)))
    c = tbl(full.filter(F.col("vec_id") >= 300))
    kw = dict(threshold=0.3, centroids="sample")

    # epoch 1: centroids trained on snapshot a only -> drift by snapshot b
    _p1, store, cents = semantic_dedup_incremental(a, n_lists=4, **kw)
    _p2, store, cents = semantic_dedup_incremental(b, store, cents,
                                                   n_lists=4, **kw)
    n_store = store.df.count()

    # under-limit trigger: untouched
    same, no_cents, did = semantic_store_compact(store, p99_limit=10**9)
    assert did is False and no_cents is None
    assert same.df.count() == n_store

    # compaction: every row survives, schema identical, cells rebalanced
    new_store, new_cents, did = semantic_store_compact(
        store, n_lists=8, centroids="sample", p99_limit=1)
    assert did is True and len(new_cents) == 8
    assert new_store.df.count() == n_store
    assert set(new_store.df.columns) == set(store.df.columns)
    old_p99, new_p99 = [
        s.df.groupBy("__cell").count()
        .agg(F.expr("percentile(count, 0.99)")).first()[0]
        for s in (store, new_store)]
    assert new_p99 <= old_p99

    # epoch 2: the incremental contract holds at the new centroids
    p3, _s3, _c3 = semantic_dedup_incremental(c, new_store, new_cents,
                                              n_lists=8, **kw)
    _d, want_pairs = semantic_dedup(
        tbl(full), n_lists=8, centroids="sample", return_pairs=True,
        **{k: v for k, v in kw.items() if k != "centroids"})
    # from-scratch at the SAME centroids: replay with fixed cents
    from siuba_spark.corpus.similarity import _assign_cells, _cosine_pre, _dot
    vd = F.col("__vd")
    asg = (_assign_cells(full, new_cents, "embedding")
           .select("vec_id", vd.alias("embedding"),
                   _dot(vd, vd).alias("__nn"), "__cell"))
    l = asg.select(F.col("vec_id").alias("id_a"),
                   F.col("embedding").alias("va"),
                   F.col("__nn").alias("na"), "__cell")
    r = asg.select(F.col("vec_id").alias("id_b"),
                   F.col("embedding").alias("vb"),
                   F.col("__nn").alias("nb"), "__cell")
    allp = (l.join(r, "__cell").filter(F.col("id_a") < F.col("id_b"))
            .withColumn("score", F.round(_cosine_pre(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")), 4))
            .filter(F.col("score") >= 0.3)
            .select("id_a", "id_b", "score"))
    want = (allp.filter((F.col("id_a") >= 300) | (F.col("id_b") >= 300))
            .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True))
    got = p3.df.toPandas().sort_values(["id_a", "id_b"]) \
        .reset_index(drop=True)
    import pandas as pd
    pd.testing.assert_frame_equal(got, want)


# ---------------------------------------------------------------------------
# assign_clusters: the public face of the coarse quantizer
# ---------------------------------------------------------------------------

def test_assign_clusters_matches_internal_quantizer(spark):
    """assign_clusters(sample) assigns exactly the cells that
    _cells_and_centers computes for semantic_dedup/ivf_topk."""
    from pyspark.sql import functions as F

    from siuba_spark.corpus.similarity import (
        _cells_and_centers, assign_clusters)

    emb = tbl(spark, "/root/testdata/sf0.001/embeddings.parquet")
    got = {r.vec_id: r.cluster_id
           for r in assign_clusters(emb, n_clusters=8, centroids="sample")
           .df.select("vec_id", "cluster_id").collect()}
    assigned, _c = _cells_and_centers(
        emb, "vec_id", "embedding", 8, "sample", 2, 42, None)
    want = {r["nbr_id"]: r["__cell"]
            for r in assigned.select("nbr_id", "__cell").collect()}
    assert got == want
    # every cluster id is in range and the corpus splits across them
    assert set(got.values()) <= set(range(8))
    assert len(set(got.values())) > 1


def test_assign_clusters_column_preserving_and_map_only(spark):
    from siuba_spark.corpus.similarity import assign_clusters

    emb = tbl(spark, "/root/testdata/sf0.001/embeddings.parquet")
    out = assign_clusters(emb, n_clusters=4, centroids="sample")
    assert out.df.columns == ["vec_id", "embedding", "label", "cluster_id"]
    # sample/lloyd assignment is map-only: no hash shuffle in the plan
    plan = out.df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan


def test_assign_clusters_kmeans_mode(spark):
    from siuba_spark.corpus.similarity import assign_clusters

    emb = tbl(spark, "/root/testdata/sf0.001/embeddings.parquet")
    out = assign_clusters(emb, n_clusters=4, centroids="kmeans")
    rows = out.df.select("vec_id", "cluster_id").collect()
    assert len(rows) == 500
    assert all(r.cluster_id is not None and 0 <= r.cluster_id < 4
               for r in rows)


def test_assign_clusters_empty_input(spark):
    from pyspark.sql import functions as F

    from siuba_spark.corpus.similarity import assign_clusters

    emb = tbl(spark, "/root/testdata/sf0.001/embeddings.parquet")
    empty = emb.evolve(df=emb.df.filter(F.col("vec_id") < 0))
    out = assign_clusters(empty, n_clusters=4, centroids="sample")
    assert out.df.count() == 0
    assert "cluster_id" in out.df.columns


def test_semantic_dedup_null_embeddings_agree_across_pair_paths(
        spark, monkeypatch):
    """Rows without a defined cell (NULL vector, a NULL element, a short
    vector) never pair and are always kept.  The one-side self-join
    (s == 1), the fragment-replicate join (s > 1) and the int8 prefilter
    all give the pair set of a naive cell join, and the same kept set."""
    import pandas as pd
    from pyspark.sql import functions as F

    from siuba_spark.corpus import similarity as sim

    vec = F.transform(F.sequence(F.lit(1), F.lit(8)),
                      lambda j: F.sin((F.col("id") % 37) * j * 0.1))
    odd = (F.col("id") >= 50) & (F.col("id") % 11 < 3)
    emb = (F.when(odd & (F.col("id") % 11 == 0),
                  F.lit(None).cast("array<double>"))
           .when(odd & (F.col("id") % 11 == 1),
                 F.concat(F.slice(vec, 1, 7),
                          F.array(F.lit(None).cast("double"))))
           .when(odd, F.slice(vec, 1, 4))
           .otherwise(vec))
    t = tbl(spark.range(0, 300).select(F.col("id").alias("vec_id"),
                                       emb.alias("embedding")))
    undefined = {i for i in range(50, 300) if i % 11 < 3}

    assigned, _c = sim._cells_and_centers(t, "vec_id", "embedding", 4,
                                          "sample", 2, 42, None)
    side = [assigned.select(F.col("nbr_id").alias(f"id_{x}"),
                            F.col("nbr_vec").alias(f"v_{x}"),
                            F.col("__nn").alias(f"n_{x}"), "__cell")
            for x in "ab"]
    want = (side[0].join(side[1], "__cell")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("score", F.round(sim._cosine_pre(
                F.col("v_a"), F.col("v_b"), F.col("n_a"), F.col("n_b")), 4))
            .filter(F.col("score") >= 0.9)
            .select("id_a", "id_b", "score").toPandas()
            .sort_values(["id_a", "id_b"]).reset_index(drop=True))
    assert len(want) > 0
    assert not undefined & (set(want.id_a) | set(want.id_b))

    kept_sets = []
    for s in (1, 3):
        monkeypatch.setattr(sim, "_pair_blocks", lambda _sp, _n, s=s: s)
        for pf in (None, "int8"):
            kept, pairs = semantic_dedup(t, threshold=0.9, n_lists=4,
                                         centroids="sample",
                                         return_pairs=True, prefilter=pf)
            got = (pairs.df.toPandas().sort_values(["id_a", "id_b"])
                   .reset_index(drop=True))
            pd.testing.assert_frame_equal(got, want)
            kept_sets.append({r.vec_id for r in kept.df.collect()})
    assert all(k == kept_sets[0] for k in kept_sets)
    assert undefined <= kept_sets[0]
