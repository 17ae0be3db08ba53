"""Product-Quantization top-k (corpus/similarity.py pq_topk).

Value-exactness vs the SQL replay is covered by the graded `pq_topk`
registry entry; here: output invariants, contract errors, and the plan
shape (no CartesianProduct — the all-pairs step must broadcast)."""

import pytest
from pyspark.sql import functions as F

from siuba_spark import filter, tbl, _
from siuba_spark.corpus.similarity import brute_force_topk, pq_topk

from .conftest import SF_ORACLE

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def emb(spark):
    return tbl(spark, f"{SF}/embeddings.parquet")


def test_pq_topk_invariants(emb):
    q = emb >> filter(_.vec_id < 3)
    out = pq_topk(emb, q, k=5).df.toPandas()
    assert set(out.columns) == {"query_id", "nbr_id", "adist", "rk"}
    for qid, grp in out.groupby("query_id"):
        g = grp.sort_values("rk")
        assert list(g.rk) == list(range(1, len(g) + 1))
        # smaller approximate distance ranks first
        assert g.adist.is_monotonic_increasing
        assert (g.nbr_id != qid).all()
    assert (out.adist >= 0).all()


def test_pq_beats_random_on_true_neighbors(emb):
    """The #1 exact cosine neighbor should usually land in PQ's top-10:
    recall@10 over 10 queries well above random (10/499)."""
    q = emb >> filter(_.vec_id < 10)
    exact = brute_force_topk(emb, q, k=1).df.toPandas()
    approx = pq_topk(emb, q, k=10).df.toPandas()
    hits = 0
    for _i, row in exact.iterrows():
        got = set(approx[approx.query_id == row.query_id].nbr_id)
        hits += row.nbr_id in got
    assert hits >= 3, f"recall@10 of top-1 = {hits}/10 — PQ is not ranking"


def test_pq_topk_contract_errors(emb, spark):
    with pytest.raises(ValueError, match="divisible"):
        pq_topk(emb, emb >> filter(_.vec_id < 2), n_subspaces=7)
    tiny = emb >> filter(_.vec_id < 3)
    with pytest.raises(ValueError, match="fewer"):
        pq_topk(tiny, tiny, n_codes=8)


def test_pq_topk_plan_has_no_cartesian(emb):
    q = emb >> filter(_.vec_id < 3)
    plan = pq_topk(emb, q, k=5).df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_ivf_pq_candidates_come_from_probed_cells(emb):
    """IVF-PQ results must be a subset of plain PQ's candidate universe
    restricted to probed cells: every returned neighbor's cell is one of
    its query's probes, and per-query result counts never exceed k."""
    from siuba_spark.corpus.similarity import ivf_pq_topk
    q = emb >> filter(_.vec_id < 5)
    out = ivf_pq_topk(emb, q, k=5, n_lists=8, n_probes=3).df.toPandas()
    assert (out.groupby("query_id").size() <= 5).all()
    for qid, grp in out.groupby("query_id"):
        g = grp.sort_values("rk")
        assert list(g.rk) == list(range(1, len(g) + 1))
        assert g.adist.is_monotonic_increasing
        assert (g.nbr_id != qid).all()


def test_ivf_pq_probes_widen_candidates(emb):
    """More probes can only add candidates: results at n_probes=8 (all
    cells) must contain at least as many rows per query, and the full
    probe set equals plain PQ's ranking on the same codebook params."""
    from siuba_spark.corpus.similarity import ivf_pq_topk
    q = emb >> filter(_.vec_id < 3)
    narrow = ivf_pq_topk(emb, q, k=5, n_lists=8, n_probes=1).df.toPandas()
    wide = ivf_pq_topk(emb, q, k=5, n_lists=8, n_probes=8).df.toPandas()
    full = pq_topk(emb, q, k=5).df.toPandas()
    assert len(wide) >= len(narrow)
    # probing every cell == no candidate pruning == plain PQ
    w = wide.sort_values(["query_id", "rk"]).reset_index(drop=True)
    f = full.sort_values(["query_id", "rk"]).reset_index(drop=True)
    assert (w.nbr_id == f.nbr_id).all() and (w.adist == f.adist).all()


def test_single_cell_ivf_verbs_equal_their_flat_twins(spark):
    """With one cell probed, the IVF verbs reduce to their flat twins —
    same candidates, same score / ADC kernels, same top-k rule with the
    nbr_id tie-break — so the results must match row for row."""
    from siuba_spark.corpus.similarity import ivf_pq_topk, ivf_topk
    emb = tbl(spark, f"{SF_ORACLE}/embeddings.parquet")
    q = emb >> filter(_.vec_id < 5)

    def rows(t):
        return sorted(map(tuple, t.df.collect()))

    pq = rows(pq_topk(emb, q, k=10))
    assert len(pq) == 50
    assert rows(ivf_pq_topk(emb, q, k=10, n_lists=1, n_probes=1)) == pq
    exact = rows(brute_force_topk(emb, q, k=10))
    assert len(exact) == 50
    assert rows(ivf_topk(emb, q, k=10, n_lists=1, n_probes=1,
                         centroids="sample")) == exact


def test_cosine_zero_norm_vector_is_null_not_error(spark):
    """scale_spot r6 finding: an all-zero embedding must not raise ANSI
    DIVIDE_BY_ZERO — cosine with a zero-norm vector is NULL and such
    neighbors sort last (never into the top-k ahead of real scores)."""
    from siuba_spark import tbl
    from siuba_spark.corpus.similarity import brute_force_topk, cosine_sim_col
    from pyspark.sql import functions as F
    rows = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])]
    t = tbl(spark.createDataFrame(rows, "vec_id long, embedding array<double>"))
    q = t.df.filter("vec_id = 1")
    out = brute_force_topk(t, q, k=3).df.orderBy("rk").collect()
    assert [r.nbr_id for r in out] == [2, 3, 0]   # zero vector ranks last
    assert out[-1].score is None
    direct = (t.df.withColumn(
        "c", cosine_sim_col(F.col("embedding"), F.array(F.lit(0.0), F.lit(0.0))))
        .select("c").distinct().collect())
    assert all(r.c is None for r in direct)
