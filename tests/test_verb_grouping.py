"""group_by / ungroup / summarize / count / add_count tests
(reference model: siuba/tests/test_verb_summarize.py etc.)."""

import pandas as pd
import pytest

from siuba_spark import (
    _, group_by, ungroup, summarize, count, add_count, mutate, n,
    n_distinct, TranslationError, lag, arrange, collect, tbl,
)
from .helpers import data_frame, assert_equal_query

GDATA = dict(g=["a", "a", "b"], x=[1.0, 3.0, 10.0], y=[2, 4, 6])


def test_group_by_sets_state_only(spark):
    t = data_frame(spark, **GDATA)
    out = t >> group_by(_.g)
    assert out.group_by == ("g",)
    assert len(out.df.collect()) == 3  # no aggregation happened


def test_group_by_kwargs_mutate_semantics(spark):
    t = data_frame(spark, **GDATA)
    out = t >> group_by(big=_.x > 2)
    assert out.group_by == ("big",)
    assert "big" in out.columns


def test_group_by_add_stacks(spark):
    t = data_frame(spark, **GDATA)
    out = t >> group_by(_.g) >> group_by(_.y, add=True)
    assert out.group_by == ("g", "y")


def test_ungroup(spark):
    t = data_frame(spark, **GDATA) >> group_by(_.g)
    assert (t >> ungroup()).group_by == ()


def test_summarize_grouped(spark):
    t = data_frame(spark, **GDATA)
    out = t >> group_by(_.g) >> summarize(m=_.x.mean(), cnt=n(_))
    assert_equal_query(out, pd.DataFrame(dict(
        g=["a", "b"], m=[2.0, 10.0], cnt=[2, 1])))


def test_summarize_ungrouped_single_row(spark):
    t = data_frame(spark, **GDATA)
    out = t >> summarize(total=_.x.sum())
    assert_equal_query(out, pd.DataFrame(dict(total=[14.0])))


def test_summarize_result_is_ungrouped(spark):
    t = data_frame(spark, **GDATA)
    out = t >> group_by(_.g) >> summarize(m=_.x.mean())
    assert out.group_by == ()


def test_summarize_compound_aggregates(spark):
    t = data_frame(spark, **GDATA)
    out = t >> group_by(_.g) >> summarize(span=_.x.max() - _.x.min())
    assert_equal_query(out, pd.DataFrame(dict(g=["a", "b"], span=[2.0, 0.0])))


def test_summarize_rejects_window_fn(spark):
    t = data_frame(spark, **GDATA)
    with pytest.raises(TranslationError):
        t >> group_by(_.g) >> summarize(bad=lag(_.x))


def test_summarize_n_distinct(spark):
    t = data_frame(spark, g=["a", "a", "a"], x=[1, 1, 2])
    out = t >> group_by(_.g) >> summarize(u=n_distinct(_.x))
    assert_equal_query(out, pd.DataFrame(dict(g=["a"], u=[2])))


def test_count(spark):
    t = data_frame(spark, **GDATA)
    out = t >> count(_.g)
    assert_equal_query(out, pd.DataFrame(dict(g=["a", "b"], n=[2, 1])))


def test_count_weighted(spark):
    t = data_frame(spark, **GDATA)
    out = t >> count(_.g, wt=_.y)
    assert_equal_query(out, pd.DataFrame(dict(g=["a", "b"], n=[6, 6])))


def test_count_name_collision_bumps(spark):
    t = data_frame(spark, n=["a", "a"])
    out = t >> count(_.n)
    assert sorted(out.columns) == ["n", "nn"]


def test_count_respects_existing_groups(spark):
    t = data_frame(spark, **GDATA)
    out = t >> group_by(_.g) >> count(_.y)
    assert sorted(out.columns) == ["g", "n", "y"]


def test_add_count_no_row_change(spark):
    t = data_frame(spark, **GDATA)
    out = t >> add_count(_.g)
    assert len(out.df.collect()) == 3
    got = out.df.toPandas().sort_values(["g", "x"])
    assert list(got.n) == [2, 2, 1]


def test_grouped_mutate_mixed_elwise_agg(spark):
    # the semantic core: _.x - _.x.mean() broadcasts the aggregate
    t = data_frame(spark, **GDATA)
    out = (t >> group_by(_.g) >> mutate(dev=_.x - _.x.mean()) >> ungroup())
    got = out.df.toPandas().sort_values(["g", "x"])
    assert list(got.dev) == [-1.0, 1.0, 0.0]


def test_across_summarize(spark):
    from siuba_spark import across, Fx
    t = data_frame(spark, g=["a", "a", "b"], x=[1.0, 3.0, 10.0], y=[2.0, 4.0, 6.0])
    out = (t >> group_by(_.g)
             >> summarize(across(["x", "y"], {"mn": Fx.min(), "mx": Fx.max()})))
    assert sorted(out.columns) == ["g", "x_mn", "x_mx", "y_mn", "y_mx"]
    got = out.df.toPandas().sort_values("g")
    assert got.x_mn.tolist() == [1.0, 10.0] and got.y_mx.tolist() == [4.0, 6.0]


def test_across_mutate_single_fn(spark):
    from siuba_spark import across, Fx, mutate
    t = data_frame(spark, x=[1.0], y=[2.0])
    out = t >> mutate(across(_.startswith("x"), Fx * 10))
    assert out.df.collect()[0].x == 10.0


def test_summarize_rollup_grand_total(spark):
    t = data_frame(spark, **GDATA)
    out = t >> group_by(_.g) >> summarize(total=_.x.sum(), _sets="rollup")
    rows = {(r.g, r.total) for r in out.df.collect()}
    grand = next(v for k, v in rows if k is None)
    assert grand == sum(v for k, v in rows if k is not None)


def test_summarize_cube_row_count(spark):
    t = data_frame(spark, **GDATA)
    out = t >> group_by(_.g, _.y) >> summarize(n_rows=n(_), _sets="cube")
    # observed (g,y) combos (3) + g margins (2) + y margins (3) + grand (1)
    assert out.df.count() == 3 + 2 + 3 + 1


def test_scale_utilities_roundtrip(spark):
    from siuba_spark import cache, coalesce_partitions, repartition
    t = data_frame(spark, **GDATA)
    t1 = repartition(t, 4, "g")
    assert t1.df.rdd.getNumPartitions() == 4
    t2 = coalesce_partitions(t1, 1)
    assert t2.df.rdd.getNumPartitions() == 1
    assert cache(t2).df.count() == t.df.count()


def test_sample_frac_deterministic_and_bounded(spark):
    from siuba_spark import sample_frac
    t = data_frame(spark, x=list(range(100)))
    a = sorted(r.x for r in sample_frac(t, 0.3, seed=7).df.collect())
    b = sorted(r.x for r in sample_frac(t, 0.3, seed=7).df.collect())
    assert a == b            # seeded determinism
    assert 5 <= len(a) <= 60  # Bernoulli ~30%


def test_sample_n_exact_per_group(spark):
    from siuba_spark import sample_n
    t = data_frame(spark, g=["a"] * 10 + ["b"] * 10, x=list(range(20)))
    out = sample_n(t >> group_by(_.g), 3)
    sizes = {r.g: r.n for r in (out >> ungroup() >> count(_.g)).df.collect()}
    assert sizes == {"a": 3, "b": 3}


def test_sample_frac_stratified(spark):
    from siuba_spark import sample_frac
    t = data_frame(spark, g=["a"] * 50 + ["b"] * 50, x=list(range(100)))
    out = sample_frac(t >> group_by(_.g), 0, seed=1, by={"a": 0.9, "b": 0.1})
    sizes = {r.g: r.n for r in (out >> ungroup() >> count(_.g)).df.collect()}
    assert sizes.get("a", 0) > sizes.get("b", 0)


def test_global_agg_and_empty_group_semantics(spark):
    # SQL semantics: global aggregate of an empty relation is one row of
    # NULLs (sum) / 0 (count) — matches duckdb, diverges from pandas sum=0
    import duckdb
    from siuba_spark import filter as s_filter
    t = data_frame(spark, x=[1.0, 2.0]) >> s_filter(_.x > 99)
    got = (t >> summarize(s=_.x.sum(), c=_.x.count(), m=_.x.mean())).df.collect()[0]
    want = duckdb.sql(
        "SELECT SUM(x) s, COUNT(x) c, AVG(x) m FROM (SELECT 1.0 x WHERE FALSE)"
    ).fetchall()[0]
    assert (got.s, got.c, got.m) == want == (None, 0, None)


def test_hash_split_deterministic_and_complete(spark):
    from siuba_spark import hash_split, tbl

    t = tbl(spark, "/root/testdata/sf0.001/documents.parquet")
    a = hash_split(t, _.doc_id).df.groupBy("split").count().collect()
    b = hash_split(t, _.doc_id).df.groupBy("split").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # content hash, no RNG
    counts = dict((r["split"], r["count"]) for r in a)
    assert set(counts) == {"train", "test"}
    total = sum(counts.values())
    assert counts["train"] / total > 0.7  # 0.8 nominal, hash variance
    # fractions must cover every row (0.8+0.2 == 1 -> no NULL split)
    from siuba_spark import filter as s_filter
    assert hash_split(t, _.doc_id).df.filter("split IS NULL").count() == 0


def test_hash_split_overallocation_raises(spark):
    import pytest as _pytest

    from siuba_spark import hash_split, tbl
    from siuba_spark.functions.lowering import TranslationError

    t = tbl(spark, "/root/testdata/sf0.001/documents.parquet")
    with _pytest.raises(TranslationError):
        hash_split(t, _.doc_id, splits={"a": 0.9, "b": 0.2})


def test_corr_matrix_matches_pandas(spark):
    import numpy as np
    import pandas as pd

    from siuba_spark import corr_matrix, tbl

    pdf = pd.DataFrame({"x": [1., 2, 3, 4, 5], "y": [2., 4, 6, 8, 11],
                        "z": [5., 3, 4, 1, 0]})
    t = tbl(spark.createDataFrame(pdf))
    out = corr_matrix(t).df.toPandas()  # auto-selects numeric columns
    want = pdf.corr()
    assert len(out) == 6  # upper triangle incl. diagonal of 3 cols
    for _i, r in out.iterrows():
        assert abs(r["corr"] - round(want.loc[r.col_a, r.col_b], 4)) < 1e-9


def test_describe_matches_pandas(spark):
    import pandas as pd

    from siuba_spark import describe, tbl

    pdf = pd.DataFrame({"x": [1., 2, 3, 4, 10], "y": [5., 5, 6, 7, 100]})
    t = tbl(spark.createDataFrame(pdf))
    out = describe(t).df.toPandas()
    want = pdf.describe()
    assert len(out) == 16
    for _i, r in out.iterrows():
        assert abs(r.value - round(want.loc[r.stat, r["column"]], 4)) < 1e-9


def test_group_apply_demean(spark):
    """applyInPandas escape hatch: pandas fn per group, declared schema."""
    import pytest

    from siuba_spark import _, group_apply, group_by
    from .helpers import data_frame

    t = data_frame(spark, g=["a", "a", "b"], x=[1.0, 3.0, 10.0])

    def demean(pdf):
        pdf["x"] = pdf["x"] - pdf["x"].mean()
        return pdf

    out = (t >> group_by(_.g) >> group_apply(demean, "g string, x double")) \
        .df.toPandas()
    got = sorted(zip(out.g, out.x))
    assert got == [("a", -1.0), ("a", 1.0), ("b", 0.0)]
    with pytest.raises(ValueError):
        t >> group_apply(demean, "g string, x double")  # ungrouped


def test_summarize_grouping_sets(spark):
    """Explicit _sets=[...] computes only the requested combinations."""
    import pytest

    from siuba_spark import TranslationError

    t = data_frame(spark, g=["a", "a", "b"], h=["x", "y", "y"],
                   v=[1, 2, 4])
    out = (t >> group_by(_.g, _.h)
           >> summarize(s=_.v.sum(), _sets=[["g", "h"], ["g"], []])
           ).df.toPandas()
    rows = {(r.g, r.h): r.s for r in out.itertuples()}
    assert rows[("a", "x")] == 1 and rows[("a", "y")] == 2
    assert rows[("a", None)] == 3 and rows[("b", None)] == 4
    assert rows[(None, None)] == 7
    assert len(rows) == 6  # 3 leaf + 2 per-g + 1 grand total
    with pytest.raises(TranslationError, match="not"):
        t >> group_by(_.g) >> summarize(s=_.v.sum(), _sets=[["nope"]])


def test_tally_and_add_tally(spark):
    """dplyr tally/add_tally (a reference TODO, siuba/dply/verbs.py:48):
    sizes over the CURRENT grouping only."""
    from siuba_spark import add_tally, tally

    t = data_frame(spark, g=["a", "a", "b"], w=[1, 2, 5])
    out = (t >> group_by(_.g) >> tally()).df.orderBy("g").collect()
    assert [(r.g, r.n) for r in out] == [("a", 2), ("b", 1)]
    wt = (t >> group_by(_.g) >> tally(wt=_.w, sort=True)).df.collect()
    assert [(r.g, r.n) for r in wt] == [("a", 3), ("b", 5)] or \
        [(r.g, r.n) for r in wt] == [("b", 5), ("a", 3)]
    assert wt[0].n == 5  # sort=True: heaviest first
    at = (t >> group_by(_.g) >> add_tally()).df.orderBy("g", "w").collect()
    assert [r.n for r in at] == [2, 2, 1]
    # add_count/add_tally(sort=True): heaviest group first at collect,
    # rows and grouping unchanged
    for out in (t >> add_count(_.g, wt=_.w, sort=True),
                t >> group_by(_.g) >> add_tally(wt=_.w, sort=True)):
        got = out >> collect()
        assert got.n.tolist() == [5, 3, 3]
        assert got.g.tolist()[0] == "b"
    sc = t >> group_by(_.g) >> add_tally(sort=True)
    assert sc.group_by == ("g",)
    assert (sc >> collect()).n.tolist() == [2, 2, 1]


def test_reframe_multi_quantile(spark):
    """dplyr 1.1 reframe: array-valued aggregates explode to multiple
    rows per group, scalar results repeat (operators/grouping.py)."""
    from siuba_spark import reframe
    t = data_frame(spark, g=["a", "a", "a", "a", "b", "b"],
                   x=[1.0, 2.0, 3.0, 4.0, 10.0, 20.0])
    out = (t >> group_by(_.g)
             >> reframe(p=_.x.quantile([0.25, 0.5, 0.75]), n=_.x.count())
             >> arrange(_.g, _.p) >> collect())
    assert out.p.tolist() == [1.75, 2.5, 3.25, 12.5, 15.0, 17.5]
    assert out.n.tolist() == [4, 4, 4, 2, 2, 2]
    # no arrays -> behaves exactly like summarize
    plain = (t >> group_by(_.g) >> reframe(m=_.x.mean())
               >> arrange(_.g) >> collect())
    assert plain.m.tolist() == [2.5, 15.0]


def test_summarize_clears_reassigned_factor_levels(spark):
    """ADVICE r6 item 4: an aggregate OUTPUT reusing a factor column's
    name must clear the stale ledger entry — a later arrange(_.f) sorts
    the aggregate by VALUE, not by the old level order."""
    from siuba_spark import (
        _, arrange, collect, fct_inorder, group_by, mutate, summarize, tbl,
    )
    t = tbl(spark.createDataFrame(
        [("g1", "z"), ("g1", "a"), ("g2", "m")], "g string, f string"))
    t2 = t >> mutate(f=fct_inorder(_.f))   # levels recorded: z, a, m
    assert "f" in t2.factors
    out = (t2 >> group_by(_.g) >> summarize(f=_.f.max()))
    assert "f" not in out.factors          # cleared on reassignment
    got = out >> arrange(_.f) >> collect()
    assert got.f.tolist() == ["m", "z"]    # plain value order


def test_count_name_clears_factor_entry(spark):
    from siuba_spark import _, count, fct_inorder, mutate, tbl
    t = tbl(spark.createDataFrame(
        [("x", "b"), ("x", "a")], "g string, f string"))
    t2 = t >> mutate(f=fct_inorder(_.f))
    out = t2 >> count(_.g, name="f")
    assert "f" not in out.factors


def test_add_count_join_method_matches_window(spark):
    """add_count(method='join'): the scale-safe lowering for content
    keys — identical rows/values to the window form (including NULL keys
    counting together via null-safe join equality), no Window node in
    the plan, weighted counts supported."""
    t = data_frame(spark, g=["a", "a", "b", None, None], x=[1, 2, 3, 4, 5])

    win = (t >> add_count(_.g)).df.orderBy("x").toPandas()
    jn = (t >> add_count(_.g, method="join")).df.orderBy("x").toPandas()
    pd.testing.assert_frame_equal(win, jn)
    assert jn.n.tolist() == [2, 2, 1, 2, 2]

    wv = (t >> add_count(_.g, wt=_.x)).df.orderBy("x").toPandas()
    jv = (t >> add_count(_.g, wt=_.x, method="join")).df.orderBy("x").toPandas()
    pd.testing.assert_frame_equal(wv, jv)

    plan = (t >> add_count(_.g, method="join")).df._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Window" not in plan

    # the join lowering keeps grouped state + column order like the
    # window form
    g = t >> group_by(_.g) >> add_count(method="join")
    assert g.group_by == ("g",)
    assert g.df.columns == ["g", "x", "n"]

    with pytest.raises(ValueError):
        t >> add_count(_.g, method="broadcast")


def test_mutate_agg_method_join_matches_window(spark):
    """r13: the mutate(_agg_method=) agg+join lowering is value- AND
    schema-identical to the AggOver window for order-free grouped
    aggregates, including NULL group keys and nunique."""
    import pandas as pd

    df = spark.createDataFrame(
        [("a", 1.0, 1), ("a", 3.0, 2), (None, 2.0, 2), (None, 6.0, 3),
         ("b", 5.0, 3)], "g string, x double, k int")
    t = tbl(df)

    def run(method):
        out = (t >> group_by(_.g)
               >> mutate(dev=(_.x - _.x.mean()).round(6),
                         sd=_.x.std(),
                         nun=_.k.nunique(),
                         cnt=n(_),
                         nd=n_distinct(_.k),
                         nd2=n_distinct(_.k, _.x),
                         _agg_method=method)
               >> ungroup())
        return out.df.orderBy("x").toPandas()

    win = run("window")
    for m in ("join", "broadcast"):
        pd.testing.assert_frame_equal(win, run(m))

    # plan: no Window node, a real join in its place; broadcast forces BHJ
    d = (t >> group_by(_.g)
         >> mutate(m_=_.x.mean(), _agg_method="broadcast")).df
    plan = d._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    # n() follows the knob too: one broadcast agg side, no full-table
    # window shuffle
    d = (t >> group_by(_.g)
         >> mutate(m=_.x.sum() / n(_), _agg_method="broadcast")).df
    plan = d._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan

    # a nondeterministic input is declined by the pool and stays on the
    # group window instead of becoming an ungrouped plain aggregate
    from pyspark.sql import functions as F
    r = (t >> group_by(_.g)
         >> mutate(nd=n_distinct(F.rand(7) < 2), _agg_method="join")).df
    assert "Window" in r._jdf.queryExecution().executedPlan().toString()
    assert r.toPandas().nd.tolist() == [1] * 5

    # ordered windows are unaffected by the knob; ungrouped mutate too
    r = (t >> group_by(_.g)
         >> mutate(rk=_.x.rank(), _agg_method="join") >> ungroup())
    assert sorted(r.df.select("rk").toPandas().rk) == [1, 1, 1, 2, 2]
    u = t >> mutate(m_=_.x.mean(), _agg_method="join")
    assert u.df.select("m_").distinct().count() == 1

    with pytest.raises(ValueError):
        t >> mutate(m_=_.x.mean(), _agg_method="nope")


def test_token_budget_sample_split_matches_single_window(spark):
    """r13: the split= two-level prefix scan keeps exactly the same docs
    as the single running-sum window (bucket ranges partition the md5
    accumulation order), NULL ids included."""
    from siuba_spark.corpus.quality import token_budget_sample

    docs = tbl(spark, "/root/testdata/sf0.01/documents.parquet")
    # every 7th id NULL: md5(NULL) is a NULL hash, so these rows sort
    # first in the single window and form the NULL bucket under split=
    null_ids = tbl(spark.createDataFrame(
        [(None if i % 7 == 0 else i, "s", " ".join(["w"] * (1 + i % 3)))
         for i in range(60)], "doc_id long, lang string, text string"))
    for t, budget in ((docs, 2000), (null_ids, 40)):
        def kept(**kw):
            return (token_budget_sample(t, "lang", budget=budget, **kw)
                    .df.select("doc_id").toPandas()
                    .sort_values("doc_id", na_position="first")
                    .reset_index(drop=True))
        base = kept()
        for nsplit in (2, 16, 64):
            pd.testing.assert_frame_equal(base, kept(split=nsplit))
    assert base.doc_id.isna().sum() == 9
