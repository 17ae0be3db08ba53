"""Reshape verb tests (reference model: siuba/tests/test_tidy_*.py):
gather/spread roundtrip, separate/unite/extract, nest/unnest,
expand/complete, pivots, bind_rows."""

import pandas as pd

from siuba_spark import (
    _, gather, spread, separate, unite, extract, nest, unnest, expand,
    complete, pivot_longer, pivot_wider, bind_rows, arrange, select, tbl,
    mutate,
)
from .helpers import data_frame, assert_equal_query


def test_gather(spark):
    t = data_frame(spark, id=[1, 2], x=[10, 20], y=[30, 40])
    out = t >> gather("key", "value", _.x, _.y)
    assert_equal_query(out, pd.DataFrame(dict(
        id=[1, 2, 1, 2], key=["x", "x", "y", "y"], value=[10, 20, 30, 40])))


def test_gather_drop_na(spark):
    t = data_frame(spark, id=[1], x=[10.0], y=[None])
    out = t >> gather("k", "v", _.x, _.y, drop_na=True)
    assert len(out.df.collect()) == 1


def test_spread_roundtrip(spark):
    t = data_frame(spark, id=[1, 1, 2, 2], k=["x", "y", "x", "y"],
                   v=[1, 2, 3, 4])
    out = t >> spread(_.k, _.v)
    assert_equal_query(out, pd.DataFrame(dict(id=[1, 2], x=[1, 3], y=[2, 4])))


def test_spread_fill(spark):
    t = data_frame(spark, id=[1, 2], k=["x", "y"], v=[1, 2])
    out = t >> spread(_.k, _.v, fill=0)
    assert_equal_query(out, pd.DataFrame(dict(id=[1, 2], x=[1, 0], y=[0, 2])))


def test_separate(spark):
    t = data_frame(spark, s=["a-1", "b-2"])
    out = t >> separate(_.s, into=["ch", "num"], sep="-")
    assert_equal_query(out, pd.DataFrame(dict(ch=["a", "b"], num=["1", "2"])))


def test_separate_convert(spark):
    t = data_frame(spark, s=["a-1"])
    out = t >> separate(_.s, into=["ch", "num"], sep="-", convert=True)
    row = out.df.collect()[0]
    assert row.num == 1


def test_unite(spark):
    t = data_frame(spark, a=["x"], b=[1], c=[True])
    out = t >> unite("u", _.a, _.b, sep="_")
    assert out.df.collect()[0].u == "x_1"
    assert "a" not in out.columns and "b" not in out.columns


def test_extract(spark):
    t = data_frame(spark, s=["ab12", "cd34"])
    out = t >> extract(_.s, into=["letters", "digits"],
                       regex=r"([a-z]+)(\d+)")
    assert_equal_query(out, pd.DataFrame(dict(
        letters=["ab", "cd"], digits=["12", "34"])))


def test_nest_unnest_roundtrip(spark):
    t = data_frame(spark, g=["a", "a", "b"], x=[1, 2, 3], y=[4, 5, 6])
    nested = t >> nest(_.x, _.y, key="data")
    assert sorted(nested.columns) == ["data", "g"]
    assert len(nested.df.collect()) == 2
    back = nested >> unnest("data")
    assert_equal_query(back, pd.DataFrame(dict(
        g=["a", "a", "b"], x=[1, 2, 3], y=[4, 5, 6])))


def test_expand(spark):
    t = data_frame(spark, a=[1, 1, 2], b=["x", "y", "x"])
    out = t >> expand(_.a, _.b)
    assert len(out.df.collect()) == 4


def test_complete_fills(spark):
    t = data_frame(spark, a=[1, 2], b=["x", "y"], v=[10, 20])
    out = t >> complete(_.a, _.b, fill={"v": 0})
    got = out.df.toPandas().sort_values(["a", "b"]).reset_index(drop=True)
    assert len(got) == 4
    assert got.v.tolist() == [10, 0, 0, 20]


def test_pivot_longer(spark):
    t = data_frame(spark, id=[1], x=[10], y=[20])
    out = t >> pivot_longer(_.x, _.y, names_to="name", values_to="value")
    assert_equal_query(out, pd.DataFrame(dict(
        id=[1, 1], name=["x", "y"], value=[10, 20])))


def test_pivot_longer_names_sep(spark):
    t = data_frame(spark, id=[1], wk_1=[10], wk_2=[20])
    out = t >> pivot_longer(_.startswith("wk"), names_to=("prefix", "week"),
                            names_sep="_")
    got = out.df.toPandas().sort_values("week")
    assert list(got.week) == ["1", "2"] and list(got.value) == [10, 20]


def test_pivot_longer_dot_value(spark):
    t = data_frame(spark, id=[1], x_mean=[1.0], x_sd=[0.1],
                   y_mean=[2.0], y_sd=[0.2])
    out = t >> pivot_longer(_.contains("_"), names_to=("var", ".value"),
                            names_sep="_")
    got = out.df.toPandas().sort_values("var").reset_index(drop=True)
    assert list(got.columns) == ["id", "var", "mean", "sd"]
    assert got["mean"].tolist() == [1.0, 2.0]


def test_pivot_wider(spark):
    t = data_frame(spark, id=[1, 1, 2, 2], name=["x", "y", "x", "y"],
                   value=[1, 2, 3, 4])
    out = t >> pivot_wider(names_from=_.name, values_from=_.value)
    assert_equal_query(out, pd.DataFrame(dict(id=[1, 2], x=[1, 3], y=[2, 4])))


def test_pivot_wider_values_fn_fill(spark):
    t = data_frame(spark, id=[1, 1, 2], name=["x", "x", "y"], value=[1, 5, 2])
    out = t >> pivot_wider(names_from=_.name, values_from=_.value,
                           values_fn="sum", values_fill=-1)
    got = out.df.toPandas().sort_values("id").reset_index(drop=True)
    assert got.x.tolist() == [6, -1] and got.y.tolist() == [-1, 2]


def test_bind_rows(spark):
    a = data_frame(spark, x=[1], y=["a"])
    b = data_frame(spark, x=[2], z=[True])
    out = a >> bind_rows(b)
    got = out.df.toPandas().sort_values("x")
    assert sorted(got.columns) == ["x", "y", "z"]
    assert len(got) == 2


def test_separate_convert_is_column_level(spark):
    # pandas to_numeric(errors="ignore"): a column converts only when every
    # value parses — mixed columns stay strings, never become NULLs
    t = data_frame(spark, s=["x-1", "y-2"])
    out = separate(t, _.s, into=["k", "v"], sep="-", convert=True)
    assert dict(out.df.dtypes) == {"k": "string", "v": "double"}
    assert sorted(map(tuple, out.df.collect())) == [("x", 1.0), ("y", 2.0)]


def test_complete_explicit_false_fills_only_new_rows(spark):
    # pre-existing NULL (a,1) survives; the completion-created (b,1) row
    # gets the fill (reference indicator semantics, verbs.py:2254-2277)
    t = data_frame(spark, g=["a", "b"], k=[1, 2], v=[None, 5.0])
    out = complete(t, _.g, _.k, fill={"v": 0.0}, explicit=False)
    got = {(r.g, r.k): r.v for r in out.df.collect()}
    assert got[("a", 1)] is None          # pre-existing NULL kept
    assert got[("b", 1)] == 0.0           # new row filled
    assert got[("a", 2)] == 0.0           # new row filled
    assert got[("b", 2)] == 5.0


def test_complete_explicit_true_fills_everything(spark):
    t = data_frame(spark, g=["a", "b"], k=[1, 2], v=[None, 5.0])
    out = complete(t, _.g, _.k, fill={"v": 0.0})
    got = {(r.g, r.k): r.v for r in out.df.collect()}
    assert got[("a", 1)] == 0.0


def test_separate_extra_merge_keeps_remainder(spark):
    t = data_frame(spark, s=["a-b-c-d", "x-y"])
    out = separate(t, _.s, into=["p", "q"], sep="-", extra="merge")
    got = sorted(map(tuple, out.df.select("p", "q").collect()))
    assert got == [("a", "b-c-d"), ("x", "y")]


def test_gather_convert_numeric_strings(spark):
    t = data_frame(spark, id=[1], a=["1.5"], b=["2"])
    out = gather(t, "k", "v", _.a, _.b, convert=True)
    assert dict(out.df.dtypes)["v"] == "double"
    assert sorted(r.v for r in out.df.collect()) == [1.5, 2.0]


def _n_cached(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_spread_unpersists_after_collect(spark):
    from siuba_spark import collect
    before = _n_cached(spark)
    t = data_frame(spark, id=[1, 1, 2], k=["x", "y", "x"], v=[1, 2, 3])
    pdf = t >> spread(_.k, _.v) >> collect()
    assert len(pdf) == 2
    assert _n_cached(spark) == before, "spread leaked a persisted RDD"


def test_pivot_wider_unpersists_after_collect(spark):
    from siuba_spark import collect
    before = _n_cached(spark)
    t = data_frame(spark, id=[1, 2], k=["x", "y"], v=[1, 2])
    pdf = t >> pivot_wider(names_from=_.k, values_from=_.v) >> collect()
    assert len(pdf) == 2
    assert _n_cached(spark) == before, "pivot_wider leaked a persisted RDD"


def test_minhash_near_dups_unpersists_after_collect(spark):
    from siuba_spark import collect
    from siuba_spark.corpus.dedup import minhash_near_dups
    before = _n_cached(spark)
    t = data_frame(spark, doc_id=[1, 2, 3],
                   text=["the cat sat on the mat today",
                         "the cat sat on the mat today",
                         "completely different words here entirely"])
    pdf = t >> minhash_near_dups(k=3, num_hashes=16, bands=4, rows=4) >> collect()
    assert len(pdf) >= 1
    assert _n_cached(spark) == before, "minhash_near_dups leaked a persisted RDD"


# -- spec-level pivot API ---------------------------------------------------

def test_build_longer_spec_frame(spark):
    from siuba_spark import build_longer_spec
    t = data_frame(spark, id=[1], x_1=[1.0], x_2=[2.0], y_1=[3.0], y_2=[4.0])
    spec = build_longer_spec(t, _.x_1, _.x_2, _.y_1, _.y_2,
                             names_to=(".value", "g"), names_sep="_")
    assert list(spec.columns) == [".name", ".value", "g"]
    assert spec[".name"].tolist() == ["x_1", "x_2", "y_1", "y_2"]
    assert spec[".value"].tolist() == ["x", "x", "y", "y"]
    assert spec["g"].tolist() == ["1", "2", "1", "2"]


def test_pivot_longer_spec_roundtrips_with_pivot_longer(spark):
    from siuba_spark import build_longer_spec, pivot_longer_spec
    t = data_frame(spark, id=[1, 2], wk1=[10, 20], wk2=[30, 40])
    direct = (t >> pivot_longer(_.wk1, _.wk2, names_to="week",
                                names_prefix="wk", values_to="v")).df.toPandas()
    spec = build_longer_spec(t, _.wk1, _.wk2, names_to="week",
                             names_prefix="wk", values_to="v")
    via_spec = (t >> pivot_longer_spec(spec)).df.toPandas()
    key = ["id", "week"]
    pd.testing.assert_frame_equal(
        direct.sort_values(key).reset_index(drop=True),
        via_spec.sort_values(key).reset_index(drop=True))


def test_pivot_longer_spec_user_edited(spark):
    """The point of the spec API: edit the frame, get edited semantics."""
    from siuba_spark import build_longer_spec, pivot_longer_spec
    t = data_frame(spark, id=[1], a=[10], b=[20])
    spec = build_longer_spec(t, _.a, _.b, names_to="k", values_to="v")
    spec.loc[spec["k"] == "a", "k"] = "alpha"   # relabel a level
    got = (t >> pivot_longer_spec(spec)).df.toPandas()
    assert sorted(got["k"]) == ["alpha", "b"]


def test_build_wider_spec_and_pivot_wider_spec(spark):
    from siuba_spark import build_wider_spec, pivot_wider_spec
    t = data_frame(spark, id=[1, 1, 2], k=["x", "y", "x"], v=[1, 2, 3])
    spec = build_wider_spec(t, names_from="k", values_from="v")
    assert spec[".name"].tolist() == ["x", "y"]
    out = (t >> pivot_wider_spec(spec)).df.toPandas()
    assert sorted(out.columns) == ["id", "x", "y"]
    # user-edited spec: keep only key x, rename the output column
    edited = spec[spec["k"] == "x"].assign(**{".name": ["only_x"]})
    out2 = (t >> pivot_wider_spec(edited)).df.toPandas()
    assert sorted(out2.columns) == ["id", "only_x"]
    assert sorted(out2["only_x"]) == [1, 3]

    def rows(df):
        return sorted(map(tuple, df.toPandas().astype(object)
                          .where(lambda d: d.notna(), None).values.tolist()),
                      key=str)

    # a NULL key and boolean keys: the spec names and pivots them exactly
    # as pivot_wider does (Spark's names null/true/false, typed keys)
    nk = data_frame(spark, id=[1, 1, 2], k=["a", None, "b"], v=[10, 11, 12])
    bk = data_frame(spark, id=[1, 1, 2], k=[True, False, True], v=[1, 2, 3])
    two = data_frame(spark, id=[1, 1, 2], k=["a", None, "b"],
                     j=[True, True, False], v=[10, 11, 12])
    vw = data_frame(spark, id=[1, 1, 2], k=["a", None, "a"], v=[1, 2, 3],
                    w=[4, 5, 6])
    # several names_from order by the joined key, not the part tuple
    ab = data_frame(spark, id=[1, 1, 2], k=["a", "a", "a_b"],
                    j=["x", "y", "x"], v=[1, 2, 3])
    # a names_from with declared levels orders by level, as pivot_wider does
    fk = data_frame(spark, id=[1, 1, 1], k=["lo", "hi", "mid"],
                    v=[1.0, 2.0, 3.0]) >> mutate(
        k=_.k.cat.set_categories(["mid", "hi", "lo"]))
    for src, names, values, want in [
            (nk, "k", "v", ["a", "b", "null"]),
            (bk, "k", "v", ["false", "true"]),
            (two, ["k", "j"], "v", ["a_true", "b_false", "true"]),
            (vw, "k", ["v", "w"], ["v_a", "v_null", "w_a", "w_null"]),
            (ab, ["k", "j"], "v", ["a_b_x", "a_x", "a_y"]),
            (fk, "k", "v", ["mid", "hi", "lo"])]:
        spec = build_wider_spec(src, names_from=names, values_from=values)
        assert spec[".name"].tolist() == want
        got = (src >> pivot_wider_spec(spec)).df
        ref = (src >> pivot_wider(names_from=names, values_from=values)).df
        assert got.columns == ref.columns == ["id"] + want
        assert rows(got) == rows(ref)
    got = (nk >> pivot_wider_spec(build_wider_spec(nk, "k", "v"))).df
    assert {r.id: r["null"] for r in got.collect()} == {1: 11, 2: None}


def test_pivot_wider_spec_raises_on_merged_cells(spark):
    """Two cells whose joined keys coincide — (NULL, "x") and ("x", NULL)
    both join to "x" — would silently share one pivot column: the spec
    path raises like pivot_wider instead of returning duplicate columns."""
    import pytest
    from siuba_spark import build_wider_spec, pivot_wider_spec
    t = data_frame(spark, id=[1, 1, 2], k=[None, "x", "a"],
                   j=["x", None, "b"], v=[1, 2, 3])
    kw = dict(names_from=["k", "j"], values_from="v")
    with pytest.raises(ValueError, match="not unique"):
        pivot_wider(t, values_fn="sum", **kw)
    spec = build_wider_spec(t, **kw)
    assert spec[".name"].tolist() == ["a_b", "x", "x"]
    with pytest.raises(ValueError, match="not unique"):
        pivot_wider_spec(t, spec, values_fn="sum")
    # names_glue names the two cells apart ('null.x' / 'x.null'), but they
    # still read one pivot slot: the check is on the slot, not the name
    glue = dict(kw, names_glue="{variable}.{value}")
    with pytest.raises(ValueError, match="not unique"):
        pivot_wider(t, values_fn="sum", **glue)
    spec = build_wider_spec(t, **glue)
    with pytest.raises(ValueError, match="not unique"):
        pivot_wider_spec(t, spec, values_fn="sum")


def test_pivot_wider_names_expand_keeps_null_level(spark):
    """names_expand keys its grid like the data (concat_ws skips a NULL
    part, so (NULL, "x") is the column "x") and builds it from the one
    spec scan: no more jobs than the plain several-key call."""
    import uuid

    import pytest

    def mk():
        return data_frame(spark, id=[1, 1, 2], k=[None, "a", "b"],
                          j=["x", "x", "y"], v=[11, 10, 12])

    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")  # one action, one job

    def build(**kw):
        group = f"pw-expand-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "pivot_wider spec scan")
        try:
            out = pivot_wider(mk(), names_from=["k", "j"], values_from="v", **kw)
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    try:
        plain, plain_jobs = build()
        grid, grid_jobs = build(names_expand=True)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert plain.df.columns == ["id", "a_x", "b_y", "x"]
    assert grid.df.columns == ["id", "a_x", "a_y", "b_x", "b_y", "x", "y"]
    got = {r.id: r.asDict() for r in grid.df.collect()}
    assert got[1] == {"id": 1, "a_x": 10, "a_y": None, "b_x": None,
                      "b_y": None, "x": 11, "y": None}
    assert got[2]["b_y"] == 12
    assert grid_jobs <= plain_jobs, (grid_jobs, plain_jobs)
    # crossing two parts' NULL levels gives absent combinations whose
    # keys are taken — ("x", NULL) joins to "x" like the data's
    # (NULL, "x") — and they are left out, so the grid raises no more
    # than the plain call does
    t = data_frame(spark, id=[1, 2, 3], k=[None, "x", "a"],
                   j=["x", "x", None], v=[1, 2, 3])
    kw = dict(names_from=["k", "j"], values_from="v")
    plain = pivot_wider(t, **kw).df
    grid = pivot_wider(t, names_expand=True, **kw).df
    assert plain.columns == ["id", "a", "x", "x_x"]
    assert grid.columns == ["id", "a_x", "a", "x_x", "x", ""]
    assert sorted(map(tuple, grid.select(*plain.columns).collect())) == \
        sorted(map(tuple, plain.collect())) == [
            (1, None, 1, None), (2, None, None, 2), (3, 3, None, None)]
    t = data_frame(spark, id=[1, 2], k=[None, "x"], j=["x", None], v=[1, 2])
    with pytest.raises(ValueError, match="not unique"):
        pivot_wider(t, **kw)


def test_pivot_wider_keys_render_like_spark(spark):
    """Double and fractional-second timestamp keys render like Spark's
    string cast ('1.0E-4', '00:00:00.5'): a several-names_from cell finds
    its values under the concat_ws key, and a single-key column is named
    as Spark names it.  32-bit float and NaN/Infinity parts, which Python
    renders otherwise, are keyed by the data's own concat_ws."""
    t = data_frame(spark, id=[1, 2], k=["a", "a"], d=[0.0001, 2.5],
                   v=[10, 20])
    out = (t >> pivot_wider(names_from=["k", "d"], values_from="v")).df
    assert out.columns == ["id", "a_1.0E-4", "a_2.5"]
    assert sorted(map(tuple, out.collect())) == [(1, 10, None), (2, None, 20)]
    one = (t >> pivot_wider(names_from="d", values_from="v")).df
    assert one.columns == ["id", "k", "1.0E-4", "2.5"]
    assert sorted(map(tuple, one.collect())) == [(1, "a", 10, None),
                                                 (2, "a", None, 20)]
    ts = tbl(spark.sql(
        "SELECT 1L id, 'a' k, TIMESTAMP_NTZ'2020-01-01 00:00:00.5' t, 10L v "
        "UNION ALL SELECT 2L, 'a', TIMESTAMP_NTZ'2020-01-01 00:00:01', 20L"))
    out = (ts >> pivot_wider(names_from=["k", "t"], values_from="v")).df
    assert out.columns == ["id", "a_2020-01-01 00:00:00.5",
                           "a_2020-01-01 00:00:01"]
    assert sorted(map(tuple, out.collect())) == [(1, 10, None), (2, None, 20)]
    fl = tbl(spark.sql(
        "SELECT 1L id, 'a' k, CAST(0.1 AS FLOAT) f, double('NaN') d, 10L v "
        "UNION ALL SELECT 2L, 'a', CAST(2.5 AS FLOAT), double('Infinity'), 20L "
        "UNION ALL SELECT 3L, 'a', CAST(2.5 AS FLOAT), double('-Infinity'), 30L"))
    out = (fl >> pivot_wider(id_cols="id", names_from=["k", "f"],
                             values_from="v")).df
    assert out.columns == ["id", "a_0.1", "a_2.5"]
    assert sorted(map(tuple, out.collect())) == [
        (1, 10, None), (2, None, 20), (3, None, 30)]
    out = (fl >> pivot_wider(id_cols="id", names_from=["k", "d"],
                             values_from="v")).df
    assert out.columns == ["id", "a_-Infinity", "a_Infinity", "a_NaN"]
    assert sorted(map(tuple, out.collect())) == [
        (1, None, None, 10), (2, None, 20, None), (3, 30, None, None)]


def test_widening_floating_keys_reach_their_slots(spark):
    """A single double names_from pivots on its string cast, so a NaN
    value reaches its column in pivot_wider, spread, crosstab and
    one_hot; and a spec row's 32-bit float part keys as the data's
    concat_ws writes it ('0.1', not the widened 0.10000000149011612)."""
    from siuba_spark import (
        build_wider_spec, crosstab, one_hot, pivot_wider_spec)
    t = tbl(spark.sql(
        "SELECT 1L id, double('NaN') d, 10L v "
        "UNION ALL SELECT 2L, double('Infinity'), 20L"))
    want = [(1, None, 10), (2, 20, None)]
    for out in (pivot_wider(t, names_from="d", values_from="v").df,
                spread(t, "d", "v").df,
                crosstab(t, "id", "d", values="v", aggfunc="sum",
                         fill=None).df):
        assert out.columns == ["id", "Infinity", "NaN"]
        assert sorted(map(tuple, out.collect())) == want
    oh = one_hot(t, "d").df
    assert oh.columns == ["id", "v", "d_Infinity", "d_NaN"]
    assert sorted(map(tuple, oh.collect())) == [(1, 10, 0, 1), (2, 20, 1, 0)]

    fl = tbl(spark.sql("SELECT 1L id, 'a' k, CAST(0.1 AS FLOAT) f, 10L v"))
    for names in (["k", "f"], ["f"]):
        spec = build_wider_spec(fl, names_from=names, values_from="v")
        out = pivot_wider_spec(fl, spec, id_cols="id").df
        assert out.collect() == [(1, 10)], names


def test_pivot_longer_names_transform(spark):
    t = data_frame(spark, id=[1], wk1=[10], wk2=[20])
    out = (t >> pivot_longer(_.wk1, _.wk2, names_to="week",
                             names_prefix="wk",
                             names_transform={"week": int})).df
    assert dict(out.dtypes)["week"] in ("int", "bigint")
    assert sorted((r.week, r.value) for r in out.collect()) == [(1, 10), (2, 20)]


def test_pivot_longer_values_transform(spark):
    t = data_frame(spark, id=[1], a=[1.9], b=[2.9])
    out = (t >> pivot_longer(_.a, _.b, names_to="k", values_to="v",
                             values_transform={"v": "bigint"})).df
    assert dict(out.dtypes)["v"] == "bigint"
    out2 = (t >> pivot_longer(_.a, _.b, names_to="k", values_to="v",
                              values_transform={"v": lambda c: c * 10})).df
    assert sorted(r.v for r in out2.collect()) == [19.0, 29.0]


def test_pivot_longer_names_repair(spark):
    import pytest as _pt
    t = data_frame(spark, k=["z"], a=[1], b=[2])  # id col collides with names_to
    with _pt.raises(ValueError, match="duplicate"):
        (t >> pivot_longer(_.a, _.b, names_to="k")).df.columns
    out = (t >> pivot_longer(_.a, _.b, names_to="k",
                             names_repair="unique")).df
    assert sorted(out.columns) == ["k___0", "k___1", "value"]


def test_pivot_wider_names_vary(spark):
    t = data_frame(spark, id=[1, 2], var=["one", "one"], x=[1, 3], y=[6, 8])
    fast = (t >> pivot_wider(names_from=_.var, values_from=["x", "y"])).df
    assert fast.columns == ["id", "x_one", "y_one"]
    t2 = data_frame(spark, id=[1, 1], var=["one", "two"], x=[1, 2], y=[6, 7])
    fast2 = (t2 >> pivot_wider(names_from=_.var, values_from=["x", "y"])).df
    assert fast2.columns == ["id", "x_one", "x_two", "y_one", "y_two"]
    slow = (t2 >> pivot_wider(names_from=_.var, values_from=["x", "y"],
                              names_vary="slowest")).df
    assert slow.columns == ["id", "x_one", "y_one", "x_two", "y_two"]


def test_pivot_wider_names_expand(spark):
    t = data_frame(spark, id=[1, 2], a=["p", "q"], b=["u", "v"], v=[1, 2])
    out = (t >> pivot_wider(names_from=["a", "b"], values_from=_.v,
                            names_expand=True)).df
    # 2x2 grid even though only p_u and q_v combos exist in the data
    assert sorted(c for c in out.columns if c != "id") == \
        ["p_u", "p_v", "q_u", "q_v"]


def test_pivot_wider_id_expand(spark):
    t = data_frame(spark, g=["a", "b"], h=[1, 2], k=["x", "x"], v=[10, 20])
    out = (t >> pivot_wider(id_cols=["g", "h"], names_from=_.k,
                            values_from=_.v, id_expand=True,
                            values_fill=0)).df.toPandas()
    assert len(out) == 4  # a/b x 1/2 grid
    assert out.set_index(["g", "h"]).loc[("a", 2), "x"] == 0


def test_pivot_longer_dot_value_drop_na(spark):
    """values_drop_na in the .value path drops rows where ALL value
    columns are NULL (reference pivot_long.py:320-322)."""
    t = data_frame(spark, id=[1, 2],
                   x_1=[1.0, None], y_1=[None, None],
                   x_2=[3.0, 4.0], y_2=[5.0, 6.0])
    out = (t >> pivot_longer(_.x_1, _.x_2, _.y_1, _.y_2,
                             names_to=(".value", "set"), names_sep="_",
                             values_drop_na=True)).df.toPandas()
    # id=2/set=1 row has x AND y null -> dropped; id=1/set=1 keeps (x=1, y=NULL)
    assert len(out) == 3
    assert ((out["id"] == 2) & (out["set"] == "1")).sum() == 0


def test_extract_flags_ignorecase(spark):
    import re
    t = data_frame(spark, s=["ABC1", "xyz2"])
    out = (t >> extract(_.s, into=["word"], regex=r"([a-z]+)",
                        flags=re.IGNORECASE)).df
    assert sorted(r.word for r in out.collect()) == ["ABC", "xyz"]


def test_pivot_wider_dotted_and_null_keys(spark):
    """Numeric names_from values ('1.5' → dotted column name) and NULL keys
    (Spark names the pivot column 'null') must survive the final select."""
    from siuba_spark import pivot_wider
    t = data_frame(spark, id=[1, 1, 2], k=[1.5, None, 1.5], v=[10, 20, 30])
    out = (t >> pivot_wider(names_from=_.k, values_from=_.v)).df.toPandas()
    cols = sorted(out.columns)
    assert "1.5" in cols and "null" in cols
    got = out.sort_values("id").reset_index(drop=True)
    assert got.loc[0, "1.5"] == 10 and got.loc[0, "null"] == 20
    assert got.loc[1, "1.5"] == 30 and pd.isna(got.loc[1, "null"])


def test_spread_dotted_keys(spark):
    from siuba_spark import spread
    t = data_frame(spark, id=[1, 1], k=["a.b", "c"], v=[10, 20])
    out = (t >> spread(_.k, _.v)).df.toPandas()
    assert sorted(c for c in out.columns if c != "id") == ["a.b", "c"]


def test_entry_path_releases_pins(spark):
    """Queries consumed via the harness path (raw .df, no collect) must not
    leak persisted intermediates: the entry wrappers drain the pin ledger
    before each query, and release_all_pins() drains the tail."""
    import __spark_entry__ as entry
    from siuba_spark import release_all_pins

    release_all_pins()
    base = spark.sparkContext._jsc.getPersistentRDDs().size()
    qs = entry.queries()
    for name in ("spread_wide", "pivot_wider", "minhash_near_dups"):
        qs[name](spark, "/root/testdata/sf0.001").write.format(
            "noop").mode("overwrite").save()
    release_all_pins()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == base


def test_separate_ragged_rows_fill_null(spark):
    """Rows with fewer pieces than into NULL-fill (F.get, not getItem —
    getItem raises INVALID_ARRAY_INDEX under ANSI mode)."""
    t = data_frame(spark, s=["a-b", "c"])
    out = (t >> separate(_.s, into=["p", "q"], sep="-")).df.toPandas()
    assert out.p.tolist() == ["a", "c"]
    assert out.q.tolist() == ["b", None]


def test_separate_warn_counts_on_convert_probe(spark):
    """extra='warn' / fill='warn' emit aggregate-counted warnings when the
    convert probe already scans (reference warns per-row,
    verbs.py:2284-2398 — count-only is the documented approximation)."""
    import warnings

    t = data_frame(spark, s=["1-2-3", "4-5", "6"])
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = (t >> separate(_.s, into=["a", "b"], sep="-", convert=True)
               ).df.toPandas()
    msgs = [str(wi.message) for wi in w]
    assert any("1 row(s) had more pieces" in m for m in msgs), msgs
    assert any("1 row(s) had fewer pieces" in m for m in msgs), msgs
    assert out.a.tolist() == [1, 4, 6]


def test_separate_fill_left(spark):
    """fill='left' shifts short rows right so NULLs lead (tidyr fill
    semantics)."""
    t = data_frame(spark, x=["a-b-c", "d-e", "f"])
    out = (t >> separate(_.x, into=["p", "q", "r"], sep="-", fill="left")
           ).df.toPandas()
    assert out.p.tolist() == ["a", None, None]
    assert out.q.tolist() == ["b", "d", None]
    assert out.r.tolist() == ["c", "e", "f"]


def test_one_hot_matches_get_dummies(spark):
    from siuba_spark import one_hot

    pdf = pd.DataFrame({"id": [1, 2, 3, 4], "c": ["a", "b", None, "a"]})
    t = data_frame(spark, id=[1, 2, 3, 4], c=["a", "b", None, "a"])
    got = (t >> one_hot(_.c)).df.toPandas().sort_values("id").reset_index(drop=True)
    want = pd.get_dummies(pdf, columns=["c"], dtype=int)
    assert list(got.columns) == list(want.columns)
    assert got.c_a.tolist() == want.c_a.tolist()
    assert got.c_b.tolist() == want.c_b.tolist()
    # drop_first drops the first level, keep source with remove=False
    got2 = (t >> one_hot(_.c, drop_first=True, remove=False)).df.toPandas()
    assert "c" in got2.columns and "c_a" not in got2.columns and "c_b" in got2.columns


def test_crosstab_matches_pandas(spark):
    from siuba_spark import crosstab

    pdf = pd.DataFrame({"a": ["x", "x", "y", "y", "y"],
                        "b": ["p", "q", "p", "p", "q"],
                        "v": [1.0, 2, 3, 4, 5]})
    t = data_frame(spark, a=pdf.a.tolist(), b=pdf.b.tolist(), v=pdf.v.tolist())
    got = (t >> crosstab(_.a, _.b)).df.toPandas() \
        .sort_values("a").reset_index(drop=True)
    want = pd.crosstab(pdf.a, pdf.b)
    assert got.p.tolist() == want.p.tolist()
    assert got.q.tolist() == want.q.tolist()
    got2 = (t >> crosstab(_.a, _.b, values=_.v, aggfunc="sum")) \
        .df.toPandas().sort_values("a")
    want2 = pd.crosstab(pdf.a, pdf.b, values=pdf.v, aggfunc="sum").fillna(0)
    assert got2.p.tolist() == want2.p.tolist()
    assert got2.q.tolist() == want2.q.tolist()


def test_separate_rows_keeps_null_rows(spark):
    """tidyr::separate_rows keeps a row whose split column is NA (one
    output row with a NULL piece) — explode would silently drop it."""
    from siuba_spark.operators.reshape import separate_rows

    t = data_frame(spark, id=[1, 2], v=["a-b", None])
    out = (t >> separate_rows(_.v, sep="-")).df.orderBy("id", "v").collect()
    assert [(r.id, r.v) for r in out] == [(1, "a"), (1, "b"), (2, None)]

    # multi-column lockstep: a NULL column contributes one NULL piece
    t2 = data_frame(spark, id=[1], a=["x-y"], b=[None])
    out2 = (t2 >> separate_rows(_.a, _.b, sep="-")).df.orderBy("a").collect()
    assert [(r.a, r.b) for r in out2] == [("x", None), ("y", None)]


def test_symbolic_pipe_stage_raises(spark):
    """tbl >> _.foo is a typo'd pipe stage (Symbolic, not a verb): it must
    raise Symbolic.__rrshift__'s TypeError, not silently return a
    Symbolic."""
    import pytest

    t = data_frame(spark, x=[1])
    with pytest.raises(TypeError, match="bare symbolic"):
        t >> _.x


def test_fill_directions(spark):
    """tidyr fill: carry non-NULLs through NULLs per direction, within
    grouping + ordering."""
    from siuba_spark import fill, group_by, ungroup

    t = data_frame(
        spark,
        g=["a", "a", "a", "b", "b"],
        i=[1, 2, 3, 1, 2],
        v=[10.0, None, 30.0, None, 5.0])
    down = (t >> group_by(_.g) >> arrange(_.i) >> fill(_.v) >> ungroup()
            ).df.orderBy("g", "i").collect()
    assert [r.v for r in down] == [10.0, 10.0, 30.0, None, 5.0]
    up = (t >> group_by(_.g) >> arrange(_.i) >> fill(_.v, direction="up")
          >> ungroup()).df.orderBy("g", "i").collect()
    assert [r.v for r in up] == [10.0, 30.0, 30.0, 5.0, 5.0]
    downup = (t >> group_by(_.g) >> arrange(_.i)
              >> fill(_.v, direction="downup") >> ungroup()
              ).df.orderBy("g", "i").collect()
    assert [r.v for r in downup] == [10.0, 10.0, 30.0, 5.0, 5.0]


def test_drop_na_replace_na(spark):
    from siuba_spark import drop_na, replace_na

    t = data_frame(spark, a=[1.0, None, 3.0], b=["x", "y", None])
    assert (t >> drop_na()).df.count() == 1
    assert (t >> drop_na(_.a)).df.count() == 2
    rep = (t >> replace_na({"a": 0.0, "b": "?"})).df.orderBy("a").collect()
    assert [r.a for r in rep] == [0.0, 1.0, 3.0]
    assert sorted(r.b for r in rep) == ["?", "x", "y"]


def test_pull_and_glimpse(spark, capsys):
    from siuba_spark import glimpse, pull

    t = data_frame(spark, g=["a", "b"], x=[1, 2])
    s = t >> pull(_.x)
    assert sorted(s.tolist()) == [1, 2]
    assert sorted((t >> pull()).tolist()) == [1, 2]  # default: last column
    back = t >> glimpse()
    out = capsys.readouterr().out
    assert "$ g" in out and "bigint" in out
    assert back.df.count() == 2  # pipeable passthrough


# -- tidyr 1.x rectangling: unnest_longer / unnest_wider / hoist -------------
# (beyond the reference — siuba stops at nest/unnest)

def test_unnest_longer_array(spark):
    from siuba_spark import unnest_longer
    t = tbl(spark.createDataFrame(
        [(1, ["a", "b"]), (2, []), (3, None), (4, ["c"])],
        "id long, xs array<string>"))
    out = unnest_longer(t, "xs").df.toPandas()
    assert sorted(zip(out.id, out["xs"])) == [(1, "a"), (1, "b"), (4, "c")]
    kept = unnest_longer(t, "xs", keep_empty=True).df.toPandas()
    assert sorted(kept.id.tolist()) == [1, 1, 2, 3, 4]
    idx = unnest_longer(t, "xs", indices_to="pos").df.toPandas()
    assert sorted(zip(idx.id, idx.pos)) == [(1, 0), (1, 1), (4, 0)]
    val = unnest_longer(t, "xs", values_to="tok").df
    assert "tok" in val.columns and "xs" not in val.columns


def test_unnest_longer_map(spark):
    from pyspark.sql import functions as F

    from siuba_spark import unnest_longer
    t = tbl(spark.createDataFrame([(1,)], "id long").select(
        "id", F.create_map(F.lit("a"), F.lit(10),
                           F.lit("b"), F.lit(20)).alias("m")))
    out = unnest_longer(t, "m", values_to="v").df.toPandas()
    assert sorted(zip(out.m_id, out.v)) == [("a", 10), ("b", 20)]
    ren = unnest_longer(t, "m", values_to="v", indices_to="k").df
    assert set(ren.columns) == {"id", "k", "v"}


def test_unnest_wider_struct_and_map(spark):
    from pyspark.sql import functions as F

    from siuba_spark import unnest_wider
    t = tbl(spark.createDataFrame([(1, 2.0, "x")],
                                  "id long, a double, b string")
            .select("id", F.struct("a", "b").alias("s")))
    out = unnest_wider(t, "s").df.toPandas()
    assert set(out.columns) == {"id", "a", "b"}
    assert out.a[0] == 2.0 and out.b[0] == "x"
    pre = unnest_wider(t, "s", names_sep="_").df
    assert set(pre.columns) == {"id", "s_a", "s_b"}
    # map: bounded distinct-key probe; missing keys -> NULL
    m = tbl(spark.createDataFrame([(1,), (2,)], "id long").select(
        "id",
        F.when(F.col("id") == 1,
               F.create_map(F.lit("x"), F.lit(1.0)))
        .otherwise(F.create_map(F.lit("y"), F.lit(2.0))).alias("m")))
    wide = unnest_wider(m, "m").df.toPandas().sort_values("id")
    assert set(wide.columns) == {"id", "x", "y"}
    assert wide.x.tolist()[0] == 1.0 and pd.isna(wide.x.tolist()[1])


def test_hoist_paths(spark):
    from pyspark.sql import functions as F

    from siuba_spark import hoist
    t = tbl(spark.createDataFrame([(1, 2.0, ["u", "v"])],
                                  "id long, a double, xs array<string>")
            .select("id", F.struct("a", "xs").alias("s")))
    out = hoist(t, "s", first_x=["xs", 1], aa="a").df.toPandas()
    assert out.first_x[0] == "u"        # tidyr paths are 1-based
    assert out.aa[0] == 2.0
    assert "s" in out.columns           # the nest stays in place


def test_uncount_edges(spark):
    """tidyr uncount: zero weights drop rows, remove=False keeps the
    weight column, expression weights never remove a column, id is
    1-based, NULL weights raise (tidyr errors on missing weights), and
    an id colliding with a kept column raises at the verb."""
    from siuba_spark import _, collect, tbl, uncount
    t = tbl(spark.createDataFrame(
        [("a", 2), ("b", 0)], "g string, n long"))
    out = t >> uncount(_.n) >> collect()
    assert out.g.tolist() == ["a", "a"]
    assert list(out.columns) == ["g"]            # weights column removed
    kept = t >> uncount(_.n, remove=False, id="i") >> collect()
    assert list(kept.columns) == ["g", "n", "i"]
    assert sorted(zip(kept.g, kept.i)) == [("a", 1), ("a", 2)]
    expr = t >> uncount(_.n + 1) >> collect()    # expression: nothing removed
    assert list(expr.columns) == ["g", "n"]
    assert sorted(expr.g.tolist()) == ["a", "a", "a", "b"]


def test_uncount_null_weight_and_id_collision_raise(spark):
    """NULL weights raise at runtime (parity with tidyr's missing-weight
    error — ADVICE r9); id= colliding with a kept column raises a
    TranslationError at the verb instead of emitting duplicate columns."""
    import pytest
    from siuba_spark import _, collect, tbl, uncount
    from siuba_spark.functions.lowering import TranslationError
    t = tbl(spark.createDataFrame(
        [("a", 2), ("c", None)], "g string, n long"))
    with pytest.raises(Exception, match="whole non-negative"):
        t >> uncount(_.n) >> collect()
    ok = tbl(spark.createDataFrame([("a", 2)], "g string, n long"))
    with pytest.raises(TranslationError, match="collides"):
        ok >> uncount(_.n, id="g")
    # remove=False keeps the weight column, so its name collides too
    with pytest.raises(TranslationError, match="collides"):
        ok >> uncount(_.n, remove=False, id="n")


def test_case_match_null_and_grouped(spark):
    """case_match: NULL never matches an isin key (dplyr semantics — use
    _default for the catch-all); works inside grouped pipelines."""
    from siuba_spark import _, collect, group_by, mutate, tbl
    from siuba_spark.functions.vector import case_match
    t = tbl(spark.createDataFrame(
        [("x", 4), ("x", None), ("y", 8)], "g string, cyl long"))
    out = (t >> group_by(_.g)
           >> mutate(band=case_match(_.cyl, {4: "s", 8: "b"},
                                     _default="?")) >> collect())
    assert sorted(zip(out.g, out.band)) == [("x", "?"), ("x", "s"),
                                            ("y", "b")]


def test_pack_unpack_roundtrip_and_struct_access(spark):
    """tidyr pack/unpack: zero-job struct projections; round-trip
    restores the flat schema, names_sep prefixes on unpack."""
    from siuba_spark import _, collect, pack, tbl, unpack
    t = tbl(spark.createDataFrame(
        [(1, "en", "s1"), (2, "de", "s2")],
        "id long, lang string, src string"))
    p = t >> pack(meta=(_.lang, _.src))
    assert p.df.columns == ["id", "meta"]
    assert p.df.schema["meta"].dataType.typeName() == "struct"
    rt = p >> unpack(_.meta) >> collect()
    assert list(rt.columns) == ["id", "lang", "src"]
    assert sorted(zip(rt.id, rt.lang)) == [(1, "en"), (2, "de")]
    pre = (p >> unpack(_.meta, names_sep="_")).df.columns
    assert pre == ["id", "meta_lang", "meta_src"]
