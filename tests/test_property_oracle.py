"""Property-based cross-engine tests (beyond the reference's strategy —
it has no randomized testing, SURVEY.md §5): hypothesis generates small
frames with nulls / ties / empty-ish groups, and grouped aggregation and
window pipelines must match DuckDB exactly.
"""

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from siuba_spark import SparkTbl, _, arrange, group_by, mutate, summarize

finite_x = st.one_of(
    st.none(),
    st.integers(-1000, 1000).map(lambda v: v / 8.0),  # exact in binary fp
)

rows_st = st.lists(
    st.tuples(st.sampled_from("abc"), finite_x, st.integers(0, 5)),
    min_size=1, max_size=25,
)


def _mk(spark, rows):
    data = [(i, g, x, float(y)) for i, (g, x, y) in enumerate(rows)]
    sdf = spark.createDataFrame(data, schema="i long, g string, x double, y double")
    pdf = pd.DataFrame(data, columns=["i", "g", "x", "y"])
    con = duckdb.connect()
    con.register("d", pdf)
    return SparkTbl(sdf), con


def _numeric(s):
    """``pd.to_numeric`` that returns a non-numeric column unchanged."""
    try:
        return pd.to_numeric(s)
    except (ValueError, TypeError):
        return s


def _eq(got, want, keys):
    got = got.sort_values(keys).reset_index(drop=True)
    want = want.sort_values(keys).reset_index(drop=True)
    assert list(got.columns.sort_values()) == list(want.columns.sort_values())
    assert len(got) == len(want)
    for c in want.columns:
        a = _numeric(got[c])
        b = _numeric(want[c])
        if getattr(a, "dtype", None) is not None and a.dtype.kind in "fc":
            a, b = a.round(7), pd.to_numeric(b).round(7)
            assert ((a.isna() & b.isna()) | (a == b)).all(), (c, list(a), list(b))
        else:
            assert all(
                x == y or (pd.isna(x) and pd.isna(y))
                for x, y in zip(a, b)
            ), (c, list(a), list(b))


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=rows_st)
def test_grouped_summarize_matches_duckdb(spark, rows):
    t, con = _mk(spark, rows)
    got = (
        summarize(group_by(t, _.g),
                  m=_.x.mean(), s=_.x.sum(), c=_.x.count(),
                  mx=_.x.max(), nu=_.y.nunique(), md=_.x.median())
    ).df.toPandas()
    want = con.execute(
        "SELECT g, avg(x) AS m, sum(x) AS s, count(x) AS c, max(x) AS mx, "
        "count(DISTINCT y) AS nu, median(x) AS md FROM d GROUP BY g"
    ).df()
    _eq(got, want, ["g"])


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=rows_st)
def test_grouped_window_matches_duckdb(spark, rows):
    t, con = _mk(spark, rows)
    got = (
        mutate(arrange(group_by(t, _.g), _.i),
               z=_.x - _.x.mean(), cs=_.x.cumsum(), lg=_.x.shift(1),
               share=_.y / _.y.sum())
    ).df.select("i", "z", "cs", "lg", "share").toPandas()
    want = con.execute(
        "SELECT i, x - avg(x) OVER (PARTITION BY g) AS z, "
        "sum(x) OVER (PARTITION BY g ORDER BY i ROWS UNBOUNDED PRECEDING) AS cs, "
        "lag(x, 1) OVER (PARTITION BY g ORDER BY i) AS lg, "
        "y / sum(y) OVER (PARTITION BY g) AS share FROM d"
    ).df()
    _eq(got, want, ["i"])


join_rows = st.lists(
    st.tuples(st.one_of(st.none(), st.integers(0, 4)), st.integers(0, 9)),
    min_size=0, max_size=12,
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(left=join_rows, right=join_rows)
def test_joins_match_duckdb(spark, left, right):
    """Equi-joins on a nullable key (SQL semantics: NULL keys never match)
    and shared non-key column suffixing, vs duckdb."""
    from siuba_spark import anti_join, inner_join, left_join, semi_join

    ldata = [(k, v, float(v) / 2) for k, v in left]
    rdata = [(k, v * 10) for k, v in right]
    lt = SparkTbl(spark.createDataFrame(ldata, "k int, v int, w double")
                  if ldata else spark.createDataFrame([], "k int, v int, w double"))
    rt = SparkTbl(spark.createDataFrame(rdata, "k int, v int")
                  if rdata else spark.createDataFrame([], "k int, v int"))
    con = duckdb.connect()
    con.register("l", pd.DataFrame(ldata, columns=["k", "v", "w"]))
    con.register("r", pd.DataFrame(rdata, columns=["k", "v"]))

    inner = inner_join(lt, rt, on="k").df.toPandas()
    want_inner = con.execute(
        "SELECT l.k, l.v AS v_x, l.w, r.v AS v_y FROM l JOIN r USING (k)").df()
    assert len(inner) == len(want_inner)
    assert sorted(inner.columns) == sorted(want_inner.columns)

    louter = left_join(lt, rt, on="k").df.toPandas()
    n_louter = con.execute(
        "SELECT COUNT(*) c FROM l LEFT JOIN r USING (k)").df()["c"][0]
    assert len(louter) == n_louter

    semi = semi_join(lt, rt, on="k").df.toPandas()
    n_semi = con.execute(
        "SELECT COUNT(*) c FROM l WHERE EXISTS "
        "(SELECT 1 FROM r WHERE r.k = l.k)").df()["c"][0]
    assert len(semi) == n_semi
    assert sorted(semi.columns) == ["k", "v", "w"]  # left cols only

    anti = anti_join(lt, rt, on="k").df.toPandas()
    n_anti = con.execute(
        "SELECT COUNT(*) c FROM l WHERE NOT EXISTS "
        "(SELECT 1 FROM r WHERE r.k = l.k)").df()["c"][0]
    assert len(anti) == n_anti


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(
    st.tuples(st.integers(-100, 100), st.integers(-100, 100)),
    min_size=1, max_size=10, unique=True))
def test_gather_spread_roundtrip(spark, rows):
    """spread(gather(df)) reproduces df for unique-id frames."""
    from siuba_spark import gather, spread, _
    data = [(i, float(a), float(b)) for i, (a, b) in enumerate(rows)]
    t = SparkTbl(spark.createDataFrame(data, "id long, p double, q double"))
    back = (t >> gather("k", "v", _.p, _.q) >> spread(_.k, _.v))
    got = back.df.toPandas().sort_values("id").reset_index(drop=True)
    want = pd.DataFrame(data, columns=["id", "p", "q"])
    assert got[["id", "p", "q"]].equals(want)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(
    st.tuples(st.integers(0, 2), st.sampled_from(["a", "a_b", "b", None]),
              st.sampled_from([True, False, None]),
              st.one_of(st.none(), st.integers(-9, 9)),
              st.one_of(st.none(), st.integers(-9, 9))),
    min_size=1, max_size=8),
    names=st.sampled_from([["k"], ["j"], ["k", "j"]]),
    values=st.sampled_from([["v"], ["v", "w"]]))
def test_one_widening_spec_and_spread_agree(spark, rows, names, values):
    """pivot_wider equals pivot_wider_spec(build_wider_spec(...)) in
    names, column order and rows — or both raise; and for one key, spread
    equals pivot_wider(values_fn="first") on (id, key, value).  NULL and
    boolean keys, one and two names_from/values_from, single rows."""
    from siuba_spark import (
        build_wider_spec, pivot_wider, pivot_wider_spec, spread)
    t = SparkTbl(spark.createDataFrame(
        rows, "id long, k string, j boolean, v long, w long"))

    def outcome(build):
        try:
            df = build().df
            return df.columns, sorted(map(tuple, df.collect()), key=str)
        except ValueError as e:
            return "raises", str(e)

    kw = dict(names_from=names, values_from=values)
    assert outcome(lambda: pivot_wider(t, **kw)) == outcome(
        lambda: pivot_wider_spec(t, build_wider_spec(t, **kw)))
    if len(names) == 1:
        # one value per (id, key), so "first" is order-free
        key = names[0]
        kept = {(r[0], r[1 if key == "k" else 2]): r[3] for r in rows}
        sub = SparkTbl(spark.createDataFrame(
            [(i, k, v) for (i, k), v in kept.items()],
            f"id long, {key} {'string' if key == 'k' else 'boolean'}, v long"))
        assert outcome(lambda: spread(sub, key, "v")) == outcome(
            lambda: pivot_wider(sub, names_from=key, values_from="v",
                                values_fn="first"))


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(
    st.tuples(st.integers(0, 5), st.integers(-1000, 1000)),
    min_size=1, max_size=20))
def test_salted_join_equals_plain_join(spark, rows):
    """salted_join is result-identical to join for any key distribution
    (including heavy skew, which the 0-5 key range forces)."""
    from siuba_spark import inner_join, salted_join
    data = [(k, float(v)) for k, v in rows]
    lt = SparkTbl(spark.createDataFrame(data, "k long, v double"))
    rt = SparkTbl(spark.createDataFrame(
        [(k, k * 10) for k in {k for k, _v in rows}], "k long, w long"))
    plain = sorted(map(tuple, inner_join(lt, rt, on="k").df.collect()))
    salted = sorted(map(tuple,
                        salted_join(lt, rt, on="k", salts=4).df.collect()))
    assert plain == salted


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(secs=st.lists(st.integers(0, 10_000_000), min_size=1, max_size=12),
       unit=st.sampled_from(["H", "D"]))
def test_dt_round_matches_pandas_property(spark, secs, unit):
    """dt.round agrees with pandas on arbitrary timestamps, ties included."""
    from siuba_spark import mutate, _
    ts = pd.Series(pd.to_datetime([s * 900 for s in secs], unit="s"))
    t = SparkTbl(spark.createDataFrame(pd.DataFrame({"i": range(len(ts)), "t": ts})))
    got = (t >> mutate(r=_.t.dt.round(unit))).df.toPandas() \
        .sort_values("i")["r"].tolist()
    want = ts.dt.round("h" if unit == "H" else "D").tolist()
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=st.lists(
    st.lists(st.sampled_from(["a", "bb", "ccc", "dd", "e"]),
             min_size=0, max_size=12),
    min_size=1, max_size=10))
def test_quality_signals_matches_graded_oracle_property(spark, docs):
    """quality_signals agrees with the EXACT graded-query DuckDB oracle on
    random corpora — repetition-heavy by construction (5-word alphabet),
    so most-frequent-2-gram tie-breaks get exercised hard."""
    import duckdb

    import __spark_entry__ as entry
    from siuba_spark.corpus.quality import quality_signals

    pdf = pd.DataFrame({"doc_id": range(len(docs)),
                        "text": [" ".join(d) for d in docs]})
    t = SparkTbl(spark.createDataFrame(pdf))
    got = (quality_signals(t).df
           .select("doc_id", "dup_word_frac", "dup_2gram_frac", "top_2gram",
                   "top_2gram_frac", "mean_word_len", "symbol_word_ratio")
           .toPandas())
    con = duckdb.connect()
    con.register("documents", pdf)
    want = con.execute(entry.SQL_QUALITY_SIGNALS).df()
    a = got.sort_values("doc_id").reset_index(drop=True)[sorted(got.columns)]
    b = want.sort_values("doc_id").reset_index(drop=True)[sorted(want.columns)]
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=st.lists(
    st.lists(st.sampled_from(["x", "yy", "z"]), min_size=0, max_size=8),
    min_size=1, max_size=8))
def test_unigram_logprob_matches_graded_oracle_property(spark, docs):
    import duckdb

    import __spark_entry__ as entry
    from pyspark.sql import functions as F
    from siuba_spark.corpus.quality import unigram_logprob

    pdf = pd.DataFrame({"doc_id": range(len(docs)),
                        "text": [" ".join(d) for d in docs]})
    t = SparkTbl(spark.createDataFrame(pdf))
    got = (unigram_logprob(t).df
           .select("doc_id", F.round("avg_logprob", 4).alias("avg_logprob"))
           .toPandas())
    con = duckdb.connect()
    con.register("documents", pdf)
    want = con.execute(entry.SQL_UNIGRAM_LOGPROB).df()
    a = got.sort_values("doc_id").reset_index(drop=True)
    b = want.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


# --- r10: ExactSubstr span dedup vs a pure-Python reference ---------------

docs_tokens_st = st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=10),
    min_size=1, max_size=8,
)


def _py_substring_dedup(texts, k):
    """Direct transcription of the verb's contract: first corpus
    occurrence of each k-gram wins (ordered by (id, pos)); every token
    covered by a later duplicate window is cut; empty docs vanish."""
    toks = {i: t.split(" ") if t else [""] for i, t in texts}
    seen = set()
    covered = {i: set() for i, _ in texts}
    for i in sorted(toks):
        ts = toks[i]
        for p in range(len(ts) - k + 1):
            g = tuple(ts[p:p + k])
            if g in seen:
                covered[i].update(range(p, p + k))
            else:
                seen.add(g)
    out = {}
    for i in sorted(toks):
        kept = [t for p, t in enumerate(toks[i]) if p not in covered[i]]
        if kept:
            out[i] = " ".join(kept)
    return out


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=docs_tokens_st)
def test_substring_dedup_matches_python_reference(spark, docs):
    from siuba_spark.corpus.dedup import substring_dedup

    texts = [(i, " ".join(ts)) for i, ts in enumerate(docs)]
    t = SparkTbl(spark.createDataFrame(texts, "doc_id long, text string"))
    got = substring_dedup(t, k=3).df.toPandas()
    got_map = dict(zip(got.doc_id, got.text))
    want = _py_substring_dedup(texts, 3)
    assert got_map == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=docs_tokens_st)
def test_substring_incremental_equals_scratch_property(spark, docs):
    from siuba_spark.corpus.dedup import (
        substring_dedup, substring_dedup_incremental)

    texts = [(i, " ".join(ts)) for i, ts in enumerate(docs)]
    mid = len(texts) // 2 or 1
    schema = "doc_id long, text string"
    a = SparkTbl(spark.createDataFrame(texts[:mid], schema))
    out_a, store = substring_dedup_incremental(a, k=3)
    frames = [out_a.df]
    if texts[mid:]:
        b = SparkTbl(spark.createDataFrame(texts[mid:], schema))
        out_b, _s = substring_dedup_incremental(b, store, k=3)
        frames.append(out_b.df)
    inc = frames[0] if len(frames) == 1 else frames[0].unionByName(frames[1])
    got = dict(zip(*(lambda p: (p.doc_id, p.text))(inc.toPandas())))
    t_all = SparkTbl(spark.createDataFrame(texts, schema))
    scratch = substring_dedup(t_all, k=3).df.toPandas()
    assert got == dict(zip(scratch.doc_id, scratch.text))


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=docs_tokens_st)
def test_dedup_segments_doc_matches_python_reference(spark, docs):
    from siuba_spark.corpus.quality import dedup_segments

    texts = [(i, " ".join(ts)) for i, ts in enumerate(docs)]
    t = SparkTbl(spark.createDataFrame(texts, "doc_id long, text string"))
    got = dedup_segments(t, sep=" ", scope="doc").df.toPandas()
    got_map = dict(zip(got.doc_id, got.text))
    want = {}
    for i, txt in texts:
        segs = [s for s in txt.split(" ") if s.strip()]
        kept = list(dict.fromkeys(segs))
        if kept:
            want[i] = " ".join(kept)
    assert got_map == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=docs_tokens_st)
def test_dedup_segments_doc_none_matches_python_reference(spark, docs):
    """doc-scope keep='none' (the windowed per-doc path) drops every
    within-doc repeat; cross-doc copies survive."""
    from siuba_spark.corpus.quality import dedup_segments

    texts = [(i, " ".join(ts)) for i, ts in enumerate(docs)]
    t = SparkTbl(spark.createDataFrame(texts, "doc_id long, text string"))
    got = dedup_segments(t, sep=" ", scope="doc", keep="none").df.toPandas()
    got_map = dict(zip(got.doc_id, got.text))
    want = {}
    for i, txt in texts:
        segs = [s for s in txt.split(" ") if s.strip()]
        kept = [s for s in segs if segs.count(s) == 1]
        if kept:
            want[i] = " ".join(kept)
    assert got_map == want


_BPE_WORD = st.one_of(
    st.text(alphabet="theandingwofrsxTHE", min_size=1, max_size=12),
    # longer than max_word_len=16: truncated before the merge loop
    st.text(alphabet="theandingwofrst", min_size=17, max_size=24),
    st.text(alphabet="0123456789.,!?'-\u00a0\t", min_size=1, max_size=3),
)
_BPE_TEXT = st.one_of(st.none(), st.just(""),
                      st.lists(_BPE_WORD, max_size=6).map(" ".join))


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=st.lists(
    st.tuples(st.one_of(st.none(), st.integers(0, 2)), _BPE_TEXT),
    min_size=1, max_size=10),
    budget=st.integers(1, 30))
def test_bpe_entry_points_match_reference_row_by_row(spark, docs, budget):
    """bpe_token_count, bpe_encode and bpe_tokens_col (in a select and
    as token_budget_sample's tokenizer) equal the classic-BPE reference
    row by row: duplicate and NULL ids, NULL and empty text, digits,
    punctuation, NBSP and words past max_word_len."""
    import hashlib

    from pyspark.sql import functions as F

    from siuba_spark.corpus.bpe import (
        DEFAULT_MERGES, bpe_encode, bpe_token_count, bpe_tokens_col)
    from siuba_spark.corpus.quality import token_budget_sample

    from .test_bpe import _ref_bpe_text

    rows = [(i, d, i % 2, txt) for i, (d, txt) in enumerate(docs)]
    t = SparkTbl(spark.createDataFrame(
        rows, "i long, doc_id long, g long, text string"))
    want = [_ref_bpe_text(txt or "", DEFAULT_MERGES) for *_r, txt in rows]
    n_want = [len(w) for w in want]

    def by_row(df, c):
        return [r[c] for r in df.orderBy("i").collect()]

    assert by_row(bpe_token_count(t).df, "n_bpe_tokens") == n_want
    assert [list(x) for x in by_row(bpe_encode(t).df, "bpe_tokens")] \
        == want
    assert by_row(t.df.select("i", bpe_tokens_col(F.col("text"))
                              .alias("n")), "n") == n_want

    # the sampler keeps a row while its stratum's running token total
    # (md5(i) order) before it is under budget
    kept, run = set(), {}
    for i, _d, g, _txt in sorted(
            rows, key=lambda r: (hashlib.md5(str(r[0]).encode())
                                 .hexdigest(), r[0])):
        if run.get(g, 0) < budget:
            kept.add(i)
        run[g] = run.get(g, 0) + n_want[i]
    got = token_budget_sample(t, "g", budget=budget, id_col="i",
                              tokenizer=bpe_tokens_col).df
    assert set(by_row(got, "i")) == kept


_AGG_X = st.one_of(st.none(), st.just(float("nan")),
                   st.integers(-50, 50).map(lambda v: v / 4.0))
_HOT = [("h", float(i % 7), i % 3) for i in range(45)] + [
    (k, 1.0, 0) for k in "abcde"]          # one key holds 90% of rows


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(
    st.tuples(st.sampled_from(["a", "b", None]), _AGG_X,
              st.one_of(st.none(), st.integers(0, 2))),
    max_size=12))
@example(rows=[])                          # empty frame
@example(rows=[(None, float("nan"), None)])  # one row, NULL key, NaN
@example(rows=_HOT)                        # hot key
def test_mutate_agg_methods_agree(spark, rows):
    """mutate(_agg_method="window"|"join"|"broadcast") give the same
    rows for a method aggregate, n() and n_distinct() on NULL-key, NaN,
    empty, single-row and hot-key frames (NULL and NaN told apart)."""
    from siuba_spark import n, n_distinct

    t = group_by(SparkTbl(spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)],
        "i long, g string, x double, k long")), _.g)

    def norm(v):
        return "NULL" if v is None else "NaN" if v != v else v

    def run(method):
        out = mutate(t, m=_.x.mean(), s=_.x.sum(), mx=_.x.max(),
                     cnt=n(_), nd=n_distinct(_.k), _agg_method=method)
        return [tuple(map(norm, r)) for r in
                out.df.select("i", "m", "s", "mx", "cnt", "nd")
                .orderBy("i").collect()]

    win = run("window")
    assert len(win) == len(rows)
    assert run("join") == win
    assert run("broadcast") == win


_RANK_X = st.one_of(st.none(), st.just(float("nan")),
                    st.integers(-3, 3).map(float))      # narrow: many ties
_HOT_RANK = [("h", float(i % 5)) for i in range(40)] + [
    ("h", None), ("h", float("nan")), ("a", 2.0), (None, 1.0)]


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(st.tuples(st.sampled_from(["a", "b", None]), _RANK_X),
                     max_size=14))
@example(rows=[])                                   # empty frame
@example(rows=[("a", 1.0)])                         # single row
@example(rows=[(None, float("nan")), (None, None)])  # NULL key, NaN, NULL
@example(rows=[("a", 2.0)] * 4 + [("a", None)])     # one tie, one NULL
@example(rows=_HOT_RANK)                            # hot key
def test_rank_family_matches_pandas(spark, rows):
    """The rank functions and pandas ``.rank()`` (all methods but the
    order-dependent "first") equal pandas per group.  NULL is unranked
    and left out of every denominator; Spark orders NaN above every
    number with NaN == NaN, so the pandas side reads NaN as +inf."""
    from siuba_spark import cume_dist, dense_rank, min_rank, percent_rank

    data = [(i, g, x) for i, (g, x) in enumerate(rows)]
    t = group_by(SparkTbl(spark.createDataFrame(
        data, "i long, g string, x double")), _.g)
    cols = dict(
        mr=min_rank(_.x), dr=dense_rank(_.x), pr=percent_rank(_.x),
        cd=cume_dist(_.x), mrd=min_rank(-_.x), prd=percent_rank(-_.x),
        cdd=cume_dist(-_.x),
        ra=_.x.rank(), rmin=_.x.rank(method="min"),
        rmax=_.x.rank(method="max"), rd=_.x.rank(method="dense"),
        rad=_.x.rank(ascending=False), rmaxd=_.x.rank(method="max",
                                                     ascending=False),
        rpa=_.x.rank(pct=True), rpmax=_.x.rank(method="max", pct=True),
        rpd=_.x.rank(method="dense", pct=True))
    got = (mutate(t, **cols).df.select("i", *cols).toPandas())

    x = pd.Series([float("inf") if v is not None and v != v else v
                   for _g, v in rows], dtype="float64")
    pdf = pd.DataFrame({"i": range(len(rows)), "x": x,
                        "g": pd.Series([g for g, _v in rows], dtype=object)})
    grp = pdf.groupby("g", dropna=False)["x"]

    def rk(**kw):
        return grp.rank(**kw) if len(pdf) else pd.Series([], dtype="float64")

    n = grp.transform("count") if len(pdf) else pd.Series([], dtype="float64")

    def pct_rank(r):
        return ((r - 1) / (n - 1)).where(n > 1, 0.0).where(x.notna())

    want = pd.DataFrame({
        "i": pdf["i"],
        "mr": rk(method="min"), "dr": rk(method="dense"),
        "pr": pct_rank(rk(method="min")),
        "cd": rk(method="max") / n,
        "mrd": rk(method="min", ascending=False),
        "prd": pct_rank(rk(method="min", ascending=False)),
        "cdd": rk(method="max", ascending=False) / n,
        "ra": rk(), "rmin": rk(method="min"), "rmax": rk(method="max"),
        "rd": rk(method="dense"), "rad": rk(ascending=False),
        "rmaxd": rk(method="max", ascending=False),
        "rpa": rk(pct=True), "rpmax": rk(method="max", pct=True),
        "rpd": rk(method="dense", pct=True),
    })
    _eq(got, want, ["i"])


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(
    st.tuples(st.sampled_from(["a", "b", None]),
              st.one_of(st.none(), st.integers(-20, 20).map(float)),
              st.one_of(st.none(), st.integers(0, 3))),
    max_size=14),
    median=st.booleans(), grouped=st.booleans())
@example(rows=[], median=False, grouped=True)
@example(rows=[], median=True, grouped=False)
@example(rows=[(None, None, None)], median=True, grouped=True)
@example(rows=_HOT, median=False, grouped=True)
def test_mixed_distinct_summarize_matches_pandas(spark, rows, median,
                                                 grouped):
    """Mixed distinct/plain summarize equals pandas on NULL keys and NULL
    values, both as one aggregate and (with a median, whose sort buffer
    keeps the distinct half apart) as the split + join-back."""
    from siuba_spark import n, n_distinct

    data = [(i, g, x, k) for i, (g, x, k) in enumerate(rows)]
    t = SparkTbl(spark.createDataFrame(data, "i long, g string, x double, k long"))
    aggs = dict(nd=n_distinct(_.k), nu=_.x.nunique(), mx=_.x.max(),
                s=_.x.sum(), c=_.x.count(), rows=n(_))
    if median:
        aggs["md"] = _.x.median()
    got = summarize(group_by(t, _.g) if grouped else t, **aggs).df.toPandas()

    pdf = pd.DataFrame(data, columns=["i", "g", "x", "k"]).astype(
        {"g": object, "x": "float64", "k": "float64"})

    def one(d):
        out = {"nd": d["k"].nunique(), "nu": d["x"].nunique(),
               "mx": d["x"].max(), "s": d["x"].sum(min_count=1),
               "c": d["x"].count(), "rows": len(d)}
        if median:
            out["md"] = d["x"].median()
        return out

    if grouped:
        want = pd.DataFrame(
            [{"g": g, **one(d)} for g, d in pdf.groupby("g", dropna=False)],
            columns=["g", *aggs])
        _eq(got, want, ["g"])
    else:
        want = pd.DataFrame([one(pdf)], columns=list(aggs))
        _eq(got, want, list(aggs)[:1])
