"""Plan-shape assertions: the engine must not defeat Catalyst.

These tests read `explain()` output rather than results — at 100 TB the
plan IS the behavior: filters must reach the parquet scan, dimension
joins must broadcast, and bucketed tables must join without an Exchange.
"""

import pytest
from pyspark.sql import functions as F

from siuba_spark import (
    _, filter, group_by, inner_join, mutate, select, summarize, tbl,
    write_parquet,
)

SF = "/root/testdata/sf0.001"


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushes_down_to_scan(spark):
    t = (tbl(spark, f"{SF}/lineitem.parquet")
         >> filter(_.l_quantity < 10)
         >> select(_.l_orderkey, _.l_quantity))
    explained = t.df._jdf.queryExecution().toString()
    assert "PushedFilters" in explained
    assert "LessThan(l_quantity,10" in explained
    # column pruning: only the two selected columns are read
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in explained


def test_dim_join_broadcasts(spark):
    fact = tbl(spark, f"{SF}/lineitem.parquet")
    dim = tbl(spark, f"{SF}/part.parquet")
    out = inner_join(fact, dim, on={"l_partkey": "p_partkey"}, hint="broadcast")
    assert "BroadcastHashJoin" in _plan(out.df)


def test_grouped_mutate_is_single_window_no_join(spark):
    t = (tbl(spark, f"{SF}/lineitem.parquet")
         >> group_by(_.l_returnflag)
         >> mutate(z=_.l_quantity - _.l_quantity.mean()))
    plan = _plan(t.df)
    # agg broadcast back to rows = one Window, never a self-join
    assert "Window" in plan
    assert "Join" not in plan


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """write_parquet(bucket_by=...) → co-located join, no shuffle on
    either side (the repeated-same-key-join pattern at scale)."""
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    orders = tbl(spark, f"{SF}/orders.parquet")
    customer = tbl(spark, f"{SF}/customer.parquet")
    write_parquet(orders, str(tmp_path / "b_orders"), bucket_by=["o_custkey"],
                  n_buckets=8, table_name="b_orders")
    write_parquet(customer, str(tmp_path / "b_customer"), bucket_by=["c_custkey"],
                  n_buckets=8, table_name="b_customer")
    joined = inner_join(
        tbl(spark, "b_orders"),
        tbl(spark, "b_customer").df.withColumnRenamed("c_custkey", "o_custkey"),
        on="o_custkey",
    )
    # force a non-broadcast join so bucketing is what saves the shuffle
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    aqe_prev = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        plan = _plan(joined.df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan


def test_summarize_partial_agg_single_shuffle(spark):
    """groupBy().agg() must do map-side partial aggregation with exactly
    one hash-partitioning shuffle (SURVEY §2.4)."""
    t = (tbl(spark, f"{SF}/lineitem.parquet")
         >> group_by(_.l_returnflag)
         >> summarize(s=_.l_quantity.sum(), m=_.l_extendedprice.mean()))
    plan = _plan(t.df)
    assert plan.count("HashAggregate") == 2, plan  # partial + final
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_same_window_spec_shares_one_exchange(spark):
    """lead/lag/cumsum over the same partition+order must reuse ONE
    shuffle — Spark merges identical window specs."""
    from siuba_spark import arrange, lag, lead, ungroup
    t = (tbl(spark, f"{SF}/lineitem.parquet")
         >> group_by(_.l_orderkey)
         >> arrange(_.l_linenumber)
         >> mutate(nxt=lead(_.l_quantity), prv=lag(_.l_quantity),
                   run=_.l_quantity.cumsum())
         >> ungroup())
    plan = _plan(t.df)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_grouped_filter_is_window_not_join(spark):
    """Aggregate condition in filter() lowers to a window + WHERE on the
    computed column — never a join back to an aggregate subquery."""
    t = (tbl(spark, f"{SF}/lineitem.parquet")
         >> group_by(_.l_returnflag)
         >> filter(_.l_quantity > _.l_quantity.mean()))
    plan = _plan(t.df)
    assert "Window" in plan
    assert "Join" not in plan


def test_semi_join_stays_semi(spark):
    """semi_join lowers to a LeftSemi join node (no row duplication, no
    distinct-after-inner-join)."""
    from siuba_spark import semi_join
    orders = tbl(spark, f"{SF}/orders.parquet")
    cust = tbl(spark, f"{SF}/customer.parquet")
    out = semi_join(orders, cust, on={"o_custkey": "c_custkey"})
    plan = _plan(out.df)
    assert "LeftSemi" in plan, plan
    assert "Distinct" not in plan


def test_mixed_distinct_agg_splits_no_expand(spark):
    """summarize mixing nunique with percentile must NOT plan an Expand or
    carry percentile buffers at (group x partkey) granularity — the engine
    splits into two aggregations joined on the keys."""
    t = (tbl(spark, f"{SF}/lineitem.parquet")
         >> group_by(_.l_returnflag)
         >> summarize(q=_.l_quantity.quantile(0.5), u=_.l_partkey.nunique()))
    plan = _plan(t.df)
    assert "Expand" not in plan, plan
    assert "percentile" in plan  # sanity: the agg is in this plan
    # percentile side must aggregate on the group key alone, never
    # (key, distinct-col): no aggregate node keyed by l_partkey may carry
    # a percentile function
    for line in plan.splitlines():
        if "percentile" in line and "keys=[" in line:
            keys_part = line.split("keys=[", 1)[1].split("]", 1)[0]
            assert "l_partkey" not in keys_part, line


def _scans(plan):
    return plan.count("FileScan parquet")


def test_mixed_distinct_summarize_is_one_aggregate(spark):
    """summarize mixing n_distinct with max/sum (no object-buffer
    aggregate) is ONE aggregate — Spark plans the distinct part inside
    it — over a single scan per source, with no join-back."""
    from siuba_spark import n_distinct
    li = tbl(spark, f"{SF}/lineitem.parquet")
    one = (li >> group_by(_.l_orderkey)
           >> summarize(n_supp=n_distinct(_.l_suppkey),
                        mx=_.l_suppkey.max(), s=_.l_quantity.sum()))
    plan = _plan(one.df)
    assert _scans(plan) == 1, plan
    assert "Join" not in plan, plan
    joined = (li >> inner_join(tbl(spark, f"{SF}/orders.parquet"),
                               on={"l_orderkey": "o_orderkey"})
              >> group_by(_.l_orderkey)
              >> summarize(n_supp=n_distinct(_.l_suppkey),
                           mx=_.l_suppkey.max()))
    plan = _plan(joined.df)
    assert _scans(plan) == 2, plan
    assert plan.count("Join ") == 1, plan


def test_rank_family_shares_one_window(spark):
    """min_rank, dense_rank, percent_rank, cume_dist and pandas .rank()
    over one order add exactly one Exchange (and one Window)."""
    from siuba_spark import cume_dist, dense_rank, min_rank, percent_rank
    t = (tbl(spark, f"{SF}/orders.parquet")
         >> group_by(_.o_orderpriority)
         >> mutate(mr=min_rank(_.o_totalprice),
                   dr=dense_rank(_.o_totalprice),
                   pr=percent_rank(_.o_totalprice),
                   cd=cume_dist(_.o_totalprice),
                   ra=_.o_totalprice.rank(),
                   rx=_.o_totalprice.rank(method="max", pct=True)))
    plan = _plan(t.df)
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Window [") == 1, plan


def _jobs_during(spark, fn):
    """Run fn under a dedicated job group; return how many Spark jobs it
    launched (eager-probe accounting)."""
    import time

    sc = spark.sparkContext
    group = f"__probe_count_{id(fn)}"
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    # AQE turns each query stage into its own job; disable so that
    # one action == one job and the count below means "number of actions"
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # quiesce: async jobs still finishing from earlier tests (broadcast
    # builds, speculative stages) otherwise race the per-group counter
    deadline = time.monotonic() + 10
    while sc.statusTracker().getActiveJobsIds() and time.monotonic() < deadline:
        time.sleep(0.05)
    sc.setJobGroup(group, "probe accounting")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_separate_convert_probe_is_one_job(spark):
    from siuba_spark import separate
    t = tbl(spark.createDataFrame([("1-2",), ("3-4",)], "s string"))
    n = _jobs_during(spark, lambda: separate(t, _.s, into=["a", "b"],
                                             sep="-", convert=True))
    assert n == 1, f"separate(convert=True) ran {n} jobs, expected exactly 1"


def test_extract_convert_probe_is_one_job(spark):
    from siuba_spark import extract
    t = tbl(spark.createDataFrame([("x1",), ("y2",)], "s string"))
    n = _jobs_during(spark, lambda: extract(t, _.s, into=["ch", "num"],
                                            regex=r"(\w)(\d)", convert=True))
    assert n == 1, f"extract(convert=True) ran {n} jobs, expected exactly 1"


def test_convert_dtype_string_is_fully_lazy(spark):
    from siuba_spark import extract, gather, separate
    t = tbl(spark.createDataFrame([("1-2", 1.0, 2.0)], "s string, x double, y double"))
    n = _jobs_during(spark, lambda: (
        separate(t, _.s, into=["a", "b"], sep="-", convert="bigint"),
        extract(t, _.s, into=["a2"], regex=r"(\d)", convert="double"),
        gather(t, "k", "v", _.x, _.y, convert="double"),
    ))
    assert n == 0, f"convert='<dtype>' should be lazy but ran {n} jobs"


def test_lsh_topk_with_dim_is_lazy(spark):
    from siuba_spark.corpus.similarity import add_hyperplane_bucket
    t = tbl(spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])],
                                  "vec_id long, embedding array<double>"))
    n = _jobs_during(spark, lambda: add_hyperplane_bucket(t, dim=2))
    assert n == 0, f"add_hyperplane_bucket(dim=...) should be lazy, ran {n} jobs"


def test_fct_arrange_single_window_exchange(spark):
    """fct_infreq inside arrange compiles to one window (hash exchange on
    the value) + the global sort — no join, no extra shuffles."""
    from siuba_spark import arrange, fct_infreq, tbl
    from siuba_spark import _ as S
    t = (tbl(spark, f"{SF}/customer.parquet")
         >> arrange(fct_infreq(S.c_mktsegment), S.c_custkey))
    plan = _plan(t.df)
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # window hash + sort range


def test_lsh_topk_query_side_broadcasts(spark):
    """Multi-table lsh_topk: the (small) query side must broadcast; the
    corpus side must not shuffle before the bucket join."""
    from siuba_spark import filter as sfilter
    from siuba_spark import tbl
    from siuba_spark import _ as S
    from siuba_spark.corpus.similarity import lsh_topk
    emb = tbl(spark, f"{SF}/embeddings.parquet")
    q = emb >> sfilter(S.vec_id < 3)
    out = lsh_topk(emb, q, k=5, n_planes=4, n_tables=4)
    plan = _plan(out.df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tpch_q5_shape_broadcasts_dims_single_agg_shuffle(spark):
    """Multi-table TPC-H Q5 shape: dimension joins broadcast (incl. the
    two-key supplier join), no sort-merge join at this SF, and exactly one
    aggregation shuffle."""
    import __spark_entry__ as entry
    df = entry.queries()["tpch_q5"](spark, SF)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_corpus_prep_two_shuffles(spark):
    """The composed corpus pipeline: dedup window shuffle (text) + agg
    shuffle (lang) — nothing else; stats are a zero-shuffle projection."""
    import __spark_entry__ as entry
    df = entry.queries()["corpus_prep"](spark, SF)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "Join" not in plan  # dedup is a window, never a self-join


def test_partitioned_write_enables_partition_pruning(spark, tmp_path):
    """write_parquet(partition_by=...) → a filter on the partition column
    prunes directories at planning time (PartitionFilters in the scan)."""
    out = str(tmp_path / "events_by_type")
    t = tbl(spark, f"{SF}/orders.parquet")
    write_parquet(t, out, partition_by=["o_orderpriority"])
    back = (tbl(spark, out)
            >> filter(_.o_orderpriority == "1-URGENT")
            >> select(_.o_orderkey))
    explained = back.df._jdf.queryExecution().toString()
    assert "PartitionFilters" in explained
    assert "1-URGENT" in explained.split("PartitionFilters", 1)[1][:400], \
        "partition filter did not reach the scan"


def test_fct_lump_no_window_over_full_table(spark):
    """Ungrouped fct_lump must not rank the full table through an
    unpartitioned window: the plan is agg (one shuffle on the value) ->
    rank the tiny distinct table -> broadcast-join the keep-set back."""
    from siuba_spark import fct_lump
    t = (tbl(spark, f"{SF}/orders.parquet")
         >> mutate(prio=fct_lump(_.o_orderpriority, n=2)))
    plan = _plan(t.df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # every Window sits above the HashAggregate (counts) subtree: walking
    # the tree text down from each Window line, an Aggregate must appear
    # before any parquet scan (children print below parents, deeper indent)
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Window" not in ln:
            continue
        for nxt in lines[i + 1:]:
            if "HashAggregate" in nxt or "SortAggregate" in nxt:
                break
            assert "FileScan" not in nxt, (
                "Window ranks the raw scan (unpartitioned global window "
                "over the full table):\n" + plan)
    # prop= variant: same shape
    t2 = (tbl(spark, f"{SF}/orders.parquet")
          >> mutate(prio=fct_lump(_.o_orderpriority, prop=0.15)))
    plan2 = _plan(t2.df)
    assert "BroadcastHashJoin" in plan2 or "BroadcastNestedLoopJoin" in plan2


def test_ann_entry_queries_construct_lazily(spark):
    """Entry ANN queries pass dim= so building the plan launches no jobs
    (no .first() dimension sniff)."""
    import __spark_entry__ as entry
    from siuba_spark.plans.tbl import tbl as _tbl
    qs = entry.queries()
    # warm the parquet schema cache: the FIRST read of any path runs one
    # unavoidable footer-inference job; after that, construction must be free
    _tbl(spark, "/root/testdata/sf0.001/embeddings.parquet")
    _tbl(spark, "/root/testdata/sf0.001/documents.parquet")
    for name in ("lsh_ann", "embedding_near_dups_lsh"):
        n = _jobs_during(
            spark, lambda name=name: qs[name](spark, "/root/testdata/sf0.001"))
        assert n == 0, f"{name} ran {n} jobs during construction"


def test_tpch_scalar_subqueries_are_one_row_broadcasts(spark):
    """q11/q15/q22 join scalar aggregates back via theta joins: the 1-row
    side must broadcast (BNLJ or BHJ), never a CartesianProduct, and no
    unpartitioned window may appear anywhere in the sweep."""
    import __spark_entry__ as entry
    qs = entry.queries()
    for name in ("tpch_q11", "tpch_q15", "tpch_q22"):
        p = _plan(qs[name](spark, "/root/testdata/sf0.001"))
        assert "CartesianProduct" not in p, name


def test_tpch_correlated_aggs_avoid_windows_entirely(spark):
    """The correlated-aggregate queries (q2 min, q13 histogram, q17 avg,
    q21 exists-pair) are agg+join designs: no Window node may appear —
    an unpartitioned window there would be the fct_lump single-reducer
    hazard."""
    import __spark_entry__ as entry
    qs = entry.queries()
    for name in ("tpch_q2", "tpch_q13", "tpch_q17", "tpch_q21"):
        p = _plan(qs[name](spark, "/root/testdata/sf0.001"))
        assert "Window" not in p, f"{name}: unexpected Window node"


def test_tfidf_plan_shapes(spark):
    """tf_idf: the corpus-size scalar is a broadcast (no CartesianProduct)
    and the top-k window partitions by the document key."""
    from siuba_spark.corpus.text import tf_idf
    t = tbl(spark, "/root/testdata/sf0.001/documents.parquet")
    p = _plan(tf_idf(t, col="text", id_col="doc_id", k_per_doc=3).df)
    assert "CartesianProduct" not in p
    assert "doc_id" in p


def test_one_hot_is_map_only(spark):
    """one_hot's encode is a pure projection: beyond the capped spec scan,
    the plan has no Exchange and no Join."""
    from siuba_spark import one_hot, release_all_pins, tbl
    t = tbl(spark, f"{SF}/customer.parquet")
    p = _plan(one_hot(t, "c_mktsegment").df)
    release_all_pins()
    assert "Exchange" not in p, "one_hot must not shuffle"
    assert "Join" not in p


def test_hash_split_is_map_only(spark):
    from siuba_spark import hash_split, tbl
    t = tbl(spark, f"{SF}/documents.parquet")
    from siuba_spark import _ as S
    p = _plan(hash_split(t, S.doc_id).df)
    assert "Exchange" not in p, "hash_split must not shuffle"
    assert "Join" not in p


def test_describe_single_agg_pass(spark):
    """describe computes every (column, stat) cell in ONE aggregation:
    exactly one shuffle in the plan (partial + final agg), then the
    zero-shuffle melt."""
    from siuba_spark import describe, tbl
    t = tbl(spark, f"{SF}/lineitem.parquet")
    from siuba_spark import _ as S
    p = _plan(describe(t, S.l_quantity, S.l_discount).df)
    assert p.count("Exchange hashpartitioning") == 0  # global agg: SinglePartition only
    assert p.count("Exchange SinglePartition") <= 1, p


def test_scrub_and_separate_rows_are_map_only(spark):
    """PII scrub and separate_rows are pure projections — scan-bound at
    any scale (no Exchange, no Join)."""
    from siuba_spark import separate_rows, tbl
    from siuba_spark.corpus.quality import scrub_pii
    t = tbl(spark, f"{SF}/documents.parquet")
    assert "Exchange" not in _plan(scrub_pii(t).df)
    p = _plan((t >> select(_.doc_id, _.text) >> separate_rows(_.text)).df)
    assert "Exchange" not in p and "Join" not in p


def test_stratified_sample_frac_is_filter(spark):
    from siuba_spark.corpus.quality import stratified_sample
    t = tbl(spark, f"{SF}/documents.parquet")
    p = _plan(stratified_sample(t, "lang", frac=0.1).df)
    assert "Exchange" not in p and "Window" not in p


def test_stratified_sample_n_single_stratum_shuffle(spark):
    from siuba_spark.corpus.quality import stratified_sample
    t = tbl(spark, f"{SF}/documents.parquet")
    p = _plan(stratified_sample(t, "lang", n=5).df)
    assert p.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in p, "no global funnel"


def test_ngram_contamination_broadcasts_benchmark_side(spark):
    """The benchmark n-gram set must broadcast; the corpus side must not
    sort-merge against it (that would shuffle 100 TB)."""
    from siuba_spark import filter as f_
    from siuba_spark.corpus.quality import ngram_contamination
    t = tbl(spark, f"{SF}/documents.parquet")
    bench = t >> f_(_.doc_id % 50 == 0)
    p = _plan(ngram_contamination(t, bench, n=5).df)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_quality_and_dedup_segments_no_global_funnel(spark):
    """quality_signals / dedup_segments / unigram_logprob shuffle only on
    fine-grained keys — no unpartitioned Window, no cartesian product.
    (unigram_logprob's 1-row total uses a deliberate scalar broadcast, so
    a SinglePartition agg of ONE row is allowed there.)"""
    from siuba_spark.corpus.quality import (
        dedup_segments, quality_signals, unigram_logprob,
    )
    t = tbl(spark, f"{SF}/documents.parquet")
    for df in (quality_signals(t).df, dedup_segments(t, sep=" ").df):
        p = _plan(df)
        assert "CartesianProduct" not in p
        # a global window funnels through Exchange SinglePartition — the
        # physical symptom the fct_lump rewrite removed; none allowed here
        assert "Exchange SinglePartition" not in p
    p = _plan(unigram_logprob(t).df)
    assert "CartesianProduct" not in p
    # the only SinglePartition is the deliberate 1-row corpus-total agg
    assert p.count("Exchange SinglePartition") <= 1


def test_lint_plan_clean_and_flagging(spark):
    from pyspark.sql import functions as F

    from siuba_spark import group_by, lint_plan, summarize, tbl
    from siuba_spark import _ as S
    t = (tbl(spark, f"{SF}/orders.parquet")
         >> group_by(S.o_orderpriority) >> summarize(n_rows=S.o_orderkey.count()))
    r = lint_plan(t)
    assert r["flags"] == [] and r["counts"]["exchanges"] >= 1

    # cartesian gets flagged and raises under the CI gate
    a = tbl(spark, f"{SF}/nation.parquet")
    bad = a.evolve(df=a.df.crossJoin(a.df.select(F.col("n_name").alias("n2"))))
    # a tiny-side crossJoin plans as BNLJ (Spark broadcasts the small
    # side) — the advisory flag fires; forcing no-broadcast yields the
    # CartesianProduct flag
    r2 = lint_plan(bad)
    assert any("BroadcastNestedLoopJoin" in f for f in r2["flags"])
    import pytest
    with pytest.raises(ValueError):
        lint_plan(bad, raise_on_flags=True)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bad2 = a.evolve(df=a.df.crossJoin(
            a.df.select(F.col("n_name").alias("n3"))))
        assert any("CartesianProduct" in f for f in lint_plan(bad2)["flags"])
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # row-at-a-time Python UDF gets flagged
    from pyspark.sql.functions import udf
    slow = a.evolve(df=a.df.withColumn("u", udf(lambda s: s)("n_name")))
    assert any("BatchEvalPython" in f for f in lint_plan(slow)["flags"])


def test_hyperplane_bucket_packed_matches_inline(spark):
    """The packed (broadcast plane table) and inline (literal) bucket
    plans are bit-identical — same left-fold float order."""
    from siuba_spark.corpus.similarity import add_hyperplane_bucket
    from siuba_spark.plans.tbl import tbl

    emb = tbl(spark, "/root/testdata/sf0.001/embeddings.parquet")
    inline = add_hyperplane_bucket(emb, n_planes=6, dim=64, packed=False) \
        .df.select("vec_id", "bucket")
    packed = add_hyperplane_bucket(emb, n_planes=6, dim=64, packed=True) \
        .df.select("vec_id", "bucket")
    assert inline.exceptAll(packed).count() == 0
    assert packed.exceptAll(inline).count() == 0


def test_lsh_topk_plan_bounded_at_real_embedding_dims(spark):
    """At production dims (768) × 8 planes × 4 tables, inlining the
    hyperplanes would build a ~100k-node Column tree and stall Catalyst
    analysis driver-side.  The packed path keeps the tree O(n_planes)
    per table: analysis must stay fast and the analyzed plan small."""
    import time

    from siuba_spark.corpus.similarity import lsh_topk
    from siuba_spark.plans.tbl import SparkTbl

    dim, n = 768, 6
    rows = [(i, [((i * 31 + j * 7) % 2000 - 1000) / 1000.0 for j in range(dim)])
            for i in range(n)]
    big = SparkTbl(spark.createDataFrame(rows, "vec_id: int, embedding: array<double>"))
    t0 = time.time()
    out = lsh_topk(big, big.df.limit(2), k=3, n_planes=8, n_tables=4, dim=dim)
    plan = out.df._jdf.queryExecution().analyzed().toString()
    elapsed = time.time() - t0
    assert elapsed < 20, f"analysis took {elapsed:.1f}s"
    assert len(plan) < 200_000, f"analyzed plan is {len(plan)} chars"
    out.df.count()  # executes end-to-end


def test_determinism_is_partition_invariant(spark):
    """The reproducibility-critical ops must give IDENTICAL results no
    matter how the input is partitioned — on a real cluster the split
    layout is an accident of file sizes and executor count, so any
    partition-sensitive assignment would be silently irreproducible."""
    from siuba_spark.corpus.dedup import minhash_near_dups
    from siuba_spark.corpus.quality import (
        pack_sequences, stratified_sample, token_budget_sample,
    )
    from siuba_spark.operators.grouping import hash_split
    from siuba_spark.plans.tbl import SparkTbl, tbl

    base = tbl(spark, "/root/testdata/sf0.001/documents.parquet")
    variants = [base,
                SparkTbl(base.df.repartition(17)),
                SparkTbl(base.df.repartition(1)),
                SparkTbl(base.df.repartition(8, "lang"))]

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    ops = {
        "hash_split": lambda t: hash_split(t, "doc_id")
            .df.select("doc_id", "split"),
        "stratified_n": lambda t: stratified_sample(t, "lang", n=7)
            .df.select("doc_id"),
        "token_budget": lambda t: token_budget_sample(t, "lang", budget=500)
            .df.select("doc_id"),
        "pack_sequences": lambda t: pack_sequences(
            t, tokens_col="n_chars", capacity=4000, by="lang")
            .df.select("doc_id", "seq_id", "seq_id_offset"),
        "minhash": lambda t: minhash_near_dups(t, threshold=0.3)
            .df.select("id_a", "id_b"),
    }
    for name, op in ops.items():
        want = rows(op(variants[0]))
        for i, v in enumerate(variants[1:], 1):
            got = rows(op(v))
            assert got == want, f"{name} differs under partitioning #{i}"


def test_uncount_is_shuffle_free_generate(spark):
    """uncount must stay a flatMap-shaped projection: explode of a
    sequence, zero Exchange — at 100 TB the only cost is the output row
    fan-out."""
    from siuba_spark import _, tbl, uncount
    t = tbl(spark.createDataFrame([("a", 3)], "g string, n long"))
    plan = _plan((t >> uncount(_.n, id="i")).df)
    assert "Exchange" not in plan, plan
    assert "Generate" in plan  # the explode


def test_case_match_is_single_projection(spark):
    """case_match lowers to one CASE WHEN x IN (...) chain inside the
    projection — no join, no shuffle, codegen-friendly."""
    from siuba_spark import _, mutate, tbl
    from siuba_spark.functions.vector import case_match
    t = tbl(spark.createDataFrame([(4,)], "cyl long"))
    out = t >> mutate(b=case_match(_.cyl, {(4, 6): "s"}, _default="o"))
    plan = _plan(out.df)
    assert "Exchange" not in plan and "Join" not in plan, plan


def test_cluster_by_is_range_partition_plus_local_sort(spark, tmp_path):
    """cluster_by: RangePartitioning exchange + partition-LOCAL sort (no
    global Sort), so written files carry narrow min/max key ranges that
    later scans prune on."""
    from pyspark.sql import functions as F

    from siuba_spark import _, cluster_by, tbl, write_parquet
    t = tbl(spark.range(0, 10000).select(
        (F.col("id") % 97).alias("k"), F.col("id").alias("v")))
    out = t >> cluster_by(_.k, n_partitions=8)
    plan = _plan(out.df)
    assert "rangepartitioning" in plan.lower(), plan
    # the sort is within-partition (global=false), never a global sort
    assert "Sort [k" in plan and "false, 0" in plan, plan

    # end-to-end: files written after clustering have disjoint-ish key
    # ranges -> a point-filter scan prunes most row groups.  Verify the
    # layout contract directly: per-file min/max spans are narrow.
    path = str(tmp_path / "clustered")
    out >> write_parquet(path)
    spans = (spark.read.parquet(path)
             .groupBy(F.input_file_name())
             .agg((F.max("k") - F.min("k")).alias("span"))
             .toPandas())
    assert len(spans) >= 4
    assert spans.span.median() <= 24, spans  # 97-wide domain over 8 files


def test_semantic_pair_join_is_spread_and_never_broadcast(spark):
    """r10 stats-blindspot regression pins: the intra-cell pair join must
    (a) keep the explicit REPARTITION exchanges (AQE's byte-based
    coalescing otherwise collapses the CPU-dense fold stage onto one
    task) and (b) plan as a sort-merge join — the static planner's size
    estimate reflects the narrow source scan, not the wide vectors, so a
    BroadcastHashJoin would recompute the whole assignment subtree
    single-threaded inside the broadcast build."""
    from pyspark.sql import functions as F

    from siuba_spark.corpus.similarity import semantic_dedup
    from siuba_spark.plans.tbl import SparkTbl

    vec = F.transform(F.sequence(F.lit(1), F.lit(16)),
                      lambda j: F.sin(F.col("id") * j * 0.1))
    emb = SparkTbl(spark.range(0, 400).select(
        F.col("id").alias("vec_id"), vec.alias("embedding")))
    for pf in (None, "int8"):
        _deduped, pairs = semantic_dedup(
            emb, threshold=0.9, n_lists=8, centroids="sample",
            return_pairs=True, prefilter=pf)
        plan = _plan(pairs.df)
        # the pinned-count repartition survives into the physical plan
        assert "REPARTITION_BY_NUM" in plan or "RoundRobin" not in plan, plan
        assert plan.count("SortMergeJoin") >= 1, (pf, plan)
        # the CELL self-join must not be a broadcast join; int8's
        # survivor fetch may legitimately AQE-demote to broadcast, so
        # assert on the exact path only
        if pf is None:
            assert "BroadcastHashJoin" not in plan, plan


def test_int8_prefilter_materializes_assignment(spark):
    """The int8 pair plan references the assignment three times; the
    localCheckpoint must truncate the lineage so no consumer can
    recompute it (r10: broadcast builds recomputed it single-threaded).
    Checkpointed scans show as ExistingRDD/Scan nodes, and the wide
    assignment transform appears in NONE of the three consumers."""
    from pyspark.sql import functions as F

    from siuba_spark.corpus.similarity import semantic_dedup
    from siuba_spark.plans.tbl import SparkTbl

    vec = F.transform(F.sequence(F.lit(1), F.lit(16)),
                      lambda j: F.sin(F.col("id") * j * 0.1))
    emb = SparkTbl(spark.range(0, 300).select(
        F.col("id").alias("vec_id"), vec.alias("embedding")))
    _deduped, pairs = semantic_dedup(
        emb, threshold=0.9, n_lists=8, centroids="sample",
        return_pairs=True, prefilter="int8")
    plan = _plan(pairs.df)
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan, plan
    # the assignment's centroid-distance transform is behind the
    # checkpoint; the pair plan itself must not re-derive cells
    assert "array_position" not in plan, plan


def test_lint_plan_flags_broadcast_of_computed_arrays(spark):
    """The r10 stats-blindspot lint: a join whose broadcast side COMPUTES
    wide arrays from a narrow scan gets flagged; the same join with the
    array side materialization-hinted (or arrays on the probe side) does
    not."""
    from pyspark.sql import functions as F

    from siuba_spark import tbl
    from siuba_spark.plans.tbl import lint_plan

    vec = F.transform(F.sequence(F.lit(1), F.lit(32)),
                      lambda j: F.sin(F.col("id") * j * 0.1))
    arrays = spark.range(0, 500).select(
        F.col("id").alias("k"), vec.alias("v"))
    probe = spark.range(0, 500).select(F.col("id").alias("k"))
    # force the array side to be the broadcast build
    bad = tbl(probe.join(F.broadcast(arrays), "k"))
    out = lint_plan(bad)
    assert any("COMPUTES" in f for f in out["flags"]), out["flags"]
    # broadcasting the narrow side instead is clean
    good = tbl(arrays.join(F.broadcast(probe), "k"))
    out2 = lint_plan(good)
    assert not any("COMPUTES" in f for f in out2["flags"]), out2["flags"]
    # a shuffle between the array computation and the broadcast is a
    # materialization boundary: the arrays were computed DISTRIBUTED and
    # only the small aggregated output is broadcast (the
    # ngram_contamination benchmark-side shape) — must NOT flag
    small = (spark.range(0, 500)
             .select(F.explode(vec).alias("x"))
             .select(F.round("x", 1).alias("x")).distinct())
    agg_build = tbl(probe.join(F.broadcast(small),
                               probe.k == small.x.cast("long"), "left"))
    out3 = lint_plan(agg_build)
    assert not any("COMPUTES" in f for f in out3["flags"]), out3["flags"]


def test_cluster_by_zorder_prunes_on_every_column(spark, tmp_path):
    """cluster_by(method='zorder'): interleaved bucket-rank bits mean a
    narrow filter on ANY clustered column touches a minority of files —
    the multi-column layout a leading-column range sort cannot give."""
    from pyspark.sql import functions as F

    from siuba_spark import _, cluster_by, tbl, write_parquet
    from siuba_spark.functions.lowering import TranslationError

    t = tbl(spark.range(0, 20000).select(
        (F.col("id") % 100).alias("a"),
        ((F.col("id") * 7919) % 100).alias("b")))
    out = t >> cluster_by(_.a, _.b, method="zorder", n_partitions=16)
    # layout verb: row set unchanged
    assert out.df.count() == 20000
    path = str(tmp_path / "z")
    out >> write_parquet(path)
    back = spark.read.parquet(path)
    nf = back.select(F.input_file_name()).distinct().count()
    assert nf >= 8
    fa = back.filter((F.col("a") >= 40) & (F.col("a") < 45)) \
        .select(F.input_file_name()).distinct().count()
    fb = back.filter((F.col("b") >= 40) & (F.col("b") < 45)) \
        .select(F.input_file_name()).distinct().count()
    # Morton row-spread bound: a 1-bucket band touches ~2*sqrt(P) of P
    # files (not P/2) — gate at 3/4 so RangePartitioner sampling jitter
    # never flakes the contract
    assert fa * 4 <= nf * 3, (fa, nf)
    assert fb * 4 <= nf * 3, (fb, nf)

    # validation: strings need method='range'; bit budget bounded
    ts = tbl(spark.createDataFrame([("x", 1)], "s string, v long"))
    with pytest.raises(TranslationError):
        ts >> cluster_by(_.s, _.v, method="zorder")
    with pytest.raises(ValueError):
        t >> cluster_by(_.a, _.b, method="zorder", bits=40)
    # bits is capped INDEPENDENTLY of the 60-bit product: boundaries are
    # driver-materialized (2^bits - 1 quantile probes), so a one-column
    # bits=30 call must fail validation, not OOM the driver
    with pytest.raises(ValueError):
        t >> cluster_by(_.a, method="zorder", bits=30)
    with pytest.raises(ValueError):
        t >> cluster_by(_.a, method="diagonal")


def test_lint_plan_skew_watch_content_keyed_windows(spark):
    """The r11 skew-watch lint: a Window partitioned by a raw string
    column or by a hash-of-content (traced through Alias provenance)
    gets an ADVISORY skew_watch entry — the SemDeDup-skew failure class:
    one hot content key funnels every occurrence into a single Window
    task AQE cannot split.  Numeric-id windows and the rewritten
    first-occurrence dedup verbs stay clean, and watches never trip
    raise_on_flags."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from siuba_spark import tbl
    from siuba_spark.corpus.dedup import substring_dedup
    from siuba_spark.corpus.quality import dedup_segments
    from siuba_spark.plans.tbl import lint_plan

    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("b", 3, 30)], ["seg", "pos", "id"])

    raw = tbl(df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("seg").orderBy("pos"))))
    r = lint_plan(raw)
    assert any("raw string" in w for w in r["skew_watch"]), r["skew_watch"]
    # advisory only: the CI gate is for flags, not watches
    lint_plan(raw, raise_on_flags=True)

    hashed = tbl(df.withColumn("h", F.xxhash64("seg")).withColumn(
        "rn", F.row_number().over(Window.partitionBy("h").orderBy("pos"))))
    r2 = lint_plan(hashed)
    assert any("hash-of-content" in w for w in r2["skew_watch"]), \
        r2["skew_watch"]

    numeric = tbl(df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("id").orderBy("pos"))))
    assert lint_plan(numeric)["skew_watch"] == []

    # the min_by rewrites removed exactly this shape from the dedup verbs
    docs = tbl(spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d")], ["doc_id", "text"]))
    for scope in ("corpus", "doc"):
        for keep in ("first", "none"):
            out = dedup_segments(docs, sep=" ", scope=scope, keep=keep)
            assert lint_plan(out)["skew_watch"] == [], (scope, keep)
    span = substring_dedup(docs, k=2)
    assert lint_plan(span)["skew_watch"] == []


def test_skew_watch_sentinel_bounds_the_deepest_case_chain(spark):
    """The toJSON guard bounds the DEEPEST when().otherwise(when()...)
    chain (the serialization cost is 2^depth per chain): many shallow
    chains keep the raw-string-key watch, while a chain still more than
    8 ELSE levels deep after optimization skips the JSON walk."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from siuba_spark.plans.tbl import lint_plan

    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("b", 3, 30)], ["seg", "pos", "id"])
    raw = df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("seg").orderBy("pos")))
    shallow = raw.withColumns({
        f"c{i}": F.when(F.col("pos") == i, 1).otherwise(
            F.when(F.col("id") == i, 2).otherwise(3)) for i in range(9)})
    watch = lint_plan(tbl(shallow))["skew_watch"]
    assert any("raw string" in w for w in watch), watch

    def chain(n):       # the innermost branch (value 0 = else 0) folds away
        e = F.lit(0)
        for i in range(n):
            e = F.when(F.col("pos") == i, i).otherwise(e)
        return e

    for n, skipped in [(10, False), (11, True)]:
        watch = lint_plan(tbl(raw.withColumn("deep", chain(n))))["skew_watch"]
        assert any("skipped" in w for w in watch) == skipped, (n, watch)

    # the plan prints string literals unquoted: a chain comparing with
    # the literal 'END' must not read as shallow
    e = F.lit(0)
    for i in range(11):
        e = F.when((F.col("pos") == i) | (F.col("seg") == "END"), i).otherwise(e)
    watch = lint_plan(tbl(raw.withColumn("deep", e)))["skew_watch"]
    assert any("skipped" in w for w in watch), watch


def test_rank_limit_verbs_get_window_group_limit(spark):
    """Every rank-limit verb (slice family, top_n, stratified_sample(n=),
    cap_per_key) relies on InferWindowGroupLimit (SPARK-37099) injecting
    a map-side Partial top-n per key before the exchange — that is what
    bounds a hot key's reduce partition at n * map_partitions rows.  Pin
    the physical shape for the whole family: if a future projection or
    filter rewrite slips between the window and its rank filter and
    defeats the rule, these windows silently become unsplittable under a
    hot key (SCALE.md r11 per-domain cap study)."""
    from siuba_spark import group_by, slice_head, slice_max, tbl, top_n
    from siuba_spark.corpus.quality import cap_per_key, stratified_sample

    df = spark.createDataFrame(
        [("a", i, float(i % 7)) for i in range(50)]
        + [("b", i, float(i % 5)) for i in range(50)],
        ["doc_id_str", "doc_id", "x"])
    t = tbl(df)

    shapes = {
        "slice_head": (t >> group_by(_.doc_id_str)
                       >> slice_head(3, order_by=_.doc_id)),
        "slice_max": (t >> group_by(_.doc_id_str) >> slice_max(_.x, n=3)),
        "top_n": (t >> group_by(_.doc_id_str) >> top_n(3, _.x)),
        "cap_per_key": (t >> cap_per_key("doc_id_str", n=3,
                                         order_by="doc_id")),
        "stratified_sample_n": (t >> stratified_sample("doc_id_str", n=3)),
    }
    for name, out in shapes.items():
        plan = out.df._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan, (name, plan)
        assert "Partial" in plan, (name, plan)


def test_semantic_pair_self_join_reuses_one_assignment(spark):
    """At s == 1 the intra-cell pair join is a self-join of ONE spread
    side: the executed plan reuses its exchange, and the centroid argmin
    sits in exactly one operator — no second join side, and no copy of
    it inferred into the centroid join's condition."""
    from pyspark.sql import functions as F

    from siuba_spark.corpus.similarity import _pair_blocks, semantic_dedup
    from siuba_spark.plans.tbl import SparkTbl

    vec = F.transform(F.sequence(F.lit(1), F.lit(16)),
                      lambda j: F.sin(F.col("id") * j * 0.1))
    emb = SparkTbl(spark.range(0, 400).select(
        F.col("id").alias("vec_id"), vec.alias("embedding")))
    assert _pair_blocks(spark, 16) == 1
    _deduped, pairs = semantic_dedup(emb, threshold=0.9, n_lists=16,
                                     centroids="sample", return_pairs=True)
    pairs.df.collect()
    final = _plan(pairs.df).split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final, final
    argmin = [ln for ln in final.splitlines() if "array_position" in ln]
    assert len(argmin) == 1, final


def test_lm_logprob_totals_need_no_cross_join(spark):
    """The Laplace totals come back with lm_logprob's order probe and
    enter the score as literals: no totals aggregate broadcast into a
    nested-loop cross join."""
    from siuba_spark.corpus.quality import lm_logprob, lm_train

    docs = tbl(spark, f"{SF}/documents.parquet")
    prof = lm_train(docs >> filter(_.doc_id < 250))
    out = lm_logprob(docs >> filter(_.doc_id >= 250), prof)
    plan = _plan(out.df)
    assert "BroadcastNestedLoopJoin" not in plan, plan


def _eager_jobs(spark, build):
    """Spark jobs launched while ``build()`` runs (before any action on
    its result)."""
    import uuid

    sc = spark.sparkContext
    group = f"eager-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "eager-job guard")
    try:
        build()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_corpus_builds_launch_bounded_eager_jobs(spark):
    """Job-count guard for the corpus verbs on ~200-row inputs: a new
    persist+count, a second bounded collect or a duplicated pair-join
    side shows up here as extra eager jobs."""
    from pyspark.sql import functions as F

    from siuba_spark import release_all_pins
    from siuba_spark.corpus.quality import lm_logprob, lm_train
    from siuba_spark.corpus.similarity import semantic_dedup
    from siuba_spark.corpus.text import lang_id, lang_profile_train
    from siuba_spark.plans.tbl import SparkTbl

    vec = F.transform(F.sequence(F.lit(1), F.lit(16)),
                      lambda j: F.sin((F.col("id") % 50) * j * 0.1))
    emb = SparkTbl(spark.range(0, 200).select(
        F.col("id").alias("vec_id"), vec.alias("embedding")))
    docs = tbl(spark, f"{SF}/documents.parquet") >> filter(_.doc_id < 200)
    train, apply = (docs >> filter(_.doc_id < 100),
                    docs >> filter(_.doc_id >= 100))
    builds = {
        # the centroid sample, then the bounded pair collect: at s == 1
        # one centroid broadcast, one exchange stage (the other input
        # reuses it) and the take; at s == 2 both sides are computed
        "semantic_dedup_s1": lambda: semantic_dedup(
            emb, threshold=0.9, n_lists=16, centroids="sample"),
        "semantic_dedup_s2": lambda: semantic_dedup(
            emb, threshold=0.9, n_lists=8, centroids="sample"),
        # the one-row order-and-totals probe over the training aggregate
        "lm_logprob": lambda: lm_logprob(apply, lm_train(train)),
        "lang_id": lambda: lang_id(
            apply, lang_profile_train(train, "lang", "text", n=3, k=32),
            n=3, k=32),
    }
    limits = {"semantic_dedup_s1": 4, "semantic_dedup_s2": 7,
              "lm_logprob": 4, "lang_id": 0}
    got = {}
    for name, build in builds.items():
        got[name] = _eager_jobs(spark, build)
        release_all_pins()
    assert all(got[k] <= limits[k] for k in limits), got
