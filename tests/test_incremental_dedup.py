"""Incremental (snapshot-over-snapshot) dedup against a persisted store
(corpus/dedup.py exact_dedup_incremental / minhash_near_dups_incremental,
VERDICT r6 item 6).  The invariant under test everywhere: processing
snapshots incrementally produces EXACTLY the from-scratch result on the
union — representatives, cumulative counts, and near-dup pair sets."""

import pytest

from siuba_spark import tbl
from siuba_spark.corpus.dedup import (
    exact_dedup, exact_dedup_incremental, minhash_near_dups,
    minhash_near_dups_incremental,
)


def _docs(spark, rows):
    return tbl(spark.createDataFrame(rows, "doc_id long, text string"))


def test_exact_incremental_equals_from_scratch(spark):
    a_rows = [(0, "alpha beta"), (1, "alpha beta"), (2, "gamma"), (3, None)]
    b_rows = [(10, "alpha beta"), (11, "delta"), (12, None), (13, "delta")]
    a, b = _docs(spark, a_rows), _docs(spark, b_rows)

    kept_a, store = exact_dedup_incremental(a, None, cols=["text"])
    kept_b, store2 = exact_dedup_incremental(b, store, cols=["text"])

    # snapshot A keeps one row per key (min id), counts within A
    got_a = {(r.doc_id, r.n_dups) for r in kept_a.df.collect()}
    assert got_a == {(0, 2), (2, 1), (3, 1)}
    # snapshot B keeps only NEVER-SEEN keys ("delta"); NULL text was seen
    got_b = {(r.doc_id, r.n_dups) for r in kept_b.df.collect()}
    assert got_b == {(11, 2)}

    # the final store equals from-scratch exact_dedup over the union
    union = _docs(spark, a_rows + b_rows)
    scratch = {(r.doc_id, r.n_dups)
               for r in exact_dedup(union, cols=["text"]).df.collect()}
    final = {(r.doc_id, r.n_dups) for r in store2.df.collect()}
    assert final == scratch == {(0, 3), (2, 1), (3, 2), (11, 2)}


def test_exact_incremental_store_schema_roundtrip(spark):
    a = _docs(spark, [(0, "x"), (1, "y")])
    _kept, store = exact_dedup_incremental(a, None, cols=["text"])
    assert set(store.df.columns) == {"text", "doc_id", "n_dups"}
    # the store is re-consumable as a plain DataFrame (parquet roundtrip
    # shape): pass .df back in
    b = _docs(spark, [(5, "x"), (6, "z")])
    kept_b, store2 = exact_dedup_incremental(b, store.df, cols=["text"])
    assert {r.doc_id for r in kept_b.df.collect()} == {6}
    assert {(r.doc_id, r.n_dups) for r in store2.df.collect()} == {
        (0, 2), (1, 1), (6, 1)}


DOCS = [
    (0, "the quick brown fox jumps over the lazy dog today"),
    (1, "the quick brown fox jumps over the lazy dog tonight"),
    (2, "completely different text about spark window functions"),
    (10, "the quick brown fox jumps over the lazy dog today ok"),
    (11, "another unrelated document mentioning nothing shared"),
    (12, "completely different text about spark window functions"),
]


@pytest.mark.parametrize("hash_,bucket", [("xxhash64", "hash"),
                                          ("md5_64", "key")])
def test_minhash_incremental_equals_from_scratch(spark, hash_, bucket):
    a = _docs(spark, DOCS[:3])
    b = _docs(spark, DOCS[3:])
    kw = dict(threshold=0.3, hash=hash_, bucket=bucket)

    p1, store = minhash_near_dups_incremental(a, None, **kw)
    p2, store2 = minhash_near_dups_incremental(b, store, **kw)
    inc = {(r.id_a, r.id_b, r.jaccard) for r in p1.df.collect()} | \
          {(r.id_a, r.id_b, r.jaccard) for r in p2.df.collect()}

    union = _docs(spark, DOCS)
    scratch = {(r.id_a, r.id_b, r.jaccard)
               for r in minhash_near_dups(union, **kw).df.collect()}
    assert inc == scratch and len(scratch) >= 2
    # phase-B pairs all have at least one NEW endpoint
    new_ids = {10, 11, 12}
    assert all((r.id_a in new_ids) or (r.id_b in new_ids)
               for r in p2.df.collect())
    # store accumulates both snapshots' signatures
    assert store2.df.count() == len(DOCS)
    assert set(store2.df.columns) == {"doc_id", "shingles", "minhash"}


def test_minhash_incremental_store_never_rebanded(spark):
    """Plan guarantee: the banded self-join's LEFT side is new-only —
    store×store candidate generation must not appear.  Observable: with
    an all-duplicate STORE and a disjoint NEW snapshot, phase B emits no
    store×store pairs even though they near-dup each other."""
    a = _docs(spark, [(0, "same text repeated here okay fine"),
                      (1, "same text repeated here okay fine")])
    b = _docs(spark, [(10, "entirely new content nothing alike at all")])
    kw = dict(threshold=0.3)
    p1, store = minhash_near_dups_incremental(a, None, **kw)
    assert {(r.id_a, r.id_b) for r in p1.df.collect()} == {(0, 1)}
    p2, _ = minhash_near_dups_incremental(b, store, **kw)
    assert p2.df.count() == 0


def test_exact_incremental_releases_snapshot_cache(spark):
    """The snapshot aggregate exact_dedup_incremental materializes for
    its three consumers is pinned to the returned tables, so
    release_all_pins() leaves no persisted RDD behind."""
    from siuba_spark import release_all_pins

    sc = spark.sparkContext
    release_all_pins()
    before = set(sc._jsc.getPersistentRDDs().keys())
    a = _docs(spark, [(0, "x"), (1, "x"), (2, "y")])
    b = _docs(spark, [(10, "x"), (11, "z"), (12, "z")])
    _kept_a, store = exact_dedup_incremental(a, None, cols=["text"])
    kept_b, store2 = exact_dedup_incremental(b, store, cols=["text"])
    assert {r.doc_id for r in kept_b.df.collect()} == {11}
    assert {(r.doc_id, r.n_dups) for r in store2.df.collect()} == \
        {(0, 3), (2, 1), (11, 2)}
    release_all_pins()
    # set difference, not a size compare: the context cleaner may free
    # other tests' RDDs meanwhile
    assert set(sc._jsc.getPersistentRDDs().keys()) - before == set()


def test_exact_incremental_random_splits_property(spark):
    """Property: for ANY 3-way snapshot split (monotone id blocks) of a
    corpus with duplicate keys, chaining exact_dedup_incremental equals
    from-scratch exact_dedup on the union — representatives and counts."""
    import random
    rng = random.Random(42)
    texts = ["t%d" % rng.randint(0, 6) for _ in range(40)]
    rows = [(i, v) for i, v in enumerate(texts)]
    for trial in range(4):
        c1, c2 = sorted(rng.sample(range(1, 39), 2))
        snaps = [rows[:c1], rows[c1:c2], rows[c2:]]
        store = None
        kept_ids = []
        for snap in snaps:
            t = _docs(spark, snap)
            kept, store = exact_dedup_incremental(t, store, cols=["text"])
            kept_ids.extend(r.doc_id for r in kept.df.collect())
        union = _docs(spark, rows)
        scratch = {(r.doc_id, r.n_dups)
                   for r in exact_dedup(union, cols=["text"]).df.collect()}
        final = {(r.doc_id, r.n_dups) for r in store.df.collect()}
        assert final == scratch, (trial, c1, c2)
        assert sorted(kept_ids) == sorted(i for i, _n in scratch), (trial,)


def test_exact_incremental_rejects_keep_max(spark):
    """keep='max' would make the store inconsistent with every
    from-scratch GROUP BY rule (the cross-snapshot merge keeps the
    store-side oldest id) — so it raises instead of silently diverging
    (ADVICE r7 item 2)."""
    a = _docs(spark, [(0, "x"), (1, "x")])
    with pytest.raises(ValueError, match="keep='min'"):
        exact_dedup_incremental(a, None, cols=["text"], keep="max")


def test_exact_dedup_keep_modes_and_plan_shape(spark):
    """The r11 aggregate rewrite: keep='min'/'max' pick the lowest/
    highest id per duplicate group with the full row carried through
    min_by/max_by (no Window in the plan — the dedup key is content, a
    Window over it is the hot-key funnel), n_dups counts the group, and
    the all-columns-are-keys edge degrades to a pure count."""
    rows = [(1, "a", "x"), (3, "a", "y"), (2, "a", "z"), (5, "b", "w")]
    t = tbl(spark.createDataFrame(rows, "doc_id long, text string, extra string"))

    lo = exact_dedup(t, cols=["text"]).df.orderBy("text").collect()
    assert [(r.doc_id, r.text, r.extra, r.n_dups) for r in lo] == \
        [(1, "a", "x", 3), (5, "b", "w", 1)]

    hi = exact_dedup(t, cols=["text"], keep="max").df.orderBy("text").collect()
    assert [(r.doc_id, r.text, r.extra, r.n_dups) for r in hi] == \
        [(3, "a", "y", 3), (5, "b", "w", 1)]

    plan = exact_dedup(t, cols=["text"]).df._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Window" not in plan
    assert "HashAggregate" in plan or "SortAggregate" in plan

    # every column a key: nothing left to carry, just count per group
    allkeys = exact_dedup(
        t, cols=["doc_id", "text", "extra"]).df
    assert allkeys.count() == 4
    assert allkeys.filter("n_dups != 1").count() == 0
    assert allkeys.columns == ["doc_id", "text", "extra", "n_dups"]


def test_exact_incremental_bucketed_store_no_store_exchange(spark, tmp_path):
    """The 100 TB store-locality contract: a store persisted BUCKETED on
    the key columns merges with the next snapshot bucket-local — the
    store-side scan reads `Bucketed: true` with no Exchange above it, so
    each snapshot shuffles only itself, never the accumulated store.
    This is why the merge joins on plain equality (a null-safe <=> join
    compiles to coalesce/isnull keys and disables bucketing); the
    null-key rows take the separate null-safe join, and the outputs must
    equal the unbucketed path exactly (NULL keys included)."""
    import os

    from siuba_spark.plans.tbl import write_parquet

    rows_a = [(0, "alpha"), (1, "alpha"), (2, "beta"), (3, None)]
    rows_b = [(10, "alpha"), (11, "gamma"), (12, None), (13, "gamma")]
    a, b = _docs(spark, rows_a), _docs(spark, rows_b)

    kept_a, store = exact_dedup_incremental(a, None, cols=["text"])
    kept_u, store_u = exact_dedup_incremental(b, store, cols=["text"])

    name = f"ss_dedup_store_{os.getpid()}"
    # bucket count matches the session's shuffle partitions: a mismatch
    # makes the planner exchange BOTH sides to its preferred parallelism
    # instead of adopting the store's bucketing (size your production
    # store's n_buckets to the merge job's target parallelism)
    write_parquet(store, str(tmp_path / "store"), bucket_by=["text"],
                  n_buckets=8, table_name=name)
    back = spark.table(name)
    kept_b, store_b = exact_dedup_incremental(b, back, cols=["text"])

    plan = store_b.df._jdf.queryExecution().executedPlan().toString()
    # the non-null branch's store scan is bucket-local AND reaches its
    # join with no Exchange above it; only the tiny null-pattern branch
    # may fall back to an exchanged scan
    assert "Bucketed: true" in plan, plan
    from .helpers import assert_scan_joins_without_exchange
    assert_scan_joins_without_exchange(plan, name)
    for got, want in ((kept_b.df, kept_u.df), (store_b.df, store_u.df)):
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_incremental_url_dedup_composition(spark):
    """Snapshot-over-snapshot URL dedup is url_normalize composed with
    exact_dedup_incremental keyed on the canonical URL — the
    incremental twin of the graded url_dedup_chain front half.  Two
    spellings of one resource across two snapshots dedup across the
    store boundary."""
    from pyspark.sql import functions as F

    from siuba_spark.corpus.dedup import exact_dedup_incremental
    from siuba_spark.corpus.text import url_normalize
    from siuba_spark.plans.tbl import SparkTbl

    snap1 = SparkTbl(spark.createDataFrame(
        [(1, "https://a.com/x?b=2&a=1"), (2, "https://a.com/y")],
        "doc_id long, url string"))
    snap2 = SparkTbl(spark.createDataFrame(
        [(3, "HTTPS://A.com:443/x?a=1&b=2&utm_source=t"),  # dup of 1
         (4, "https://b.org/z")],
        "doc_id long, url string"))
    kept1, store = exact_dedup_incremental(
        url_normalize(snap1, "url"), None, cols=("url_norm",))
    kept2, store2 = exact_dedup_incremental(
        url_normalize(snap2, "url"), store, cols=("url_norm",))
    assert sorted(r.doc_id for r in kept1.df.collect()) == [1, 2]
    # doc 3 normalizes to doc 1's canonical URL -> dropped by the store
    assert sorted(r.doc_id for r in kept2.df.collect()) == [4]
    acc = {r.url_norm: r.n_dups for r in store2.df.collect()}
    assert acc["https://a.com/x?a=1&b=2"] == 2
