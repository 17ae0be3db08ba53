"""Structured Streaming end-to-end: the same tumble logic runs as a real
stream (readStream → watermark → windowed agg → memory sink) and matches
the batch result.  Beyond-parity (the reference has no streaming,
SURVEY.md §2.9)."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from siuba_spark import SparkTbl
from siuba_spark.streaming.windows import (
    read_event_stream, sessionize, slide, stream_slide, stream_tumble, tumble,
)

from .conftest import SF_SMALL


def _order_batches(src_dir):
    """Pin b0 strictly older than b1: FileStreamSource orders files by
    mtime, and back-to-back writes can tie on a coarse filesystem tick,
    reordering the micro-batches the monotone-id parity relies on."""
    import os
    import time
    now = time.time()
    for i, sub in enumerate(("b0.parquet", "b1.parquet")):
        ts = now - 120 + 30 * i
        for root, _d, files in os.walk(str(src_dir / sub)):
            for f in files:
                os.utime(os.path.join(root, f), (ts, ts))



@pytest.fixture(scope="module")
def event_dir(spark):
    """Microsecond-timestamp copy of events (streaming can't read the
    nanos parquet either), split into 3 files to force multi-batch."""
    import __spark_entry__ as entry
    tmp = tempfile.mkdtemp(prefix="events_us_")
    df = entry._events(spark, "/root/testdata/sf0.001").df
    df.repartition(3).write.mode("overwrite").parquet(tmp)
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


def test_stream_tumble_matches_batch(spark, event_dir):
    batch = tumble(SparkTbl(spark.read.parquet(event_dir)),
                   ts="ts", every="10 minutes", n=("count", None))
    expected = {(r.w_start, r.n) for r in batch.df.collect()}

    stream = read_event_stream(spark, event_dir, max_files=1)
    agg = stream_tumble(stream, ts="ts", every="10 minutes",
                        watermark="1 hour", n=("count", None))
    q = (agg.df.writeStream.format("memory").queryName("tumble_test")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.w_start, r.n) for r in spark.sql("select * from tumble_test").collect()}
    assert got == expected
    assert len(got) > 0


def test_stream_is_incremental(spark, event_dir):
    # append-mode with watermark: finalized windows only, state bounded
    stream = read_event_stream(spark, event_dir, max_files=1)
    agg = stream_tumble(stream, ts="ts", every="10 minutes",
                        watermark="10 minutes", n=("count", None))
    q = (agg.df.writeStream.format("memory").queryName("tumble_append")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    n_append = spark.sql("select count(*) c from tumble_append").first().c
    # every window except those still within the watermark is emitted
    total = tumble(SparkTbl(spark.read.parquet(event_dir)),
                   ts="ts", every="10 minutes", n=("count", None)).df.count()
    assert 0 < n_append <= total


def test_sessionize_batch_vs_event_count(spark, event_dir):
    t = SparkTbl(spark.read.parquet(event_dir))
    s = sessionize(t, ts="ts", by="user_id", gap_minutes=30)
    assert s.df.count() == t.df.count()  # row-preserving
    per_user = (s.df.groupBy("user_id")
                .agg(F.max("session_id").alias("m"), F.count("*").alias("c")))
    bad = per_user.filter(F.col("m") > F.col("c")).count()
    assert bad == 0  # session ids are dense per user


def test_stream_sessionize_native(spark, event_dir):
    from siuba_spark.streaming.windows import stream_sessionize
    stream = read_event_stream(spark, event_dir, max_files=1)
    agg = stream_sessionize(stream, ts="ts", by="user_id", gap="30 minutes",
                            watermark="2 hours", n=("count", None))
    q = (agg.df.writeStream.format("memory").queryName("sess_native")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("select * from sess_native")
    # session rows nest inside [s_start, s_end] and event counts are positive
    assert got.filter(F.col("s_end") < F.col("s_start")).count() == 0
    assert got.filter(F.col("n") <= 0).count() == 0
    # batch lag-based sessionizer agrees on total events in finalized sessions
    total_events = got.agg(F.sum("n")).first()[0] or 0
    assert total_events <= spark.read.parquet(event_dir).count()


def test_running_dedup_stream(spark, event_dir):
    from siuba_spark.streaming.windows import running_dedup_stream
    stream = read_event_stream(spark, event_dir, max_files=1)
    # NoTimeout so availableNow can terminate (pending processing-time
    # timers keep the query busy forever; the old blind 180 s wait here
    # never actually drained)
    ded = running_dedup_stream(stream, key_col="user_id", ts="ts",
                               watermark="2 hours",
                               state_timeout_minutes=None)
    q = (ded.df.writeStream.format("memory").queryName("dedup_stream")
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(300), "stream did not drain in 300s"
    got = spark.sql("select * from dedup_stream").toPandas()
    # at most one surviving event per user, never zero for seen users
    n_users = spark.read.parquet(event_dir).select("user_id").distinct().count()
    assert 0 < len(got) <= n_users
    assert got["user_id"].is_unique


def test_stream_stream_join_within_window(spark, event_dir):
    """Stream-stream inner join with watermarks + time-bound condition:
    each error event joined to purchase events of the same user within
    ±60 min. State on both sides is bounded by the watermark."""
    schema = spark.read.parquet(event_dir).schema
    left = (spark.readStream.schema(schema)
            .parquet(event_dir)
            .filter(F.col("event_type") == "error")
            .select(F.col("user_id").alias("l_user"), F.col("ts").alias("l_ts"),
                    F.col("event_id").alias("l_id"))
            .withWatermark("l_ts", "4 hours"))
    right = (spark.readStream.schema(schema)
             .parquet(event_dir)
             .filter(F.col("event_type") == "purchase")
             .select(F.col("user_id").alias("r_user"), F.col("ts").alias("r_ts"),
                     F.col("event_id").alias("r_id"))
             .withWatermark("r_ts", "4 hours"))
    joined = left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr("INTERVAL 60 MINUTES"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 60 MINUTES")),
        "inner")
    q = (joined.writeStream.format("memory").queryName("ss_join")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = spark.sql("select * from ss_join").toPandas()

    # batch equivalence
    b = spark.read.parquet(event_dir)
    be = b.filter("event_type = 'error'").select(
        F.col("user_id").alias("l_user"), F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_id"))
    bp = b.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("r_user"), F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_id"))
    want = be.join(bp, (F.col("l_user") == F.col("r_user"))
                   & (F.col("r_ts") >= F.col("l_ts") - F.expr("INTERVAL 60 MINUTES"))
                   & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 60 MINUTES"))).count()
    assert len(got) == want
    assert want > 0


def test_stream_interval_join_batch_twin(spark, event_dir):
    """Batch semantics of the stream-stream interval join match a DuckDB
    range join on the same (microsecond) parquet."""
    import duckdb
    from siuba_spark.streaming.windows import stream_interval_join
    ev = spark.read.parquet(event_dir)
    l = ev.selectExpr("event_id", "user_id", "ts AS l_ts")
    r = ev.selectExpr("event_id AS r_event_id", "user_id", "ts AS r_ts")
    out = stream_interval_join(SparkTbl(l), SparkTbl(r), "l_ts", "r_ts",
                               on="user_id", lower="0 seconds",
                               upper="5 minutes")
    got = out.df.count()
    want = duckdb.sql(f"""
        WITH e AS (SELECT event_id, user_id, ts FROM '{event_dir}/*.parquet')
        SELECT COUNT(*) c FROM e l JOIN e r
        ON l.user_id = r.user_id
       AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 5 MINUTE
    """).df()["c"][0]
    assert got == want


def test_stream_interval_join_streaming_plan(spark, event_dir):
    """On streaming inputs the join is accepted by the streaming planner
    (watermarks + range condition => bounded state)."""
    from siuba_spark.streaming.windows import read_event_stream, stream_interval_join
    l = read_event_stream(spark, event_dir).df.selectExpr(
        "event_id", "user_id", "ts AS l_ts")
    r = read_event_stream(spark, event_dir).df.selectExpr(
        "event_id AS r_event_id", "user_id", "ts AS r_ts")
    out = stream_interval_join(SparkTbl(l), SparkTbl(r), "l_ts", "r_ts",
                               on="user_id", upper="2 minutes")
    assert out.df.isStreaming
    q = (out.df.writeStream.format("memory").queryName("sij_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.processAllAvailable()
    n = spark.sql("SELECT COUNT(*) c FROM sij_test").first().c
    q.stop()
    assert n > 0


def test_stream_slide_matches_batch(spark, event_dir):
    """stream_slide (watermarked sliding windows) agrees with the batch
    slide verb on the same data."""
    from siuba_spark.streaming.windows import slide, stream_slide

    batch = slide(SparkTbl(spark.read.parquet(event_dir)),
                  ts="ts", every="20 minutes", period="10 minutes",
                  n=("count", None), total=("dsum", "value"))
    expected = {(r.w_start, r.n, r.total) for r in batch.df.collect()}

    stream = read_event_stream(spark, event_dir, max_files=1)
    agg = stream_slide(stream, ts="ts", every="20 minutes",
                       period="10 minutes", watermark="1 hour",
                       n=("count", None), total=("dsum", "value"))
    q = (agg.df.writeStream.format("memory").queryName("slide_test")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.w_start, r.n, r.total)
           for r in spark.sql("select * from slide_test").collect()}
    assert got == expected
    assert len(got) > 0


# every name the windowed aggregate knows
_ALL_AGGS = dict(n=("count", None), s=("sum", "value"), a=("avg", "value"),
                 m=("mean", "value"), lo=("min", "value"),
                 hi=("max", "value"), nd=("n_distinct", "user_id"),
                 ad=("approx_n_distinct", "user_id"), ds=("dsum", "value"))


@pytest.mark.parametrize("batch_verb, stream_verb, kw", [
    (tumble, stream_tumble, dict(every="10 minutes")),
    (slide, stream_slide, dict(every="20 minutes", period="10 minutes")),
], ids=["tumble", "slide"])
def test_stream_window_verbs_equal_batch_on_batch_frame(
        spark, event_dir, batch_verb, stream_verb, kw):
    """The batch and stream window verbs share one windowed aggregate: on
    a batch frame the watermark is a no-op, so the stream verb returns
    the batch verb's rows, row for row, for every aggregate name.  One
    input partition keeps the double sums' merge order fixed."""
    t = SparkTbl(spark.read.parquet(event_dir).coalesce(1))
    want = batch_verb(t, ts="ts", by=["event_type"], **kw, **_ALL_AGGS).df
    got = stream_verb(t, ts="ts", by=["event_type"], watermark="1 hour",
                      **kw, **_ALL_AGGS).df
    assert got.schema == want.schema
    rows = lambda df: sorted(map(tuple, df.collect()), key=repr)  # noqa: E731
    assert rows(got) == rows(want)
    assert len(rows(want)) > 0


def test_stream_tumble_approx_distinct(spark, event_dir):
    """approx_n_distinct is the streaming-legal distinct count (DISTINCT
    aggs are rejected on streams); the HLL sketch is merge-order
    independent, so stream and batch agree exactly."""
    batch = tumble(SparkTbl(spark.read.parquet(event_dir)),
                   ts="ts", every="30 minutes",
                   u=("approx_n_distinct", "user_id"))
    expected = {(r.w_start, r.u) for r in batch.df.collect()}

    stream = read_event_stream(spark, event_dir, max_files=1)
    agg = stream_tumble(stream, ts="ts", every="30 minutes",
                        watermark="1 hour", u=("approx_n_distinct", "user_id"))
    q = (agg.df.writeStream.format("memory").queryName("approx_nd_test")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.w_start, r.u)
           for r in spark.sql("select * from approx_nd_test").collect()}
    assert got == expected and len(got) > 0


def test_stateless_quality_ops_run_on_streams(spark):
    """scrub_pii / text_stats / hash_split are stateless projections, so
    the SAME verb applies unchanged to a readStream DataFrame (one code
    path, batch or stream) — the scrub-and-score half of a streaming
    ingest pipeline."""
    import shutil
    import tempfile

    from siuba_spark import hash_split
    from siuba_spark import _ as S
    from siuba_spark.corpus.quality import scrub_pii
    from siuba_spark.corpus.text import text_stats

    tmp = tempfile.mkdtemp(prefix="docs_stream_")
    try:
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        docs.repartition(2).write.mode("overwrite").parquet(tmp)
        schema = docs.schema

        stream = SparkTbl(spark.readStream.schema(schema).parquet(tmp))
        piped = hash_split(text_stats(scrub_pii(stream)), S.doc_id)
        assert piped.df.isStreaming
        q = (piped.df.writeStream.format("memory").queryName("quality_stream")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(60)
        got = spark.sql("SELECT * FROM quality_stream").toPandas()

        want = (docs.count(), )
        assert len(got) == want[0]
        batch = hash_split(text_stats(scrub_pii(SparkTbl(docs))),
                           S.doc_id).df.toPandas()
        bs = batch.sort_values("doc_id").reset_index(drop=True)
        gs = got.sort_values("doc_id").reset_index(drop=True)[bs.columns.tolist()]
        import pandas as pd
        pd.testing.assert_frame_equal(gs, bs, check_dtype=False)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_gopher_filter_runs_unchanged_on_stream(spark):
    """gopher_filter on a readStream: quality_signals auto-switches its
    top-2gram stage from explode→groupBy→join (stateful on a stream) to
    per-row higher-order array ops — and the result must match the BATCH
    gopher_filter row-for-row (same signals, same tie-breaks)."""
    import shutil
    import tempfile

    import pandas as pd

    from siuba_spark import SparkTbl
    from siuba_spark.corpus.quality import gopher_filter, quality_signals

    tmp = tempfile.mkdtemp(prefix="docs_gopher_stream_")
    try:
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        docs.repartition(2).write.mode("overwrite").parquet(tmp)

        # thresholds loosened to the synthetic corpus's signal ranges (the
        # stock Gopher envelope keeps zero of these tiny docs), same as
        # the graded q_gopher_filter entry
        TH = dict(min_tokens=20, min_mean_word_len=3.5,
                  max_mean_word_len=8.0, max_symbol_word_ratio=0.05,
                  max_dup_word_frac=0.8, max_dup_2gram_frac=0.6,
                  max_top_2gram_frac=0.2)
        stream = SparkTbl(spark.readStream.schema(docs.schema).parquet(tmp))
        gated = gopher_filter(stream, keep_signals=True, **TH)
        assert gated.df.isStreaming
        q = (gated.df.writeStream.format("memory").queryName("gopher_stream")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM gopher_stream").toPandas()

        batch = gopher_filter(SparkTbl(docs), keep_signals=True,
                              **TH).df.toPandas()
        bs = batch.sort_values("doc_id").reset_index(drop=True)
        gs = got.sort_values("doc_id").reset_index(drop=True)[bs.columns.tolist()]
        assert len(bs) > 0
        pd.testing.assert_frame_equal(gs, bs, check_dtype=False)

        # the stream plan must carry NO stateful aggregation: one batch of
        # a projection-only plan (the array path) — spot-check signals too
        sig_stream = quality_signals(stream).df
        assert "top_2gram_frac" in sig_stream.columns
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_token_budget_sample_contract(spark):
    """Per-stratum streaming token budget: every admitted doc's
    running-total-before is under budget (overshoot ≤ 1 doc per stratum),
    state is one bigint per stratum."""
    import shutil
    import tempfile

    from siuba_spark import SparkTbl
    from siuba_spark.streaming.windows import stream_token_budget_sample

    tmp = tempfile.mkdtemp(prefix="docs_budget_stream_")
    try:
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        docs.repartition(2).write.mode("overwrite").parquet(tmp)

        budget = 500
        stream = SparkTbl(spark.readStream.schema(docs.schema).parquet(tmp))
        # NoTimeout so availableNow can actually terminate (a pending
        # processing-time timer keeps the query busy forever — the old
        # form of this test never drained and only worked because it
        # read the sink after a blind 120 s wait)
        kept = stream_token_budget_sample(stream, "lang", budget=budget,
                                          state_timeout_minutes=None)
        assert kept.df.isStreaming
        q = (kept.df.writeStream.format("memory").queryName("budget_stream")
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(300), "stream did not drain in 300s"
        got = spark.sql("SELECT * FROM budget_stream").toPandas()
        assert len(got) > 0

        # contract: per stratum, total tokens minus the LAST admitted doc
        # is under budget (each doc was admitted while before < budget)
        ntok = got["text"].fillna("").str.split().str.len()
        got = got.assign(__ntok=ntok)
        for lang, grp in got.groupby("lang"):
            total = grp["__ntok"].sum()
            assert total - grp["__ntok"].max() < budget, lang
        # and strata with enough supply actually reach the budget
        supply = docs.toPandas().groupby("lang")["text"] \
            .apply(lambda s: s.fillna("").str.split().str.len().sum())
        for lang, grp in got.groupby("lang"):
            if supply[lang] >= budget:
                assert grp["__ntok"].sum() >= budget, lang
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_minhash_dedup_matches_batch(spark, tmp_path):
    """Stream/batch parity for the incremental near-dup pipeline: a
    document stream processed file-by-file through stream_minhash_dedup
    (foreachBatch + append-only signature store) emits EXACTLY the
    from-scratch minhash_near_dups pair set over everything seen."""
    import pandas as pd

    from siuba_spark import tbl as _tbl
    from siuba_spark.corpus.dedup import minhash_near_dups
    from siuba_spark.streaming.windows import stream_minhash_dedup

    docs = [
        (0, "the quick brown fox jumps over the lazy dog today"),
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "completely different text about spark window functions"),
        (10, "the quick brown fox jumps over the lazy dog today ok"),
        (11, "another unrelated document mentioning nothing shared"),
        (12, "completely different text about spark window functions"),
    ]
    src = tmp_path / "docs_src"
    src.mkdir()
    # two files -> two micro-batches (maxFilesPerTrigger=1)
    spark.createDataFrame(docs[:3], "doc_id long, text string") \
        .coalesce(1).write.parquet(str(src / "b0.parquet"))
    spark.createDataFrame(docs[3:], "doc_id long, text string") \
        .coalesce(1).write.parquet(str(src / "b1.parquet"))
    _order_batches(src)

    schema = "doc_id long, text string"
    stream = _tbl(spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(str(src) + "/*.parquet"))
    q = stream_minhash_dedup(
        stream, store_path=str(tmp_path / "store"),
        pairs_path=str(tmp_path / "pairs"),
        checkpoint=str(tmp_path / "ckpt"), threshold=0.3)
    q.awaitTermination(300)

    got = spark.read.parquet(str(tmp_path / "pairs")).toPandas()
    want = minhash_near_dups(
        _tbl(spark.createDataFrame(docs, schema)), threshold=0.3
    ).df.toPandas()
    key = ["id_a", "id_b", "jaccard"]
    pd.testing.assert_frame_equal(
        got[key].sort_values(key).reset_index(drop=True),
        want[key].sort_values(key).reset_index(drop=True))
    # the store accumulated every document's signature, append-only
    assert spark.read.parquet(str(tmp_path / "store")).count() == len(docs)

    # At-least-once idempotency (ADVICE r7 item 1): replay EVERY batch
    # with a fresh checkpoint (the worst-case retry) — per-batch
    # overwrite partitions mean outputs are replaced, never re-appended.
    import shutil
    shutil.rmtree(str(tmp_path / "ckpt"), ignore_errors=True)
    q2 = stream_minhash_dedup(
        stream, store_path=str(tmp_path / "store"),
        pairs_path=str(tmp_path / "pairs"),
        checkpoint=str(tmp_path / "ckpt"), threshold=0.3)
    q2.awaitTermination(300)
    got2 = spark.read.parquet(str(tmp_path / "pairs")).toPandas()
    pd.testing.assert_frame_equal(
        got2[key].sort_values(key).reset_index(drop=True),
        want[key].sort_values(key).reset_index(drop=True))
    assert spark.read.parquet(str(tmp_path / "store")).count() == len(docs)


def test_stream_semantic_dedup_matches_batch(spark, tmp_path):
    """Stream/batch parity for the embedding dedup pipeline: an
    embedding stream processed file-by-file through stream_semantic_dedup
    (foreachBatch + idempotent per-batch assignment store + persisted
    centroids) emits EXACTLY the from-scratch semantic_dedup pair set at
    the trained centroids — including after a full at-least-once replay."""
    import shutil

    import pandas as pd
    from pyspark.sql import functions as F

    from siuba_spark import tbl as _tbl
    from siuba_spark.corpus.similarity import semantic_dedup
    from siuba_spark.streaming.windows import stream_semantic_dedup

    full = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    src = tmp_path / "emb_src"
    src.mkdir()
    # batch 0 holds the low ids -> the sample seeds live in batch 0, so
    # from-scratch training sees the identical slice
    full.filter(F.col("vec_id") < 250).coalesce(1) \
        .write.parquet(str(src / "b0.parquet"))
    full.filter(F.col("vec_id") >= 250).coalesce(1) \
        .write.parquet(str(src / "b1.parquet"))
    _order_batches(src)

    kw = dict(threshold=0.3, n_lists=4, centroids="sample")

    def run_stream():
        stream = _tbl(spark.readStream.schema(full.schema)
                      .option("maxFilesPerTrigger", 1)
                      .parquet(str(src) + "/*.parquet"))
        q = stream_semantic_dedup(
            stream, store_path=str(tmp_path / "store"),
            pairs_path=str(tmp_path / "pairs"),
            checkpoint=str(tmp_path / "ckpt"),
            cents_path=str(tmp_path / "cents.json"), **kw)
        q.awaitTermination(300)

    run_stream()
    got = spark.read.parquet(str(tmp_path / "pairs")) \
        .select("id_a", "id_b", "score").toPandas()
    _, want_pairs = semantic_dedup(_tbl(full), return_pairs=True, **kw)
    want = want_pairs.df.toPandas()
    key = ["id_a", "id_b", "score"]
    pd.testing.assert_frame_equal(
        got[key].sort_values(key).reset_index(drop=True),
        want[key].sort_values(key).reset_index(drop=True))
    assert spark.read.parquet(str(tmp_path / "store")).count() == full.count()

    # full replay with a fresh checkpoint (worst-case at-least-once
    # retry): per-batch overwrite partitions + deterministic retraining
    # keep the outputs identical
    shutil.rmtree(str(tmp_path / "ckpt"), ignore_errors=True)
    run_stream()
    got2 = spark.read.parquet(str(tmp_path / "pairs")) \
        .select("id_a", "id_b", "score").toPandas()
    pd.testing.assert_frame_equal(
        got2[key].sort_values(key).reset_index(drop=True),
        want[key].sort_values(key).reset_index(drop=True))
    assert spark.read.parquet(str(tmp_path / "store")).count() == full.count()


def test_legacy_flat_store_raises_migration_error(spark, tmp_path):
    """ADVICE r8: a pre-batch=-partitioned (flat-append) state store must
    NOT be silently treated as empty — that loses dedup state on upgrade."""
    from siuba_spark.streaming.windows import _read_batch_store

    store = tmp_path / "store"
    store.mkdir()
    (store / "part-00000-abc.snappy.parquet").write_bytes(b"")
    with pytest.raises(RuntimeError, match="legacy flat-append"):
        _read_batch_store(spark, str(store), 3)

    # absent and genuinely-empty dirs are still fine (None)
    assert _read_batch_store(spark, str(tmp_path / "missing"), 3) is None
    empty = tmp_path / "empty"
    empty.mkdir()
    assert _read_batch_store(spark, str(empty), 3) is None


def test_compact_semantic_store_epoch_swap(spark, tmp_path):
    """End-to-end store maintenance for the streaming SemDeDup path
    (the epoch-swap helper): stream two batches, STOP, compact the
    on-disk store + centroids atomically, resume the SAME stream
    checkpoint over a third batch — the accumulated pairs must equal
    the batch-side chain (incremental A+B at epoch-1 centroids, compact,
    incremental C at epoch-2 centroids), which is exactly the union the
    graded ``semantic_store_compact`` entry proves against DuckDB.
    Compaction here uses 'sample' centroids so the batch oracle is
    partition-independent; the kmeans default is smoke-checked after."""
    import pandas as pd
    from pyspark.sql import functions as F

    from siuba_spark import tbl as _tbl
    from siuba_spark.corpus.similarity import (
        semantic_dedup_incremental, semantic_store_compact)
    from siuba_spark.plans.tbl import SparkTbl
    from siuba_spark.streaming.windows import (
        compact_semantic_store, stream_semantic_dedup)

    full = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    src = tmp_path / "emb_src"
    src.mkdir()
    full.filter(F.col("vec_id") < 200).coalesce(1) \
        .write.parquet(str(src / "b0.parquet"))
    full.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 350)) \
        .coalesce(1).write.parquet(str(src / "b1.parquet"))
    _order_batches(src)

    kw = dict(threshold=0.3, n_lists=4, centroids="sample")
    store_p, cents_p = str(tmp_path / "store"), str(tmp_path / "cents.json")

    def run_stream():
        stream = _tbl(spark.readStream.schema(full.schema)
                      .option("maxFilesPerTrigger", 1)
                      .parquet(str(src) + "/*.parquet"))
        q = stream_semantic_dedup(
            stream, store_path=store_p,
            pairs_path=str(tmp_path / "pairs"),
            checkpoint=str(tmp_path / "ckpt"),
            cents_path=cents_p, **kw)
        q.awaitTermination(300)

    run_stream()

    # healthy-store gate: a generous p99 limit refuses to touch disk
    before = sorted(p.name for p in (tmp_path / "store").iterdir())
    did, n = compact_semantic_store(spark, store_p, cents_p,
                                    p99_limit=10_000)
    assert (did, n) == (False, None)
    assert sorted(p.name for p in (tmp_path / "store").iterdir()) == before

    # forced compaction: epoch swap to 6 'sample' cells, batch=-1 base
    did, n = compact_semantic_store(spark, store_p, cents_p,
                                    n_lists=6, centroids="sample")
    assert did and n == 6
    assert sorted(p.name for p in (tmp_path / "store").iterdir()) == \
        ["batch=-1"]
    assert spark.read.parquet(store_p).drop("batch").count() == 350

    # resume the SAME checkpoint over a third batch at the new epoch
    full.filter(F.col("vec_id") >= 350).coalesce(1) \
        .write.parquet(str(src / "b2.parquet"))
    run_stream()
    got = (spark.read.parquet(str(tmp_path / "pairs"))
           .select("id_a", "id_b", "score").toPandas())

    # batch-side oracle: the same three-snapshot drift->compact chain
    a = SparkTbl(full.filter(F.col("vec_id") < 200))
    b = SparkTbl(full.filter((F.col("vec_id") >= 200)
                             & (F.col("vec_id") < 350)))
    c = SparkTbl(full.filter(F.col("vec_id") >= 350))
    p1, s1, c1 = semantic_dedup_incremental(a, **kw)
    p2, s2, _ = semantic_dedup_incremental(b, s1, c1, **kw)
    s3, c2, did2 = semantic_store_compact(s2, n_lists=6,
                                          centroids="sample")
    assert did2
    p3, _s, _c = semantic_dedup_incremental(c, s3, c2, **kw)
    want = (p1.df.unionByName(p2.df).unionByName(p3.df)).toPandas()
    key = ["id_a", "id_b", "score"]
    pd.testing.assert_frame_equal(
        got[key].sort_values(key).reset_index(drop=True),
        want[key].sort_values(key).reset_index(drop=True))

    # the kmeans default (density-adaptive, the drift-correct mode)
    # swaps cleanly too
    did, n = compact_semantic_store(spark, store_p, cents_p, n_lists=5)
    assert did and n == 5
    assert spark.read.parquet(store_p).drop("batch").count() == 500


def test_stream_substring_dedup_matches_batch(spark, tmp_path):
    """Stream/batch parity for the incremental span-dedup pipeline: a
    document stream processed file-by-file (batches in id order) through
    stream_substring_dedup emits EXACTLY the from-scratch
    substring_dedup cut over everything seen."""
    import pandas as pd

    from siuba_spark import tbl as _tbl
    from siuba_spark.corpus.dedup import substring_dedup
    from siuba_spark.streaming.windows import stream_substring_dedup

    docs = [
        (0, "a b c d e f g h tail one"),
        (1, "head two a b c d e f g h xx"),      # in-batch copy of doc0
        (2, "completely different text here now yes ok fine"),
        (10, "pre a b c d e f g h post"),         # cross-batch copy
        (11, "short doc"),
        (12, "completely different text here now yes ok fine"),  # x-batch
    ]
    src = tmp_path / "docs_src"
    src.mkdir()
    schema = "doc_id long, text string"
    spark.createDataFrame(docs[:3], schema).coalesce(1) \
        .write.parquet(str(src / "b0.parquet"))
    spark.createDataFrame(docs[3:], schema).coalesce(1) \
        .write.parquet(str(src / "b1.parquet"))
    _order_batches(src)

    stream = _tbl(spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(str(src) + "/*.parquet"))
    q = stream_substring_dedup(
        stream, store_path=str(tmp_path / "store"),
        out_path=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt"), k=8)
    q.awaitTermination(300)

    key = ["doc_id", "text"]
    got = spark.read.parquet(str(tmp_path / "out")).toPandas()
    want = substring_dedup(
        _tbl(spark.createDataFrame(docs, schema)), k=8).df.toPandas()
    pd.testing.assert_frame_equal(
        got[key].sort_values(key).reset_index(drop=True),
        want[key].sort_values(key).reset_index(drop=True))
    # cross-batch copies were cut against the STORE
    got_map = dict(zip(got.doc_id, got.text))
    assert got_map[10] == "pre post"
    assert 12 not in got_map  # fully dup doc vanishes

    # at-least-once idempotency: full replay with a fresh checkpoint
    import shutil
    shutil.rmtree(str(tmp_path / "ckpt"), ignore_errors=True)
    q2 = stream_substring_dedup(
        stream, store_path=str(tmp_path / "store"),
        out_path=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt"), k=8)
    q2.awaitTermination(300)
    got2 = spark.read.parquet(str(tmp_path / "out")).toPandas()
    pd.testing.assert_frame_equal(
        got2[key].sort_values(key).reset_index(drop=True),
        want[key].sort_values(key).reset_index(drop=True))


def test_compact_substring_store_epoch_swap(spark, tmp_path):
    """Store maintenance for the streaming span-dedup path: stream two
    batches, pollute the gram store with a duplicate overlapping-write
    partition, STOP, compact (atomic swap to a single batch=-1 base),
    resume the SAME checkpoint over a third batch — the union of the
    per-batch outputs must still equal the from-scratch cut, because
    duplicate store rows never change cut decisions and compaction only
    drops them."""
    import pandas as pd
    from pyspark.sql import functions as F

    from siuba_spark import tbl as _tbl
    from siuba_spark.corpus.dedup import substring_dedup
    from siuba_spark.plans.tbl import SparkTbl
    from siuba_spark.streaming.windows import (
        compact_substring_store, stream_substring_dedup)

    full = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = tmp_path / "docs_src"
    src.mkdir()
    full.filter(F.col("doc_id") < 200).coalesce(1) \
        .write.parquet(str(src / "b0.parquet"))
    full.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 350)) \
        .coalesce(1).write.parquet(str(src / "b1.parquet"))
    _order_batches(src)

    store_p = str(tmp_path / "store")

    def run_stream():
        stream = _tbl(spark.readStream.schema(full.schema)
                      .option("maxFilesPerTrigger", 1)
                      .parquet(str(src) + "/*.parquet"))
        q = stream_substring_dedup(
            stream, store_path=store_p,
            out_path=str(tmp_path / "out"),
            checkpoint=str(tmp_path / "ckpt"), k=8)
        assert q.awaitTermination(300)

    run_stream()

    # overlapping-write pollution: re-append every gram under later ids
    raw = spark.read.parquet(store_p).drop("batch")
    n_grams = raw.count()
    raw.withColumn("doc_id", F.col("doc_id") + 10_000) \
        .write.parquet(f"{store_p}/batch=5")
    assert spark.read.parquet(store_p).count() == 2 * n_grams

    before, after = compact_substring_store(spark, store_p)
    assert (before, after) == (2 * n_grams, n_grams)
    assert sorted(p.name for p in (tmp_path / "store").iterdir()) == \
        ["batch=-1"]
    base = spark.read.parquet(store_p).drop("batch")
    assert base.filter(F.col("doc_id") >= 10_000).count() == 0

    # resume the SAME checkpoint over a third batch (naturally newer
    # mtime: written after _order_batches pinned b0/b1 in the past)
    full.filter(F.col("doc_id") >= 350).coalesce(1) \
        .write.parquet(str(src / "b2.parquet"))
    run_stream()

    got = (spark.read.parquet(str(tmp_path / "out"))
           .select("doc_id", "text").toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    want = (substring_dedup(SparkTbl(full), k=8).df
            .select("doc_id", "text").toPandas()
            .sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(got, want)


def test_stream_substring_enforce_id_order(spark, tmp_path):
    """enforce_id_order=True turns the monotone-id contract into a check:
    an out-of-order batch (later-mtime file carrying LOWER ids) fails the
    query instead of silently degrading to approximate dedup; an
    in-order stream with the flag on still matches from-scratch."""
    import pandas as pd
    from pyspark.sql import functions as F

    from siuba_spark import tbl as _tbl
    from siuba_spark.corpus.dedup import substring_dedup
    from siuba_spark.plans.tbl import SparkTbl
    from siuba_spark.streaming.windows import stream_substring_dedup

    docs = spark.createDataFrame(
        [(i, f"d{i} " + "a b c d e f g h") for i in range(6)],
        "doc_id long, text string")
    schema = "doc_id long, text string"

    def stage(src, first, second):
        src.mkdir()
        first.coalesce(1).write.parquet(str(src / "b0.parquet"))
        second.coalesce(1).write.parquet(str(src / "b1.parquet"))
        _order_batches(src)  # b0 strictly older -> processed first

    def run(src, base, enforce):
        q = stream_substring_dedup(
            _tbl(spark.readStream.schema(schema)
                 .option("maxFilesPerTrigger", 1)
                 .parquet(str(src) + "/*.parquet")),
            store_path=str(base / "store"), out_path=str(base / "out"),
            checkpoint=str(base / "ckpt"), k=8,
            enforce_id_order=enforce)
        assert q.awaitTermination(120)

    # in-order: enforce on, exact from-scratch parity
    ok = tmp_path / "ok"
    ok.mkdir()
    stage(ok / "src", docs.filter(F.col("doc_id") < 3),
          docs.filter(F.col("doc_id") >= 3))
    run(ok / "src", ok, enforce=True)
    got = (spark.read.parquet(str(ok / "out"))
           .select("doc_id", "text").toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    want = (substring_dedup(SparkTbl(docs), k=8).df
            .select("doc_id", "text").toPandas()
            .sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(got, want)

    # out-of-order: the HIGH-id half staged older (processed first) —
    # enforce raises through awaitTermination
    bad = tmp_path / "bad"
    bad.mkdir()
    stage(bad / "src", docs.filter(F.col("doc_id") >= 3),
          docs.filter(F.col("doc_id") < 3))
    with pytest.raises(Exception, match="out of id order"):
        run(bad / "src", bad, enforce=True)


def test_stream_cap_per_key_matches_batch(spark):
    """Stream/batch parity for the per-domain cap: files streamed in
    doc_id order through stream_cap_per_key admit EXACTLY the rows the
    batch cap_per_key keeps (first n doc_ids per source), because under
    the monotone-id snapshot discipline arrival order IS the batch
    order.  State is one bigint per key."""
    import os
    import shutil
    import tempfile

    from siuba_spark import SparkTbl
    from siuba_spark.corpus.quality import cap_per_key
    from siuba_spark.streaming.windows import stream_cap_per_key

    tmp = tempfile.mkdtemp(prefix="docs_cap_stream_")
    try:
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        # two id-ordered files = two micro-batches, mtimes staged apart
        # so FileStreamSource preserves the id order
        a = os.path.join(tmp, "a")
        b = os.path.join(tmp, "b")
        docs.filter("doc_id < 250").coalesce(1).write.parquet(a)
        docs.filter("doc_id >= 250").coalesce(1).write.parquet(b)
        now = __import__("time").time()
        for i, d in enumerate((a, b)):
            for f in os.listdir(d):
                os.utime(os.path.join(d, f), (now + i, now + i))

        stream = SparkTbl(
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1).parquet(tmp + "/*"))
        # state_timeout_minutes=None: a ProcessingTimeTimeout keeps the
        # query permanently busy (pending timers), so availableNow never
        # terminates with one — NoTimeout is what makes a bounded run
        # drainable (the op docstring documents the trade)
        kept = stream_cap_per_key(stream, "source", n=7, order_by="doc_id",
                                  state_timeout_minutes=None)
        assert kept.df.isStreaming
        q = (kept.df.writeStream.format("memory").queryName("cap_stream")
             .outputMode("append").trigger(availableNow=True).start())
        assert q.awaitTermination(300), "stream did not drain in 300s"
        got = spark.sql("SELECT doc_id FROM cap_stream").toPandas()

        want = (cap_per_key(SparkTbl(docs), "source", n=7,
                            order_by="doc_id")
                .df.select("doc_id").toPandas())
        assert sorted(got.doc_id) == sorted(want.doc_id)
    finally:
        spark.sql("DROP VIEW IF EXISTS cap_stream")
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_url_dedup_composition(spark, event_dir):
    """URL-keyed STREAMING dedup is a composition, not a new operator:
    url_normalize is a pure stateless projection (zero shuffle), so it
    applies to a streaming DataFrame unchanged, and running_dedup_stream
    keyed on the canonical URL provides the stateful first-wins — the
    streaming twin of the graded url_dedup_chain's normalize->dedup
    front half."""
    from siuba_spark.corpus.text import url_normalize
    from siuba_spark.streaming.windows import running_dedup_stream

    stream = read_event_stream(spark, event_dir, max_files=1)
    # three spellings per user collapse to one canonical URL
    spelled = stream.evolve(df=stream.df.withColumn(
        "url",
        F.concat(
            F.when(F.col("event_id") % 3 == 0, F.lit("HTTPS://U"))
            .otherwise(F.lit("https://u")),
            F.col("user_id").cast("string"),
            F.lit(".example.com/p"),
            F.when(F.col("event_id") % 3 == 1,
                   F.lit("?utm_source=x")).otherwise(F.lit("")),
            F.when(F.col("event_id") % 3 == 2, F.lit("#f"))
            .otherwise(F.lit("")))))
    norm = url_normalize(spelled, "url")
    ded = running_dedup_stream(norm, key_col="url_norm", ts="ts",
                               watermark="2 hours",
                               state_timeout_minutes=None)
    q = (ded.df.writeStream.format("memory").queryName("url_dedup_stream")
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(300), "stream did not drain in 300s"
    got = spark.sql("select * from url_dedup_stream").toPandas()
    n_users = (spark.read.parquet(event_dir)
               .select("user_id").distinct().count())
    assert 0 < len(got) <= n_users
    assert got["url_norm"].is_unique
    # the projection really canonicalized on the stream path
    assert got["url_norm"].str.startswith("https://u").all()
    assert not got["url_norm"].str.contains("#|utm_").any()


def test_store_streams_and_compactors_release_their_pins(spark, tmp_path):
    """The stream dedup verbs and the compactors leave the session's pin
    ledger and persisted RDDs as they found them: the store driver
    releases both tables' pins after each micro-batch's writes, and the
    compactors release the compaction's pin after the swap."""
    from siuba_spark import tbl as _tbl
    from siuba_spark.plans import tbl as ptbl
    from siuba_spark.streaming.windows import (
        compact_semantic_store, compact_substring_store,
        stream_minhash_dedup, stream_semantic_dedup, stream_substring_dedup)

    def held():
        return (len(ptbl._ACTIVE_PINS),
                len(spark.sparkContext._jsc.getPersistentRDDs()))

    def two_batch_stream(name, df, id_col, cut):
        src = tmp_path / name
        df.filter(F.col(id_col) < cut).coalesce(1) \
            .write.parquet(str(src / "b0.parquet"))
        df.filter(F.col(id_col) >= cut).coalesce(1) \
            .write.parquet(str(src / "b1.parquet"))
        _order_batches(src)
        return _tbl(spark.readStream.schema(df.schema)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(str(src) + "/*.parquet"))

    def paths(name):
        return [str(tmp_path / f"{name}_{p}") for p in ("store", "out", "ckpt")]

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    cents = str(tmp_path / "cents.json")
    runs = {
        "stream_minhash_dedup": lambda: stream_minhash_dedup(
            two_batch_stream("mh", docs, "doc_id", 250), *paths("mh"),
            threshold=0.3).awaitTermination(300),
        "stream_semantic_dedup": lambda: stream_semantic_dedup(
            two_batch_stream("sem", emb, "vec_id", 250), *paths("sem"),
            cents, threshold=0.3, n_lists=4,
            centroids="sample").awaitTermination(300),
        "compact_semantic_store": lambda: compact_semantic_store(
            spark, paths("sem")[0], cents, n_lists=6, centroids="sample"),
        "stream_substring_dedup": lambda: stream_substring_dedup(
            two_batch_stream("ss", docs, "doc_id", 250), *paths("ss"),
            k=8).awaitTermination(300),
        "compact_substring_store": lambda: compact_substring_store(
            spark, paths("ss")[0]),
    }
    for name, run in runs.items():
        before = held()
        assert run(), name
        assert held() == before, name
