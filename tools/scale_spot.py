"""Order-of-magnitude scale spot-run for the corpus layer.

    python tools/scale_spot.py [mult] [sf_dir]

Synthesizes a ``mult``x (default 10x — sf1-equivalent) copy of
``documents.parquet`` by unioning id-shifted copies (text perturbed per
copy so near-dup structure grows realistically instead of exploding into
exact clones), writes it to /tmp as a multi-file parquet, then times the
headline corpus operators at 1x and at ``mult``x.  Near-linear ratios
(≈ mult, modulo fixed per-stage latency at the small end) are the
evidence that the plans are shuffle-bounded, not pair-bounded; anything
super-linear is a scale bug.

Writes the measured table to stdout; SCALE.md records the latest run.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

# runnable from anywhere: the repo root (one level up) holds siuba_spark
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (SparkSession.builder.master("local[32]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.driver.memory", "48g")
             .config("spark.sql.session.timeZone", "UTC")
             # UI on: the REST status API is the shuffle-bytes meter;
             # retain enough stages that the cumulative counter never
             # loses history mid-run (eviction would corrupt the deltas)
             .config("spark.ui.enabled", "true")
             .config("spark.ui.retainedStages", "100000")
             .config("spark.ui.retainedJobs", "100000").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    def shuffle_write_bytes():
        """Total shuffle WRITE bytes so far via the local status REST API
        (public Spark monitoring surface) — per-op cost is the delta."""
        import json as _json
        import urllib.request
        try:
            ui = spark.sparkContext.uiWebUrl
            app = spark.sparkContext.applicationId
            with urllib.request.urlopen(
                    f"{ui}/api/v1/applications/{app}/stages?status=complete",
                    timeout=10) as r:
                stages = _json.loads(r.read())
            return sum(s.get("shuffleWriteBytes", 0) for s in stages)
        except Exception:
            return None

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_base = base.count()
    big_path = f"/tmp/siuba_spark_scale_docs_x{mult}"
    if not os.path.exists(big_path):
        copies = []
        for i in range(mult):
            c = (base
                 .withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
                 # perturb all but copy 0 so copies are near-dups, not
                 # exact dups: prepend a copy-tag word
                 .withColumn("text",
                             F.when(F.lit(i == 0), F.col("text"))
                             .otherwise(F.concat(F.lit(f"c{i} "), F.col("text")))))
            copies.append(c)
        big = copies[0]
        for c in copies[1:]:
            big = big.unionByName(c)
        big.repartition(64).write.mode("overwrite").parquet(big_path)

    from siuba_spark.corpus.dedup import (
        drop_near_dups, exact_dedup, minhash_near_dups, add_simhash,
        substring_dedup,
    )
    from siuba_spark.corpus.quality import (
        dedup_segments, ngram_contamination, quality_signals, unigram_logprob,
    )
    from siuba_spark.corpus.similarity import lsh_topk
    from siuba_spark.corpus.text import fingerprint, text_stats
    from siuba_spark.plans.tbl import SparkTbl, tbl

    def load_small():
        n = spark.sparkContext.defaultParallelism
        return tbl(spark, f"{sf_dir}/documents.parquet", min_partitions=n)

    def load_big():
        return tbl(spark, big_path)

    def bench_docs(docs):
        bench = SparkTbl(docs.df.filter(F.col("doc_id") % 50 == 0))
        return bench

    def dedup_chain(d):
        """The full dedup pipeline (the SCALE.md chain): candidate pairs →
        connected components → drop all but the cluster minimum."""
        pairs = minhash_near_dups(d, threshold=0.7)
        return drop_near_dups(d, pairs, id_col="doc_id").df

    def embeddings768(d):
        """dim-768 embeddings synthesized deterministically from doc_id —
        same row count as the docs table, production embedding width."""
        vec = F.transform(F.sequence(F.lit(1), F.lit(768)),
                          lambda j: F.sin(F.col("doc_id") * j * 0.1))
        return SparkTbl(d.df.select(F.col("doc_id").alias("vec_id"),
                                    vec.alias("embedding")))

    def lsh_topk_768(d):
        emb = embeddings768(d)
        q = emb.df.orderBy("vec_id").limit(16)
        return lsh_topk(emb, q, k=10, n_planes=16, n_tables=2, dim=768).df

    def pq_topk_768(d):
        from siuba_spark.corpus.similarity import pq_topk
        emb = embeddings768(d)
        q = SparkTbl(emb.df.orderBy("vec_id").limit(16))
        return pq_topk(emb, q, k=10, n_subspaces=8, n_codes=64).df

    def ivf_lloyd_768(d):
        from siuba_spark.corpus.similarity import ivf_topk
        emb = embeddings768(d)
        q = emb.df.orderBy("vec_id").limit(16)
        return ivf_topk(emb, q, k=10, n_lists=16, n_probes=4,
                        centroids="lloyd", n_iters=2, train_limit=2048).df

    def semantic_dedup_64(d):
        # SemDeDup bound check: with K = sqrt(N) cells (standard coarse-
        # quantizer scaling), assignment is O(N*K*d) and the intra-cell
        # pair term is sum(cell^2) ~ N^1.5 — SUB-quadratic by
        # construction, vs the N^2 all-pairs baseline.  Expected decade
        # ratio ~ mult^1.5 (10x -> ~32x), NOT mult^2 (100x); the
        # ~linear-cost alternative cell rule (fixed-cost hyperplane LSH
        # buckets) is measured separately as embedding_near_dups_lsh.
        # dim 64: the blocking bound is width-independent (768-wide ANN
        # decades are pq/ivf_768's rows).
        from siuba_spark.corpus.similarity import semantic_dedup
        vec = F.transform(F.sequence(F.lit(1), F.lit(64)),
                          lambda j: F.sin(F.col("doc_id") * j * 0.1))
        emb = SparkTbl(d.df.select(F.col("doc_id").alias("vec_id"),
                                   vec.alias("embedding")))
        n = max(16, int(emb.df.count() ** 0.5))
        return semantic_dedup(emb, threshold=0.999, n_lists=n,
                              centroids="sample").df

    def semantic_int8_64(d):
        # same SemDeDup bound with the int8 ADC prefilter: the cell
        # self-join shuffles tinyint codes + 4 scalars instead of the
        # 64-double vectors (~8x lighter pair-stage payload); survivors
        # fetch doubles by id-equijoin for the exact re-rank.  The decade
        # ratio must match semantic_dedup_64 (same Σ|cell|² pair count);
        # the shuffle column is the point of the row.
        from siuba_spark.corpus.similarity import semantic_dedup
        vec = F.transform(F.sequence(F.lit(1), F.lit(64)),
                          lambda j: F.sin(F.col("doc_id") * j * 0.1))
        emb = SparkTbl(d.df.select(F.col("doc_id").alias("vec_id"),
                                   vec.alias("embedding")))
        n = max(16, int(emb.df.count() ** 0.5))
        return semantic_dedup(emb, threshold=0.999, n_lists=n,
                              centroids="sample", prefilter="int8").df

    def substring_incr(d):
        from siuba_spark.corpus.dedup import substring_dedup_incremental
        cut = d.df.agg(F.expr("approx_percentile(doc_id, 0.5)")).first()[0]
        a = SparkTbl(d.df.filter(F.col("doc_id") < cut))
        b = SparkTbl(d.df.filter(F.col("doc_id") >= cut))
        out_a, store = substring_dedup_incremental(a, k=16)
        out_b, _s2 = substring_dedup_incremental(b, store, k=16)
        return out_a.df.unionByName(out_b.df)

    def semantic_incr_64(d):
        # snapshot-over-snapshot SemDeDup: halves by id, snapshot B
        # paired only against new x (new + store-in-cell) — the store is
        # never re-paired, so the two-snapshot total should track the
        # from-scratch cost (same Σ|cell|² term), not exceed it
        from siuba_spark.corpus.similarity import semantic_dedup_incremental
        vec = F.transform(F.sequence(F.lit(1), F.lit(64)),
                          lambda j: F.sin(F.col("doc_id") * j * 0.1))
        emb = SparkTbl(d.df.select(F.col("doc_id").alias("vec_id"),
                                   vec.alias("embedding")))
        n = max(16, int(emb.df.count() ** 0.5))
        cut = emb.df.agg(F.expr("approx_percentile(vec_id, 0.5)")) \
            .first()[0]
        a = SparkTbl(emb.df.filter(F.col("vec_id") < cut))
        b = SparkTbl(emb.df.filter(F.col("vec_id") >= cut))
        kw = dict(threshold=0.999, n_lists=n, centroids="sample")
        p1, store, cents = semantic_dedup_incremental(a, **kw)
        p2, _s2, _c2 = semantic_dedup_incremental(b, store, cents, **kw)
        return p1.df.unionByName(p2.df)

    def _semantic_768(d, prefilter):
        # VERDICT r9 item 4: the int8 ADC prefilter lost ~25% at dim=64
        # (interpreted int folds cost the same as double folds, and the
        # survivor join-back adds two joins).  dim=768 is where the 8x
        # pair-stage payload cut (768 tinyints vs 768 doubles) applies to
        # a much larger absolute volume — this pair of ops measures
        # whether that ever makes the prefilter a WALL win single-node,
        # or only a shuffle win (the cluster-relevant column either way).
        #
        # Synthesis is CLUSTERED, not iid-sin: at dim 768, distance
        # concentration makes argmin over iid-sin vectors collapse into
        # the smallest-norm centroid's cell (measured: 4793/5000 rows in
        # one cell — that degenerate shape is the semantic_skew_64 rig's
        # subject, not this one).  64 well-separated centers + 15% row
        # noise give balanced cells under the first-64-ids sample rule
        # (doc_id % 64 cycles cover all centers).
        from siuba_spark.corpus.similarity import semantic_dedup
        g = F.col("doc_id") % 64
        vec = F.transform(
            F.sequence(F.lit(1), F.lit(768)),
            lambda j: F.sin((j + g * 13) * 0.5)
            + F.lit(0.15) * F.sin(F.col("doc_id") * j * 0.11))
        emb = SparkTbl(d.df.select(F.col("doc_id").alias("vec_id"),
                                   vec.alias("embedding")))
        return semantic_dedup(emb, threshold=0.999, n_lists=64,
                              centroids="sample", prefilter=prefilter).df

    def semantic_768(d):
        return _semantic_768(d, None)

    def semantic_int8_768(d):
        return _semantic_768(d, "int8")

    def _tight(df, spread=0.1):
        # one dense cluster around sin(j/10): intra-cluster cosines land
        # ~0.99 (below the 0.999 emit threshold, so the OUTPUT stays
        # small while the intra-cell candidate count explodes — the cost
        # being measured), and the whole cluster shares a cell under
        # centroids trained on uniform data
        vec = F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda j: F.sin(j * 0.1)
            + F.lit(spread) * F.sin(F.col("vec_id") * j * 0.001))
        return df.select("vec_id", vec.alias("embedding"))

    def _uniform64(df):
        vec = F.transform(F.sequence(F.lit(1), F.lit(64)),
                          lambda j: F.sin(F.col("vec_id") * j * 0.1))
        return df.select("vec_id", vec.alias("embedding"))

    def semantic_skew_64(d):
        # VERDICT r9 item 8a: deliberately skewed corpus — 10% of rows in
        # ONE tight cluster (one hot cell), 90% uniform.  Compare wall +
        # shuffle against semantic_dedup_64 at the same N: the delta is
        # the hot cell's |cell|^2 term, and whether AQE's skew-join
        # splitting keeps the 32 cores busy on it.
        from siuba_spark.corpus.similarity import semantic_dedup
        ids = d.df.select(F.col("doc_id").alias("vec_id"))
        hot = (F.col("vec_id") % 10) == 0
        vec = F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda j: F.when(
                hot,
                F.sin(j * 0.1)
                + F.lit(0.1) * F.sin(F.col("vec_id") * j * 0.001))
            .otherwise(F.sin(F.col("vec_id") * j * 0.1)))
        emb = SparkTbl(ids.select("vec_id", vec.alias("embedding")))
        n = max(16, int(emb.df.count() ** 0.5))
        return semantic_dedup(emb, threshold=0.999, n_lists=n,
                              centroids="sample").df

    def _drift_rig(d, compact):
        # VERDICT r9 item 8b: distribution drift vs the compaction
        # trigger.  A (60%, uniform) trains the epoch-1 quantizer; B
        # (20%) arrives as ONE tight drift cluster (fattening one stale
        # cell); C (20%) continues the drifted distribution.  Without
        # compaction, C pairs against the fat stale cell (the
        # incremental new x store term degrades toward |C| x |B|); with
        # k-means compaction after B, the dense region splits across
        # cells and C's term shrinks.  20% id-subset keeps the candidate
        # counts tractable at 10x.
        from siuba_spark.corpus.similarity import (
            semantic_dedup_incremental, semantic_store_compact)
        ids = d.df.filter(F.col("doc_id") % 5 == 0) \
            .select(F.col("doc_id").alias("vec_id"))
        c1, c2 = ids.agg(
            F.expr("approx_percentile(vec_id, array(0.6, 0.8))")
        ).first()[0]
        a = SparkTbl(_uniform64(ids.filter(F.col("vec_id") < c1)))
        b = SparkTbl(_tight(ids.filter((F.col("vec_id") >= c1)
                                       & (F.col("vec_id") < c2))))
        c = SparkTbl(_tight(ids.filter(F.col("vec_id") >= c2)))
        nl = max(16, int(ids.count() ** 0.5))
        kw = dict(threshold=0.999, n_lists=nl, centroids="sample")
        p1, s1, cents = semantic_dedup_incremental(a, **kw)
        p2, s2, _c2 = semantic_dedup_incremental(b, s1, cents, **kw)
        if compact:
            # k-means retraining is the point: it is density-adaptive,
            # so the drift cluster (now 20% of the store's mass) earns
            # many cells.  The id-ordered "sample"/"lloyd" slices would
            # never SEE the drift (they train on the id-head = A) — the
            # drift-blind spot semantic_store_compact's docstring warns
            # about.
            s2, cents, _did = semantic_store_compact(
                s2, n_lists=nl, centroids="kmeans")
        p3, _s4, _c3 = semantic_dedup_incremental(c, s2, cents, **kw)
        return p1.df.unionByName(p2.df).unionByName(p3.df)

    def semantic_drift_stale_64(d):
        return _drift_rig(d, compact=False)

    def semantic_drift_compact_64(d):
        return _drift_rig(d, compact=True)

    def quantize_emb_64(d):
        # int8 quantize + dequantize roundtrip: two map-only projections
        from siuba_spark.corpus.similarity import (
            dequantize_embeddings, quantize_embeddings,
        )
        vec = F.transform(F.sequence(F.lit(1), F.lit(64)),
                          lambda j: F.sin(F.col("doc_id") * j * 0.1))
        emb = SparkTbl(d.df.select(F.col("doc_id").alias("vec_id"),
                                   vec.alias("embedding")))
        q = quantize_embeddings(emb)
        return dequantize_embeddings(
            SparkTbl(q.df.drop("embedding")), out="embedding").df

    def _hot_boiler(d, reps=2048):
        """VERDICT r10 item 1: ONE boilerplate token planted in 10% of
        docs, repeated ``reps`` times per hot doc — a single segment key
        carrying a macroscopic fraction of all exploded segment rows
        (at 10x: ~10M rows under ONE key, vs ~6M rows of everything
        else).  The SemDeDup skew recipe, aimed at the first-occurrence
        verbs: a row_number Window puts all ~10M in one task; the min_by
        aggregate collapses them map-side."""
        hot = (F.col("doc_id") % 10) == 0
        boiler = F.concat_ws(" ", F.array_repeat(
            F.lit("boilerplate-boilerplate-boilerplate"), reps))
        return SparkTbl(d.df.withColumn(
            "text",
            F.when(hot, F.concat(boiler, F.lit(" "), F.col("text")))
            .otherwise(F.col("text"))))

    def segdedup_hot(d):
        # the shipped min_by AGGREGATE path on the hot-key corpus
        return dedup_segments(_hot_boiler(d), sep=" ").df

    def segdedup_hot_window(d):
        """COUNTERFACTUAL: the r10 row_number()-Window implementation
        (quality.py pre-r11), reconstructed here so the decade ratio of
        the unsplittable hot Window partition is measured against the
        aggregate rewrite on identical data."""
        import re as _re

        from pyspark.sql import Window
        df = _hot_boiler(d).df
        others = [c for c in df.columns if c != "text"]
        seg = (df.select(*others,
                         F.posexplode(F.split(F.col("text"),
                                              _re.escape(" "), -1))
                         .alias("__pos", "__seg"))
               .filter(F.length(F.trim(F.col("__seg"))) > 0))
        w = Window.partitionBy("__seg").orderBy(F.col("doc_id").asc(),
                                                F.col("__pos").asc())
        kept = (seg.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1).drop("__rn"))
        return (kept.groupBy(*[F.col(c) for c in others])
                .agg(F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.struct(F.col("__pos").alias("p"),
                                     F.col("__seg").alias("s")))),
                        lambda st: st["s"])).alias("text"))
                .select(*[F.col(c) for c in df.columns]))

    def _hot_phrase(d, reps=16, k=16):
        """One fixed k-token phrase tandem-repeated in 10% of docs: the
        cyclic k-grams of the repeat are the hot fingerprint keys."""
        hot = (F.col("doc_id") % 10) == 0
        words = " ".join(f"hot{i}" for i in range(k))
        phrase = F.concat_ws(" ", F.array_repeat(F.lit(words), reps))
        return SparkTbl(d.df.withColumn(
            "text",
            F.when(hot, F.concat(phrase, F.lit(" "), F.col("text")))
            .otherwise(F.col("text"))))

    def span_hot(d):
        # the shipped min(struct) + anti-join path on hot grams
        return substring_dedup(_hot_phrase(d), k=16).df

    def span_hot_window(d):
        """COUNTERFACTUAL: the r10 gram-keyed row_number Window."""
        from pyspark.sql import Window

        from siuba_spark.corpus.dedup import _span_cut, _span_grams
        df = _hot_phrase(d).df
        toks, grams = _span_grams(df, "text", "doc_id", 16, " ", "hash")
        w = Window.partitionBy("__h").orderBy(F.col("doc_id").asc(),
                                              F.col("__pos").asc())
        dup = (grams.withColumn("__rn", F.row_number().over(w))
               .filter(F.col("__rn") > 1))
        return _span_cut(df, toks, dup, "text", "doc_id", 16, " ")

    def _hot_domain(d, fanout=200):
        """One domain carrying 10% of all pages, the rest spread over
        ~50k cold domains — the crawl shape the per-domain cap runs
        against.  Docs are fanned out x200 (a crawl has pages, not docs:
        ~1M rows at 1x, ~10M at 10x, so the hot key alone holds ~1M rows
        at 10x) — enough mass that an unsplittable hot task is visible
        on a 32-core box."""
        page = d.df.select(
            "doc_id", F.explode(F.sequence(F.lit(0), F.lit(fanout - 1)))
            .alias("__rep"))
        page = page.select(
            (F.col("doc_id") * fanout + F.col("__rep")).alias("page_id"))
        hot = (F.col("page_id") % 10) == 0
        dom = (F.when(hot, F.lit("hot.example.com"))
               .otherwise(F.concat(F.lit("d"),
                                   (F.col("page_id") % 50_000).cast("string"),
                                   F.lit(".example.com"))))
        return SparkTbl(page.withColumn("__dom", dom))

    def domain_cap_hot(d):
        # the shipped cap (quality.py cap_per_key): one row_number window
        # + rank filter, which InferWindowGroupLimit (SPARK-37099)
        # executes with a map-side Partial top-n per key before the
        # exchange — the hot domain's reduce partition is bounded at
        # n * map_partitions rows
        from siuba_spark.corpus.quality import cap_per_key
        return cap_per_key(_hot_domain(d), "__dom", n=100,
                           order_by="page_id").df

    def domain_cap_hot_salted(d):
        """COUNTERFACTUAL (r11 negative result): the hand-salted
        two-phase cap — top-n per (domain, salt) cell, then re-rank the
        <= n*salts survivors per domain.  Textbook hot-key salting, but
        measured ~2.2x SLOWER than the shipped single window: cold keys
        with under n*salts rows survive phase 1 uncut, so phase 2 pays a
        second full exchange of ~everything for a bound the engine's
        WindowGroupLimit already provides map-side."""
        from pyspark.sql import Window
        df = _hot_domain(d).df
        salt = F.pmod(F.xxhash64(F.col("page_id").cast("string")), F.lit(16))
        order = [F.col("page_id").asc()]
        w1 = Window.partitionBy("__dom", "__salt").orderBy(*order)
        w2 = Window.partitionBy("__dom").orderBy(*order)
        return (df.withColumn("__salt", salt)
                .withColumn("__rn", F.row_number().over(w1))
                .filter(F.col("__rn") <= 100).drop("__salt", "__rn")
                .withColumn("__rn", F.row_number().over(w2))
                .filter(F.col("__rn") <= 100).drop("__rn"))

    def add_count_hot_join(d):
        # the shipped method="join" lowering (operators/grouping.py
        # add_count) on a 10%-hot count key: the partial-combining
        # groupBy collapses the hot key map-side and the join back is
        # AQE-skew-splittable
        from siuba_spark.operators.grouping import add_count
        return add_count(_hot_domain(d), "__dom", method="join").df

    def add_count_hot_window(d):
        """COUNTERFACTUAL: the default window lowering — every page of
        the hot domain funnels into ONE Window task AQE cannot split.
        Unlike the rank-limit cap (which SPARK-37099 bounds map-side),
        a plain count-over-partition window has no group-limit rewrite,
        so the hot task carries the full 10% of the corpus."""
        from siuba_spark.operators.grouping import add_count
        return add_count(_hot_domain(d), "__dom", method="window").df

    def _zscore_hot(d, method):
        # r13: mutate(_agg_method=) join-vs-window on the same 10%-hot
        # key — the grouped_mutate_zscore shape (sum/count AggOver) over
        # a hot content key instead of the bench's 3-value enum
        from siuba_spark import _ as s, group_by, mutate, ungroup
        t = _hot_domain(d)
        t = t >> group_by(s.__dom)
        t = t >> mutate(dev=(s.page_id - s.page_id.sum()
                             / s.page_id.count()),
                        _agg_method=method)
        return (t >> ungroup()).df

    def zscore_hot_join(d):
        return _zscore_hot(d, "join")

    def zscore_hot_window(d):
        return _zscore_hot(d, "window")

    def lm_chain(d):
        # train the bigram profile on the scaled corpus AND score it:
        # both count shuffles are Heaps'-law bounded (distinct grams,
        # not corpus rows); scoring is 3 equi joins + one per-doc agg
        from siuba_spark.corpus.quality import lm_logprob, lm_train
        prof = lm_train(d)
        return lm_logprob(d, prof).df.select("doc_id", "lm_logprob")

    def url_chain(d):
        # the r11 web-corpus front door: derive urls, decompose, block
        # one registrable domain, cap docs per domain
        from siuba_spark.corpus.quality import cap_per_key
        from siuba_spark.corpus.text import filter_blocklist, url_parts
        df = d.df.withColumn(
            "url", F.concat(F.lit("https://d"),
                            (F.col("doc_id") % 50_000).cast("string"),
                            F.lit(".example.com/p/"),
                            F.col("doc_id").cast("string")))
        t = url_parts(SparkTbl(df), "url")
        bl = df.sparkSession.createDataFrame(
            [("d7.example.com",)], "d string")
        t = filter_blocklist(t, bl, col="host", mode="exact")
        return cap_per_key(t, "domain", n=100, order_by="doc_id").df

    def url_norm_chain(d):
        # the r12 graded composition at rig scale: canonicalize ->
        # URL-keyed exact_dedup (min_by aggregate) -> per-domain cap;
        # two projections + one linear agg shuffle + the bounded cap
        from siuba_spark.corpus.dedup import exact_dedup
        from siuba_spark.corpus.quality import cap_per_key
        from siuba_spark.corpus.text import url_normalize, url_parts
        df = d.df.withColumn(
            "url", F.concat(
                F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS://D"))
                .otherwise(F.lit("https://d")),
                (F.col("doc_id") % 50_000).cast("string"),
                F.lit(".example.com/p//"),
                (F.col("doc_id") % 500_000).cast("string"),
                F.lit("?b=2&a=1&utm_source=x#f")))
        t = url_normalize(SparkTbl(df), "url")
        t = t.evolve(df=t.df.filter(F.col("url_norm").isNotNull()))
        t = url_parts(t, "url_norm", parts=("host",))
        t = exact_dedup(t, cols=("url_norm",), keep="min")
        return cap_per_key(t, "domain", n=100, order_by="doc_id",
                           tie_break=()).df

    def lm3_chain(d):
        # order-3 twin of lm_chain: one (gram, order) count shuffle to
        # train (grams for all orders built in one explode), five equi
        # joins + one per-doc mean to score
        from siuba_spark.corpus.quality import lm_logprob, lm_train
        prof = lm_train(d, order=3)
        return lm_logprob(d, prof).df.select("doc_id", "lm_logprob")

    def lm3_chain_pruned(d):
        # KenLM-style singleton pruning: min_count=2 drops the
        # near-linearly-growing unique-trigram tail, re-approaching the
        # Heaps bound the bigram chain enjoys
        from siuba_spark.corpus.quality import lm_logprob, lm_train
        prof = lm_train(d, order=3, min_count=2)
        return lm_logprob(d, prof).df.select("doc_id", "lm_logprob")

    def quality_chain(d):
        # the composed training-data quality path (VERDICT r6 item 10):
        # gopher filter -> PII scrub -> unigram logprob -> token budget
        from siuba_spark.corpus.quality import (
            gopher_filter, scrub_pii, token_budget_sample, unigram_logprob,
        )
        out = gopher_filter(d)
        out = scrub_pii(out)
        out = unigram_logprob(out)
        out = out.evolve(df=out.df.withColumn(
            "__bucket", (F.col("doc_id") % 100).cast("int")))
        out = token_budget_sample(out, "__bucket", budget=100_000)
        return out.df

    def bpe_true(d):
        # merges-table BPE (corpus/bpe.py): one Arrow UDF column, a
        # narrow per-row map — CPU-linear in corpus tokens, no shuffle
        from siuba_spark.corpus.bpe import bpe_token_count
        return bpe_token_count(d).df.select("doc_id", "n_bpe_tokens")

    def bpe_bc_2k(d):
        # mid-size vocabulary (2k merges) through the same tokenizer —
        # dict lookups, so the cost should match the 40-merge default
        # (the op name is kept so older SCALE.md rows stay comparable)
        from siuba_spark.corpus.bpe import DEFAULT_MERGES, bpe_token_count
        merges = list(DEFAULT_MERGES) + [
            (f"zz{i}", f"qq{i}") for i in range(2000)]
        return bpe_token_count(d, merges=merges).df \
            .select("doc_id", "n_bpe_tokens")

    def bpe_50k_arrow(d):
        # GPT-2-size vocabulary (50k merges) through the same tokenizer;
        # filler pairs never match so counts equal bpe_token_count's
        from siuba_spark.corpus.bpe import DEFAULT_MERGES, bpe_token_count
        merges = list(DEFAULT_MERGES) + [
            (f"zz{i}", f"qq{i}") for i in range(50_000)]
        return bpe_token_count(d, merges=merges).df \
            .select("doc_id", "n_bpe_tokens")

    OPS = {
        "exact_dedup": lambda d: exact_dedup(d, cols=("text",)).df,
        "bpe_token_count": bpe_true,
        "bpe_bc_2k": bpe_bc_2k,
        "bpe_50k_arrow": bpe_50k_arrow,
        "minhash_near_dups": lambda d: minhash_near_dups(d, threshold=0.7).df,
        "dedup_chain": dedup_chain,
        "lsh_topk_768": lsh_topk_768,
        "pq_topk_768": pq_topk_768,
        "ivf_lloyd_768": ivf_lloyd_768,
        "semantic_dedup_64": semantic_dedup_64,
        "semantic_int8_64": semantic_int8_64,
        "semantic_incr_64": semantic_incr_64,
        "semantic_768": semantic_768,
        "semantic_int8_768": semantic_int8_768,
        "semantic_skew_64": semantic_skew_64,
        "semantic_drift_stale_64": semantic_drift_stale_64,
        "semantic_drift_compact_64": semantic_drift_compact_64,
        "quantize_emb_64": quantize_emb_64,
        "quality_chain": quality_chain,
        "simhash": lambda d: add_simhash(d, bits=16, id_col="doc_id").df,
        "quality_signals": lambda d: quality_signals(d).df,
        "dedup_segments": lambda d: dedup_segments(d, sep=" ").df,
        # r11 hot-key rigs: new aggregate vs the r10 Window counterfactual
        "segdedup_hot": segdedup_hot,
        "segdedup_hot_window": segdedup_hot_window,
        "span_hot": span_hot,
        "span_hot_window": span_hot_window,
        "domain_cap_hot": domain_cap_hot,
        "domain_cap_hot_salted": domain_cap_hot_salted,
        # r12: add_count join-vs-window on the same 10%-hot key
        "add_count_hot_join": add_count_hot_join,
        "add_count_hot_window": add_count_hot_window,
        # r13: mutate(_agg_method=) join-vs-window on the same hot key
        "zscore_hot_join": zscore_hot_join,
        "zscore_hot_window": zscore_hot_window,
        # ExactSubstr span dedup: the scale rig's id-shifted copies are a
        # deliberately ADVERSARIAL corpus (every copy duplicates ~the whole
        # base doc, so ~90% of windows are dup starts and the covered-
        # position explode runs at its k× worst case) — the decade ratio
        # still has to stay ~linear because every stage is a projection or
        # a linear shuffle
        "substring_dedup": lambda d: substring_dedup(d, k=16).df,
        # snapshot path: halves by id through the gram store — the two-
        # snapshot total should track the from-scratch cost (each gram is
        # windowed once in whichever snapshot first carries it; the store
        # join is linear), not exceed it
        "substring_incr": substring_incr,
        "ngram_contamination": lambda d: ngram_contamination(
            d, bench_docs(d), n=5).df,
        "unigram_logprob": lambda d: unigram_logprob(d).df,
        "lm_chain": lm_chain,
        "lm3_chain": lm3_chain,
        "lm3_chain_pruned": lm3_chain_pruned,
        "url_chain": url_chain,
        "url_norm_chain": url_norm_chain,
        "text_stats": lambda d: text_stats(d).df,
        "fingerprint": lambda d: fingerprint(d).df,
    }
    if only is not None:
        OPS = {k: v for k, v in OPS.items() if k in only}

    def run(loader, op):
        from siuba_spark import release_all_pins
        t0 = time.perf_counter()
        OPS[op](loader()).write.format("noop").mode("overwrite").save()
        release_all_pins()
        return time.perf_counter() - t0

    # warmup pass at 1x absorbs codegen JIT
    for op in OPS:
        try:
            run(load_small, op)
        except Exception as exc:
            print(f"warmup error {op}: {exc}", file=sys.stderr)

    print(f"{'op':22s} {'1x sec':>8s} {f'{mult}x sec':>9s} {'ratio':>7s} "
          f"{'1x shMB':>8s} {f'{mult}x shMB':>9s}  "
          f"(rows {n_base} -> {n_base * mult})")
    failed = []

    def timed(loader, op):
        b0 = shuffle_write_bytes()
        t = min(run(loader, op) for _ in range(2))
        b1 = shuffle_write_bytes()
        mb = ((b1 - b0) / 2 / 1e6) if (b0 is not None and b1 is not None) \
            else float("nan")
        return t, mb

    try:
        for op in OPS:
            # an op failing at mult-x is exactly the finding this tool
            # exists for — report it and keep measuring the rest
            try:
                t1, m1 = timed(load_small, op)
                tm, mm = timed(load_big, op)
                print(f"{op:22s} {t1:8.2f} {tm:9.2f} {tm / t1:7.2f} "
                      f"{m1:8.1f} {mm:9.1f}")
            except Exception as exc:
                failed.append(op)
                print(f"{op:22s}  FAILED at scale: {str(exc)[:120]}")
    finally:
        shutil.rmtree(big_path, ignore_errors=True)
        spark.stop()
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
