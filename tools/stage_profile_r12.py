"""Per-stage wall-clock profiling of the expensive r12 bench queries
(guide §1: measure first, isolate with the noop sink, label jobs).

    python tools/stage_profile_r12.py semantic [sf_dir]

Each probe times an ISOLATED sub-stage of one expensive query with the
noop sink, min-of-3 after one warmup, so the per-stage split of the
headline number is measured rather than guessed.  Not part of the bench
contract — a diagnosis tool only.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def timeit(spark, name, fn, reps=3):
    fn()  # warmup
    best = None
    for _ in range(reps):
        spark.sparkContext.setJobDescription(name)
        t0 = time.perf_counter()
        fn()
        e = time.perf_counter() - t0
        best = e if best is None else min(best, e)
    spark.sparkContext.setJobDescription(None)
    print(f"{name:45s} {best:7.3f} s")
    return best


def profile_semantic(spark, sf):
    from pyspark.sql import functions as F

    from siuba_spark.corpus.dedup import dedup_clusters, drop_near_dups
    from siuba_spark.corpus.similarity import (
        _cells_and_centers, semantic_dedup)
    from siuba_spark.plans.tbl import SparkTbl

    emb = SparkTbl(spark.read.parquet(f"{sf}/embeddings.parquet"))
    kw = dict(threshold=0.35, n_lists=8, centroids="sample")

    def assigned_df():
        a, _c = _cells_and_centers(emb, "vec_id", "embedding", 8,
                                   "sample", 2, 42, None)
        return a

    timeit(spark, "semantic: assignment only",
           lambda: _noop(assigned_df()))

    def pairs_df():
        _d, pairs = semantic_dedup(emb, return_pairs=True, **kw)
        return pairs.df

    timeit(spark, "semantic: pairs (assign+join+score)",
           lambda: _noop(pairs_df()))

    from siuba_spark import release_all_pins
    release_all_pins()
    pairs_m = pairs_df().localCheckpoint()
    timeit(spark, "semantic: CC only (pairs precomputed)",
           lambda: _noop(dedup_clusters(SparkTbl(pairs_m)).df))
    timeit(spark, "semantic: full drop_near_dups on precomputed pairs",
           lambda: _noop(drop_near_dups(emb, SparkTbl(pairs_m),
                                        id_col="vec_id").df
                         .select("vec_id")))
    timeit(spark, "semantic: FULL query",
           lambda: _noop(semantic_dedup(emb, **kw).df.select("vec_id")))
    release_all_pins()


def profile_langid(spark, sf):
    from pyspark.sql import functions as F

    from siuba_spark.corpus.text import (_ranked_grams, lang_id,
                                         lang_profile_train)
    from siuba_spark.plans.tbl import SparkTbl

    docs = SparkTbl(spark.read.parquet(f"{sf}/documents.parquet"))
    prof = lang_profile_train(docs, "lang", "text", n=3, k=64)
    prof_m = prof.localCheckpoint()
    timeit(spark, "langid: profile train only", lambda: _noop(prof))
    timeit(spark, "langid: doc top-k ranking only",
           lambda: _noop(_ranked_grams(docs.df.select("doc_id", "text"),
                                       "doc_id", "text", 3, 64)))
    timeit(spark, "langid: classify (trained profile reused)",
           lambda: _noop(lang_id(docs, prof_m, n=3, k=64).df
                         .select("doc_id", "lang_pred")))
    timeit(spark, "langid: FULL train+classify",
           lambda: _noop(lang_id(docs, prof, n=3, k=64).df
                         .select("doc_id", "lang_pred")))


def profile_lm(spark, sf):
    from pyspark.sql import functions as F

    from siuba_spark.corpus.quality import lm_logprob, lm_train
    from siuba_spark.plans.tbl import SparkTbl

    docs = SparkTbl(spark.read.parquet(f"{sf}/documents.parquet"))
    a = SparkTbl(docs.df.filter(F.col("doc_id") < 250))
    b = SparkTbl(docs.df.filter(F.col("doc_id") >= 250))
    for order in (2, 3):
        prof = lm_train(a, order=order)
        prof_m = prof.localCheckpoint()
        timeit(spark, f"lm{order}: train only", lambda: _noop(prof))
        timeit(spark, f"lm{order}: score only (profile reused)",
               lambda: _noop(lm_logprob(b, prof_m, order=order).df
                             .select("doc_id", "lm_logprob")))


PROFILES = {"semantic": profile_semantic, "langid": profile_langid,
            "lm": profile_lm}


def main():
    which = sys.argv[1] if len(sys.argv) > 1 else "semantic"
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    from pyspark.sql import SparkSession
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .appName("siuba_spark-stage-profile")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf}/lineitem.parquet").count()  # JVM warmup
    for w in which.split(","):
        print(f"--- {w} @ {sf} ---")
        PROFILES[w](spark, sf)
    spark.stop()


if __name__ == "__main__":
    main()
