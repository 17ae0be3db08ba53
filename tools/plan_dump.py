"""Dump .explain("formatted") physical plans for named bench queries to
plans/<round>/<query>_<tag>.txt (optimization claims are checked against
these committed artifacts).

    python tools/plan_dump.py r13 before semantic_dedup,lang_id_ngram SF_DIR

Plan generation is driver-side; queries that run eager driver jobs while
building (training collects, store writes) do that work but nothing is
fully executed.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    rnd, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3].split(",")
    sf = sys.argv[4]
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
        .appName("siuba_spark-plan-dump")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry
    from siuba_spark import release_all_pins
    qs = entry.queries()
    qs["simhash_prod"] = entry.q_simhash_prod
    qs["minhash_near_dups_prod"] = entry.q_minhash_near_dups_prod
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(here, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        release_all_pins()
        print(f"wrote {path} ({plan.count('Exchange')} Exchange, "
              f"{plan.count('SortMergeJoin')} SMJ, "
              f"{plan.count('BroadcastHashJoin')} BHJ)")
    spark.stop()


if __name__ == "__main__":
    main()
