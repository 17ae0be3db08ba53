"""Regenerate ``expected.json``, the correctness gate's fingerprints.

    python3 perfbench/make_expected.py

For every query of every workload the expected fingerprint comes from the
query's DuckDB oracle (``__spark_entry__.oracle_sql()``) run over the same
generated inputs, where an oracle exists, and from the current Spark
output otherwise.  For oracle queries the Spark output must agree with
the oracle; the script reports any that do not and exits non-zero.
Run it only when the inputs or the workload lists change: expectations
made from Spark output pin that commit's results.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys

import run
from fingerprint import fingerprint
from workloads import WORKLOADS


def main() -> int:
    import duckdb

    run_dir = run.make_run_dir()
    data_dir = os.path.join(run_dir, "data")
    try:
        run.datagen.write(data_dir)
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for t in run.datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{data_dir}/{t}.parquet'")
        spark = run.start_spark(run_dir)
        bad = []
        try:
            queries = entry.queries()
            from siuba_spark import release_all_pins
            names = sorted({n for names in WORKLOADS.values()
                            for n in names})
            out = {}
            for name in names:
                got = fingerprint(queries[name](spark, data_dir).toArrow())
                release_all_pins()
                if name in oracles:
                    want = fingerprint(con.execute(oracles[name]).arrow())
                    if want != got:
                        bad.append(name)
                        print(f"{name}: spark {got} != duckdb {want}",
                              file=sys.stderr)
                    out[name] = {**want, "source": "duckdb"}
                else:
                    out[name] = {**got, "source": "spark"}
                print(f"{name}: {out[name]['source']} rows="
                      f"{out[name]['rows']}", file=sys.stderr)
        finally:
            run.stop_spark(spark)
        with open(run.EXPECTED, "w") as fh:
            json.dump({"data": {**run.datagen.DATA,
                                "version": run.datagen.VERSION},
                       "queries": out}, fh, indent=1, sort_keys=True)
            fh.write("\n")
        return 1 if bad else 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(run.STATE)


if __name__ == "__main__":
    sys.exit(main())
