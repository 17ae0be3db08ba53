"""Sources: the parquet schema cache behind ``tbl(spark, path)`` and
``local_table``, the one place the package builds a DataFrame from
driver-side rows."""

import ast
import datetime as dt
import os
import pathlib
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import types as T

from siuba_spark import tbl, write_shards
from siuba_spark.plans.tbl import local_table

PKG = pathlib.Path(__file__).resolve().parent.parent / "siuba_spark"


def _frame(spark, cols):
    ddl = ", ".join(f"{c} long" for c in cols)
    return spark.createDataFrame(
        [tuple(i * 10 + j for j in range(len(cols))) for i in range(4)], ddl)


def test_schema_cache_sees_write_shards_overwrite(spark, tmp_path):
    """tbl() must not replay a cached schema after write_shards rewrites
    the path with other columns (before: ['id', 'x'] came back with x all
    NULL and y, z silently lost)."""
    p = str(tmp_path / "t.parquet")
    _frame(spark, ["id", "x"]).write.parquet(p)
    assert tbl(spark, p).columns == ["id", "x"]
    write_shards(tbl(_frame(spark, ["id", "y", "z"])), p, n_shards=2)
    t = tbl(spark, p)
    assert t.columns == ["id", "y", "z"]
    assert sorted(r.z for r in t.df.collect()) == [2, 12, 22, 32]


def test_schema_cache_sees_raw_write_overwrite(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    _frame(spark, ["id", "x"]).write.parquet(p)
    assert tbl(spark, p).columns == ["id", "x"]
    _frame(spark, ["id", "y", "z"]).write.mode("overwrite").parquet(p)
    assert tbl(spark, p).columns == ["id", "y", "z"]
    # an unchanged path replays the cached schema: no inference job
    assert tbl(spark, p).columns == ["id", "y", "z"]


def test_schema_cache_is_per_application(tmp_path):
    """A new session never replays a stopped one's entry, even when the
    path's modification time is the same (here: reset by hand)."""
    script = textwrap.dedent(f"""
        import os, sys
        sys.path.insert(0, {str(PKG.parent)!r})
        import pyarrow as pa, pyarrow.parquet as pq
        from pyspark.sql import SparkSession
        from siuba_spark import tbl
        from siuba_spark.plans.tbl import _PARQUET_SCHEMA_CACHE

        def session():
            s = (SparkSession.builder.master("local[1]")
                 .config("spark.ui.enabled", "false").getOrCreate())
            s.sparkContext.setLogLevel("ERROR")
            return s

        p = {str(tmp_path / "t.parquet")!r}
        os.makedirs(p)
        pq.write_table(pa.table({{"id": [1], "x": [2]}}), p + "/a.parquet")
        st = os.stat(p)
        s = session()
        assert tbl(s, p).columns == ["id", "x"]
        s.stop()
        os.remove(p + "/a.parquet")
        pq.write_table(pa.table({{"id": [1], "y": [2], "z": [3]}}),
                       p + "/b.parquet")
        os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns))
        s = session()
        print(tbl(s, p).columns, len(_PARQUET_SCHEMA_CACHE))
        s.stop()
    """)
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    out = subprocess.run([sys.executable, "-c", script], env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "['id', 'y', 'z'] 2"


_KEY_CASES = [
    (T.ByteType(), [1, -3, None]),
    (T.ShortType(), [300, None]),
    (T.IntegerType(), [2 ** 31 - 1, None]),
    (T.LongType(), [2 ** 62, -1, None]),
    (T.StringType(), ["a", "é", None]),
    (T.BinaryType(), [bytearray(b"ab"), b"\x00", None]),
    (T.DateType(), [dt.date(2020, 1, 1), dt.date(1969, 12, 31), None]),
    (T.TimestampType(), [dt.datetime(2020, 3, 8, 2, 30, 0, 123456),
                         dt.datetime(1970, 1, 1), None]),
]


@pytest.mark.parametrize("typ,vals", _KEY_CASES,
                         ids=[c[0].simpleString() for c in _KEY_CASES])
def test_local_table_round_trips_like_the_row_path(spark, typ, vals):
    """Every dedup_clusters union-find key type comes back exactly as
    createDataFrame(list) builds it — timestamps too when the session
    time zone differs from the process time zone."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        schema = T.StructType([T.StructField("id", typ),
                               T.StructField("cluster", typ)])
        rows = [(v, v) for v in vals]
        got = local_table(spark, rows, schema)
        want = spark.createDataFrame(rows, schema)
        assert got.schema == want.schema
        as_text = ("*", "cast(id as string) AS s")
        assert (got.selectExpr(*as_text).collect()
                == want.selectExpr(*as_text).collect())
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_local_table_ddl_nested_and_empty(spark):
    rows = list(enumerate([[1.0, 2.0], [3.0, 4.5]]))
    got = local_table(spark, rows, "__cell long, __center array<double>")
    want = spark.createDataFrame(rows, ["__cell", "__center"])
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    empty = local_table(spark, [], "k long, v array<array<double>>")
    assert empty.count() == 0
    assert empty.columns == ["k", "v"]


def test_local_table_needs_no_python_worker(spark):
    """The table is a JVM-side relation: no Python RDD in its plan."""
    df = local_table(spark, [(1, "a")], "k long, v string")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan


def _local_table_lines(tree):
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == "local_table":
            return range(node.lineno, node.end_lineno + 1)
    return range(0)


def test_no_create_dataframe_outside_local_table():
    """Driver-side tables go through plans.tbl.local_table, so none of
    them pickles its rows through a Python worker; docstring examples
    (``>>>`` / ``...`` lines) are exempt."""
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        exempt = _local_table_lines(ast.parse(src))
        for no, line in enumerate(src.splitlines(), 1):
            stripped = line.strip()
            if ("createDataFrame(" in line and no not in exempt
                    and not stripped.startswith((">>>", "..."))):
                offenders.append(f"{path.relative_to(PKG.parent)}:{no}")
    assert not offenders, offenders
