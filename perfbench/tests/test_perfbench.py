"""Tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

import json
import math
import os
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402
import layers  # noqa: E402
from fingerprint import compare, fingerprint  # noqa: E402
from workloads import WORKLOADS, pass_order  # noqa: E402


# -- spans -----------------------------------------------------------------

def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "name": f"s{i}", "start": start,
            "end": end}


def test_self_time_subtracts_children():
    spans = [_span(0, None, 0.0, 10.0),     # query
             _span(1, 0, 1.0, 4.0),         # build
             _span(2, 0, 4.0, 6.0),         # catalyst
             _span(3, 1, 2.0, 3.0)]         # nested under build
    st = layers.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)


def test_self_time_counts_overlapping_children_once():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 5.0),
             _span(2, 0, 3.0, 7.0), _span(3, 0, 9.0, 12.0)]
    # children cover [1, 7] and [9, 10] inside the parent
    assert layers.self_times(spans)[0] == pytest.approx(10.0 - 7.0)


def test_spans_record_parent_ids():
    s = layers.Spans()
    run = s.open("run")
    p = s.open("pass", run)
    q = s.add("query", p, 1.0, 2.0, query="tpch_q1")
    s.close(p)
    s.close(run)
    assert [x["parent"] for x in s.items] == [None, run, p]
    assert s.items[q]["query"] == "tpch_q1"


def test_coverage_is_per_query_over_its_samples():
    samples = [{"query": "a", "layers_s": 0.38, "span_s": 0.40},   # 0.95
               {"query": "a", "layers_s": 0.40, "span_s": 0.40},
               {"query": "b", "layers_s": 0.96, "span_s": 1.00}]
    assert layers.coverage_min(samples) == pytest.approx(0.96)
    samples.append({"query": "b", "layers_s": 0.5, "span_s": 1.0})
    assert layers.coverage_min(samples) == pytest.approx(1.46 / 2.0)


# -- tail: the slowest query ----------------------------------------------

def test_tail_is_the_slowest_querys_median():
    samples = [("a", 1.0), ("b", 2.0), ("a", 1.2), ("b", 9.0), ("b", 2.2),
               ("c", 3.0), ("c", 3.1), ("c", 2.9)]
    # b has the slowest single sample, c the slowest median
    assert layers.slowest_query(samples) == ("c", 3.0)


def test_query_medians_drop_one_stalled_sample_per_query():
    samples = [("a", 1.0), ("b", 2.0), ("a", 1.1), ("b", 7.0), ("a", 5.0),
               ("b", 2.1)]
    assert layers.query_medians(samples) == {"a": 1.1, "b": 2.1}


def test_tail_does_not_depend_on_the_number_of_passes():
    one = [("a", 1.0), ("b", 2.0)]
    assert layers.slowest_query(one) == ("b", 2.0)
    assert layers.slowest_query(one * 5) == ("b", 2.0)
    assert layers.slowest_query(one + [("b", 3.0)]) == ("b", 2.5)


# -- entry-point wrappers ---------------------------------------------------

def test_nested_wrapped_calls_count_once():
    tracer = layers.Tracer(sc=None)
    verb = ("operators.verb_calls", "operators.verb_s")
    lower = ("functions.lower_calls", "functions.lower_s")
    low = tracer._timed(lambda x: x, *lower)
    mutate = tracer._timed(lambda x: low(x) + 1, *verb)
    # e.g. transmute and count call mutate: separate wrappers, one metric
    transmute = tracer._timed(lambda x: mutate(x) * 2, *verb)
    assert transmute(1) == 4
    assert mutate(1) == 2
    counts = tracer.take()
    assert counts["operators.verb_calls"] == 2
    assert counts["functions.lower_calls"] == 2
    assert tracer.take() == {}


def test_wrapper_depth_recovers_after_an_exception():
    tracer = layers.Tracer(sc=None)

    def boom():
        raise ValueError("boom")

    verb = ("operators.verb_calls", "operators.verb_s")
    failing, ok = tracer._timed(boom, *verb), tracer._timed(lambda: 1, *verb)
    with pytest.raises(ValueError):
        failing()
    ok()
    assert tracer.take()["operators.verb_calls"] == 2


def test_trace_checks_fail_the_run():
    import run

    fine = run.trace_checks({"trace.coverage_min": 0.99},
                            {"counts_repeat_in_run": True,
                             "counts_repeat_previous_run": None})
    assert all(c["ok"] for c in fine)
    bad = run.trace_checks({"trace.coverage_min": 0.9},
                           {"counts_repeat_in_run": False,
                            "counts_repeat_previous_run": False})
    assert [c["ok"] for c in bad] == [False, False, False]
    assert all(c["problems"] for c in bad)


# -- fingerprints ----------------------------------------------------------

def _table(**cols):
    return pa.table(cols)


def test_fingerprint_ignores_column_and_row_order():
    a = _table(k=[1, 2, 3], v=["x", "y", None])
    b = _table(v=[None, "x", "y"], k=[3, 1, 2])
    assert fingerprint(a) == fingerprint(b)


def test_fingerprint_nulls_nans_and_negative_zero():
    a = _table(x=[None, float("nan"), -0.0, 1e-12])
    b = _table(x=[0.0, 0.0, float("nan"), None])
    assert fingerprint(a) == fingerprint(b)
    # NULL and NaN stay distinct from each other and from zero
    assert fingerprint(_table(x=[None])) != fingerprint(_table(x=[math.nan]))
    assert fingerprint(_table(x=[None])) != fingerprint(_table(x=[0.0]))


def test_fingerprint_numeric_kinds_agree():
    ints = _table(n=pa.array([5, 7], pa.int32()))
    floats = _table(n=[5.0, 7.0])
    decimals = _table(n=pa.array([5, 7], pa.decimal128(38, 0)))
    assert fingerprint(ints) == fingerprint(floats) == fingerprint(decimals)


def test_fingerprint_sees_duplicates_and_nested_values():
    one = _table(k=[1, 2])
    assert fingerprint(one) != fingerprint(_table(k=[1, 2, 2]))
    arr = _table(a=[[1.0, 2.0]])
    assert fingerprint(arr) != fingerprint(_table(a=[[2.0, 1.0]]))
    m1 = pa.table({"m": pa.array([[("a", 1), ("b", 2)]],
                                  pa.map_(pa.string(), pa.int64()))})
    m2 = pa.table({"m": pa.array([[("b", 2), ("a", 1)]],
                                  pa.map_(pa.string(), pa.int64()))})
    assert fingerprint(m1) == fingerprint(m2)


# -- workloads -------------------------------------------------------------

def test_seed_gives_same_order():
    names = WORKLOADS["analytics"]
    for seed in (1, 2, 99):
        assert pass_order(names, seed, 0) == pass_order(names, seed, 0)
        assert sorted(pass_order(names, seed, 3)) == sorted(names)
    assert any(pass_order(names, 1, k) != pass_order(names, 2, k)
               for k in range(3))


def test_datagen_is_deterministic():
    a = datagen.tables(sf=0.001, seed=42)
    b = datagen.tables(sf=0.001, seed=42)
    assert set(a) == set(datagen.TABLES)
    assert all(a[t].equals(b[t]) for t in a)


# -- the gate against the stored, oracle-derived expectations ---------------

@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    duckdb = pytest.importorskip("duckdb")
    import run
    import __spark_entry__ as entry

    data = tmp_path_factory.mktemp("data")
    datagen.write(str(data))
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    with open(run.EXPECTED) as fh:
        expected = json.load(fh)
    return con, entry.oracle_sql(), expected


def test_expected_fingerprints_match_the_oracle(oracle):
    con, sql, expected = oracle
    assert expected["data"]["version"] == datagen.VERSION
    for name, want in expected["queries"].items():
        if want["source"] == "duckdb":
            got = fingerprint(con.execute(sql[name]).arrow())
            assert compare(got, want) == [], name


def test_gate_rejects_perturbed_results(oracle):
    con, sql, expected = oracle
    want = expected["queries"]["tpch_q1"]
    table = con.execute(sql["tpch_q1"]).arrow()
    assert compare(fingerprint(table), want) == []

    col = table.column_names.index("sum_qty")
    vals = table.column(col).to_pylist()
    nudged = table.set_column(col, "sum_qty", pa.array(
        [vals[0] + 1.0] + vals[1:], table.schema.field(col).type))
    assert compare(fingerprint(nudged), want)
    assert compare(fingerprint(table.slice(1)), want)
    assert compare(fingerprint(pa.concat_tables([table, table.slice(0, 1)])),
                   want)
    assert compare(fingerprint(table.drop_columns(["sum_qty"])), want)
