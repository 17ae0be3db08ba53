"""Layered benchmark for siuba_spark: one closed-loop client, one query at
a time, on ``local[1]``, with the timed passes on one CPU.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Each query sample is timed in layers: ``build`` (the query-builder call:
siu -> functions -> operators/corpus -> plans), ``catalyst`` (planning the
built DataFrame's queryExecution), ``exec`` (the noop-sink action) and
``release`` (``release_all_pins()``).  The untraced run (``--trace 0``)
prints the end-to-end metrics; the traced run (``--trace 1``) wraps the
package's entry points, reads Spark's status tracker and store, calls
``lint_plan`` and prints the per-layer metrics.  Both finish with the
correctness gate.  The last stdout line is one JSON object.  See
README.md in this directory.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
EXPECTED = os.path.join(HERE, "expected.json")
DRIVER_MEMORY = "1g"
# The heap is committed but not pre-touched, so peak RSS counts only the
# pages the JVM used: the young generation, the old generation's high
# water mark (where cached and persisted data end up) and non-heap.  A
# fixed young generation keeps G1's adaptive sizing out of that number.
# Only the C1 compiler: its code is ready after a pass or two, where C2
# keeps compiling for a dozen passes and its threads compete with the
# queries for the one timed CPU.  No perf-data file in /tmp.
JVM_OPTIONS = (f"-Xms{DRIVER_MEMORY} -Xmn256m -XX:TieredStopAtLevel=1 "
               "-XX:-UsePerfData")
# The smallest share of a traced query's span its layer spans must cover.
COVERAGE_MIN = 0.95
# Warm-up passes before timing: the first pass pays JVM start-up, JIT and
# code generation.
WARMUP_PASSES = 1
# Timed passes an untraced run makes at least, so that each query's
# median has a sample on either side of it: the first timed pass is still
# a little slow and is the one the median drops.
MIN_PASSES = 3

import datagen  # noqa: E402
import layers  # noqa: E402
from workloads import WORKLOADS, pass_order  # noqa: E402

now = time.perf_counter

END_TO_END = {"setup_s": "s", "pass_s": "s", "query_p50_s": "s",
              "query_tail_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "build.s": "s", "build.py_self_s": "s", "build.py4j_calls": "count",
    "build.py4j_s": "s", "build.eager_jobs": "count", "build.eager_s": "s",
    "functions.lower_calls": "count", "functions.lower_s": "s",
    "operators.verb_calls": "count", "operators.verb_s": "s",
    "corpus.calls": "count", "corpus.s": "s",
    "plans.pins_released": "count", "plans.release_s": "s",
    "plans.lint.exchanges": "count", "plans.lint.joins": "count",
    "plans.lint.windows": "count", "plans.lint.scans": "count",
    "catalyst.s": "s", "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.stages_skipped_ratio": "ratio", "exec.tasks": "count",
    "exec.tasks_failed": "count", "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.task_skew": "ratio",
    "trace.pass_s": "s", "trace.untraced_pass_s": "s",
    "trace.overhead_s": "s", "trace.coverage_min": "ratio",
}
# Counts that must repeat exactly between traced passes and runs.
EXACT_COUNTS = ("build.py4j_calls", "build.eager_jobs",
                "functions.lower_calls", "operators.verb_calls",
                "corpus.calls", "plans.pins_released",
                "plans.lint.exchanges", "plans.lint.joins",
                "plans.lint.windows", "plans.lint.scans", "exec.jobs",
                "exec.stages", "exec.tasks", "exec.tasks_failed")
LAYER_SPANS = ("build", "catalyst", "exec", "release")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# -- hermetic environment ------------------------------------------------------

def make_run_dir() -> str:
    """A per-run directory for temp files, Spark local dirs, the warehouse
    and the generated inputs; removed when the run ends."""
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    for sub in ("tmp", "local", "warehouse", "data"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # the JVM that spark-submit starts to build the driver's command line
    # would otherwise write its perf data under /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        filter(None, [os.environ.get("SPARK_LAUNCHER_OPTS"),
                      "-XX:-UsePerfData"]))
    # Python workers import siuba_spark from any working directory
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return run_dir


def set_cpus(cpus) -> None:
    """Move every thread of this run's processes (this one, the local JVM
    and its Python workers) onto ``cpus``.  Threads started later inherit
    the set from the thread that starts them."""
    for pid in layers.process_tree():
        with contextlib.suppress(OSError):
            for tid in os.listdir(f"/proc/{pid}/task"):
                with contextlib.suppress(OSError):
                    os.sched_setaffinity(int(tid), cpus)


def start_spark(run_dir: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(run_dir, "tmp")
    spark = (
        # one executor thread: the timed passes run on one CPU
        SparkSession.builder.master("local[1]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} {JVM_OPTIONS}")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(run_dir, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the local JVM, and wait until every process
    this run started has ended."""
    from pyspark import SparkContext

    tree = [p for p in layers.process_tree() if p != os.getpid()]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        alive = [p for p in tree if _alive(p)]
        if not alive:
            return
        for pid in alive:
            with contextlib.suppress(OSError):
                os.kill(pid, sig)
        deadline = now() + 5
        while now() < deadline and any(_alive(p) for p in alive):
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def persisted_rdds(sc) -> int:
    return sc._jsc.getPersistentRDDs().size()


def unpersist_all(sc) -> None:
    for rdd in list(sc._jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)


# -- one query sample ------------------------------------------------------------

class Bench:
    def __init__(self, spark, data_dir, workload):
        import __spark_entry__ as entry
        from siuba_spark import release_all_pins

        self.spark = spark
        self.sc = spark.sparkContext
        self.data_dir = data_dir
        self.names = WORKLOADS[workload]
        self.queries = entry.queries()
        self.release_all_pins = release_all_pins
        self.spans = layers.Spans()
        self.tracer = None

    def sample(self, name: str, tag: str, parent=None) -> dict:
        """Build, plan, run and release one query.  With a tracer the
        sample also carries its per-layer metrics and spans."""
        tracer, sc = self.tracer, self.sc
        rec = {"query": name, "ok": False}
        tq = now()
        if tracer is not None:
            sc.setJobGroup(f"{tag}-pre", name)
        t0 = t1 = t2 = t3 = now()
        try:
            if tracer is not None:
                tracer.layer = "build"
            df = self.queries[name](self.spark, self.data_dir)
            t1 = now()
            if tracer is not None:
                tracer.layer = "catalyst"
            qe = df._jdf.queryExecution()
            qe.executedPlan().toString()
            t2 = now()
            if tracer is not None:
                tracer.layer = "exec"
                sc.setJobGroup(f"{tag}-exec", name)
            df.write.format("noop").mode("overwrite").save()
            t3 = now()
            if tracer is not None:
                tracer.layer = "release"
            pins = self.release_all_pins()
            t4 = now()
            rec["ok"] = True
        except Exception as exc:  # counted in fail_frac
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
            self.release_all_pins()
            t4 = now()
        finally:
            if tracer is not None:
                tracer.layer = None
        rec["wall_s"] = t4 - t0
        leaked = persisted_rdds(sc)
        if leaked:
            rec["ok"] = False
            rec["error"] = f"{leaked} persisted RDDs left after release_all_pins()"
            unpersist_all(sc)
        t5 = now()
        if tracer is None or not rec["ok"]:
            return rec

        # The query span holds the layers and the harness's own calls
        # around them: setting the job group and the leak check.  What the
        # tracer does after t5 gets a "trace" span beside the query.
        q = self.spans.add("query", parent, tq, t5, query=name)
        spans = list(zip(LAYER_SPANS, ((t0, t1), (t1, t2), (t2, t3),
                                       (t3, t4))))
        for layer, (a, b) in spans:
            self.spans.add(layer, q, a, b)
        rec["layers_s"] = layers.union_length(iv for _, iv in spans)
        rec["span_s"] = t5 - tq
        rec["coverage"] = rec["layers_s"] / rec["span_s"]
        layers.wait_for_listeners(sc)
        pre = layers.job_ids(sc, f"{tag}-pre")
        rec.update(tracer.take())
        rec.update({
            "build.s": t1 - t0, "catalyst.s": t2 - t1, "exec.s": t3 - t2,
            "plans.release_s": t4 - t3, "plans.pins_released": pins,
            "build.eager_jobs": len(pre),
            "build.eager_s": layers.jobs_wall_s(sc, pre),
        })
        rec["build.py_self_s"] = rec["build.s"] - rec.get("build.py4j_s", 0.0)
        rec.update(layers.exec_metrics(sc, layers.job_ids(sc, f"{tag}-exec")))
        rec.update(layers.catalyst_phases(qe))
        rec.update(layers.lint_counts(df))
        self.spans.add("trace", parent, t5, now(), query=name)
        return rec

    def run_pass(self, k: int, seed: int, traced: bool, parent=None):
        order = pass_order(self.names, seed, k)
        span = self.spans.open("pass", parent, index=k, traced=traced)
        if traced:
            self.tracer = layers.Tracer(self.sc)
            self.tracer.install()
        try:
            recs = [self.sample(n, f"pb{k}-{i}", span)
                    for i, n in enumerate(order)]
        finally:
            if self.tracer is not None:
                self.tracer.uninstall()
                self.tracer = None
        wall = self.spans.close(span)
        for r in recs:
            r["pass"] = k
        return wall, recs

    def gate(self, expected: dict) -> list[dict]:
        """Fingerprint every query's output and compare with the stored
        expectation; outside any timing."""
        from fingerprint import compare, fingerprint

        out = []
        same_data = expected.get("data") == {**datagen.DATA,
                                             "version": datagen.VERSION}
        for name in self.names:
            problems = []
            try:
                df = self.queries[name](self.spark, self.data_dir)
                got = fingerprint(df.toArrow())
                self.release_all_pins()
                if not same_data:
                    problems.append("expected.json was made from other inputs")
                else:
                    problems += compare(got, expected["queries"].get(name))
            except Exception as exc:
                problems.append(f"raised {type(exc).__name__}: {exc}"[:500])
                self.release_all_pins()
            leaked = persisted_rdds(self.sc)
            if leaked:
                problems.append(
                    f"{leaked} persisted RDDs left after release_all_pins()")
                unpersist_all(self.sc)
            out.append({"query": name, "ok": not problems,
                        "problems": problems})
        return out


# -- aggregation ------------------------------------------------------------------

def end_to_end(setup_s, pass_walls, recs, rss_mb) -> tuple[dict, str]:
    ok = [(r["query"], r["wall_s"]) for r in recs if r["ok"]]
    slowest, tail = layers.slowest_query(ok)
    metrics = {
        "setup_s": setup_s,
        # The median pass, taken query by query: a stall of the machine
        # slows one sample of one query, not the whole pass.
        "pass_s": sum(layers.query_medians(ok).values()),
        "query_p50_s": statistics.median(wall for _, wall in ok),
        "query_tail_s": tail,
        "peak_rss_mb": rss_mb,
    }
    note = f"query_tail_s is {slowest} over {len(pass_walls)} passes"
    return metrics, note


def per_layer(traced_recs, traced_walls, untraced_walls) -> dict:
    by_pass = {}
    for r in traced_recs:
        if r["ok"]:
            by_pass.setdefault(r["pass"], []).append(r)
    sums = []
    for recs in by_pass.values():
        s = {}
        for key in PER_LAYER:
            if key.startswith("trace.") or key in (
                    "exec.task_skew", "exec.stages_skipped_ratio"):
                continue
            s[key] = sum(r.get(key, 0.0) for r in recs)
        s["exec.task_skew"] = max(r.get("exec.task_skew", 1.0) for r in recs)
        skipped = sum(r.get("exec.stages_skipped", 0) for r in recs)
        s["exec.stages_skipped_ratio"] = (
            skipped / s["exec.stages"] if s["exec.stages"] else 0.0)
        sums.append(s)
    out = {k: statistics.median(s[k] for s in sums) for k in sums[0]}
    out["trace.coverage_min"] = layers.coverage_min(
        r for recs in by_pass.values() for r in recs)
    out["trace.pass_s"] = statistics.median(traced_walls)
    out["trace.untraced_pass_s"] = statistics.median(untraced_walls)
    out["trace.overhead_s"] = out["trace.pass_s"] - out["trace.untraced_pass_s"]
    return out


def counts_by_query(recs) -> dict:
    out = {}
    for r in recs:
        out.setdefault(r["query"], []).append(
            {k: r.get(k, 0) for k in EXACT_COUNTS})
    return out


def code_digest() -> str:
    """A digest of the package's and the benchmark's sources.  Counts are
    compared with the previous traced run only when it ran the same code."""
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for top in (os.path.join(ROOT, "siuba_spark"), HERE):
        for d, dirs, names in os.walk(top):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith(".py")]
    h = hashlib.sha256()
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def write_trace(workload, seed, bench, traced_recs, metrics) -> dict:
    """Write the span file and the per-query per-layer record; compare the
    counts with the previous traced run on this workload, seed and code."""
    trace_dir = os.path.join(STATE, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    base = os.path.join(trace_dir, f"{workload}-seed{seed}")
    spans = bench.spans.items
    self_s = layers.self_times(spans)
    t0 = min(s["start"] for s in spans)
    with open(base + ".spans.jsonl", "w") as fh:
        for s in spans:
            fh.write(json.dumps({**s, "start": s["start"] - t0,
                                 "end": s["end"] - t0,
                                 "self_s": self_s[s["id"]]}) + "\n")
    counts = counts_by_query(traced_recs)
    repeat_in_run = all(all(c == v[0] for c in v) for v in counts.values())
    first = {q: v[0] for q, v in counts.items()}
    code = code_digest()
    prev = None
    with contextlib.suppress(OSError, ValueError, KeyError):
        with open(base + ".layers.json") as fh:
            old = json.load(fh)
        if old["code"] == code:
            prev = old["counts"] == first
    record = {"workload": workload, "seed": seed, "code": code,
              "metrics": metrics, "counts": first,
              "counts_repeat_in_run": repeat_in_run,
              "counts_repeat_previous_run": prev,
              "samples": traced_recs}
    with open(base + ".layers.json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    return record


def trace_checks(metrics, record) -> list[dict]:
    """The traced run's own checks.  Each failed one counts as a failure
    of the run."""
    cov = metrics["trace.coverage_min"]
    checks = [
        ("trace.coverage", cov >= COVERAGE_MIN,
         f"layer spans cover only {cov:.3f} of a query's span"),
        ("trace.counts_in_run", record["counts_repeat_in_run"],
         "counts differ between the run's traced passes"),
        ("trace.counts_previous_run",
         record["counts_repeat_previous_run"] is not False,
         "counts differ from the previous traced run on this seed"),
    ]
    return [{"query": name, "ok": bool(ok), "problems": [] if ok else [msg]}
            for name, ok, msg in checks]


# -- main ---------------------------------------------------------------------------

def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="siuba_spark layered benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def measure(args, run_dir):
    data_dir = os.path.join(run_dir, "data")
    t = now()
    datagen.write(data_dir)
    gen_s = now() - t
    with open(EXPECTED) as fh:
        expected = json.load(fh)

    # set-up: session start, schema reads, warm-up passes
    import __spark_entry__  # noqa: F401  (fails fast outside a checkout)

    phases = {}
    spark = start_spark(run_dir)
    try:
        bench = Bench(spark, data_dir, args.workload)
        for table in datagen.TABLES:
            spark.read.parquet(os.path.join(data_dir, f"{table}.parquet")).schema
        t_warm = now()
        warm = [bench.sample(n, "warm") for _ in range(WARMUP_PASSES)
                for n in bench.names]
        setup_s = now() - PROCESS_START - gen_s
        phases.update(inputs=gen_s, session=t_warm - PROCESS_START - gen_s,
                      warm_up=now() - t_warm)

        run_span = bench.spans.open("run", workload=args.workload,
                                    seed=args.seed)
        walls = {False: [], True: []}
        recs = {False: [], True: []}
        # The timed passes run on one CPU.  On a shared virtual machine the
        # host now and then takes CPUs away; a run spread over several
        # CPUs waits for each of them at every hand-over between Python,
        # the JVM and its threads, so its wall time moved two to three
        # times as much as the CPU time the host took.  Set-up and the
        # gate use every CPU.
        all_cpus = os.sched_getaffinity(0)
        set_cpus({max(all_cpus)})
        try:
            t_start, k, steal0 = now(), 0, layers.steal_s()
            while True:
                traced = bool(args.trace) and k % 2 == 1
                wall, rs = bench.run_pass(k, args.seed, traced, run_span)
                walls[traced].append(wall)
                recs[traced].extend(rs)
                k += 1
                enough = now() - t_start >= args.seconds
                if args.trace:
                    enough = enough and len(walls[True]) >= 2
                else:
                    enough = enough and len(walls[False]) >= MIN_PASSES
                if enough:
                    break
            steal = layers.steal_s() - steal0
        finally:
            set_cpus(all_cpus)
        phases["passes"] = bench.spans.close(run_span)
        rss_mb = layers.peak_rss_mb()
        t = now()
        checks = bench.gate(expected)
        phases["gate"] = now() - t
    finally:
        t = now()
        stop_spark(spark)
        phases["stop"] = now() - t
    log("pass seconds: " + " ".join(
        f"{w:.2f}" for w in walls[False] + walls[True])
        + f"; CPU time stolen by the host during them: {steal:.1f} s")
    log("phase seconds: " + ", ".join(f"{k} {v:.1f}" for k, v in phases.items())
        + f"; total {now() - PROCESS_START:.1f}")

    if args.trace:
        metrics = per_layer(recs[True], walls[True], walls[False])
        record = write_trace(args.workload, args.seed, bench, recs[True],
                             metrics)
        checks += trace_checks(metrics, record)
        note = (f"trace record {os.path.relpath(STATE, ROOT)}/trace; "
                f"coverage_min {metrics['trace.coverage_min']:.4f}; "
                f"counts repeat in run {record['counts_repeat_in_run']}, "
                f"vs previous run {record['counts_repeat_previous_run']}")
        units = PER_LAYER
    else:
        metrics, note = end_to_end(setup_s, walls[False], recs[False], rss_mb)
        units = END_TO_END
    samples = warm + recs[False] + recs[True]
    failed = [r for r in samples if not r["ok"]] + [
        c for c in checks if not c["ok"]]
    attempted = len(samples) + len(checks)
    for f in failed:
        log(f"FAILED {f['query']}: {f.get('error') or f.get('problems')}")
    summary = (f"workload={args.workload} seed={args.seed} "
               f"passes={len(walls[False]) + len(walls[True])} "
               f"fail_frac={len(failed)}/{attempted}; {note}")
    return {
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }, summary


def main(argv=None) -> int:
    args = parse_args(argv)
    run_dir = None
    out = sys.stdout
    try:
        run_dir = make_run_dir()
        # keep stdout for the result: anything the engine prints goes to
        # stderr
        with contextlib.redirect_stdout(sys.stderr):
            result, summary = measure(args, run_dir)
    except Exception:
        log("run failed:\n" + traceback.format_exc())
        return 2
    finally:
        if run_dir is not None:
            shutil.rmtree(run_dir, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(STATE)
    print(f"perfbench: {summary}", file=out)
    print(json.dumps(result), file=out, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
