"""Tracing from outside the package: spans, entry-point wrappers and the
readers of Spark's status tracker and status store.

Nothing here edits ``siuba_spark``.  Entry points are wrapped at run time
and restored afterwards:

- ``functions``: the outermost ``functions.lowering.lower`` calls, by
  rebinding every module-level reference to it;
- ``operators`` and ``corpus``: the verbs of those packages, by swapping
  the function held in each verb wrapper's closure, which covers both
  direct calls and ``>>`` pipes; plain ``corpus`` functions are rebound
  like ``lower``;
- py4j: the round trips made while the build layer runs, by wrapping the
  gateway client's ``send_command``.
"""

from __future__ import annotations

import functools
import os
import statistics
import sys
import time
import types
from collections import defaultdict

from py4j.protocol import Py4JJavaError

now = time.perf_counter
GC_COMMAND = "m\nd\n"  # py4j: memory / delete


# -- spans -------------------------------------------------------------------

class Spans:
    """In-memory spans with parent ids; written once when the run ends."""

    def __init__(self):
        self.items: list[dict] = []

    def open(self, name: str, parent: int | None = None, **attrs) -> int:
        self.items.append({"id": len(self.items), "parent": parent,
                           "name": name, "start": now(), "end": None,
                           **attrs})
        return len(self.items) - 1

    def close(self, span_id: int, **attrs) -> float:
        s = self.items[span_id]
        s["end"] = now()
        s.update(attrs)
        return s["end"] - s["start"]

    def add(self, name: str, parent: int | None, start: float, end: float,
            **attrs) -> int:
        self.items.append({"id": len(self.items), "parent": parent,
                           "name": name, "start": start, "end": end,
                           **attrs})
        return len(self.items) - 1


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its children cover."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children[s["id"]]]
        kids = [(a, b) for a, b in kids if b > a]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(kids)
    return out


def coverage_min(samples) -> float:
    """The smallest share of a query's span that its layer spans cover,
    per query over all of its samples (``query``, ``layers_s`` and
    ``span_s`` keys), so that one stalled harness call does not decide
    it."""
    covered, total = defaultdict(float), defaultdict(float)
    for r in samples:
        covered[r["query"]] += r["layers_s"]
        total[r["query"]] += r["span_s"]
    return min(covered[q] / total[q] for q in total)


def query_medians(samples) -> dict[str, float]:
    """Each query's median wall time over its ``(query, wall_s)`` samples."""
    by_query = defaultdict(list)
    for query, wall in samples:
        by_query[query].append(wall)
    return {q: statistics.median(v) for q, v in by_query.items()}


def slowest_query(samples) -> tuple[str, float]:
    """The query with the largest median wall time, and that median.

    ``samples`` are ``(query, wall_s)`` pairs, one per query and pass.  A
    run holds only a few passes, so a high percentile of the pooled
    samples would be the median or the maximum; the slowest query's
    median is the tail a closed-loop client waits for, and it does not
    depend on the number of passes."""
    return max(query_medians(samples).items(),
               key=lambda qv: (qv[1], qv[0]))


# -- process memory ------------------------------------------------------------

def _children_map():
    kids = defaultdict(list)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(pid))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids, out, todo = _children_map(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def peak_rss_mb(root: int | None = None) -> float:
    """Sum of the peak RSS (VmHWM) of every process in the tree, in MB:
    this Python process, the local JVM and its Python workers."""
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def steal_s() -> float:
    """CPU time the hypervisor has taken from this machine's CPUs since
    boot, summed over CPUs (the steal column of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


# -- entry-point wrappers ------------------------------------------------------

def _modules():
    return [m for name, m in list(sys.modules.items())
            if m is not None and (name.startswith("siuba_spark")
                                  or name == "__spark_entry__")]


class Tracer:
    """Counters for the query being traced; ``layer`` names the layer
    the harness is in, so py4j round trips are charged to ``build``."""

    def __init__(self, sc):
        self.sc = sc
        self.layer = None
        self.counters = defaultdict(float)
        self._depth = defaultdict(int)
        self._undo = []

    # Outermost-call timing.  The call depth is shared by every wrapper of
    # one metric, so a verb (or corpus entry point) that calls another is
    # counted and timed once.
    def _timed(self, fn, calls_key, time_key):
        depth, counters = self._depth, self.counters

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if depth[calls_key]:
                return fn(*args, **kwargs)
            depth[calls_key] += 1
            t0 = now()
            try:
                return fn(*args, **kwargs)
            finally:
                depth[calls_key] -= 1
                counters[calls_key] += 1
                counters[time_key] += now() - t0
        return wrapper

    def _rebind(self, obj, replacement):
        for mod in _modules():
            for attr, val in list(vars(mod).items()):
                if val is obj:
                    setattr(mod, attr, replacement)
                    self._undo.append(
                        lambda m=mod, a=attr, v=val: setattr(m, a, v))

    def _swap_verb(self, wrapper, calls_key, time_key):
        # plans.pipe.verb/join_verb keep the verb body in the closure cell
        # "fn", which both direct calls and >> pipes read
        code = wrapper.__code__
        cell = wrapper.__closure__[code.co_freevars.index("fn")]
        orig = cell.cell_contents
        cell.cell_contents = self._timed(orig, calls_key, time_key)
        self._undo.append(lambda: setattr(cell, "cell_contents", orig))

    def install(self):
        import siuba_spark.corpus as corpus
        from siuba_spark.functions import lowering

        self._rebind(lowering.lower, self._timed(
            lowering.lower, "functions.lower_calls", "functions.lower_s"))

        verbs = {}
        for mod in _modules():
            if mod.__name__.startswith("siuba_spark.operators"):
                for obj in vars(mod).values():
                    fn = getattr(obj, "__verb__", None)
                    if (getattr(fn, "__module__", None) or "").startswith(
                            "siuba_spark.operators"):
                        verbs[id(obj)] = obj
        for obj in verbs.values():
            self._swap_verb(obj, "operators.verb_calls", "operators.verb_s")

        for name, obj in vars(corpus).items():
            if name.startswith("_") or not callable(obj):
                continue
            if hasattr(obj, "__verb__"):
                self._swap_verb(obj, "corpus.calls", "corpus.s")
            elif isinstance(obj, types.FunctionType):
                self._rebind(obj, self._timed(obj, "corpus.calls", "corpus.s"))

        client = self.sc._gateway._gateway_client
        cls = type(client)
        orig = cls.send_command
        tracer, counters = self, self.counters

        def send_command(self_, command, *args, **kwargs):
            # object deletes follow Python's garbage collector, not the
            # query, so they are left out of the count
            if tracer.layer != "build" or command.startswith(GC_COMMAND):
                return orig(self_, command, *args, **kwargs)
            t0 = now()
            try:
                return orig(self_, command, *args, **kwargs)
            finally:
                counters["build.py4j_calls"] += 1
                counters["build.py4j_s"] += now() - t0

        cls.send_command = send_command
        self._undo.append(lambda: setattr(cls, "send_command", orig))

    def uninstall(self):
        while self._undo:
            self._undo.pop()()

    def take(self) -> dict:
        out = dict(self.counters)
        self.counters.clear()
        return out


# -- Spark status readers ----------------------------------------------------------

def _seq(seq):
    return [seq.apply(i) for i in range(seq.size())]


def _opt(opt):
    return opt.get() if opt.isDefined() else None


def wait_for_listeners(sc):
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def job_ids(sc, group: str) -> list[int]:
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def jobs_wall_s(sc, ids) -> float:
    store = sc._jsc.sc().statusStore()
    total = 0.0
    for jid in ids:
        job = store.job(jid)
        start, end = _opt(job.submissionTime()), _opt(job.completionTime())
        if start is not None and end is not None:
            total += (end.getTime() - start.getTime()) / 1000.0
    return total


def exec_metrics(sc, ids) -> dict:
    """Job, stage and task metrics of the given jobs."""
    store = sc._jsc.sc().statusStore()
    m = defaultdict(float)
    m["exec.jobs"] = len(ids)
    stage_ids = set()
    for jid in ids:
        job = store.job(jid)
        sids = _seq(job.stageIds())
        m["exec.stages"] += len(sids)
        m["exec.stages_skipped"] += job.numSkippedStages()
        m["exec.tasks"] += job.numTasks() - job.numSkippedTasks()
        m["exec.tasks_failed"] += job.numFailedTasks()
        stage_ids.update(sids)
    longest = None
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage that was never submitted
            continue
        if st.status().toString() != "COMPLETE":
            continue
        run_s = st.executorRunTime() / 1000.0
        m["exec.executor_run_s"] += run_s
        m["exec.executor_cpu_s"] += st.executorCpuTime() / 1e9
        m["exec.gc_s"] += st.jvmGcTime() / 1000.0
        m["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
        m["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
        m["exec.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        if longest is None or run_s > longest[0]:
            longest = (run_s, sid, st.attemptId(), st.numTasks())
    skew = 1.0
    if longest is not None:
        tasks = _seq(store.taskList(longest[1], longest[2], longest[3]))
        durations = [d for d in (_opt(t.duration()) for t in tasks)
                     if d is not None]
        med = statistics.median(durations) if durations else 0
        if med > 0:
            skew = max(durations) / med
    m["exec.task_skew"] = skew
    return dict(m)


def catalyst_phases(qe) -> dict:
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = _opt(phases.get(name))
        out[f"catalyst.{name}_s"] = p.durationMs() / 1000.0 if p else 0.0
    return out


LINT_GROUPS = {
    "plans.lint.exchanges": ("exchanges", "single_partition_exchanges"),
    "plans.lint.joins": ("broadcast_hash_joins", "sort_merge_joins",
                         "shuffled_hash_joins", "broadcast_nested_loop_joins",
                         "cartesian_products"),
    "plans.lint.windows": ("windows",),
    "plans.lint.scans": ("scans",),
}


def lint_counts(df) -> dict:
    from siuba_spark import lint_plan
    counts = lint_plan(df)["counts"]
    return {k: sum(counts.get(n, 0) for n in names)
            for k, names in LINT_GROUPS.items()}
