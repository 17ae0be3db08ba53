"""Grouping & aggregation verbs: group_by, ungroup, summarize, count,
add_count.

``group_by`` records keys as table state — it does not aggregate
(reference: siuba/sql/verbs/group_by.py:9-27).  ``summarize`` produces one
row per group via ``groupBy(...).agg(...)`` (map-side partial aggregation
plus a key shuffle — the right distributed shape at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.lowering import (AGGED, TranslationError,
                                  has_object_buffer, lower)
from ..siu.calls import (Call, FnCall, GetAttr, Lit, MetaArg, MethodCall,
                         strip_symbolic)
from ..plans.pipe import verb
from ..plans.tbl import SparkTbl
from .core import arrange, mutate
from .joins import join_back
from ..functions.vector import desc as _desc_fn

__all__ = ["group_by", "ungroup", "summarize", "summarise", "reframe",
           "count", "add_count",
           "tally", "add_tally",
           "hash_split", "corr_matrix", "describe",
           "sample_frac", "sample_n"]


_DISTINCT_AGGS = {"nunique", "n_distinct"}


def _called_names(node):
    """All method/function names invoked anywhere in a Call tree."""
    from ..siu.calls import BinaryOp, FnCall, GetItem, MethodCall, RawCallable, UnaryOp
    out = set()
    stack = [node]
    while stack:
        n = stack.pop()
        if isinstance(n, MethodCall):
            out.add(n.name)
            stack.append(n.obj)
            stack.extend(a for a in n.args if isinstance(a, Call))
            stack.extend(v for v in n.kwargs.values() if isinstance(v, Call))
        elif isinstance(n, (FnCall, RawCallable)):
            if isinstance(n, FnCall):
                out.add(n.name)
            stack.extend(a for a in n.args if isinstance(a, Call))
            stack.extend(v for v in n.kwargs.values() if isinstance(v, Call))
        elif isinstance(n, BinaryOp):
            stack.extend(x for x in (n.left, n.right) if isinstance(x, Call))
        elif isinstance(n, UnaryOp):
            if isinstance(n.operand, Call):
                stack.append(n.operand)
        elif isinstance(n, GetAttr):
            if isinstance(n.obj, Call):
                stack.append(n.obj)
        elif isinstance(n, GetItem):
            stack.extend(x for x in (n.obj, n.key) if isinstance(x, Call))
    return out


def _plain_agg_names():
    from ..functions.lowering import AGG_METHODS
    return set(AGG_METHODS) | {"n"}


_PLAIN_AGG_NAMES = _plain_agg_names()


def _names_from_args(args):
    names = []
    for a in args:
        node = strip_symbolic(a)
        if isinstance(node, str):
            names.append(node)
        elif isinstance(node, GetAttr) and isinstance(node.obj, MetaArg):
            names.append(node.name)
        else:
            raise TranslationError(
                "group_by()/count() args must be column references; "
                "use kwargs to compute new columns"
            )
    return names


@verb
def group_by(tbl: SparkTbl, *args, add: bool = False, **kwargs):
    """Set grouping keys; kwargs create columns first (mutate semantics);
    ``add=True`` stacks onto existing groups
    (reference: siuba/dply/verbs.py:280-368).

    Examples
    --------
    >>> t = tbl(spark.createDataFrame([("a", 1.0), ("a", 3.0), ("b", 2.0)],
    ...                               "g string, x double"))
    >>> out = (t >> group_by(_.g) >> summarize(m=_.x.mean(), total=_.x.sum())
    ...        >> arrange(_.g) >> collect())
    >>> out.m.tolist()
    [2.0, 2.0]
    >>> out.total.tolist()
    [4.0, 2.0]
    """
    work = mutate(tbl, **kwargs) if kwargs else tbl
    names = _names_from_args(args) + list(kwargs)
    for nm in names:
        if nm not in work.columns:
            raise TranslationError(f"group_by: column '{nm}' not found")
    new_groups = (tuple(tbl.group_by) + tuple(n for n in names if n not in tbl.group_by)
                  if add else tuple(names))
    return work.evolve(group_by=new_groups)


@verb
def ungroup(tbl: SparkTbl):
    return tbl.evolve(group_by=())


@verb
def summarize(tbl: SparkTbl, *args, _sets=None, _by=None, **kwargs):
    """One row per group (reference: siuba/sql/verbs/summarize.py:11-132).
    Grouping columns come out first; the result is ungrouped.
    Positional args must be across() expansions.

    ``_sets="cube"`` / ``"rollup"`` aggregate over all prefix/power-set
    grouping combinations (absent from the reference — SURVEY §2.4 marks
    it free Spark upside; super-aggregate rows carry NULL keys).  An
    explicit list of column-name lists is ANSI GROUPING SETS — only the
    requested combinations, one Expand pass (e.g.
    ``_sets=[["a", "b"], ["a"], []]``); each set must draw from the
    current group_by keys.

    ``_by=`` applies dplyr-1.1 per-operation grouping (result is
    ungrouped, as always).

    Plan note: a summarize is ONE ``groupBy().agg()`` — one scan, one
    exchange — mixed distinct aggregates included (Spark rewrites them
    inside it with an Expand).  The one exception: when a non-distinct
    aggregate has an object buffer (``OBJECT_BUFFER_AGGS``: median,
    quantile, mode, approx_quantile, collect_*), the Expand would carry
    that sort buffer or array at (group x distinct-key) granularity —
    measured 1.7-3.5x slower at sf0.1, widening with data size — so the
    kwargs that are purely distinct aggregates (nunique / n_distinct) are
    computed in a SEPARATE aggregation joined back on the group keys.
    Both join sides are post-aggregation (tiny), so AQE broadcasts one."""
    from .core import _merge_across, _temp_by, callable_to_expr
    tbl = _temp_by(tbl, _by, "summarize")
    kwargs = _merge_across(tbl, args, kwargs)
    kwargs = {k: callable_to_expr(v) for k, v in kwargs.items()}
    if not kwargs:
        raise TranslationError("summarize() requires at least one aggregate")

    aggs = {}
    for name, expr in kwargs.items():
        node = strip_symbolic(expr)
        col, kind = lower(node, tbl.agg_ctx())
        if kind != AGGED and not isinstance(node, Lit) and isinstance(node, Call):
            raise TranslationError(
                f"summarize argument '{name}' must aggregate to one value "
                "per group (reference raises the same way, "
                "siuba/sql/verbs/summarize.py:96-106)"
            )
        aggs[name] = col

    distinct_names = []
    if _sets is None and len(kwargs) > 1:
        for name, expr in kwargs.items():
            called = _called_names(strip_symbolic(expr))
            if called & _DISTINCT_AGGS and not (
                    (called - _DISTINCT_AGGS) & _PLAIN_AGG_NAMES):
                distinct_names.append(name)
    if not any(has_object_buffer(c) for k, c in aggs.items()
               if k not in distinct_names):
        distinct_names = []  # no object buffer to keep out of the Expand

    keys = [F.col(g) for g in tbl.group_by]
    if _sets == "cube":
        grouped = tbl.df.cube(*keys)
    elif _sets == "rollup":
        grouped = tbl.df.rollup(*keys)
    elif isinstance(_sets, (list, tuple)):
        sets = []
        for s in _sets:
            names = [s] if isinstance(s, str) else list(s)
            bad = set(names) - set(tbl.group_by)
            if bad:
                raise TranslationError(
                    f"summarize: grouping set columns {sorted(bad)} are not "
                    f"in the current group_by {list(tbl.group_by)}")
            sets.append([F.col(c) for c in names])
        grouped = tbl.df.groupingSets(sets, *keys)
    elif _sets is None:
        grouped = tbl.df.groupBy(*keys)
    else:
        raise TranslationError(f"summarize: unknown _sets={_sets!r}")

    # carry the factor ledger through (ctor prunes to surviving cols), but
    # clear entries whose name is REASSIGNED by an aggregate output — e.g.
    # summarize(f=_.x.max()) with levels recorded for 'f' must not leave a
    # later arrange(_.f) sorting the unrelated aggregate by stale level
    # order (ADVICE r6 item 4; mirrors mutate's clear-on-reassignment)
    factors = {k: v for k, v in tbl.factors.items() if k not in kwargs}
    if not distinct_names:
        return SparkTbl(grouped.agg(*[c.alias(k) for k, c in aggs.items()]),
                        factors=factors)

    def agg(names):
        return tbl.df.groupBy(*keys).agg(*[aggs[k].alias(k) for k in names])

    main = agg([k for k in kwargs if k not in distinct_names])
    dist = agg(distinct_names)
    if tbl.group_by:
        joined = join_back(main, dist, tbl.group_by, how="inner")
    else:
        joined = main.crossJoin(dist)
    return SparkTbl(joined.select(*tbl.group_by, *kwargs.keys()),
                    factors=factors)


summarise = summarize


def _fresh_name(base, existing):
    """Auto-bump the count column name on collision: n → nn → nnn
    (reference _check_name: siuba/dply/verbs.py:1268-1282)."""
    name = base
    while name in existing:
        name += base
    return name


@verb
def reframe(tbl: SparkTbl, *args, _by=None, **kwargs):
    """dplyr 1.1 ``reframe``: like summarize, but each group may return
    ANY number of rows — aggregate expressions producing ARRAYS explode
    in lockstep (one output row per array element), scalar results repeat
    across them.  The canonical use is multi-quantile summaries:
    ``reframe(p=_.x.quantile([.25, .5, .75]))`` yields three rows per
    group.  Like dplyr, the result is always ungrouped.

    Lockstep contract: all array results in one call must have equal
    lengths per group (dplyr recycles length-1 only — scalars here stay
    plain columns, which covers that); unequal lengths NULL-pad like
    ``arrays_zip``, documented divergence from dplyr's error.

    Plan shape: exactly summarize's partial-agg + one shuffle, then a
    zero-shuffle explode projection — nothing extra moves."""
    out = summarize(tbl, *args, _by=_by, **kwargs)
    df = out.df
    # group keys never appear in kwargs, so `c in kwargs` alone excludes
    # them — no re-parsing of _by (which may be a str, list, or Symbolic)
    arrs = [c for c, t in df.dtypes if t.startswith("array") and c in kwargs]
    if not arrs:
        return out
    others = [c for c in df.columns if c not in arrs]
    zipped = F.arrays_zip(*[F.col(c).alias(c) for c in arrs])
    df = (df.withColumn("__rf", F.explode_outer(zipped))
          .select(*others, *[F.col(f"__rf.{c}").alias(c) for c in arrs])
          .select(*out.df.columns))
    return out.evolve(df=df)


def _count_keys(tbl, args, kwargs):
    """count/add_count keys: the current groups, then the named and
    computed columns."""
    names = list(tbl.group_by)
    for nm in _names_from_args(args) + list(kwargs):
        if nm not in names:
            names.append(nm)
    return tuple(names)


def _count_expr(wt):
    """The count aggregate: ``n()``, or ``wt.sum()`` when weighted."""
    if wt is None:
        return FnCall("n", (MetaArg(),), {})
    return MethodCall(strip_symbolic(wt), "sum", (), {})


@verb
def count(tbl: SparkTbl, *args, wt=None, sort: bool = False, name: str | None = None,
          **kwargs):
    """Group sizes, optionally weighted (reference: siuba/sql/verbs/count.py:21-55):
    ``summarize(n=n())`` — or ``wt.sum()`` — over the current groups plus
    the named columns.  ``sort=True`` orders the result heaviest first.

    Examples
    --------
    >>> t = tbl(spark.createDataFrame([("a",), ("a",), ("b",)], "g string"))
    >>> (t >> count(_.g, sort=True) >> collect()).values.tolist()
    [['a', 2], ['b', 1]]
    """
    work = mutate(tbl, **kwargs) if kwargs else tbl
    names = _count_keys(tbl, args, kwargs)
    out_name = name or _fresh_name("n", names)
    out = summarize(work.evolve(group_by=names),
                    **{out_name: _count_expr(wt)})
    if sort:
        out = out.evolve(df=out.df.orderBy(F.col(out_name).desc_nulls_last()))
    return out


@verb
def add_count(tbl: SparkTbl, *args, wt=None, sort: bool = False,
              name: str | None = None, method: str = "window", **kwargs):
    """Like count but added back as a column on every row: ``mutate(n=n())``
    over the count keys, keeping the table's grouping — the reference's
    AggOver(count) (siuba/sql/verbs/count.py:58-86).  ``sort=True``
    arranges heaviest group first (deferred like ``arrange``).

    ``method`` is mutate's ``_agg_method`` ("window" or "join"; see
    mutate for the crossover).  Measured (SCALE.md r12 `add_count_hot_*`,
    10%-hot key, 10M rows): wall parity locally, but the window form
    shuffles the whole table (103 MB at 10x, one unsplittable hot task)
    vs 12.7 MB for the join form — pass "join" whenever the key is
    content-derived or can be hot."""
    if method not in ("window", "join"):
        raise ValueError("method must be 'window' or 'join'")
    work = mutate(tbl, **kwargs) if kwargs else tbl
    out_name = name or _fresh_name("n", work.columns)
    out = mutate(work.evolve(group_by=_count_keys(tbl, args, kwargs)),
                 _agg_method=method, **{out_name: _count_expr(wt)})
    out = out.evolve(group_by=work.group_by)
    if sort:
        out = arrange(out, _desc_fn(GetAttr(MetaArg(), out_name)))
    return out


@verb
def tally(tbl: SparkTbl, wt=None, sort: bool = False, name: str | None = None):
    """dplyr ``tally``: group sizes over the CURRENT grouping only —
    ``count()`` without introducing new grouping columns (a TODO the
    reference never shipped, siuba/dply/verbs.py:48).  Same wt=/sort=/
    name-collision semantics as count."""
    return count(tbl, wt=wt, sort=sort, name=name)


@verb
def add_tally(tbl: SparkTbl, wt=None, sort: bool = False,
              name: str | None = None, method: str = "window"):
    """dplyr ``add_tally``: the current group's size added back as a
    column — ``add_count`` with no new keys."""
    return add_count(tbl, wt=wt, sort=sort, name=name, method=method)


@verb
def sample_frac(tbl: SparkTbl, frac: float, seed: int = 42, *, by: dict | None = None):
    """Seeded row sampling (no reference equivalent; training-pipeline
    staple).  ``by={stratum_value: frac}`` gives per-stratum rates via
    ``sampleBy`` on the FIRST group key — stratified downsampling with no
    shuffle (Bernoulli per partition)."""
    if by is not None:
        if not tbl.group_by:
            raise TranslationError("sample_frac(by=...) requires group_by()")
        key = tbl.group_by[0]
        return tbl.evolve(df=tbl.df.sampleBy(key, by, seed=seed))
    return tbl.evolve(df=tbl.df.sample(fraction=frac, seed=seed))


@verb
def sample_n(tbl: SparkTbl, n: int, seed: int = 42):
    """Sample ~n rows per group (exact-n per group via seeded-random rank —
    one window, deterministic for a fixed seed and input)."""
    w = Window.partitionBy(*[F.col(g) for g in tbl.group_by]) \
        .orderBy(F.rand(seed), *[F.col(c) for c in tbl.columns if c not in tbl.group_by][:1])
    df = (tbl.df.withColumn("__rn", F.row_number().over(w))
          .filter(F.col("__rn") <= n).drop("__rn"))
    return tbl.evolve(df=df)


@verb
def hash_split(tbl: SparkTbl, id_col, splits=None, out: str = "split"):
    """Deterministic train/val/test split by content hash of a stable id —
    the production pattern for dataset splits at scale: no shuffle, no
    seed-state, reproducible on any cluster size or engine (md5, not a
    partition-dependent RNG), and new rows land in stable splits.

    ``splits`` maps name → fraction (must sum to ≤ 1; remainder → NULL),
    default ``{"train": 0.8, "test": 0.2}``.  Assignment: the first 8 hex
    digits of md5(id) as an integer mod 10_000 walks the cumulative
    fraction table."""
    splits = dict(splits or {"train": 0.8, "test": 0.2})
    if sum(splits.values()) > 1.0 + 1e-9:
        raise TranslationError("hash_split fractions must sum to <= 1")
    node = strip_symbolic(id_col)
    c, _k = lower(node, tbl.row_ctx()) if isinstance(node, Call) \
        else (F.col(node), None)
    bucket = F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10) \
        .cast("long") % 10000
    expr = F.lit(None).cast("string")
    acc = 0.0
    for name, frac in splits.items():
        lo, acc = acc, acc + frac
        expr = F.when((bucket >= int(round(lo * 10000)))
                      & (bucket < int(round(acc * 10000))),
                      F.lit(name)).otherwise(expr)
    return tbl.evolve(df=tbl.df.withColumn(out, expr))


@verb
def corr_matrix(tbl: SparkTbl, *cols, round_to: int = 4):
    """Pairwise Pearson correlations of numeric columns, melted to
    (col_a, col_b, corr) rows — data-QA staple.

    ONE aggregation pass computes every pair (map-side partials, one
    shuffle on the group keys or a scalar agg when ungrouped); the melt is
    a zero-shuffle explode of the single result row.  O(k²) agg buffers
    for k columns — cap k, not rows."""
    from .tidyselect import resolve_names

    names = resolve_names(cols, tbl.columns) if cols else [
        f.name for f in tbl.df.schema.fields
        if f.dataType.simpleString() in
        ("double", "float", "bigint", "int", "smallint", "tinyint")
        and f.name not in tbl.group_by
    ]
    pairs = [(a, b) for i, a in enumerate(names) for b in names[i:]]
    aggs = [F.round(F.corr(F.col(a), F.col(b)), round_to)
            .alias(f"__c_{i}") for i, (a, b) in enumerate(pairs)]
    gb = tbl.df.groupBy(*[F.col(g) for g in tbl.group_by]) if tbl.group_by \
        else tbl.df.groupBy()
    row = gb.agg(*aggs)
    melted = F.explode(F.array(*[
        F.struct(F.lit(a).alias("col_a"), F.lit(b).alias("col_b"),
                 F.col(f"__c_{i}").alias("corr"))
        for i, (a, b) in enumerate(pairs)
    ])).alias("__p")
    df = (row.select(*tbl.group_by, melted)
          .select(*tbl.group_by, "__p.col_a", "__p.col_b", "__p.corr"))
    return tbl.evolve(df=df, group_by=())


@verb
def describe(tbl: SparkTbl, *cols, round_to: int = 4):
    """pandas ``describe()`` for numeric columns: count/mean/std/min/
    25%/50%/75%/max, melted to (column, stat, value) rows.

    ONE aggregation pass for every (column, stat) cell — exact
    interpolating percentiles, decimal-exact means — then a zero-shuffle
    explode.  Respects grouping."""
    from .tidyselect import resolve_names

    names = resolve_names(cols, tbl.columns) if cols else [
        f.name for f in tbl.df.schema.fields
        if f.dataType.simpleString() in
        ("double", "float", "bigint", "int", "smallint", "tinyint")
        and f.name not in tbl.group_by
    ]
    stats = ["count", "mean", "std", "min", "25%", "50%", "75%", "max"]

    def exprs(c):
        col = F.col(c)
        dmean = (F.sum(col.cast("decimal(30,6)")).cast("double")
                 / F.count(col))
        return [
            F.count(col).cast("double"),
            F.round(dmean, round_to),
            F.round(F.stddev_samp(col), round_to),
            F.min(col).cast("double"),
            F.round(F.percentile(col, F.lit(0.25)), round_to),
            F.round(F.percentile(col, F.lit(0.5)), round_to),
            F.round(F.percentile(col, F.lit(0.75)), round_to),
            F.max(col).cast("double"),
        ]

    aggs = [e.alias(f"__d_{i}_{j}") for i, c in enumerate(names)
            for j, e in enumerate(exprs(c))]
    gb = tbl.df.groupBy(*[F.col(g) for g in tbl.group_by]) if tbl.group_by \
        else tbl.df.groupBy()
    row = gb.agg(*aggs)
    melted = F.explode(F.array(*[
        F.struct(F.lit(c).alias("column"), F.lit(s).alias("stat"),
                 F.col(f"__d_{i}_{j}").alias("value"))
        for i, c in enumerate(names) for j, s in enumerate(stats)
    ])).alias("__p")
    df = (row.select(*tbl.group_by, melted)
          .select(*tbl.group_by, "__p.column", "__p.stat", "__p.value"))
    return tbl.evolve(df=df, group_by=())
