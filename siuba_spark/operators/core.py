"""Core verbs: select, rename, mutate, transmute, filter, arrange, distinct,
head, top_n — verb → DataFrame-API mapping with group/order state.

Semantics follow the reference's SQL engine (the sanctioned cross-backend
semantics, SURVEY.md §7.1): row order is meaningful only after ``arrange``;
aggregates inside mutate/filter become group-partitioned windows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.lowering import SCALAR, TranslationError, lower
from ..siu.calls import Call, FnCall, GetAttr, MetaArg, UnaryOp, strip_symbolic
from ..plans.pipe import verb
from ..plans.tbl import SparkTbl
from .joins import join_back
from .tidyselect import resolve_names, resolve_select

__all__ = [
    "select", "rename", "rename_with", "relocate", "mutate", "transmute", "filter", "arrange",
    "distinct", "head", "top_n", "qcut",
    "slice_head", "slice_tail", "slice_min", "slice_max", "slice_sample",
]


def _temp_by(tbl, _by, verb_name):
    """dplyr 1.1 ``.by=`` (spelled ``_by=``): per-operation grouping.
    Returns the regrouped working table; the caller restores the original
    grouping afterwards.  Combining with an existing group_by is an error
    — the same rule dplyr enforces."""
    if _by is None:
        return tbl
    if tbl.group_by:
        raise TranslationError(
            f"{verb_name}: _by= cannot be combined with an existing "
            "group_by (ungroup first) — dplyr's .by has the same rule")
    names = [_by] if isinstance(_by, str) else [
        _colref_name(b) for b in _by] if isinstance(_by, (list, tuple)) else \
        [_colref_name(_by)]
    for nm in names:
        if nm not in tbl.columns:
            raise TranslationError(f"{verb_name}: _by column '{nm}' not found")
    return tbl.evolve(group_by=tuple(names))


def _colref_name(x):
    node = strip_symbolic(x)
    if isinstance(node, str):
        return node
    if isinstance(node, GetAttr) and isinstance(node.obj, MetaArg):
        return node.name
    raise TranslationError(f"expected a column reference, got {node!r}")


def callable_to_expr(v):
    """Plain-function column definitions (reference programming guide:
    ``mutate(cars, demean=lambda d: d.mpg - d.mpg.mean())`` — 'both are
    using pandas Series methods under the hood'): call the function with
    the symbolic frame so the definition stays a fully-translated plan,
    never a row-at-a-time Python callable.  Non-callables (and symbolic
    expressions, which are themselves callable) pass through."""
    if callable(v) and not isinstance(strip_symbolic(v), Call) \
            and not isinstance(v, type):
        from ..siu.calls import Symbolic
        return strip_symbolic(v(Symbolic(MetaArg())))
    return v


def _merge_across(tbl, args, kwargs):
    """Expand positional across() objects into named expressions."""
    if not args:
        return kwargs
    from .across import Across, expand_across
    merged = {}
    for a in args:
        if not isinstance(a, Across):
            raise TranslationError(
                "positional arguments to mutate/transmute/summarize must be "
                "across(...) expansions")
        merged.update(expand_across(a, tbl.columns))
    merged.update(kwargs)
    return merged


def _group_first(tbl, pairs):
    """Grouping columns always stay selected (dplyr semantics)."""
    selected_old = {old for old, _ in pairs}
    missing = [(g, g) for g in tbl.group_by if g not in selected_old]
    return missing + pairs


@verb
def select(tbl: SparkTbl, *args, **kwargs):
    """Keep/drop/rename columns via tidyselect
    (reference: siuba/sql/verbs/select.py:11-43).

    Examples
    --------
    >>> t = tbl(spark.createDataFrame([("a", 1.0, 10)], "g string, x double, y int"))
    >>> (t >> select(_.g, _.x)).columns
    ['g', 'x']
    >>> (t >> select(~_.y)).columns
    ['g', 'x']
    >>> (t >> select(val=_.x)).columns
    ['val']
    """
    pairs = resolve_select(args, kwargs, tbl.columns)
    pairs = _group_first(tbl, pairs)
    cols = [F.col(old).alias(new) for old, new in pairs]
    renames = {old: new for old, new in pairs if old != new}
    group_by = tuple(renames.get(g, g) for g in tbl.group_by)
    factors = {renames.get(k, k): v for k, v in tbl.factors.items()}
    return tbl.evolve(df=tbl.df.select(*cols), group_by=group_by,
                      factors=factors)


@verb
def rename(tbl: SparkTbl, **kwargs):
    """``rename(new=_.old)`` (reference: siuba/sql/verbs/select.py:46-67)."""
    mapping = {}
    for new, old in kwargs.items():
        old = strip_symbolic(old)
        if isinstance(old, GetAttr) and isinstance(old.obj, MetaArg):
            old = old.name
        if not isinstance(old, str):
            raise TranslationError(f"rename target for {new!r} must be a column")
        mapping[old] = new
    return _apply_rename(tbl, mapping, "rename")


@verb
def rename_with(tbl: SparkTbl, fn, *cols):
    """dplyr ``rename_with``: rename via a string function over a
    tidyselection (default: every column).  ``fn`` is a plain Python
    ``str -> str`` — names are driver-side metadata, so no UDF is
    involved; the plan is a zero-cost projection alias."""
    names = resolve_names(cols, tbl.columns) if cols else list(tbl.columns)
    mapping = {}
    for old in names:
        new = fn(old)
        if not isinstance(new, str) or not new:
            raise TranslationError(
                f"rename_with function returned {new!r} for column {old!r}")
        if new != old:
            mapping[old] = new
    return _apply_rename(tbl, mapping, "rename_with")


def _apply_rename(tbl: SparkTbl, mapping: dict, verb_name: str):
    """Rename SIMULTANEOUSLY like dplyr (one aliased projection), so chained
    maps such as ``a->b, b->c`` are legal and swaps work; a final column
    list with duplicates is the only error condition."""
    final = [mapping.get(c, c) for c in tbl.columns]
    dupes = sorted({c for c in final if final.count(c) > 1})
    if dupes:
        raise TranslationError(
            f"{verb_name} produces duplicate column names: {dupes}")
    df = tbl.df.select(
        *[F.col(c).alias(mapping.get(c, c)) for c in tbl.columns])
    group_by = tuple(mapping.get(g, g) for g in tbl.group_by)
    factors = {mapping.get(k, k): v for k, v in tbl.factors.items()}
    return tbl.evolve(df=df, group_by=group_by, factors=factors)


@verb
def relocate(tbl: SparkTbl, *cols, _before: str | None = None,
             _after: str | None = None):
    """dplyr ``relocate``: move a tidyselection before/after an anchor
    column (default: to the front).  Pure projection reorder — free in
    the plan."""
    if _before is not None and _after is not None:
        raise TranslationError("relocate: pass only one of _before/_after")
    moved = resolve_names(cols, tbl.columns)
    rest = [c for c in tbl.columns if c not in moved]
    anchor = _before if _before is not None else _after
    if anchor is None:
        order = moved + rest
    else:
        anchor = strip_symbolic(anchor)
        if isinstance(anchor, GetAttr) and isinstance(anchor.obj, MetaArg):
            anchor = anchor.name
        if anchor not in rest:
            raise TranslationError(
                f"relocate anchor {anchor!r} is not a (non-moved) column")
        i = rest.index(anchor) + (0 if _before is not None else 1)
        order = rest[:i] + moved + rest[i:]
    return tbl.evolve(df=tbl.df.select(*order))


@verb
def mutate(tbl: SparkTbl, *args, _by=None, _agg_method: str = "window",
           **kwargs):
    """Add/overwrite columns; later kwargs see earlier ones; aggregates
    broadcast over the group window (reference: siuba/sql/verbs/mutate.py:20-118).
    ``_by=`` applies dplyr-1.1 per-operation grouping: aggregates window
    over those keys for THIS call only, and the result keeps the table's
    (un)grouped state.

    ``_agg_method=`` picks the lowering for order-free grouped aggregates
    (``_.x.sum()`` etc. under group_by, ``n()`` and ``n_distinct()``
    included) — the same crossover knob as ``add_count(method=)``, which
    is this mutate:

    - ``"window"`` (default): AggOver — one full-table shuffle on the
      group keys; right for bounded, well-distributed keys.
    - ``"join"``: ``groupBy(keys).agg(...)`` + null-safe equi-join back.
      The aggregate partial-combines hot keys map-side and the join is
      AQE-skew-splittable, while a hot key's window partition is ONE
      unsplittable task; choose it when the key is content-derived or
      can be hot.  Values are identical (an orderless window frame is
      the whole partition; NULL keys group together in both lowerings).
    - ``"broadcast"``: ``"join"`` with the aggregate side broadcast —
      zero full-table shuffle.  Only for keys with a PROVABLY bounded
      domain (enum-like flags); the agg table has one row per distinct
      key and is force-broadcast regardless of size.

    Ordered windows (rank/cumsum/lead/lag) always stay windows; an
    ungrouped mutate ignores ``_agg_method``.
    Chained ``withColumn`` projections are collapsed by Catalyst
    (CollapseProject), so no subquery-avoidance logic is needed (SURVEY §4).
    Positional args must be across() expansions (siuba/dply/across.py).

    Examples
    --------
    >>> t = tbl(spark.createDataFrame([("a", 1.0), ("a", 3.0), ("b", 2.0)],
    ...                               "g string, x double"))
    >>> (t >> mutate(y=_.x * 2, z=_.y + 1) >> collect()).z.tolist()
    [3.0, 7.0, 5.0]

    Aggregates broadcast per group (AggOver):

    >>> out = (t >> group_by(_.g) >> mutate(dev=_.x - _.x.mean())
    ...        >> ungroup() >> collect())
    >>> sorted(out.dev.tolist())
    [-1.0, 0.0, 1.0]
    """
    from ..functions.cat import rewrite_cat_dynamic
    from ..functions.forcats import rewrite_fct_lump

    if _agg_method not in ("window", "join", "broadcast"):
        raise ValueError(
            "_agg_method must be 'window', 'join' or 'broadcast'")
    orig_groups = tbl.group_by
    work = _temp_by(tbl, _by, "mutate")
    kwargs = _merge_across(work, args, kwargs)
    kwargs = {k: callable_to_expr(v) for k, v in kwargs.items()}
    df = work.df
    factors = dict(work.factors)
    # window-expression pool: identical windowed aggregates across (and
    # within) kwargs materialize ONCE — Catalyst evaluates every duplicated
    # window expression separately (functions/lowering.py WPool)
    from ..functions.lowering import WPool
    wpool = WPool()
    aggpool = (WPool("__ajpool_")
               if _agg_method != "window" and work.group_by else None)
    user_cols = set(df.columns)
    for name, expr in kwargs.items():
        from .across import IfAnyAll, expand_if_any_all
        if isinstance(expr, IfAnyAll):
            expr = expand_if_any_all(expr, work.columns)
        ctx = work.row_ctx()
        ctx.factors = dict(factors)
        ctx.wpool = wpool
        ctx.aggpool = aggpool
        # fct_lump lowers to an agg→rank→broadcast-join plan, and dynamic
        # .cat.codes to a distinct→broadcast-join plan — not global
        # windows; rewrite the expression tree first (no-op otherwise)
        from ..functions.vector import rewrite_consecutive_id
        df, node, tmps = rewrite_fct_lump(strip_symbolic(expr), ctx, df)
        df, node, tmps2 = rewrite_cat_dynamic(node, ctx, df)
        df, node, tmps3 = rewrite_consecutive_id(node, ctx, df)
        col, _ = lower(node, ctx)
        if aggpool is not None:
            # ONE groupBy over the group keys for every plain aggregate
            # this kwarg pooled, null-safe-joined back (the "join" /
            # "broadcast" AggOver lowering — see the docstring).  Runs
            # BEFORE the window materialization so a window over an
            # aggregate (e.g. rank of x - mean) resolves its helper.
            pend_a = aggpool.pending()
            if pend_a:
                keys = list(work.group_by)
                aggdf = (df.groupBy(*[F.col(k) for k in keys])
                         .agg(*[c.alias(n) for n, c in pend_a]))
                df = join_back(df, aggdf, keys,
                               broadcast=_agg_method == "broadcast")
                aggpool.materialized.extend(n for n, _c in pend_a)
        pending = wpool.pending()
        if pending:
            df = df.select("*", *[c.alias(n) for n, c in pending])
            wpool.materialized.extend(n for n, _ in pending)
        df = df.withColumn(name, col)
        if name in user_cols:
            # overwriting a pre-existing column: pooled expression strings
            # could now refer to stale data — forget the pool keys (the
            # already-materialized helpers are dropped at the end)
            wpool.invalidate()
            if aggpool is not None:
                aggpool.invalidate()
        user_cols.add(name)
        if tmps or tmps2 or tmps3:
            df = df.drop(*tmps, *tmps2, *tmps3)
        # a `.cat.*` chain at the top of the expression carries factor
        # levels onto the assigned column; any other assignment clears a
        # stale entry for that name
        meta = ctx.cat_results.get(id(node))
        if meta is not None and meta.levels is not None:
            factors[name] = meta
        else:
            # a top-level level-order forcats call (fct_infreq/_inorder/
            # _reorder/_rev) records its data-derived level order into
            # the ledger — one bounded level-set collect
            from ..functions.cat import CatMeta
            from ..functions.forcats import fct_levels_collect
            levels = fct_levels_collect(node, ctx, df)
            if levels is not None:
                factors[name] = CatMeta(tuple(levels), False)
            else:
                factors.pop(name, None)
    if wpool.materialized:
        df = df.drop(*wpool.materialized)
    if aggpool is not None and aggpool.materialized:
        df = df.drop(*aggpool.materialized)
    return work.evolve(df=df, group_by=orig_groups, factors=factors)


@verb
def transmute(tbl: SparkTbl, *args, **kwargs):
    """mutate, then keep only grouping + new columns
    (reference: siuba/sql/verbs/mutate.py:121-133).  Positional column
    references select pass-through columns (the transmute doc:
    ``transmute(_.cyl, _.mpg, hp_per_cyl=_.hp / _.cyl)``); positional
    ``across(...)`` expands as in mutate."""
    from .across import Across
    plain, across_args = [], []
    for a in args:
        if isinstance(a, Across):
            across_args.append(a)
        else:
            node = strip_symbolic(a)
            if isinstance(a, str):
                plain.append(a)
            elif isinstance(node, GetAttr) and isinstance(node.obj, MetaArg):
                plain.append(node.name)
            else:
                raise TranslationError(
                    "positional arguments to transmute must be column "
                    "references or across(...) expansions")
    kwargs = _merge_across(tbl, across_args, kwargs)
    out = mutate(tbl, **kwargs) if kwargs else tbl
    keep = (list(tbl.group_by) + [c for c in plain if c not in tbl.group_by]
            + [k for k in kwargs
               if k not in tbl.group_by and k not in plain])
    return out.evolve(df=out.df.select(*keep))


@verb
def filter(tbl: SparkTbl, *conds, _by=None, **kwargs):
    """Keep rows where all conditions hold.  Window/aggregate conditions are
    hoisted into computed columns first — Spark forbids windows in WHERE,
    the same constraint the reference solves with a CTE
    (siuba/sql/verbs/filter.py:13-64).  ``_by=`` applies dplyr-1.1
    per-operation grouping to aggregate conditions.

    Examples
    --------
    >>> t = tbl(spark.createDataFrame([("a", 1.0), ("a", 3.0), ("b", 2.0)],
    ...                               "g string, x double"))
    >>> (t >> filter(_.x > 1, _.g == "a") >> collect()).x.tolist()
    [3.0]

    Grouped aggregate condition (rows above their group mean):

    >>> (t >> group_by(_.g) >> filter(_.x > _.x.mean()) >> collect()).x.tolist()
    [3.0]
    """
    from .across import Across, IfAnyAll, expand_across, expand_if_any_all

    orig_groups = tbl.group_by
    tbl = _temp_by(tbl, _by, "filter")
    expanded = []
    for cond in conds:
        if isinstance(cond, Across):
            # a bare across() in filter behaves like if_all(): every
            # per-column condition must hold
            expanded.extend(expand_across(cond, tbl.columns).values())
        elif isinstance(cond, IfAnyAll):
            expanded.append(expand_if_any_all(cond, tbl.columns))
        elif callable(cond) and not isinstance(strip_symbolic(cond), Call):
            # plain-function conditions (reference filter tutorial: both
            # `_.cyl == 4` and `lambda _: _.cyl == 4` work — 'filter will
            # call the lambda on the underlying data'): call it with the
            # symbolic frame so the condition stays a translated plan,
            # never a row-at-a-time Python predicate
            from ..siu.calls import Symbolic
            expanded.append(cond(Symbolic(MetaArg())))
        else:
            expanded.append(cond)

    from ..functions.lowering import WPool
    wpool = WPool()
    plain, windowed = [], []
    for cond in expanded:
        ctx = tbl.row_ctx()
        # identical window aggregates across conditions (e.g. two bounds
        # against the same group mean) materialize once — same WPool CSE
        # as mutate; all conditions see the INPUT table, so no
        # invalidation between them is needed
        ctx.wpool = wpool
        col, _ = lower(strip_symbolic(cond), ctx)
        (windowed if ctx.used_window else plain).append(col)

    df = tbl.df
    if windowed:
        # all conds must be evaluated against the *input* table
        pend = wpool.pending()
        if pend:
            df = df.select("*", *[c.alias(n) for n, c in pend])
            wpool.materialized.extend(n for n, _c in pend)
        tmp_names = [f"__filter_{i}" for i in range(len(windowed))]
        for nm, c in zip(tmp_names, windowed):
            df = df.withColumn(nm, c)
        cond_all = None
        for c in plain + [F.col(nm) for nm in tmp_names]:
            cond_all = c if cond_all is None else (cond_all & c)
        df = df.filter(cond_all).drop(*tmp_names, *wpool.materialized)
    elif plain:
        cond_all = None
        for c in plain:
            cond_all = c if cond_all is None else (cond_all & c)
        df = df.filter(cond_all)
    return tbl.evolve(df=df, group_by=orig_groups)


def _parse_sort_arg(arg):
    """Strip a leading ``-`` / ``desc()`` into a direction flag
    (reference: siuba/dply/verbs.py:819-826)."""
    node = strip_symbolic(arg)
    asc = True
    if isinstance(node, UnaryOp) and node.op == "__neg__":
        node, asc = node.operand, False
    elif isinstance(node, FnCall) and node.name == "desc":
        node, asc = node.args[0], False
    if isinstance(node, str):
        node = GetAttr(MetaArg(), node)
    return node, asc


def build_sort_plan(tbl, order_state=None):
    """Lower ``order_state`` (default: the table's sticky ``order_by``)
    against the CURRENT DataFrame and return the physically sorted df.

    This is the materialization half of ``arrange``: called by
    ``SparkTbl.ordered_df()`` (collect/pull/head/write) rather than at
    arrange() time — see arrange's docstring for why the sort is deferred.
    """
    from ..functions.forcats import fct_sort_plan

    order_state = tbl.order_by if order_state is None else order_state
    if not order_state:
        return tbl.df
    sort_cols = []
    tmp_cols = []
    df = tbl.df
    for i, (node, asc) in enumerate(order_state):
        if isinstance(node, str):
            node = GetAttr(MetaArg(), node)
        ctx = tbl.row_ctx()
        # a plain column with declared factor levels sorts by LEVEL ORDER
        # (pandas ordered-categorical sort; literal array lookup, codegen).
        # Values outside the levels and NULLs both sort last.
        if (isinstance(node, GetAttr) and isinstance(node.obj, MetaArg)
                and node.name in tbl.factors):
            levels = tbl.factors[node.name].levels
            pos = F.array_position(
                F.array(*[F.lit(v) for v in levels]), F.col(node.name))
            key = F.when(pos > 0, pos)
            sort_cols.append(key.asc_nulls_last() if asc
                             else key.desc_nulls_last())
            continue
        plan = fct_sort_plan(node, asc, ctx, df, i)
        if plan is not None:
            df, cols, tmps = plan
            sort_cols.extend(cols)
            tmp_cols.extend(tmps)
            continue
        col, _ = lower(node, ctx)
        if ctx.used_window:
            nm = f"__arrange_{i}"
            df = df.withColumn(nm, col)
            tmp_cols.append(nm)
            col = F.col(nm)
        sort_cols.append(col.asc_nulls_last() if asc else col.desc_nulls_last())
    df = df.orderBy(*sort_cols)
    if tmp_cols:
        df = df.drop(*tmp_cols)
    return df


@verb
def arrange(tbl: SparkTbl, *args):
    """Record ``order_by`` state that later window functions use as their
    ORDER BY (reference: siuba/sql/verbs/arrange.py).

    NULLs sort last in both directions (pandas na_position='last').

    The PHYSICAL sort is deferred to materialization (collect/pull/head/
    write via ``SparkTbl.ordered_df()``) — the reference's SQL engine does
    exactly this: ``arrange`` only sets ``order_by`` on the LazyTbl and the
    ORDER BY is emitted on the final SELECT (siuba/sql/verbs/arrange.py:
    10-24, siuba/sql/backend.py:241-250).  An eager global sort here is a
    range-partitioned shuffle that the next window/aggregate/join shuffle
    immediately destroys — measured on the rolling_stats bench it DOUBLED
    the pipeline cost, and at 100 TB a wasted global sort is the single
    most expensive no-op available.  Column references are validated
    eagerly so typos still fail at arrange() time; expressions are
    re-lowered against the final columns at materialization, matching SQL
    ORDER-BY-on-the-outer-SELECT semantics.

    Examples
    --------
    >>> t = tbl(spark.createDataFrame([("a", 1.0), ("b", 3.0), ("c", 2.0)],
    ...                               "g string, x double"))
    >>> (t >> arrange(-_.x) >> collect()).g.tolist()
    ['b', 'c', 'a']
    """
    order_state = tuple(_parse_sort_arg(a) for a in args)
    # eager validation (no job, no plan): plain references must resolve,
    # computed expressions must translate; fct_* sort keys go through
    # fct_sort_plan at materialization and are not lowered here
    from ..functions.forcats import FCT_ORDER_FNS
    for node, _asc in order_state:
        if isinstance(node, GetAttr) and isinstance(node.obj, MetaArg):
            if node.name not in tbl.df.columns:
                raise KeyError(
                    f"arrange: no column {node.name!r} in table")
        elif not (isinstance(node, FnCall) and node.name in FCT_ORDER_FNS):
            lower(node, tbl.row_ctx())
    return tbl.evolve(order_by=order_state)


@verb
def distinct(tbl: SparkTbl, *args, _keep_all: bool = False, **kwargs):
    """Unique rows, optionally by (computed) columns
    (reference: siuba/sql/verbs/distinct.py:9-38).

    ``_keep_all=True`` with columns is beyond the reference (its SQL
    engine raises NotImplementedError, distinct.py:12): which full row
    survives per key is arbitrary UNLESS the table carries ``arrange``
    state — then the FIRST row in arrange order is kept (the pandas
    ``drop_duplicates(keep="first")`` semantics), via a row_number window
    over (key, order) — one shuffle, deterministic at any scale."""
    if not args and not kwargs:
        return tbl.evolve(df=tbl.df.dropDuplicates())
    work = mutate(tbl, **kwargs) if kwargs else tbl
    names = list(tbl.group_by)
    for nm in resolve_names(args, work.columns):
        if nm not in names:
            names.append(nm)
    names += [k for k in kwargs if k not in names]
    if _keep_all:
        oc = work.row_ctx()._order_cols()
        if oc:
            from pyspark.sql import Window
            w = Window.partitionBy(*[F.col(n) for n in names]).orderBy(*oc)
            df = (work.df.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") == 1).drop("__rn"))
            return work.evolve(df=df)
        return work.evolve(df=work.df.dropDuplicates(names))
    return work.evolve(df=work.df.select(*names).distinct())


@verb
def head(tbl: SparkTbl, n: int = 5):
    """First n rows IN ARRANGE ORDER — with the deferred sort, head is a
    consumer of physical order, so it applies ``ordered_df()`` first;
    Catalyst turns sort+limit into TakeOrderedAndProject (a top-k, no
    global sort) — strictly cheaper than the eager-arrange plan was."""
    return tbl.evolve(df=tbl.ordered_df().limit(n))


@verb
def top_n(tbl: SparkTbl, n: int, wt=None):
    """Top (n>0) / bottom (n<0) rows per group by weight, ties kept —
    implemented as filter(min_rank(desc(wt)) <= n) exactly like the
    reference (siuba/dply/verbs.py:1863-1914).

    Examples
    --------
    >>> t = tbl(spark.createDataFrame([("a", 1.0), ("a", 3.0), ("b", 2.0)],
    ...                               "g string, x double"))
    >>> sorted((t >> group_by(_.g) >> top_n(1, _.x) >> collect()).x.tolist())
    [2.0, 3.0]
    """
    from pyspark.sql import Window

    if wt is None:
        wt_node = GetAttr(MetaArg(), tbl.columns[-1])
    else:
        wt_node, _ = _parse_sort_arg(wt)
    ctx = tbl.row_ctx()
    col, _ = lower(wt_node, ctx)
    order = col.desc_nulls_last() if n > 0 else col.asc_nulls_last()
    w = Window.partitionBy(*[F.col(g) for g in tbl.group_by]).orderBy(order)
    rank = F.rank().over(w)
    df = (tbl.df.withColumn("__tn_rank", rank)
          .filter(F.col("__tn_rank") <= abs(n))
          .drop("__tn_rank"))
    return tbl.evolve(df=df)


def _order_cols(tbl, order_by, fname, reverse=False):
    """Window ORDER BY columns from explicit order_by= or sticky arrange
    state; slicing without any order is nondeterministic on a distributed
    engine, so it's an error (same posture as the no-order cumulative
    warning, but hard: a silent arbitrary slice is a wrong answer)."""
    if order_by is not None:
        specs = [_parse_sort_arg(a) for a in
                 (order_by if isinstance(order_by, (list, tuple)) else [order_by])]
    elif tbl.order_by:
        specs = list(tbl.order_by)
    else:
        raise TranslationError(
            f"{fname} needs a defined row order: arrange() first or pass "
            "order_by= (distributed tables have no implicit row order)")
    cols = []
    for node, asc in specs:
        col, _ = lower(node, tbl.row_ctx())
        if reverse:
            asc = not asc
        cols.append(col.asc_nulls_last() if asc else col.desc_nulls_last())
    return cols


def _slice_by_rank(tbl, rank_col, n):
    df = (tbl.df.withColumn("__sl_rk", rank_col)
          .filter(F.col("__sl_rk") <= n).drop("__sl_rk"))
    return tbl.evolve(df=df)


def orderable_tiebreak_cols(tbl, exclude=()):
    """Column names usable as deterministic sort tie-breaks: map-typed
    (or map/UDT-nested) columns are not orderable in Spark and would
    fail analysis if blindly appended to an ORDER BY.  Shared by the
    slice family's with_ties=False tie-break and corpus cap_per_key."""
    from pyspark.sql import types as T

    def ok(dt):
        if isinstance(dt, T.MapType) or isinstance(dt, T.UserDefinedType):
            return False
        if isinstance(dt, T.ArrayType):
            return ok(dt.elementType)
        if isinstance(dt, T.StructType):
            return all(ok(f.dataType) for f in dt.fields)
        return True

    return [f.name for f in tbl.df.schema.fields
            if f.name not in exclude and ok(f.dataType)]


@verb
def slice_head(tbl: SparkTbl, n: int = 5, order_by=None):
    """First n rows per group in the current (or given) order — dplyr
    slice_head. One window shuffle on the group keys; ungrouped it is a
    rank-limit that AQE executes as a TopK, not a full sort.  Grouped,
    the rank-limit shape gets a map-side Partial WindowGroupLimit
    (SPARK-37099): each map partition forwards at most n rows per key,
    so a hot key's reduce partition stays bounded (plan-gated in
    tests/test_scale_plans.py).

    Examples
    --------
    >>> t = tbl(spark.createDataFrame([("a", 1.0), ("a", 3.0), ("b", 2.0)],
    ...                               "g string, x double"))
    >>> sorted((t >> group_by(_.g) >> slice_head(1, order_by=_.x)
    ...         >> collect()).x.tolist())
    [1.0, 2.0]
    """
    from pyspark.sql import Window

    order = _order_cols(tbl, order_by, "slice_head")
    w = Window.partitionBy(*[F.col(g) for g in tbl.group_by]).orderBy(*order)
    return _slice_by_rank(tbl, F.row_number().over(w), n)


@verb
def slice_tail(tbl: SparkTbl, n: int = 5, order_by=None):
    """Last n rows per group — slice_head over the reversed order."""
    from pyspark.sql import Window

    order = _order_cols(tbl, order_by, "slice_tail", reverse=True)
    w = Window.partitionBy(*[F.col(g) for g in tbl.group_by]).orderBy(*order)
    return _slice_by_rank(tbl, F.row_number().over(w), n)


@verb
def slice_min(tbl: SparkTbl, col, n: int = 1, with_ties: bool = True):
    """n rows with the smallest ``col`` per group (dplyr slice_min).
    ``with_ties=True`` keeps ties like top_n (rank() <= n may return more
    than n rows); ``False`` breaks ties arbitrarily-but-deterministically
    by the remaining columns (row_number over a struct tie-break).
    """
    return _slice_minmax(tbl, col, n, with_ties, asc=True)


@verb
def slice_max(tbl: SparkTbl, col, n: int = 1, with_ties: bool = True):
    """n rows with the largest ``col`` per group (dplyr slice_max)."""
    return _slice_minmax(tbl, col, n, with_ties, asc=False)


def _slice_minmax(tbl, col, n, with_ties, asc):
    from pyspark.sql import Window

    node, flip = _parse_sort_arg(col)
    if not flip:
        asc = not asc
    c, _ = lower(node, tbl.row_ctx())
    order = [c.asc_nulls_last() if asc else c.desc_nulls_last()]
    if not with_ties:
        # deterministic tie-break on every other (orderable) column
        order += [F.col(x).asc_nulls_last()
                  for x in orderable_tiebreak_cols(tbl)]
    w = Window.partitionBy(*[F.col(g) for g in tbl.group_by]).orderBy(*order)
    rank = F.rank() if with_ties else F.row_number()
    return _slice_by_rank(tbl, rank.over(w), n)


@verb
def slice_sample(tbl: SparkTbl, n: int | None = None,
                 prop: float | None = None, seed: int = 42,
                 weight_by=None):
    """Random sample per group (dplyr slice_sample). ``n=`` takes exactly
    n per group via seeded-random rank (one window); ``prop=`` is a pure
    seeded-random filter — zero shuffle, but per-group counts are only
    ~proportional.  For the reproducible-pipeline variant that survives
    engine changes, use ``stratified_sample`` (md5-keyed).

    ``weight_by=`` (dplyr parity; ``n=`` mode only) draws a WEIGHTED
    sample without replacement per group — the data-mixing primitive
    (sample documents proportional to a quality score).  Implemented as
    Efraimidis–Spirakis A-Res: rank by ``u^(1/w)`` descending, take the
    top n — exact weighted sampling in ONE window, no iteration, no
    driver state, JVM-side.  Zero weights are never selected; negative
    weights raise at runtime (dplyr errors too — silently flooring them
    would bias the sample)."""
    from pyspark.sql import Window

    if (n is None) == (prop is None):
        raise TranslationError("slice_sample: exactly one of n= or prop=")
    if weight_by is not None and prop is not None:
        raise TranslationError("slice_sample: weight_by= requires n=")
    if prop is not None:
        return tbl.evolve(df=tbl.df.filter(F.rand(seed) < float(prop)))
    if weight_by is not None:
        from ..functions.lowering import LowerCtx, lower
        from ..siu.calls import strip_symbolic
        wcol, _k = lower(strip_symbolic(weight_by),
                         LowerCtx(tbl.group_by, tbl.order_by))
        wcol = F.when(
            wcol < 0,
            F.raise_error(F.concat(
                F.lit("slice_sample: weight_by must be non-negative, got "),
                wcol.cast("string")))).otherwise(wcol.cast("double"))
        # zero-weight rows are ineligible (probability 0; dplyr shrinks
        # the sample rather than padding with them) — filter BEFORE
        # ranking so row_number can't reach them when n > eligible rows
        eligible = tbl.evolve(df=tbl.df.filter(wcol > 0))
        # A-Res key: u^(1/w), top-n by key = exact weighted sample
        key = F.pow(F.rand(seed), F.try_divide(F.lit(1.0), wcol))
        w = Window.partitionBy(*[F.col(g) for g in tbl.group_by]) \
            .orderBy(key.desc_nulls_last())
        return _slice_by_rank(eligible, F.row_number().over(w), n)
    w = Window.partitionBy(*[F.col(g) for g in tbl.group_by]) \
        .orderBy(F.rand(seed))
    return _slice_by_rank(tbl, F.row_number().over(w), n)


@verb
def qcut(tbl: SparkTbl, col, q: int = 4, out: str | None = None, labels=None):
    """Quantile binning (pandas.qcut): assign each row to one of ``q``
    equal-population buckets of ``col``.

    NOTE: computing the quantile edges is EAGER — exactly one aggregation
    job runs here (exact ``percentile``; the edges are data-dependent, and
    Spark schemas/plans are static).  The assignment itself is a lazy
    when-chain like ``cut``.  ``labels=False`` → integer codes; a list →
    names; default → interval strings (edges at full precision, where
    pandas trims display precision)."""
    from ..functions.lowering import lower as _lower

    node = strip_symbolic(col)
    c, _kind = _lower(node, tbl.row_ctx())
    probs = [i / q for i in range(q + 1)]
    row = tbl.df.agg(
        F.percentile(c, F.array(*[F.lit(p) for p in probs])).alias("e")).first()
    edges = list(row.e)
    if out is None:
        out = "qcut"
    if labels is False:
        names = list(range(q))
    elif labels is None:
        names = [f"({a}, {b}]" for a, b in zip(edges, edges[1:])]
        names[0] = "[" + names[0][1:]
    else:
        names = list(labels)
    expr = F.lit(None)
    for i, ((lo, hi), lab) in enumerate(zip(zip(edges, edges[1:]), names)):
        cond = ((c >= lo) if i == 0 else (c > lo)) & (c <= hi)
        expr = F.when(cond, F.lit(lab)).otherwise(expr)
    return tbl.evolve(df=tbl.df.withColumn(out, expr))
