"""forcats-style factor helpers (reference: siuba/dply/forcats.py).

Spark has no categorical dtype; value-remapping ops (`fct_recode`,
`fct_collapse`, `fct_lump`) translate to `F.when` chains / window ranks.
Level-order ops (`fct_inorder`, `fct_infreq`, `fct_rev`, `fct_reorder`)
only affect display/sort order in pandas; here they return the value
unchanged (documented divergence — the reference's SQL backends have *no*
`.cat` translations at all, SURVEY.md §2.8), except `fct_infreq`/
`fct_reorder` which can emit an explicit sort-key column on request.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..siu.calls import FnCall, Symbolic, _node
from .lowering import SCALAR, LowerCtx, lower, register_fn

__all__ = [
    "fct_recode", "fct_collapse", "fct_lump", "fct_rev", "fct_infreq",
    "fct_inorder", "fct_reorder",
]


def _factory(name):
    def fn(*args, **kwargs):
        return Symbolic(FnCall(name, tuple(_node(a) for a in args),
                               {k: _node(v) for k, v in kwargs.items()}))
    fn.__name__ = name
    return fn


def _low(x, ctx):
    from ..siu.calls import Call, Lit
    if isinstance(x, Lit):
        return x.value
    if isinstance(x, Call):
        return lower(x, ctx)[0]
    return x


@register_fn("fct_recode")
def _fct_recode(ctx, args, kwargs):
    """fct_recode(_.x, new_level="old_level", ...) (reference: forcats.py:210)."""
    col = _low(args[0], ctx)
    out = col
    for new, old in kwargs.items():
        old_v = _low(old, ctx)
        old_vals = old_v if isinstance(old_v, (list, tuple)) else [old_v]
        out = F.when(col.isin(list(old_vals)), F.lit(new)).otherwise(out)
    return out, SCALAR


@register_fn("fct_collapse")
def _fct_collapse(ctx, args, kwargs):
    """fct_collapse(_.x, {"new": ["old", ...]}, group_other=...) — recat is
    a positional dict in the reference (forcats.py:255); name=old kwargs
    also accepted."""
    col = _low(args[0], ctx)
    recat = dict(_low(args[1], ctx)) if len(args) > 1 else {}
    other = kwargs.pop("group_other", kwargs.pop("other_level", None))
    other = _low(other, ctx) if other is not None else None
    for new, old in kwargs.items():
        recat[new] = _low(old, ctx)
    out = None
    for new, old_v in recat.items():
        old_vals = list(old_v) if isinstance(old_v, (list, tuple)) else [old_v]
        cond = col.isin(old_vals)
        out = F.when(cond, F.lit(new)) if out is None else out.when(cond, F.lit(new))
    if out is None:
        return col, SCALAR
    out = out.otherwise(F.lit(other)) if other is not None else out.otherwise(col)
    return out, SCALAR


@register_fn("fct_lump")
def _fct_lump(ctx, args, kwargs):
    """Keep the n most frequent values (negative n: LEAST frequent), or the
    values above a frequency proportion (``prop``), optionally weighted
    (``w``); lump the rest into "Other" (reference: forcats.py:351-417).
    Distributed impl: frequency via a partition-by-value window +
    dense_rank by (freq desc, value) — no driver collect, same plan shape
    at any scale."""
    from ..siu.calls import Lit

    def val(x, default=None):
        if x is None:
            return default
        return x.value if isinstance(x, Lit) else x

    col = _low(args[0], ctx)
    n = val(kwargs.get("n", args[1] if len(args) > 1 else None))
    prop = val(kwargs.get("prop"))
    other = val(kwargs.get("other_level"), "Other")
    w = kwargs.get("w")
    if n is None and prop is None:
        n = 5
    groups = [F.col(g) for g in ctx.group_by]
    if w is not None:
        w_col = _low(w, ctx)
        cnt = F.sum(w_col).over(Window.partitionBy(*groups, col))
        total = F.sum(w_col).over(Window.partitionBy(*groups))
    else:
        cnt = F.count(F.lit(1)).over(Window.partitionBy(*groups, col))
        total = F.count(F.lit(1)).over(Window.partitionBy(*groups))
    if prop is not None:
        share = cnt / total
        keep = share > prop if prop >= 0 else share <= -prop
        return F.when(keep, col).otherwise(F.lit(other)), SCALAR
    if n >= 0:
        rk = F.dense_rank().over(
            Window.partitionBy(*groups).orderBy(cnt.desc(), col.asc_nulls_last()))
    else:
        rk = F.dense_rank().over(
            Window.partitionBy(*groups).orderBy(cnt.asc(), col.asc_nulls_last()))
    return F.when(rk <= abs(int(n)), col).otherwise(F.lit(other)), SCALAR


# --------------------------------------------------------------------------
# Scale-safe fct_lump: the expression translation above ranks with windows
# partitioned only by the grouping keys — ungrouped, that is an empty
# partitionBy funnelling the whole table through one reducer.  mutate()
# calls rewrite_fct_lump() first, which replaces each fct_lump node with an
# agg → rank-the-tiny-distinct-table → broadcast-join plan: the full table
# shuffles once on (groups, value) for the count, the window runs over at
# most |distinct values| rows, and the keep-set joins back broadcast.
# Same results (the rank keys and tie-breaks are identical), 100 TB-safe.
# --------------------------------------------------------------------------


def _fct_lump_params(ctx, node):
    from ..siu.calls import Lit

    def val(x, default=None):
        if x is None:
            return default
        return x.value if isinstance(x, Lit) else x

    args, kwargs = node.args, node.kwargs
    n = val(kwargs.get("n", args[1] if len(args) > 1 else None))
    prop = val(kwargs.get("prop"))
    other = val(kwargs.get("other_level"), "Other")
    w = kwargs.get("w")
    if n is None and prop is None:
        n = 5
    return n, prop, other, w


def _fct_lump_plan(ctx, node, df, idx):
    """DataFrame-level fct_lump: returns (df, replacement Column, tmp cols)."""
    n, prop, other, w = _fct_lump_params(ctx, node)
    col = _low(node.args[0], ctx)
    groups = list(ctx.group_by)
    vname = f"__fct_val_{idx}"
    flag = f"__fct_keep_{idx}"
    tmps = [vname, flag]
    df = df.withColumn(vname, col)
    if w is not None:
        wname = f"__fct_wt_{idx}"
        df = df.withColumn(wname, _low(w, ctx))
        tmps.append(wname)
        agg = F.sum(F.col(wname)).alias("__cnt")
    else:
        agg = F.count(F.lit(1)).alias("__cnt")
    counts = df.groupBy(*[F.col(g) for g in groups], F.col(vname)).agg(agg)
    # windows below run over the aggregated counts table (≤ |distinct
    # values| rows), never the full input
    wsp = Window.partitionBy(*[F.col(g) for g in groups])
    if prop is not None:
        share = F.col("__cnt") / F.sum("__cnt").over(wsp)
        keep_cond = share > prop if prop >= 0 else share <= -prop
    else:
        if n >= 0:
            order = [F.col("__cnt").desc(), F.col(vname).asc_nulls_last()]
        else:
            order = [F.col("__cnt").asc(), F.col(vname).asc_nulls_last()]
        keep_cond = F.dense_rank().over(wsp.orderBy(*order)) <= abs(int(n))
    from ..operators.joins import join_back
    keep = (counts.withColumn(flag, keep_cond).filter(F.col(flag))
            .select(vname, *groups, flag))
    df = join_back(df, keep, [vname, *groups], broadcast=True)
    out = F.when(F.col(flag), F.col(vname)).otherwise(F.lit(other))
    return df, out, tmps


def rewrite_fct_lump(node, ctx, df):
    """Replace fct_lump nodes in a Call tree with their precomputed plans.

    Returns ``(df, node, tmp_col_names)``; the caller drops the tmp columns
    after projecting the final expression.  No-op (identity) when the tree
    contains no fct_lump."""
    from ..siu.calls import (BinaryOp, Call, FnCall, GetAttr, GetItem, Lit,
                             MethodCall, UnaryOp)

    state = {"df": df, "tmps": [], "idx": 0}

    def walk(nd):
        if not isinstance(nd, Call):
            return nd
        if isinstance(nd, FnCall):
            if nd.name == "fct_lump":
                state["df"], col, tmps = _fct_lump_plan(
                    ctx, nd, state["df"], state["idx"])
                state["idx"] += 1
                state["tmps"].extend(tmps)
                return Lit(col)  # F.lit(Column) passes the column through
            return FnCall(nd.name, tuple(walk(a) for a in nd.args),
                          {k: walk(v) for k, v in nd.kwargs.items()})
        if isinstance(nd, BinaryOp):
            return BinaryOp(nd.op, walk(nd.left), walk(nd.right))
        if isinstance(nd, UnaryOp):
            return UnaryOp(nd.op, walk(nd.operand))
        if isinstance(nd, MethodCall):
            return MethodCall(walk(nd.obj), nd.name,
                              tuple(walk(a) for a in nd.args),
                              {k: walk(v) for k, v in nd.kwargs.items()})
        if isinstance(nd, GetAttr):
            return GetAttr(walk(nd.obj), nd.name)
        if isinstance(nd, GetItem):
            return GetItem(walk(nd.obj), walk(nd.key))
        return nd

    new = walk(node)
    return state["df"], new, state["tmps"]


@register_fn("fct_rev")
def _fct_rev(ctx, args, kwargs):
    return _low(args[0], ctx), SCALAR  # value context: passthrough (no cat dtype)


@register_fn("fct_inorder")
def _fct_inorder(ctx, args, kwargs):
    return _low(args[0], ctx), SCALAR


@register_fn("fct_infreq")
def _fct_infreq(ctx, args, kwargs):
    return _low(args[0], ctx), SCALAR


@register_fn("fct_reorder")
def _fct_reorder(ctx, args, kwargs):
    """fct_reorder(_.x, _.y, fn) — pandas reorders levels by fn(y) per
    level (reference: forcats.py:159).  In value contexts (mutate/select)
    the value passes through unchanged (no categorical dtype); inside
    ``arrange`` the level order IS applied — see ``fct_sort_plan``."""
    return _low(args[0], ctx), SCALAR


# --------------------------------------------------------------------------
# Level order inside arrange(): the one place level order is observable
# without a categorical dtype.  arrange() calls fct_sort_plan() for each
# sort arg; a level-order fct call compiles to the window sort keys that
# reproduce pandas' category order (reference: forcats.py:28,101,159 —
# inorder = first-observed, infreq = frequency desc, reorder = fn(x) per
# level, rev = reversed default (alphabetic) order).
# --------------------------------------------------------------------------

FCT_ORDER_FNS = frozenset({"fct_rev", "fct_inorder", "fct_infreq", "fct_reorder"})

_REORDER_AGGS = {
    "median": F.median, "mean": F.mean, "max": F.max, "min": F.min,
    "sum": F.sum, "count": F.count, "std": F.stddev_samp, "var": F.var_samp,
}


def _reorder_agg(fn):
    """Map the fct_reorder func arg (np.median default, str, or callable
    like np.max) to a Spark aggregate."""
    from .lowering import TranslationError
    if fn is None:
        return F.median
    name = fn if isinstance(fn, str) else getattr(fn, "__name__", None)
    if name in _REORDER_AGGS:
        return _REORDER_AGGS[name]
    raise TranslationError(
        f"fct_reorder func {fn!r} has no Spark aggregate translation; "
        f"use one of {sorted(_REORDER_AGGS)}")


def _lit_val(node):
    from ..siu.calls import Lit
    return node.value if isinstance(node, Lit) else node


def fct_sort_plan(node, asc, ctx, df, idx):
    """Compile a level-order forcats call used as an arrange() key.

    Returns ``(df, [sort Columns], [tmp col names])`` or None if ``node``
    is not a level-order fct call.  Keys are materialized as temp columns
    (window aggregates can't sit directly in orderBy)."""
    if not isinstance(node, FnCall) or node.name not in FCT_ORDER_FNS:
        return None

    def direc(c, a):
        return c.asc_nulls_last() if a else c.desc_nulls_last()

    f_col = _low(node.args[0], ctx)
    if node.name == "fct_rev":
        # reversed default (alphabetically sorted) categories
        return df, [direc(f_col, not asc)], []

    knm = f"__fct_key_{idx}"
    if node.name == "fct_inorder":
        # first-observed order: min monotonically-increasing id per level.
        # ctx.order_by here IS the arrange being materialized (this fct
        # call is one of its keys), so there is no prior order to honor —
        # appearance order is scan order, as in the eager implementation.
        mid = f"__fct_mid_{idx}"
        df = df.withColumn(mid, F.monotonically_increasing_id())
        df = df.withColumn(
            knm, F.min(F.col(mid)).over(Window.partitionBy(f_col)))
        return df, [direc(F.col(knm), asc)], [mid, knm]
    if node.name == "fct_infreq":
        # frequency desc; ties broken by value asc (deterministic — the
        # reference inherits pandas hashtable order for ties)
        df = df.withColumn(
            knm, F.count(F.lit(1)).over(Window.partitionBy(f_col)))
        return df, [direc(F.col(knm), not asc), direc(f_col, asc)], [knm]

    # fct_reorder(f, x, func=np.median, desc=False)
    x_col = _low(node.args[1], ctx)
    func = _lit_val(node.kwargs["func"]) if "func" in node.kwargs else (
        _lit_val(node.args[2]) if len(node.args) > 2 else None)
    desc_flag = _lit_val(node.kwargs["desc"]) if "desc" in node.kwargs else (
        _lit_val(node.args[3]) if len(node.args) > 3 else False)
    key = _reorder_agg(func)(x_col).over(Window.partitionBy(f_col))
    df = df.withColumn(knm, key)
    eff_asc = asc != bool(desc_flag)
    return df, [direc(F.col(knm), eff_asc), direc(f_col, asc)], [knm]


def fct_levels_collect(node, ctx, df, max_levels=10000):
    """Resolve the LEVEL ORDER a top-level ``fct_rev``/``fct_inorder``/
    ``fct_infreq``/``fct_reorder`` call implies, for recording into the
    table's factor ledger (``SparkTbl.factors``) — so ``.cat.codes`` /
    ``.cat.categories``, ``arrange`` and ``pivot_wider`` column order all
    agree with pandas after e.g. ``mutate(f=fct_infreq(_.s))`` (VERDICT
    r5 punch item; closes the last §2.8 divergence).

    Returns a level tuple, or None when ``node`` is not a level-order fct
    call.  ``fct_rev`` over a column with ledger levels is free (reversed
    ledger); every other case runs ONE bounded distinct/agg collect over
    the level set — the same eager bounded-job class as pivot_wider's key
    discovery and fct_lump's threshold, capped at ``max_levels``.

    Orders (reference: siuba/dply/forcats.py:28,101,159):
    - fct_rev: reversed categories (reversed sorted uniques if dynamic)
    - fct_inorder: first observed — min monotonically-increasing id per
      level (file/partition order; deterministic for a deterministic scan)
    - fct_infreq: frequency desc, value asc on ties
    - fct_reorder: fn(x) per level (asc, or desc=True), value asc on ties
    """
    from ..siu.calls import GetAttr, MetaArg
    from .lowering import TranslationError

    if not isinstance(node, FnCall) or node.name not in FCT_ORDER_FNS:
        return None

    if node.name == "fct_rev":
        inner = node.args[0]
        if isinstance(inner, GetAttr) and isinstance(inner.obj, MetaArg) \
                and ctx.factors.get(inner.name) is not None \
                and ctx.factors[inner.name].levels is not None:
            return tuple(reversed(ctx.factors[inner.name].levels))

    f_col = _low(node.args[0], ctx)
    base = df.select(f_col.alias("__fct_f")).where(F.col("__fct_f").isNotNull())
    if node.name == "fct_rev":
        lv = (base.distinct()
              .orderBy(F.col("__fct_f").desc()))
    elif node.name == "fct_inorder":
        oc = ctx._order_cols()
        lv = (df.orderBy(*oc) if oc else df)
        lv = (lv.select(f_col.alias("__fct_f"),
                        F.monotonically_increasing_id().alias("__fct_mid"))
              .where(F.col("__fct_f").isNotNull())
              .groupBy("__fct_f").agg(F.min("__fct_mid").alias("__k"))
              .orderBy(F.col("__k").asc(), F.col("__fct_f").asc()))
    elif node.name == "fct_infreq":
        lv = (base.groupBy("__fct_f").agg(F.count(F.lit(1)).alias("__k"))
              .orderBy(F.col("__k").desc(), F.col("__fct_f").asc()))
    else:  # fct_reorder
        x_col = _low(node.args[1], ctx)
        func = _lit_val(node.kwargs["func"]) if "func" in node.kwargs else (
            _lit_val(node.args[2]) if len(node.args) > 2 else None)
        desc_flag = _lit_val(node.kwargs["desc"]) if "desc" in node.kwargs \
            else (_lit_val(node.args[3]) if len(node.args) > 3 else False)
        key = F.col("__k").desc() if desc_flag else F.col("__k").asc()
        lv = (df.select(f_col.alias("__fct_f"), x_col.alias("__fct_x"))
              .where(F.col("__fct_f").isNotNull())
              .groupBy("__fct_f").agg(_reorder_agg(func)("__fct_x").alias("__k"))
              .orderBy(key, F.col("__fct_f").asc()))
    rows = lv.select("__fct_f").limit(max_levels + 1).collect()
    if len(rows) > max_levels:
        raise TranslationError(
            f"{node.name}: more than {max_levels} distinct levels — not a "
            f"categorical column (raise max_levels if intentional)")
    return tuple(r["__fct_f"] for r in rows)


fct_recode = _factory("fct_recode")
fct_collapse = _factory("fct_collapse")
fct_lump = _factory("fct_lump")
fct_rev = _factory("fct_rev")
fct_infreq = _factory("fct_infreq")
fct_inorder = _factory("fct_inorder")
fct_reorder = _factory("fct_reorder")
