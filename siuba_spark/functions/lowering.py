"""Call-AST → ``pyspark.sql.Column`` lowering, context sensitive.

The single "compiler" of the engine (SURVEY.md §4): the same expression
compiles differently in aggregate context (``summarize``) vs row context
(``mutate``/``filter``/``arrange``).  In row context, aggregate ops become
windows partitioned by the table's group keys, and cumulative/offset ops
become ordered windows fed by the table's ``arrange`` state — the reference
encodes this trichotomy as AggOver / RankOver / CumlOver
(siuba/sql/translate.py:87-166); here each maps onto a Spark ``Window``
spec and Catalyst does the rest.
"""

from __future__ import annotations

import re
import warnings
from dataclasses import dataclass, field

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from ..siu.calls import (
    BinaryOp, Call, FnCall, GetAttr, GetItem, Lit, MetaArg, MethodCall,
    RawCallable, UnaryOp,
)
from .accessors import DT_METHODS, DT_PROPERTIES, STR_METHODS

ROW = "row"        # mutate / filter / arrange context
AGG = "agg"        # summarize context

SCALAR = "scalar"  # row-level value
AGGED = "agged"    # one value per group (only meaningful in AGG mode)


class TranslationError(Exception):
    """Raised at translation time for untranslatable expressions
    (mirrors the reference's FunctionLookupError,
    siuba/sql/translate.py:355-361)."""


# source functions whose every call draws fresh values: an expression
# containing one is never pooled (two unseeded rand() windows must stay
# independent) and never rerouted to the agg+join lowering
NONDETERMINISTIC = ("rand(", "randn(", "uuid(", "shuffle(")


def nondeterministic(*parts) -> bool:
    """True when any part's string form calls a NONDETERMINISTIC source."""
    text = "".join(str(p) for p in parts)
    return any(tok in text for tok in NONDETERMINISTIC)


class WPool:
    """Window-expression pool: CSE that Catalyst refuses to do.

    Spark never dedups semantically-identical window expressions — each
    occurrence in a projection is a separate per-row frame evaluation in
    WindowExec (verified: ``select(c.alias("a"), (c*2).alias("b"))`` with
    the same windowed Column object yields TWO window functions in the
    physical plan).  Composite translations (rolling var/std share n, Σx,
    Σx², the overflow gate and the fallback; ``(x - mean)/mean`` references
    the same AggOver twice) therefore multiply frame-replay cost.

    The pool keys each windowed aggregate on its expression string (stable
    for identical trees, distinct across frames/specs) and hands back a
    ``F.col`` reference to a reserved name; the host verb (mutate)
    materializes every not-yet-materialized entry in ONE ``select`` right
    before the user projection and drops the helpers at the end.
    Nondeterministic sources (rand/randn/uuid/shuffle) are never pooled —
    two unseeded rand() windows must stay independent.  Pooling
    ``monotonically_increasing_id`` is deliberate: it turns the "no
    arrange() before a window" fallback into ONE consistent ordering
    shared by every window in the mutate (ADVICE r6 item 3)."""

    __slots__ = ("entries", "materialized", "_n", "_prefix")

    def __init__(self, prefix: str = "__wpool_"):
        self.entries = {}       # key -> (name, Column)
        self.materialized = []  # names already select()ed into the df
        self._n = 0
        self._prefix = prefix

    def add(self, col):
        key = str(col)
        if nondeterministic(key):
            return col
        ent = self.entries.get(key)
        if ent is None:
            name = f"{self._prefix}{self._n}__"
            self._n += 1
            self.entries[key] = (name, col)
            return F.col(name)
        return F.col(ent[0])

    def pending(self):
        done = set(self.materialized)
        return [(n, c) for (n, c) in self.entries.values() if n not in done]

    def invalidate(self):
        """A pre-existing column was overwritten: every pooled expression
        string could now refer to stale data — forget the keys (already
        materialized helper columns stay in the df until the final drop;
        fresh entries get fresh names from the monotone counter)."""
        self.entries = {}


@dataclass
class LowerCtx:
    """Lowering context: grouping / ordering state + compilation mode."""

    group_by: tuple[str, ...] = ()
    order_by: tuple = ()  # tuple of (Call, ascending: bool)
    mode: str = ROW
    used_window: bool = field(default=False)
    # factor-level ledger (column name -> CatMeta) fed from SparkTbl, and
    # per-node metadata produced by `.cat.*` method calls during this
    # lowering pass (id(node) -> CatMeta) so chains and the assigning verb
    # can read the resulting levels (functions/cat.py)
    factors: dict = field(default_factory=dict)
    cat_results: dict = field(default_factory=dict)
    # window-expression pool (see WPool) — set by verbs that can
    # materialize helper columns (mutate); None elsewhere = no pooling
    wpool: WPool | None = None
    # when set (mutate(_agg_method="join"/"broadcast") with a non-empty
    # grouping), order-free AggOver aggregates are collected here as
    # PLAIN aggregate columns and the host verb materializes them as ONE
    # groupBy(keys).agg(...) joined back on the keys — the scale-safe
    # lowering for hot/low-cardinality partition keys, where the window
    # form funnels every row of a hot key through a single Window task
    # that AQE cannot split (guide §2.5; same crossover as
    # add_count(method="join"))
    aggpool: WPool | None = None

    def pooled(self, col):
        """Route a windowed aggregate through the verb's WPool (identity
        when the verb provides none)."""
        if self.wpool is None:
            return col
        return self.wpool.add(col)

    def joins_back(self, *inputs) -> bool:
        """True when a ROW-mode aggregate over ``inputs`` lowers through
        ``aggpool`` (the agg+join form) instead of the group window.
        Nondeterministic inputs stay on the window: WPool declines to
        pool them, and an unpooled plain aggregate would silently lose
        its grouping."""
        return (self.aggpool is not None and bool(self.group_by)
                and not nondeterministic(*inputs))

    # -- window spec builders (AggOver / RankOver / CumlOver analogues) ----
    def w_agg(self):
        self.used_window = True
        return Window.partitionBy(*[F.col(g) for g in self.group_by])

    def _order_cols(self):
        if not self.order_by:
            return None
        cols = []
        sub = LowerCtx(self.group_by, (), ROW)
        for call, asc in self.order_by:
            if isinstance(call, str):  # name-only order state (vocab_topk)
                call = GetAttr(MetaArg(), call)
            c, _ = lower(call, sub)
            cols.append(c.asc_nulls_last() if asc else c.desc_nulls_last())
        return cols

    def w_ordered(self, order_cols=None):
        self.used_window = True
        cols = order_cols if order_cols is not None else self._order_cols()
        if cols is None:
            warnings.warn(
                "window function requires ordering but no arrange() has been "
                "applied; result order is undefined"
            )
            cols = [F.monotonically_increasing_id()]
        return Window.partitionBy(*[F.col(g) for g in self.group_by]).orderBy(*cols)

    def w_range_seconds(self, secs):
        """RANGE frame of trailing ``secs`` seconds over the (single,
        ascending) arrange key — the time-windowed rolling frame.  SQL
        range semantics: both edges closed, [t - secs, t]."""
        self.used_window = True
        if not self.order_by:
            raise TranslationError(
                "time-window rolling requires arrange() on a time column")
        call, asc = self.order_by[0]
        if not asc:
            raise TranslationError(
                "time-window rolling requires an ascending time key")
        sub = LowerCtx(self.group_by, (), ROW)
        c, _ = lower(call, sub)
        from .accessors import epoch_seconds
        return (Window.partitionBy(*[F.col(g) for g in self.group_by])
                .orderBy(epoch_seconds(c))
                .rangeBetween(-secs, 0))

    def w_cuml(self):
        return self.w_ordered().rowsBetween(Window.unboundedPreceding, Window.currentRow)

    def w_full(self):
        return self.w_ordered().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )


class _Accessor:
    """Internal marker for `.str` / `.dt` / `.cat` accessor chains.
    ``meta`` carries factor level metadata for `.cat` (functions/cat.py)."""

    __slots__ = ("col", "which", "meta")

    def __init__(self, col, which, meta=None):
        self.col = col
        self.which = which
        self.meta = meta


# --------------------------------------------------------------------------
# Element-wise method registry (pandas-Series-style methods)
# --------------------------------------------------------------------------

_CAST_MAP = {
    str: "string", "str": "string", "string": "string",
    int: "long", "int": "long", "int64": "long", "long": "long",
    float: "double", "float": "double", "float64": "double", "double": "double",
    bool: "boolean", "bool": "boolean", "boolean": "boolean",
    "date": "date", "timestamp": "timestamp", "int32": "int",
}


def _astype(col, t):
    if t == "category":
        # Spark has no categorical type; values are unchanged, so a string
        # cast is behavior-compatible for everything but memory layout
        import warnings
        warnings.warn("astype('category') keeps values as strings on Spark "
                      "(no dictionary-encoded column type)")
        return col.cast("string")
    return col.cast(_CAST_MAP.get(t, t if isinstance(t, str) else None))


def _flat_case(col, mapping, default):
    """ONE flat CaseWhen over a {value: replacement} dict, in reversed
    item order so it evaluates identically to the historical nested
    when().otherwise(prev) chain (outermost when == last dict entry; the
    keys are distinct so at most one branch can match anyway).  The
    nested form serializes at 2^N cost in TreeNode.toJSON / plan-listener
    paths — a large replace() map could OOM the driver just by being
    inspected — while the flat form is linear."""
    items = list(mapping.items())
    if not items:
        return default
    out = F.when(col == F.lit(items[-1][0]), F.lit(items[-1][1]))
    for k, v in reversed(items[:-1]):
        out = out.when(col == F.lit(k), F.lit(v))
    return out.otherwise(default)


def _replace(col, mapping):
    return _flat_case(col, mapping, col)


def _map_dict(col, mapping, na_action=None):
    """pandas Series.map(dict): matched keys remap, UNMATCHED become NULL
    (unlike .replace, which keeps the original value)."""
    return _flat_case(col, mapping, F.lit(None))


ELWISE_METHODS = {
    "abs": lambda col: F.abs(col),
    "round": lambda col, n=0: F.round(col, n),
    "isin": lambda col, values: col.isin(list(values)),
    "astype": lambda col, t: _astype(col, t),
    "map": _map_dict,
    "fillna": lambda col, v: F.coalesce(col, F.lit(v) if not isinstance(v, Column) else v),
    "isna": lambda col: col.isNull(),
    "isnull": lambda col: col.isNull(),
    "notna": lambda col: col.isNotNull(),
    "notnull": lambda col: col.isNotNull(),
    "clip": lambda col, lower=None, upper=None: _clip(col, lower, upper),
    "between": lambda col, left, right: col.between(left, right),
    "where": lambda col, cond, other=None: F.when(cond, col).otherwise(other),
    "mask": lambda col, cond, other=None: F.when(cond, F.lit(other)).otherwise(col),
    "replace": _replace,
    "floor": lambda col: F.floor(col),
    "ceil": lambda col: F.ceil(col),
    "sqrt": lambda col: F.sqrt(col),
    "pow": lambda col, p: F.pow(col, p),
    "exp": lambda col: F.exp(col),
    "log": lambda col: F.log(col),
    # container element pluck (pandas `.str.split(...).get(i)`; the
    # reference registers Series.get for this, ops/generics.py) —
    # F.get is 0-based and NULL-safe on out-of-range, matching pandas
    "get": lambda col, i: F.get(col, i),
}


def _clip(col, lower=None, upper=None):
    out = col
    if lower is not None:
        out = F.greatest(out, F.lit(lower) if not isinstance(lower, Column) else lower)
    if upper is not None:
        out = F.least(out, F.lit(upper) if not isinstance(upper, Column) else upper)
    return out


# --------------------------------------------------------------------------
# Aggregate method registry.  Builders take (over, col, ...) where `over`
# wraps each aggregate primitive: identity in AGG mode, `.over(w_agg)` in
# ROW mode — so compound aggregates (sem, var of mean…) window correctly.
# --------------------------------------------------------------------------

AGG_METHODS = {
    "mean": lambda over, col: over(F.avg(col)),
    "sum": lambda over, col: over(F.sum(col)),
    "min": lambda over, col: over(F.min(col)),
    "max": lambda over, col: over(F.max(col)),
    "median": lambda over, col: over(F.median(col)),
    "std": lambda over, col: over(F.stddev_samp(col)),
    "var": lambda over, col: over(F.var_samp(col)),
    "count": lambda over, col: over(F.count(col)),
    "size": lambda over, col: over(F.count(F.lit(1))),
    "quantile": lambda over, col, q=0.5: over(F.percentile(col, F.lit(q))),
    "all": lambda over, col: over(F.bool_and(col.cast("boolean"))),
    "any": lambda over, col: over(F.bool_or(col.cast("boolean"))),
    "prod": lambda over, col: over(F.product(col)),
    # pandas (and duckdb) use bias-corrected *sample* skew/kurtosis;
    # Spark's skewness/kurtosis are population moments — apply the
    # standard G1/G2 corrections (verified to 1e-12 against pandas)
    "skew": lambda over, col: (lambda g1, n:
        g1 * F.sqrt(n * (n - 1)) / (n - 2)
        )(over(F.skewness(col)), over(F.count(col))),
    "kurt": lambda over, col: (lambda g2, n:
        ((n - 1) / ((n - 2) * (n - 3))) * ((n + 1) * g2 + 6)
        )(over(F.kurtosis(col)), over(F.count(col))),
    "corr": lambda over, col, other: over(F.corr(col, other)),
    "cov": lambda over, col, other: over(F.covar_samp(col, other)),
    "sem": lambda over, col: over(F.stddev_samp(col)) / F.sqrt(over(F.count(col))),
    "mean_abs": lambda over, col: over(F.avg(F.abs(col))),
    # deterministic mode: ties broken by smallest value (duckdb-compatible
    # needs the same tie-break on both sides of a comparison)
    "mode": lambda over, col: over(F.mode(col, True)),
    # approximate aggregates (beyond the reference — the 100 TB path where
    # exact distinct/percentile buffers would dominate the shuffle).
    # HyperLogLog++ / KLL-style sketches: mergeable, bounded memory.
    "approx_nunique": lambda over, col, rsd=0.05:
        over(F.approx_count_distinct(col, rsd)),
    "approx_quantile": lambda over, col, q=0.5, accuracy=10000:
        over(F.percentile_approx(col, F.lit(q), F.lit(accuracy))),
    # pandas returns uniques in appearance order; distributed engines have
    # no appearance order, so the deterministic choice is sorted
    "unique": lambda over, col: F.array_sort(over(F.collect_set(col))),
}
# pandas alias pairs (the reference registers both spellings,
# siuba/ops/generics.py: kurtosis/kurt, product/prod)
AGG_METHODS["kurtosis"] = AGG_METHODS["kurt"]
AGG_METHODS["product"] = AGG_METHODS["prod"]

# Spark aggregates whose buffer is a JVM object (a sort buffer, a value
# map, a collected array) instead of fixed-width fields: what median,
# quantile, mode, approx_quantile, unique and the collect_* forms lower
# to.  summarize keeps such an aggregate out of a COUNT(DISTINCT)'s
# Expand, where it would carry its buffer per (group, distinct value).
OBJECT_BUFFER_AGGS = frozenset({"percentile", "median", "mode",
                                "percentile_approx", "collect_list",
                                "collect_set"})
_OBJECT_BUFFER_RE = re.compile(
    r"\b(?:%s)\(" % "|".join(sorted(OBJECT_BUFFER_AGGS)))


def has_object_buffer(col: Column) -> bool:
    """True when the aggregate Column calls an OBJECT_BUFFER_AGGS function."""
    return _OBJECT_BUFFER_RE.search(str(col)) is not None

# nunique: Spark bans DISTINCT aggregates inside windows → collect_set
AGG_WINDOW_OVERRIDES = {
    "nunique": lambda ctx, col: F.size(F.collect_set(col).over(ctx.w_agg())),
}
AGG_PLAIN_OVERRIDES = {
    "nunique": lambda col: F.count_distinct(col),
}

# --------------------------------------------------------------------------
# Window (order-dependent) method registry — ROW mode only
# --------------------------------------------------------------------------


def _cumprod(ctx, col):
    # no native cumprod: sign-aware exp(sum(log(abs)))
    w = ctx.w_cuml()
    logsum = F.sum(F.log(F.abs(col))).over(w)
    negs = F.sum(F.when(col < 0, 1).otherwise(0)).over(w)
    zero = F.min(F.when(col == 0, F.lit(0)).otherwise(F.lit(1))).over(w)
    sign = F.when(negs % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))
    return F.when(zero == 0, F.lit(0.0)).otherwise(sign * F.exp(logsum))


def _rank_average(ctx, col, method: str = "average", ascending: bool = True,
                  pct: bool = False):
    """pandas Series.rank — all five methods.  average = min_rank +
    (ties-1)/2 (reference trick: siuba/sql/dialects/base.py:75-80); the
    others map straight onto Spark rank/dense_rank/row_number.  NULLs
    stay unranked (na_option='keep').

    Every term is a window over the rank's own (group, value) spec, so
    the whole method is one Exchange + Sort + Window and shares it with
    any other rank of the same order: the tie count is a RANGE-frame
    ``count`` over the current row's peers, the ``pct`` denominators run
    over the whole-partition frame.  NULLs sort last and ``count`` skips
    them, so they move no non-NULL value."""
    order = col.asc_nulls_last() if ascending else col.desc_nulls_last()
    w_rank = ctx.w_ordered([order])
    if method in ("average", "max"):
        ties = F.count(col).over(
            w_rank.rangeBetween(Window.currentRow, Window.currentRow))
    if method == "average":
        r = F.rank().over(w_rank) + (ties - 1) / 2.0
    elif method == "min":
        r = F.rank().over(w_rank)
    elif method == "max":
        r = F.rank().over(w_rank) + ties - 1
    elif method == "dense":
        r = F.dense_rank().over(w_rank)
    elif method == "first":
        # ties broken by encounter order — nondeterministic in a
        # distributed engine unless an arrange() fixed the order (same
        # caveat pandas has under a shuffled frame)
        r = F.row_number().over(w_rank)
    else:
        raise TranslationError(f"rank method {method!r} not supported")
    r = F.when(col.isNotNull(), r)
    if pct:
        w_all = w_rank.rowsBetween(Window.unboundedPreceding,
                                   Window.unboundedFollowing)
        if method == "dense":
            # pandas divides dense ranks by the number of DISTINCT non-null
            # values, not the row count ([1,1,2,3] → [1/3,1/3,2/3,1]);
            # collect_set because DISTINCT aggs are banned inside windows,
            # array_distinct because collect_set keeps every NaN (and
            # -0.0 beside 0.0) where the rank counts one value
            denom = F.size(F.array_distinct(F.collect_set(col).over(w_all)))
        else:
            denom = F.count(col).over(w_all)
        r = r / denom
    return r


WINDOW_METHODS = {
    "cumsum": lambda ctx, col: F.sum(col).over(ctx.w_cuml()),
    "cummax": lambda ctx, col: F.max(col).over(ctx.w_cuml()),
    "cummin": lambda ctx, col: F.min(col).over(ctx.w_cuml()),
    "cummean": lambda ctx, col: F.avg(col).over(ctx.w_cuml()),
    "cumall": lambda ctx, col: F.bool_and(col.cast("boolean")).over(ctx.w_cuml()),
    "cumany": lambda ctx, col: F.bool_or(col.cast("boolean")).over(ctx.w_cuml()),
    "cumcount": lambda ctx, col: F.count(F.lit(1)).over(ctx.w_cuml()) - 1,
    "cumprod": _cumprod,
    "diff": lambda ctx, col, periods=1: col - F.lag(col, periods).over(ctx.w_ordered()),
    "pct_change": lambda ctx, col, periods=1: col / F.lag(col, periods).over(ctx.w_ordered()) - 1,
    "shift": lambda ctx, col, periods=1: F.lag(col, periods).over(ctx.w_ordered()),
    "ffill": lambda ctx, col: F.last(col, ignorenulls=True).over(ctx.w_cuml()),
    "bfill": lambda ctx, col: F.first(col, ignorenulls=True).over(
        ctx.w_ordered().rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ),
    "rank": _rank_average,
}


# --------------------------------------------------------------------------
# Free-function registry (populated by siuba_spark.functions.vector etc.)
# --------------------------------------------------------------------------

FN_REGISTRY: dict[str, callable] = {}


def register_fn(name):
    def deco(fn):
        FN_REGISTRY[name] = fn
        return fn
    return deco


# --------------------------------------------------------------------------
# The lowering walk
# --------------------------------------------------------------------------


def lower(node, ctx: LowerCtx):
    """Lower an AST node. Returns (Column, kind).

    A TranslationError raised anywhere in the subtree is annotated ONCE
    with the box-tree rendering of the smallest failing subexpression
    (siu.format.tree — the reference diagnoses captured expressions the
    same way via its Formatter / `explain`), so the error message shows
    the user WHICH node failed, not just why."""
    if isinstance(node, Lit):
        return F.lit(node.value), SCALAR
    if not isinstance(node, Call):
        return F.lit(node), SCALAR
    try:
        return _lower_call(node, ctx)
    except TranslationError as exc:
        if not getattr(exc, "_siu_annotated", False):
            from ..siu.format import tree
            exc._siu_annotated = True
            exc.args = (f"{exc.args[0]}\nin expression:\n{tree(node)}",
                        *exc.args[1:])
        raise


def _lower_call(node, ctx: LowerCtx):

    if isinstance(node, MetaArg):
        raise TranslationError(
            "bare `_` cannot be lowered to a column; reference a column like `_.x`"
        )

    if isinstance(node, GetAttr):
        return _lower_getattr(node, ctx)

    if isinstance(node, GetItem):
        return _lower_getitem(node, ctx)

    if isinstance(node, BinaryOp):
        lc, lk = lower(node.left, ctx)
        rc, rk = lower(node.right, ctx)
        kind = AGGED if AGGED in (lk, rk) else SCALAR
        # pandas `+` on string Series concatenates; Spark's numeric `+`
        # rejects strings.  A str-literal operand pins the intent
        # statically (`_.repo + " suffix"`, including chained
        # `a + ":" + b`), so lower to concat there — col+col string
        # concat has no static type and stays `str_c`.
        if node.op == "__add__" and (_is_stringy(node.left)
                                     or _is_stringy(node.right)):
            return F.concat(lc, rc), kind
        return _apply_binop(node.op, lc, rc), kind

    if isinstance(node, UnaryOp):
        c, k = lower(node.operand, ctx)
        if node.op == "__neg__":
            return -c, k
        if node.op == "__pos__":
            return c, k
        if node.op == "__invert__":
            return ~c, k
        if node.op == "__abs__":
            return F.abs(c), k
        raise TranslationError(f"unknown unary op {node.op}")

    if isinstance(node, MethodCall):
        return _lower_method(node, ctx)

    if isinstance(node, FnCall):
        impl = FN_REGISTRY.get(node.name)
        if impl is None:
            raise TranslationError(f"unknown function '{node.name}'")
        return impl(ctx, node.args, node.kwargs)

    if isinstance(node, RawCallable):
        from ..siu.calls import Lazy

        def _arg(a):
            if isinstance(a, Lazy):
                return a(None)  # deliver the wrapped object un-lowered
            return lower(a, ctx)[0] if isinstance(a, Call) else a
        args = [_arg(a) for a in node.args]
        kwargs = {k: _arg(v) for k, v in node.kwargs.items()}
        out = node.func(*args, **kwargs)
        if not isinstance(out, Column):
            out = F.lit(out)
        return out, SCALAR

    raise TranslationError(f"cannot lower node {node!r}")


def _is_stringy(node):
    """Statically string-typed expression: a str literal, or a `+` chain
    that already contains one (`_.a + ":" + _.b`)."""
    if isinstance(node, Lit):
        return isinstance(node.value, str)
    if isinstance(node, BinaryOp) and node.op == "__add__":
        return _is_stringy(node.left) or _is_stringy(node.right)
    return False


def _apply_binop(op, lc, rc):
    # zero divisors yield NULL (SQL semantics — duckdb/postgres-as-oracle),
    # not the ANSI-mode DIVIDE_BY_ZERO error Spark 4 raises by default
    if op == "__truediv__":
        return F.try_divide(lc, rc)
    if op == "__rtruediv__":
        return F.try_divide(rc, lc)
    if op == "__mod__":
        return F.try_mod(lc, rc)
    if op == "__rmod__":
        return F.try_mod(rc, lc)
    if op == "__floordiv__":
        # pandas // : floored division (int result for int operands)
        return F.floor(F.try_divide(lc, rc)).cast("long")
    if op == "__rfloordiv__":
        return F.floor(F.try_divide(rc, lc)).cast("long")
    if op == "__pow__":
        return F.pow(lc, rc)
    if op == "__xor__":
        # logical exclusive-or with SQL three-valued NULL semantics —
        # pandas `^` between boolean Series (the reference registers
        # __xor__ but its SQL dialects comment it out; this engine
        # supports the boolean form; use py_func for bitwise int xor)
        return (lc & ~rc) | (~lc & rc)
    fn = getattr(lc, op, None)
    if fn is None:
        raise TranslationError(f"unsupported operator {op}")
    return fn(rc)


# Method-form infix operators (`_.a.add(_.b)`, `_.a.rsub(2)`, ...) — the
# reference registers these alongside the dunder forms and its SQL base
# dialect translates them (siuba/ops/generics.py:38-70 ops_infix_methods,
# siuba/sql/dialects/base.py operator section). Routed through
# _apply_binop so NULL-on-zero-division and floored `//` semantics match
# the dunder path exactly.
_INFIX_METHOD_ALIASES = {
    # name: (forward dunder, operands swapped) — r-variants lower to the
    # forward op with swapped args because pyspark's reversed dunders only
    # accept literal (non-Column) operands
    "add": ("__add__", False), "radd": ("__add__", True),
    "sub": ("__sub__", False), "subtract": ("__sub__", False),
    "rsub": ("__sub__", True),
    "mul": ("__mul__", False), "multiply": ("__mul__", False),
    "rmul": ("__mul__", True),
    "div": ("__truediv__", False), "divide": ("__truediv__", False),
    "truediv": ("__truediv__", False),
    "rdiv": ("__truediv__", True), "rtruediv": ("__truediv__", True),
    "mod": ("__mod__", False), "rmod": ("__mod__", True),
    "floordiv": ("__floordiv__", False), "rfloordiv": ("__floordiv__", True),
    "rpow": ("__pow__", True),
    "eq": ("__eq__", False), "ne": ("__ne__", False),
    "lt": ("__lt__", False), "le": ("__le__", False),
    "gt": ("__gt__", False), "ge": ("__ge__", False),
}
for _name, (_op, _swap) in _INFIX_METHOD_ALIASES.items():
    def _alias(col, other, *, _op=_op, _swap=_swap):
        if not isinstance(other, Column):
            other = F.lit(other)
        return _apply_binop(_op, other, col) if _swap else _apply_binop(_op, col, other)
    ELWISE_METHODS.setdefault(_name, _alias)


def _lower_getattr(node, ctx):
    # accessor entry: _.x.str / _.x.dt / _.x.cat
    if node.name in ("str", "dt", "cat"):
        col, kind = lower(node.obj, ctx)
        meta = None
        if node.name == "cat":
            if isinstance(node.obj, GetAttr) and isinstance(node.obj.obj, MetaArg):
                meta = ctx.factors.get(node.obj.name)
            else:
                meta = ctx.cat_results.get(id(node.obj))
        return _Accessor(col, node.name, meta), kind

    # column reference off the table: _.colname
    if isinstance(node.obj, MetaArg):
        return F.col(node.name), SCALAR

    obj, kind = lower(node.obj, ctx)
    # dt property: _.ts.dt.year
    if isinstance(obj, _Accessor):
        if obj.which == "dt" and node.name in DT_PROPERTIES:
            return DT_PROPERTIES[node.name](obj.col), kind
        if obj.which == "cat":
            from .cat import CAT_PROPERTIES, cat_categories, cat_codes, cat_ordered
            if node.name in CAT_PROPERTIES:
                if node.name == "codes":
                    return cat_codes(obj.col, obj.meta), kind
                if node.name == "ordered":
                    return cat_ordered(obj.col, obj.meta), kind
                col, override = cat_categories(obj.col, obj.meta, ctx)
                return col, (override if override is not None else kind)
        # leave method resolution to MethodCall; re-wrap
        return _Accessor(obj.col, obj.which, obj.meta), kind
    # struct field access
    return obj.getField(node.name), kind


def _lower_getitem(node, ctx):
    if isinstance(node.obj, MetaArg):
        if isinstance(node.key, str):
            return F.col(node.key), SCALAR
        raise TranslationError("`_[...]` with non-string keys is only valid in select()")
    obj, kind = lower(node.obj, ctx)
    key = node.key
    if isinstance(key, Call):
        key, _ = lower(key, ctx)
    return obj.getItem(key), kind


def _lower_args(args, kwargs, ctx):
    largs, lkw = [], {}
    kinds = []
    for a in args:
        if isinstance(a, Call):
            c, k = lower(a, ctx)
            largs.append(c)
            kinds.append(k)
        else:
            largs.append(a)
    for k, v in kwargs.items():
        if isinstance(v, Call):
            c, kk = lower(v, ctx)
            lkw[k] = c
            kinds.append(kk)
        else:
            lkw[k] = v
    return largs, lkw, kinds


def _unlit(args, kwargs):
    """Unwrap Lit nodes to plain python values (for non-column params)."""
    ua = [a.value if isinstance(a, Lit) else a for a in args]
    uk = {k: (v.value if isinstance(v, Lit) else v) for k, v in kwargs.items()}
    return ua, uk


def _lower_method(node, ctx):
    obj, obj_kind = lower(node.obj, ctx)

    # ---- accessor methods (.str.lower(), .dt.strftime(...)) -------------
    if isinstance(obj, _Accessor):
        raw_args, raw_kw = _unlit(node.args, node.kwargs)
        # column-valued args (e.g. str.cat(_.other)) get lowered
        raw_args = [lower(a, ctx)[0] if isinstance(a, Call) else a for a in raw_args]
        raw_kw = {k: lower(v, ctx)[0] if isinstance(v, Call) else v for k, v in raw_kw.items()}
        if obj.which == "cat":
            from .cat import CAT_METHODS
            impl = CAT_METHODS.get(node.name)
            if impl is None:
                raise TranslationError(
                    f"no translation for .cat.{node.name}() "
                    f"(reference SQL dialects raise the same way)")
            col, meta = impl(obj.col, obj.meta, *raw_args, **raw_kw)
            ctx.cat_results[id(node)] = meta
            return col, obj_kind
        table = {"str": STR_METHODS, "dt": DT_METHODS}.get(obj.which, {})
        impl = table.get(node.name)
        if impl is None:
            raise TranslationError(
                f"no translation for .{obj.which}.{node.name}() "
                f"(reference SQL dialects raise the same way)"
            )
        return impl(obj.col, *raw_args, **raw_kw), obj_kind

    name = node.name

    # ---- element-wise methods -------------------------------------------
    if name in ELWISE_METHODS:
        raw_args, raw_kw = _unlit(node.args, node.kwargs)
        raw_args = [lower(a, ctx)[0] if isinstance(a, Call) else a for a in raw_args]
        raw_kw = {k: lower(v, ctx)[0] if isinstance(v, Call) else v for k, v in raw_kw.items()}
        return ELWISE_METHODS[name](obj, *raw_args, **raw_kw), obj_kind

    # ---- aggregate methods ----------------------------------------------
    if name in AGG_METHODS or name in AGG_PLAIN_OVERRIDES:
        raw_args, raw_kw = _unlit(node.args, node.kwargs)
        raw_args = [lower(a, ctx)[0] if isinstance(a, Call) else a for a in raw_args]
        if ctx.mode == AGG:
            if name in AGG_PLAIN_OVERRIDES:
                return AGG_PLAIN_OVERRIDES[name](obj, *raw_args, **raw_kw), AGGED
            col = AGG_METHODS[name](lambda c: c, obj, *raw_args, **raw_kw)
            return col, AGGED
        # ROW mode with the agg+join lowering active: pool the PLAIN
        # aggregate (the host verb computes groupBy(keys).agg(...) once
        # and joins it back) — value-identical to the AggOver window
        # because the default window frame over an orderless partition
        # is the whole partition, and NULL keys group together in both.
        # nunique gets the real count_distinct here (windows must
        # simulate it with collect_set).
        if ctx.joins_back(obj, raw_args, raw_kw):
            if name in AGG_PLAIN_OVERRIDES:
                # cast to the window lowering's dtype (size(collect_set)
                # is int; count_distinct is bigint) so the two lowerings
                # are schema-identical, not just value-identical
                return ctx.aggpool.add(
                    AGG_PLAIN_OVERRIDES[name](obj, *raw_args, **raw_kw)
                    .cast("int")), SCALAR
            col = AGG_METHODS[name](lambda c: ctx.aggpool.add(c),
                                    obj, *raw_args, **raw_kw)
            return col, SCALAR
        # ROW mode: aggregate broadcast back over the group window (AggOver)
        if name in AGG_WINDOW_OVERRIDES:
            return AGG_WINDOW_OVERRIDES[name](ctx, obj, *raw_args, **raw_kw), SCALAR
        w = ctx.w_agg()
        col = AGG_METHODS[name](lambda c: ctx.pooled(c.over(w)),
                                obj, *raw_args, **raw_kw)
        return col, SCALAR

    # ---- order-dependent window methods ---------------------------------
    if name in WINDOW_METHODS:
        if ctx.mode == AGG:
            raise TranslationError(
                f"window function .{name}() is not allowed in summarize()"
            )
        raw_args, raw_kw = _unlit(node.args, node.kwargs)
        return WINDOW_METHODS[name](ctx, obj, *raw_args, **raw_kw), SCALAR

    raise TranslationError(
        f"no translation for method .{name}(); "
        "register one or use a pyspark function via verbs' escape hatch"
    )
