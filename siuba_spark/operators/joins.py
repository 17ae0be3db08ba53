"""Join verbs: inner/left/right/full + semi/anti + theta joins.

Key semantics follow the reference (siuba/sql/verbs/join.py): keys given as
a name, list of names, or ``{left: right}`` mapping; shared non-key columns
are suffixed ``_x``/``_y``; full joins coalesce the key columns; if
``on=None`` shared column names are inferred with a warning.

Scale notes: Spark/AQE picks broadcast-hash vs shuffled-hash vs sort-merge
per side size at runtime; pass ``hint="broadcast"`` to force broadcasting a
dimension table when its size is known to be small.
"""

from __future__ import annotations

import warnings

from pyspark.sql import functions as F

from ..functions.accessors import epoch_seconds as _epoch
from ..plans.pipe import join_verb, wrap_table
from ..plans.tbl import SparkTbl

__all__ = [
    "join", "inner_join", "left_join", "right_join", "full_join",
    "semi_join", "anti_join", "asof_join", "interval_join",
    "union", "union_all", "intersect", "setdiff", "cross_join", "nest_join",
]


def _normalize_on(left_cols, right_cols, on):
    """→ list of (left_key, right_key)."""
    if on is None:
        shared = [c for c in left_cols if c in right_cols]
        if not shared:
            raise ValueError("no common columns to join on; pass `on=`")
        warnings.warn(f"joining on shared columns: {shared}")
        return [(c, c) for c in shared]
    if isinstance(on, str):
        return [(on, on)]
    if isinstance(on, dict):
        return list(on.items())
    return [(c, c) if isinstance(c, str) else tuple(c) for c in on]


def _suffix_shared(ldf, rdf, keys):
    """Rename shared non-key columns to _x/_y (reference: join.py:11-53)."""
    lkeys = {lk for lk, _ in keys}
    rkeys = {rk for _, rk in keys}
    shared = [c for c in ldf.columns
              if c in set(rdf.columns) and not (c in lkeys and c in rkeys)]
    lmap = {c: f"{c}_x" for c in shared if c not in lkeys}
    rmap = {c: f"{c}_y" for c in shared if c not in rkeys}
    # a shared *key* column on one side only still collides → suffix it there
    for c in shared:
        if c in lkeys and c not in rkeys:
            rmap[c] = f"{c}_y"
        if c in rkeys and c not in lkeys:
            lmap[c] = f"{c}_x"
    return ldf.withColumnsRenamed(lmap), rdf.withColumnsRenamed(rmap), lmap, rmap


def join_back(df, keyed, keys, how: str = "left", broadcast: bool = False):
    """Join ``keyed`` (``keys`` under df's names plus payload columns)
    back onto ``df`` with null-safe equality on every key: a NULL key
    matches a NULL key, the way a groupBy or window partition groups
    them.  keyed's keys are renamed fresh against both schemas for the
    join and dropped after, so the result is df's columns followed by
    the payload.  ``broadcast=True`` hints the keyed side."""
    taken = set(df.columns) | set(keyed.columns)
    tmp = {}
    for k in keys:
        name = f"__jb_{k}"
        while name in taken:
            name = "_" + name
        taken.add(name)
        tmp[k] = name
    side = keyed.select(*[F.col(k).alias(tmp[k]) for k in keys],
                        *[c for c in keyed.columns if c not in tmp])
    if broadcast:
        side = F.broadcast(side)
    cond = None
    for k in keys:
        eq = F.col(k).eqNullSafe(F.col(tmp[k]))
        cond = eq if cond is None else cond & eq
    return df.join(side, cond, how).drop(*tmp.values())


def _apply_hint(rdf, hint):
    if hint == "broadcast":
        return F.broadcast(rdf)
    if hint:
        return rdf.hint(hint)
    return rdf


class _AliasProxy:
    """Column factory bound to a join-side alias: produces ``F.col("lhs.x")``
    so self-joins resolve unambiguously via alias scoping."""

    __slots__ = ("_alias",)

    def __init__(self, alias):
        self._alias = alias

    def __getitem__(self, name):
        return F.col(f"{self._alias}.{name}")

    def __getattr__(self, name):
        if name.startswith("_"):
            raise AttributeError(name)
        return F.col(f"{self._alias}.{name}")


@join_verb
def join(left, right, on=None, how: str = "inner", *, by=None, sql_on=None,
         null_safe: bool = False, hint: str | None = None):
    """Core join (reference: siuba/dply/verbs.py:1545-1677,
    siuba/sql/verbs/join.py:56-107).

    ``sql_on=lambda lhs, rhs: <Column>`` gives an arbitrary theta join
    (reference: siuba/sql/verbs/join.py:223-233); ``null_safe=True`` makes
    NULL keys match each other (pandas-merge semantics) via ``<=>`` —
    default off because the oracle (SQL) semantics treat NULL ≠ NULL and
    eqNullSafe can block some Catalyst optimizations.

    Examples
    --------
    >>> l = tbl(spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, x double"))
    >>> r = tbl(spark.createDataFrame([("a", 10)], "k string, y int"))
    >>> (l >> inner_join(r, on="k") >> collect()).values.tolist()
    [['a', 1.0, 10]]
    >>> sorted((l >> left_join(r, on="k") >> collect()).k.tolist())
    ['a', 'b']
    """
    left = wrap_table(left)
    right = wrap_table(right)
    if by is not None:
        if on is not None:
            raise ValueError("pass on= or by=, not both (reference verbs.py:1608)")
        on = by
    how = {"outer": "full"}.get(how, how)
    ldf, rdf = left.df, right.df

    if sql_on is not None:
        ldf_a, rdf_a = ldf.alias("lhs"), rdf.alias("rhs")
        cond = sql_on(_AliasProxy("lhs"), _AliasProxy("rhs"))
        out = ldf_a.join(_apply_hint(rdf_a, hint), cond, how)
        return SparkTbl(out)

    keys = _normalize_on(ldf.columns, rdf.columns, on)
    same_named = all(lk == rk for lk, rk in keys)
    ldf, rdf, _, rmap = _suffix_shared(ldf, rdf, keys)
    rdf = _apply_hint(rdf, hint)

    if same_named and not null_safe:
        # USING-style join: Spark merges key columns (coalesced on full join,
        # matching the reference's coalesce, siuba/sql/verbs/join.py:29-36)
        out = ldf.join(rdf, [lk for lk, _ in keys], how)
        return SparkTbl(out)

    ldf_a, rdf_a = ldf.alias("lhs"), rdf.alias("rhs")
    conds = []
    for lk, rk in keys:
        rk = rmap.get(rk, rk)
        lcol, rcol = ldf_a[lk], rdf_a[rk]
        conds.append(lcol.eqNullSafe(rcol) if null_safe else (lcol == rcol))
    cond = conds[0]
    for c in conds[1:]:
        cond = cond & c
    out = ldf_a.join(rdf_a, cond, how)

    if same_named:
        # coalesce duplicate key cols into one, as pandas merge does
        sel = []
        rkeys = {rmap.get(rk, rk) for _, rk in keys}
        for lk, rk in keys:
            rk = rmap.get(rk, rk)
            sel.append(F.coalesce(ldf_a[lk], rdf_a[rk]).alias(lk))
        for c in ldf.columns:
            if c not in {lk for lk, _ in keys}:
                sel.append(ldf_a[c])
        for c in rdf.columns:
            if c not in rkeys:
                sel.append(rdf_a[c])
        out = out.select(*sel)
    return SparkTbl(out)


def _make_join(how):
    @join_verb
    def _join(left, right, on=None, *, by=None, sql_on=None, null_safe=False,
              hint=None):
        return join(left, right, on=on, how=how, by=by, sql_on=sql_on,
                    null_safe=null_safe, hint=hint)
    _join.__name__ = f"{how}_join"
    return _join


inner_join = _make_join("inner")
left_join = _make_join("left")
right_join = _make_join("right")
full_join = _make_join("full")


def _make_filter_join(how, ref):
    @join_verb
    def _join(left, right, on=None, *, sql_on=None, hint=None):
        left = wrap_table(left)
        right = wrap_table(right)
        ldf, rdf = left.df, right.df
        if sql_on is not None:
            cond = sql_on(ldf.alias("lhs"), rdf.alias("rhs"))
            out = ldf.alias("lhs").join(_apply_hint(rdf.alias("rhs"), hint), cond, how)
            return left.evolve(df=out)
        keys = _normalize_on(ldf.columns, rdf.columns, on)
        rsel = rdf.select(*[F.col(rk).alias(lk) for lk, rk in keys]).distinct()
        out = ldf.join(_apply_hint(rsel, hint), [lk for lk, _ in keys], how)
        return left.evolve(df=out)
    _join.__name__ = f"{how.replace('left_', '')}_join"
    _join.__doc__ = f"Filtering join ({how}); reference: {ref}."
    return _join


semi_join = _make_filter_join("left_semi", "siuba/sql/verbs/join.py:110-136")
anti_join = _make_filter_join("left_anti", "siuba/sql/verbs/join.py:139-163")


@join_verb
def salted_join(left, right, on=None, how: str = "inner", salts: int = 16,
                seed: int = 42):
    """Skew-resistant equi join: every left row gets a uniform salt in
    [0, salts); the right side is replicated across ALL salt values; the
    join runs on (keys..., salt), so one hot key spreads over ``salts``
    reducers instead of melting a single one.

    Use when AQE's runtime skew split can't help — e.g. the hot key is
    also wide on the right side, or the join feeds a window that pins
    partitioning.  Costs ``salts``× replication of the right side, so keep
    the right side the smaller input.  Results are identical to
    ``join(..., how=...)`` for inner/left (salt is dropped).
    """
    left = wrap_table(left)
    right = wrap_table(right)
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner'/'left' "
                         "(replicating the right side is one-directional)")
    keys = _normalize_on(left.df.columns, right.df.columns, on)
    ldf = left.df.withColumn(
        "__salt", (F.rand(seed) * salts).cast("int"))
    rdf = right.df.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salts)])))
    if not all(lk == rk for lk, rk in keys):
        rdf = rdf.withColumnsRenamed({rk: lk for lk, rk in keys if lk != rk})
    out = ldf.join(rdf, [lk for lk, _ in keys] + ["__salt"], how)
    return SparkTbl(out.drop("__salt"))


@join_verb
def asof_join(left, right, on: str, by=(), direction: str = "backward",
              suffix: str = "_r", tolerance=None):
    """As-of join: for each left row, the single right row with the latest
    ``on`` value <= left's (``direction="backward"``; ``"forward"`` takes
    the earliest >=; ``"nearest"`` the closest in absolute distance, ties
    backward — full pandas.merge_asof direction set).  No reference
    equivalent (time-series staple; the task-level operator list names it).

    Scale shape — the union+window trick, NOT a pair join: left and right
    are unioned, one window per ``by`` key ordered by (ts, side) carries
    the last-seen right payload forward (``F.last(ignorenulls)``), and
    left rows are re-selected.  Exactly ONE shuffle on ``by``; candidate
    count never exceeds |L|+|R|, where a naive range join is |L|x|R| in
    the worst case.

    ``tolerance`` (seconds) nulls out matches older than the window.
    """
    left = wrap_table(left)
    right = wrap_table(right)
    by = [by] if isinstance(by, str) else list(by)
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError("direction must be 'backward', 'forward' or 'nearest'")

    from pyspark.sql import Window

    lcols = left.df.columns
    payload = [c for c in right.df.columns if c not in by and c != on]
    out_names = {c: (f"{c}{suffix}" if c in lcols else c) for c in payload}

    lhs = left.df.withColumn("__side", F.lit(1))
    for c in payload:
        lhs = lhs.withColumn(f"__p_{c}", F.lit(None).cast(dict(right.df.dtypes)[c]))
    rhs = right.df.select(
        *[F.col(c) for c in by],
        F.col(on),
        *[F.col(c).alias(f"__p_{c}") for c in payload],
    ).withColumn("__side", F.lit(0))
    for c in lcols:
        if c not in rhs.columns:
            rhs = rhs.withColumn(c, F.lit(None).cast(dict(left.df.dtypes)[c]))
    rhs = rhs.select(*[F.col(c) for c in lhs.columns])

    u = lhs.unionByName(rhs)
    ts = F.col(on)
    # right rows sort BEFORE left rows at equal ts (asof match includes ==)
    w_back = (Window.partitionBy(*[F.col(b) for b in by])
              .orderBy(ts.asc_nulls_last(), F.col("__side").asc())
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_fwd = (Window.partitionBy(*[F.col(b) for b in by])
             .orderBy(ts.desc_nulls_last(), F.col("__side").asc())
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))

    carried = u
    if direction in ("backward", "forward"):
        w = w_back if direction == "backward" else w_fwd
        for c in payload:
            carried = carried.withColumn(
                f"__c_{c}", F.last(f"__p_{c}", ignorenulls=True).over(w))
        match_ts = F.last(F.when(F.col("__side") == 0, ts),
                          ignorenulls=True).over(w)
        carried = carried.withColumn("__match_ts", match_ts)
    else:
        # nearest: carry both directions over the SAME shuffle (two Sort
        # nodes inside one Exchange — both windows share the partition
        # keys), then pick the closer match per row; ties go backward
        # (pandas merge_asof tie-break).
        for c in payload:
            carried = (carried
                       .withColumn(f"__cb_{c}",
                                   F.last(f"__p_{c}", ignorenulls=True).over(w_back))
                       .withColumn(f"__cf_{c}",
                                   F.last(f"__p_{c}", ignorenulls=True).over(w_fwd)))
        r_ts = F.when(F.col("__side") == 0, ts)
        carried = (carried
                   .withColumn("__bts", F.last(r_ts, ignorenulls=True).over(w_back))
                   .withColumn("__fts", F.last(r_ts, ignorenulls=True).over(w_fwd)))
        bgap = F.abs(_epoch(ts) - _epoch(F.col("__bts")))
        fgap = F.abs(_epoch(ts) - _epoch(F.col("__fts")))
        use_back = F.col("__fts").isNull() | \
            (F.col("__bts").isNotNull() & (bgap <= fgap))
        for c in payload:
            carried = carried.withColumn(
                f"__c_{c}", F.when(use_back, F.col(f"__cb_{c}"))
                .otherwise(F.col(f"__cf_{c}")))
        carried = (carried
                   .withColumn("__match_ts",
                               F.when(use_back, F.col("__bts"))
                               .otherwise(F.col("__fts")))
                   .drop(*[f"__cb_{c}" for c in payload],
                         *[f"__cf_{c}" for c in payload], "__bts", "__fts"))

    out = carried.filter(F.col("__side") == 1)
    if tolerance is not None:
        gap = F.abs(_epoch(ts) - _epoch(F.col("__match_ts")))
        keep = gap <= float(tolerance)
        for c in payload:
            out = out.withColumn(f"__c_{c}", F.when(keep, F.col(f"__c_{c}")))
    sel = [F.col(c) for c in lcols] + \
          [F.col(f"__c_{c}").alias(out_names[c]) for c in payload]
    return SparkTbl(out.select(*sel))


@join_verb
def interval_join(left, right, left_on: str, right_on: str,
                  lower: float, upper: float, by=(), how: str = "inner",
                  suffix: str = "_r"):
    """Interval (range) join: pairs where
    ``right.right_on ∈ [left.left_on + lower, left.left_on + upper]``
    (seconds for timestamps, plain units for numerics).  No reference
    equivalent (task-level custom-operator list names range joins).

    Scale shape — bucket binning, not a theta join: with bin width =
    window length, every left row overlaps at most two bins and every
    right row exactly one, so candidates come from an EQUI join on
    (by..., bin) — one shuffle per side — followed by the exact range
    filter.  A naive ``l.join(r, cond)`` is a broadcast-nested-loop over
    |L|x|R| and is never generated here.
    """
    left = wrap_table(left)
    right = wrap_table(right)
    by = [by] if isinstance(by, str) else list(by)
    width = float(upper) - float(lower)
    if width <= 0:
        raise ValueError("interval_join requires upper > lower")

    lcols = left.df.columns
    payload = [c for c in right.df.columns if c not in by]
    out_names = {c: (f"{c}{suffix}" if c in lcols else c) for c in payload}

    lts = _epoch(F.col(left_on))
    lo_bin = F.floor((lts + float(lower)) / width).cast("long")
    hi_bin = F.floor((lts + float(upper)) / width).cast("long")
    lhs = left.df.withColumn("__bin", F.explode(F.sequence(lo_bin, hi_bin)))
    # right_on may itself be renamed by the suffix pass
    r_on = out_names.get(right_on, right_on)
    rhs = right.df.select(
        *[F.col(c) for c in by],
        *[F.col(c).alias(out_names[c]) for c in payload],
    ).withColumn("__bin", F.floor(_epoch(F.col(r_on)) / width).cast("long"))

    joined = lhs.join(rhs, by + ["__bin"], "inner")
    exact = (_epoch(F.col(r_on)) >= lts + float(lower)) & \
            (_epoch(F.col(r_on)) <= lts + float(upper))
    out = joined.filter(exact).drop("__bin")
    if how == "inner":
        return SparkTbl(out)
    raise ValueError("interval_join supports how='inner' (aggregate after for counts)")


# --------------------------------------------------------------------------
# set operations & remaining dplyr two-table verbs (absent from reference)
# --------------------------------------------------------------------------


def _aligned(left, right, op_name):
    l, r = wrap_table(left), wrap_table(right)
    if set(l.df.columns) != set(r.df.columns):
        raise ValueError(
            f"{op_name}: both tables need the same column set; got "
            f"{l.df.columns} vs {r.df.columns}")
    return l, r.df.select(*l.df.columns)


@join_verb
def union(left, right):
    """dplyr ``union``: distinct rows present in either table — unionByName
    + one distinct shuffle (set semantics; use ``union_all``/``bind_rows``
    to keep duplicates)."""
    l, rdf = _aligned(left, right, "union")
    return SparkTbl(l.df.unionByName(rdf).distinct())


@join_verb
def union_all(left, right):
    """dplyr ``union_all``: rows of both tables, duplicates kept — a pure
    metadata concat, zero shuffle."""
    l, rdf = _aligned(left, right, "union_all")
    return SparkTbl(l.df.unionByName(rdf))


@join_verb
def intersect(left, right):
    """dplyr ``intersect``: distinct rows present in BOTH tables (SQL
    INTERSECT — one hash shuffle per side on the full row)."""
    l, rdf = _aligned(left, right, "intersect")
    return SparkTbl(l.df.intersect(rdf))


@join_verb
def setdiff(left, right):
    """dplyr ``setdiff``: distinct rows of the left table absent from the
    right (SQL EXCEPT)."""
    l, rdf = _aligned(left, right, "setdiff")
    return SparkTbl(l.df.subtract(rdf))


@join_verb
def cross_join(left, right):
    """dplyr 1.1 ``cross_join``: the EXPLICIT cartesian product.  The only
    sanctioned cross join in the engine — every implicit path (jaccard,
    fuzzy) requires blocking instead; spelling it out is the user's
    declaration that |left| x |right| is intended and bounded."""
    l, r = wrap_table(left), wrap_table(right)
    dup = set(l.df.columns) & set(r.df.columns)
    rdf = r.df
    for c in dup:
        rdf = rdf.withColumnRenamed(c, f"{c}_y")
    return SparkTbl(l.df.crossJoin(rdf))


@join_verb
def nest_join(left, right, on, name: str | None = None):
    """dplyr ``nest_join``: left join where each left row carries its
    matches as ONE nested array-of-structs column (no row multiplication).
    Spark-first: aggregate the right side per key (collect_list(struct)) —
    one shuffle on the key — then a plain left join; rows with no match
    get an empty array (dplyr's zero-row nested frame)."""
    l, r = wrap_table(left), wrap_table(right)
    keys = [on] if isinstance(on, str) else list(on)
    name = name or "data"
    if name in l.df.columns:
        raise ValueError(
            f"nest_join: nested column name {name!r} collides with a left "
            f"column; pass name= to pick another")
    payload = [c for c in r.df.columns if c not in keys]
    if not payload:
        raise ValueError(
            "nest_join: right table has no non-key columns to nest")
    packed = (r.df.groupBy(*keys)
              .agg(F.collect_list(F.struct(*payload)).alias(name)))
    fields = ",".join(f"{f.name}:{f.dataType.simpleString()}"
                      for f in r.df.select(*payload).schema.fields)
    empty = F.array().cast(f"array<struct<{fields}>>")
    out = (l.df.join(packed, keys, "left")
           .withColumn(name, F.coalesce(F.col(name), empty)))
    return SparkTbl(out)
