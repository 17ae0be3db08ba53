"""dplyr 1.0 ``rows_*`` verbs — keyed row manipulation of one table with
another (insert / append / update / patch / upsert / delete).

Absent from the reference (like the set operations, a "free upside" row in
SURVEY.md §2.6): the reference's pandas backend never shipped them and its
SQL backend has no equivalent, but they complete the dplyr surface a
migrating user expects.

Spark-first shapes — every verb is one equi-join on the key:

- ``rows_insert``/``rows_upsert``'s insert half: left-anti join then
  unionByName (missing columns NULL-filled).
- ``rows_update``/``rows_patch``: left join + per-column CASE on a match
  flag.  ``update`` takes y's value for matched rows even when it is NULL
  (dplyr semantics); ``patch`` only fills x's NULLs.
- ``rows_delete``: left-anti join on the keys.

``y`` is semantically the small patch/dimension side, so the dplyr-default
``conflict="error"`` / ``unmatched="error"`` contract checks run ONE
bounded count action against y (never a scan of x beyond the semi-join);
pass "ignore" to stay fully lazy.  Keys default to y's first column,
matching dplyr.

Key matching is NULL-safe (``<=>``): a NULL key value in y matches a NULL
key value in x — dplyr's NA-matches-NA semantics.  Spark plans ``<=>`` as
an ordinary hash equi-join key, so the shapes are unchanged.  All working
column names are generated fresh against both schemas (no reserved
``__m``/``count`` collisions — ADVICE r5).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..plans.pipe import join_verb, wrap_table
from ..plans.tbl import SparkTbl
from .joins import join_back

__all__ = ["rows_insert", "rows_append", "rows_update", "rows_patch",
           "rows_upsert", "rows_delete"]


def _fresh(base, taken):
    name = base
    while name in taken:
        name = "_" + name
    return name


def _key_filter(df, other, keys, how):
    """Semi/anti join ``df`` against ``other``'s key set, NULL-safe on
    every key (NA matches NA); the output keeps df's schema."""
    return join_back(df, other.select(*keys).distinct(), keys, how)


def _prep(left, right, by, op):
    l, r = wrap_table(left), wrap_table(right)
    extra = [c for c in r.df.columns if c not in l.df.columns]
    if extra:
        raise ValueError(f"{op}: y has columns not in x: {extra}")
    keys = ([by] if isinstance(by, str) else list(by)) if by \
        else [r.df.columns[0]]
    missing = [k for k in keys if k not in r.df.columns]
    if missing:
        raise ValueError(f"{op}: key columns {missing} not in y")
    return l, r, keys


def _aligned_insert(ldf, rdf):
    """y rows widened to x's schema (absent columns NULL of x's type)."""
    types = {f.name: f.dataType for f in ldf.schema.fields}
    for c in ldf.columns:
        if c not in rdf.columns:
            rdf = rdf.withColumn(c, F.lit(None).cast(types[c]))
    return ldf.unionByName(rdf.select(*ldf.columns))


def _check_empty(df, op, what):
    n = df.count()  # bounded: y-side only
    if n:
        raise ValueError(f"{op}: {n} {what} (pass the 'ignore' option to "
                         f"skip them)")


@join_verb
def rows_insert(left, right, by=None, conflict: str = "error"):
    """Insert y's rows into x.  ``conflict="error"`` (dplyr default)
    raises if any y key already exists in x; ``"ignore"`` drops those y
    rows lazily."""
    l, r, keys = _prep(left, right, by, "rows_insert")
    lkeys = l.df.select(*keys)
    if conflict == "error":
        _check_empty(_key_filter(r.df, lkeys, keys, "left_semi"),
                     "rows_insert", "y rows conflict with existing keys")
        rdf = r.df
    elif conflict == "ignore":
        rdf = _key_filter(r.df, lkeys, keys, "left_anti")
    else:
        raise ValueError("conflict must be 'error' or 'ignore'")
    return SparkTbl(_aligned_insert(l.df, rdf))


@join_verb
def rows_append(left, right):
    """Append y's rows to x with no key check (y ⊆ x columns; absent
    columns become NULL)."""
    l, r, _keys = _prep(left, right, None, "rows_append")
    return SparkTbl(_aligned_insert(l.df, r.df))


def _check_unique_keys(rdf, keys, op):
    """dplyr contract: y's keys must be unique, else matched x rows would
    silently multiply through the left join.  One bounded y-side agg.
    (Named agg alias — a key literally named 'count' is fine.)"""
    n = _fresh("__n", set(rdf.columns))
    dup = (rdf.groupBy(*keys).agg(F.count(F.lit(1)).alias(n))
           .filter(F.col(n) > 1).count())
    if dup:
        raise ValueError(f"{op}: y key values must be unique "
                         f"({dup} duplicated keys)")


def _merge(l, r, keys, op, unmatched, patch_only):
    _check_unique_keys(r.df, keys, op)
    if unmatched == "error":
        _check_empty(_key_filter(r.df, l.df.select(*keys), keys, "left_anti"),
                     op, "y rows have keys not in x")
    elif unmatched != "ignore":
        raise ValueError("unmatched must be 'error' or 'ignore'")
    payload = [c for c in r.df.columns if c not in keys]
    taken = set(l.df.columns) | set(r.df.columns)
    m = _fresh("__m", taken)
    yn = {c: _fresh(f"__y_{c}", taken) for c in payload}
    rdf = r.df.select(*keys, F.lit(True).alias(m),
                      *[F.col(c).alias(yn[c]) for c in payload])
    out = join_back(l.df, rdf, keys)
    for c in payload:
        y = F.col(yn[c])
        if patch_only:
            new = F.when(F.col(m).isNotNull() & F.col(c).isNull(), y) \
                .otherwise(F.col(c))
        else:
            new = F.when(F.col(m).isNotNull(), y).otherwise(F.col(c))
        out = out.withColumn(c, new)
    return out.select(*l.df.columns)


@join_verb
def rows_update(left, right, by=None, unmatched: str = "error"):
    """Update non-key columns of x's matching rows with y's values (y's
    NULLs overwrite — dplyr semantics; use ``rows_patch`` to fill)."""
    l, r, keys = _prep(left, right, by, "rows_update")
    return SparkTbl(_merge(l, r, keys, "rows_update", unmatched, False))


@join_verb
def rows_patch(left, right, by=None, unmatched: str = "error"):
    """Like ``rows_update`` but only fills NULLs in x — existing x values
    win."""
    l, r, keys = _prep(left, right, by, "rows_patch")
    return SparkTbl(_merge(l, r, keys, "rows_patch", unmatched, True))


@join_verb
def rows_upsert(left, right, by=None):
    """Update matching rows, insert the rest (no contract errors — every
    y row lands somewhere)."""
    l, r, keys = _prep(left, right, by, "rows_upsert")
    updated = _merge(l, r, keys, "rows_upsert", "ignore", False)
    inserts = _key_filter(r.df, l.df.select(*keys), keys, "left_anti")
    return SparkTbl(_aligned_insert(updated, inserts))


@join_verb
def rows_delete(left, right, by=None, unmatched: str = "error"):
    """Delete x rows whose key appears in y (y's non-key columns are
    ignored, as in dplyr)."""
    l, r, keys = _prep(left, right, by, "rows_delete")
    if unmatched == "error":
        _check_empty(_key_filter(r.df, l.df.select(*keys), keys, "left_anti"),
                     "rows_delete", "y rows have keys not in x")
    elif unmatched != "ignore":
        raise ValueError("unmatched must be 'error' or 'ignore'")
    return SparkTbl(_key_filter(l.df, r.df.select(*keys), keys, "left_anti"))
