"""Reshape / tidyr verbs: gather, spread, separate, unite, extract,
nest, unnest, expand, complete, pivot_longer, pivot_wider, bind_rows.

Spark-first implementations (reference semantics from
siuba/dply/verbs.py:1919-2543 and siuba/experimental/pivot/*):
wide→long is one shuffle-free explode of an array of structs
(``_pivot_longer_impl``; ``gather`` is its one-part case).  Long→wide is
one spec path: ``_wider_cells`` lists the output cells from ONE bounded
distinct scan of the names_from columns (more than ``MAX_PIVOT_KEYS``
keys raise before they reach the driver; the reference collects its spec
too, sql_pivot_wide.py:31-38), and ``_widen`` is the one grouped pivot
(Spark's native pivot does map-side partial aggregation).  pivot_wider,
build_wider_spec, pivot_wider_spec, spread, crosstab and one_hot all go
through that spec.
"""

from __future__ import annotations

import math
import re
from datetime import datetime
from decimal import Decimal
from itertools import product

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.lowering import TranslationError, lower
from ..siu.calls import GetAttr, MetaArg, strip_symbolic
from ..plans.pipe import join_verb, verb, wrap_table
from ..plans.tbl import SparkTbl
from .tidyselect import resolve_measure_names, resolve_names

__all__ = [
    "fill_na_directional", "drop_na", "replace_na",
    "gather", "spread", "separate", "separate_rows", "unite", "extract",
    "nest", "unnest", "unnest_longer", "unnest_wider", "hoist",
    "expand", "complete", "pivot_longer", "pivot_wider",
    "bind_rows", "one_hot", "crosstab",
    "separate_wider_delim", "separate_wider_position", "separate_wider_regex",
    "separate_longer_delim", "separate_longer_position", "uncount",
    "pack", "unpack", "chop", "unchop",
]

MAX_PIVOT_KEYS = 10_000  # driver-side spec guard


def _colname(arg, columns=None):
    node = strip_symbolic(arg)
    if isinstance(node, str):
        return node
    if isinstance(node, GetAttr) and isinstance(node.obj, MetaArg):
        return node.name
    raise TranslationError(f"expected a column reference, got {node!r}")


def _common_value_type(df, cols):
    fields = {f.name: f.dataType for f in df.schema.fields}
    types = {fields[c].simpleString() for c in cols}
    if len(types) == 1:
        return types.pop()
    numeric = {"tinyint", "smallint", "int", "bigint", "float", "double", "decimal"}
    if all(any(t.startswith(n) for n in numeric) for t in types):
        return "double"
    return "string"


@verb
def gather(tbl: SparkTbl, key: str = "key", value: str = "value", *args,
           drop_na: bool = False, convert: bool = False):
    """Wide→long (reference: siuba/dply/verbs.py:1919-2000).  Measure
    selection is full tidyselect — ``-_.id`` / ``~_.id`` ("everything
    except") work like the reference's gather doc examples.  Duplicate
    output names are not checked (``names_repair="minimal"``)."""
    measure = resolve_measure_names(args, tbl.columns) if args else [
        c for c in tbl.columns if c not in tbl.group_by
    ]
    df = _pivot_longer_impl(tbl, [(c, {key: c}) for c in measure], (key,),
                            value, drop_na, "minimal").df
    if isinstance(convert, str):
        # explicit target dtype: fully lazy, no probe job
        df = df.withColumn(value, F.col(value).try_cast(convert))
    elif convert:
        # column-level to_numeric, same probe as separate(convert=True).
        # NOTE: convert=True is EAGER — the output dtype depends on the
        # data, and Spark schemas are static, so one aggregation job runs
        # here.  Pass convert="double" (any dtype string) for a lazy cast.
        ok = df.agg(F.bool_and(
            F.col(value).isNull() | F.col(value).try_cast("double").isNotNull()
        )).first()[0]
        if ok:
            df = df.withColumn(value, F.coalesce(
                F.col(value).try_cast("bigint").cast("double"),
                F.col(value).try_cast("double")))
    return tbl.evolve(df=df)


def _agg_fn(fn):
    table = {
        "first": lambda c: F.first(c, ignorenulls=True), "max": F.max,
        "min": F.min, "sum": F.sum, "mean": F.avg, "avg": F.avg,
        "count": F.count, "median": F.median,
    }
    if callable(fn):
        return fn
    if fn in table:
        return table[fn]
    raise TranslationError(f"unknown values_fn {fn!r}")


def _value_aggs(values_fn, values_from):
    """``{value column: aggregate Column}``: ``values_fn`` is one
    aggregate, or a dict with one per values_from column."""
    fns = values_fn if isinstance(values_fn, dict) else dict.fromkeys(
        values_from, values_fn)
    missing = [v for v in values_from if v not in fns]
    if missing:
        raise ValueError(f"values_fn dict is missing entries for {missing}")
    return {v: _agg_fn(fns[v])(F.col(v)) for v in values_from}


def _wider_ids(tbl, id_cols, names_from, values_from):
    if id_cols is None:
        return [c for c in tbl.columns if c not in names_from + values_from]
    return resolve_names(id_cols if isinstance(id_cols, (list, tuple))
                         else [id_cols], tbl.columns)


def _key_str(k):
    """The text Spark gives a key value (its pivot column name, and its
    string cast inside ``concat_ws``): None → 'null', booleans lowercase,
    NaN/Infinity and finite doubles like Java's ``Double.toString``
    ('1.0E-4'), timestamp fractions without trailing zeros.  Python's
    ``str()`` differs, so a joined key built with it misses the data's
    (a 32-bit float still does: Python sees it widened)."""
    if k is None:
        return "null"
    if k is True:
        return "true"
    if k is False:
        return "false"
    if isinstance(k, float) and not math.isfinite(k):
        return "NaN" if k != k else "Infinity" if k > 0 else "-Infinity"
    if isinstance(k, float) and not (k == 0 or 1e-3 <= abs(k) < 1e7):
        sign, digits, exp = Decimal(repr(float(k))).normalize().as_tuple()
        d = "".join(map(str, digits))
        return f"{'-' * sign}{d[0]}.{d[1:] or '0'}E{len(d) - 1 + exp}"
    if isinstance(k, datetime) and k.microsecond:
        return str(k).rstrip("0")
    return str(k)


def _text_keyed(df, names_from):
    """Whether the widening pivots on text rather than on the typed
    value of its one names_from: several names_from join into one
    ``concat_ws`` key, and a floating one pivots on its string cast (a
    NaN value never reaches a typed pivot slot)."""
    return len(names_from) > 1 or isinstance(
        df.schema[names_from[0]].dataType, (T.FloatType, T.DoubleType))


def _pivot_key(df, names_from, names_sep):
    """The Column the widening pivots on (see ``_text_keyed``)."""
    if len(names_from) > 1:
        return F.concat_ws(names_sep, *names_from)
    c = F.col(names_from[0])
    return c.cast("string") if _text_keyed(df, names_from) else c


def _spec_keys(df, names_from, names_sep, parts_rows):
    """The pivot keys of typed name-part rows (a spec frame's rows,
    ``names_expand`` combinations absent from the data), rendered by
    Spark with the data's own column types — a 32-bit float part keys
    as '0.1' and a decimal(10,2) one as '1.50', like the data's key, not
    as Python prints the value.  One array of literal expressions over
    a one-row local relation: constant-folded, so no job runs."""
    if not parts_rows or not _text_keyed(df, names_from):
        return [p[0] for p in parts_rows]
    types = [df.schema[c].dataType for c in names_from]

    def key(parts):     # _pivot_key over literals of the data's types
        cols = [F.lit(p).cast(t) for p, t in zip(parts, types)]
        return (F.concat_ws(names_sep, *cols) if len(cols) > 1
                else cols[0].cast("string"))

    one = df.sparkSession.sql("VALUES (1)")
    keys = F.array(*[key(parts) for parts in parts_rows])
    return one.select(keys).collect()[0][0]


def _wide_name(key, parts, v, names_prefix, names_sep, names_glue):
    """Output column name of one widened key — the one naming rule of
    the widening spec (``_wider_cells``).  ``key`` is the key's pivot
    name (the data's text key, see ``_pivot_key``, or ``_key_str`` of a
    typed one), ``parts`` its name parts as ``_key_str`` names, ``v``
    the value column when several are widened (else None).
    ``names_glue`` fills ``{variable}``/``{value}`` from the first two
    name parts, like the reference's ``_collapse_index_names``
    (pivot_wide.py:48-61), and is ignored for a single part."""
    if names_glue is not None and len(parts) + (v is not None) > 1:
        if v is not None:
            return names_glue.format(variable=v, value=parts[0])
        return names_glue.format(variable=parts[0], value=parts[1])
    if v is not None:
        return f"{names_prefix}{v}{names_sep}{key}"
    return f"{names_prefix}{key}"


def _bq(name):
    """Backtick-quoted column ref: plain ``df.select(name)`` parses dots
    as struct access, so pivot keys like '1.5' need escaping."""
    return F.col("`" + str(name).replace("`", "``") + "`")


def _collect_spec(keys, what="pivot spec", exc=TranslationError):
    """Collect a distinct key frame for a widening spec, bounded: at most
    ``MAX_PIVOT_KEYS + 1`` rows reach the driver, and more than
    ``MAX_PIVOT_KEYS`` raises ``exc``."""
    rows = keys.limit(MAX_PIVOT_KEYS + 1).collect()
    if len(rows) > MAX_PIVOT_KEYS:
        raise exc(
            f"{what} exceeds {MAX_PIVOT_KEYS} distinct keys; widening "
            "that far is a driver hazard — aggregate first")
    return rows


def _wider_cells(tbl, work, names_from, values_from, names_prefix="",
                 names_sep="_", names_glue=None, names_vary="fastest",
                 names_expand=False):
    """The widening spec: ``[(typed name parts, pivot key, value column,
    output name)]`` in output column order, from ONE bounded distinct scan
    of ``names_from`` over ``work``.  One names_from pivots on its typed
    value and sorts NULL last, then by declared factor level
    (functions/cat.py ledger), then by ``str``.  The pivot key
    (``_pivot_key``: the typed value, or the data's text for several or
    a floating names_from) is read in that same scan; several names_from
    sort by it.  ``names_expand`` crosses each part's levels from the
    scan instead (reference: pivot_wide.py:486-488), keying an absent
    combination with ``_spec_keys`` and dropping it when that key is
    already taken."""
    rows = [(r[0], tuple(r[1:])) for r in _collect_spec(
        work.select(_pivot_key(work, names_from, names_sep).alias("__pw_key"),
                    *names_from).distinct())]
    meta = tbl.factors.get(names_from[0]) if len(names_from) == 1 else None
    pos = {v: i for i, v in enumerate(
        meta.levels if meta is not None and meta.levels is not None else ())}

    def order(r):       # one names_from sorts by its typed value
        v = r[1][0] if len(names_from) == 1 else r[0]
        return (v is None, pos.get(v, len(pos)), str(v),
                [(p is None, str(p)) for p in r[1]])
    rows.sort(key=order)
    if names_expand and len(names_from) > 1:
        seen = {parts: key for key, parts in rows}
        grid = list(product(*[sorted({p[i] for p in seen},
                                     key=lambda v: (v is None, str(v)))
                              for i in range(len(names_from))]))
        if len(grid) > MAX_PIVOT_KEYS:
            raise TranslationError(
                f"names_expand grid exceeds {MAX_PIVOT_KEYS} keys")
        absent = [parts for parts in grid if parts not in seen]
        new = dict(zip(absent, _spec_keys(work, names_from, names_sep,
                                          absent)))
        taken, rows = set(seen.values()), []
        for parts in grid:
            key = seen.get(parts, new.get(parts))
            if parts in seen or key not in taken:
                taken.add(key)
                rows.append((key, parts))

    def cell(key, parts, v):
        strs = tuple(_key_str(p) for p in parts)
        name = _wide_name(key if isinstance(key, str) else strs[0], strs,
                          v if len(values_from) > 1 else None,
                          names_prefix, names_sep, names_glue)
        return (parts, key, v, name)

    if names_vary == "fastest":
        return [cell(*r, v) for v in values_from for r in rows]
    return [cell(*r, v) for r in rows for v in values_from]


def _widen(work, ids, names_from, names_sep, cells, aggs):
    """The one long→wide lowering of ``cells`` (see ``_wider_cells``),
    ``aggs`` mapping each value column to its aggregate Column: ONE pivot
    on the cells' keys (``_pivot_key``), renamed by position, the ids
    then the cells.  Both the output names and the (pivot key, value
    column) slots must be unique: two cells on one slot would show the
    same merged values."""
    names = [n for *_c, n in cells]
    slots = {(k, v) for _p, k, v, _n in cells}
    if len(set(names)) != len(names) or len(slots) != len(cells):
        raise ValueError(
            f"pivot_wider output names are not unique: {names} "
            "(names_repair='check_unique', the reference default; "
            "concat_ws skips NULL name parts, so two can share a key)")
    key_col = names_from[0]
    if _text_keyed(work, names_from):
        key_col = "__pw_key"
        work = work.withColumn(key_col,
                               _pivot_key(work, names_from, names_sep))
    keys = list(dict.fromkeys(k for _p, k, _v, _n in cells))
    exprs = list(aggs.values())
    if len(exprs) > 1:      # Spark names several aggregates' columns by alias
        exprs = [e.alias(v) for v, e in aggs.items()]
    slot = {kv: f"__pw{i}" for i, kv in enumerate(product(keys, aggs))}
    df = (work.groupBy(*ids).pivot(key_col, keys).agg(*exprs)
          .toDF(*ids, *slot.values()))
    # backtick-escape: ids containing '.' must not parse as struct refs
    return df.select(*[_bq(c) for c in ids],
                     *[F.col(slot[k, v]).alias(n) for _p, k, v, n in cells])


@verb
def spread(tbl: SparkTbl, key, value, fill=None, sep: str | None = None,
           reset_index: bool = True):
    """Long→wide (reference: siuba/dply/verbs.py:2013-2082)."""
    keyc = _colname(key)
    valc = _colname(value)
    ids = [c for c in tbl.columns if c not in (keyc, valc)]
    base = tbl.df.persist()
    cells = _wider_cells(tbl, base, [keyc], [valc],
                         names_prefix=f"{keyc}{sep}" if sep else "")
    df = _widen(base, ids, [keyc], "_", cells,
                {valc: F.first(valc, ignorenulls=True)})
    if fill is not None:
        df = df.fillna(fill, subset=[n for *_c, n in cells])
    return tbl.evolve(df=df).pin(base)


@verb
def fill_na_directional(tbl: SparkTbl, *cols, direction: str = "down"):
    """tidyr ``fill``: carry the last/next non-NULL value through NULLs in
    the selected columns, within the current grouping and ordering
    (``arrange`` first; the cumulative-window no-order warning applies
    otherwise).  ``direction`` is ``"down"``, ``"up"``, ``"downup"`` or
    ``"updown"`` — the two-pass forms are two window projections Catalyst
    collapses into one stage.

    Exported as ``fill`` (the tidyr name); implemented by delegating to
    the ffill/bfill expression machinery so group/order state and
    warnings stay in one place."""
    from ..siu.calls import MetaArg, Symbolic

    from .core import mutate

    if direction not in ("down", "up", "downup", "updown"):
        raise TranslationError(
            "fill direction must be down/up/downup/updown")
    names = resolve_names(cols, tbl.columns) if cols else [
        c for c in tbl.columns if c not in tbl.group_by]
    sym = Symbolic(MetaArg())
    out = tbl
    passes = {"down": ["ffill"], "up": ["bfill"],
              "downup": ["ffill", "bfill"], "updown": ["bfill", "ffill"]}
    for method in passes[direction]:
        out = mutate(out, **{
            c: getattr(getattr(sym, c), method)() for c in names})
    return out


@verb
def drop_na(tbl: SparkTbl, *cols):
    """tidyr ``drop_na``: drop rows with a NULL in ANY selected column
    (all columns when none given).  A plain conjunctive filter — pushes
    to the scan like any predicate."""
    names = resolve_names(cols, tbl.columns) if cols else list(tbl.columns)
    cond = None
    for c in names:
        nn = F.col(c).isNotNull()
        cond = nn if cond is None else (cond & nn)
    return tbl.evolve(df=tbl.df.filter(cond))


@verb
def replace_na(tbl: SparkTbl, replace):
    """tidyr ``replace_na``: fill NULLs per column from a
    ``{column: value}`` dict (scalar form fills every compatible column
    — Spark's native ``fillna`` semantics)."""
    return tbl.evolve(df=tbl.df.fillna(replace))


@verb
def separate_rows(tbl: SparkTbl, *cols, sep: str = r"[^a-zA-Z0-9.]+",
                  convert=False):
    """Split the value of one or more columns on a regex separator and
    explode one row per piece (tidyr::separate_rows; dplyr-family verb the
    reference skipped).  Multiple columns split in lockstep (piece i of
    each column lands on the same output row, NULL when one column has
    fewer pieces — tidyr semantics).  A NULL input survives as one row
    with a NULL piece (tidyr keeps the NA row; a plain ``explode`` would
    silently drop it).

    Zero shuffle: split + (arrays_zip +) explode is a pure flatMap-shaped
    projection that stays in whole-stage codegen, so the op is scan-bound
    at any scale.

    ``convert=`` works like separate's: a dtype string is a lazy
    try_cast; ``True`` is unsupported here (it would need an eager probe
    per exploded column — pass the dtype).
    """
    names = [_colname(c) for c in cols]
    if not names:
        raise ValueError("separate_rows needs at least one column")
    if convert is True:
        raise TranslationError(
            "separate_rows(convert=True) is eager; pass a dtype string "
            "(e.g. convert='bigint') for a lazy cast")
    df = tbl.df
    others = [c for c in df.columns if c not in names]
    # NULL handling: split(NULL) is NULL; explode_outer keeps the row
    # with a NULL piece.  In the multi-column case arrays_zip is NULL if
    # ANY input is NULL, so each NULL split is coalesced to [NULL] first
    # (tidyr's per-column "NA splits to one NA piece" lockstep).
    null_piece = F.array(F.lit(None).cast("string"))
    if len(names) == 1:
        nm = names[0]
        df = df.select(*others,
                       F.explode_outer(F.split(F.col(nm), sep, -1)).alias(nm))
    else:
        zipped = F.arrays_zip(*[
            F.coalesce(F.split(F.col(n), sep, -1), null_piece).alias(n)
            for n in names])
        df = (df.select(*others, F.explode_outer(zipped).alias("__sr"))
              .select(*others, *[F.col(f"__sr.{n}").alias(n) for n in names]))
    if isinstance(convert, str):
        for n in names:
            df = df.withColumn(n, F.col(n).try_cast(convert))
    return tbl.evolve(df=df)


@verb
def separate(tbl: SparkTbl, col, into, sep: str = r"[^a-zA-Z0-9]+",
             remove: bool = True, convert: bool = False,
             extra: str = "warn", fill: str = "warn"):
    """Split a string column into several by a regex separator
    (reference: siuba/dply/verbs.py:2284-2398)."""
    name = _colname(col)
    # extra="merge": the last target keeps the un-split remainder
    # (split's limit arg); "drop"/"warn" discard extra pieces.  The
    # reference warns per-row from pandas; row indices aren't knowable
    # without a scan, so "warn" emits an aggregate count — and only when
    # convert=True already runs a probe job (piggybacked on the same agg,
    # zero extra jobs).  On the lazy paths "warn" behaves as "drop"
    # (documented divergence).
    if extra == "merge":
        parts = F.split(F.col(name), sep, len(into))
    else:
        parts = F.split(F.col(name), sep)

    def _piece(i):
        # F.get (not getItem): rows with fewer pieces fill NULL instead of
        # raising INVALID_ARRAY_INDEX under ANSI mode.  fill="left" shifts
        # short rows right so NULLs land in the LEADING targets (tidyr
        # semantics); "right"/"warn" leave NULLs trailing.
        if fill == "left":
            offset = F.greatest(F.lit(0), F.lit(len(into)) - F.size(parts))
            return F.get(parts, F.lit(i) - offset)
        return F.get(parts, i)

    df = tbl.df
    convertible = {}
    if isinstance(convert, str):
        # explicit target dtype: fully lazy, no probe job
        for i, new in enumerate(into):
            if new is not None:
                df = df.withColumn(new, _piece(i).try_cast(convert))
        if remove and name not in into:
            df = df.drop(name)
        return tbl.evolve(df=df)
    if convert:
        # pandas to_numeric(errors="ignore") semantics: a column converts
        # only if EVERY value parses — one combined agg probe.  NOTE:
        # convert=True is EAGER (output dtype is data-dependent; Spark
        # schemas are static) — exactly one aggregation job runs here.
        # Pass convert="double" (any dtype string) for a lazy cast.
        probes = [
            F.bool_and(_piece(i).isNull()
                       | _piece(i).try_cast("double").isNotNull()).alias(f"p{i}")
            for i, new in enumerate(into) if new is not None
        ]
        if extra == "warn":
            probes.append(F.sum((F.size(F.split(F.col(name), sep)) > len(into))
                                .cast("long")).alias("__extra_rows"))
        if fill == "warn":
            probes.append(F.sum((F.size(F.split(F.col(name), sep)) < len(into))
                                .cast("long")).alias("__missing_rows"))
        row = df.agg(*probes).first()
        rowd = row.asDict()
        n_extra = rowd.pop("__extra_rows", 0) or 0
        n_missing = rowd.pop("__missing_rows", 0) or 0
        if n_extra:
            import warnings
            warnings.warn(f"separate: {n_extra} row(s) had more pieces than "
                          f"len(into)={len(into)}; extra pieces discarded "
                          "(pass extra='merge' or 'drop' to silence)")
        if n_missing:
            import warnings
            warnings.warn(f"separate: {n_missing} row(s) had fewer pieces than "
                          f"len(into)={len(into)}; missing values filled with "
                          "NULL (pass fill='right' or 'left' to silence)")
        convertible = {int(k[1:]): bool(v) for k, v in rowd.items()
                       if v is not None}
    for i, new in enumerate(into):
        if new is None:
            continue
        c = _piece(i)
        if convert and convertible.get(i):
            c = F.coalesce(c.try_cast("bigint").cast("double"), c.try_cast("double"))
        df = df.withColumn(new, c)
    if remove and name not in into:
        df = df.drop(name)
    return tbl.evolve(df=df)


@verb
def unite(tbl: SparkTbl, name: str, *cols, sep: str = "_", remove: bool = True):
    """Concatenate columns into one string column
    (reference: siuba/dply/verbs.py:2413-2471)."""
    names = resolve_names(cols, tbl.columns)
    df = tbl.df.withColumn(name, F.concat_ws(sep, *[F.col(c).cast("string") for c in names]))
    if remove:
        df = df.drop(*[c for c in names if c != name])
    # place united column where the first source column was
    order = []
    for c in tbl.columns:
        if c == names[0]:
            order.append(name)
        elif c in names and remove:
            continue
        elif c != name:
            order.append(c)
    if name not in order:
        order.append(name)
    return tbl.evolve(df=df.select(*order))


@verb
def extract(tbl: SparkTbl, col, into, regex: str = r"(\w+)",
            remove: bool = True, convert: bool = False, flags: int = 0):
    """Regex capture groups → new columns
    (reference: siuba/dply/verbs.py:2476-2543)."""
    name = _colname(col)
    if flags:
        # re module flags -> Java inline flags (reference passes them to
        # pandas str.extract, verbs.py:2480)
        inline = "".join(ch for f, ch in
                         [(re.IGNORECASE, "i"), (re.MULTILINE, "m"),
                          (re.DOTALL, "s"), (re.UNICODE, "u"),
                          (re.VERBOSE, "x")] if flags & f)
        if inline:
            regex = f"(?{inline}){regex}"
    df = tbl.df
    pieces = [
        F.when(F.regexp_extract(F.col(name), regex, i + 1) == "", None)
        .otherwise(F.regexp_extract(F.col(name), regex, i + 1))
        for i in range(len(into))
    ]
    int_ok, dbl_ok = {}, {}
    if isinstance(convert, str):
        # explicit target dtype: fully lazy, no probe job
        for i, new in enumerate(into):
            df = df.withColumn(new, pieces[i].try_cast(convert))
        if remove and name not in into:
            df = df.drop(name)
        return tbl.evolve(df=df)
    if convert:
        # pandas to_numeric-per-column semantics (reference verbs.py:2515-2521):
        # a column converts only if EVERY value parses; int64 when all pieces
        # are integral, float otherwise.  One combined agg probe.  NOTE:
        # convert=True is EAGER (output dtype is data-dependent; Spark
        # schemas are static) — exactly one aggregation job runs here.
        # Pass convert="bigint"/"double" for a lazy cast.
        probes = []
        for i, c in enumerate(pieces):
            probes.append(F.bool_and(
                c.isNull() | c.try_cast("bigint").isNotNull()).alias(f"i{i}"))
            probes.append(F.bool_and(
                c.isNull() | c.try_cast("double").isNotNull()).alias(f"d{i}"))
        row = df.agg(*probes).first().asDict()
        int_ok = {i: bool(row.get(f"i{i}")) for i in range(len(into))}
        dbl_ok = {i: bool(row.get(f"d{i}")) for i in range(len(into))}
    for i, new in enumerate(into):
        c = pieces[i]
        if convert and int_ok.get(i):
            c = c.cast("bigint")
        elif convert and dbl_ok.get(i):
            c = c.cast("double")
        df = df.withColumn(new, c)
    if remove and name not in into:
        df = df.drop(name)
    return tbl.evolve(df=df)


@verb
def one_hot(tbl: SparkTbl, col, prefix: str | None = None,
            drop_first: bool = False, dtype: str = "int",
            remove: bool = True):
    """One-hot encode a categorical column (pandas ``get_dummies`` for one
    column; training-pipeline staple).

    Same spec discipline as pivot_wider: the distinct values are collected
    once (capped at MAX_PIVOT_KEYS) and the encoding itself is a pure
    projection — no shuffle, no UDF, scales as a map-only stage.  NULL
    values get all-zeros like pandas ``dummy_na=False``."""
    name = _colname(col)
    base = tbl.df.persist()
    pre = f"{prefix}_" if prefix else f"{name}_"
    cells = [c for c in _wider_cells(tbl, base, [name], [name], names_prefix=pre)
             if c[1] is not None]
    if drop_first:
        cells = cells[1:]
    key = _pivot_key(base, [name], "_")
    out = base.withColumns({
        n: F.when(key == F.lit(k), 1).otherwise(0).cast(dtype)
        for _p, k, _v, n in cells
    })
    if remove:  # pandas get_dummies drops the encoded column
        out = out.drop(name)
    return tbl.evolve(df=out).pin(base)


@verb
def nest(tbl: SparkTbl, *args, key: str = "data"):
    """Pack non-key columns into an array<struct> column
    (reference: siuba/dply/verbs.py:1414-1485).  ``nest(-_.g)`` nests
    everything except g.  Distributed-safe: one shuffle on the nest keys,
    no driver materialization."""
    from .tidyselect import _match_one
    pos, negs = [], []
    for a in args:
        names, neg = _match_one(a, tbl.columns)
        (negs if neg else pos).extend(names)
    if negs:
        nested = [c for c in tbl.columns if c not in negs and c not in tbl.group_by]
    elif pos:
        nested = pos
    else:
        nested = [c for c in tbl.columns if c not in tbl.group_by]
    keys = [c for c in tbl.columns if c not in nested]
    df = (tbl.df.groupBy(*keys)
          .agg(F.collect_list(F.struct(*[F.col(c) for c in nested])).alias(key)))
    return SparkTbl(df, group_by=tbl.group_by)


@verb
def unnest(tbl: SparkTbl, col: str = "data"):
    """Explode an array<struct> column back to rows
    (reference: siuba/dply/verbs.py:1492-1535)."""
    name = _colname(col)
    others = [c for c in tbl.columns if c != name]
    dt = dict((f.name, f.dataType) for f in tbl.df.schema.fields)[name]
    df = tbl.df.withColumn(name, F.explode(name))
    if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StructType):
        df = df.select(*others, f"{name}.*")
    return tbl.evolve(df=df)


@verb
def expand(tbl: SparkTbl, *args, fill=None):
    """Distinct cartesian crossing of columns
    (reference: siuba/dply/verbs.py:2113-2182; its ``fill=`` also raises
    NotImplementedError, verbs.py:2180)."""
    if fill is not None:
        raise NotImplementedError("expand(fill=...) — not implemented in the reference either")
    names = resolve_names(args, tbl.columns)
    out = None
    for nm in names:
        d = tbl.df.select(nm).distinct()
        out = d if out is None else out.crossJoin(d)
    return SparkTbl(out.orderBy(*names), group_by=tbl.group_by)


@verb
def complete(tbl: SparkTbl, *args, fill: dict | None = None,
             explicit: bool = True):
    """expand + outer join back + fill
    (reference: siuba/dply/verbs.py:2185-2279).

    ``explicit=False`` fills only the NULLs *created by completion* (rows
    absent from the original data), leaving pre-existing NULLs alone —
    the reference implements this with a merge indicator
    (siuba/dply/verbs.py:2254-2277); here a marker join plays that role."""
    names = resolve_names(args, tbl.columns)
    grid = expand(tbl, *args)
    df = grid.df.join(tbl.df, names, "left")
    if fill:
        if explicit:
            df = df.fillna(fill)
        else:
            marker = tbl.df.select(names).distinct().withColumn("__orig", F.lit(1))
            df = df.join(marker, names, "left")
            for c, v in fill.items():
                df = df.withColumn(
                    c, F.when(F.col("__orig").isNull() & F.col(c).isNull(),
                              F.lit(v)).otherwise(F.col(c)))
            df = df.drop("__orig")
    return tbl.evolve(df=df)


# --------------------------------------------------------------------------
# tidyr v1 pivots (reference: siuba/experimental/pivot/)
# --------------------------------------------------------------------------


def _longer_spec_pairs(columns, cols, names_to, values_to, names_sep,
                       names_pattern, names_prefix):
    """The internal long-pivot spec: [(source_col, {part_name: value})]."""
    spec = []
    for c in cols:
        label = c
        if names_prefix and label.startswith(names_prefix):
            label = label[len(names_prefix):]
        if len(names_to) == 1:
            parts = [label]
        elif names_pattern:
            m = re.match(names_pattern, label)
            if not m:
                raise TranslationError(f"names_pattern does not match column '{c}'")
            parts = list(m.groups())
        elif names_sep is not None:
            parts = re.split(names_sep, label)
        else:
            raise TranslationError("multiple names_to requires names_sep or names_pattern")
        if len(parts) != len(names_to):
            raise TranslationError(f"column '{c}' splits into {len(parts)} parts, "
                                   f"expected {len(names_to)}")
        spec.append((c, dict(zip(names_to, parts))))
    return spec


@verb
def build_longer_spec(tbl: SparkTbl, *args, names_to="name",
                      values_to: str = "value", names_sep: str | None = None,
                      names_pattern: str | None = None,
                      names_prefix: str | None = None):
    """The tidyr spec-level API: return the long-pivot spec as a pandas
    DataFrame with columns ``.name`` (source column), ``.value``
    (destination value column) and one column per extra names_to part —
    the exact frame the reference builds (pivot_long.py:175-250).  Pure
    name manipulation: no Spark job runs."""
    import pandas as pd

    cols = resolve_measure_names(args, tbl.columns)
    names_to = (names_to,) if isinstance(names_to, str) else tuple(names_to)
    pairs = _longer_spec_pairs(tbl.columns, cols, names_to, values_to,
                               names_sep, names_pattern, names_prefix)
    rows = []
    for c, parts in pairs:
        row = {".name": c, ".value": parts.get(".value", values_to)}
        for k in names_to:
            if k != ".value":
                row[k] = parts[k]
        rows.append(row)
    return pd.DataFrame(rows)


@verb
def pivot_longer_spec(tbl: SparkTbl, spec, values_drop_na: bool = False,
                      names_repair: str = "check_unique",
                      values_transform=None):
    """Reshape long according to a spec frame from ``build_longer_spec``
    (possibly user-edited — the whole point of the spec API; reference:
    pivot_long.py:252-350)."""
    import pandas as pd

    spec = pd.DataFrame(spec)
    other = [c for c in spec.columns if c not in (".name", ".value")]
    multi_value = spec[".value"].nunique() > 1
    names_to = tuple(other) + ((".value",) if multi_value else ())
    values_to = spec[".value"].iloc[0] if not multi_value else "value"
    pairs = []
    for r in spec.to_dict("records"):
        parts = {k: r[k] for k in other}
        if multi_value:
            parts[".value"] = r[".value"]
        pairs.append((r[".name"], parts))
    return _pivot_longer_impl(tbl, pairs, names_to, values_to, values_drop_na,
                              names_repair, values_transform)


@verb
def pivot_longer(tbl: SparkTbl, *args, names_to="name", values_to: str = "value",
                 names_sep: str | None = None, names_pattern: str | None = None,
                 names_prefix: str | None = None, values_drop_na: bool = False,
                 names_transform=None, values_transform=None,
                 names_repair: str = "check_unique"):
    """tidyr pivot_longer: multi-part names via names_sep/names_pattern and
    the ``.value`` spec (reference: siuba/experimental/pivot/pivot_long.py:45-250;
    SQL strategy = union-all of per-spec selects, sql_pivot_long.py:56+).

    ``names_transform``: dict mapping names_to parts to a Python callable
    applied to each part value spec-side (e.g. ``{"week": int}`` — exactly
    the reference, pivot_long.py:240-247).  ``values_transform``: dict
    mapping value-column names to a dtype string (lazy cast) or a
    Column→Column callable.  ``names_repair``: "check_unique" (raise on
    duplicates), "unique" (suffix ``___{position}``)."""
    cols = resolve_measure_names(args, tbl.columns)
    if isinstance(names_to, str):
        names_to = (names_to,)
    names_to = tuple(names_to)
    spec = _longer_spec_pairs(tbl.columns, cols, names_to, values_to,
                              names_sep, names_pattern, names_prefix)
    if names_transform:
        spec = [(c, {k: (names_transform[k](v) if k in names_transform else v)
                     for k, v in parts.items()})
                for c, parts in spec]
    return _pivot_longer_impl(tbl, spec, names_to, values_to, values_drop_na,
                              names_repair, values_transform)


def _apply_values_transform(df, value_names, values_transform):
    if not values_transform:
        return df
    for nm, tr in values_transform.items():
        if nm not in value_names:
            raise ValueError(
                f"values_transform key {nm!r} is not a value column "
                f"({value_names})")
        df = df.withColumn(nm, F.col(nm).cast(tr) if isinstance(tr, str)
                           else tr(F.col(nm)))
    return df


def _repair_names(names, how):
    """vec_as_names analogue (reference utils.py): positional ___{i}
    suffixes for "unique", error on duplicates for "check_unique"."""
    if how == "check_unique":
        dups = sorted({n for n in names if names.count(n) > 1})
        if dups:
            raise ValueError(
                f"duplicate output columns {dups}; pass "
                "names_repair='unique' to auto-suffix")
        return names
    if how == "unique":
        return [n if names.count(n) == 1 else f"{n}___{i}"
                for i, n in enumerate(names)]
    if how == "minimal":
        return names  # Spark itself rejects true duplicates downstream
    raise ValueError(f"unknown names_repair {how!r}")


def _pivot_longer_impl(tbl: SparkTbl, spec, names_to, values_to,
                       values_drop_na, names_repair="check_unique",
                       values_transform=None):
    cols = [c for c, _p in spec]
    ids = [c for c in tbl.columns if c not in cols]

    if ".value" in names_to:
        # group spec rows by the non-value name parts; union-all of selects
        other_keys = [k for k in names_to if k != ".value"]
        groups: dict[tuple, dict] = {}
        for c, parts in spec:
            gk = tuple(parts[k] for k in other_keys)
            groups.setdefault(gk, {})[parts[".value"]] = c
        value_names = sorted({p[".value"] for _, p in spec})
        pieces = []
        for gk, mapping in groups.items():
            sel = [F.col(c) for c in ids]
            sel += [F.lit(v).alias(k) for k, v in zip(other_keys, gk)]
            for vn in value_names:
                src = mapping.get(vn)
                sel.append((F.col(src) if src else F.lit(None)).alias(vn))
            pieces.append(tbl.df.select(*sel))
        df = pieces[0]
        for p in pieces[1:]:
            df = df.unionByName(p)
        if values_drop_na:
            # reference: dropna(subset=value_columns, how="all"),
            # pivot_long.py:320-322
            keep = None
            for vn in value_names:
                c = F.col(vn).isNotNull()
                keep = c if keep is None else (keep | c)
            df = df.filter(keep)
        df = _apply_values_transform(df, value_names, values_transform)
        repaired = _repair_names(df.columns, names_repair)
        if repaired != df.columns:
            df = df.toDF(*repaired)
        return SparkTbl(df)

    vtype = _common_value_type(tbl.df, cols)
    structs = [
        F.struct(*[F.lit(parts[k]).alias(k) for k in names_to],
                 F.col(c).cast(vtype).alias(values_to))
        for c, parts in spec
    ]
    df = (tbl.df.withColumn("__kv", F.explode(F.array(*structs)))
          .select(*ids, *[F.col("__kv")[k].alias(k) for k in names_to],
                  F.col("__kv")[values_to].alias(values_to)))
    if values_drop_na:
        df = df.filter(F.col(values_to).isNotNull())
    df = _apply_values_transform(df, [values_to], values_transform)
    repaired = _repair_names(df.columns, names_repair)
    if repaired != df.columns:
        df = df.toDF(*repaired)
    return SparkTbl(df)


@verb
def pivot_wider(tbl: SparkTbl, id_cols=None, names_from="name",
                values_from: str = "value", names_prefix: str = "",
                names_sep: str = "_", names_glue: str | None = None,
                values_fill=None, values_fn="max",
                names_vary: str = "fastest", names_expand: bool = False,
                id_expand: bool = False):
    """tidyr pivot_wider (reference: siuba/experimental/pivot/pivot_wide.py:97-275;
    SQL default agg MAX, sql_pivot_wide.py:29,48).

    ``names_glue`` is a format template with ``{variable}``/``{value}``
    placeholders filled from the first two name parts, exactly like the
    reference's ``_collapse_index_names`` (pivot_wide.py:48-61): with
    multiple values_from, variable = the value column and value = the
    names_from key; with one values_from and ≥2 names_from, the first two
    names_from parts.  With a single name part glue is ignored (reference
    behavior).  ``values_fn`` may be a dict mapping each values_from
    column to its aggregate.

    ``names_vary`` orders output columns: "fastest" = names_from varies
    fastest ([x_one, x_two, y_one, y_two]), "slowest" the transpose
    (reference pivot_wide.py:494-517).  ``names_expand`` pivots the full
    cartesian product of names_from level values (missing combos become
    all-NULL columns).  ``id_expand`` completes the id-combination grid
    and sorts by ids, exactly like the reference's expand()+sort.
    """
    if names_vary not in ("fastest", "slowest"):
        raise ValueError(f"names_vary must be 'fastest' or 'slowest', got {names_vary!r}")
    # full tidyselect (reference parity): ``values_from=_[_.x, _.y]`` and
    # other multi-selections resolve like select() does
    def _pivot_sel(arg):
        args = list(arg) if isinstance(arg, (list, tuple)) else [arg]
        return resolve_measure_names(args, tbl.columns)

    names_from = _pivot_sel(names_from)
    values_from = _pivot_sel(values_from)
    ids = _wider_ids(tbl, id_cols, names_from, values_from)
    aggs = _value_aggs(values_fn, values_from)
    work = tbl.df.persist()
    cells = _wider_cells(tbl, work, names_from, values_from, names_prefix,
                         names_sep, names_glue, names_vary, names_expand)
    df = _widen(work, ids, names_from, names_sep, cells, aggs)
    out_names = [n for *_c, n in cells]
    if id_expand and ids:
        # complete the id grid (cartesian product of per-id levels) and
        # sort by ids, like the reference's expand() path (pivot_wide.py:320+)
        grid = None
        for c in ids:
            part = work.select(c).distinct()
            grid = part if grid is None else grid.crossJoin(part)
        df = grid.join(df, ids, "left")
        df = df.orderBy(*ids)
    if values_fill is not None:
        df = df.fillna(values_fill, subset=out_names)
    return SparkTbl(df, pins=tbl.pins + (work,))


@verb
def build_wider_spec(tbl: SparkTbl, names_from="name", values_from="value",
                     names_prefix: str = "", names_sep: str = "_",
                     names_glue: str | None = None):
    """Spec-level wide-pivot API (reference: pivot_wide.py:438-527): a
    pandas DataFrame with ``.name`` (output column), ``.value`` (source
    value column) and the names_from part columns, names_from varying
    fastest.  EAGER: collects the distinct names_from rows (bounded by
    MAX_PIVOT_KEYS) — the reference needs the data for this too."""
    import pandas as pd

    names_from, values_from = (
        [_colname(c) for c in (a if isinstance(a, (list, tuple)) else [a])]
        for a in (names_from, values_from))
    cells = _wider_cells(tbl, tbl.df, names_from, values_from, names_prefix,
                         names_sep, names_glue)
    return pd.DataFrame([{".name": n, ".value": v, **dict(zip(names_from, p))}
                         for p, _k, v, n in cells])


@verb
def pivot_wider_spec(tbl: SparkTbl, spec, id_cols=None, values_fill=None,
                     values_fn="max", names_sep: str = "_"):
    """Pivot wide according to a (possibly user-edited) spec frame from
    ``build_wider_spec`` — only the keys listed in the spec become columns,
    named exactly by ``.name`` (reference: pivot_wide.py:283-430)."""
    import pandas as pd

    spec = pd.DataFrame(spec)
    names_from = [c for c in spec.columns if c not in (".name", ".value")]
    values_from = list(pd.unique(spec[".value"]))
    ids = _wider_ids(tbl, id_cols, names_from, values_from)

    def typed(x):       # pandas holds a NULL key as None or NaN
        return None if x is None or (isinstance(x, float) and x != x) else x

    recs = spec.to_dict("records")
    parts = [tuple(typed(r[c]) for c in names_from) for r in recs]
    cells = [(p, k, r[".value"], r[".name"]) for p, k, r in zip(
        parts, _spec_keys(tbl.df, names_from, names_sep, parts), recs)]
    df = _widen(tbl.df, ids, names_from, names_sep, cells,
                _value_aggs(values_fn, values_from))
    if values_fill is not None:
        df = df.fillna(values_fill, subset=[n for *_c, n in cells])
    return SparkTbl(df)


@join_verb
def bind_rows(tbl: SparkTbl, *others):
    """Row-bind by column name (absent from the reference — SURVEY §2.6 —
    but free via unionByName)."""
    df = tbl.df
    for o in others:
        df = df.unionByName(wrap_table(o).df, allowMissingColumns=True)
    return SparkTbl(df)


@verb
def crosstab(tbl: SparkTbl, row, col, values=None, aggfunc: str = "count",
             fill=0):
    """Contingency table (pandas.crosstab): counts — or an aggregate of
    ``values`` — per (row, col) cell, one wide row per row-key.

    ``pivot_wider``'s spec and widening, with ``row`` as the one id and
    NULL ``col`` values dropped (pandas' ``dropna``)."""
    rowc = _colname(row)
    colc = _colname(col)
    valc = _colname(values) if values is not None else None
    base = tbl.df.persist()
    cells = [c for c in _wider_cells(tbl, base, [colc], [valc])
             if c[1] is not None]
    agg = _agg_fn(aggfunc)(F.col(valc)) if valc is not None \
        else F.count(F.lit(1))
    df = _widen(base, [rowc], [colc], "_", cells, {valc: agg})
    if fill is not None:
        df = df.fillna(fill, subset=[n for *_c, n in cells])
    return tbl.evolve(df=df, group_by=()).pin(base)


# --------------------------------------------------------------------------
# tidyr 1.3 separate_wider_* family (modern replacements for separate/
# extract; beyond the reference, which predates tidyr 1.3)
# --------------------------------------------------------------------------

def _swider_check(df, bad_cond, verb_name, what):
    """tidyr's default too_few/too_many="error": ONE bounded count of
    offending rows (same contract style as the rows_* verbs)."""
    n = df.filter(bad_cond).count()
    if n:
        raise ValueError(
            f"{verb_name}: {n} rows {what} (pass the non-'error' option "
            f"to handle them lazily)")


@verb
def separate_wider_delim(tbl: SparkTbl, col, delim: str, names,
                         too_few: str = "error", too_many: str = "error",
                         cols_remove: bool = True):
    """tidyr 1.3 ``separate_wider_delim``: split on a LITERAL delimiter
    into named columns.  ``names`` entries of None drop that piece.
    ``too_few``: "error" (default, one bounded count job) or
    "align_start" (missing pieces become NULL, lazy).  ``too_many``:
    "error", "drop" (discard extras) or "merge" (last column keeps the
    remainder).  Zero shuffle — a split + projection, codegen'd."""
    name = _colname(col)
    pat = re.escape(delim)
    if too_few not in ("error", "align_start"):
        raise ValueError("too_few must be 'error' or 'align_start'")
    if too_many not in ("error", "drop", "merge"):
        raise ValueError("too_many must be 'error', 'drop', or 'merge'")
    limit = len(names) if too_many == "merge" else -1
    parts = F.split(F.col(name), pat, limit)
    df = tbl.df
    if too_few == "error":
        _swider_check(df.select(F.size(parts).alias("__n")),
                      F.col("__n").between(0, len(names) - 1),
                      "separate_wider_delim", f"have fewer than {len(names)} pieces")
    if too_many == "error":
        _swider_check(df.select(F.size(parts).alias("__n")),
                      F.col("__n") > len(names),
                      "separate_wider_delim", f"have more than {len(names)} pieces")
    keep = [c for c in df.columns if c != name or not cols_remove]
    # try_element_at: under too_few="align_start" short rows legitimately
    # lack trailing pieces (NULL), and ANSI element_at would throw
    new = [F.try_element_at(parts, F.lit(i + 1)).alias(nm)
           for i, nm in enumerate(names) if nm is not None]
    return tbl.evolve(df=df.select(*keep, *new))


@verb
def separate_wider_position(tbl: SparkTbl, col, widths: dict,
                            too_few: str = "error",
                            cols_remove: bool = True):
    """tidyr 1.3 ``separate_wider_position``: fixed-width split.
    ``widths`` maps new column name -> character width, in order; a key
    of the form ``"_"``-prefix (e.g. ``"_1"``) skips that many chars.
    ``too_few``: "error" (bounded count of too-short rows) or
    "align_start" (short rows yield NULL/truncated pieces, lazy)."""
    name = _colname(col)
    if too_few not in ("error", "align_start"):
        raise ValueError("too_few must be 'error' or 'align_start'")
    total = sum(widths.values())
    df = tbl.df
    if too_few == "error":
        _swider_check(df.select(F.length(F.col(name)).alias("__l")),
                      F.coalesce(F.col("__l"), F.lit(0)) < total,
                      "separate_wider_position",
                      f"are shorter than {total} characters")
    keep = [c for c in df.columns if c != name or not cols_remove]
    new, off = [], 1
    for nm, w in widths.items():
        if not nm.startswith("_"):
            piece = F.substring(F.col(name), off, w)
            # align_start: a fully-missing piece is NULL, not ""
            piece = F.when(piece == "", None).otherwise(piece)
            new.append(piece.alias(nm))
        off += w
    return tbl.evolve(df=df.select(*keep, *new))


@verb
def separate_wider_regex(tbl: SparkTbl, col, patterns: dict,
                         too_few: str = "error", cols_remove: bool = True):
    """tidyr 1.3 ``separate_wider_regex``: a sequence of regex pieces
    matched left-to-right; ``patterns`` maps new column name -> piece
    regex (a key starting with ``"_"`` matches without capturing).  The
    pieces are concatenated into one anchored regex, so the whole value
    must match.  ``too_few``: "error" (bounded count of non-matching
    rows) or "align_start" (non-matching rows get NULLs, lazy)."""
    name = _colname(col)
    if too_few not in ("error", "align_start"):
        raise ValueError("too_few must be 'error' or 'align_start'")
    full = "^"
    out_names = []
    for nm, piece in patterns.items():
        if nm.startswith("_"):
            full += f"(?:{piece})"
        else:
            full += f"({piece})"
            out_names.append(nm)
    full += "$"
    df = tbl.df
    if too_few == "error":
        _swider_check(df, ~F.coalesce(F.col(name).rlike(full), F.lit(False)),
                      "separate_wider_regex", "do not match the pattern")
    keep = [c for c in df.columns if c != name or not cols_remove]
    # NULL only when the whole value fails to match (regexp_extract on a
    # non-match also returns "", which would conflate a legitimately
    # empty capture like '\\d*' with no-match — ADVICE r5); a matching
    # row keeps its empty capture as "" exactly like tidyr
    matched = F.coalesce(F.col(name).rlike(full), F.lit(False))
    new = [F.when(matched, F.regexp_extract(F.col(name), full, i + 1))
           .alias(nm)
           for i, nm in enumerate(out_names)]
    return tbl.evolve(df=df.select(*keep, *new))


# --------------------------------------------------------------------------
# tidyr 1.x rectangling: unnest_longer / unnest_wider / hoist
# (beyond the reference — siuba stops at nest/unnest; these are the modern
# tidyr rectangling verbs, and Spark's native complex types make them
# shuffle-free projections/explodes)
# --------------------------------------------------------------------------

@verb
def unnest_longer(tbl: SparkTbl, col, values_to: str | None = None,
                  indices_to: str | None = None, keep_empty: bool = False):
    """tidyr ``unnest_longer``: explode a list column to one row PER
    ELEMENT, optionally keeping the element index (0-based for arrays,
    the key for maps).

    - array column  -> rows of elements; ``indices_to`` adds positions;
    - map column    -> rows of values; ``indices_to`` adds keys;
    - ``keep_empty=True`` keeps rows whose list is empty/NULL (their
      value/index become NULL) — ``explode_outer`` semantics.

    Zero shuffle: one generator projection (posexplode), the same plan
    shape as ``separate_rows``."""
    name = _colname(col, tbl.columns)
    values_to = values_to or name
    others = [c for c in tbl.columns if c != name]
    dt = dict((f.name, f.dataType) for f in tbl.df.schema.fields)[name]
    if isinstance(dt, T.MapType):
        # explode over maps yields (key, value); tidyr keeps map names
        # by default (they're meaningful), under `{col}_id` unless
        # indices_to renames it
        gen = F.explode_outer(name) if keep_empty else F.explode(name)
        idx_name = indices_to or f"{name}_id"
        df = tbl.df.select(*others, gen.alias(idx_name, values_to))
        return tbl.evolve(df=df)
    gen = F.posexplode_outer(name) if keep_empty else F.posexplode(name)
    df = tbl.df.select(*others, gen.alias("__idx", values_to))
    if indices_to is not None:
        df = df.withColumn(indices_to, F.col("__idx"))
    return tbl.evolve(df=df.drop("__idx"))


@verb
def unnest_wider(tbl: SparkTbl, col, names_sep: str | None = None):
    """tidyr ``unnest_wider``: promote a struct column's fields (or a
    map column's keys) to top-level columns.

    Structs are schema-static — the widening is a pure projection, no
    job runs.  Maps need the key universe: a bounded distinct-keys probe
    (the same ``MAX_PIVOT_KEYS``-capped collected-spec job as
    ``pivot_wider``); missing keys become NULL.  ``names_sep`` prefixes
    new columns with ``{col}{names_sep}`` (tidyr's collision-avoidance
    convention)."""
    name = _colname(col, tbl.columns)
    others = [c for c in tbl.columns if c != name]
    dt = dict((f.name, f.dataType) for f in tbl.df.schema.fields)[name]
    pre = f"{name}{names_sep}" if names_sep else ""
    if isinstance(dt, T.StructType):
        new = [F.col(f"{name}.{f.name}").alias(f"{pre}{f.name}")
               for f in dt.fields]
        return tbl.evolve(df=tbl.df.select(*others, *new))
    if isinstance(dt, T.MapType):
        rows = _collect_spec(
            tbl.df.select(F.explode(F.map_keys(F.col(name))).alias("__k"))
            .distinct().orderBy("__k"),
            f"unnest_wider: map column {name!r}", ValueError)
        keys = [r["__k"] for r in rows]
        new = [F.element_at(F.col(name), F.lit(k)).alias(f"{pre}{k}")
               for k in keys]
        return tbl.evolve(df=tbl.df.select(*others, *new))
    raise TranslationError(
        f"unnest_wider expects a struct or map column, got {dt.simpleString()}")


@verb
def hoist(tbl: SparkTbl, col, **specs):
    """tidyr ``hoist``: pluck named elements OUT of a nested column into
    top-level columns, keeping the rest of the nest in place.

    Each kwarg is ``new_name="field"`` (struct field / map key) or
    ``new_name=["a", 2, "b"]`` — a pluck path walked left to right
    (strings index structs/maps, INTEGERS index arrays 1-based like
    tidyr/R).  Pure projection: no shuffle, no job."""
    name = _colname(col, tbl.columns)
    out = tbl.df
    for new_name, path in specs.items():
        steps = path if isinstance(path, (list, tuple)) else [path]
        c = F.col(name)
        for s in steps:
            # getItem handles struct fields, map keys, AND array
            # positions; tidyr paths index arrays 1-based, Spark getItem
            # 0-based — convert
            c = c.getItem(s - 1) if isinstance(s, int) else c.getItem(s)
        out = out.withColumn(new_name, c)
    return tbl.evolve(df=out)


@verb
def separate_longer_delim(tbl: SparkTbl, *cols, delim: str):
    """tidyr 1.3 ``separate_longer_delim``: split on a PLAIN (non-regex)
    delimiter and explode one row per piece — the longer-direction
    sibling of ``separate_wider_delim``.  Delegates to ``separate_rows``
    (identical lockstep/NULL semantics) with the delimiter regex-quoted,
    exactly as tidyr treats ``delim`` as a literal string.

    Examples
    --------
    >>> t = tbl(spark.createDataFrame([(1, "a.b")], "id long, x string"))
    >>> sorted(r.x for r in
    ...        (t >> separate_longer_delim(_.x, delim=".")).df.collect())
    ['a', 'b']
    """
    return separate_rows.__verb__(tbl, *cols, sep=re.escape(delim))


@verb
def separate_longer_position(tbl: SparkTbl, *cols, width: int,
                             keep_empty: bool = False):
    """tidyr 1.3 ``separate_longer_position``: chop the value into
    ``width``-character pieces and explode one row per piece.  NULL
    inputs survive as one NULL-piece row (tidyr keeps the NA row);
    empty strings produce zero pieces and are dropped unless
    ``keep_empty=True`` (tidyr's default ``keep_empty = FALSE``).
    The chop pattern is DOTALL so embedded newlines are preserved,
    matching tidyr's substring chopping.  Zero shuffle:
    regexp_extract_all + explode, a flatMap-shaped projection."""
    if width < 1:
        raise ValueError("width must be >= 1")
    names = [_colname(c) for c in cols]
    if not names:
        raise ValueError("separate_longer_position needs at least one column")
    if len(names) > 1:
        raise TranslationError(
            "separate_longer_position splits one column (tidyr's "
            "signature); call it once per column")
    name = names[0]
    others = [c for c in tbl.columns if c != name]
    pieces = F.regexp_extract_all(F.col(name),
                                  F.lit(f"(?s)(.{{1,{width}}})"), 1)
    # NULL input -> one NULL-piece row (both explode variants keep it);
    # "" input -> empty array: explode drops the row, explode_outer
    # (keep_empty=True) keeps it as a NULL piece.
    pieces = F.coalesce(pieces, F.array(F.lit(None).cast("string")))
    exploder = F.explode_outer if keep_empty else F.explode
    df = tbl.df.select(*others, exploder(pieces).alias(name))
    return tbl.evolve(df=df)


@verb
def uncount(tbl: SparkTbl, weights, remove: bool = True,
            id: str | None = None):
    """tidyr ``uncount``: duplicate each row ``weights`` times — the
    inverse of ``count`` (beyond the reference, which has no uncount;
    tidyr signature ``uncount(data, weights, .remove, .id)``).

    ``weights`` may be a column reference or any expression (``2 * _.n``);
    zero weights drop the row; NULL, negative, or fractional weights
    raise at runtime (tidyr errors on missing weights and requires whole
    non-negative numbers — silently shrinking or truncating would
    fabricate data).  ``id=`` adds a 1-based copy index and must not
    collide with a kept column.  Shuffle-free: one
    ``explode(sequence(1, w))`` flatMap-shaped projection; at 100 TB the
    only cost is the output row fan-out itself.

    Examples
    --------
    >>> t = tbl(spark.createDataFrame([("a", 2), ("b", 1), ("c", 0)],
    ...                               "g string, n long"))
    >>> out = t >> uncount(_.n, id="cid") >> collect()
    >>> sorted(zip(out.g, out.cid))
    [('a', 1), ('a', 2), ('b', 1)]
    """
    from ..functions.lowering import LowerCtx
    node = strip_symbolic(weights)
    w, _k = lower(node, LowerCtx(tbl.group_by, tbl.order_by))
    # whole-number gate: raise_error inside the plan, no extra pass
    # (NULL weights raise too — tidyr errors on missing weights, and a
    # silent row drop would shrink the output without a trace)
    wl = F.when(w.isNull() | (w < 0) | (w != F.floor(w)),
                F.raise_error(F.concat(
                    F.lit("uncount: weights must be whole non-negative "
                          "numbers (no NULLs), got "),
                    F.coalesce(w.cast("string"), F.lit("NULL"))))
                .cast("long")).otherwise(w.cast("long"))
    seq = F.when(wl >= 1, F.sequence(F.lit(1).cast("long"), wl)) \
        .otherwise(F.array().cast("array<long>"))
    keep = [c for c in tbl.columns
            if not (remove and isinstance(node, GetAttr)
                    and isinstance(node.obj, MetaArg)
                    and c == node.name)]
    if id is not None and id in keep:
        raise TranslationError(
            f"uncount: id={id!r} collides with a kept column; pick a "
            "fresh name (or remove/rename the existing column first)")
    out = tbl.df.select(*keep, F.explode(seq).alias(id or "__uncount_id"))
    if id is None:
        out = out.drop("__uncount_id")
    return tbl.evolve(df=out)


@verb
def pack(tbl: SparkTbl, **specs):
    """tidyr ``pack``: bundle columns into a single struct column (the
    df-column idiom; beyond the reference, which has no pack/unpack —
    Spark structs make it a pure zero-job projection).

    ``pack(t, meta=(_.lang, _.source))`` replaces the chosen columns
    with one struct column ``meta`` whose fields keep their names.
    Tidyselect references or plain names both work.

    Examples
    --------
    >>> t = tbl(spark.createDataFrame([(1, "en", "s1")],
    ...                               "id long, lang string, src string"))
    >>> out = t >> pack(meta=(_.lang, _.src))
    >>> out.df.columns
    ['id', 'meta']
    >>> out.df.select("meta.lang").first()[0]
    'en'
    """
    if not specs:
        raise TranslationError("pack() needs name=(cols...) bundles")
    bundles = {}
    for name, cols in specs.items():
        cols = cols if isinstance(cols, (list, tuple)) else (cols,)
        bundles[name] = [_colname(c, tbl.columns) for c in cols]
    packed = {c for names in bundles.values() for c in names}
    keep = [c for c in tbl.columns if c not in packed]
    news = [F.struct(*[F.col(c) for c in names]).alias(name)
            for name, names in bundles.items()]
    return tbl.evolve(df=tbl.df.select(*keep, *news))


@verb
def unpack(tbl: SparkTbl, *cols, names_sep: str | None = None):
    """tidyr ``unpack``: flatten struct columns back to top level — the
    inverse of ``pack`` (delegates to the ``unnest_wider`` struct path;
    pure projection, no job).  ``names_sep`` prefixes field names with
    ``{col}{names_sep}`` on collision-prone frames, like tidyr.

    Examples
    --------
    >>> t = tbl(spark.createDataFrame([(1, "en", "s1")],
    ...                               "id long, lang string, src string"))
    >>> rt = t >> pack(meta=(_.lang, _.src)) >> unpack(_.meta)
    >>> rt.df.columns
    ['id', 'lang', 'src']
    """
    if not cols:
        raise TranslationError("unpack() needs at least one struct column")
    out = tbl
    for c in cols:
        out = unnest_wider.__verb__(out, c, names_sep=names_sep)
    return out


@verb
def chop(tbl: SparkTbl, *cols):
    """tidyr ``chop``: collapse the selected columns into list columns,
    one row per unique combination of the REMAINING columns (beyond the
    reference, which stops at nest/unnest).  Values are sorted for
    deterministic cross-engine output (pandas keeps encounter order;
    a distributed engine has none — same divergence note as ``unique``).

    One groupBy aggregation with map-side partial collect_list — the
    same shuffle shape as ``nest``.

    Examples
    --------
    >>> t = tbl(spark.createDataFrame(
    ...     [("a", 1), ("a", 2), ("b", 3)], "g string, x long"))
    >>> out = t >> chop(_.x)
    >>> sorted((r.g, r.x) for r in out.df.collect())
    [('a', [1, 2]), ('b', [3])]
    """
    if not cols:
        raise TranslationError("chop() needs at least one column")
    names = resolve_names(cols, tbl.columns)
    keys = [c for c in tbl.columns if c not in names]
    aggs = [F.array_sort(F.collect_list(F.col(c))).alias(c) for c in names]
    return tbl.evolve(df=tbl.df.groupBy(*keys).agg(*aggs))


@verb
def unchop(tbl: SparkTbl, *cols, keep_empty: bool = False):
    """tidyr ``unchop``: explode list columns back to one row per
    element — the inverse of ``chop``.  Multiple columns explode in
    LOCKSTEP (tidyr semantics: sizes must match per row; mismatches
    raise at runtime).  ``keep_empty=True`` keeps zero-length/NULL rows
    as NULL elements.  Shuffle-free flatMap-shaped projection.

    Examples
    --------
    >>> t = tbl(spark.createDataFrame(
    ...     [("a", [1, 2]), ("b", [])], "g string, x array<long>"))
    >>> sorted((r.g, r.x) for r in (t >> unchop(_.x)).df.collect())
    [('a', 1), ('a', 2)]
    >>> kept = (t >> unchop(_.x, keep_empty=True)).df.collect()
    >>> sorted(((r.g, r.x) for r in kept), key=lambda p: (p[0], str(p[1])))
    [('a', 1), ('a', 2), ('b', None)]
    """
    if not cols:
        raise TranslationError("unchop() needs at least one column")
    names = resolve_names(cols, tbl.columns)
    others = [c for c in tbl.columns if c not in names]
    first = names[0]
    size_guard = F.col(first)
    zipped = F.col(first) if len(names) == 1 else F.arrays_zip(
        *[F.col(c) for c in names])
    for c in names[1:]:
        # lockstep contract: per-row sizes must match (arrays_zip would
        # silently NULL-pad, fabricating rows)
        size_guard = F.when(
            F.size(F.col(c)) != F.size(F.col(first)),
            F.raise_error(F.lit(
                f"unchop: columns {first!r} and {c!r} have mismatched "
                "sizes"))).otherwise(size_guard)
    df = tbl.df.withColumn(first, size_guard) if len(names) > 1 else tbl.df
    arr = zipped if len(names) == 1 else F.arrays_zip(
        *[F.col(c) for c in names])
    if keep_empty:
        arr = F.when(arr.isNull() | (F.size(arr) == 0),
                     F.array(F.lit(None))).otherwise(arr)
    out = df.withColumn("__el", F.explode(arr))
    if len(names) == 1:
        out = out.select(*others, F.col("__el").alias(first))
    else:
        out = out.select(*others,
                         *[F.col(f"__el.{c}").alias(c) for c in names])
    return tbl.evolve(df=out)
