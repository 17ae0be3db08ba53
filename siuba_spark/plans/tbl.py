"""SparkTbl: the lazy table handle.

The reference's ``LazyTbl`` carries a stack of SQLAlchemy SELECTs plus
group/order state (siuba/sql/backend.py:182-224).  Spark's DataFrame *is*
a lazy logical plan, so the select stack disappears; what remains is the
sticky ``group_by`` / ``order_by`` state that later verbs consult to build
window specs (SURVEY.md §1.3).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from ..functions.lowering import AGG, ROW, LowerCtx
from .pipe import Pipe, verb


# Session-wide ledger of pinned (persisted) intermediates, keyed by id().
# SparkTbl.release() covers the collect()/write_*() path; consumers that
# take ``.df`` directly (the grading harness, bench loops) never trigger
# it, so release_all_pins() lets them drain outstanding pins between
# queries — without it every spread/pivot_wider/minhash call leaks
# executor memory for the session's lifetime.
_ACTIVE_PINS: dict[int, DataFrame] = {}


def release_all_pins() -> int:
    """Unpersist every outstanding pinned intermediate; returns the count."""
    n = len(_ACTIVE_PINS)
    for p in list(_ACTIVE_PINS.values()):
        try:
            p.unpersist()
        except Exception:
            pass
    _ACTIVE_PINS.clear()
    return n


class SparkTbl:
    """A Spark DataFrame + grouping/ordering metadata. Immutable.

    ``pins`` holds persisted intermediate DataFrames this plan's cache
    depends on (pivot spec scans, minhash shingle sets).  They are
    unpersisted by ``collect``/``write_*`` after the consuming action —
    without that, every ``spread``/``pivot_wider`` call leaks executor
    memory for the session's lifetime (a real hazard in a long-lived
    100 TB pipeline)."""

    __slots__ = ("df", "group_by", "order_by", "pins", "factors")

    def __init__(self, df: DataFrame, group_by: tuple = (), order_by: tuple = (),
                 pins: tuple = (), factors: dict | None = None):
        self.df = df
        self.group_by = tuple(group_by)
        self.order_by = tuple(order_by)
        self.pins = tuple(pins)
        # factor-level ledger: column name -> CatMeta (functions/cat.py).
        # Entries for columns no longer in df are pruned here, so stale
        # metadata can't outlive a select()/drop.
        cols = set(df.columns)
        self.factors = {k: v for k, v in (factors or {}).items() if k in cols}
        for p in self.pins:
            _ACTIVE_PINS.setdefault(id(p), p)

    # -- state helpers -----------------------------------------------------
    def __rshift__(self, other):
        """``tbl >> pipe`` normally resolves via Pipe.__rrshift__; this
        covers plain callables (``tbl >> (lambda t: ...)``) which have no
        __rrshift__ of their own.

        A Symbolic (``tbl >> _.foo`` — a typo'd pipe stage) is NOT a
        stage: defer to Symbolic.__rrshift__ so the user gets its
        explicit TypeError instead of a silently wrong Symbolic value
        (Symbolic is callable, so as_pipe would happily wrap it)."""
        from ..siu.calls import Symbolic
        if isinstance(other, Symbolic):
            return NotImplemented
        from .pipe import as_pipe
        return as_pipe(other).fn(self)

    def evolve(self, df=None, group_by=None, order_by=None, pins=None,
               factors=None) -> "SparkTbl":
        return SparkTbl(
            df if df is not None else self.df,
            self.group_by if group_by is None else group_by,
            self.order_by if order_by is None else order_by,
            self.pins if pins is None else pins,
            self.factors if factors is None else factors,
        )

    def pin(self, *dfs) -> "SparkTbl":
        """Attach persisted DataFrames to be unpersisted after the next
        consuming action."""
        return self.evolve(pins=self.pins + tuple(dfs))

    def release(self) -> "SparkTbl":
        """Unpersist every pinned intermediate (idempotent)."""
        for p in self.pins:
            try:
                p.unpersist()
            except Exception:
                pass
            _ACTIVE_PINS.pop(id(p), None)
        return self.evolve(pins=())

    def row_ctx(self) -> LowerCtx:
        return LowerCtx(self.group_by, self.order_by, ROW,
                        factors=dict(self.factors))

    def agg_ctx(self) -> LowerCtx:
        return LowerCtx(self.group_by, self.order_by, AGG,
                        factors=dict(self.factors))

    @property
    def columns(self):
        return self.df.columns

    def ordered_df(self) -> DataFrame:
        """The DataFrame with the sticky ``order_by`` state physically
        applied — the materialization half of the deferred ``arrange``
        (see operators/core.py arrange).  Re-lowers the order expressions
        against the CURRENT columns (SQL ORDER-BY-on-the-outer-SELECT
        semantics); if an order key no longer resolves (e.g. stale state
        surviving a summarize that dropped the column), the sort is
        skipped WITH A WARNING — the same "order undefined after
        aggregation" contract SQL engines apply to subquery ORDER BYs,
        but never silently (a dropped/renamed sort key masking a
        pipeline bug should be visible)."""
        if not self.order_by:
            return self.df
        import warnings

        from ..operators.core import build_sort_plan
        from ..functions.lowering import TranslationError

        def _warn_stale(err):
            warnings.warn(
                "arrange order discarded at materialization: the sort "
                f"expression no longer resolves against columns "
                f"{self.df.columns} ({type(err).__name__}: {err}). "
                "Re-arrange after the operation that dropped or renamed "
                "the sort key.", UserWarning, stacklevel=3)

        try:
            return build_sort_plan(self)
        except TranslationError as e:
            _warn_stale(e)
            return self.df
        except Exception as e:  # stale column refs -> AnalysisException
            if type(e).__name__ in ("AnalysisException", "KeyError"):
                _warn_stale(e)
                return self.df
            raise

    # -- convenience -------------------------------------------------------
    def show(self, n=20, truncate=True):
        self.df.show(n, truncate)

    def explain(self, mode="formatted"):
        self.df.explain(mode=mode)

    def __repr__(self):
        g = f" groups={list(self.group_by)}" if self.group_by else ""
        return f"<SparkTbl [{', '.join(self.df.columns)}]{g}>"


# --------------------------------------------------------------------------
# sources (reference: tbl(), siuba/dply/verbs.py:2550-2641)
# --------------------------------------------------------------------------

def _normalize_ntz(df):
    """Interpret naive (TIMESTAMP_NTZ) columns in the session timezone.

    Parquet files whose timestamps lack the isAdjustedToUTC flag read as
    TIMESTAMP_NTZ in Spark 4.  Everything downstream — watermarks, window
    specs, interval math — wants instants, and pandas/DuckDB both treat
    naive timestamps as session-local wall clock, so cast once at the
    source (a zero-cost projection Catalyst folds into the scan)."""
    from pyspark.sql import functions as F
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if not ntz:
        return df
    return df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})


# (applicationId, path) → (modification time, StructType): reading a
# parquet path without a schema launches a footer-inference job EVERY
# time, so infer once and replay the schema — repeated tbl() calls on an
# unchanged path are then fully lazy (zero jobs).  An entry is replayed
# only while the path's modification time still matches, so a rewrite by
# any writer (write_parquet, write_shards, a raw df.write) infers afresh;
# the application id keeps a new session from reading a stopped one's
# entries, where id(sparkContext) can be reused.
_PARQUET_SCHEMA_CACHE: dict = {}


def _modification_time(s, p):
    """``p``'s modification time from one Hadoop ``getFileStatus``, or
    None when there is none to trust (missing path, glob, or a store that
    reports 0 for directories)."""
    from py4j.java_gateway import JavaClass
    from py4j.protocol import Py4JJavaError
    sc = s.sparkContext
    try:
        # JavaClass by name: no package-walk reflection calls (~1 ms)
        path = JavaClass("org.apache.hadoop.fs.Path",
                         sc._gateway._gateway_client)(p)
        fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
        return fs.getFileStatus(path).getModificationTime() or None
    except Py4JJavaError:
        return None


def _read_parquet_cached(s, p):
    key = (s.sparkContext.applicationId, p)
    mtime = _modification_time(s, p)
    hit = _PARQUET_SCHEMA_CACHE.get(key)
    if mtime is not None and hit is not None and hit[0] == mtime:
        return s.read.schema(hit[1]).parquet(p)
    df = s.read.parquet(p)
    if mtime is not None:
        _PARQUET_SCHEMA_CACHE[key] = (mtime, df.schema)
    return df


def local_table(spark, rows, schema):
    """A driver-side table (``rows`` of tuples, ``schema`` a StructType or
    DDL string) as a DataFrame shipped to the JVM as Arrow batches — the
    one place the package calls ``createDataFrame``.

    ``spark.createDataFrame(list)`` pickles the rows, so every job that
    reads the table starts a Python worker to unpickle them (0.2 s of wall
    time for a few ms of work); an Arrow table is read by the JVM alone.
    Values round-trip exactly as the list path converts them: timestamps
    travel as their internal microseconds (naive datetimes in the process
    time zone, whatever the session time zone), everything else through
    its Arrow type."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    rows = list(rows)
    arrays = []
    for i, f in enumerate(schema.fields):
        vals = [r[i] for r in rows]
        if isinstance(f.dataType, T.TimestampType):
            vals = [None if v is None else f.dataType.toInternal(v)
                    for v in vals]
        arrays.append(pa.array(vals, to_arrow_type(f.dataType)))
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, names=schema.names), schema)


_READERS = {
    "parquet": lambda s, p, **kw: _normalize_ntz(_read_parquet_cached(s, p)),
    "csv": lambda s, p, **kw: s.read.csv(p, header=True, inferSchema=True, **kw),
    "json": lambda s, p, **kw: s.read.json(p, **kw),
    "orc": lambda s, p, **kw: _normalize_ntz(s.read.orc(p)),
}


def tbl(source, name_or_path: str | None = None, format: str | None = None,
        min_partitions: int | None = None, **kwargs):
    """Create a SparkTbl from a SparkSession + table/path, or from a DataFrame.

    - ``tbl(df)`` wraps an existing DataFrame
    - ``tbl(spark, "catalog_table")`` resolves through the catalog
    - ``tbl(spark, "/path/data.parquet")`` infers the reader from the suffix

    ``min_partitions=``: fan the scan out to at least this many partitions
    when the source yields fewer (single-row-group small files — parquet's
    minimum split is a row group, so neither maxPartitionBytes nor AQE can
    parallelize below that).  Use for CPU-heavy per-row work (n-gram
    construction, decode UDFs) on compact inputs; do NOT use for cheap
    columnar scans — the round-robin shuffle costs more than it saves, and
    at real scale the input has more splits than cores anyway.
    """
    if isinstance(source, SparkTbl):
        return source
    if isinstance(source, DataFrame):
        return SparkTbl(source)
    if min_partitions is not None and isinstance(source, SparkSession):
        t = tbl(source, name_or_path, format, **kwargs)
        if t.df.rdd.getNumPartitions() < min_partitions:
            return t.evolve(df=t.df.repartition(min_partitions))
        return t
    if isinstance(source, SparkSession):
        if name_or_path is None:
            raise ValueError("tbl(spark, ...) requires a table name or path")
        fmt = format
        if fmt is None:
            for suffix, f in ((".parquet", "parquet"), (".csv", "csv"),
                              (".json", "json"), (".orc", "orc")):
                if name_or_path.endswith(suffix):
                    fmt = f
                    break
        if fmt is None and ("/" not in name_or_path):
            return SparkTbl(source.table(name_or_path))
        fmt = fmt or "parquet"
        return SparkTbl(_READERS[fmt](source, name_or_path, **kwargs))
    raise TypeError(f"cannot create tbl from {type(source).__name__}")


# --------------------------------------------------------------------------
# sinks / execution
# --------------------------------------------------------------------------


@verb
def collect(tbl: SparkTbl):
    """Execute and return a local pandas DataFrame
    (reference: siuba/sql/verbs/compute.py:8-47).  Unpersists any pinned
    intermediates (pivot specs, minhash shingle sets) after the action."""
    try:
        return tbl.ordered_df().toPandas()
    finally:
        tbl.release()


@verb
def pull(tbl: SparkTbl, col=None):
    """dplyr ``pull``: execute and return ONE column as a pandas Series
    (default: the last column).  Driver-side by definition — same
    contract as ``collect``, pin release included."""
    from ..siu.calls import GetAttr, MetaArg, strip_symbolic

    name = tbl.columns[-1]
    if col is not None:
        node = strip_symbolic(col)
        if isinstance(node, GetAttr) and isinstance(node.obj, MetaArg):
            name = node.name
        elif isinstance(node, str):
            name = node
        else:
            raise TypeError("pull expects a column name or _.col reference")
    try:
        return tbl.ordered_df().select(name).toPandas()[name]
    finally:
        tbl.release()


@verb
def glimpse(tbl: SparkTbl, n: int = 5):
    """dplyr ``glimpse``: print dtype + first values per column (one
    bounded ``take(n)`` job), return the table unchanged for further
    piping."""
    rows = tbl.ordered_df().take(n)
    types = dict(tbl.df.dtypes)
    width = max((len(c) for c in tbl.columns), default=0)
    print(f"Columns: {len(tbl.columns)}; groups: {list(tbl.group_by) or '—'}")
    for c in tbl.columns:
        vals = ", ".join(repr(r[c]) for r in rows)
        print(f"$ {c:<{width}s} <{types[c]}> {vals}")
    return tbl


@verb
def show_query(tbl: SparkTbl, simplify: bool = False):
    """Print the analyzed logical plan — the Spark analogue of the compiled
    SQL the reference shows (siuba/sql/verbs/explain.py:16-38) — followed
    by the physical plan.  ``simplify=True`` prints only the one-line
    physical plan, mirroring the reference's unstyled SQL mode.
    Returns the tbl so it chains."""
    if not simplify:
        print("== Analyzed Logical Plan ==")
        print(tbl.ordered_df()._jdf.queryExecution().analyzed().toString())
    tbl.ordered_df().explain(mode="simple" if simplify else "formatted")
    return tbl


@verb
def write_parquet(tbl: SparkTbl, path: str, mode: str = "overwrite",
                  partition_by=None, bucket_by=None, n_buckets: int = 0,
                  table_name: str | None = None):
    """Parquet sink with optional hive-style partitioning or bucketing
    (bucketing enables shuffle-free co-located joins at scale)."""
    w = tbl.ordered_df().write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if bucket_by:
        if not table_name:
            raise ValueError("bucketBy requires a table_name (saveAsTable)")
        w.bucketBy(n_buckets, *bucket_by).sortBy(*bucket_by).format("parquet") \
            .option("path", path).saveAsTable(table_name)
        return tbl.release()
    w.parquet(path)
    return tbl.release()


@verb
def write_csv(tbl: SparkTbl, path: str, mode: str = "overwrite", header: bool = True):
    tbl.ordered_df().write.mode(mode).option("header", header).csv(path)
    return tbl.release()


@verb
def write_shards(tbl: SparkTbl, path: str, n_shards: int,
                 shuffle_by: str | None = None, mode: str = "overwrite",
                 format: str = "parquet"):
    """Training-output sink: write ``n_shards`` files, optionally with a
    DETERMINISTIC global shuffle of row order (md5 of a stable id —
    reproducible on any cluster size, unlike rand()-keyed shuffles).

    Shard-count guarantee: without ``shuffle_by`` the round-robin
    repartition fills every partition, so exactly ``n_shards`` files are
    written (provided rows >= n_shards).  With ``shuffle_by`` the rows
    hash-partition on md5(key), and a hash partition that happens to be
    empty writes no file — so the keyed path guarantees AT MOST
    ``n_shards`` (in practice all of them for any non-toy row count);
    trainers that require an exact stripe count should use the unkeyed
    path or verify the file count after writing.

    Trainers stream shards round-robin, so shard count controls reader
    parallelism and the md5 order de-clusters documents that were
    adjacent in the source (same crawl, same domain).  Cost: one
    repartition exchange; the sort is per-shard (sortWithinPartitions —
    no global range exchange)."""
    from pyspark.sql import functions as F

    df = tbl.df
    if shuffle_by is not None:
        key = F.md5(F.col(shuffle_by).cast("string"))
        df = df.repartition(n_shards, key).sortWithinPartitions(key)
    else:
        df = df.repartition(n_shards)
    df.write.mode(mode).format(format).save(path)
    return tbl.release()


# --------------------------------------------------------------------------
# scale utilities (partitioning is the unit of parallelism at 100 TB)
# --------------------------------------------------------------------------


@verb
def repartition(tbl: SparkTbl, num_or_cols, *cols):
    """Hash-repartition by column(s) (pre-shuffling before a wide window or
    repeated same-key joins reuses one exchange across stages) or to a
    partition count."""
    if isinstance(num_or_cols, int):
        df = tbl.df.repartition(num_or_cols, *cols) if cols else tbl.df.repartition(num_or_cols)
    else:
        df = tbl.df.repartition(num_or_cols, *cols)
    return tbl.evolve(df=df)


@verb
def coalesce_partitions(tbl: SparkTbl, n: int):
    """Shrink partition count without a shuffle (write-side small-file
    control)."""
    return tbl.evolve(df=tbl.df.coalesce(n))


@verb
def cluster_by(tbl: SparkTbl, *cols, n_partitions: int | None = None,
               method: str = "range", bits: int = 4):
    """Data-layout clustering before a write: co-locate rows with nearby
    keys into the same output parquet files so their row-group min/max
    statistics let later scans skip whole files (the Delta/Iceberg
    ``CLUSTER BY`` idea, expressed with vanilla Spark primitives;
    beyond the reference, which has no physical-layout control).

    ``method="range"`` (default) RANGE-partitions on the columns in
    order, then sorts within each partition — ideal when filters target
    the LEADING column.  One range shuffle (sampled boundaries) + an
    in-partition sort that never spills across partitions.

    ``method="zorder"`` interleaves the bits of per-column
    equal-frequency bucket ranks (``bits`` per column, default 16
    buckets) into a Z-value and range-clusters on THAT — so point
    filters on ANY of the clustered columns prune files, not just the
    leading one (the Delta OSS ``OPTIMIZE ZORDER BY`` idea).  Columns
    must be numeric/date/timestamp (orderable with a quantile sketch);
    bucket boundaries come from one bounded ``approxQuantile`` action
    (2^bits - 1 scalars per column on an approximate sketch — the same
    bounded-driver-action contract as the Lloyd trainer; because those
    boundaries are driver-materialized, ``bits`` is capped at 16
    independently of the 60-bit Z-value product bound), the Z-value
    itself is pure integer bit arithmetic inside codegen, and NULLs
    land deterministically in bucket 0.

    Chain with ``write_parquet``::

        big >> cluster_by(_.event_date, _.user_id) >> write_parquet(path)
        big >> cluster_by(_.custkey, _.price, method="zorder") >> ...

    ``n_partitions=`` overrides the output file count (default: the
    session's shuffle partitions).  This is a LAYOUT verb: the table's
    logical row set and (engine-semantics) unordered-ness are unchanged;
    use ``arrange`` for result ordering."""
    if not cols:
        raise ValueError("cluster_by needs at least one column")
    if method not in ("range", "zorder"):
        raise ValueError("method must be 'range' or 'zorder'")
    names = []
    for c in cols:
        from ..siu.calls import GetAttr, MetaArg, strip_symbolic
        node = strip_symbolic(c)
        if isinstance(node, str):
            names.append(node)
        elif isinstance(node, GetAttr) and isinstance(node.obj, MetaArg):
            names.append(node.name)
        else:
            raise ValueError(
                "cluster_by takes plain column references (the layout key "
                "must exist in the written schema)")
    from pyspark.sql import functions as F
    if method == "zorder":
        from ..functions.lowering import TranslationError
        if not 1 <= bits <= 16 or bits * len(names) > 60:
            # bits itself is capped (not just the product): bucket
            # boundaries are materialized DRIVER-side as 2^bits - 1
            # approxQuantile probes and literal array elements, so a
            # single-column bits=30 call would build a billion-element
            # probs list — 16 bits = 65k buckets is already far past any
            # useful file-pruning resolution.
            raise ValueError("zorder needs 1 <= bits <= 16 and "
                             "bits * n_cols <= 60 (long Z-value; "
                             "boundaries are driver-materialized, so "
                             "bits is capped independently)")
        dtypes = dict(tbl.df.dtypes)
        nbuckets = 1 << bits
        dcols = []
        for nm in names:
            dt = dtypes[nm]
            if dt == "date":
                dcols.append(F.col(nm).cast("timestamp").cast("double"))
            elif dt.startswith(("string", "binary", "boolean", "array",
                                "map", "struct")):
                raise TranslationError(
                    f"zorder clustering needs numeric/date/timestamp "
                    f"columns; {nm} is {dt} — use method='range'")
            else:
                dcols.append(F.col(nm).cast("double"))
        probe = tbl.df.select(*[d.alias(f"__zc{i}")
                                for i, d in enumerate(dcols)])
        probs = [i / nbuckets for i in range(1, nbuckets)]
        bounds = probe.approxQuantile(
            [f"__zc{i}" for i in range(len(dcols))], probs, 0.001)
        def _bucket(arr, d):
            # factory scope: a fresh closure per column (a default-arg
            # capture would make the lambda binary, which pyspark's
            # higher-order filter reads as (element, index))
            return F.size(F.filter(arr, lambda b: d >= b)).cast("long")

        z = F.lit(0).cast("long")
        for i, (d, bs) in enumerate(zip(dcols, bounds)):
            if bs:
                bucket = _bucket(
                    F.array(*[F.lit(float(b)) for b in bs]), d)
            else:  # all-NULL or empty input: one bucket
                bucket = F.lit(0).cast("long")
            for bit in range(bits):
                z = z + F.shiftleft(
                    F.shiftright(bucket, bit).bitwiseAND(F.lit(1)),
                    bit * len(dcols) + i)
        zc = "__zorder"
        zdf = tbl.df.withColumn(zc, z)
        zdf = (zdf.repartitionByRange(n_partitions, F.col(zc))
               if n_partitions else zdf.repartitionByRange(F.col(zc)))
        return tbl.evolve(df=zdf.sortWithinPartitions(zc).drop(zc))
    fcols = [F.col(n) for n in names]
    df = (tbl.df.repartitionByRange(n_partitions, *fcols)
          if n_partitions else tbl.df.repartitionByRange(*fcols))
    return tbl.evolve(df=df.sortWithinPartitions(*fcols))


@verb
def cache(tbl: SparkTbl):
    """Mark for storage-level caching (reuse across several downstream
    actions; unpersists with the session)."""
    return tbl.evolve(df=tbl.df.cache())


def _else_case_depth(plan):
    """The deepest when().otherwise(when()...) chain in a plan string: the
    most ``ELSE CASE WHEN`` open at once (each CASE prints one ``END``).
    Literals print unquoted, so when the tokens do not pair up (a literal
    'END') the total ``ELSE CASE WHEN`` count, an upper bound, stands in."""
    toks = re.findall(r"ELSE CASE WHEN|CASE WHEN|\bEND\b", plan)
    opened, deepest = [], 0
    for tok in toks:
        if tok != "END":
            opened.append(tok[0] == "E")
            deepest = max(deepest, sum(opened))
        elif not opened:
            return toks.count("ELSE CASE WHEN")
        else:
            opened.pop()
    return toks.count("ELSE CASE WHEN") if opened else deepest


def _window_skew_watch(jdf):
    """Advisory skew watch: list every Window whose partition key is
    derived from high-cardinality CONTENT — a raw string/binary column
    or a hash (xxhash64/murmur3/md5/sha/crc32) of one.  A hot content
    key (boilerplate segment, tandem-repeat gram) funnels every one of
    its rows into a single Window task that AQE's skew handling cannot
    split (it splits join/aggregate partitions, never Windows) — the
    r10 SemDeDup skew study's failure class, and the exact shape the
    r11 min_by rewrite removed from the dedup verbs.  First-occurrence
    patterns (``row_number()==1`` / ``count()==1`` over the key) should
    be ``groupBy(key).agg(min_by/count)`` instead: partial aggregation
    combines hot keys map-side.

    Windows the optimizer bounds with a ``WindowGroupLimit`` node
    (rank-limit shapes, SPARK-37099 — e.g. cap_per_key, slice_head) are
    NOT flagged: the map-side Partial top-n caps a hot key's reduce
    partition at limit * map_partitions rows, so the task is bounded.

    Implemented over the OPTIMIZED LOGICAL plan's JSON serialization
    (the physical string drops expression types): Alias definitions are
    indexed by exprId so a partition key that is merely an
    AttributeReference to an upstream ``xxhash64(...)`` projection still
    resolves to its hash provenance.
    """
    import json as _json

    try:
        opt = jdf.queryExecution().optimizedPlan()
        # TreeNode.toJSON re-serializes a CaseWhen's ELSE subtree at
        # every nesting level, so a when().otherwise(when()...) chain
        # N deep serializes at 2^N cost — 16 levels is ~100 MB of JSON
        # and 20 OOMed an 8 GB driver (r13 e2e-pipeline failure).  The
        # linear toString is a cheap sentinel: the cost is per chain, so
        # the DEEPEST chain is bounded (many shallow chains are cheap)
        # and the (advisory-only) JSON walk is skipped instead of
        # risking the driver.
        if _else_case_depth(opt.toString()) > 8:
            return ["skew watch skipped: plan has deeply nested CASE "
                    "WHEN chains (exponential to serialize) — flatten "
                    "them with when().when()...otherwise()"]
        nodes = _json.loads(opt.toJSON())
    except Exception:                                  # pragma: no cover
        return []

    HASHES = ("XxHash64", "Murmur3Hash", "HiveHash", "Crc32", "Md5",
              "Sha1", "Sha2")

    def _cls(d):
        return d.get("class", "").rsplit(".", 1)[-1]

    def _expr_trees(val):
        """Yield flattened expression trees (lists of node dicts) from an
        arbitrary plan-node field value."""
        if isinstance(val, list):
            if val and isinstance(val[0], dict) and "class" in val[0]:
                yield val
            else:
                for v in val:
                    yield from _expr_trees(v)

    # exprId.id -> the flattened definition tree of every Alias root
    defs = {}
    windows = []
    for i, node in enumerate(nodes):
        is_window = node.get("class", "").endswith(".Window")
        # A Window whose DIRECT child is a WindowGroupLimit is a bounded
        # rank-limit shape (InferWindowGroupLimit, SPARK-37099): the
        # map-side Partial top-n caps a hot key's reduce partition at
        # limit * map_partitions rows — not the unsplittable-task shape
        # this watch exists for.  toJSON serializes the plan preorder
        # and Window has exactly one child, so the child is nodes[i+1];
        # matching by adjacency (not by partition key) keeps a SECOND,
        # unbounded window over the same key flagged.
        bounded = (is_window and i + 1 < len(nodes)
                   and nodes[i + 1].get("class", "")
                   .endswith(".WindowGroupLimit"))
        for fld, val in node.items():
            if fld == "class":
                continue
            for tree in _expr_trees(val):
                root = tree[0]
                if _cls(root) == "Alias":
                    eid = root.get("exprId", {}).get("id")
                    if eid is not None:
                        defs[eid] = tree
                if is_window and fld == "partitionSpec" and not bounded:
                    windows.append(tree)

    watches = []
    for tree in windows:
        root = tree[0]
        seen, frontier = set(), [tree]
        classes, types = set(), set()
        hops = 0
        while frontier and hops < 32:
            hops += 1
            t = frontier.pop()
            for nd in t:
                classes.add(_cls(nd))
                dt = nd.get("dataType")
                if isinstance(dt, str):
                    types.add(dt)
                if _cls(nd) == "AttributeReference":
                    eid = nd.get("exprId", {}).get("id")
                    if eid in defs and eid not in seen:
                        seen.add(eid)
                        frontier.append(defs[eid])
        name = root.get("name", "<expr>")
        root_dt = root.get("dataType", "")
        if root_dt in ("string", "binary"):
            watches.append(
                f"Window partitioned by raw {root_dt} key '{name}': a hot "
                f"content value funnels into ONE unsplittable Window task "
                f"(AQE cannot split Windows) — for first-occurrence "
                f"patterns use groupBy(key).agg(min_by(...)) instead")
        elif any(h in classes for h in HASHES):
            watches.append(
                f"Window partitioned by hash-of-content key '{name}': hot "
                f"hashed content (boilerplate/tandem repeats) funnels into "
                f"ONE unsplittable Window task — rewrite first-occurrence "
                f"logic as a partial-combining aggregate")
    return watches


@verb
def lint_plan(tbl: SparkTbl, raise_on_flags: bool = False):
    """Scale-health lint of the physical plan: counts the node types that
    matter at 100 TB and flags the red ones — run it on any pipeline
    BEFORE submitting to a big cluster (`show_query` tells you what the
    plan is; `lint_plan` tells you whether you should be worried).

    Returns ``{"counts": {node: n}, "flags": [human-readable warnings]}``.
    Flags: any CartesianProduct; a row-at-a-time Python eval
    (BatchEvalPython — use py_func/built-ins instead); an unpartitioned
    global Window (Exchange SinglePartition feeding a Window); a
    BroadcastExchange whose build subtree COMPUTES wide arrays
    (higher-order transform/zip_with/aggregate) — the r10 stats
    blindspot: size estimates reflect the narrow source scan, not the
    arrays the transform produces, so the planner broadcasts an
    unmaterialized subtree and recomputes it single-threaded inside the
    one-task broadcast build (fix: localCheckpoint the subtree or hint
    SHUFFLE_MERGE).  With ``raise_on_flags=True`` raises ValueError
    listing them (CI gate).

    The result also carries ``"skew_watch"``: ADVISORY (never raises)
    warnings for any Window whose partition key is derived from
    high-cardinality content — a raw string/binary column, or a hash of
    one traced through Alias provenance in the optimized logical plan.
    A hot content key funnels every occurrence into a single Window
    task AQE cannot split; advisory because grouped window semantics
    over a user-chosen string key are sometimes exactly what was asked
    for — but first-occurrence patterns should be partial-combining
    aggregates (``min_by``) instead.  Rank-limit windows the optimizer
    bounds with WindowGroupLimit (SPARK-37099) are exempt.
    """
    import re as _re

    plan = tbl.df._jdf.queryExecution().executedPlan().toString()

    def _broadcast_builds_computed_arrays(text):
        """True if any BroadcastExchange subtree contains a higher-order
        array expression that the one-task broadcast build would itself
        recompute.  Subtree = following lines with deeper tree
        indentation (Spark's toString encodes depth in the ':- / +-'
        prefix length).  A shuffle Exchange inside the subtree is a
        materialization boundary: everything BELOW it ran distributed
        and the broadcast build only reads the (post-aggregation, small)
        shuffle output — so the walk skips the shuffle's children
        instead of flagging them (e.g. ngram_contamination's benchmark
        side explodes zip_with n-grams distributed, distinct-aggregates,
        THEN broadcasts the tiny set: healthy, not the blindspot)."""
        lines = text.splitlines()

        def depth(ln):
            m = _re.match(r"^([: +\-*(\d)]*?)[A-Za-z]", ln)
            return len(m.group(1)) if m else 0

        hof = _re.compile(r"\btransform\(|\bzip_with\(|\baggregate\(")
        shuffle = _re.compile(r"\bExchange (hash|range|Single|RoundRobin)")
        for i, ln in enumerate(lines):
            if "BroadcastExchange" not in ln:
                continue
            d = depth(ln)
            cut = None  # depth of the nearest enclosing shuffle Exchange
            for nxt in lines[i + 1:]:
                if not nxt.strip():
                    continue
                nd = depth(nxt)
                if nd <= d and _re.search(r"[A-Za-z]", nxt):
                    break
                if cut is not None and nd > cut:
                    continue            # below a shuffle: ran distributed
                cut = None
                if shuffle.search(nxt):
                    cut = nd
                    continue
                if hof.search(nxt):
                    return True
        return False
    nodes = {
        "exchanges": r"Exchange hashpartitioning",
        "single_partition_exchanges": r"Exchange SinglePartition",
        "broadcast_hash_joins": r"BroadcastHashJoin",
        "sort_merge_joins": r"SortMergeJoin",
        "shuffled_hash_joins": r"ShuffledHashJoin",
        "broadcast_nested_loop_joins": r"BroadcastNestedLoopJoin",
        "cartesian_products": r"CartesianProduct",
        "windows": r"\bWindow\b",
        "python_row_evals": r"BatchEvalPython",
        "arrow_evals": r"ArrowEvalPython|MapInPandas",
        "scans": r"Scan parquet|FileScan",
    }
    counts = {k: len(_re.findall(p, plan)) for k, p in nodes.items()}
    flags = []
    if counts["cartesian_products"]:
        flags.append("CartesianProduct: O(n^2) pair join — add join keys, "
                     "blocking, or broadcast() the small side")
    if counts["broadcast_nested_loop_joins"]:
        flags.append("BroadcastNestedLoopJoin: every probe row scans the "
                     "whole build side — fine ONLY if the build side is "
                     "tiny (a scalar/1-row subquery); otherwise add equi "
                     "keys")
    if counts["python_row_evals"]:
        flags.append("BatchEvalPython: row-at-a-time Python UDF in the plan "
                     "— use built-ins or the Arrow py_func path")
    if counts["single_partition_exchanges"] and counts["windows"]:
        flags.append("Exchange SinglePartition + Window: possible "
                     "unpartitioned window funneling all rows through one "
                     "reducer — partition the window or pre-aggregate")
    if _broadcast_builds_computed_arrays(plan):
        flags.append("BroadcastExchange over a subtree that COMPUTES "
                     "arrays (transform/zip_with/aggregate): the size "
                     "estimate saw only the narrow source scan, and the "
                     "one-task broadcast build will recompute the wide "
                     "arrays single-threaded — localCheckpoint the "
                     "subtree or hint('SHUFFLE_MERGE') the join")
    if raise_on_flags and flags:
        raise ValueError("plan lint failed:\n- " + "\n- ".join(flags))
    return {"counts": counts, "flags": flags,
            "skew_watch": _window_skew_watch(tbl.df._jdf)}
