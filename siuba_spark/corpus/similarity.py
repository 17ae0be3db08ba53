"""Similarity search over embedding columns (array<float>).

Nearest neighbours: exact cosine ``brute_force_topk`` (the correctness
baseline: the small query side is broadcast, the corpus streams),
random-hyperplane LSH ``lsh_topk``, IVF cells ``ivf_topk`` (k-means,
smallest-id sample or replayable Lloyd quantizers), and product
quantization ``pq_topk`` / ``ivf_pq_topk``.  Pair scoring and dedup:
``cosine_near_dups`` and SemDeDup ``semantic_dedup`` with its
incremental store and compaction; plus ``assign_clusters``,
``vector_mean`` and int8 (de)quantization.

Every verb is built from one set of private kernels — the side
projection ``_side_cols``, the rounded cosine ``_cosine_score``, the
squared-distance fold ``_d2``, the first-index ``_argmin``, the PQ
codes / tables / ADC sum, the smallest-id ``_head_vectors`` sample and
the ``_ranked`` top-k (ties to the smaller id) — whose fold orders and
tie-breaks the DuckDB oracles replay bit for bit.  Folds run through
``F.zip_with`` + ``F.aggregate``: JVM-side, no Python UDF.
"""

from __future__ import annotations


from pyspark.sql import Window
from pyspark.sql import functions as F

from ..plans.pipe import verb, wrap_table
from ..plans.tbl import SparkTbl, local_table

__all__ = ["cosine_sim_col", "brute_force_topk", "lsh_topk", "add_hyperplane_bucket",
           "cosine_near_dups", "ivf_topk", "pq_topk", "ivf_pq_topk",
           "semantic_dedup", "semantic_dedup_incremental",
           "semantic_store_compact", "vector_mean", "assign_clusters",
           "quantize_embeddings", "dequantize_embeddings"]

#: ``(id, vector, squared norm)`` names of the corpus and query sides
_NBR = ("nbr_id", "nbr_vec", "__nn")
_QRY = ("query_id", "query_vec", "__qn")


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _to_double(a):
    return F.transform(a, lambda x: x.cast("double"))


def cosine_sim_col(a, b):
    """Cosine similarity of two array columns (computed in double).
    A zero-norm vector has no defined cosine: try_divide yields NULL
    instead of an ANSI DIVIDE_BY_ZERO error (found by scale_spot — an
    all-zero embedding is a real production hazard)."""
    ad, bd = _to_double(a), _to_double(b)
    return F.try_divide(_dot(ad, bd), F.sqrt(_dot(ad, ad) * _dot(bd, bd)))


def _norm_sq(a):
    ad = _to_double(a)
    return _dot(ad, ad)


def _side_cols(id_col, vec_col, names):
    """``(id, vector, squared norm)`` columns named ``names`` for one
    side of a pair-scoring join: the vector is cast to array<double> and
    its norm folded once per ROW, so the pair score (``_cosine_score``)
    needs no per-pair cast."""
    v = F.col(vec_col)
    return [F.col(id_col).alias(names[0]), _to_double(v).alias(names[1]),
            _norm_sq(v).alias(names[2])]


def _cosine_pre(a, b, na_sq, nb_sq):
    """Cosine of two vectors ALREADY cast to array<double> at the row
    level, with their squared norms folded once per row
    (``_side_cols``): dot / sqrt(na²·nb²), the same floats as
    ``cosine_sim_col`` without its per-PAIR ``_to_double`` transforms
    (two fresh 64-element arrays per candidate — measured ~15% of the
    pair-scoring stage even on double inputs, more on float).
    try_divide: zero-norm vectors score NULL, never an ANSI error.

    r12 negative result (recorded so it is not retried): unrolling the
    dot to a flat codegen-able ``((0.0 + a0*b0) + a1*b1) + ...`` chain
    over a driver-known dim — bit-identical association order, NULL
    out-of-bounds via ``F.get``, size-guarded fallback to the fold —
    REGRESSED every pair query that tried it (semantic_store_compact
    3.6 → 6.7+ s, semantic_dedup_incr 2.7 → 6.1 s at sf0.1): each
    256-node chain Janino-compiles per query execution (fresh expression
    IDs defeat the codegen cache across the multi-join incremental
    plans), and at bench cell sizes the interpreted fold it replaced
    cost well under a second.  The fold stays; the pair-stage lever that
    DID measure positive is the fragment-replicate blocking below."""
    return F.try_divide(_dot(a, b), F.sqrt(na_sq * nb_sq))


def _cosine_score(a, b, round_to):
    """Rounded ``_cosine_pre`` of a pair whose sides ``a`` and ``b`` are
    ``(id, vector, squared norm)`` column-name triples."""
    return F.round(_cosine_pre(F.col(a[1]), F.col(b[1]),
                               F.col(a[2]), F.col(b[2])), round_to)


def _d2(a, b):
    """Squared euclidean distance of two double arrays as an ordered left
    fold, so an independent SQL engine (DuckDB list_transform +
    list_reduce) reproduces the exact double."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, x: acc + x)


def _argmin(d2s):
    """0-based index of the smallest distance in ``d2s``, the first index
    on ties; NULL when no distance is defined."""
    return (F.array_position(d2s, F.array_min(d2s)) - 1).cast("int")


def _ranked(df, k, key, tie, rk="rk", desc=False):
    """The first ``k`` rows of each ``query_id`` by ``key`` (descending
    for a similarity, ascending for a distance), ties to the smaller
    ``tie``, numbered 1..k in ``rk`` — the ranking behind every top-k
    result and IVF probe list."""
    order = F.col(key).desc() if desc else F.col(key).asc()
    w = Window.partitionBy("query_id").orderBy(order, F.col(tie).asc())
    return df.withColumn(rk, F.row_number().over(w)).filter(F.col(rk) <= k)


def _topk(scored, k, key, desc=False):
    """``(query_id, nbr_id, key, rk)``: each query's ``k`` best
    neighbours, deterministic across engines and partitionings."""
    return (_ranked(scored, k, key, "nbr_id", desc=desc)
            .select("query_id", "nbr_id", key, "rk"))


def _head_vectors(df, id_col, vec_col, n):
    """The ``n`` smallest-id vectors as float lists (the sample/lloyd
    seeds and PQ codebooks): a bounded eager collect of n rows."""
    rows = (df.orderBy(F.col(id_col).asc()).limit(n)
            .select(_to_double(F.col(vec_col)).alias("__c")).collect())
    return [[float(x) for x in r["__c"]] for r in rows]


@verb
def brute_force_topk(tbl: SparkTbl, queries, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     round_to: int = 4):
    """Exact top-k by cosine: broadcast the query set against the corpus.

    Deterministic tie-break by corpus id so results are stable across
    engines and partitionings."""
    corpus = tbl.df.select(*_side_cols(id_col, vec_col, _NBR))
    qdf = wrap_table(queries).df.select(*_side_cols(id_col, vec_col, _QRY))
    scored = (corpus.join(F.broadcast(qdf),
                          F.col("query_id") != F.col("nbr_id"))
              .withColumn("score", _cosine_score(_QRY, _NBR, round_to)))
    return SparkTbl(_topk(scored, k, "score", desc=True))


def _lloyd_train_local(vecs, cents, n_lists, n_iters):
    """Driver-side Lloyd iterations over a bounded training slice,
    arithmetic-identical to the distributed/SQL replay: squared-distance
    left fold in IEEE doubles, first-index argmin tie-break, per-element
    HALF_UP DECIMAL(·,12) sums (``Decimal(repr(x))`` = the shortest-repr
    quantization Spark's double→decimal cast applies), centroid mean =
    ``float(exact_sum) / n``; empty cells keep their previous centroid."""
    from decimal import ROUND_HALF_UP, Decimal
    q12 = Decimal(1).scaleb(-12)
    dim = len(cents[0])
    dvecs = [[Decimal(repr(x)).quantize(q12, ROUND_HALF_UP) for x in v]
             for v in vecs]
    for _ in range(n_iters):
        sums = [[Decimal(0)] * dim for _ in range(n_lists)]
        cnt = [0] * n_lists
        for v, dv in zip(vecs, dvecs):
            best, bd = 0, None
            for ci, c in enumerate(cents):
                acc = 0.0
                for x, y in zip(v, c):
                    d = x - y
                    acc = acc + d * d
                if bd is None or acc < bd:
                    bd, best = acc, ci
            cnt[best] += 1
            row = sums[best]
            for j, x in enumerate(dv):
                row[j] += x
        cents = [[float(sums[i][j]) / cnt[i] for j in range(dim)]
                 if cnt[i] else cents[i] for i in range(n_lists)]
    return cents


def _hyperplanes(dim: int, n_planes: int, seed: int = 42):
    """Deterministic pseudo-random hyperplanes without numpy RNG drift:
    plane[i][j] derives from a hash of (seed, i, j) mapped into [-1, 1]."""
    planes = []
    for i in range(n_planes):
        row = []
        for j in range(dim):
            h = (seed * 1_000_003 + i * 10_007 + j * 101) % 2_147_483_647
            # xorshift-ish scramble
            h ^= (h << 13) & 0xFFFFFFFF
            h ^= h >> 17
            h ^= (h << 5) & 0xFFFFFFFF
            row.append(((h % 20001) - 10000) / 10000.0)
        planes.append(row)
    return planes


#: above this many plane coefficients the bucket expression switches from
#: inline literals to a broadcast plane table (see add_hyperplane_bucket)
_PACKED_PLANES_CUTOFF = 1024


@verb
def add_hyperplane_bucket(tbl: SparkTbl, vec_col: str = "embedding",
                          n_planes: int = 8, out: str = "bucket", seed: int = 42,
                          dim: int | None = None, packed: bool | None = None):
    """Random-hyperplane LSH bucket id: bit i = sign(v · plane_i).

    Pass ``dim`` (the embedding dimensionality) to keep the verb fully
    lazy; without it a one-row ``first()`` job sniffs the dimension.

    Two physically different but bit-identical plans (same left-fold
    float order), switched on ``dim * n_planes``:

    - small (toy/test dims): the planes inline as literals — zero joins;
    - large (real embedding dims, 768–4096): inlining would put
      dim × n_planes Literal nodes in the expression tree — at 768×8×4
      tables that is a ~100k-node Column tree and Catalyst
      analysis/codegen becomes the (driver-side) bottleneck.  Instead the
      planes live in a 1-row LocalRelation joined on a constant key — a
      broadcast hash join Spark treats like any tiny dim table — and ONE
      ``transform`` computes every projection, so the expression tree is
      O(n_planes) regardless of dimensionality.
    """
    if dim is None:
        dim = len(tbl.df.select(vec_col).first()[0])
    planes = _hyperplanes(dim, n_planes, seed)
    if packed is None:
        packed = dim * n_planes > _PACKED_PLANES_CUTOFF
    vd = _to_double(F.col(vec_col))
    if not packed:
        bits = None
        for i, p in enumerate(planes):
            proj = _dot(vd, F.array(*[F.lit(v) for v in p]))
            bit = F.when(proj > 0, F.lit(1 << i)).otherwise(F.lit(0))
            bits = bit if bits is None else bits + bit
        return tbl.evolve(df=tbl.df.withColumn(out, bits.cast("int")))
    spark = tbl.df.sparkSession
    pdf = (local_table(spark, [(planes,)], "__planes: array<array<double>>")
           .withColumn("__jk", F.lit(1)))
    powers = F.array(*[F.lit(1 << i) for i in range(n_planes)])
    proj = F.transform(F.col("__planes"), lambda p: _dot(vd, p))
    bucket = F.aggregate(
        F.zip_with(proj, powers,
                   lambda pr, pw: F.when(pr > 0, pw).otherwise(F.lit(0))),
        F.lit(0), lambda acc, x: acc + x)
    df = (tbl.df.withColumn("__jk", F.lit(1))
          .join(F.broadcast(pdf), "__jk")
          .withColumn(out, bucket.cast("int"))
          .drop("__planes", "__jk"))
    return tbl.evolve(df=df)


@verb
def lsh_topk(tbl: SparkTbl, queries, k: int = 10, id_col: str = "vec_id",
             vec_col: str = "embedding", n_planes: int = 8, round_to: int = 4,
             dim: int | None = None, n_tables: int = 1, seed: int = 42):
    """Approximate top-k: candidates restricted to the query's hyperplane
    bucket(s), then exact cosine within bucket.

    ``n_tables`` > 1 enables OR-amplification: each table hashes with an
    independent plane set, candidates are the union over tables (recall
    ≈ 1-(1-p)^T for per-table collision prob p), deduped BEFORE the exact
    cosine so each surviving pair is scored once.  At 100 TB the join
    shuffles on (table, bucket) — candidate volume scales with
    n_tables · |bucket|², never |corpus|²."""
    qtbl = wrap_table(queries)
    if dim is None:
        # sniff from the (small) query side once; the corpus side stays lazy
        dim = len(qtbl.df.select(vec_col).first()[0])
    bt, qt = tbl, qtbl
    bcols = []
    for ti in range(n_tables):
        out_c = f"__b{ti}"
        bt = add_hyperplane_bucket(bt, vec_col=vec_col, n_planes=n_planes,
                                   out=out_c, seed=seed + 97 * ti, dim=dim)
        qt = add_hyperplane_bucket(qt, vec_col=vec_col, n_planes=n_planes,
                                   out=out_c, seed=seed + 97 * ti, dim=dim)
        bcols.append(out_c)
    tables = F.posexplode(F.array(*bcols)).alias("tbl_i", "bucket")
    corpus = bt.df.select(*_side_cols(id_col, vec_col, _NBR), tables)
    qdf = qt.df.select(*_side_cols(id_col, vec_col, _QRY), tables)
    cand = (corpus.join(F.broadcast(qdf), ["tbl_i", "bucket"])
            .filter(F.col("query_id") != F.col("nbr_id")))
    if n_tables > 1:
        cand = cand.dropDuplicates(["query_id", "nbr_id"])
    scored = cand.withColumn("score", _cosine_score(_QRY, _NBR, round_to))
    return SparkTbl(_topk(scored, k, "score", desc=True))


@verb
def cosine_near_dups(tbl: SparkTbl, threshold: float = 0.9,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     method: str = "lsh", n_planes: int = 8,
                     round_to: int = 4, dim: int | None = None):
    """Embedding-cosine near-duplicate pairs (id_a < id_b, rounded score
    >= threshold).

    ``method="exact"`` — all-pairs with the `<` predicate: the correctness
    baseline (O(n²), fine for verification scale).  ``method="lsh"`` — the
    100 TB path: pairs are generated only inside random-hyperplane buckets,
    so the self-join shuffles on the bucket key instead of broadcasting a
    cartesian product.  Near-identical vectors agree on every hyperplane
    sign, so recall at dedup-grade thresholds (>=0.9) stays high; the
    exact cosine afterwards keeps precision at 1."""
    sa, sb = ("id_a", "vec_a", "__na"), ("id_b", "vec_b", "__nb")
    if method == "lsh":
        bt = add_hyperplane_bucket(tbl, vec_col=vec_col, n_planes=n_planes,
                                   dim=dim)
        # (id, vec, bucket, norm): the bucket sits inside the side
        a, b = [bt.df.select(i, v, F.col("bucket"), n) for i, v, n in
                (_side_cols(id_col, vec_col, s) for s in (sa, sb))]
        pairs = a.join(b, ["bucket"]).filter(F.col("id_a") < F.col("id_b"))
    else:
        a, b = [tbl.df.select(*_side_cols(id_col, vec_col, s))
                for s in (sa, sb)]
        pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    out = (pairs.withColumn("score", _cosine_score(sa, sb, round_to))
           .filter(F.col("score") >= threshold)
           .select("id_a", "id_b", "score"))
    return SparkTbl(out)


def _assign_cells(df, cents, vec_col):
    """Assign every row of ``df`` to the nearest of the literal centroids
    ``cents`` — the one assignment plan behind the coarse quantizer's
    corpus pass and Lloyd iterations, ``semantic_dedup_incremental``'s
    fixed-centroid snapshots and ``assign_clusters``.  Returns ``df``'s
    columns plus ``__vd`` (the vector cast to array<double>) and
    ``__cell``: the argmin of the squared euclidean distances, first
    index on ties, NULL where no distance is defined (a NULL vector, a
    NULL element, a dimension mismatch, no centroids).

    ONE pass per row over a broadcast 1-row centroid table (the
    packed-planes pattern): no explode of the corpus, no shuffle.  Each
    step is its own projection, so the vector is cast once and the
    distance array is folded once.  The cell leaves through a
    one-element ``explode`` on purpose: a consumer joining on ``__cell``
    makes the optimizer infer ``isnotnull(__cell)``, and pushed through
    plain projections that filter re-evaluates the whole argmin inside
    the broadcast join's condition.  A predicate on a generator's output
    cannot move below the generator, so it stays a test on the column."""
    cpk = local_table(df.sparkSession, [(cents,)],
                      "__cents: array<array<double>>")
    d2 = F.transform(F.col("__cents"), lambda c: _d2(F.col("__vd"), c))
    return (df.crossJoin(F.broadcast(cpk))
            .withColumn("__vd", _to_double(F.col(vec_col)))
            .withColumn("__d2", d2)
            .select("*", F.explode(F.array(_argmin(F.col("__d2"))))
                    .alias("__cell"))
            .drop("__cents", "__d2"))


def _cells_and_centers(tbl, id_col, vec_col, n_lists, centroids,
                       n_iters, seed, train_limit):
    """Coarse-quantizer training + full-corpus cell assignment — the
    shared front half of ``ivf_topk`` and ``semantic_dedup``.  Returns
    ``(assigned, cents)``: ``assigned`` has columns (nbr_id, nbr_vec,
    __nn, __cell); ``cents`` lists the center vectors, cell i at index i
    (tiny, broadcastable).  See ivf_topk's docstring for the three centroids
    modes and their oracle-replayability contracts."""
    if centroids in ("sample", "lloyd"):
        if centroids == "sample":
            cents = _head_vectors(tbl.df, id_col, vec_col, n_lists)
        else:
            # train on the first-N-by-id slice only: corpus-size-free
            if train_limit is None:
                train_limit = 256 * n_lists
            # dim probe: ONE unsorted row (take(1) is a narrow local
            # job) — not the full ordered seed scan; in the small path
            # the seed centroids come out of the training collect itself
            head = tbl.df.select(_to_double(F.col(vec_col)).alias("__c")) \
                .take(1)
            dim = len(head[0]["__c"]) if head else 0
            if head and train_limit * dim <= (1 << 22):
                # slice fits comfortably on the driver (<= 32 MB of
                # doubles): collect ONCE — a single ordered-limit job
                # supplies BOTH the seed centroids (first n_lists rows
                # by id, exactly what the separate seed job returned)
                # and the training slice — and run every Lloyd iteration
                # locally with the same arithmetic both engines use —
                # left-fold double distances, first-index argmin,
                # HALF_UP decimal(·,12) element sums (shortest-repr
                # quantization = Spark's BigDecimal.valueOf cast), mean
                # = float(exact sum)/n.
                # id-cut semantics, identical to the distributed branch
                # and the DuckDB oracle (ADVICE r6 item 2): the slice is
                # ``vec_id <= max(first train_limit ids)``, which INCLUDES
                # every tie/duplicate at the cut, where a bare LIMIT's tie
                # selection is nondeterministic.  Probe ONE extra row: only
                # when it carries the cut id itself can ties be missing —
                # then (and only then) re-collect by the cut.  Unique-id
                # tables stay a single ordered-limit job.
                vrows = (tbl.df.orderBy(F.col(id_col).asc())
                         .limit(train_limit + 1)
                         .select(F.col(id_col).alias("__i"),
                                 _to_double(F.col(vec_col)).alias("__v"))
                         .collect())
                extra = vrows[train_limit:]
                vrows = vrows[:train_limit]
                if vrows and extra:
                    cut = max(r["__i"] for r in vrows)
                    if extra[0]["__i"] == cut:
                        vrows = sorted(
                            (tbl.df.filter(F.col(id_col) <= F.lit(cut))
                             .select(F.col(id_col).alias("__i"),
                                     _to_double(F.col(vec_col))
                                     .alias("__v"))
                             .collect()),
                            key=lambda r: r["__i"])
                vecs = [[float(x) for x in r["__v"]] for r in vrows]
                cents = _lloyd_train_local(vecs, vecs[:n_lists], n_lists,
                                           n_iters)
            elif head:
                # large-slice path: seeds = first n_lists by id (its own
                # bounded collect; the slice itself stays distributed)
                cents = _head_vectors(tbl.df, id_col, vec_col, n_lists)
                cut = (tbl.df.select(F.col(id_col).alias("__i"))
                       .orderBy(F.col("__i").asc()).limit(train_limit)
                       .agg(F.max("__i")).collect()[0][0])
                train = tbl.df.filter(F.col(id_col) <= F.lit(cut))
                # large-codebook path: distributed decimal element sums
                # (identical values), one map-side-combined agg per
                # iteration over the persisted slice
                train = (train.select(F.col(id_col), F.col(vec_col))
                         .repartition(max(1, (train_limit * dim * 8) >> 25))
                         .persist())
                for _i in range(n_iters):
                    sums = (_assign_cells(train, cents, vec_col)
                            .select("__cell", F.col("__vd").alias("__v"))
                            .groupBy("__cell")
                            .agg(F.count(F.lit(1)).alias("__n"),
                                 *[F.sum(F.element_at("__v", j + 1)
                                         .cast("decimal(38,12)")).alias(f"s{j}")
                                   for j in range(dim)])
                            .collect())
                    upd = {r["__cell"]: [float(r[f"s{j}"]) / r["__n"]
                                         for j in range(dim)] for r in sums}
                    # empty cells keep their previous centroid
                    cents = [upd.get(i, cents[i]) for i in range(n_lists)]
                train.unpersist()
            else:
                cents = []          # empty table: no centroids to train
        # nbr_vec emitted as array<double> — every consumer (ivf scoring,
        # semantic pair join) folds on it; casting once per row here
        # replaces a per-pair cast downstream
        vd = F.col("__vd")
        assigned = (_assign_cells(tbl.df, cents, vec_col)
                    .select(F.col(id_col).alias("nbr_id"),
                            vd.alias("nbr_vec"), _dot(vd, vd).alias("__nn"),
                            "__cell"))
    elif centroids == "kmeans":
        from pyspark.ml.clustering import KMeans

        from pyspark.ml.functions import array_to_vector

        feats = array_to_vector(_to_double(F.col(vec_col)))
        corpus_f = tbl.df.withColumn("__feat", feats)
        model = KMeans(k=n_lists, seed=seed, featuresCol="__feat") \
            .fit(corpus_f.select("__feat"))
        assigned = (model.transform(corpus_f)
                    .select(*_side_cols(id_col, vec_col, _NBR),
                            F.col("prediction").alias("__cell")))
        cents = [[float(x) for x in c] for c in model.clusterCenters()]
    else:
        raise ValueError(f"unknown centroids mode: {centroids!r}")

    return assigned, cents


@verb
def ivf_topk(tbl: SparkTbl, queries, k: int = 10, id_col: str = "vec_id",
             vec_col: str = "embedding", n_lists: int = 16, n_probes: int = 4,
             seed: int = 42, round_to: int = 4, centroids: str = "kmeans",
             n_iters: int = 2, train_limit: int | None = None):
    """IVF (inverted-file) approximate top-k: the corpus is partitioned
    into ``n_lists`` cells; each query probes its ``n_probes`` nearest
    centroids and scans only those cells with exact cosine.

    ``centroids=`` picks how the cell centroids are chosen:

    - ``"kmeans"`` (default) — MLlib k-means|| on the corpus: tightest
      cells, best recall-per-probe; the iterative training is not
      SQL-expressible, so results can only be recall-floor-checked.
    - ``"sample"`` — the ``n_lists`` corpus vectors with the smallest ids
      (IVF practice routinely builds coarse quantizers from a sample;
      skipping Lloyd iterations costs some cell balance).  Every stage —
      centroid pick, argmin assignment, probe ranking — is deterministic
      and replicable in vanilla SQL, so an independent engine can verify
      the full pipeline value-exactly.
    - ``"lloyd"`` — ``n_iters`` fixed Lloyd iterations refining the
      sample seeds, with DECIMAL(38,12) element-wise sums so the centroid
      update is summation-order-independent: a TRAINED coarse quantizer
      whose every iteration an independent SQL engine replays bit-exactly
      (the kmeans mode's quality, the sample mode's verifiability).
      Each iteration is one map-side-combined aggregate to n_lists×dim
      cells plus a bounded n_lists-row collect.  Training runs over the
      ``train_limit`` smallest-id vectors (default ``256 * n_lists`` —
      standard IVF coarse-quantizer practice), so the per-iteration cost
      is INDEPENDENT of corpus size: at 100 TB, Lloyd touches a fixed
      few-thousand-row slice, never the corpus (VERDICT r5 punch item).
      ``train_limit=None`` semantics: the deterministic first-N cut is
      one bounded ORDER BY/LIMIT pass that an oracle replays exactly.

    Scale shape (both modes): the centroid table is tiny and broadcast,
    and the candidate join shuffles on the cell id — per-query work is
    |corpus| * n_probes / n_lists instead of |corpus|."""
    spark = tbl.df.sparkSession
    assigned, cents = _cells_and_centers(
        tbl, id_col, vec_col, n_lists, centroids, n_iters, seed, train_limit)

    # tiny (n_lists × dim) centroid table → broadcast against the queries
    cdf = local_table(spark, list(enumerate(cents)),
                      "__cell long, __center array<double>")

    qdf = wrap_table(queries).df.select(*_side_cols(id_col, vec_col, _QRY))
    dist = F.sqrt(_d2(F.col("query_vec"), F.col("__center")))
    probes = (_ranked(qdf.crossJoin(F.broadcast(cdf)).withColumn("__dist", dist),
                      n_probes, "__dist", "__cell", rk="__pr")
              .select("query_id", "query_vec", "__qn", "__cell"))

    scored = (assigned.join(F.broadcast(probes), "__cell")
              .filter(F.col("query_id") != F.col("nbr_id"))
              .withColumn("score", _cosine_score(_QRY, _NBR, round_to)))
    return SparkTbl(_topk(scored, k, "score", desc=True))


def _pq_books(head, n_head, n_subspaces, n_codes, who):
    """PQ codebooks from the smallest-id ``head`` vectors:
    ``(books, d)`` where ``books[m][c]`` is anchor c's slice for
    subspace m (n_subspaces × n_codes × d floats)."""
    if len(head) < n_head:
        raise ValueError(f"{who}: corpus has fewer than {n_head} rows")
    dim = len(head[0])
    if dim % n_subspaces:
        raise ValueError(
            f"{who}: dim {dim} not divisible by n_subspaces {n_subspaces}")
    d = dim // n_subspaces
    return [[v[m * d:(m + 1) * d] for v in head[:n_codes]]
            for m in range(n_subspaces)], d


def _pq_d2s(v, bk, m, d):
    """Distances of subspace ``m`` of ``v`` to every anchor of ``bk``."""
    return F.transform(bk, lambda anc: _d2(
        F.slice(v, m * F.lit(d) + 1, F.lit(d)), anc))


def _pq_codes(v, d):
    """Corpus encoding: per subspace, the nearest anchor of the broadcast
    ``__books`` (first index on ties)."""
    return F.transform(F.col("__books"),
                       lambda bk, m: _argmin(_pq_d2s(v, bk, m, d)))


def _pq_table(v, d):
    """A query's n_subspaces × n_codes distance table, computed once."""
    return F.transform(F.col("__books"), lambda bk, m: _pq_d2s(v, bk, m, d))


def _adc(round_to):
    """Asymmetric distance of a (``__qtab``, ``__codes``) pair: the
    ordered sum over subspaces of the table entry the code picks —
    O(n_subspaces) lookups per pair."""
    return F.round(F.aggregate(
        F.zip_with(F.col("__qtab"), F.col("__codes"),
                   lambda trow, code: F.element_at(trow, code + 1)),
        F.lit(0.0), lambda acc, x: acc + x), round_to)


@verb
def pq_topk(tbl: SparkTbl, queries, k: int = 10, id_col: str = "vec_id",
            vec_col: str = "embedding", n_subspaces: int = 4,
            n_codes: int = 8, round_to: int = 4):
    """Product-Quantization approximate top-k (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): split each
    vector into ``n_subspaces`` slices, quantize every slice to its
    nearest of ``n_codes`` codebook anchors, and score query↔corpus
    pairs by Asymmetric Distance Computation — the sum over subspaces of
    the query-to-anchor distance picked by the corpus row's code.

    Codebooks use the deterministic sample rule (the ``ivf_topk
    centroids="sample"`` pattern): anchors are the ``n_codes`` corpus
    vectors with the smallest ids, so every stage — training, encoding,
    ADC — is replayable value-exactly by an independent SQL engine.

    Scale shape (100 TB): encoding is ONE map-only corpus pass against a
    broadcast 1-row codebook table (no shuffle, O(n_codes·dim) per row);
    each query then precomputes its n_subspaces×n_codes distance TABLE
    once, so the per-pair ADC cost is **O(n_subspaces) table lookups
    instead of O(dim)** — the whole point of PQ.  Candidate generation is
    still all-pairs against the broadcast query set; compose with
    ``add_hyperplane_bucket``/``ivf_topk`` cells for candidate pruning
    (IVF-PQ) when the query side is large.

    Returns (query_id, nbr_id, adist, rk): rank 1 = SMALLEST approximate
    squared distance, ties broken by nbr_id.
    """
    spark = tbl.df.sparkSession
    books, d = _pq_books(_head_vectors(tbl.df, id_col, vec_col, n_codes),
                         n_codes, n_subspaces, n_codes, "pq_topk")
    bpk = (local_table(spark, [(books,)],
                       "__books: array<array<array<double>>>")
           .withColumn("__jk", F.lit(1)))

    # -- encode the corpus: one map pass, argmin per subspace ---------------
    vd = _to_double(F.col(vec_col))
    corpus = (tbl.df.withColumn("__jk", F.lit(1)).join(F.broadcast(bpk), "__jk")
              .select(F.col(id_col).alias("nbr_id"),
                      _pq_codes(vd, d).alias("__codes")))

    # -- per-query distance TABLE (n_subspaces × n_codes), computed once ----
    qtab = _pq_table(_to_double(F.col(vec_col)), d)
    qenc = (wrap_table(queries).df.withColumn("__jk", F.lit(1))
            .join(F.broadcast(bpk), "__jk")
            .select(F.col(id_col).alias("query_id"), qtab.alias("__qtab")))

    # -- ADC: O(n_subspaces) lookups per pair, ordered fold -----------------
    scored = (corpus.join(F.broadcast(qenc),
                          F.col("query_id") != F.col("nbr_id"))
              .withColumn("adist", _adc(round_to)))
    return SparkTbl(_topk(scored, k, "adist"))


@verb
def ivf_pq_topk(tbl: SparkTbl, queries, k: int = 10, id_col: str = "vec_id",
                vec_col: str = "embedding", n_lists: int = 8,
                n_probes: int = 3, n_subspaces: int = 4, n_codes: int = 8,
                round_to: int = 4):
    """IVF-PQ: the two approximations composed the way production ANN
    indexes (FAISS IVFPQ) do — IVF cells prune the CANDIDATE SET (each
    query scans ~n_probes/n_lists of the corpus), PQ prunes the PER-PAIR
    COST (O(n_subspaces) table lookups instead of O(dim)).

    Both codebooks use the deterministic sample rule (smallest-id corpus
    rows), so training, assignment, encoding and ADC are all replayable
    value-exactly by an independent SQL engine.  PQ here encodes raw
    vectors, not cell residuals; residual encoding (finer quantization,
    FAISS default) would slot into the same plan by subtracting the
    broadcast centroid before the argmin — documented trade, not a
    structural limit.

    Scale shape (100 TB): ONE map-only corpus pass computes cell id and
    PQ codes together against a single broadcast 1-row codebook table;
    candidates come from a broadcast hash join on the cell id (never
    all-pairs); per-pair work is n_subspaces lookups.

    Returns (query_id, nbr_id, adist, rk), rank 1 = smallest approximate
    squared distance, ties by nbr_id.
    """
    spark = tbl.df.sparkSession
    n_head = max(n_lists, n_codes)
    head = _head_vectors(tbl.df, id_col, vec_col, n_head)
    books, d = _pq_books(head, n_head, n_subspaces, n_codes, "ivf_pq_topk")
    pk = (local_table(
        spark, [(head[:n_lists], books)],
        "__cents: array<array<double>>, __books: array<array<array<double>>>")
        .withColumn("__jk", F.lit(1)))

    # -- one corpus pass: cell id + PQ codes --------------------------------
    vd = _to_double(F.col(vec_col))
    cell = _argmin(F.transform(F.col("__cents"), lambda c: _d2(vd, c)))
    corpus = (tbl.df.withColumn("__jk", F.lit(1)).join(F.broadcast(pk), "__jk")
              .select(F.col(id_col).alias("nbr_id"), cell.alias("__cell"),
                      _pq_codes(vd, d).alias("__codes")))

    # -- query side: probe cells + PQ distance table ------------------------
    qd = _to_double(F.col(vec_col))
    qbase = (wrap_table(queries).df.withColumn("__jk", F.lit(1))
             .join(F.broadcast(pk), "__jk")
             .select(F.col(id_col).alias("query_id"),
                     _pq_table(qd, d).alias("__qtab"),
                     F.posexplode(F.transform(
                         F.col("__cents"), lambda c: _d2(qd, c)))
                     .alias("__cell", "__cd2")))
    probes = (_ranked(qbase, n_probes, "__cd2", "__cell", rk="__pr")
              .select("query_id", "__qtab", "__cell"))

    scored = (corpus.join(F.broadcast(probes), "__cell")
              .filter(F.col("query_id") != F.col("nbr_id"))
              .withColumn("adist", _adc(round_to)))
    return SparkTbl(_topk(scored, k, "adist"))


def _spread_cells(df):
    """Explicit hash-partitioning by ``__cell`` with a PINNED partition
    count, applied to the input(s) of every intra-cell pair join.

    The pair stage is CPU-dense but byte-light: a few MB of vectors fan
    out into Σ|cell|² cosine folds.  AQE's BYTE-based partition
    coalescing sees the small shuffle and collapses the stage onto one
    task, serializing the fold work (measured in the r10 dim-768 spot
    rig: a 5k-row corpus -> ~30 MB pair shuffle -> 1 task -> minutes on
    one core while 31 idle).  A ``repartition(n, col)`` with an explicit
    count is never coalesced by AQE, so every core stays on the fold
    work; the join consumes the partitioning directly (no second
    exchange).  A single fat cell still serializes by construction —
    preventing that is the BLOCKING's job (semantic_store_compact
    ``p99_limit``), not the join's.

    The SHUFFLE_MERGE hint closes the second half of the same stats
    blindspot: the planner's size estimate for the assignment subtree
    comes from the narrow parquet columns it scans, not the wide vector
    arrays the transform produces, so the STATIC planner happily
    broadcasts the whole (unmaterialized, CPU-expensive) assignment
    subtree and recomputes it inside ONE broadcast-build task (measured
    in the same rig: a 20k-row dim-768 assignment ground 10+ minutes
    single-core as a BHJ build side).  The hint pins the static plan to
    sort-merge over the explicit partitioning; AQE may still demote to a
    runtime broadcast AFTER the shuffle materializes — that reads the
    shuffled rows, never recomputes the subtree, and is safe."""
    spark = df.sparkSession
    p = _spread_parallelism(spark)
    keys = ["__cell"] + [c for c in ("__pba", "__pbb") if c in df.columns]
    return df.repartition(p, *keys).hint("SHUFFLE_MERGE")


def _spread_parallelism(spark):
    try:
        conf_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        conf_p = 0
    return max(conf_p, spark.sparkContext.defaultParallelism)


def _pair_blocks(spark, n_lists):
    """Fragment-replicate block count ``s`` for the intra-cell pair
    joins (r12, guide §2.5): hash-partitioning on ``__cell`` alone caps
    the CPU-dense fold stage's parallelism at the number of DISTINCT
    cells — with n_lists=8 on 32 cores at most 8 tasks ever work, and a
    fat cell serializes its whole Σ|cell|² share on ONE task (AQE skew
    handling never fires: the stage is byte-light, CPU-dense).
    Splitting each join side into ``s`` id-hash blocks and joining on
    ``(cell, block_a, block_b)`` spreads every cell's pair work over
    ``s²`` tasks at the cost of replicating each side ``s``x into the
    shuffle.

    ``s`` is the smallest integer with ``n_lists * s² >= 2 * cores``
    (executor cores = ``defaultParallelism``; capped at 8):
    scale-adaptive by construction — at production scale ``n_lists`` ~
    √N far exceeds the core count, so s=1 and the pair join is a
    self-join of ONE spread side (``_cell_pair_join``) with zero
    replication; the replication only pays where it buys idle cores
    back.  Sized by cores, not by ``spark.sql.shuffle.partitions``: the
    partition count sets how finely the work is cut, the cores how much
    of it runs at once, and on one core replication only adds work."""
    if not n_lists or n_lists <= 0:       # unknown cell count: no blocks
        return 1
    p = spark.sparkContext.defaultParallelism
    if n_lists >= 2 * p:
        return 1
    import math
    return max(1, min(8, math.isqrt(max(0, 2 * p - 1) // n_lists) + 1))


def _block_pair_sides(a, b, id_col, n_lists):
    """Attach fragment-replicate block columns to the two sides of an
    intra-cell pair join.  Side ``a`` keeps its own id-hash block as
    ``__pba`` and replicates across all ``__pbb`` values; side ``b``
    symmetrically — every (x, y) pair meets on exactly one
    ``(cell, __pba, __pbb)`` key, so the joined pair SET is identical
    to the plain cell join (the blocks are dropped after the join).
    ``s == 1`` returns the sides untouched (the production path)."""
    spark = a.sparkSession
    s = _pair_blocks(spark, n_lists)
    if s <= 1:
        return a, b, []
    blocks = F.explode(F.array(*[F.lit(j) for j in range(s)]))
    block = F.pmod(F.xxhash64(F.col(id_col)), F.lit(s)).cast("int")
    a = a.withColumn("__pba", block).withColumn("__pbb", blocks)
    b = b.withColumn("__pbb", block).withColumn("__pba", blocks)
    return a, b, ["__pba", "__pbb"]


def _cell_join(a, b, id_col, n_lists, *conds):
    """``a`` (alias ``l``) joined to ``b`` (alias ``r``) on ``__cell``
    and ``conds``: both inputs spread over the cores (``_spread_cells``),
    and split into fragment-replicate blocks when cells are too few to
    fill them (``_block_pair_sides``)."""
    a, b, bk = _block_pair_sides(a, b, id_col, n_lists)
    cond = [F.col("l.__cell") == F.col("r.__cell"), *conds]
    cond += [F.col(f"l.{k}") == F.col(f"r.{k}") for k in bk]
    return _spread_cells(a).alias("l").join(_spread_cells(b).alias("r"),
                                            cond)


def _cell_pair_join(side, id_col, n_lists):
    """Every pair (x, y) of ``side`` rows sharing a ``__cell``, with
    ``x[id_col] < y[id_col]``; the other columns come out suffixed
    ``_a`` (from x) and ``_b`` (from y).

    At ``s == 1`` (``_pair_blocks``) ``_block_pair_sides`` returns
    ``side`` untouched for both inputs, so they are the same plan: the
    assignment and its exchange run once and the second input is a
    ``ReusedExchange``.  At ``s > 1`` the two sides carry different
    fragment-replicate block columns and each is computed."""
    cols = [c for c in side.columns if c != "__cell"]
    return (_cell_join(side, side, id_col, n_lists)
            .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
            .select(*[F.col(f"l.{c}").alias(f"{c}_a") for c in cols],
                    *[F.col(f"r.{c}").alias(f"{c}_b") for c in cols]))


def _int8_prefiltered_pairs(assigned, threshold, round_to,
                            n_lists=None):
    """Intra-cell pair stage with an int8 ADC prefilter (VERDICT r8 item
    5 — classic quantize-prune-rerank): the cell self-join carries ONLY
    the int8 codes + per-row scalars (~8x less shuffle payload than the
    double vectors at d=64), pairs are scored with a PROVABLE upper
    bound on their cosine, pruned, and only the survivors join back to
    the double vectors for exact scoring.

    The bound (no false drops, from the quantization identity
    ``x_i = s·(q_i + e_i)`` with rounding error ``|e_i| <= 1/2``):

        dot(a,b) = sa·sb·( Σ qa·qb + Σ qa·eb + Σ qb·ea + Σ ea·eb )
        cos(a,b) <= [ sa·sb·( int_dot + (L1a + L1b)/2 + d/4 ) ]
                    / sqrt(na²·nb²)

    where ``L1 = Σ|q|`` and all terms are per-ROW scalars computed once
    in the map phase.  A pair survives when the bound clears
    ``threshold`` minus the half-ulp of the output rounding (exact
    scores are rounded to ``round_to`` before the threshold compare, so
    a cosine just below threshold can round up) minus a 1e-9 cushion for
    the double-fold's own association error.  Exact re-rank then applies
    the identical filter the unfiltered path uses — the output pair set
    is value-identical by construction.

    Scale shape: same Σ|cell|² pair count, but the heavy shuffle (both
    self-join sides) carries tinyint codes; the survivor fetch is two
    equi-joins on id that AQE turns into broadcasts whenever the
    surviving pair set is small (the SemDeDup regime: near-dups are a
    thin fraction of intra-cell pairs).

    MEASURED tradeoff (SCALE.md rounds 9-10, decade/4x runs at sf0.1
    base): the prefilter does NOT win single-node at EITHER width.  At
    dim=64 it is ~25% slower (interpreted zip_with/aggregate folds cost
    the same per element for int as for double, so the prune pass saves
    no CPU while quantization + join-back add work).  At dim=768 — the
    width where the 8x pair-payload cut was hypothesized to dominate —
    it is 1.77x slower at 4x scale AND shuffles MORE in total (291 vs
    248 MB): the survivor join-back re-shuffles the full double vectors,
    which at high thresholds outweighs the pair-stage savings.  Concrete
    advice: keep ``prefilter=None`` unless (a) the intra-cell pair
    shuffle is the PROVEN network bottleneck (fat cells on a
    network-bound cluster), AND (b) survivors are rare enough that the
    join-back broadcast-demotes — or the corpus is already stored as
    int8 codes so quantization is free.  Default stays ``None``."""
    # The plan references ``assigned`` THREE times (codes, va, vb) and
    # its static size estimate reflects the narrow source scan, not the
    # wide vectors it produces — so without materialization the planner
    # happily broadcasts an UNMATERIALIZED copy and recomputes the whole
    # assignment single-threaded inside each broadcast-build task
    # (measured in the r10 dim-768 rig: 4 concurrent 1-task builds, 20+
    # minutes, 28 cores idle).  localCheckpoint materializes it ONCE in
    # parallel, truncates the lineage, and hands the planner TRUE sizes.
    # (On a real cluster swap for .checkpoint() — same note as
    # dedup_clusters.)
    assigned = assigned.localCheckpoint()
    q_codes = F.transform(
        F.col("__vd"), lambda x: F.when(
            F.col("__s") == 0, F.lit(0)).otherwise(
            F.greatest(F.lit(-127), F.least(F.lit(127),
                       F.round(x / F.col("__s")).cast("int")))
        ).cast("tinyint"))
    q = (assigned
         .withColumn("__vd", F.col("nbr_vec"))
         .withColumn("__s", F.array_max(F.transform(F.col("__vd"), F.abs))
                     / F.lit(127.0))
         .withColumn("__q", q_codes)
         .withColumn("__l1", F.aggregate(
             F.col("__q"), F.lit(0).cast("long"),
             lambda acc, x: acc + F.abs(x.cast("long"))))
         .select(F.col("nbr_id").alias("id"), "__cell",
                 F.col("__q").alias("q"), F.col("__s").alias("s"),
                 F.col("__nn").alias("n"), F.col("__l1").alias("l1")))
    int_dot = F.aggregate(
        F.zip_with(F.col("q_a"), F.col("q_b"),
                   lambda x, y: x.cast("int") * y.cast("int")),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    bound = F.try_divide(
        F.col("s_a") * F.col("s_b")
        * (int_dot.cast("double")
           + (F.col("l1_a") + F.col("l1_b")).cast("double") / 2.0
           + F.size(F.col("q_a")).cast("double") / 4.0),
        F.sqrt(F.col("n_a") * F.col("n_b")))
    cutoff = threshold - 0.5 * 10.0 ** (-round_to) - 1e-9
    survivors = (_cell_pair_join(q, "id", n_lists)
                 .filter(bound >= F.lit(cutoff))
                 .select("id_a", "id_b"))
    # SHUFFLE_MERGE on the vector sides: their static size estimate
    # reflects the narrow parquet scan, not the wide vectors, so the
    # static planner would otherwise BROADCAST the unmaterialized
    # assignment subtree and recompute it single-threaded (see
    # _spread_cells).  AQE still runtime-converts to broadcast from the
    # TRUE materialized sizes when the surviving pair set is small — the
    # SemDeDup regime — without ever recomputing the subtree.
    sa, sb = ("id_a", "vec_a", "__na"), ("id_b", "vec_b", "__nb")
    va, vb = [assigned.select(*[F.col(c).alias(n) for c, n in zip(_NBR, s)])
              .hint("SHUFFLE_MERGE") for s in (sa, sb)]
    return (survivors.join(va, ["id_a"]).join(vb, ["id_b"])
            .withColumn("score", _cosine_score(sa, sb, round_to))
            .filter(F.col("score") >= threshold)
            .select("id_a", "id_b", "score"))


@verb
def semantic_dedup(tbl: SparkTbl, threshold: float = 0.95,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   n_lists: int = 16, centroids: str = "lloyd",
                   n_iters: int = 2, seed: int = 42,
                   train_limit: int | None = None, round_to: int = 4,
                   keep: str = "min", return_pairs: bool = False,
                   prefilter: str | None = None):
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with the coarse
    quantizer, compare pairs INSIDE each cluster only (exact cosine ≥
    ``threshold``), connected-components the resulting pair graph, keep
    one representative per component (``keep``: min/max id), drop the
    rest.  Composition of four independently-verified stages:
    ``_cells_and_centers`` (shared with ivf_topk) → intra-cell pair join →
    ``dedup_clusters`` → ``drop_near_dups``.

    Scale shape: pair generation is a self-join ON THE CELL ID — cost is
    Σ over cells of |cell|², never corpus² (the paper's core trick; at
    fixed average cell size the pair count grows linearly with corpus).
    Each row's cell assignment runs once: at s == 1 the join's two
    inputs are one plan whose exchange is reused (``_cell_pair_join``).
    The quantizer trains on a bounded slice (lloyd/sample) or MLlib
    k-means|| (``centroids="kmeans"``); the drop list is broadcast when
    the driver union-find built it (bounded by ``dedup_clusters``' cap)
    and AQE-sized otherwise.  ``centroids="sample"``/``"lloyd"`` keep
    every stage SQL-replayable for value-exact cross-engine
    verification.

    Returns the deduplicated table; ``return_pairs=True`` returns
    ``(deduped, pairs)`` with the verified intra-cell pair table
    (id_a < id_b, rounded score).

    ``prefilter="int8"`` routes the pair stage through the quantized
    ADC prune (`_int8_prefiltered_pairs`): the cell self-join shuffles
    int8 codes instead of double vectors (~8x lighter at d=64) and only
    bound-surviving pairs pay the exact cosine — same output pair set,
    proven by the no-false-drops bound (tests + the shared oracle)."""
    if prefilter not in (None, "int8"):
        raise ValueError(f"unknown prefilter {prefilter!r}")
    assigned, _cents = _cells_and_centers(
        tbl, id_col, vec_col, n_lists, centroids, n_iters, seed, train_limit)
    if prefilter == "int8":
        pairs = _int8_prefiltered_pairs(assigned, threshold, round_to,
                                        n_lists=n_lists)
    else:
        side = assigned.select(F.col("nbr_id").alias("id"),
                               F.col("nbr_vec").alias("vec"),
                               F.col("__nn").alias("n"), "__cell")
        pairs = (_cell_pair_join(side, "id", n_lists)
                 .withColumn("score", _cosine_score(
                     ("id_a", "vec_a", "n_a"), ("id_b", "vec_b", "n_b"),
                     round_to))
                 .filter(F.col("score") >= threshold)
                 .select("id_a", "id_b", "score"))
    from .dedup import drop_near_dups
    deduped = drop_near_dups(tbl, SparkTbl(pairs), id_col=id_col, keep=keep)
    if return_pairs:
        return deduped, SparkTbl(pairs)
    return deduped


def semantic_dedup_incremental(
        tbl: SparkTbl, store=None, cents=None, threshold: float = 0.95,
        id_col: str = "vec_id", vec_col: str = "embedding",
        n_lists: int = 16, centroids: str = "lloyd", n_iters: int = 2,
        seed: int = 42, train_limit: int | None = None, round_to: int = 4):
    """SemDeDup over a NEW embedding snapshot against a persisted
    assignment store — the snapshot-over-snapshot form of
    ``semantic_dedup`` (the embedding twin of
    ``minhash_near_dups_incremental``; same store discipline).

    Returns ``(pairs, new_store, cents)``:

    - ``pairs``: intra-cell cosine pairs (``score ≥ threshold``) with AT
      LEAST ONE new endpoint — new×new plus new×store (store×store pairs
      were emitted by the snapshots that introduced them).  Orientation
      normalized to ``id_a < id_b``, so the union of every snapshot's
      output EQUALS the from-scratch ``semantic_dedup(return_pairs=True)``
      pair set over the full corpus AT THE SAME CENTROIDS — run
      ``dedup_clusters``/``drop_near_dups`` over the accumulated pairs for
      the kept set (components over the union of pairs are exactly the
      from-scratch components, so representative selection matches too).
    - ``new_store``: store ∪ new ``(id_col, vec_col, __nn, __cell)`` —
      persist with ``write_parquet`` and pass back next snapshot.
    - ``cents``: the centroid list (first call trains it on THIS
      snapshot's bounded slice; later calls require it back verbatim —
      it is driver-sized by construction, n_lists × dim floats; persist
      as JSON next to the store).

    Scale shape: the NEW side only is assigned (one broadcast-centroid
    pass); the store participates exactly once, as the probe side of the
    cell-equijoin — it is NEVER re-paired against itself, so per-snapshot
    cost is Σ over cells of |new_cell| × (|new_cell| + |store_cell|), not
    corpus².  Centroids stay FIXED after the first snapshot (the
    incremental contract; re-train offline and rebuild the store if the
    distribution drifts).

    Contract: ids are globally unique across snapshots."""
    store_df = None if store is None else wrap_table(store).df
    pairs, new_asg, cents = _semantic_incremental(
        tbl, store_df, cents, threshold, id_col, vec_col, n_lists,
        centroids, n_iters, seed, train_limit, round_to)
    if store_df is None:
        return pairs, new_asg, cents
    return pairs, new_asg.evolve(df=store_df.unionByName(new_asg.df)), cents


def _semantic_incremental(tbl, store_df, cents, threshold=0.95,
                          id_col="vec_id", vec_col="embedding", n_lists=16,
                          centroids="lloyd", n_iters=2, seed=42,
                          train_limit=None, round_to=4):
    """Core of ``semantic_dedup_incremental``: returns ``(pairs, new_asg,
    cents)``, where ``new_asg`` holds ONLY this snapshot's ``(id_col,
    vec_col, __nn, __cell)`` assignments — an append-only store writes
    them directly.  Both tables pin the persisted assignment."""
    if store_df is None:
        assigned, cents = _cells_and_centers(
            tbl, id_col, vec_col, n_lists, centroids, n_iters, seed,
            train_limit)
        new_asg = assigned.select(
            F.col("nbr_id").alias(id_col), F.col("nbr_vec").alias(vec_col),
            "__nn", "__cell")
    else:
        if cents is None:
            raise ValueError(
                "semantic_dedup_incremental: pass the cents list returned "
                "by the first call along with the store (assignments are "
                "only comparable at fixed centroids)")
        vd = F.col("__vd")
        new_asg = (_assign_cells(tbl.df, cents, vec_col)
                   .select(F.col(id_col), vd.alias(vec_col),
                           _dot(vd, vd).alias("__nn"), "__cell"))

    # r13: the snapshot's assignment is consumed TWICE here (pair-join
    # left side + the store union) and the returned store feeds every
    # later snapshot/compaction — unpersisted, each consumer re-runs
    # the assignment pass over the embeddings (the graded 3-snapshot
    # chain re-derived epoch-1 assignments three times).  persist()
    # materializes it once; the pin rides the returned tables so the
    # session's normal pin discipline (release after the consuming
    # write/collect, or release_all_pins) frees it.  MEMORY_AND_DISK
    # by default, so a corpus-scale store spills instead of evicting.
    # Streaming inputs cannot persist (the twin reuses this code).
    if not new_asg.isStreaming:
        new_asg = new_asg.persist()

    nb = new_asg.withColumn("__new", F.lit(True))
    all_b = nb if store_df is None else \
        nb.unionByName(store_df.withColumn("__new", F.lit(False)))
    pairs = (_cell_join(nb, all_b, id_col, n_lists,
                        (~F.col("r.__new"))
                        | (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
             .filter(F.col(f"l.{id_col}") != F.col(f"r.{id_col}"))
             .withColumn("score", _cosine_score(
                 *[(f"{t}.{id_col}", f"{t}.{vec_col}", f"{t}.__nn")
                   for t in "lr"], round_to))
             .filter(F.col("score") >= threshold)
             .select(F.least(F.col(f"l.{id_col}"),
                             F.col(f"r.{id_col}")).alias("id_a"),
                     F.greatest(F.col(f"l.{id_col}"),
                                F.col(f"r.{id_col}")).alias("id_b"),
                     "score"))
    pins = () if new_asg.isStreaming else (new_asg,)
    return SparkTbl(pairs, pins=pins), SparkTbl(new_asg, pins=pins), cents


def semantic_store_compact(store, id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           n_lists: int | None = None,
                           centroids: str = "sample", n_iters: int = 2,
                           seed: int = 42, train_limit: int | None = None,
                           p99_limit: int | None = None):
    """Maintenance compaction for the ``semantic_dedup_incremental``
    assignment store (VERDICT r8 item 8): centroids stay FIXED across
    snapshots by contract, so as the corpus drifts the cells fatten and
    skew — the incremental new×store term degrades toward the fat cells'
    |new_cell|×|store_cell| products.  Compaction retrains the coarse
    quantizer on the ACCUMULATED store and rebuilds every assignment,
    resetting cell balance at the K=√N rule.

    Trigger discipline: pass ``p99_limit`` — when the 99th-percentile
    cell size is at or under it, the store is returned untouched
    (``did_compact=False``) and the stream keeps its current centroids;
    above it, a full retrain+reassign runs as one batch job.  The
    cell-count probe is a bounded aggregate (one row per cell, ≤ K rows
    collected).

    Epoch semantics: compaction starts a NEW blocking epoch.  Emitted
    pairs are exact cosines and stay valid forever; only the BLOCKING
    (which pairs get compared) changes, so the accumulated pair graph is
    the union of per-epoch intra-cell pair sets — the same recall
    contract SemDeDup has within one epoch, refreshed to the current
    data distribution.  Persist the returned cents (JSON, driver-sized)
    and store atomically together; a ``stream_semantic_dedup`` stream
    must be stopped across the swap.

    Centroid-mode choice matters here more than at first training:
    ``"sample"``/``"lloyd"`` take their seed/training slice from the
    FIRST-N-BY-ID rows — in an append-only store that is the OLDEST
    data, so a retrain can be blind to exactly the drift that triggered
    it (the fat new cells contribute nothing to the new centroids).
    For drift-driven compaction use ``centroids="kmeans"`` (MLlib
    k-means||, trains distributed on the whole store, density-adaptive
    — dense drift regions earn proportionally many cells); keep
    "sample"/"lloyd" for the oracle-replayable paths and for stores
    whose id order is not arrival order.

    Returns ``(new_store, new_cents, did_compact)``; ``new_cents`` is
    ``None`` when no compaction ran."""
    store_df = wrap_table(store).df
    if p99_limit is not None:
        sizes = (store_df.groupBy("__cell").count()
                 .agg(F.expr("percentile(count, 0.99)")).first()[0])
        if sizes is not None and sizes <= p99_limit:
            return SparkTbl(store_df), None, False
    corpus = SparkTbl(store_df.select(id_col, vec_col))
    if n_lists is None:
        n_lists = max(16, int(store_df.count() ** 0.5))
    assigned, cents = _cells_and_centers(
        corpus, id_col, vec_col, n_lists, centroids, n_iters, seed,
        train_limit)
    new_store = assigned.select(
        F.col("nbr_id").alias(id_col), F.col("nbr_vec").alias(vec_col),
        "__nn", "__cell")
    # r13: the rebuilt store is the probe side of every post-compaction
    # snapshot — materialize the reassignment once (same pin discipline
    # as the incremental path above).  A streaming store never gets
    # here: every centroid mode runs a driver action on it first.
    new_store = new_store.persist()
    return SparkTbl(new_store).pin(new_store), cents, True


@verb
def assign_clusters(tbl: SparkTbl, n_clusters: int = 16,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    centroids: str = "sample", n_iters: int = 2,
                    seed: int = 42, train_limit: int | None = None,
                    out: str = "cluster_id"):
    """Cluster the corpus in embedding space and add a ``cluster_id``
    column — the PUBLIC face of the coarse quantizer that ``ivf_topk``
    and ``semantic_dedup`` already use internally (same training modes,
    same argmin-first-index assignment, same oracle-replayability
    contracts; see ``ivf_topk`` for the three ``centroids=`` modes).
    Use it for corpus analysis, mixture design (sample per cluster), or
    persisting a partitioning (``write_parquet(partition_by=[out])``).

    Column-preserving.  Scale shape: training is driver-bounded
    (sample/lloyd slices) or MLlib k-means|| (``"kmeans"``); the
    assignment itself is MAP-ONLY for sample/lloyd — the centroid table
    broadcasts as one literal row and every input row computes its
    argmin distance in place, no join key, no shuffle.  The kmeans mode
    joins MLlib's own predictions back on ``id_col`` (one AQE-sized
    narrow join) so the assignment is exactly the model's."""
    assigned, cents = _cells_and_centers(
        tbl, id_col, vec_col, n_clusters, centroids, n_iters, seed,
        train_limit)
    if centroids == "kmeans":
        cells = assigned.select(F.col("nbr_id").alias("__aid"),
                                F.col("__cell").alias(out))
        df = (tbl.df.drop(out)
              .join(cells, F.col(id_col) == F.col("__aid"), "left")
              .drop("__aid"))
        return tbl.evolve(df=df)
    df = (_assign_cells(tbl.df.drop(out), cents, vec_col)
          .drop("__vd").withColumnRenamed("__cell", out))
    return tbl.evolve(df=df)


@verb
def vector_mean(tbl: SparkTbl, by, vec_col: str = "embedding",
                out: str = "centroid", normalize: bool = False,
                round_to: int | None = None):
    """Per-group element-wise mean of an embedding column — profile /
    centroid vectors (user embeddings from document embeddings, cluster
    centroid export, class prototypes).

    Scale shape: posexplode to (group, position, value) → ONE aggregation
    shuffled on the fine-grained (group, position) key with map-side
    combine → rebuild the array with position-sorted collect.  No vector
    is ever collected to the driver, group count and dimension are both
    unbounded, and skew is limited to (largest group × dim) key fan-out.
    ``normalize=True`` L2-normalizes the mean (the usual prototype form);
    zero-norm means become NULL (same try_divide contract as cosine).
    ``round_to`` rounds elements for cross-engine comparison.

    Sums run in DECIMAL(38,12) so the mean is summation-order-independent
    — an independent engine replays it value-exactly (the same
    order-exactness pattern as the Lloyd centroid update).  NULL elements
    inside a vector are SKIPPED (non-null denominator, the same contract
    as ``F.avg`` / pandas ``mean``), not treated as zeros."""
    keys = [by] if isinstance(by, str) else list(by)
    exploded = (tbl.df
                .select(*[F.col(k) for k in keys],
                        F.posexplode(_to_double(F.col(vec_col)))
                        .alias("__p", "__v"))
                .groupBy(*keys, "__p")
                .agg((F.sum(F.col("__v").cast("decimal(38,12)"))
                      / F.count(F.col("__v"))).cast("double").alias("__m")))
    vec = F.transform(
        F.array_sort(F.collect_list(F.struct("__p", "__m"))),
        lambda s: s.getField("__m"))
    agg = (exploded.groupBy(*keys)
           .agg(vec.alias(out)))
    col = F.col(out)
    if normalize:
        nrm = F.sqrt(F.aggregate(col, F.lit(0.0),
                                 lambda a, x: a + x * x))
        col = F.transform(col, lambda x: F.try_divide(x, nrm))
    if round_to is not None:
        col = F.transform(col, lambda x: F.round(x, round_to))
    return SparkTbl(agg.withColumn(out, col))


@verb
def quantize_embeddings(tbl: SparkTbl, vec_col: str = "embedding",
                        out: str = "q_embedding",
                        scale_col: str = "q_scale"):
    """Symmetric per-vector int8 scalar quantization — the standard 4x
    storage cut for 100 TB embedding stores (float32 -> int8 + one
    float scale per vector).

    ``scale = max(|x|) / 127``; codes = ``round(x / scale)`` clipped to
    [-127, 127] (HALF_UP, the same Spark-double-to-decimal rounding both
    engines share, so codes replay value-exactly in vanilla SQL).  An
    all-zero vector quantizes to zero codes with scale 0 and dequantizes
    back to zeros.  Map-only: no shuffle, no job — pure projection.

    Column-preserving: ``out`` (array<tinyint>) and ``scale_col``
    (double) are appended; drop the float column afterwards for the
    storage win.  Quantization error is bounded by scale/2 per element
    (~0.4% of the max magnitude), which the cosine-preservation tests
    bound end-to-end."""
    vd = _to_double(F.col(vec_col))
    scale = F.array_max(F.transform(vd, F.abs)) / F.lit(127.0)
    codes = F.transform(
        vd, lambda x: F.greatest(
            F.lit(-127),
            F.least(F.lit(127),
                    F.when(F.col(scale_col) == 0, F.lit(0))
                    .otherwise(F.round(x / F.col(scale_col)))
                    .cast("int"))).cast("tinyint"))
    df = (tbl.df.withColumn(scale_col, scale)
          .withColumn(out, codes))
    return tbl.evolve(df=df)


@verb
def dequantize_embeddings(tbl: SparkTbl, q_col: str = "q_embedding",
                          scale_col: str = "q_scale",
                          out: str = "embedding"):
    """Inverse of ``quantize_embeddings``: ``x' = code * scale`` back to
    array<double>.  Map-only.  ``x'`` differs from the original by at
    most scale/2 per element; downstream ANN (brute_force_topk / ivf /
    pq) consumes it unchanged."""
    df = tbl.df.withColumn(
        out, F.transform(F.col(q_col),
                         lambda c: c.cast("double") * F.col(scale_col)))
    return tbl.evolve(df=df)
