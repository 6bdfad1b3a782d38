"""Product quantization (IVF-PQ) for ANN at compression scale.

IVF-flat (ann.ivf_topk) ships the full d-dim float vector of every
candidate through the cell equi-join — at 100 TB the shuffle IS the
cost. PQ (Jegou/Douze/Schmid, "Product Quantization for Nearest
Neighbor Search", TPAMI 2011; the FAISS IndexIVFPQ default) cuts the
candidate payload from d floats to m small codes: split each vector
into m subvectors, k-means each subspace to ksub centroids, store only
the per-subspace code ids. Queries score candidates with ADC
(asymmetric distance computation): the query precomputes an m x ksub
lookup table of subvector dot products ONCE, then every candidate
costs O(m) array lookups instead of O(d) multiply-adds.

Spark shapes (all plan-size O(1) in dim, no hash exchange on the
corpus side until the cell equi-join):
- pq_train: Lloyd per subspace over a (optionally sampled) training
  frame — assignment is a broadcast m-row equi-join on the sub index,
  recompute is ONE groupBy(sub, code, dim) mean whose width is
  m*ksub*dsub rows, independent of n after partial aggregation.
- pq_encode: pure per-row projection against the 1-row broadcast
  codebook (the FAISS "add" phase) — no shuffle at all.
- pq_topk: IVF cells route candidates (reusing ann.ivf_assign's
  shuffle-free assignment); candidates carry (n_id, cell, codes) —
  m ints — through the equi-join; the query side carries its ADC
  tables as per-row arrays, so scoring a pair is one O(m)
  zip_with/aggregate, never an O(d) dot.

HOF hygiene: every computed array referenced inside a lambda rides
functions.hof.staged (Catalyst inlines outer expressions into lambda
bodies and re-evaluates them per element — see hof.py).

Assignment metric is subspace L2 (||x-c||^2 = ||x||^2 - 2x.c + ||c||^2,
rounded to 9 dp with ties to the smallest code — deterministic and
engine-portable); serving ranks by approximate cosine
sum_s LUT[s][code_s] / (|q| * sqrt(sum_s |c_{s,code_s}|^2)), rounded
to 6 dp like every other cosine in this package.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hof import staged
from ..functions.partitions import spread
from .ann import _rank_topk, ivf_assign


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _sq(acc: Column, v: Column) -> Column:
    return acc + v * v


def _subvecs(vec: Column, m: int, dsub: int) -> Column:
    """array over the m subspaces of the (double-cast) subvectors."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.transform(
            F.slice(vec, s * dsub + 1, dsub), lambda x: x.cast("double")
        ),
    )


def _check(m: int, dim: int, ksub: int) -> int:
    if m < 1 or dim % m != 0:
        raise ValueError("dim %d must divide into m=%d subspaces" % (dim, m))
    if ksub < 1:
        raise ValueError("ksub must be >= 1, got %r" % ksub)
    return dim // m


def pq_train(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_limit: int | None = None,
) -> DataFrame:
    """Train a PQ codebook: (sub, code, cvec: array<double>, cnorm2)
    with m*ksub rows. Seeds are the subvectors of the ksub smallest-id
    training vectors (code = id rank, deterministic, same convention as
    ann.ivf_train's min-id seed); `iters` Lloyd rounds refine them.
    Empty codes keep their previous centroid.

    train_limit caps the training sample by smallest id (FAISS trains
    IVF-PQ on ~100k-1M sampled vectors, never the corpus; at 100 TB
    pass a limit — the codebook quality saturates long before the
    sample stops fitting one stage).

    Per iteration exactly two jobs: ASSIGN = broadcast equi-join on the
    m-row packed codebook + per-row argmin (no shuffle of the sample
    beyond the initial posexplode), RECOMPUTE = one groupBy(sub, code,
    dim) mean, m*ksub*dsub rows wide regardless of sample size. The
    codebook is localCheckpoint'ed per round (m*ksub rows) so the plan
    does not nest 2^iters join generations.
    """
    dsub = _check(m, dim, ksub)
    base = emb.select(F.col(id_col).alias("sid"), F.col(vec_col).alias("vec"))
    if train_limit is not None:
        base = base.orderBy("sid").limit(int(train_limit))
    # the per-subvector assignment below is interpreted HOF work (CPU-
    # dense, byte-light): lift a single-row-group/limit()-collapsed
    # input to full core count first (functions/partitions.py)
    base = spread(base)
    subs = base.select(
        "sid", F.posexplode(_subvecs(F.col("vec"), m, dsub)).alias("sub", "sv")
    )
    w = Window.partitionBy("sub").orderBy("sid")
    cb = (
        base.orderBy("sid")
        .limit(ksub)
        .select("sid", F.posexplode(_subvecs(F.col("vec"), m, dsub)).alias("sub", "cvec"))
        .withColumn("code", F.row_number().over(w) - 1)
        .select("sub", "code", "cvec")
    )
    for _ in range(iters):
        packed = cb.groupBy("sub").agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("code"),
                        F.col("cvec"),
                        F.aggregate(F.col("cvec"), F.lit(0.0), _sq).alias("cn2"),
                    )
                )
            ).alias("entries")
        )
        assigned = (
            subs.join(F.broadcast(packed), "sub")
            .withColumn(
                "code",
                staged(
                    F.aggregate(F.col("sv"), F.lit(0.0), _sq),
                    lambda svn2: F.element_at(
                        F.array_sort(
                            F.transform(
                                F.col("entries"),
                                lambda e: F.struct(
                                    F.round(
                                        svn2
                                        - 2 * _dot(F.col("sv"), e["cvec"])
                                        + e["cn2"],
                                        9,
                                    ).alias("d"),
                                    e["code"].alias("code"),
                                ),
                            )
                        ),
                        1,
                    )["code"],
                ),
            )
            .select("sub", "code", "sv")
        )
        means = (
            assigned.select("sub", "code", F.posexplode("sv").alias("dim", "x"))
            .groupBy("sub", "code", "dim")
            .agg(F.avg("x").alias("mu"))
            .groupBy("sub", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "mu"))),
                    lambda s: s["mu"],
                ).alias("new_cvec")
            )
        )
        cb = (
            cb.join(means, ["sub", "code"], "left")
            .select("sub", "code", F.coalesce("new_cvec", "cvec").alias("cvec"))
            .localCheckpoint(eager=True)
        )
    return cb.withColumn("cnorm2", F.aggregate(F.col("cvec"), F.lit(0.0), _sq))


def _packed_codebook(codebook: DataFrame) -> DataFrame:
    """ONE row: cb = array over subs (ascending) of arrays over codes
    (ascending, so position == code+1) of (code, cvec, cnorm2)."""
    return (
        codebook.groupBy("sub")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("code", "cvec", "cnorm2"))
            ).alias("entries")
        )
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "entries"))),
                lambda s: s["entries"],
            ).alias("cb")
        )
    )


def _encode_expr(vec: Column, m: int, dsub: int) -> Column:
    """codes array (one per sub) against the packed `cb` column —
    argmin of 9-dp-rounded subspace L2, ties to the smallest code."""

    def with_subs(subs):
        def with_norms(svn2s):
            return F.transform(
                F.col("cb"),
                lambda entries, s: F.element_at(
                    F.array_sort(
                        F.transform(
                            entries,
                            lambda e: F.struct(
                                F.round(
                                    F.element_at(svn2s, s + 1)
                                    - 2 * _dot(F.element_at(subs, s + 1), e["cvec"])
                                    + e["cnorm2"],
                                    9,
                                ).alias("d"),
                                e["code"].alias("code"),
                            ),
                        )
                    ),
                    1,
                )["code"],
            )

        return staged(
            F.transform(subs, lambda sv: F.aggregate(sv, F.lit(0.0), _sq)),
            with_norms,
        )

    return staged(_subvecs(vec, m, dsub), with_subs)


def pq_encode(
    emb: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Compress vectors to their PQ codes: (vid, codes array<int>, one
    code per subspace). Pure per-row projection against the 1-row
    broadcast codebook — NO shuffle, no join on the corpus; d floats
    in, m small ints out (the 32x payload cut is the whole point: an
    int8-serialized code fits a byte, kept as int here for engine
    portability)."""
    dsub = _check(m, dim, 1)  # same m/dim validation as train/topk
    return (
        emb.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
        .crossJoin(F.broadcast(_packed_codebook(codebook)))
        .select("vid", _encode_expr(F.col("vec"), m, dsub).alias("codes"))
    )


def pq_topk(
    emb: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    dim: int = 64,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_id: int | None = 100,
    codebook: DataFrame | None = None,
    centroids: DataFrame | None = None,
    train_limit: int | None = None,
) -> DataFrame:
    """IVF-PQ ANN serving: IVF cells bound the search, PQ codes + ADC
    replace full-vector cosines. Returns (q_id, n_id, cos_pq, rk) —
    cos_pq is the PQ-approximate cosine (the ranking signal; it
    converges to the true cosine as m grows).

    The scale story vs ivf_topk: the candidate side of the cell
    equi-join carries (n_id, cid, codes) — m ints, not d floats — so
    the shuffle volume drops ~d*4/m bytes per row (32x at d=64 m=8,
    512x at d=1024 m=8); per-pair scoring is O(m) LUT lookups instead
    of an O(d) dot. Queries (bounded by max_query_id) each carry their
    ADC tables (lut: m x ksub dot products, rn2: the matching centroid
    norms) as per-row arrays built ONCE per query in the scan stage.

    Cell assignment + encoding happen in the SAME projection over one
    scan (both are 1-row-broadcast column computations), so candidates
    need no self-join to pick up their codes.
    """
    dsub = _check(m, dim, ksub)
    # candidate encoding + assignment are interpreted per-row HOF work:
    # make sure the corpus isn't stuck on 1-2 scan partitions
    emb = spread(emb)
    cb = (
        codebook
        if codebook is not None
        else pq_train(emb, m, ksub, iters, dim, id_col, vec_col, train_limit)
    )
    assigned = ivf_assign(emb, n_centroids, nprobe, id_col, vec_col, centroids)
    both = assigned.crossJoin(F.broadcast(_packed_codebook(cb)))
    cand = both.select(
        F.col("vid").alias("n_id"),
        F.element_at(F.col("probes"), 1)["cid"].alias("cid"),
        _encode_expr(F.col("vec"), m, dsub).alias("codes"),
    )
    q = both
    if max_query_id is not None:
        q = q.filter(F.col("vid") < max_query_id)

    def lut_expr(subs):
        return F.transform(
            F.col("cb"),
            lambda entries, s: F.transform(
                entries, lambda e: _dot(F.element_at(subs, s + 1), e["cvec"])
            ),
        )

    q = (
        q.withColumn("lut", staged(_subvecs(F.col("vec"), m, dsub), lut_expr))
        .withColumn(
            "rn2",
            F.transform(
                F.col("cb"), lambda entries: F.transform(entries, lambda e: e["cnorm2"])
            ),
        )
        .withColumn("__qn", F.sqrt(F.aggregate(
            F.transform(F.col("vec"), lambda x: x.cast("double")), F.lit(0.0), _sq
        )))
        # __qn referenced twice (guard + divisor) so it stays staged
        .where(F.col("__qn") > 0)
        .select(
            F.col("vid").alias("q_id"),
            F.explode(F.col("probes")["cid"]).alias("cid"),
            "lut",
            "rn2",
            "__qn",
        )
    )
    def pick(tbl: str) -> Column:
        # codegen'd m-term lookup chain — identical left-fold order and
        # values as aggregate(zip_with(codes, tbl, (c, row) ->
        # element_at(row, c+1)), 0.0, acc+v), but HOFs are
        # CodegenFallback (interpreted per pair); m is plan-time known,
        # so the chain stays a small fully-compiled expression.
        e: Column = F.lit(0.0)
        for s in range(m):
            e = e + F.element_at(
                F.element_at(F.col(tbl), s + 1),
                F.element_at(F.col("codes"), s + 1) + 1,
            )
        return e
    # with max_query_id set the query side is bounded (its ADC arrays
    # are wide, so Spark's size estimate overshoots into a sort-merge
    # join of the full candidate corpus) — broadcast it explicitly;
    # unbounded queries keep the planner's choice
    q_side = F.broadcast(q) if max_query_id is not None else q
    pairs = (
        q_side.join(cand, "cid")
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn("__rn2", pick("rn2"))
        .withColumn(
            "cos_pq",
            F.when(
                F.col("__rn2") > 0,
                F.round(pick("lut") / (F.col("__qn") * F.sqrt(F.col("__rn2"))), 6),
            ),
        )
        .filter(F.col("cos_pq").isNotNull())
    )
    return _rank_topk(pairs, k, "cos_pq")
