"""Approximate nearest neighbor search over an embedding column.

- brute-force cosine top-k: the exactness baseline. Native
  zip_with/aggregate dot product (JVM-side, no Python), double
  accumulation, cosine rounded to 6 dp before ranking so ordering is
  engine-stable; ties broken by neighbor id.
- sign-LSH bucketed top-k: the scale path — bucket = sign bits of the
  first B dimensions (a fixed public hyperplane set); candidates only
  within the same bucket, so the join is bucket-equi instead of cross.
  At cluster scale the bucket column is the shuffle/partition key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gogstash_spark.functions.partitions import cap_groups, fits_broadcast


def _cos(a, b):
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    nb = F.sqrt(
        F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    return F.round(dot / (na * nb), 6)


def _rank_topk(pairs: DataFrame, k: int, score: str = "cos") -> DataFrame:
    """(q_id, n_id, score, rk): each query's k best neighbors by score,
    ties broken by neighbor id."""
    w = Window.partitionBy("q_id").orderBy(F.desc(score), F.asc("n_id"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "n_id", score, "rk")
    )


def brute_topk(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_id: int | None = 100,
) -> DataFrame:
    """Exact cosine top-k for each query vector (id filter bounds cost)."""
    q = emb.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    if query_ids is not None:
        q = q.filter(F.col("q_id").isin(query_ids))
    elif max_query_id is not None:
        q = q.filter(F.col("q_id") < max_query_id)
    c = emb.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"))
    pairs = (
        q.crossJoin(c)
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn("cos", _cos(F.col("q_vec"), F.col("n_vec")))
    )
    return _rank_topk(pairs, k)


def sign_bucket(vec, n_bits: int = 8):
    """LSH bucket id: sign bits of the first n_bits dimensions."""
    return F.concat(
        *[
            F.when(F.element_at(vec, b + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for b in range(n_bits)
        ]
    )


def hyperplanes(dim: int, n_bits: int, table: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Rademacher (+-1) hyperplanes for one LSH table.
    +-1 weights make the projection a signed sum — exactly reproducible
    across engines (no rounding from multiplication)."""
    import random

    rng = random.Random(seed * 1_000_003 + table)
    return [[rng.choice((-1.0, 1.0)) for _ in range(dim)] for _ in range(n_bits)]


def hyperplane_bucket(vec, planes_col):
    """Bucket id from sign(vec . w_b) per plane — a real random-
    projection LSH (sign_bucket's axis-aligned planes are its dim<=bits
    special case). `planes_col` is an array<array<double>> COLUMN (one
    inner array per plane, from the 1-row broadcast built by
    hyperplane_tables_df) — never inline literals: the literal form
    embedded n_bits x dim float constants in the expression tree, which
    at production d=1024 / 16 bits is 16k literals per table (and
    multi-table multiplies it); the broadcast keeps plan size O(1) in
    dim, the same pattern as ivf_assign's centroid row. Left-fold
    aggregate keeps addition order fixed so the oracle can reproduce
    the exact double; the per-plane lambda does exactly one O(d) dot —
    no staged-column need (nothing is re-evaluated per element beyond
    the required work)."""

    def bit(w):
        proj = F.aggregate(
            F.zip_with(vec, w, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0"))

    return F.array_join(F.transform(planes_col, bit), "")


def hyperplane_tables_df(spark, dim: int, n_bits: int, n_tables: int, seed: int = 42):
    """ONE-row frame [tables: array<struct<t:int, ws:array<array<double>>>>]
    holding every LSH table's hyperplanes, for a broadcast cross join —
    the hyperplane analog of ivf_assign's 1-row centroid frame.
    sort_array on struct(t, ws) orders by t, so explode yields tables in
    deterministic order."""
    rows = [(t, hyperplanes(dim, n_bits, t, seed)) for t in range(n_tables)]
    pdf = spark.createDataFrame(rows, "t int, ws array<array<double>>")
    return pdf.agg(F.sort_array(F.collect_list(F.struct("t", "ws"))).alias("tables"))


def lsh_topk_multi(
    emb: DataFrame,
    dim: int,
    k: int = 5,
    n_bits: int = 8,
    n_tables: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_id: int | None = 100,
    bucket_cap: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Multi-table random-projection LSH top-k.

    Single-probe LSH has a recall cliff: a true neighbor split from the
    query by ANY of the n_bits planes is lost. T independent tables
    recover it (miss probability decays exponentially in T). Plan
    shape: explode each vector to its T (table, bucket) keys, equi-join
    per key, dedup candidates, then exact-cosine rank — candidate
    generation never leaves bucket joins.
    """
    packed = hyperplane_tables_df(emb.sparkSession, dim, n_bits, n_tables, seed)
    keyed = (
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .crossJoin(F.broadcast(packed))
        .select("id", "vec", F.explode("tables").alias("tb"))
        .select(
            "id",
            "vec",
            F.col("tb.t").alias("t"),
            hyperplane_bucket(F.col("vec"), F.col("tb.ws")).alias("b"),
        )
    )
    keyed = cap_groups(keyed, ["t", "b"], bucket_cap)
    q = keyed.select(F.col("id").alias("q_id"), "t", "b")
    if max_query_id is not None:
        q = q.filter(F.col("q_id") < max_query_id)
    c = keyed.select(F.col("id").alias("n_id"), "t", "b")
    cand = (
        q.join(c, ["t", "b"])
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id")
        .distinct()
    )
    qv = emb.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    nv = emb.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_vec"))
    pairs = cand.join(qv, "q_id").join(nv, "n_id").withColumn(
        "cos", _cos(F.col("q_vec"), F.col("n_vec"))
    )
    return _rank_topk(pairs, k)


def lsh_topk(
    emb: DataFrame,
    k: int = 5,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_id: int | None = 100,
) -> DataFrame:
    """Bucketed ANN: candidates share the sign-LSH bucket.

    The equi-join on bucket replaces the cross join — at 10^9 vectors
    this is the difference between a shuffle join on a key and an
    impossible cartesian.
    """
    with_b = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        sign_bucket(F.col(vec_col), n_bits).alias("bucket"),
    )
    q = with_b.select(
        F.col("id").alias("q_id"), F.col("vec").alias("q_vec"), "bucket"
    )
    if max_query_id is not None:
        q = q.filter(F.col("q_id") < max_query_id)
    c = with_b.select(F.col("id").alias("n_id"), F.col("vec").alias("n_vec"), "bucket")
    pairs = (
        q.join(c, "bucket")
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn("cos", _cos(F.col("q_vec"), F.col("n_vec")))
    )
    return _rank_topk(pairs, k)


def ivf_assign(
    emb: DataFrame,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Shuffle-free IVF cell assignment: (vid, vec, probes) where probes
    is the nprobe nearest centroid cells, nearest first.

    The whole assignment stays in the SCAN stage: the centroids are
    folded into ONE row (collect_list of struct(cid, cvec, cnorm)) and
    broadcast-cross-joined — a 1-row broadcast adds a column, it never
    amplifies rows — then each vector scores every centroid inside a
    per-row `transform` and takes `slice(array_sort(...), 1, nprobe)`.
    The previous shape (crossJoin against C centroid ROWS then a
    Window.partitionBy(vid) argmax) shuffled an n×C-amplified frame:
    at 100 TB with C=4096 that is a 4096×-amplified exchange just to
    take a per-row argmax. Here NO hash exchange touches the big side
    (pinned by tests/test_plan_invariants.py::test_ivf_assign_no_shuffle).

    HOF-trap hygiene: the query norm is staged in a temp column (one
    O(d) eval per row) and centroid norms are precomputed in the
    broadcast structs — higher-order-function lambdas re-evaluate their
    whole body per element, so an inlined norm would be O(C·d) extra.
    The per-element dot product is the required O(C·d) work.

    Sorting by struct(-ccos, cid) reproduces the old Window ordering
    desc(ccos), asc(cid) — negation reverses Spark's total order on
    doubles, ties fall through to the id.
    """
    sq = lambda acc, v: acc + v.cast("double") * v.cast("double")  # noqa: E731
    cent0 = (
        centroids
        if centroids is not None
        else emb.orderBy(id_col).limit(n_centroids)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
    )
    cent = (
        cent0
        .withColumn("cnorm", F.sqrt(F.aggregate(F.col("cvec"), F.lit(0.0), sq)))
        .agg(F.collect_list(F.struct("cid", "cvec", "cnorm")).alias("cents"))
    )

    def score(c):
        dot = F.aggregate(
            F.zip_with(
                F.col("vec"), c["cvec"],
                lambda x, y: x.cast("double") * y.cast("double"),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        ccos = F.round(dot / (F.col("__vn") * c["cnorm"]), 6)
        return F.struct((-ccos).alias("nc"), c["cid"].alias("cid"))

    probes = F.slice(F.array_sort(F.transform(F.col("cents"), score)), 1, nprobe)
    # the when-guard references __vn a second time OUTSIDE the lambda:
    # CollapseProject refuses to inline a non-cheap alias used twice, so
    # the norm stays staged (one O(d) eval per row) instead of being
    # folded into the lambda and re-evaluated per centroid (O(C·d)
    # extra). Same mechanism as l2_normalize. Side effect: an all-zero
    # vector gets null probes (cosine undefined) instead of NaN scores.
    from gogstash_spark.functions.partitions import spread

    return (
        spread(emb.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")))
        .crossJoin(F.broadcast(cent))
        .withColumn("__vn", F.sqrt(F.aggregate(F.col("vec"), F.lit(0.0), sq)))
        .withColumn("probes", F.when(F.col("__vn") > 0, probes))
        .drop("cents", "__vn")
    )


def ivf_train(
    emb: DataFrame,
    n_centroids: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd k-means for IVF centroids: (cid, cvec) after `iters`
    refinement rounds from the deterministic min-id seed.

    Per iteration, exactly the two scale-shaped jobs the ivf_topk
    docstring promises: ASSIGN = the same shuffle-free broadcast
    scoring as ivf_assign (nprobe=1, zero hash exchange on the n rows);
    RECOMPUTE = posexplode to (cell, dim, value) then ONE
    groupBy(cell, dim) mean and a collect_list rebuild — one shuffle
    whose width is C×d rows, independent of n after the partial
    aggregation. Empty cells keep their previous centroid (standard
    Lloyd degenerate-cell rule). Deterministic end to end: seed is
    min-id, means are exact, iteration count fixed — reproducible
    across runs, which is what lets ivf_topk's serving plan stay
    oracle-checkable regardless of how centroids were produced.
    """
    sq = lambda acc, v: acc + v.cast("double") * v.cast("double")  # noqa: E731
    cent = (
        emb.orderBy(id_col).limit(n_centroids)
        .select(
            F.col(id_col).alias("cid"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cvec"),
        )
    )
    from gogstash_spark.functions.partitions import spread

    # per-iteration scoring + the posexplode feeding the means are
    # interpreted HOF work over byte-light rows — lift a collapsed scan
    # to full core count once, outside the loop
    base = spread(
        emb.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    )
    for _ in range(iters):
        carr = cent.withColumn(
            "cnorm", F.sqrt(F.aggregate(F.col("cvec"), F.lit(0.0), sq))
        ).agg(F.collect_list(F.struct("cid", "cvec", "cnorm")).alias("cents"))

        def score(c):
            dot = F.aggregate(
                F.zip_with(F.col("vec"), c["cvec"],
                           lambda x, y: x.cast("double") * y),
                F.lit(0.0), lambda acc, v: acc + v,
            )
            ccos = F.round(dot / (F.col("__vn") * c["cnorm"]), 6)
            return F.struct((-ccos).alias("nc"), c["cid"].alias("cid"))

        assigned = (
            base.crossJoin(F.broadcast(carr))
            .withColumn("__vn", F.sqrt(F.aggregate(F.col("vec"), F.lit(0.0), sq)))
            .withColumn(
                "cell",
                F.when(
                    F.col("__vn") > 0,
                    F.element_at(
                        F.array_sort(F.transform(F.col("cents"), score)), 1
                    )["cid"],
                ),
            )
            .filter(F.col("cell").isNotNull())
            .select("cell", "vec")
        )
        means = (
            assigned.select("cell", F.posexplode(F.col("vec")).alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s["m"],
                ).alias("new_cvec")
            )
        )
        cent = (
            cent.join(means, cent["cid"] == means["cell"], "left")
            .select("cid", F.coalesce("new_cvec", "cvec").alias("cvec"))
            # cent is referenced TWICE per round (carr seed + join left
            # side): without truncation the final plan holds ~2^iters
            # copies of the centroid subtree, each re-scanning emb.
            # The frame is C rows — materializing it per round is free
            # and keeps the per-iteration work at exactly the two jobs
            # described above.
            .localCheckpoint(eager=True)
        )
    return cent


def ivf_topk(
    emb: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_id: int | None = 100,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat ANN: partition the space into centroid cells, search
    only the query's nprobe nearest cells. Pass `centroids` (cid, cvec
    — e.g. from ivf_train) to serve against trained cells; the serving
    plan is identical either way.

    Shapes at scale: cell assignment is shuffle-free (see ivf_assign);
    candidate generation is an EQUI-JOIN on the cell id — the cell is
    the shuffle/partition key, exactly like the LSH bucket, and
    nprobe > 1 trades recall for nprobe× candidate volume. Each base
    vector lives in exactly one cell so candidates need no dedup.

    Centroids here are the n_centroids embeddings with the smallest
    ids — deterministic and replicable by the SQL oracle. Production
    would seed by hash-sample and run a few Lloyd iterations (assign =
    this same broadcast scoring; recompute = groupBy(cell) mean — one
    shuffle per iteration); the serving-time plan below is identical
    either way, which is what the parity check pins.
    """
    assigned = ivf_assign(emb, n_centroids, nprobe, id_col, vec_col, centroids)
    cells = assigned.select(
        F.col("vid").alias("n_id"),
        F.col("vec").alias("n_vec"),
        F.element_at(F.col("probes"), 1)["cid"].alias("cid"),
    )
    probes = assigned
    if max_query_id is not None:
        probes = probes.filter(F.col("vid") < max_query_id)
    probes = probes.select(
        F.col("vid").alias("q_id"),
        F.col("vec").alias("q_vec"),
        F.explode(F.col("probes")["cid"]).alias("cid"),
    )
    pairs = (
        probes.join(cells, "cid")
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn("cos", _cos(F.col("q_vec"), F.col("n_vec")))
    )
    return _rank_topk(pairs, k)


def l2_normalize(
    emb: DataFrame, vec_col: str = "embedding", target: str = "embedding_norm"
) -> DataFrame:
    """Unit-normalize an embedding column. Zero vectors stay zero (no
    NaN). The norm is STAGED in a temp column before the per-element
    transform: higher-order-function lambdas re-evaluate their whole
    body per element (no CSE — they are CodegenFallback), so an inlined
    norm aggregate would make this O(d^2) per row (measured ~100x at
    d=1024)."""
    v = F.col(vec_col)
    norm = F.sqrt(F.aggregate(
        v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    ))
    n = F.col("__l2n")
    return (
        emb.withColumn("__l2n", norm)
        .withColumn(
            target,
            F.when(n > 0, F.transform(v, lambda x: F.round(x.cast("double") / n, 6)))
            .otherwise(F.transform(v, lambda x: x.cast("double"))),
        )
        .drop("__l2n")
    )


def quantize_int8(
    emb: DataFrame, vec_col: str = "embedding",
    target: str = "embedding_q", scale_col: str = "q_scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization (the storage/serving
    compression step of an embedding pipeline): scale = max|x| / 127,
    q_i = floor(x_i / scale + 0.5) (half-up — identical in every engine,
    unlike bankers'-rounding variants). Dequantize as q_i * scale.
    The scale is staged in its column BEFORE the quantizing transform —
    inlining it would re-run the array_max per element (O(d^2))."""
    v = F.col(vec_col)
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.when(max_abs > 0, max_abs / F.lit(127.0)).otherwise(F.lit(1.0))
    sc = F.col("__qs")  # exact scale for the division; rounded for output
    return (
        emb.withColumn("__qs", scale)
        .withColumn(scale_col, F.round(sc, 9))
        .withColumn(
            target,
            F.transform(
                v, lambda x: F.floor(x.cast("double") / sc + F.lit(0.5)).cast("int")
            ),
        )
        .drop("__qs")
    )


def cosine_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b) within
    sign-LSH buckets — the embedding flavor of dedup. bucket_cap bounds
    the within-bucket self-join against mass-duplicate embeddings."""
    with_b = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        sign_bucket(F.col(vec_col), n_bits).alias("bucket"),
    )
    with_b = cap_groups(with_b, ["bucket"], bucket_cap)
    a = with_b.select(F.col("id").alias("id_a"), F.col("vec").alias("va"), "bucket")
    b = with_b.select(F.col("id").alias("id_b"), F.col("vec").alias("vb"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", _cos(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def _round6_ge_bound(threshold: float) -> float:
    """Exact double bound T with: round(q, 6) >= threshold  <=>  q >= T
    for every double q (round = Spark's Round: BigDecimal HALF_UP on
    the exact binary expansion; NaN fails both sides).

    Derivation over exact decimals: round6 is monotone, so the pass set
    is a half-line. Its decimal boundary is B = kmin/1e6 - 5e-7 where
    kmin is the smallest integer k whose 6-dp double value compares
    >= threshold; B itself passes iff kmin >= 1 (HALF_UP rounds the
    positive half-case up, the negative one away from zero). T is then
    the smallest double satisfying the decimal condition.
    """
    import math
    from decimal import Decimal

    t = Decimal(float(threshold))  # exact binary expansion
    k = math.ceil(t * Decimal(10) ** 6)
    # need: nearest-double(k*1e-6) >= threshold as DOUBLES
    while float(Decimal(k) / 1000000) < threshold:
        k += 1
    while float(Decimal(k - 1) / 1000000) >= threshold:
        k -= 1
    bound = Decimal(k) / 1000000 - Decimal("0.0000005")
    closed = k >= 1  # B rounds up into the pass set iff positive side
    d = float(bound)
    dd = Decimal(d)
    if closed:
        return d if dd >= bound else math.nextafter(d, math.inf)
    return math.nextafter(d, math.inf) if dd <= bound else d


def _semdedup_drops_arrow(capped: DataFrame, threshold: float) -> DataFrame:
    """Dropped ids per cell via one grouped pandas kernel: for each
    cell, rows sorted by id; row j is dropped iff some earlier row i
    has round6(cos(i, j)) >= threshold. The k-loop accumulation keeps
    Spark's exact left-fold order per pair (vectorized across pairs —
    elementwise multiply then add, two correctly-rounded IEEE steps,
    never a fused BLAS contraction), so the drop set is bit-identical
    to the join formulation. Ships (vid, vec, nrm) per group — the
    same columns the join shuffled; cluster_cap bounds group size."""
    import numpy as np
    import pandas as pd

    bound = _round6_ge_bound(threshold)
    id_type = capped.schema["vid"].dataType.simpleString()

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vid", kind="mergesort").reset_index(drop=True)
        n = len(pdf)
        if n < 2:
            return pdf.iloc[0:0][["vid"]]
        v = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
        nr = pdf["nrm"].to_numpy(dtype=np.float64)
        dropped = np.zeros(n, dtype=bool)
        blk = 1024
        for j0 in range(0, n, blk):
            j1 = min(j0 + blk, n)
            acc = np.zeros((j1, j1 - j0))
            vi, vj = v[:j1], v[j0:j1]
            for kk in range(v.shape[1]):
                acc += np.multiply.outer(vi[:, kk], vj[:, kk])
            with np.errstate(divide="ignore", invalid="ignore"):
                q = acc / np.multiply.outer(nr[:j1], nr[j0:j1])
            p = q >= bound
            ii = np.arange(j1)[:, None]
            jj = np.arange(j0, j1)[None, :]
            p &= ii < jj
            dropped[j0:j1] |= p.any(axis=0)
        return pdf.loc[dropped, ["vid"]]

    return capped.select("cell", "vid", "vec", "nrm").groupBy("cell").applyInPandas(
        kernel, schema="vid %s" % id_type
    )


def semantic_dedup(
    emb: DataFrame,
    n_centroids: int = 8,
    iters: int = 3,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_cap: int | None = 100_000,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication in embedding space — k-means-cluster the corpus, then
    prune near-duplicate pairs WITHIN each cluster only, so the pair
    search is never corpus-quadratic. The published recipe's keep rule
    is arbitrary-within-ball ("keeping random examples performs
    similarly" — §4.1); here the kept member is the min id, which makes
    the output a pure deterministic function of the input.

    Drop rule — one-pass greedy by id: a vector is dropped iff some
    SAME-CLUSTER vector with a smaller id has cosine >= threshold with
    it, whether or not that neighbor itself survives. A chain a~b~c
    (ids a<b<c, cos(a,c) < threshold) therefore keeps only a: chains
    collapse to their min id in a single pass with no fixpoint
    iteration, at the cost that a survivor need not be within the
    threshold of every member it displaced (exact transitive groups
    are dedup_groups' job).

    Returns (id, cell) for every SURVIVING vector; vectors k-means
    cannot place (zero norm — cosine undefined) survive with cell NULL.

    Scale shape (100 TB of embeddings): centroid training and cell
    assignment ride ivf_train/ivf_assign (broadcast scoring, no hash
    exchange on the big side); the only corpus-sized shuffle is the
    within-cell self-equi-join, whose cost is sum(cell_size²) — choose
    n_centroids ~ n/target_cell_size to bound it, and clusters larger
    than cluster_cap are SKIPPED (kept whole, never silently dropped:
    audit them with clusters.groupBy("cell").count()). The drop set is
    distinct ids only (narrow), anti-joined back in one pass.
    """
    cent = (
        centroids
        if centroids is not None
        else ivf_train(
            emb, n_centroids=n_centroids, iters=iters,
            id_col=id_col, vec_col=vec_col,
        )
    )
    # (vid, vec, nrm, cell) — cell NULL for zero-norm vectors. Feeds
    # three plan branches (cap count, kernel + the final anti-join),
    # so persist: re-deriving the assignment means re-scoring the
    # corpus against every centroid per branch. The norm is staged HERE
    # — once per ROW — because the pair filter below would otherwise
    # recompute two O(d) norm aggregates per PAIR, tripling the work of
    # the quadratic hot loop (the per-pair dot product is the only O(d)
    # term that genuinely needs pair granularity). ivf_assign already
    # spreads its scan, so the cached frame runs at full core count
    # (round-6 measurement: a single-row-group scan otherwise ran the
    # whole pair loop on 2 of 32 cores).
    sq = lambda acc, v: acc + v.cast("double") * v.cast("double")  # noqa: E731
    a = (
        ivf_assign(emb, nprobe=1, id_col=id_col, vec_col=vec_col, centroids=cent)
        .select("vid", "vec", F.element_at("probes", 1)["cid"].alias("cell"))
        .withColumn("nrm", F.sqrt(F.aggregate("vec", F.lit(0.0), sq)))
    ).persist()
    # the quadratic stage as ONE vectorized Arrow kernel per cell: the
    # pair loop is O(sum cell² x d) arithmetic over byte-light rows,
    # exactly the regime where JVM expression evaluation loses — HOF
    # folds are interpreted per pair, and a codegen'd unrolled chain
    # lands in a >8 KB generated method that HotSpot refuses to JIT
    # (measured round 6: 10 us/pair interpreted, 38 us/pair "codegen",
    # 0.05 us/pair numpy). Arithmetic is reproduced EXACTLY: the k-loop
    # accumulates fl(acc + fl(a_k*b_k)) per pair in index order
    # (vectorized ACROSS pairs, not within), norms ride in from the
    # staged Spark column, and the round-6 >= threshold test is folded
    # into one exact double bound (_round6_ge_bound). cluster_cap
    # bounds the per-group memory.
    capped = cap_groups(a.where(F.col("cell").isNotNull()), ["cell"], cluster_cap)
    drops = _semdedup_drops_arrow(capped, threshold)
    # the drop set is distinct ids (narrow); broadcast it into the
    # anti-join when the corpus scan estimate says it surely fits
    # (drops ⊆ ids, so emb bounds it — the drop frame's own estimate
    # is wildly pessimistic), so the kept-rows pass is shuffle-free at
    # bench scale and degrades to the shuffled anti-join at cluster
    # scale
    drops = F.broadcast(drops) if fits_broadcast(emb) else drops
    return a.join(drops, "vid", "left_anti").select(
        F.col("vid").alias(id_col), "cell"
    )


def cluster_balanced_sample(
    emb: DataFrame,
    per_cell: int,
    n_centroids: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: DataFrame | None = None,
    exact: bool = True,
) -> DataFrame:
    """Diversity-balanced subset selection: k-means cells over the
    embedding space, then an equal-mass deterministic sample per cell —
    the cluster-balanced selection of DataComp-style curation (a corpus
    dominated by one dense region contributes no more than any other
    region). Returns (vid, cell).

    A row's fate is a pure function of (vid, seed): draw = md5(vid:seed),
    so reruns, repartitions, and engines agree (the stratified_sample
    contract, full 32-hex entropy since cells rank within themselves).

    exact=True keeps EXACTLY min(per_cell, |cell|) rows per cell via a
    row_number window partitioned by cell — ONE shuffle on the cell id;
    cells are k-means-balanced by construction, and a pathological mega
    cell is the signal to raise n_centroids, not salt the window.
    exact=False keeps per_cell rows in EXPECTATION with NO corpus
    shuffle at all: per-cell keep rates (per_cell / |cell|) ride a
    C-row broadcast join into a plan-time threshold filter against the
    4-hex draw prefix (granularity 1/65536 — the stratified_sample
    tradeoff).

    Zero-norm vectors have no cell (cosine undefined) and are excluded,
    matching ivf_assign/semantic_dedup.
    """
    if per_cell < 1:
        raise ValueError("per_cell must be >= 1, got %r" % per_cell)
    cents = (
        centroids
        if centroids is not None
        else ivf_train(emb, n_centroids, iters, id_col, vec_col)
    )
    assigned = ivf_assign(emb, n_centroids, 1, id_col, vec_col, cents)
    cells = assigned.select(
        "vid", F.element_at(F.col("probes"), 1)["cid"].alias("cell")
    ).where(F.col("cell").isNotNull())
    draw = F.md5(F.concat_ws(":", F.col("vid").cast("string"), F.lit(str(seed))))
    if exact:
        w = Window.partitionBy("cell").orderBy(F.asc("draw"), F.asc("vid"))
        return (
            cells.withColumn("draw", draw)
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= per_cell)
            .select("vid", "cell")
        )
    counts = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n_cell"))
    rate = F.least(
        F.lit(1.0), F.lit(float(per_cell)) / F.col("n_cell").cast("double")
    )
    # plan-computed hex threshold: int(rate*65536) as 4 lowercase hex
    # digits; rate >= 1 keeps all ('g' sorts after every hex digit)
    thr = F.when(rate >= 1.0, F.lit("g")).otherwise(
        F.lower(F.lpad(F.hex((rate * 65536).cast("int")), 4, "0"))
    )
    return (
        cells.join(F.broadcast(counts.withColumn("__thr", thr).select("cell", "__thr")), "cell")
        .where(F.substring(draw, 1, 4) < F.col("__thr"))
        .select("vid", "cell")
    )


def embedding_report(
    emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-dimension embedding health table: (dim, mean, std, min, max)
    over the corpus — the drift report an embedding pipeline publishes
    per snapshot (a collapsed dimension, a shifted mean, or an exploding
    scale shows up here before it silently degrades every ANN/dedup op
    downstream). std is the POPULATION standard deviation (sqrt of the
    biased variance) so two engines agree without Bessel conventions.

    Scale shape: ONE posexplode -> ONE map-side-combinable groupBy(dim)
    whose output width is d rows regardless of corpus size. NULL
    vectors are skipped (posexplode drops them); all-zero vectors count
    — they are exactly the pathology the report exists to surface.
    """
    ex = emb.select(F.posexplode(F.col(vec_col)).alias("dim", "x")).select(
        "dim", F.col("x").cast("double").alias("x")
    )
    return ex.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("x"), 6).alias("mean"),
        F.round(F.sqrt(F.var_pop("x")), 6).alias("std"),
        F.round(F.min("x"), 6).alias("min"),
        F.round(F.max("x"), 6).alias("max"),
    )


def ann_recall_eval(exact_topk: DataFrame, approx_topk: DataFrame) -> DataFrame:
    """Evaluation-driven ANN tuning: ONE row (n_queries, n_true,
    n_found, recall) measuring an approximate top-k result (lsh_topk /
    ivf_topk / pq_topk output — any frame with q_id, n_id) against the
    exact one (brute_topk on the same bounded query slice). The same
    contract as dedup_lsh_eval: run the quadratic exact side on a
    VALIDATION sample, read recall as the knob signal (nprobe, bands,
    n_centroids, m) before serving quality silently degrades.

    Scale shape: one equi-join on (q_id, n_id) between two k*|queries|
    frames and a 1-row aggregate — negligible next to producing either
    input.
    """
    t = exact_topk.select("q_id", "n_id")
    a = approx_topk.select("q_id", "n_id", F.lit(1).alias("__hit"))
    j = t.join(a, ["q_id", "n_id"], "left")
    return j.agg(
        F.countDistinct("q_id").alias("n_queries"),
        F.count(F.lit(1)).alias("n_true"),
        F.sum(F.coalesce("__hit", F.lit(0))).cast("long").alias("n_found"),
        F.round(
            F.when(
                F.count(F.lit(1)) > 0,
                F.sum(F.coalesce("__hit", F.lit(0)))
                / F.count(F.lit(1)).cast("double"),
            ).otherwise(F.lit(1.0)),
            6,
        ).alias("recall"),
    )
