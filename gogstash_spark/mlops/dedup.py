"""Deduplication at training-data scale.

- exact:        hash-groupBy on md5(text) — one shuffle, map-side combine
- minhash_lsh:  shingle -> K md5-minhashes -> band buckets -> candidate
                pairs via bucket join -> exact-Jaccard verify.
                The classic MinHash+LSH decomposition: candidate
                generation never goes quadratic; the verify join touches
                only same-bucket pairs.
- simhash:      16-bit md5-derived simhash; near-dups share the value
- ngram_jaccard: token-shingle inverted-index self-join (|A∩B| from a
                shared-shingle join, |A∪B| = |A|+|B|-|A∩B|)
- embedding cosine: see ann.py

All hashes are md5-of-string so Spark results are bit-identical to the
DuckDB oracle (engine-portable determinism, no JVM-specific hashing in
the dedup semantics).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from gogstash_spark.functions.hof import staged
from gogstash_spark.functions.partitions import cap_groups, fits_broadcast, hot_groups, spread
from gogstash_spark.mlops.textops import tokens, ws_token_len
from gogstash_spark.session import observed


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: md5(text) -> (keep_id=min(id), n_dups)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("h"), F.col(id_col))
        .groupBy("h")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
        .filter(F.col("n_dups") > 1)
    )


def shingle_sets(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(id, sh_set array<string>) — distinct word n-gram shingles per doc."""
    if n == 1:
        sh = F.array_distinct(tokens(F.col(text_col)))
    else:
        # slice-based shingling: one HOF call per shingle instead of n
        # element_at calls (measured 2.3x faster; HOF lambdas are
        # interpreted, not codegen'd). The token array is STAGED so the
        # regex split runs once per row, not once per shingle (the
        # O(n²) trap functions/hof.py documents).
        # docs with < n tokens have no n-shingles: sequence(1, <1) would
        # descend and slice() would throw, so guard with a lazily-evaluated
        # CASE WHEN (CaseWhen short-circuits per row)
        sh = staged(
            tokens(F.col(text_col)),
            lambda toks: F.when(
                F.size(toks) >= n,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
                    )
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
    return df.select(F.col(id_col).alias("id"), sh.alias("sh_set"))


def shingle_df(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """(id, shingle) pairs: the exploded inverted-index form."""
    return shingle_sets(df, text_col, id_col, n).select(
        "id", F.explode("sh_set").alias("shingle")
    )


def minhash_signatures(
    sh: DataFrame, k: int = 4
) -> DataFrame:
    """K md5-minhashes per doc from exploded (id, shingle) pairs:
    m_j = min(md5(j || '|' || shingle)). Shuffles on id — prefer
    minhash_signatures_from_sets when the set form is already at hand."""
    aggs = [
        F.min(F.md5(F.concat(F.lit("%d|" % j), F.col("shingle")))).alias("m%d" % j)
        for j in range(k)
    ]
    return sh.groupBy("id").agg(*aggs)


def _minhashes(k: int) -> list[Column]:
    """m0..m{k-1} of a row's sh_set: m_j = min(md5(j || '|' || shingle))."""
    def mh(j: int):
        # closure factory: a default-arg lambda would look 2-ary and make
        # F.transform pass the element INDEX as the second argument
        return F.array_min(
            F.transform(F.col("sh_set"), lambda s: F.md5(F.concat(F.lit("%d|" % j), s)))
        ).alias("m%d" % j)

    return [mh(j) for j in range(k)]


def minhash_signatures_from_sets(sets: DataFrame, k: int = 4) -> DataFrame:
    """Same signatures computed per row from the sh_set array with
    array_min(transform(...)) — a pure projection, NO shuffle (the
    explode+groupBy form costs a full shuffle on id). Rows with empty
    shingle sets are excluded (no signature exists for them)."""
    return sets.filter(F.size("sh_set") > 0).select("id", *_minhashes(k))


def _text_key(text_col: str, id_col: str) -> Column:
    """Exact-dup key: md5(text), or "\\x00" || id for a NULL text, so
    every NULL-text row is its own group (the prefix cannot collide
    with md5's hex alphabet)."""
    return F.when(F.col(text_col).isNotNull(), F.md5(F.col(text_col))).otherwise(
        F.concat(F.lit("\x00"), F.col(id_col).cast("string"))
    )


def collapse_exact_texts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """One representative row per distinct text: id = min(id) per md5(text).

    Run BEFORE near-dup detection so a million-way boilerplate cluster
    contributes ONE row to every LSH bucket instead of n (the n² pair
    explosion lives in exact duplicates, which exact_dup_groups already
    reports cheaply). keep_cols carry extra columns through with
    min_by(col, id) — the representative row's values.

    NULL-text rows are NOT duplicates of each other: md5(NULL) is NULL
    and groupBy puts every NULL key in one group, which would silently
    collapse N distinct missing-text docs into one. `_text_key` keys
    those rows by their own id instead."""
    aggs = [F.min(id_col).alias(id_col), F.min(text_col).alias(text_col)]
    aggs += [F.min_by(c, F.col(id_col)).alias(c) for c in keep_cols or []]
    return (
        df.groupBy(_text_key(text_col, id_col).alias("__th"))
        .agg(*aggs)
        .select(id_col, text_col, *(keep_cols or []))
    )


def lsh_band_buckets(sig: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """Explode a minhash signature frame (id, m0..m{b*r-1}) to
    (id, band, v) where v concatenates the band's r row-hashes."""
    structs = []
    for bnd in range(bands):
        v = F.concat_ws(
            "|", *[F.col("m%d" % (bnd * rows_per_band + j)) for j in range(rows_per_band)]
        )
        structs.append(F.struct(F.lit(bnd).alias("band"), v.alias("v")))
    return sig.select("id", F.explode(F.array(*structs)).alias("b")).select(
        "id", F.col("b.band").alias("band"), F.col("b.v").alias("v")
    )


def lsh_hot_buckets(buckets: DataFrame, bucket_cap: int) -> DataFrame:
    """(band, v, cnt) for buckets over the cap — the rows a capped run
    skips. Surface this to the caller/logs: capping must never be a
    silent truncation."""
    return hot_groups(buckets, ["band", "v"], bucket_cap)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 1,
    threshold: float = 0.5,
    bucket_cap: int | None = None,
    collapse_exact: bool = True,
) -> DataFrame:
    """Near-dup pairs via MinHash banding verified with exact Jaccard.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    With collapse_exact (default), ids are per-distinct-text
    representatives (min id per md5(text)) — exact duplicates are
    reported by exact_dup_groups, not re-derived here.

    bands × rows_per_band tunes the S-curve: P(candidate) =
    1 - (1 - s^rows)^bands for Jaccard s. rows=1 means "shares ANY
    minhash" (high recall); more rows sharpen precision.

    Scale shape: each doc's band rows carry its shingle set, so ONE
    (band, v) self-join (a bucket equi-join, never quadratic) yields the
    candidates and verifies them with array_intersect on the joined row
    — no cache, broadcast or join back on id, and no job while building.
    Multi-band pairs are deduped on the far smaller survivor set.
    bucket_cap drops buckets holding > cap docs (use lsh_hot_buckets to
    log what was dropped — no silent truncation).
    """
    # lift a single-row-group scan to full parallelism BEFORE the md5
    # collapse (its map side otherwise runs on one core), and again for
    # the K md5-minhash passes over the shingle sets (interpreted HOF
    # work over byte-light rows that AQE's byte-based coalescing would
    # squeeze onto 1-2 cores)
    df = spread(df)
    if collapse_exact:
        df = collapse_exact_texts(df, text_col, id_col)
    sets = spread(shingle_sets(df, text_col, id_col, n))
    # lsh_band_buckets passes "id" through, so the struct (id, sh_set)
    # carries the set into the join. An empty set's band values are "":
    # it is dropped after the explode, as a filter on sh_set is pushed
    # below the shingling and shingles every doc twice (22% on 40k docs)
    sig = sets.select(F.struct("id", "sh_set").alias("id"), *_minhashes(bands * rows_per_band))
    bucket_rows = lsh_band_buckets(sig, bands, rows_per_band).filter(F.col("v") != "")
    buckets = cap_groups(bucket_rows, ["band", "v"], bucket_cap)
    inter = F.size(F.array_intersect(F.col("x.id.sh_set"), F.col("y.id.sh_set")))
    union = F.size("x.id.sh_set") + F.size("y.id.sh_set") - inter
    return (
        buckets.alias("x")
        .join(buckets.alias("y"), ["band", "v"])
        .filter(F.col("x.id.id") < F.col("y.id.id"))
        .select(
            F.col("x.id.id").alias("id_a"),
            F.col("y.id.id").alias("id_b"),
            F.round(inter.cast("double") / union.cast("double"), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .distinct()
    )


def dedup_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 1,
    threshold: float = 0.5,
    bucket_cap: int | None = None,
    max_iter: int = 20,
) -> DataFrame:
    """The PRODUCTION dedup pipeline, end to end: collapse exact dups ->
    MinHash-LSH candidates -> exact-Jaccard verify -> connected
    components -> every document labeled with its dedup group
    (group_id = min doc id of its component). One row per input doc;
    keep rows where doc_id == group_id to deduplicate a corpus. A
    NULL-text doc is its own group (the collapse_exact_texts key).

    Scale shape per stage:
    - exact collapse: one md5 hash-groupBy (the dedup_exact shape);
    - candidates/verify: minhash_lsh_pairs — one (band, v) self-join
      whose rows carry both shingle sets, so the exact Jaccard is
      computed on the join's rows, never all-pairs and never a join
      back on id;
    - components: iterative min-label propagation over the near-dup
      edges ONLY (isolated reps skip the loop entirely — at corpus
      scale the edge graph is orders of magnitude smaller than the
      corpus), one hop per round. The edge frame is localCheckpoint'ed
      once, and each round is ONE job: the label join, an observe of
      how many labels shrink, and a localCheckpoint of the new labels.
      The label frame is referenced twice per round, so without the
      per-round truncation the plan would triple every round; with it
      every round plans the same fixed tree. A component whose
      diameter exceeds max_iter would exit with PARTIALLY merged
      groups, so that raises instead of returning a silently wrong
      answer (the same no-silent-truncation rule as bucket_cap).

    Non-SQL-expressible in one query? No: the DuckDB oracle replicates
    the whole thing, components via a recursive CTE — full value-hash
    parity, no rows-only waiver.
    """
    mapping = df.select(
        F.col(id_col).alias("doc_id"), _text_key(text_col, id_col).alias("__h")
    )
    reps = mapping.groupBy("__h").agg(F.min("doc_id").alias("rep"))
    doc_rep = mapping.join(reps, "__h").select("doc_id", "rep")

    pairs = minhash_lsh_pairs(
        df, text_col, id_col, n, bands, rows_per_band, threshold,
        bucket_cap, collapse_exact=True,
    )
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    # truncated once, so no round re-analyzes the minhash_lsh_pairs plan
    edges_sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)

    labels = (
        edges_sym.select(F.col("src").alias("id")).distinct()
        .withColumn("lbl", F.col("id"))
    )
    changed = 0
    for _ in range(max_iter):
        nbr = (
            edges_sym.join(
                labels.select(F.col("id").alias("dst"), F.col("lbl").alias("dlbl")),
                "dst",
            )
            .groupBy("src").agg(F.min("dlbl").alias("nlbl"))
            .withColumnRenamed("src", "id")
        )
        obs = Observation()
        labels = (
            labels.join(nbr, "id", "left")
            .observe(obs, F.sum((F.col("nlbl") < F.col("lbl")).cast("long")).alias("changed"))
            .select(
                "id",
                F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        # a pruned observation reads {}; a sum over no rows is NULL
        changed = int(observed(obs).get("changed") or 0)
        if changed == 0:
            break
    if changed > 0:
        raise RuntimeError(
            "dedup_groups did not reach a fixpoint in max_iter=%d rounds "
            "(%d labels still changing): a near-dup chain has diameter > "
            "max_iter and its groups are PARTIALLY merged. Raise max_iter "
            "(label propagation needs one round per hop)." % (max_iter, changed)
        )
    return (
        doc_rep.join(labels.withColumnRenamed("id", "rep"), "rep", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("lbl"), F.col("rep")).alias("group_id"),
        )
    )


def dedup_keep_best(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    score: Column | None = None,
    **group_kwargs,
) -> DataFrame:
    """Quality-aware corpus dedup: label near-dup groups (the full
    dedup_groups pipeline: exact collapse -> MinHash-LSH -> verify ->
    connected components), then keep exactly ONE document per group —
    the highest-scoring member, ties broken by lowest doc id. The
    naive policy (keep min-id, i.e. `doc_id == group_id`) discards a
    clean original whenever a lower-id boilerplate-wrapped copy exists;
    production curation keeps the best copy, not the first.

    `score`: any Column over df's columns (bigger = better). Default:
    the textops composite quality score. One row per kept doc:
    (doc_id, group_id, group_size, score).

    Scale shape: dedup_groups does all the heavy lifting (see its
    docstring); this adds one codegen score projection and ONE
    hash-groupBy on group_id over a narrow (id, group, score) frame —
    the argmax rides a struct min (no window, no second shuffle, no
    join back against the corpus).
    """
    from gogstash_spark.mlops.textops import quality_score

    if score is None:
        scored = quality_score(df.select(id_col, text_col), text_col).select(
            F.col(id_col).alias("doc_id"), F.col("quality").alias("__score")
        )
    else:
        scored = df.select(
            F.col(id_col).alias("doc_id"), score.cast("double").alias("__score")
        )
    groups = dedup_groups(df, text_col, id_col, **group_kwargs)
    # min(struct(-score, id)) == (max score, then min id): one agg,
    # deterministic under ties, no row_number window
    best = F.min(
        F.struct((-F.col("__score")).alias("ns"), F.col("doc_id").alias("kid"))
    )
    return (
        groups.join(scored, "doc_id")
        .groupBy("group_id")
        .agg(F.count(F.lit(1)).alias("group_size"), best.alias("b"))
        .select(
            F.col("b.kid").alias("doc_id"),
            "group_id",
            "group_size",
            F.round(-F.col("b.ns"), 6).alias("score"),
        )
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """16-bit SimHash from token md5s, engine-portable.

    Bit b = sign of sum over tokens of (lsb of hex digit b of md5(token)
    -> +1/-1). Output as a 16-char '0'/'1' string (portable across
    engines without bit types).
    """
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok")
    ).withColumn("h", F.md5(F.col("tok")))
    bit_sums = tok.groupBy("id").agg(
        *[
            F.sum(
                F.when(
                    F.instr(F.lit("13579bdf"), F.substring(F.col("h"), b + 1, 1)) > 0,
                    F.lit(1),
                ).otherwise(F.lit(-1))
            ).alias("s%d" % b)
            for b in range(16)
        ]
    )
    sig = bit_sums.select(
        "id",
        F.concat(
            *[F.when(F.col("s%d" % b) > 0, F.lit("1")).otherwise(F.lit("0")) for b in range(16)]
        ).alias("simhash"),
    )
    return sig


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash (production width; the 16-bit `simhash` is the
    demo form). Bits 0..31 come from the lsb of md5(token)'s hex digits,
    bits 32..63 from md5('s|' + token) — engine-portable, no JVM hashing.
    """
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok")
    ).withColumn("h1", F.md5(F.col("tok"))).withColumn(
        "h2", F.md5(F.concat(F.lit("s|"), F.col("tok")))
    )

    def bit(b: int):
        src, pos = ("h1", b + 1) if b < 32 else ("h2", b - 31)
        return F.when(
            F.instr(F.lit("13579bdf"), F.substring(F.col(src), pos, 1)) > 0, F.lit(1)
        ).otherwise(F.lit(-1))

    sums = tok.groupBy("id").agg(*[F.sum(bit(b)).alias("s%d" % b) for b in range(64)])
    return sums.select(
        "id",
        F.concat(*[
            F.when(F.col("s%d" % b) > 0, F.lit("1")).otherwise(F.lit("0"))
            for b in range(64)
        ]).alias("simhash"),
    )


def hamming_bits(a: Column, b: Column, n: int = 64) -> Column:
    """Hamming distance between two n-char '0'/'1' strings, native."""
    return F.size(F.filter(
        F.sequence(F.lit(1), F.lit(n)),
        lambda i: F.substr(a, i, F.lit(1)) != F.substr(b, i, F.lit(1)),
    ))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 7,
    collapse_exact: bool = True,
    bucket_cap: int | None = None,
) -> DataFrame:
    """All pairs with SimHash Hamming distance <= max_hamming via
    Hamming-neighbor banding: split the 64-bit signature into
    (max_hamming + 1) bands — by pigeonhole, any pair within the radius
    shares AT LEAST one band exactly, so a band equi-join finds every
    such pair (the banded path is EXACT, not approximate). Candidate
    generation never leaves equi-joins; the Hamming verify runs only on
    candidates. Requires (max_hamming + 1) to divide 64.

    With collapse_exact (default), ids are per-distinct-text
    representatives (min id per md5(text)): a million-way exact-dup
    cluster would otherwise share ALL bands and blow the band self-join
    to n²/2 candidates. Exact duplicates belong to exact_dup_groups.
    bucket_cap additionally drops band buckets with > cap members (a
    mass NEAR-dup cluster also shares bands); capping trades recall for
    a bound — report drops via lsh_hot_buckets on the band frame.
    """
    bands = max_hamming + 1
    if 64 % bands != 0:
        raise ValueError("max_hamming + 1 must divide 64 (got %d)" % bands)
    if collapse_exact:
        df = collapse_exact_texts(df, text_col, id_col)
    width = 64 // bands
    sig = simhash64(df, text_col, id_col).persist()
    bandv = sig.select(
        "id",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("band"),
                F.substring("simhash", i * width + 1, width).alias("v"),
            )
            for i in range(bands)
        ])).alias("b"),
    ).select("id", F.col("b.band").alias("band"), F.col("b.v").alias("v"))
    bandv = cap_groups(bandv, ["band", "v"], bucket_cap)
    cand = (
        bandv.alias("x")
        .join(bandv.alias("y"), ["band", "v"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    a = sig.select(F.col("id").alias("id_a"), F.col("simhash").alias("sa"))
    b = sig.select(F.col("id").alias("id_b"), F.col("simhash").alias("sb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("hamming", hamming_bits(F.col("sa"), F.col("sb")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard >= threshold via inverted-index join.

    TEST/VALIDATION PATH ONLY: the self-join is quadratic on hot
    shingles — this is the exact counterpart used to validate
    minhash_lsh_pairs, not a production dedup path. max_df drops
    shingles appearing in > max_df docs (biases Jaccard low for pairs
    sharing only hot shingles, but bounds the join at larger scales).
    """
    sh = cap_groups(shingle_df(df, text_col, id_col, n), ["shingle"], max_df).persist()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def repeated_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Substring-level exact dedup (the Lee et al. 2021 "Deduplicating
    Training Data" signal, hash-based instead of suffix-array): find
    every maximal span of tokens covered by k-token windows that occur
    >= min_count times ANYWHERE in the corpus (across or within
    documents). Training pipelines cut these spans — boilerplate
    headers, license blocks, templated passages — rather than dropping
    whole documents.

    Returns one row per (doc, span): doc_id, span_start / span_end
    (0-based token positions, inclusive), span_tokens.

    Scale shape (100 TB): positions explode to ~n_tokens rows of
    (md5, pos) — big but narrow (two columns), and the pipeline is
    shuffle-minimal from there: ONE map-side-combinable groupBy(h)
    keeps only hashes with count >= min_count (a tiny fraction by
    construction), the join back to positions is an equi-join on h
    that AQE co-partitions with the aggregate, and the
    gaps-and-islands merge windows over (doc, pos) touch only the
    surviving duplicated positions. Nothing quadratic, no crossJoin,
    no driver-side state.
    """
    t = spread(
        df.select(id_col, tokens(F.col(text_col)).alias("_toks")).where(
            F.size("_toks") >= k
        )
    )
    # sh feeds two plan branches (the hot-hash aggregate and the join
    # back to positions); persist so the window hashing of the corpus —
    # the dominant cost — runs once per action, not twice
    sh = t.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("_toks") - (k - 1)),
                lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("_toks"), i, k))),
            )
        ).alias("pos", "h"),
    ).persist()
    hot = sh.groupBy("h").agg(F.count("*").alias("c")).where(F.col("c") >= min_count)
    dup = sh.join(hot, "h").select(id_col, "pos")
    # islands merge hot windows whose k-token COVERAGE overlaps or
    # touches: starts p1 < p2 cover one contiguous token run iff
    # p2 - p1 <= k. Consecutive-start grouping (pos - row_number) is
    # wrong here — starts 0 and 2 at k=3 cover [0,2] and [2,4], which
    # must merge into ONE span [0,4] or downstream coverage sums
    # double-count the overlap. lag + running sum share one window
    # spec, so the plan sorts each doc's positions once.
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = dup.withColumn(
        "_new",
        F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)).otherwise(F.lit(1)),
    ).withColumn("_isl", F.sum("_new").over(w))
    return (
        islands.drop("_new")
        .groupBy(id_col, "_isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + (k - 1)).cast("long").alias("span_end"),
        )
        .drop("_isl")
        .withColumn("span_tokens", F.col("span_end") - F.col("span_start") + 1)
    )


def repeated_fraction(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Per-document duplicated-token fraction: the share of a doc's
    tokens covered by repeated >=k-token spans (repeated_substring_
    spans merged coverage / token count) — the filter knob substring
    dedup pipelines threshold on ("drop docs that are mostly
    boilerplate", keep docs whose duplication is incidental).

    Returns every input doc: (id, n_tokens, repeated_tokens,
    repeated_frac). Spans from the gaps-and-islands merge never
    overlap, so their lengths sum to exact coverage.
    """
    spans = repeated_substring_spans(
        df, text_col=text_col, id_col=id_col, k=k, min_count=min_count
    )
    per_doc = spans.groupBy(id_col).agg(
        F.sum("span_tokens").alias("repeated_tokens")
    )
    toks = df.select(id_col, ws_token_len(F.col(text_col)).alias("n_tokens"))
    return (
        toks.join(per_doc, id_col, "left")
        .withColumn(
            "repeated_tokens", F.coalesce("repeated_tokens", F.lit(0).cast("long"))
        )
        .withColumn(
            "repeated_frac",
            F.when(
                F.col("n_tokens") > 0,
                F.round(F.col("repeated_tokens") / F.col("n_tokens"), 6),
            ).otherwise(F.lit(0.0)),
        )
    )


def dedup_incremental(
    batch: DataFrame,
    seen: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup: keep the rows of `batch` whose text was
    neither kept earlier in THIS batch (min-id within the batch wins)
    nor ever ledgered before (`seen`: any frame with a `text_md5`
    column — typically the hash ledger the previous runs appended).
    Output = the batch's surviving rows + their `text_md5`, which IS
    the ledger delta to append for the next run: a continuous-crawl
    pipeline calls this per snapshot instead of re-deduping the whole
    corpus (the dedup_exact shape re-shuffles ALL history every run;
    here history costs one anti-join against a hash-only ledger —
    16-byte rows, not documents).

    Scale shape: ONE groupBy(text_md5) min-id keep-one over the batch
    (map-side combinable), join back on (hash, id) to recover columns,
    then LEFT ANTI join against the ledger on text_md5. Both joins key
    on the hash — at 100 TB bucket the ledger parquet by text_md5 so
    the anti-join co-locates without a ledger re-shuffle. The ledger is
    broadcast while it fits (fits_broadcast); it stops fitting long
    before the corpus does.

    seen=None (first snapshot) skips the anti-join entirely.

    NULL-text rows are NOT duplicates of each other (same rule and
    reason as collapse_exact_texts): md5(NULL) is NULL, which both
    collapses N distinct missing-text docs into one group AND never
    matches itself in the join-back. They key by their own id instead
    (the "\x00" prefix cannot collide with md5 hex) — each survives,
    and cross-snapshot they never match anything.
    """
    hashed = batch.withColumn("text_md5", _text_key(text_col, id_col))
    keep = (
        hashed.groupBy("text_md5")
        .agg(F.min(id_col).alias(id_col))
        .join(hashed, ["text_md5", id_col])
    )
    if seen is None:
        return keep
    ledger = seen.select("text_md5").distinct()
    if fits_broadcast(ledger):
        ledger = F.broadcast(ledger)
    return keep.join(ledger, "text_md5", "left_anti")


def conv_fingerprint(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Order-aware conversation content hash for chat training data:
    (conv_id, n_turns, conv_md5) where conv_md5 = md5 over the
    turn-ordered sequence of per-turn hashes. Re-ingested or mirrored
    conversations hash identically regardless of row order or
    partitioning. The per-turn hash is md5 over the pair of fixed-width
    field hashes (md5(role) || md5(text), NULL fields as a 1-char '-'
    marker that cannot collide with 32-hex) — injective, so
    (role='a', text='b:c') never collides with (role='a:b', text='c')
    and a NULL role is distinct from the same string as text.

    Scale shape: ONE groupBy(conv_id) — the collect_list is bounded by
    conversation length (a conversation that doesn't fit an aggregation
    buffer doesn't fit a context window either), sorted per group by
    the unique turn_idx, no window."""
    per_turn = F.struct(
        F.col(turn_col).alias("i"),
        F.md5(
            F.concat(
                F.coalesce(F.md5(F.col(role_col)), F.lit("-")),
                F.coalesce(F.md5(F.col(text_col)), F.lit("-")),
            )
        ).alias("h"),
    )
    return df.groupBy(F.col(conv_col).alias("conv_id")).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.md5(
            F.concat_ws(
                "|",
                F.transform(
                    F.array_sort(F.collect_list(per_turn)), lambda s: s["h"]
                ),
            )
        ).alias("conv_md5"),
    )


def conv_dedup(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Whole-conversation exact dedup: (conv_md5, keep_conv_id,
    n_convs, n_turns) — one row per distinct conversation CONTENT,
    keeping the smallest conv_id. Joining keep_conv_id back against the
    turns frame materializes the deduped corpus; n_convs > 1 rows are
    the duplicate clusters an audit samples.

    Scale shape: conv_fingerprint's single groupBy(conv_id), then ONE
    groupBy(conv_md5) over the per-conversation frame (corpus rows /
    mean turns per conv — orders smaller than the turns table)."""
    fp = conv_fingerprint(df, conv_col, turn_col, role_col, text_col)
    return fp.groupBy("conv_md5").agg(
        F.min("conv_id").alias("keep_conv_id"),
        F.count(F.lit(1)).alias("n_convs"),
        F.min("n_turns").alias("n_turns"),
    )


def neardup_incremental(
    batch: DataFrame,
    ledger_sig: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 4,
    bands: int = 4,
    rows_per_band: int = 1,
    est_threshold: float = 0.5,
    bucket_cap: int = 1000,
) -> DataFrame:
    """Incremental NEAR-dup dedup: drop batch docs that near-duplicate
    any previously-ledgered doc, where the ledger stores only MinHash
    SIGNATURES (id, m0..m{k-1} — k hex hashes per doc, not documents,
    not shingle sets). Candidates come from an LSH band equi-join
    between the batch's bands and the ledger's; each candidate is then
    verified with the classic MinHash Jaccard ESTIMATOR — the fraction
    of agreeing signature rows (granularity 1/k; raise k for a finer
    threshold). Survivors return with their m0..m{k-1} columns attached
    = the signature delta to append to the ledger for the next
    snapshot.

    Same division of labor as dedup_incremental: history never
    re-shuffles as documents — one band equi-join against a
    signature-only ledger (bucket the ledger parquet by the band value
    for co-location). Intra-batch near-dups are dedup_groups' job —
    run it first; this op only answers "seen anything LIKE this
    before?". Docs too short to shingle (< n words) have no signature:
    they always SURVIVE with NULL signature columns (near-dup of
    nothing) and must be ledgered by the exact path instead.

    Ledger-side hot buckets beyond bucket_cap are dropped from
    candidate generation (boilerplate bands would otherwise explode the
    join); lsh_hot_buckets on the ledger bands is the audit view — the
    cap is visible there, never silent.
    """
    m_cols = ["m%d" % j for j in range(k)]
    sets = shingle_sets(batch, text_col, id_col, n)
    sig_b = minhash_signatures_from_sets(sets, k)
    if ledger_sig is None:
        return batch.join(
            sig_b.withColumnRenamed("id", id_col), id_col, "left"
        )
    bands_b = lsh_band_buckets(sig_b, bands, rows_per_band)
    bands_l = cap_groups(
        lsh_band_buckets(ledger_sig.withColumnRenamed(id_col, "id"), bands, rows_per_band),
        ["band", "v"],
        bucket_cap,
    ).select(F.col("id").alias("lid"), "band", "v")
    cand = (
        bands_b.join(bands_l, ["band", "v"])
        .select(F.col("id"), "lid")
        .distinct()
    )
    agree = sum(
        (F.col("b.%s" % m) == F.col("l.%s" % m)).cast("int") for m in m_cols
    )
    matched = (
        cand.join(sig_b.alias("b"), "id")
        .join(
            ledger_sig.withColumnRenamed(id_col, "id").alias("l"),
            F.col("lid") == F.col("l.id"),
        )
        .where((agree.cast("double") / F.lit(float(k))) >= est_threshold)
        .select(F.col("b.id").alias("id"))
        .distinct()
    )
    survivors = batch.join(
        matched.withColumnRenamed("id", id_col), id_col, "left_anti"
    )
    return survivors.join(sig_b.withColumnRenamed("id", id_col), id_col, "left")


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus snapshot delta: one row per doc_id present in either
    snapshot, with status 'added' / 'removed' / 'changed' / 'unchanged'
    (changed = same id, different md5(text); NULL text uses the same
    id-keyed sentinel as dedup_incremental so NULL vs NULL is
    unchanged, NULL vs text is changed). The report an ingestion run
    publishes so downstream consumers know whether to reprocess.

    Scale shape: ONE full-outer join on doc_id between two hash-only
    projections (id + 16-byte md5 each side — documents never ride the
    shuffle); at 100 TB bucket both snapshots' parquet by id and the
    join co-locates.
    """
    def h(df: DataFrame) -> DataFrame:
        key = F.when(
            F.col(text_col).isNotNull(), F.md5(F.col(text_col))
        ).otherwise(F.lit("\x00null"))
        return df.select(F.col(id_col), key.alias("h"))

    o = h(old).withColumnRenamed("h", "h_old")
    n = h(new).withColumnRenamed("h", "h_new")
    j = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("h_old").isNull(), F.lit("added"))
        .when(F.col("h_new").isNull(), F.lit("removed"))
        .when(F.col("h_old") == F.col("h_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(id_col, status.alias("status"))


def dedup_lsh_eval(
    df: DataFrame,
    threshold: float = 0.35,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bands: int = 4,
    rows_per_band: int = 1,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Evaluation-driven dedup tuning: measure the LSH configuration's
    RECALL against exact ground truth on a validation slice. Returns
    ONE row (n_true, n_found, n_missed, recall): truth = all pairs with
    exact shingle Jaccard >= threshold (ngram_jaccard_pairs — the
    documented quadratic VALIDATION path, so run this on a sample, not
    the corpus); found = the subset minhash_lsh_pairs surfaces with the
    given banding. Precision is 1.0 by construction (candidates are
    exact-Jaccard-verified), so recall is the whole tuning story:
    too-few bands or an aggressive bucket_cap shows up here as missed
    true pairs BEFORE a production run silently under-dedups.

    Both sides collapse exact duplicates first so the comparison is
    over the same representative ids.
    """
    reps = collapse_exact_texts(df, text_col, id_col)
    truth = ngram_jaccard_pairs(
        reps, text_col, id_col, n=n, threshold=threshold
    ).select("id_a", "id_b")
    found = minhash_lsh_pairs(
        reps,
        text_col,
        id_col,
        n=n,
        bands=bands,
        rows_per_band=rows_per_band,
        threshold=threshold,
        bucket_cap=bucket_cap,
        collapse_exact=False,
    ).select("id_a", "id_b", F.lit(1).alias("__hit"))
    j = truth.join(found, ["id_a", "id_b"], "left")
    return j.agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum(F.coalesce("__hit", F.lit(0))).cast("long").alias("n_found"),
        (F.count(F.lit(1)) - F.sum(F.coalesce("__hit", F.lit(0))))
        .cast("long")
        .alias("n_missed"),
        F.round(
            F.when(
                F.count(F.lit(1)) > 0,
                F.sum(F.coalesce("__hit", F.lit(0)))
                / F.count(F.lit(1)).cast("double"),
            ).otherwise(F.lit(1.0)),
            6,
        ).alias("recall"),
    )
