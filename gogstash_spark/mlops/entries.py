"""Driver-contract queries for the training-data ops (mlops package),
over the driver-registered `documents` / `embeddings` views (testdata
parquet), plus transcripts where duplicate structure is richer.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gogstash_spark.entrypoints import tx_cte
from gogstash_spark.mlops import ann, bpe, dedup, multimodal, pq, textops
from gogstash_spark.sources.transcripts import ensure_transcripts

STOP_LIST_SQL = "[%s]" % ", ".join("'%s'" % w for w in textops.EN_STOPWORDS)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # documents.parquet is a single row group — an unsplittable one-task
    # scan (guide: input skew; repartition right after the read). Every
    # doc query is regex/hash/HOF CPU over ~100-byte rows, so the
    # round-robin exchange of a few MB buys back 32x task parallelism.
    from gogstash_spark.functions.partitions import spread

    return spread(spark.read.parquet(os.path.join(sf_dir, "documents.parquet")))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gogstash_spark.functions.partitions import spread

    return spread(spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")))


# --------------------------------------------------------------------------
# dedup
# --------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    data_dir = ensure_transcripts(sf_dir)
    tx = spark.read.parquet(os.path.join(data_dir, "transcripts"))
    return dedup.exact_dup_groups(
        tx.select("text", F.xxhash64("conv_id", "turn_idx").alias("doc_id")),
        "text",
        "doc_id",
    ).select("h", "n_dups")  # keep_id depends on xxhash64 -> compare h + count only


def o_dedup_exact() -> str:
    return f"""{tx_cte()}
SELECT md5(text) AS h, count(*) AS n_dups
FROM t GROUP BY 1 HAVING count(*) > 1"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir), "text", "doc_id", n=3, bands=4, rows_per_band=1,
        threshold=0.35, bucket_cap=1000, collapse_exact=True,
    )


def o_dedup_minhash_lsh() -> str:
    mh = ", ".join(
        "min(md5('%d|' || shingle)) AS m%d" % (j, j) for j in range(4)
    )
    return f"""WITH reps AS (
  SELECT min(doc_id) AS doc_id, min(text) AS text FROM documents GROUP BY md5(text)
),
sets AS (
  SELECT doc_id AS id, list_distinct(
    [array_to_string(words[i:i+2], ' ') FOR i IN range(1, greatest(len(words)-1, 1))]
  ) AS sh_set
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words FROM reps)
),
sh AS (SELECT id, unnest(sh_set) AS shingle FROM sets),
sig AS (SELECT id, {mh} FROM sh GROUP BY id),
bands0 AS (
  SELECT id, b.band, b.v FROM sig,
  UNNEST([{{'band': 0, 'v': m0}}, {{'band': 1, 'v': m1}},
          {{'band': 2, 'v': m2}}, {{'band': 3, 'v': m3}}]) AS u(b)
),
ok AS (SELECT band, v FROM bands0 GROUP BY band, v HAVING count(*) <= 1000),
bands AS (SELECT b.* FROM bands0 b JOIN ok USING (band, v)),
cand AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b
  FROM bands x JOIN bands y ON x.band = y.band AND x.v = y.v AND x.id < y.id
),
j AS (
  SELECT c.id_a, c.id_b,
    round(CAST(len(list_intersect(a.sh_set, b.sh_set)) AS DOUBLE) /
      (len(a.sh_set) + len(b.sh_set) - len(list_intersect(a.sh_set, b.sh_set))), 6) AS jaccard
  FROM cand c JOIN sets a ON a.id = c.id_a JOIN sets b ON b.id = c.id_b
)
SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.35"""


def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production dedup pipeline: collapse -> minhash LSH -> verify ->
    connected components; one (doc_id, group_id) row per document."""
    return dedup.dedup_groups(
        _docs(spark, sf_dir), "text", "doc_id", n=3, bands=4, rows_per_band=1,
        threshold=0.35, bucket_cap=1000,
    )


def o_dedup_groups() -> str:
    mh = ", ".join(
        "min(md5('%d|' || shingle)) AS m%d" % (j, j) for j in range(4)
    )
    # m keys a NULL text by its doc id (dedup._text_key): a NULL md5
    # never equi-joins, so each NULL-text doc is its own group
    return f"""WITH RECURSIVE reps AS (
  SELECT min(doc_id) AS doc_id, min(text) AS text FROM documents GROUP BY md5(text)
),
sets AS (
  SELECT doc_id AS id, list_distinct(
    [array_to_string(words[i:i+2], ' ') FOR i IN range(1, greatest(len(words)-1, 1))]
  ) AS sh_set
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words FROM reps)
),
sh AS (SELECT id, unnest(sh_set) AS shingle FROM sets),
sig AS (SELECT id, {mh} FROM sh GROUP BY id),
bands0 AS (
  SELECT id, b.band, b.v FROM sig,
  UNNEST([{{'band': 0, 'v': m0}}, {{'band': 1, 'v': m1}},
          {{'band': 2, 'v': m2}}, {{'band': 3, 'v': m3}}]) AS u(b)
),
ok AS (SELECT band, v FROM bands0 GROUP BY band, v HAVING count(*) <= 1000),
bands AS (SELECT b.* FROM bands0 b JOIN ok USING (band, v)),
cand AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b
  FROM bands x JOIN bands y ON x.band = y.band AND x.v = y.v AND x.id < y.id
),
j AS (
  SELECT c.id_a, c.id_b,
    round(CAST(len(list_intersect(a.sh_set, b.sh_set)) AS DOUBLE) /
      (len(a.sh_set) + len(b.sh_set) - len(list_intersect(a.sh_set, b.sh_set))), 6) AS jaccard
  FROM cand c JOIN sets a ON a.id = c.id_a JOIN sets b ON b.id = c.id_b
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM j WHERE jaccard >= 0.35
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM j WHERE jaccard >= 0.35
),
reach AS (
  SELECT DISTINCT src AS id, src AS lbl FROM edges
  UNION
  SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id
),
comp AS (SELECT id, min(lbl) AS lbl FROM reach GROUP BY id),
m AS (
  SELECT doc_id, coalesce(md5(text), chr(0) || CAST(doc_id AS VARCHAR)) AS h FROM documents
),
r AS (SELECT h, min(doc_id) AS rep FROM m GROUP BY h),
docmap AS (SELECT m.doc_id, r.rep FROM m JOIN r USING (h))
SELECT d.doc_id, coalesce(c.lbl, d.rep) AS group_id
FROM docmap d LEFT JOIN comp c ON c.id = d.rep"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(_docs(spark, sf_dir), "text", "doc_id").select(
        F.col("id").alias("doc_id"), "simhash"
    )


def o_dedup_simhash() -> str:
    sums = ", ".join(
        "sum(CASE WHEN strpos('13579bdf', substr(h, %d, 1)) > 0 THEN 1 ELSE -1 END) AS s%d"
        % (b + 1, b)
        for b in range(16)
    )
    bits = " || ".join(
        "CASE WHEN s%d > 0 THEN '1' ELSE '0' END" % b for b in range(16)
    )
    return f"""WITH tok AS (
  SELECT doc_id, md5(unnest(regexp_split_to_array(trim(text), '\\s+'))) AS h
  FROM documents
),
bs AS (SELECT doc_id, {sums} FROM tok GROUP BY doc_id)
SELECT doc_id, {bits} AS simhash FROM bs"""


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_near_dup_pairs(
        _docs(spark, sf_dir), "text", "doc_id", max_hamming=7
    )


def _sql_simhash64() -> tuple[str, str]:
    """(sums select-list, bits concat) mirroring dedup.simhash64."""
    sums = []
    for b in range(64):
        src, pos = ("h1", b + 1) if b < 32 else ("h2", b - 31)
        sums.append(
            "sum(CASE WHEN strpos('13579bdf', substr(%s, %d, 1)) > 0 THEN 1 ELSE -1 END) AS s%d"
            % (src, pos, b)
        )
    bits = " || ".join("CASE WHEN s%d > 0 THEN '1' ELSE '0' END" % b for b in range(64))
    return ", ".join(sums), bits


def o_dedup_simhash_pairs() -> str:
    # BRUTE-FORCE oracle: all-pairs Hamming over the full signatures —
    # if the Spark banded path missed any pair within the radius, the
    # row counts would diverge (the banding is exact by pigeonhole)
    sums, bits = _sql_simhash64()
    # docs CTE mirrors collapse_exact_texts: one representative
    # (min doc_id) per distinct text
    return f"""WITH docs AS (
  SELECT min(doc_id) AS doc_id, min(text) AS text FROM documents GROUP BY md5(text)
),
tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tk FROM docs
),
h AS (SELECT doc_id, md5(tk) AS h1, md5('s|' || tk) AS h2 FROM tok),
bs AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id),
sig AS (SELECT doc_id, {bits} AS s FROM bs),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    len(list_filter(range(1, 65), i -> substr(a.s, i, 1) <> substr(b.s, i, 1))) AS hamming
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming FROM pairs WHERE hamming <= 7"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), "text", "doc_id", n=3, threshold=0.2
    )


def o_dedup_ngram_jaccard() -> str:
    return """WITH sh AS (
  SELECT doc_id AS id, unnest(list_distinct(
    [array_to_string(words[i:i+2], ' ') FOR i IN range(1, greatest(len(words)-1, 1))]
  )) AS shingle
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words FROM documents)
),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       round(CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter), 6) AS jaccard
FROM inter i JOIN sizes sa ON sa.id = i.id_a JOIN sizes sb ON sb.id = i.id_b
WHERE round(CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter), 6) >= 0.2"""


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann.cosine_near_dup_pairs(_emb(spark, sf_dir), threshold=0.3, n_bits=8)


def _sql_cos(a: str, b: str) -> str:
    return (
        "round(list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
        "(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
        "sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))), 6)"
    ).format(a=a, b=b)


def _sql_bucket(vec: str, n_bits: int = 8) -> str:
    return " || ".join(
        "CASE WHEN %s[%d] >= 0 THEN '1' ELSE '0' END" % (vec, b + 1) for b in range(n_bits)
    )


def o_dedup_embedding() -> str:
    cos = _sql_cos("a.embedding", "b.embedding")
    return f"""WITH e AS (
  SELECT vec_id, embedding, {_sql_bucket("embedding")} AS bucket FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cos
FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {cos} >= 0.3"""


# --------------------------------------------------------------------------
# similarity search
# --------------------------------------------------------------------------


def q_ann_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann.brute_topk(_emb(spark, sf_dir), k=5, max_query_id=50)


def o_ann_topk_brute() -> str:
    cos = _sql_cos("q.embedding", "c.embedding")
    return f"""WITH pairs AS (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id, {cos} AS cos
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 50
),
ranked AS (
  SELECT q_id, n_id, cos,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rk
  FROM pairs
)
SELECT q_id, n_id, cos, rk FROM ranked WHERE rk <= 5"""


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann.ivf_topk(
        _emb(spark, sf_dir), k=5, n_centroids=8, nprobe=2, max_query_id=50
    )


def o_ann_topk_ivf() -> str:
    ccos = _sql_cos("e.embedding", "c.cvec")
    cos = _sql_cos("p.q_vec", "b.n_vec")
    return f"""WITH cent AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings ORDER BY vec_id LIMIT 8
),
assign AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {ccos} DESC, c.cid ASC) AS crk
  FROM embeddings e CROSS JOIN cent c
),
cells AS (
  SELECT vec_id AS n_id, embedding AS n_vec, cid FROM assign WHERE crk = 1
),
probes AS (
  SELECT vec_id AS q_id, embedding AS q_vec, cid
  FROM assign WHERE crk <= 2 AND vec_id < 50
),
pairs AS (
  SELECT p.q_id, b.n_id, {cos} AS cos
  FROM probes p JOIN cells b ON p.cid = b.cid AND p.q_id <> b.n_id
),
ranked AS (
  SELECT q_id, n_id, cos,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rk
  FROM pairs
)
SELECT q_id, n_id, cos, CAST(rk AS INTEGER) AS rk FROM ranked WHERE rk <= 5"""


def q_ann_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF serving against Lloyd-TRAINED centroids (ann.ivf_train,
    2 refinement rounds from the deterministic min-id seed). Fully
    hash-checked: the fixed iteration count lets the DuckDB oracle
    UNROLL the training loop as two chained CTE stages (argmax-assign +
    per-(cell,dim) mean), then serve with the same plan ann_topk_ivf
    checks — iterative-with-known-depth is SQL-expressible, no
    rows-only waiver needed."""
    emb = _emb(spark, sf_dir)
    cents = ann.ivf_train(emb, n_centroids=8, iters=2)
    return ann.ivf_topk(
        emb, k=5, n_centroids=8, nprobe=2, max_query_id=50, centroids=cents
    )


def _lloyd_iter_cte(i: int, prev: str, dim: int) -> str:
    """One unrolled Lloyd iteration as CTE text: assign every non-zero
    vector to its nearest centroid from `prev` (argmax of 6-dp-rounded
    cosine, ties to min cid — exactly ann.ivf_train's
    array_sort(struct(-ccos, cid)) order), then recompute each cell's
    centroid as the per-dimension mean; empty cells keep their previous
    centroid (the coalesce)."""
    ccos = _sql_cos("e.embedding", "c.cvec")
    return f"""a{i} AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {ccos} DESC, c.cid ASC) AS crk
  FROM embeddings e CROSS JOIN {prev} c
  WHERE list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) > 0
),
m{i} AS (
  SELECT a.cid AS cell, r.i AS dim, avg(a.embedding[r.i]::DOUBLE) AS m
  FROM a{i} a CROSS JOIN range(1, {dim + 1}) r(i)
  WHERE a.crk = 1
  GROUP BY 1, 2
),
mv{i} AS (SELECT cell, list(m ORDER BY dim) AS cvec FROM m{i} GROUP BY cell),
cent{i} AS (
  SELECT c.cid, coalesce(v.cvec, c.cvec) AS cvec
  FROM {prev} c LEFT JOIN mv{i} v ON v.cell = c.cid
)"""


def o_ann_topk_ivf_trained(iters: int = 2, dim: int = 64) -> str:
    """ann.ivf_train(iters=2) unrolled: cent0 = min-id seed, each
    iteration = argmax-assign + mean-recompute CTE pair, then the same
    serving plan as o_ann_topk_ivf against the final centroids. The
    only cross-engine arithmetic risk is the unrounded per-dim means;
    they feed cell assignment solely through cosines rounded to 6 dp,
    which absorbs summation-order noise (same argument as every other
    green cosine query here)."""
    train = ",\n".join(
        _lloyd_iter_cte(i + 1, "cent%d" % i, dim) for i in range(iters)
    )
    ccos = _sql_cos("e.embedding", "c.cvec")
    cos = _sql_cos("p.q_vec", "b.n_vec")
    return f"""WITH cent0 AS (
  SELECT vec_id AS cid, [x::DOUBLE FOR x IN embedding] AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 8
),
{train},
assign AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {ccos} DESC, c.cid ASC) AS crk
  FROM embeddings e CROSS JOIN cent{iters} c
),
cells AS (
  SELECT vec_id AS n_id, embedding AS n_vec, cid FROM assign WHERE crk = 1
),
probes AS (
  SELECT vec_id AS q_id, embedding AS q_vec, cid
  FROM assign WHERE crk <= 2 AND vec_id < 50
),
pairs AS (
  SELECT p.q_id, b.n_id, {cos} AS cos
  FROM probes p JOIN cells b ON p.cid = b.cid AND p.q_id <> b.n_id
),
ranked AS (
  SELECT q_id, n_id, cos,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rk
  FROM pairs
)
SELECT q_id, n_id, cos, CAST(rk AS INTEGER) AS rk FROM ranked WHERE rk <= 5"""


def q_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity sample (mlops/ann.py). REPO-SIDE
    parity only (driver's 50 rows all taken) — TestClusterBalanced."""
    return ann.cluster_balanced_sample(_emb(spark, sf_dir), per_cell=20, iters=2)


def o_cluster_balanced(
    per_cell: int = 20, iters: int = 2, dim: int = 64, seed: int = 42
) -> str:
    """cluster_balanced_sample(exact=True) unrolled: the trained-IVF
    Lloyd CTEs, nonzero-norm argmax assignment, then the deterministic
    per-cell md5 rank cut (string compare on full 32-hex md5 — binary
    order in both engines)."""
    train = ",\n".join(
        _lloyd_iter_cte(i + 1, "cent%d" % i, dim) for i in range(iters)
    )
    ccos = _sql_cos("e.embedding", "c.cvec")
    return f"""WITH cent0 AS (
  SELECT vec_id AS cid, [x::DOUBLE FOR x IN embedding] AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 8
),
{train},
assign AS (
  SELECT e.vec_id, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {ccos} DESC, c.cid ASC) AS crk
  FROM embeddings e CROSS JOIN cent{iters} c
  WHERE list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) > 0
),
cells AS (SELECT vec_id AS vid, cid AS cell FROM assign WHERE crk = 1),
rk AS (
  SELECT vid, cell,
         row_number() OVER (PARTITION BY cell
           ORDER BY md5(CAST(vid AS VARCHAR) || ':{seed}') ASC, vid ASC) AS rk
  FROM cells
)
SELECT vid, cell FROM rk WHERE rk <= {per_cell}"""


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge learning (mlops/bpe.py). REPO-SIDE parity
    only (driver's 50 rows all taken) — tests/test_mlops.py::TestBPE."""
    return bpe.bpe_train(_docs(spark, sf_dir), n_merges=3)


def _bpe_iter_sql(i: int) -> str:
    """One unrolled BPE merge: weighted adjacent-pair counts over the
    vocab, top-1 by (freq DESC, left, right), then the left-to-right
    non-overlapping replace that IS the greedy merge (both engines'
    replace scans identically)."""
    return f"""p{i} AS (
  SELECT p.l AS left_sym, p.r AS right_sym, sum(freq) AS pair_freq
  FROM (
    SELECT freq,
           unnest([struct_pack(l := arr[j], r := arr[j + 1])
                   FOR j IN range(1, len(arr))]) AS p
    FROM (SELECT string_split(s[2:length(s) - 1], chr(31) || chr(31)) AS arr,
                 freq
          FROM v{i - 1})
  )
  GROUP BY 1, 2
),
t{i} AS (
  SELECT left_sym, right_sym, pair_freq FROM p{i}
  ORDER BY pair_freq DESC, left_sym ASC, right_sym ASC LIMIT 1
),
v{i} AS (
  SELECT word,
         replace(s,
                 (SELECT chr(31) || left_sym || chr(31) || chr(31)
                         || right_sym || chr(31) FROM t{i}),
                 (SELECT chr(31) || left_sym || right_sym || chr(31)
                  FROM t{i})) AS s,
         freq
  FROM v{i - 1}
)"""


def o_bpe_train(n_merges: int = 3) -> str:
    """bpe.bpe_train unrolled: corpus word-frequency table, char-split
    symbol state (SEP = chr(31)), then one CTE triple per merge. Counts
    are integral and ties break on binary string order in both engines,
    so the chain is exactly reproducible — no rounding arguments
    needed anywhere."""
    iters = ",\n".join(_bpe_iter_sql(i + 1) for i in range(n_merges))
    sel = "\nUNION ALL ".join(
        "SELECT %d AS merge_idx, left_sym, right_sym, "
        "CAST(pair_freq AS BIGINT) AS pair_freq FROM t%d" % (i, i + 1)
        for i in range(n_merges)
    )
    return f"""WITH tok AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
  FROM documents
),
w AS (
  SELECT word, count(*) AS freq FROM tok
  WHERE word != '' AND word NOT LIKE '%' || chr(31) || '%'
  GROUP BY word
),
v0 AS (
  SELECT word,
         chr(31) || left(
           regexp_replace(word, '(.)', '\\1' || chr(31) || chr(31), 'g'),
           -1) AS s,
         freq
  FROM w
),
{iters}
{sel}"""


def q_ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ serving (mlops/pq.py). REPO-SIDE parity only: the
    driver's correctness artifact caps at 50 rows and every slot is
    taken, so this rides tests/test_mlops.py::TestPQ instead of
    MLOPS_QUERIES — same compare(), same hash gate."""
    return pq.pq_topk(_emb(spark, sf_dir), k=5, max_query_id=50)


def _pq_lloyd_iter_sql(i: int, prev: str, dsub: int) -> str:
    """One per-subspace Lloyd iteration unrolled: argmin of
    9-dp-rounded subspace L2 (ties to smallest code — exactly
    pq_train's array_sort(struct(d, code)) order), then per-(sub,
    code, dim) means; empty codes keep their previous centroid."""
    return f"""a{i} AS (
  SELECT s.sub, s.sid, s.sv, c.code,
         row_number() OVER (PARTITION BY s.sub, s.sid
           ORDER BY round(list_dot_product(s.sv, s.sv)
                          - 2*list_dot_product(s.sv, c.cvec)
                          + list_dot_product(c.cvec, c.cvec), 9) ASC,
                    c.code ASC) AS rk
  FROM subs s JOIN {prev} c ON s.sub = c.sub
),
m{i} AS (
  SELECT a.sub, a.code, r.i AS dim, avg(a.sv[r.i]) AS mu
  FROM a{i} a CROSS JOIN range(1, {dsub + 1}) r(i) WHERE a.rk = 1
  GROUP BY 1, 2, 3
),
mv{i} AS (SELECT sub, code, list(mu ORDER BY dim) AS cvec FROM m{i} GROUP BY 1, 2),
cb{i} AS (
  SELECT c.sub, c.code, coalesce(v.cvec, c.cvec) AS cvec
  FROM {prev} c LEFT JOIN mv{i} v ON v.sub = c.sub AND v.code = c.code
)"""


def o_ann_topk_pq(
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    dim: int = 64,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    max_q: int = 50,
) -> str:
    """pq.pq_topk unrolled end to end: subspace split, min-id seeds,
    `iters` Lloyd rounds per subspace, IVF cells (same CTEs as
    o_ann_topk_ivf), encode = argmin vs the final codebook, ADC score =
    sum over subspaces of dot(q_sub, centroid[code]) normalized by
    |q| * sqrt(sum centroid norms), rounded to 6 dp. Cross-engine
    summation-order noise is absorbed by the same 9-dp (assignment) /
    6-dp (score) rounding argument as the trained-IVF oracle."""
    dsub = dim // m
    train = ",\n".join(
        _pq_lloyd_iter_sql(i + 1, "cb%d" % i, dsub) for i in range(iters)
    )
    ccos = _sql_cos("e.embedding", "c.cvec")
    return f"""WITH base AS (
  SELECT vec_id AS sid, [x::DOUBLE FOR x IN embedding] AS vec FROM embeddings
),
subs AS (
  SELECT sid, s.s AS sub, vec[s.s*{dsub}+1 : s.s*{dsub}+{dsub}] AS sv
  FROM base CROSS JOIN range(0, {m}) s(s)
),
cb0 AS (
  SELECT sub, row_number() OVER (PARTITION BY sub ORDER BY sid) - 1 AS code,
         sv AS cvec
  FROM subs WHERE sid IN (SELECT sid FROM base ORDER BY sid LIMIT {ksub})
),
{train},
cbf AS (
  SELECT sub, code, cvec, list_dot_product(cvec, cvec) AS cn2 FROM cb{iters}
),
cent AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
  ORDER BY vec_id LIMIT {n_centroids}
),
assign AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {ccos} DESC, c.cid ASC) AS crk
  FROM embeddings e CROSS JOIN cent c
  WHERE list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) > 0
),
encR AS (
  SELECT s.sid, s.sub, c.code, c.cvec, c.cn2,
         row_number() OVER (PARTITION BY s.sid, s.sub
           ORDER BY round(list_dot_product(s.sv, s.sv)
                          - 2*list_dot_product(s.sv, c.cvec) + c.cn2, 9) ASC,
                    c.code ASC) AS rk
  FROM subs s JOIN cbf c ON s.sub = c.sub
),
codes AS (SELECT sid, sub, code FROM encR WHERE rk = 1),
cells AS (SELECT vec_id AS n_id, cid FROM assign WHERE crk = 1),
probes AS (
  SELECT vec_id AS q_id, cid FROM assign
  WHERE crk <= {nprobe} AND vec_id < {max_q}
),
pairs0 AS (
  SELECT p.q_id, b.n_id
  FROM probes p JOIN cells b ON p.cid = b.cid AND p.q_id <> b.n_id
),
contrib AS (
  SELECT pr.q_id, pr.n_id,
         sum(list_dot_product(qs.sv, c.cvec)) AS adot,
         sum(c.cn2) AS rn2
  FROM pairs0 pr
  JOIN codes co ON co.sid = pr.n_id
  JOIN cbf c ON c.sub = co.sub AND c.code = co.code
  JOIN subs qs ON qs.sid = pr.q_id AND qs.sub = co.sub
  GROUP BY 1, 2
),
qn AS (SELECT sid AS q_id, sqrt(list_dot_product(vec, vec)) AS qn FROM base),
scored AS (
  SELECT c.q_id, c.n_id, round(c.adot / (q.qn * sqrt(c.rn2)), 6) AS cos_pq
  FROM contrib c JOIN qn q ON q.q_id = c.q_id
  WHERE c.rn2 > 0 AND q.qn > 0
),
ranked AS (
  SELECT q_id, n_id, cos_pq,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_pq DESC, n_id ASC) AS rk
  FROM scored
)
SELECT q_id, n_id, cos_pq, CAST(rk AS INTEGER) AS rk FROM ranked WHERE rk <= {k}"""


def q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann.lsh_topk(_emb(spark, sf_dir), k=5, n_bits=8, max_query_id=50)


def o_ann_topk_lsh() -> str:
    cos = _sql_cos("q.embedding", "c.embedding")
    return f"""WITH e AS (
  SELECT vec_id, embedding, {_sql_bucket("embedding")} AS bucket FROM embeddings
),
pairs AS (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id, {cos} AS cos
  FROM e q JOIN e c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 50
),
ranked AS (
  SELECT q_id, n_id, cos,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rk
  FROM pairs
)
SELECT q_id, n_id, cos, rk FROM ranked WHERE rk <= 5"""


def q_ann_topk_lsh_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann.lsh_topk_multi(
        _emb(spark, sf_dir), dim=64, k=5, n_bits=8, n_tables=2, max_query_id=50
    )


def _sql_hyperplane_bits(table: int) -> str:
    """Concat of sign-bit CASEs mirroring ann.hyperplane_bucket for one
    table: identical +-1 weights, identical left-fold addition order."""
    planes = ann.hyperplanes(dim=64, n_bits=8, table=table)
    bits = []
    for w in planes:
        terms = ", ".join(
            "%sembedding[%d]::DOUBLE" % ("" if x > 0 else "-", i + 1)
            for i, x in enumerate(w)
        )
        proj = "list_reduce(list_prepend(0.0::DOUBLE, [%s]), (a, x) -> a + x)" % terms
        bits.append("CASE WHEN %s >= 0 THEN '1' ELSE '0' END" % proj)
    return " || ".join(bits)


def o_ann_topk_lsh_multi() -> str:
    cos = _sql_cos("q.embedding", "c.embedding")
    return f"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
keyed AS (
  SELECT vec_id, 0 AS t, {_sql_hyperplane_bits(0)} AS b FROM e
  UNION ALL
  SELECT vec_id, 1 AS t, {_sql_hyperplane_bits(1)} AS b FROM e
),
cand AS (
  SELECT DISTINCT kq.vec_id AS q_id, kc.vec_id AS n_id
  FROM keyed kq JOIN keyed kc ON kq.t = kc.t AND kq.b = kc.b AND kq.vec_id <> kc.vec_id
  WHERE kq.vec_id < 50
),
pairs AS (
  SELECT cand.q_id, cand.n_id, {cos} AS cos
  FROM cand JOIN e q ON q.vec_id = cand.q_id JOIN e c ON c.vec_id = cand.n_id
),
ranked AS (
  SELECT q_id, n_id, cos,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rk
  FROM pairs
)
SELECT q_id, n_id, cos, rk FROM ranked WHERE rk <= 5"""


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.lang_id(_docs(spark, sf_dir)).select(
        "doc_id", "en_stopword_ratio", "lang_pred"
    )


def o_text_langid() -> str:
    return f"""WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents
)
SELECT doc_id,
  round(CASE WHEN len(toks) > 0
    THEN CAST(len(list_filter(toks, x -> list_contains({STOP_LIST_SQL}, x))) AS DOUBLE) / len(toks)
    ELSE 0.0 END, 6) AS en_stopword_ratio,
  CASE WHEN (CASE WHEN len(toks) > 0
    THEN CAST(len(list_filter(toks, x -> list_contains({STOP_LIST_SQL}, x))) AS DOUBLE) / len(toks)
    ELSE 0.0 END) > 0.08 THEN 'en' ELSE 'unknown' END AS lang_pred
FROM w"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.quality_score(_docs(spark, sf_dir)).select(
        "doc_id", "n_chars_q", "punct_ratio", "stopword_ratio", "mean_word_len", "quality"
    )


def o_text_quality() -> str:
    sw = (
        f"CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> "
        f"list_contains({STOP_LIST_SQL}, x))) AS DOUBLE) / len(toks) ELSE 0.0 END"
    )
    return f"""WITH w AS (
  SELECT doc_id, text,
         length(text) AS n_chars_q,
         len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS toks,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
  FROM documents
),
f AS (
  SELECT doc_id, n_chars_q,
    CASE WHEN n_chars_q > 0 THEN CAST(n_punct AS DOUBLE) / n_chars_q ELSE 0.0 END AS punct_ratio,
    {sw} AS stopword_ratio,
    CASE WHEN n_tok > 0
      THEN (CAST(length(trim(text)) - (n_tok - 1) AS DOUBLE)) / n_tok ELSE 0.0 END AS mean_word_len,
    CASE WHEN n_chars_q BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.25 END AS len_band
  FROM w
)
SELECT doc_id, CAST(n_chars_q AS BIGINT) AS n_chars_q,
  round(punct_ratio, 6) AS punct_ratio,
  round(stopword_ratio, 6) AS stopword_ratio,
  round(mean_word_len, 6) AS mean_word_len,
  round(len_band * 0.4
        + (CASE WHEN punct_ratio < 0.2 THEN 1.0 ELSE 0.0 END) * 0.2
        + least(stopword_ratio * 5.0, 1.0) * 0.2
        + (CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END) * 0.2,
        6) AS quality
FROM f"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.token_counts(_docs(spark, sf_dir)).select(
        "doc_id", "n_ws_tokens", "n_bpe_tokens"
    )


def o_token_count() -> str:
    return f"""SELECT doc_id,
  CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_ws_tokens,
  len(regexp_extract_all(text, '{textops.TOKEN_RX}')) AS n_bpe_tokens
FROM documents"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.fingerprint(_docs(spark, sf_dir), n=5).select("doc_id", "fingerprint")


def o_doc_fingerprint() -> str:
    return """WITH w AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents
)
SELECT doc_id,
  CASE WHEN len(toks) >= 5
    THEN list_min(list_transform(
      [array_to_string(toks[i:i+4], ' ') FOR i IN range(1, greatest(len(toks)-3, 1))],
      s -> md5(s)))
    ELSE md5(text) END AS fingerprint
FROM w"""


def q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction sweep: synthesize deterministic PII onto each doc
    (email + ip + card-ish digits), scrub, count replacements."""
    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0.0."), (F.col("doc_id") % 255).cast("string"),
            F.lit(" card 4111 1111 1111 1111"),
        ),
    )
    out = textops.redact_pii(docs, "text")
    return out.select(
        "doc_id", "n_redactions", F.md5(F.col("text")).alias("redacted_md5")
    )


def o_text_redact() -> str:
    # mirror the staged chain: per-pattern counts on the text state
    # BEFORE that pattern's replace (global 'g' flag; Spark's
    # regexp_replace is global by default)
    ctes = ["s0 AS (SELECT doc_id, t2 AS r0 FROM d)"]
    for i, (rx, token) in enumerate(textops.PII_PATTERNS):
        rx_sql = rx.replace("'", "''")
        ctes.append(
            "s%d AS (SELECT doc_id, "
            "len(regexp_extract_all(r%d, '%s')) AS c%d, "
            "regexp_replace(r%d, '%s', '%s', 'g') AS r%d FROM s%d)"
            % (i + 1, i, rx_sql, i + 1, i, rx_sql, token, i + 1, i)
        )
    n_pat = len(textops.PII_PATTERNS)
    # carry counts forward through each stage
    for i in range(2, n_pat + 1):
        carried = ", ".join("c%d" % j for j in range(1, i))
        ctes[i] = ctes[i].replace("SELECT doc_id, ", "SELECT doc_id, %s, " % carried)
    total = " + ".join("c%d" % j for j in range(1, n_pat + 1))
    return f"""WITH d AS (
  SELECT doc_id,
    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com from 10.0.0.'
         || CAST(doc_id % 255 AS VARCHAR) || ' card 4111 1111 1111 1111' AS t2
  FROM documents
), {", ".join(ctes)}
SELECT doc_id,
  CAST({total} AS INTEGER) AS n_redactions,
  md5(r{n_pat}) AS redacted_md5
FROM s{n_pat}"""


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l2-normalize + symmetric int8 quantization: the storage path of
    an embedding pipeline (arrays summarized scalar-wise for the gate)."""
    out = ann.quantize_int8(ann.l2_normalize(_emb(spark, sf_dir)), "embedding_norm")
    return out.select(
        "vec_id",
        "q_scale",
        F.aggregate(
            F.col("embedding_q"), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("q_sum"),
        F.array_max("embedding_q").alias("q_max"),
        F.round(
            F.aggregate(
                F.col("embedding_norm"), F.lit(0.0), lambda a, x: a + x * x
            ), 3,
        ).alias("norm_sq"),
    )


def o_embedding_quantize() -> str:
    # mirror the exact arithmetic: norm via left-fold, per-element
    # round(x/norm, 6), scale = max|n|/127, q = floor(n/scale + 0.5)
    return """WITH n AS (
  SELECT vec_id,
    sqrt(list_reduce(list_prepend(0.0::DOUBLE,
         [x::DOUBLE * x::DOUBLE FOR x IN embedding]), (a, b) -> a + b)) AS nrm,
    embedding
  FROM embeddings
), nv AS (
  SELECT vec_id,
    CASE WHEN nrm > 0
         THEN [round(x::DOUBLE / nrm, 6) FOR x IN embedding]
         ELSE [x::DOUBLE FOR x IN embedding] END AS en
  FROM n
), s AS (
  SELECT vec_id, en,
    CASE WHEN list_max([abs(x) FOR x IN en]) > 0
         THEN list_max([abs(x) FOR x IN en]) / 127.0 ELSE 1.0 END AS scale
  FROM nv
)
SELECT vec_id,
  round(scale, 9) AS q_scale,
  CAST(list_reduce(list_prepend(0::BIGINT,
       [CAST(floor(x / scale + 0.5) AS BIGINT) FOR x IN en]), (a, b) -> a + b) AS BIGINT) AS q_sum,
  CAST(list_max([CAST(floor(x / scale + 0.5) AS INTEGER) FOR x IN en]) AS INTEGER) AS q_max,
  round(list_reduce(list_prepend(0.0::DOUBLE, [x * x FOR x IN en]), (a, b) -> a + b), 3) AS norm_sq
FROM s"""


# --------------------------------------------------------------------------
# multimodal plumbing
# --------------------------------------------------------------------------


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH multimodal branches in one hash-checked frame (the driver's
    correctness artifact caps at 50 rows — README "Correctness gate" —
    so the former multimodal_features/multimodal_decode pair is one
    query now; nothing silently drops out of the check):
    - text branch: utf-8 payloads, byte-level features, null image cols;
    - decode branch: deterministic PPM payloads generated per doc
      (Arrow-batched binary UDF) and REALLY decoded in pure numpy
      inside mapInPandas — width/height/channels/mean-pixel are actual
      decoded values, not fakes.
    The modality column keeps the two branches distinguishable."""
    docs = _docs(spark, sf_dir)
    text_feats = multimodal.extract_features(multimodal.attach_binary_payload(docs))
    ppm_feats = multimodal.extract_features(
        multimodal.attach_ppm_payload(docs.select("doc_id"))
    )
    return text_feats.unionByName(ppm_feats)


def o_multimodal_features() -> str:
    # decode branch: payload = 'P6\n{w} {h}\n255\n' + pixels where
    # pixel i = (doc_id*31 + i) % 256; w in 4..8 and h in 3..6 are
    # single-digit so the header is always 11 bytes and its first 8
    # bytes are the ASCII text 'P6\n{w} {h}\n{first-digit-of-255}'
    return """SELECT doc_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
  lower(hex(encode(substr(text, 1, 8)))) AS head_hex,
  'text/plain' AS modality,
  CAST(octet_length(encode(text)) % 7 AS DOUBLE) AS fake_dim,
  CAST(NULL AS INTEGER) AS width,
  CAST(NULL AS INTEGER) AS height,
  CAST(NULL AS INTEGER) AS n_channels,
  CAST(NULL AS DOUBLE) AS mean_pixel
FROM documents
UNION ALL
SELECT doc_id,
  CAST(11 + w*h*3 AS BIGINT) AS byte_len,
  lower(hex(encode(substr('P6' || chr(10) || w || ' ' || h || chr(10) || '255' || chr(10), 1, 8)))) AS head_hex,
  'image/x-portable-pixmap' AS modality,
  CAST((11 + w*h*3) % 7 AS DOUBLE) AS fake_dim,
  CAST(w AS INTEGER) AS width,
  CAST(h AS INTEGER) AS height,
  3 AS n_channels,
  round(list_avg([(doc_id*31 + i) % 256 FOR i IN range(0, CAST(w*h*3 AS INTEGER))]), 6) AS mean_pixel
FROM (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents)"""


MLOPS_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_groups": q_dedup_groups,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_embedding": q_dedup_embedding,
    "ann_topk_brute": q_ann_topk_brute,
    "ann_topk_ivf": q_ann_topk_ivf,
    "ann_topk_ivf_trained": q_ann_topk_ivf_trained,
    "ann_topk_lsh": q_ann_topk_lsh,
    "ann_topk_lsh_multi": q_ann_topk_lsh_multi,
    "text_langid": q_text_langid,
    "text_quality": q_text_quality,
    "token_count": q_token_count,
    "doc_fingerprint": q_doc_fingerprint,
    "text_redact": q_text_redact,
    "embedding_quantize": q_embedding_quantize,
    "multimodal_features": q_multimodal_features,
}

MLOPS_ORACLES: dict[str, Callable[[], str]] = {
    "dedup_exact": o_dedup_exact,
    "dedup_minhash_lsh": o_dedup_minhash_lsh,
    "dedup_groups": o_dedup_groups,
    "dedup_simhash": o_dedup_simhash,
    "dedup_simhash_pairs": o_dedup_simhash_pairs,
    "dedup_ngram_jaccard": o_dedup_ngram_jaccard,
    "dedup_embedding": o_dedup_embedding,
    "ann_topk_brute": o_ann_topk_brute,
    "ann_topk_ivf": o_ann_topk_ivf,
    "ann_topk_ivf_trained": o_ann_topk_ivf_trained,
    "ann_topk_lsh": o_ann_topk_lsh,
    "ann_topk_lsh_multi": o_ann_topk_lsh_multi,
    "text_langid": o_text_langid,
    "text_quality": o_text_quality,
    "token_count": o_token_count,
    "doc_fingerprint": o_doc_fingerprint,
    "text_redact": o_text_redact,
    "embedding_quantize": o_embedding_quantize,
    "multimodal_features": o_multimodal_features,
}
