"""Training-data ops: dedup, ANN, text analysis, multimodal plumbing."""

import math

import pytest
from pyspark.sql import functions as F

from gogstash_spark.functions.partitions import cap_groups
from gogstash_spark.mlops import ann, dedup, multimodal, textops


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
            (3, "the quick brown fox jumps over a lazy dog"),    # near dup of 1
            (4, "completely different words entirely unrelated zebra"),
            (5, "spark batch query window merge join"),
        ],
        "doc_id long, text string",
    )


class TestDedup:
    def test_exact(self, spark, docs):
        got = dedup.exact_dup_groups(docs).collect()
        assert len(got) == 1
        assert got[0]["keep_id"] == 1 and got[0]["n_dups"] == 2

    def test_ngram_jaccard(self, spark, docs):
        pairs = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.ngram_jaccard_pairs(docs, n=1, threshold=0.5).collect()
        }
        assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
        assert (1, 3) in pairs and 0.5 < pairs[(1, 3)] < 1.0
        assert (1, 4) not in pairs

    def test_minhash_lsh_finds_near_dups(self, spark, docs):
        pairs = {
            (r["id_a"], r["id_b"])
            for r in dedup.minhash_lsh_pairs(docs, n=1, bands=4, threshold=0.5).collect()
        }
        # exact dups collapse to rep id 1 (exact_dup_groups owns them);
        # the near-dup pair survives at the representative level
        assert (1, 3) in pairs
        assert (1, 2) not in pairs
        assert (4, 5) not in pairs

    def test_minhash_lsh_no_collapse_keeps_exact_pairs(self, spark, docs):
        pairs = {
            (r["id_a"], r["id_b"])
            for r in dedup.minhash_lsh_pairs(
                docs, n=1, bands=4, threshold=0.5, collapse_exact=False
            ).collect()
        }
        assert (1, 2) in pairs

    def test_dedup_groups_transitive_and_total(self, spark):
        """The production pipeline labels EVERY doc, exact dups share
        their rep's group, and near-dup grouping is TRANSITIVE: A~B and
        B~C land in one group even when A and C are not direct LSH
        pairs (the label-propagation loop, not a one-hop min)."""
        chain = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon"),
                (2, "alpha beta gamma delta epsilon"),        # exact dup of 1
                (3, "alpha beta gamma delta zeta"),           # near 1
                # near 3 (j=3/7=0.43) but NOT near 1 (j=2/8=0.25<0.4):
                # only transitivity through 3 can group it with 1
                (4, "gamma delta zeta eta theta"),
                (5, "totally different words entirely here"), # isolated
            ],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: r["group_id"]
            for r in dedup.dedup_groups(
                chain, n=1, bands=4, threshold=0.4
            ).collect()
        }
        assert set(got) == {1, 2, 3, 4, 5}          # every doc labeled
        assert got[1] == got[2] == 1                # exact dup follows rep
        assert got[3] == 1                          # near dup of 1
        assert got[4] == 1                          # transitive via 3
        assert got[5] == 5                          # isolated keeps itself

    def _word_chain(self, spark, n_docs: int):
        """doc i = 5-word window starting at word 2i: adjacent docs share
        3/7 words (j=0.43 >= 0.4), docs 2+ apart share at most 1/9
        (j=0.11 < 0.4) — a path graph whose diameter is n_docs-1, so
        label propagation needs ~n_docs rounds (one hop per round)."""
        words = ["t%02d" % i for i in range(2 * n_docs + 5)]
        return spark.createDataFrame(
            [(i, " ".join(words[2 * i: 2 * i + 5])) for i in range(n_docs)],
            "doc_id long, text string",
        )

    def test_dedup_groups_long_chain_truncates_every_round(self, spark, monkeypatch):
        """A 13-doc near-dup PATH (diameter 12) needs 13 propagation
        rounds: 12 hops plus one that sees no change. Each round ends in
        ONE localCheckpoint, and every round after the first (whose
        label frame is still the distinct edge sources) checkpoints a
        plan of the same size — the plan does not grow with the round
        count. The chain still ends in one group."""
        chain = self._word_chain(spark, 13)
        cls = type(chain)
        orig = cls.localCheckpoint
        rounds = []

        def spy(self, *a, **k):
            plan = self._jdf.queryExecution().analyzed().treeString()
            if "CollectMetrics" in plan:  # a label round, not the edge frame
                rounds.append(plan.count("\n"))
            return orig(self, *a, **k)

        monkeypatch.setattr(cls, "localCheckpoint", spy)
        got = {
            r["doc_id"]: r["group_id"]
            for r in dedup.dedup_groups(chain, n=1, bands=8, threshold=0.4).collect()
        }
        assert set(got) == set(range(13))
        assert all(g == 0 for g in got.values()), got
        assert len(rounds) == 13, rounds
        assert len(set(rounds[1:])) == 1 and rounds[1] <= rounds[0], rounds

    def test_dedup_groups_nonconvergence_is_loud(self, spark):
        """Exiting by max_iter with labels still changing means groups
        are PARTIALLY merged — that must raise, never return the
        silently wrong answer."""
        chain = self._word_chain(spark, 13)
        with pytest.raises(RuntimeError, match="did not reach a fixpoint"):
            dedup.dedup_groups(chain, n=1, bands=8, threshold=0.4, max_iter=3)

    def test_dedup_groups_null_text_docs_are_own_groups(self, spark):
        """One row per input doc, NULL texts included: each NULL-text
        doc is its own group, as collapse_exact_texts keys it (a NULL
        md5 never equi-joins, so keying the doc map by md5 alone
        dropped them) — and dedup_keep_best keeps each of them."""
        df = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, None), (4, None)],
            "doc_id long, text string",
        )
        got = sorted(
            (r["doc_id"], r["group_id"])
            for r in dedup.dedup_groups(df, n=1, bands=4, threshold=0.4).collect()
        )
        assert got == [(1, 1), (2, 1), (3, 3), (4, 4)]
        kept = dedup.dedup_keep_best(df, n=1, bands=4, threshold=0.4).collect()
        assert sorted(r["doc_id"] for r in kept) == [1, 3, 4]

    def test_keep_best_prefers_high_score_then_min_id(self, spark):
        """Keep-best retention: one row per group, highest score wins
        (NOT min id — the naive doc_id == group_id policy would keep
        doc 1 here), constant scores fall back to lowest id."""
        chain = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon"),
                (2, "alpha beta gamma delta epsilon"),
                (3, "alpha beta gamma delta zeta"),
                (4, "gamma delta zeta eta theta"),
                (5, "totally different words entirely here"),
            ],
            "doc_id long, text string",
        )
        kept = {
            r["group_id"]: r
            for r in dedup.dedup_keep_best(
                chain, score=F.col("doc_id").cast("double"),
                n=1, bands=4, threshold=0.4,
            ).collect()
        }
        assert set(kept) == {1, 5}
        assert kept[1]["doc_id"] == 4 and kept[1]["group_size"] == 4
        assert kept[1]["score"] == 4.0
        assert kept[5]["doc_id"] == 5 and kept[5]["group_size"] == 1
        tied = {
            r["group_id"]: r["doc_id"]
            for r in dedup.dedup_keep_best(
                chain, score=F.lit(1.0), n=1, bands=4, threshold=0.4
            ).collect()
        }
        assert tied == {1: 1, 5: 5}

    def test_keep_best_matches_duckdb_oracle_on_documents(self, spark):
        """Driver-gate rigor (rows+schema+value-hash) repo-side — the
        50-row artifact is full (README 'Correctness gate'). The oracle
        composes the existing recursive-CTE groups oracle with the
        quality oracle and a row_number argmax."""
        import duckdb

        from gogstash_spark.mlops.entries import o_dedup_groups, o_text_quality
        from tools.parity import compare

        sf_dir = "/root/testdata/sf0.001"
        docs = spark.read.parquet(sf_dir + "/documents.parquet")
        out = dedup.dedup_keep_best(
            docs, n=3, bands=4, rows_per_band=1, threshold=0.35, bucket_cap=1000
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('%s/documents.parquet')"
            % sf_dir
        )
        sql = f"""WITH j AS (
  SELECT g.doc_id, g.group_id, q.quality AS score
  FROM ({o_dedup_groups()}) g
  JOIN (SELECT doc_id, quality FROM ({o_text_quality()})) q USING (doc_id)
),
r AS (
  SELECT doc_id, group_id, score,
         count(*) OVER (PARTITION BY group_id) AS group_size,
         row_number() OVER (PARTITION BY group_id ORDER BY score DESC, doc_id ASC) AS rn
  FROM j
)
SELECT doc_id, group_id, CAST(group_size AS BIGINT) AS group_size, score
FROM r WHERE rn = 1"""
        res = compare("dedup_keep_best", out, sql, con)
        assert res["rows_match"] and res["schema_match"] and res["hash_match"], res
        # meaningful only if some group actually has >1 member AND the
        # best member differs from the min-id member somewhere
        assert out.where("group_size > 1").count() > 0
        assert out.where("doc_id != group_id").count() > 0

    def test_shingle_short_doc_empty_not_error(self, spark):
        short = spark.createDataFrame(
            [(1, "one two"), (2, "a"), (3, ""), (4, "alpha beta gamma delta")],
            "doc_id long, text string",
        )
        sets = {
            r["id"]: r["sh_set"]
            for r in dedup.shingle_sets(short, "text", "doc_id", n=3).collect()
        }
        assert sets[1] == [] and sets[2] == [] and sets[3] == []
        assert sets[4] == ["alpha beta gamma", "beta gamma delta"]
        # the pair pipelines must not abort on short docs either
        assert dedup.minhash_lsh_pairs(short, n=3, threshold=0.5).count() == 0

    def test_minhash_lsh_mass_duplicate_cluster_bounded(self, spark):
        """A 10k-way exact-duplicate cluster must not explode the band
        join into ~n^2/2 candidate pairs (collapse-exact + bucket cap)."""
        base = spark.range(10_000).select(
            F.col("id").alias("doc_id"),
            F.lit("the same boilerplate text repeated everywhere again").alias("text"),
        )
        extra = spark.createDataFrame(
            [(100_001, "the same boilerplate text repeated everywhere once more"),
             (100_002, "entirely unrelated content zebra quantum")],
            "doc_id long, text string",
        )
        pairs = dedup.minhash_lsh_pairs(
            base.unionByName(extra), n=1, bands=4, threshold=0.3, bucket_cap=1000
        )
        got = pairs.collect()  # completes fast; reps only
        ids = {r["id_a"] for r in got} | {r["id_b"] for r in got}
        assert len(got) <= 3 and ids <= {0, 100_001, 100_002}

    def test_lsh_hot_buckets_reports_dropped(self, spark):
        docs = spark.range(50).select(
            F.col("id").alias("doc_id"), F.lit("hot hot hot").alias("text")
        )
        sets = dedup.shingle_sets(docs, "text", "doc_id", n=1)
        sh = sets.select("id", F.explode("sh_set").alias("shingle"))
        sig = dedup.minhash_signatures(sh, 4)
        buckets = dedup.lsh_band_buckets(sig, bands=4, rows_per_band=1)
        hot = dedup.lsh_hot_buckets(buckets, bucket_cap=10).collect()
        assert len(hot) == 4 and all(r["cnt"] == 50 for r in hot)

    def test_simhash64_banding_is_exact(self, spark, docs):
        """banded pair detection must find EXACTLY the pairs a brute
        all-pairs Hamming scan finds (pigeonhole completeness)."""
        sig = {r["id"]: r["simhash"] for r in dedup.simhash64(docs).collect()}
        assert all(len(s) == 64 for s in sig.values())
        def ham(a, b):
            return sum(x != y for x, y in zip(a, b))
        for radius in (0, 7, 15):
            if (radius + 1) not in (1, 2, 4, 8, 16, 32, 64):
                continue
            want = {
                (i, j)
                for i in sig for j in sig
                if i < j and ham(sig[i], sig[j]) <= radius
            }
            got = {
                (r["id_a"], r["id_b"])
                for r in dedup.simhash_near_dup_pairs(
                    docs, max_hamming=radius, collapse_exact=False
                ).collect()
            }
            assert got == want, radius
        assert (1, 2) in {
            (r["id_a"], r["id_b"])
            for r in dedup.simhash_near_dup_pairs(
                docs, max_hamming=0, collapse_exact=False
            ).collect()
        }  # exact dups at hamming 0

    def test_simhash_pairs_mass_dup_no_explosion(self, spark):
        """a 10k-way exact-duplicate cluster shares ALL bands; without
        collapse_exact the band self-join would generate ~n²/2 ≈ 5e7
        candidates. With the default collapse it contributes ONE
        representative and the job completes instantly."""
        base = spark.range(10_000).select(
            F.col("id").alias("doc_id"),
            F.lit("the same boilerplate text repeated everywhere").alias("text"),
        )
        extra = spark.createDataFrame(
            [(100_001, "the same boilerplate text repeated everywhere"),
             (100_002, "entirely unrelated content zebra quantum flux")],
            "doc_id long, text string",
        )
        got = dedup.simhash_near_dup_pairs(
            base.unionByName(extra), max_hamming=7
        ).collect()
        ids = {r["id_a"] for r in got} | {r["id_b"] for r in got}
        assert ids <= {0, 100_002}  # representatives only, no dup fanout

    def test_simhash_pairs_bucket_cap(self, spark):
        """bucket_cap drops hot NEAR-dup bands: 60 distinct texts that
        all share band substrings get pruned at cap 10."""
        docs = spark.range(60).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("shared prefix words here tail"), F.col("id")).alias("text"),
        )
        capped = dedup.simhash_near_dup_pairs(
            docs, max_hamming=31, bucket_cap=10
        ).count()
        full = dedup.simhash_near_dup_pairs(docs, max_hamming=31).count()
        assert capped <= full

    def test_simhash_identical_for_dups(self, spark, docs):
        sig = {r["id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
        assert sig[1] == sig[2]
        assert len(sig[1]) == 16 and set(sig[1]) <= {"0", "1"}
        # near-dup differs in few bits, unrelated differs in more
        def hamming(a, b):
            return sum(x != y for x, y in zip(a, b))
        assert hamming(sig[1], sig[3]) <= hamming(sig[1], sig[4]) + 2


class TestCapGroups:
    """cap_groups keeps exactly the rows the inner join against the
    under-cap key list kept."""

    @staticmethod
    def _rows(df):
        return sorted(df.collect(), key=lambda r: tuple((v is None, v) for v in r))

    def test_at_cap_kept_one_over_dropped_whole(self, spark):
        df = spark.createDataFrame(
            [("a", i) for i in range(3)] + [("b", i) for i in range(4)],
            "k string, i int",
        )
        got = cap_groups(df, ["k"], 3).collect()
        assert sorted((r["k"], r["i"]) for r in got) == [("a", 0), ("a", 1), ("a", 2)]
        assert cap_groups(df, ["k"], None) is df

    def test_multi_key_groups(self, spark):
        # per-column counts (k1: 5 and 2; k2: 4 and 3) all exceed the
        # cap, only the (k1, k2) groups decide
        df = spark.createDataFrame(
            [(1, "x", i) for i in range(2)]
            + [(1, "y", i) for i in range(3)]
            + [(2, "x", i) for i in range(2)],
            "k1 int, k2 string, i int",
        )
        got = cap_groups(df, ["k1", "k2"], 2).collect()
        assert sorted({(r["k1"], r["k2"]) for r in got}) == [(1, "x"), (2, "x")]
        assert len(got) == 4

    def test_null_keys_dropped_like_inner_join(self, spark):
        df = spark.createDataFrame(
            [(None, "x", 0), (None, "x", 1), (1, None, 2), (1, "x", 3),
             (1, "x", 4), (2, "y", 5), (2, "y", 6), (2, "y", 7)],
            "k1 int, k2 string, i int",
        )
        for keys in (["k1"], ["k1", "k2"]):
            ok = (
                df.groupBy(*keys).count().filter(F.col("count") <= 2).select(*keys)
            )
            want = self._rows(df.join(ok, keys).select(*df.columns))
            got = self._rows(cap_groups(df, keys, 2))
            assert got == want, keys
            assert all(r[k] is not None for r in got for k in keys)
        assert [r["i"] for r in self._rows(cap_groups(df, ["k1", "k2"], 2))] == [3, 4]


def _wide_docs(spark, tmp_path):
    """300 docs of 200 words from a 5000-word vocabulary, as parquet."""
    import random

    rng = random.Random(11)
    vocab = ["w%05d" % i for i in range(5000)]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(200))) for i in range(300)]
    path = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(path)
    return spark.read.parquet(path)


def _jobs_to_build(spark, build):
    """How many Spark jobs `build()` runs, counted under a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = "build-" + uuid.uuid4().hex
    sc.setJobGroup(group, "frame build")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


class TestMinhashVerifiesOnBandJoin:
    def test_plan_has_no_cache_and_no_id_join(self, spark, tmp_path):
        """The exact-Jaccard verify runs on the rows of the (band, v)
        self-join, which carry both shingle sets: the executed plan
        caches nothing and joins on no pair id."""
        pairs = dedup.minhash_lsh_pairs(_wide_docs(spark, tmp_path), n=3, threshold=0.5)
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan
        joins = [ln for ln in plan.splitlines() if "Join" in ln]
        assert joins and not any("id_a" in ln or "id_b" in ln for ln in joins), joins

    def test_building_runs_no_job(self, spark, tmp_path, emb):
        """minhash_lsh_pairs, semantic_dedup with given centroids and
        spread() over a post-groupBy frame are lazy: building them runs
        no Spark job."""
        from gogstash_spark.functions.partitions import spread

        docs = _wide_docs(spark, tmp_path)
        cents = ann.ivf_train(emb, n_centroids=2, iters=1)
        assert _jobs_to_build(spark, lambda: dedup.minhash_lsh_pairs(
            docs, n=3, threshold=0.5, bucket_cap=50)) == 0
        assert _jobs_to_build(spark, lambda: ann.semantic_dedup(
            emb, centroids=cents, threshold=0.9)) == 0
        assert _jobs_to_build(spark, lambda: spread(docs.groupBy("doc_id").count())) == 0


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.99, 0.1, 0.0, 0.0], 0),
        (2, [0.0, 1.0, 0.0, 0.0], 1),
        (3, [0.0, 0.98, 0.2, 0.0], 1),
        (4, [-1.0, 0.0, 0.0, 0.0], 2),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


class TestANN:
    def test_brute_topk(self, spark, emb):
        got = ann.brute_topk(emb, k=1, max_query_id=10).collect()
        nn = {r["q_id"]: r["n_id"] for r in got}
        assert nn[0] == 1 and nn[1] == 0
        assert nn[2] == 3 and nn[3] == 2
        cos01 = [r["cos"] for r in got if r["q_id"] == 0][0]
        assert abs(cos01 - 0.99 / math.sqrt(0.99**2 + 0.1**2)) < 1e-4

    def test_lsh_respects_buckets(self, spark, emb):
        got = ann.lsh_topk(emb, k=5, n_bits=4, max_query_id=10).collect()
        # vec 4 has opposite sign on dim 0 -> different bucket from 0/1
        for r in got:
            if r["q_id"] == 0:
                assert r["n_id"] != 4

    def test_ivf_topk_cells_and_recall(self, spark, emb):
        """IVF with nprobe = n_centroids degenerates to exact search
        (every cell probed); with nprobe=1 each query only sees its own
        cell's members."""
        exact = {
            (r["q_id"], r["rk"]): r["n_id"]
            for r in ann.brute_topk(emb, k=1, max_query_id=10).collect()
        }
        full = {
            (r["q_id"], r["rk"]): r["n_id"]
            for r in ann.ivf_topk(
                emb, k=1, n_centroids=3, nprobe=3, max_query_id=10
            ).collect()
        }
        assert full == exact  # all cells probed == brute force
        one = ann.ivf_topk(emb, k=5, n_centroids=3, nprobe=1, max_query_id=10)
        # centroids = vecs 0,1,2; vec 4 is anti-aligned with 0/1 and
        # closest to none of the 0/1 cells a probe-1 query 0 searches
        for r in one.collect():
            if r["q_id"] == 0:
                assert r["n_id"] != 4

    def test_ivf_train_lloyd_converges_to_cluster_means(self, spark):
        """Two well-separated synthetic clusters: after a few Lloyd
        rounds the 2 centroids must land on (approximately) the true
        cluster means, each point's nearest centroid must be its own
        cluster's, and the result must be deterministic across runs."""
        import random

        from gogstash_spark.mlops.ann import ivf_train

        rng = random.Random(7)
        rows = []
        for i in range(40):
            rows.append((i, [1.0 + rng.uniform(-.05, .05),
                             0.0 + rng.uniform(-.05, .05)]))
        for i in range(40, 80):
            rows.append((i, [0.0 + rng.uniform(-.05, .05),
                             1.0 + rng.uniform(-.05, .05)]))
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cents = {r["cid"]: r["cvec"]
                 for r in ivf_train(emb, n_centroids=2, iters=4).collect()}
        assert len(cents) == 2
        # one centroid per cluster direction (cosine assignment → the
        # mean direction, not necessarily the euclidean mean point)
        dirs = sorted((round(v[0], 1), round(v[1], 1)) for v in cents.values())
        assert dirs[0][1] > dirs[0][0] and dirs[1][0] > dirs[1][1]
        again = {r["cid"]: r["cvec"]
                 for r in ivf_train(emb, n_centroids=2, iters=4).collect()}
        assert again == cents  # deterministic

    def test_cosine_near_dup_pairs(self, spark, emb):
        pairs = {(r["id_a"], r["id_b"]) for r in
                 ann.cosine_near_dup_pairs(emb, threshold=0.9, n_bits=4).collect()}
        assert (0, 1) in pairs
        assert (0, 4) not in pairs


class TestTextOps:
    def test_token_counts(self, spark):
        df = spark.createDataFrame([(1, "hello, world 42")], "doc_id long, text string")
        r = textops.token_counts(df).collect()[0]
        assert r["n_ws_tokens"] == 3
        assert r["n_bpe_tokens"] == 4  # hello , world 42

    def test_lang_id(self, spark, docs):
        got = {r["doc_id"]: r["lang_pred"] for r in textops.lang_id(docs).collect()}
        assert got[1] == "en"  # 'the' twice + 'over'? stopword-heavy
        assert got[5] == "unknown"

    def test_quality_score_bounds(self, spark, docs):
        for r in textops.quality_score(docs).collect():
            assert 0.0 <= r["quality"] <= 1.0

    def test_fingerprint_equal_for_dups(self, spark, docs):
        fp = {r["doc_id"]: r["fingerprint"] for r in textops.fingerprint(docs).collect()}
        assert fp[1] == fp[2]
        assert fp[1] != fp[4]


class TestRedactAndQuantize:
    def test_pii_redaction(self, spark):
        df = spark.createDataFrame(
            [(1, "mail bob@x.co from 10.0.0.1 card 4111 1111 1111 1111 tel +1 212 555 0100"),
             (2, "clean text with no pii at all")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in textops.redact_pii(df).collect()}
        t = got[1]["text"]
        assert "<EMAIL>" in t and "<IP>" in t and "<CARD>" in t and "<PHONE>" in t
        assert "bob@x.co" not in t and "4111" not in t
        assert got[1]["n_redactions"] >= 4
        assert got[2]["n_redactions"] == 0 and got[2]["text"].startswith("clean")

    def test_l2_normalize_and_quantize(self, spark):
        df = spark.createDataFrame(
            [(1, [3.0, 4.0]), (2, [0.0, 0.0])], "vec_id long, embedding array<float>"
        )
        out = {r["vec_id"]: r for r in ann.quantize_int8(
            ann.l2_normalize(df), "embedding_norm").collect()}
        assert list(out[1]["embedding_norm"]) == [0.6, 0.8]
        assert out[1]["embedding_q"] == [95, 127]  # 0.6/ (0.8/127), 127
        assert abs(out[1]["q_scale"] - 0.8 / 127) < 1e-9
        assert list(out[2]["embedding_norm"]) == [0.0, 0.0]
        assert out[2]["embedding_q"] == [0, 0]  # zero vector stays zero


class TestMultiTableLSH:
    def test_multi_table_recovers_neighbors(self, spark, emb):
        got = {
            (r["q_id"], r["rk"]): r["n_id"]
            for r in ann.lsh_topk_multi(
                emb, dim=4, k=1, n_bits=2, n_tables=3, max_query_id=10
            ).collect()
        }
        # vec 1 is the near-copy of vec 0: with 3 tables the pair must
        # land in at least one shared bucket
        assert got.get((0, 1)) == 1 and got.get((1, 1)) == 0

    def test_hyperplanes_deterministic(self):
        a = ann.hyperplanes(8, 4, table=1)
        b = ann.hyperplanes(8, 4, table=1)
        c = ann.hyperplanes(8, 4, table=2)
        assert a == b and a != c
        assert all(x in (-1.0, 1.0) for row in a for x in row)

    def test_bucket_cap_drops_hot_bucket(self, spark):
        import pyspark.sql.functions as SF

        hot = spark.range(100).select(
            SF.col("id").alias("vec_id"),
            SF.array(SF.lit(1.0), SF.lit(1.0)).alias("embedding"),
        )
        pairs = ann.cosine_near_dup_pairs(hot, threshold=0.5, n_bits=2, bucket_cap=10)
        assert pairs.count() == 0  # hot bucket dropped, no n^2 pairs


class TestMultimodal:
    def test_binary_plumbing(self, spark, docs):
        out = multimodal.extract_features(multimodal.attach_binary_payload(docs))
        got = {r["doc_id"]: r for r in out.collect()}
        assert got[1]["byte_len"] == len("the quick brown fox jumps over the lazy dog")
        assert got[1]["head_hex"] == b"the quic".hex()
        assert got[1]["modality"] == "text/plain"

    def test_decode_unknown_format_raises_without_pil(self):
        try:
            import PIL  # noqa: F401
            pytest.skip("PIL present: PNG decodes for real")
        except ImportError:
            pass
        with pytest.raises(NotImplementedError):
            multimodal.decode_image(b"\x89PNG")
        # the operator path must be equally loud for real image magics —
        # never silently-null features for an actual image
        with pytest.raises(NotImplementedError):
            multimodal._try_decode(b"\xff\xd8\xff\xe0 jpeg bytes")
        assert multimodal._try_decode(b"plain text") is None
        # 2-byte ASCII prefixes must NOT be mistaken for images
        assert multimodal._try_decode(b"GIT fetch failed") is None
        assert multimodal._try_decode(b"BMC alert: fan 2") is None

    def test_netpbm_roundtrip(self):
        ppm = multimodal.make_ppm(seed=7, width=4, height=3)
        d = multimodal.decode_netpbm(ppm)
        assert (d["width"], d["height"], d["n_channels"]) == (4, 3, 3)
        # pixel i = (7*31 + i) % 256 over 36 bytes
        want = sum((7 * 31 + i) % 256 for i in range(36)) / 36
        assert abs(d["mean_pixel"] - want) < 1e-9
        # P5 grayscale with a comment line
        pgm = b"P5\n# c\n2 2\n255\n\x00\x10\x20\x30"
        d5 = multimodal.decode_netpbm(pgm)
        assert (d5["width"], d5["height"], d5["n_channels"]) == (2, 2, 1)
        assert d5["mean_pixel"] == (0x00 + 0x10 + 0x20 + 0x30) / 4

    def test_real_decode_through_spark_plan(self, spark):
        docs = spark.range(5).select(F.col("id").alias("doc_id"))
        out = multimodal.extract_features(multimodal.attach_ppm_payload(docs))
        got = {r["doc_id"]: r for r in out.collect()}
        assert got[3]["width"] == 4 + 3 % 5 and got[3]["height"] == 3 + 3 % 4
        assert all(r["n_channels"] == 3 for r in got.values())
        assert all(r["mean_pixel"] is not None for r in got.values())


class TestContamination:
    def test_flags_overlapping_docs(self, spark):
        df = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta"),       # shares 4-grams w/ bench
                (2, "one two three four five six seven"),          # clean
                (3, "alpha beta gamma delta unrelated tail here"), # shares exactly one
                (4, "too short"),                                  # < n words -> 0 shingles
            ],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [(100, "prefix alpha beta gamma delta suffix")], "bid long, text string"
        )
        got = {
            r["doc_id"]: r
            for r in textops.contamination(
                df, bench, n=4, bench_text_col="text"
            ).collect()
        }
        assert got[1]["contaminated"] and got[1]["n_matched_ngrams"] == 1
        assert not got[2]["contaminated"] and got[2]["n_matched_ngrams"] == 0
        assert got[3]["contaminated"] and got[3]["n_matched_ngrams"] == 1
        assert got[4]["n_ngrams"] == 0 and not got[4]["contaminated"]

    def test_repeated_shingle_counts_per_occurrence(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d x a b c d")], "doc_id long, text string"
        )
        bench = spark.createDataFrame([(9, "a b c d")], "bid long, text string")
        r = textops.contamination(df, bench, n=4).collect()[0]
        assert r["n_matched_ngrams"] == 2

    def test_corpus_side_never_sort_merge_joins(self, spark):
        df = spark.createDataFrame(
            [(i, "w%d x y z a b c d e" % i) for i in range(50)],
            "doc_id long, text string",
        )
        bench = df.where(F.col("doc_id") % 7 == 0)
        plan = textops.contamination(df, bench)._jdf.queryExecution().toString()
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan

    def test_matches_duckdb_oracle_on_documents(self, spark):
        """Same rigor as the driver gate (rows+schema+value-hash), run
        repo-side because the driver correctness artifact caps at 50
        rows (README 'Correctness gate') and every slot is taken."""
        import duckdb

        from tools.parity import compare

        sf_dir = "/root/testdata/sf0.001"
        docs = spark.read.parquet(sf_dir + "/documents.parquet")
        bench = docs.where(F.col("doc_id") % 37 == 0)
        out = textops.contamination(docs, bench, n=8).select(
            "doc_id", "n_ngrams", "n_matched_ngrams", "contaminated"
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('%s/documents.parquet')"
            % sf_dir
        )
        sql = r"""WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
),
sh AS (
  SELECT doc_id, CASE WHEN len(toks) >= 8 THEN
      [md5(array_to_string(toks[i:i+7], ' ')) FOR i IN range(1, greatest(len(toks)-6, 1))]
    ELSE [] END AS hs
  FROM w
),
bench AS (SELECT DISTINCT unnest(hs) AS h FROM sh WHERE doc_id % 37 = 0),
occ AS (SELECT doc_id, unnest(hs) AS h FROM sh),
m AS (
  SELECT occ.doc_id, count(*) AS n_matched_ngrams
  FROM occ JOIN bench USING (h) GROUP BY occ.doc_id
)
SELECT s.doc_id,
  CAST(len(s.hs) AS INTEGER) AS n_ngrams,
  CAST(coalesce(m.n_matched_ngrams, 0) AS BIGINT) AS n_matched_ngrams,
  coalesce(m.n_matched_ngrams, 0) > 0 AS contaminated
FROM sh s LEFT JOIN m USING (doc_id)"""
        r = compare("contamination", out, sql, con)
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], r
        # the check is only meaningful if the fixture actually overlaps
        assert out.where("contaminated").count() > 0


class TestRepetitionSignals:
    def test_signal_values(self, spark):
        df = spark.createDataFrame(
            [
                (1, "spam spam spam spam"),
                (2, "all unique words here"),
                (3, "line\nline\nother"),
            ],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in textops.repetition_signals(df).collect()}
        assert got[1]["dup_word_frac"] == 0.75
        assert got[1]["dup_2gram_frac"] == pytest.approx(2 / 3, abs=1e-6)
        assert got[2]["dup_word_frac"] == 0.0
        assert got[3]["dup_line_frac"] == pytest.approx(1 / 3, abs=1e-6)

    def test_matches_duckdb_oracle_on_documents(self, spark):
        import duckdb

        from tools.parity import compare

        sf_dir = "/root/testdata/sf0.001"
        docs = spark.read.parquet(sf_dir + "/documents.parquet")
        out = textops.repetition_signals(docs).select(
            "doc_id", "dup_line_frac", "dup_word_frac", "dup_2gram_frac"
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('%s/documents.parquet')"
            % sf_dir
        )
        sql = r"""WITH w AS (
  SELECT doc_id,
    list_filter(string_split(text, chr(10)), s -> len(trim(s)) > 0) AS lines,
    regexp_split_to_array(trim(text), '\s+') AS toks,
    CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) >= 2 THEN
        [array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+1], ' ')
         FOR i IN range(1, greatest(len(regexp_split_to_array(trim(text), '\s+')), 1))]
      ELSE [] END AS grams
  FROM documents
)
SELECT doc_id,
  CASE WHEN len(lines) > 0
    THEN round((len(lines) - len(list_distinct(lines)))::DOUBLE / len(lines), 6)
    ELSE 0.0 END AS dup_line_frac,
  CASE WHEN len(toks) > 0
    THEN round((len(toks) - len(list_distinct(toks)))::DOUBLE / len(toks), 6)
    ELSE 0.0 END AS dup_word_frac,
  CASE WHEN len(grams) > 0
    THEN round((len(grams) - len(list_distinct(grams)))::DOUBLE / len(grams), 6)
    ELSE 0.0 END AS dup_2gram_frac
FROM w"""
        r = compare("repetition_signals", out, sql, con)
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], r


class TestStratifiedSample:
    def test_deterministic_and_rate_accurate(self, spark):
        from gogstash_spark.mlops import sampling

        df = spark.range(10_000).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 2 == 0).cast("string").alias("stratum"),
        )
        rates = {"true": 0.5, "false": 0.1}
        a = sampling.stratified_sample(df, rates, "stratum")
        b = sampling.stratified_sample(df, rates, "stratum")
        ids_a = sorted(r["doc_id"] for r in a.collect())
        assert ids_a == sorted(r["doc_id"] for r in b.collect())  # rerun-stable
        n_true = a.where("stratum = 'true'").count()
        n_false = a.where("stratum = 'false'").count()
        assert abs(n_true / 5000 - 0.5) < 0.05
        assert abs(n_false / 5000 - 0.1) < 0.03
        # different seed -> a different (roughly independent) sample
        c = sampling.stratified_sample(df, rates, "stratum", seed=7)
        assert sorted(r["doc_id"] for r in c.collect()) != ids_a

    def test_edge_rates(self, spark):
        from gogstash_spark.mlops import sampling

        df = spark.range(100).select(
            F.col("id").alias("doc_id"), F.lit("x").alias("s")
        )
        assert sampling.stratified_sample(df, {"x": 1.0}, "s").count() == 100
        assert sampling.stratified_sample(df, {"x": 0.0}, "s").count() == 0
        # stratum not in dict -> default_rate (0.0)
        assert sampling.stratified_sample(df, {"y": 1.0}, "s").count() == 0

    def test_plan_is_a_pure_filter(self, spark):
        from gogstash_spark.mlops import sampling

        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = sampling.stratified_sample(
            df, {"src0": 0.5, "src1": 0.25}, "source"
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Join" not in plan

    def test_matches_duckdb_oracle_on_documents(self, spark):
        import duckdb

        from gogstash_spark.mlops import sampling
        from tools.parity import compare

        sf_dir = "/root/testdata/sf0.001"
        docs = spark.read.parquet(sf_dir + "/documents.parquet")
        out = sampling.stratified_sample(
            docs, {"src0": 0.5, "src1": 0.25, "src2": 1.0}, "source",
            default_rate=0.05,
        ).select("doc_id", "source")
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('%s/documents.parquet')"
            % sf_dir
        )
        sql = """SELECT doc_id, source FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 4) <
  CASE source
    WHEN 'src2' THEN 'g'
    WHEN 'src1' THEN '4000'
    WHEN 'src0' THEN '8000'
    ELSE '0ccc' END"""
        r = compare("stratified_sample", out, sql, con)
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], r
        assert 0 < out.count() < docs.count()


class TestUpsampleMix:
    def test_whole_epochs_exact_and_copies_distinct(self, spark):
        from gogstash_spark.mlops import sampling

        df = spark.range(200).select(
            F.col("id").alias("doc_id"), F.lit("a").alias("s")
        )
        out = sampling.upsample_mix(df, {"a": 3.0}, "s")
        assert out.count() == 600
        per = out.groupBy("doc_id").agg(
            F.count("*").alias("n"), F.collect_set("epoch").alias("es")
        )
        assert per.where("n <> 3").count() == 0
        assert per.where(F.array_sort("es") != F.array(F.lit(0), F.lit(1), F.lit(2))).count() == 0
        assert out.select("copy_id").distinct().count() == 600

    def test_fractional_epochs_rate_and_determinism(self, spark):
        from gogstash_spark.mlops import sampling

        df = spark.range(10_000).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 2 == 0).cast("string").alias("s"),
        )
        eps = {"true": 2.4, "false": 0.5}
        a = sampling.upsample_mix(df, eps, "s")
        b = sampling.upsample_mix(df.repartition(13), eps, "s")
        ka = sorted(r["copy_id"] for r in a.collect())
        assert ka == sorted(r["copy_id"] for r in b.collect())  # partition-invariant
        n_true = a.where("s = 'true'").count()
        n_false = a.where("s = 'false'").count()
        assert abs(n_true / 5000 - 2.4) < 0.1
        assert abs(n_false / 5000 - 0.5) < 0.05
        # e < 1 degenerates to stratified_sample's keep set, same seed
        kept_ids = {r["doc_id"] for r in a.where("s = 'false'").collect()}
        strat = sampling.stratified_sample(
            df.where("s = 'false'"), {"false": 0.5}, "s"
        )
        assert kept_ids == {r["doc_id"] for r in strat.collect()}

    def test_zero_epochs_drop_and_negative_raises(self, spark):
        from gogstash_spark.mlops import sampling

        df = spark.range(50).select(F.col("id").alias("doc_id"), F.lit("x").alias("s"))
        assert sampling.upsample_mix(df, {"x": 0.0}, "s").count() == 0
        with pytest.raises(ValueError):
            sampling.upsample_mix(df, {"x": -1.0}, "s")

    def test_plan_no_shuffle_no_join(self, spark):
        from gogstash_spark.mlops import sampling

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = (
            sampling.upsample_mix(docs, {"src0": 2.5}, "source")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan and "Join" not in plan

    def test_packs_through_copy_id(self, spark):
        """The documented downstream contract: packing an upsampled mix
        MUST key on copy_id (string), or a doc's second epoch collides
        with its first. Prove the composition end-to-end: every copy
        gets its own slice and the stream is gapless."""
        from gogstash_spark.mlops import sampling
        from gogstash_spark.mlops.packing import pack_sequences

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        up = sampling.upsample_mix(docs, {"src0": 3.0, "src1": 0.5}, "source")
        packed = (
            pack_sequences(up, capacity=2048, id_col="copy_id")
            .orderBy("tok_offset")
            .select("copy_id", "tok_offset", "n_tokens")
            .toPandas()
        )
        assert packed["copy_id"].is_unique and len(packed) == up.count()
        offsets = packed["tok_offset"].to_numpy()
        lens = packed["n_tokens"].to_numpy()
        assert offsets[0] == 0 and ((offsets[:-1] + lens[:-1]) == offsets[1:]).all()

    def test_matches_duckdb_oracle_on_documents(self, spark):
        import duckdb

        from gogstash_spark.mlops import sampling
        from tools.parity import compare

        sf_dir = "/root/testdata/sf0.001"
        docs = spark.read.parquet(sf_dir + "/documents.parquet")
        out = sampling.upsample_mix(
            docs, {"src0": 2.5, "src1": 0.25}, "source"
        ).select("doc_id", "source", "epoch", "copy_id")
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('%s/documents.parquet')"
            % sf_dir
        )
        sql = """WITH base AS (
  SELECT doc_id, source,
    CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0 ELSE 1 END
    + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 4) <
        CASE source WHEN 'src0' THEN '8000' WHEN 'src1' THEN '4000' ELSE '0000' END
      THEN 1 ELSE 0 END AS n
  FROM documents
)
SELECT doc_id, source, CAST(u.e AS INTEGER) AS epoch,
  CAST(doc_id AS VARCHAR) || ':' || CAST(u.e AS VARCHAR) AS copy_id
FROM base, LATERAL (SELECT unnest(range(0, n)) AS e) u
WHERE n > 0"""
        r = compare("upsample_mix", out, sql, con)
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], r
        assert out.count() > docs.count()  # the mix really upsamples


class TestSemanticDedup:
    def _toy(self, spark):
        rows = [
            (1, [1.0, 0.0]),
            (2, [0.99, 0.14]),   # cos(1,2) ~ 0.990
            (3, [0.0, 1.0]),
            (4, [0.14, 0.99]),   # cos(3,4) ~ 0.990
            (5, [0.7071, 0.7071]),  # cos to both axes ~ 0.707
            (6, [0.0, 0.0]),     # zero norm: unplaceable
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def _axes_centroids(self, spark):
        return spark.createDataFrame(
            [(100, [1.0, 0.0]), (200, [0.0, 1.0])],
            "cid long, cvec array<double>",
        )

    def test_keep_rule_min_id_per_ball(self, spark):
        kept = {
            r["vec_id"]: r["cell"]
            for r in ann.semantic_dedup(
                self._toy(spark), threshold=0.95,
                centroids=self._axes_centroids(spark),
            ).collect()
        }
        # 2 drops (dup of 1 in cell 100), 4 drops (dup of 3 in cell
        # 200); 5 is near neither; zero-vector 6 survives with NULL cell
        assert set(kept) == {1, 3, 5, 6}
        assert kept[1] == 100 and kept[3] == 200 and kept[6] is None

    def test_chain_collapses_to_min_id(self, spark):
        """ids 1,2,3 at 0/15/30 degrees, threshold between cos15 and
        cos30: 2 drops via 1, and 3 drops via 2 EVEN THOUGH 2 itself
        was dropped — the greedy pass is by id, not by survivor set."""
        rows = [
            (1, [1.0, 0.0]),
            (2, [math.cos(math.radians(15)), math.sin(math.radians(15))]),
            (3, [math.cos(math.radians(30)), math.sin(math.radians(30))]),
            (4, [-1.0, 0.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        cents = spark.createDataFrame(
            [(100, [1.0, 0.0]), (200, [-1.0, 0.0])], "cid long, cvec array<double>"
        )
        kept = {
            r["vec_id"]
            for r in ann.semantic_dedup(df, threshold=0.94, centroids=cents).collect()
        }
        assert kept == {1, 4}

    def test_cluster_cap_skips_whole_cluster(self, spark):
        """An over-cap cluster is kept WHOLE (no partial silent work)."""
        df = self._toy(spark)
        kept = ann.semantic_dedup(
            df, threshold=0.95, centroids=self._axes_centroids(spark),
            cluster_cap=2,
        )
        # cell 100 holds {1, 2, 5} (5 ties to min cid) -> over cap,
        # skipped whole; cell 200 holds {3, 4} -> within cap, 4 dropped
        assert {r["vec_id"] for r in kept.collect()} == {1, 2, 3, 5, 6}

    def test_matches_duckdb_oracle_trained_end_to_end(self, spark):
        """Full SemDeDup (Lloyd-trained cells + within-cell pruning)
        vs a DuckDB restatement that unrolls the training. The fixture
        embeddings are near-orthogonal noise (max pairwise cos 0.479),
        so the test threshold is 0.3 — low enough that ~40% of the
        corpus actually drops; production text embeddings use ~0.95+."""
        import duckdb

        from gogstash_spark.mlops.entries import _lloyd_iter_cte, _sql_cos
        from tools.parity import compare

        sf_dir = "/root/testdata/sf0.001"
        emb = spark.read.parquet(sf_dir + "/embeddings.parquet")
        out = ann.semantic_dedup(
            emb, n_centroids=8, iters=2, threshold=0.3, cluster_cap=None
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM read_parquet('%s/embeddings.parquet')"
            % sf_dir
        )
        train = ",\n".join(
            _lloyd_iter_cte(i + 1, "cent%d" % i, 64) for i in range(2)
        )
        ccos = _sql_cos("e.embedding", "c.cvec")
        pcos = _sql_cos("a.embedding", "b.embedding")
        sql = f"""WITH cent0 AS (
  SELECT vec_id AS cid, [x::DOUBLE FOR x IN embedding] AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 8
),
{train},
assign AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {ccos} DESC, c.cid ASC) AS crk
  FROM embeddings e CROSS JOIN cent2 c
  WHERE list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) > 0
),
cells AS (SELECT vec_id, embedding, cid FROM assign WHERE crk = 1),
drops AS (
  SELECT DISTINCT b.vec_id
  FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {pcos} >= 0.3
)
SELECT vec_id, cid AS cell FROM cells
WHERE vec_id NOT IN (SELECT vec_id FROM drops)
UNION ALL
SELECT vec_id, NULL AS cell FROM embeddings
WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) = 0"""
        r = compare("semantic_dedup", out, sql, con)
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], r
        n_in, n_out = emb.count(), out.count()
        assert 0 < n_out < n_in  # pruning really fired

    def test_scale_shape(self, spark):
        """No non-broadcast cartesian anywhere: the only crossJoins are
        the 1-row centroid attachments inside ivf_assign/ivf_train."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        plan = (
            ann.semantic_dedup(emb, n_centroids=8, iters=1, threshold=0.3)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan, plan


class TestRepeatedSubstringSpans:
    def test_spans_by_hand(self, spark):
        """Two docs share a 10-token run; with k=4 every window inside
        the run duplicates, and the islands merge back to exactly that
        run in each doc."""
        shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        df = spark.createDataFrame(
            [
                (1, "unique one two three " + shared + " tail1 tailx"),
                (2, shared + " other words entirely different here"),
                (3, "no overlap with anything else at all whatsoever"),
            ],
            "doc_id long, text string",
        )
        spans = {
            r["doc_id"]: (r["span_start"], r["span_end"], r["span_tokens"])
            for r in dedup.repeated_substring_spans(df, k=4).collect()
        }
        # doc1: shared run occupies tokens 4..13; doc2: tokens 0..9
        assert spans[1] == (4, 13, 10)
        assert spans[2] == (0, 9, 10)
        assert 3 not in spans

    def test_within_doc_repetition_counts(self, spark):
        """min_count occurrences may live in ONE document (self-repeated
        boilerplate) — both copies are flagged."""
        df = spark.createDataFrame(
            [(1, "x y z w pad1 pad2 pad3 x y z w")], "doc_id long, text string"
        )
        got = sorted(
            (r["span_start"], r["span_end"])
            for r in dedup.repeated_substring_spans(df, k=4).collect()
        )
        assert got == [(0, 3), (7, 10)]

    def test_matches_duckdb_oracle_on_documents(self, spark):
        """rows+schema+value-hash vs a windowed DuckDB restatement —
        repo-side because the driver artifact caps at 50 rows and every
        slot is taken (README 'Correctness gate')."""
        import duckdb

        from tools.parity import compare

        sf_dir = "/root/testdata/sf0.001"
        docs = spark.read.parquet(sf_dir + "/documents.parquet")
        out = dedup.repeated_substring_spans(docs, k=8).select(
            "doc_id", "span_start", "span_end", "span_tokens"
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('%s/documents.parquet')"
            % sf_dir
        )
        sql = r"""WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
),
sh AS (
  SELECT doc_id, gs.i - 1 AS pos,
    md5(array_to_string(toks[gs.i:gs.i+7], ' ')) AS h
  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 8 + 2)) AS i) gs
  WHERE len(toks) >= 8
),
hot AS (SELECT h FROM sh GROUP BY h HAVING count(*) >= 2),
d AS (SELECT doc_id, pos FROM sh JOIN hot USING (h)),
-- INDEPENDENT restatement: expand each hot window to the 8 token
-- positions it covers and take maximal runs of covered positions —
-- no reuse of the implementation's window-start island grouping, so
-- an overlap double-count bug on the Spark side cannot also live here
cov AS (
  SELECT DISTINCT doc_id, pos + u.off AS p
  FROM d, LATERAL (SELECT unnest(range(0, 8)) AS off) u
),
isl AS (
  SELECT doc_id, p,
    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
  FROM cov
)
SELECT doc_id,
  CAST(min(p) AS BIGINT) AS span_start,
  CAST(max(p) AS BIGINT) AS span_end,
  CAST(max(p) - min(p) + 1 AS BIGINT) AS span_tokens
FROM isl GROUP BY doc_id, grp"""
        r = compare("repeated_substring_spans", out, sql, con)
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], r
        assert out.count() > 0  # fixture really has repeated runs

    def test_scale_shape(self, spark):
        """No crossJoin, no SinglePartition exchange over data, no
        sort-merge join on the position frame (AQE may pick broadcast
        for the hot-hash side; both are fine — what must NOT appear is
        a nested-loop or a single-task funnel)."""
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = (
            dedup.repeated_substring_spans(docs, k=8)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
        assert "SinglePartition" not in plan, plan


class TestLMPerplexity:
    def test_rare_tokens_score_worse(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the the the the the the"),
                (2, "zxqv qwpo mnbv lkjh zzzz"),
            ],
            "doc_id long, text string",
        )
        lm, stats = textops.unigram_lm(df)
        got = {
            r["doc_id"]: r for r in textops.lm_perplexity(df, lm, stats).collect()
        }
        assert got[1]["ppl"] < got[2]["ppl"]
        assert got[1]["n_lm_tokens"] == 6 and got[2]["n_lm_tokens"] == 5

    def test_blank_docs_are_excluded(self, spark):
        df = spark.createDataFrame(
            [(1, "real words here"), (2, "   "), (3, "")],
            "doc_id long, text string",
        )
        lm, stats = textops.unigram_lm(df)
        got = textops.lm_perplexity(df, lm, stats).collect()
        assert [r["doc_id"] for r in got] == [1]
        assert got[0]["n_lm_tokens"] == 3  # '' never entered the vocab

    def test_oov_scores_at_oov_mass(self, spark):
        train = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        score = spark.createDataFrame([(9, "zz zz")], "doc_id long, text string")
        lm, stats = textops.unigram_lm(train)
        st = stats.collect()[0]
        import math

        r = textops.lm_perplexity(score, lm, stats).collect()[0]
        assert r["avg_logprob"] == pytest.approx(
            round(-math.log(st["n_total"] + st["n_vocab"]), 6), abs=1e-6
        )

    def test_matches_duckdb_oracle_on_documents(self, spark):
        """rows+schema+value-hash — repo-side because the driver
        artifact caps at 50 rows and every slot is taken."""
        import duckdb

        from tools.parity import compare

        sf_dir = "/root/testdata/sf0.001"
        docs = spark.read.parquet(sf_dir + "/documents.parquet")
        lm, stats = textops.unigram_lm(docs)
        out = textops.lm_perplexity(docs, lm, stats).select(
            "doc_id", "n_lm_tokens", "avg_logprob", "ppl"
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('%s/documents.parquet')"
            % sf_dir
        )
        sql = r"""WITH tok0 AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents
),
tok AS (SELECT * FROM tok0 WHERE token <> ''),
counts AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
stats AS (SELECT sum(c) AS n_total, count(*) AS n_vocab FROM counts),
lm AS (
  SELECT token, ln((c + 1)::DOUBLE / (n_total + n_vocab)) AS logp
  FROM counts, stats
),
sc AS (
  SELECT tok.doc_id,
    coalesce(lm.logp, -ln((SELECT n_total + n_vocab FROM stats))) AS lp
  FROM tok LEFT JOIN lm USING (token)
)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_lm_tokens,
  round(avg(lp), 6) AS avg_logprob,
  round(exp(-round(avg(lp), 6)), 6) AS ppl
FROM sc GROUP BY doc_id"""
        r = compare("lm_perplexity", out, sql, con)
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], r

    def test_scale_shape(self, spark):
        """LM join is broadcast; the only corpus shuffle is the final
        groupBy(doc_id)."""
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        lm, stats = textops.unigram_lm(docs)
        plan = (
            textops.lm_perplexity(docs, lm, stats)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "SortMergeJoin" not in plan, plan
        assert "CartesianProduct" not in plan


class TestRepeatedFraction:
    def test_values_by_hand(self, spark):
        shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
        df = spark.createDataFrame(
            [
                (1, shared + " tail1 tail2"),   # 8 of 10 repeated
                (2, shared),                    # fully repeated
                (3, "no overlap with anything else whatsoever"),
            ],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: r for r in dedup.repeated_fraction(df, k=8).collect()
        }
        assert got[1]["repeated_frac"] == 0.8
        assert got[2]["repeated_frac"] == 1.0
        assert got[3]["repeated_frac"] == 0.0 and got[3]["repeated_tokens"] == 0

    def test_overlapping_hot_windows_never_double_count(self, spark):
        """Hot windows whose starts differ by 2..k-1 cover overlapping
        token ranges; their spans must merge, never sum past 1.0
        (regression: consecutive-start island grouping produced
        repeated_frac=1.2 for doc 1 here)."""
        df = spark.createDataFrame(
            [(1, "a b c b c"), (2, "a b c x"), (3, "z c b c")],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: r for r in dedup.repeated_fraction(df, k=3).collect()
        }
        # doc1: hot starts 0 ("a b c") and 2 ("c b c") merge -> [0,4]
        assert got[1]["repeated_tokens"] == 5 and got[1]["repeated_frac"] == 1.0
        assert got[2]["repeated_frac"] == 0.75
        assert got[3]["repeated_frac"] == 0.75
        assert all(r["repeated_frac"] <= 1.0 for r in got.values())

    def test_touching_coverage_merges_to_one_span(self, spark):
        """Starts exactly k apart cover adjacent token runs — one
        contiguous maximal covered span, not two."""
        # "p q r s t u" repeated in doc 2 makes every doc-1 window hot;
        # doc 3 shares only the two k=3 windows at starts 0 and 3
        df = spark.createDataFrame(
            [
                (1, "p q r s t u end1 end2"),
                (2, "p q r filler s t u filler2"),
            ],
            "doc_id long, text string",
        )
        spans = sorted(
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in dedup.repeated_substring_spans(df, k=3).collect()
        )
        # doc1 hot starts {0, 3} (gap == k): coverage [0,2]+[3,5] is
        # contiguous -> single span [0,5]
        assert (1, 0, 5) in spans
        assert not any(
            a == b and s2 <= e1
            for (a, s1, e1), (b, s2, e2) in zip(spans, spans[1:])
        ), spans

    def test_matches_duckdb_oracle_on_documents(self, spark):
        import duckdb

        from tools.parity import compare

        sf_dir = "/root/testdata/sf0.001"
        docs = spark.read.parquet(sf_dir + "/documents.parquet")
        out = dedup.repeated_fraction(docs, k=8).select(
            "doc_id", "n_tokens", "repeated_tokens", "repeated_frac"
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('%s/documents.parquet')"
            % sf_dir
        )
        sql = r"""WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
),
sh AS (
  SELECT doc_id, gs.i - 1 AS pos,
    md5(array_to_string(toks[gs.i:gs.i+7], ' ')) AS h
  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 8 + 2)) AS i) gs
  WHERE len(toks) >= 8
),
hot AS (SELECT h FROM sh GROUP BY h HAVING count(*) >= 2),
d AS (SELECT doc_id, pos FROM sh JOIN hot USING (h)),
-- INDEPENDENT coverage count: distinct covered token positions per
-- doc, no island grouping at all — if the Spark side ever
-- double-counted overlapping spans, this count would diverge
cov AS (
  SELECT DISTINCT doc_id, pos + u.off AS p
  FROM d, LATERAL (SELECT unnest(range(0, 8)) AS off) u
),
per_doc AS (SELECT doc_id, count(*) AS repeated_tokens FROM cov GROUP BY doc_id),
nt AS (
  SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN 0
    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
  FROM documents
)
SELECT nt.doc_id,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(coalesce(repeated_tokens, 0) AS BIGINT) AS repeated_tokens,
  CASE WHEN n_tokens > 0
    THEN round(coalesce(repeated_tokens, 0) / n_tokens, 6)
    ELSE 0.0 END AS repeated_frac
FROM nt LEFT JOIN per_doc USING (doc_id)"""
        r = compare("repeated_fraction", out, sql, con)
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], r


class TestSelectTopFraction:
    def test_exact_quantile_gate(self, spark):
        """frac=0.3 over scores 1..10: threshold = interpolated p70 =
        7.3, so exactly {8,9,10} survive."""
        from gogstash_spark.mlops import sampling

        df = spark.range(1, 11).select(
            F.col("id").alias("doc_id"), F.col("id").cast("double").alias("quality")
        )
        kept = sorted(
            r["doc_id"]
            for r in sampling.select_top_fraction(df, 0.3, approx=False).collect()
        )
        assert kept == [8, 9, 10]

    def test_ties_at_threshold_all_survive(self, spark):
        from gogstash_spark.mlops import sampling

        df = spark.range(100).select(
            F.col("id").alias("doc_id"), F.lit(1.0).alias("quality")
        )
        assert sampling.select_top_fraction(df, 0.5, approx=False).count() == 100
        assert sampling.select_top_fraction(df, 1.0).count() == 100
        assert sampling.select_top_fraction(df, 0.0).count() == 0

    def test_approx_tracks_exact(self, spark):
        """The 100 TB path (percentile_approx sketch) keeps within 2%
        of the requested fraction on a smooth score distribution."""
        from gogstash_spark.mlops import sampling

        df = spark.range(10_000).select(
            F.col("id").alias("doc_id"),
            (F.col("id").cast("double") / 10_000).alias("quality"),
        )
        n = sampling.select_top_fraction(df, 0.3, approx=True).count()
        assert abs(n - 3000) <= 200

    def test_matches_duckdb_oracle_on_documents(self, spark):
        """Driver-gate rigor repo-side (50-row artifact is full): exact
        Spark percentile vs DuckDB quantile_cont, both quantized to
        1e-9 (the engines' interpolation formulas differ by 1 ulp even
        between equal neighbors — unquantized, every row tied at the
        threshold flips)."""
        import duckdb

        from gogstash_spark.mlops.entries import o_text_quality
        from gogstash_spark.mlops.sampling import select_top_fraction
        from tools.parity import compare

        sf_dir = "/root/testdata/sf0.001"
        docs = spark.read.parquet(sf_dir + "/documents.parquet")
        scored = textops.quality_score(docs.select("doc_id", "text")).select(
            "doc_id", "quality"
        )
        out = select_top_fraction(scored, 0.3, approx=False)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('%s/documents.parquet')"
            % sf_dir
        )
        sql = f"""WITH q AS (SELECT doc_id, quality FROM ({o_text_quality()})),
thr AS (SELECT round(quantile_cont(quality, 0.7), 9) AS t FROM q)
SELECT q.doc_id, q.quality FROM q, thr WHERE q.quality >= thr.t"""
        r = compare("select_top_fraction", out, sql, con)
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], r
        n_kept, n_all = out.count(), scored.count()
        assert 0 < n_kept < n_all and n_kept >= int(0.3 * n_all)


class TestVocab:
    def test_top_k_ranks_and_tie_break(self, spark):
        """Counts: b=3, a=2, c=2, d=1 — ties (a,c) break by token asc,
        k cuts deterministically inside the tied tail."""
        df = spark.createDataFrame(
            [(1, "b a c"), (2, "b a c"), (3, "b d")], "doc_id long, text string"
        )
        got = [
            (r["token"], r["n_occurrences"], r["rank"])
            for r in textops.vocab_top_k(df, k=3).orderBy("rank").collect()
        ]
        assert got == [("b", 3, 1), ("a", 2, 2), ("c", 2, 3)]
        with pytest.raises(ValueError):
            textops.vocab_top_k(df, k=0)

    def test_oov_rate_semantics(self, spark):
        df = spark.createDataFrame(
            [(1, "a b UNK"), (2, "a a a a"), (3, ""), (4, "x y z w")],
            "doc_id long, text string",
        )
        vocab = spark.createDataFrame([("a",), ("b",)], "token string")
        got = {r["doc_id"]: r for r in textops.oov_rate(df, vocab).collect()}
        assert set(got) == {1, 2, 3, 4}  # blank doc present, not dropped
        assert (got[1]["n_tokens"], got[1]["n_oov"]) == (3, 1)
        assert got[1]["oov_rate"] == pytest.approx(1 / 3, abs=1e-6)
        assert (got[2]["n_oov"], got[2]["oov_rate"]) == (0, 0.0)
        assert (got[3]["n_tokens"], got[3]["oov_rate"]) == (0, 0.0)
        assert (got[4]["n_oov"], got[4]["oov_rate"]) == (4, 1.0)

    def test_vocab_and_oov_match_duckdb_oracle_on_documents(self, spark):
        """Driver-gate rigor repo-side (50-row artifact is full): the
        top-20 vocabulary table AND per-doc coverage against it
        (the synthetic corpus has ~31 distinct tokens, so k=20 leaves a
        real OOV tail)."""
        import duckdb

        from tools.parity import compare

        sf_dir = "/root/testdata/sf0.001"
        docs = spark.read.parquet(sf_dir + "/documents.parquet")
        vocab = textops.vocab_top_k(docs, k=20)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('%s/documents.parquet')"
            % sf_dir
        )
        vocab_sql = r"""WITH tok AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents
),
c AS (
  SELECT token, count(*) AS n_occurrences FROM tok WHERE token != '' GROUP BY token
),
r AS (
  SELECT token, n_occurrences,
         row_number() OVER (ORDER BY n_occurrences DESC, token ASC) AS rank
  FROM c
)
SELECT token, CAST(n_occurrences AS BIGINT) AS n_occurrences,
       CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 20"""
        r1 = compare("vocab_top_k", vocab, vocab_sql, con)
        assert r1["rows_match"] and r1["schema_match"] and r1["hash_match"], r1

        out = textops.oov_rate(docs, vocab)
        oov_sql = f"""WITH v AS (SELECT list(token) AS vl FROM ({vocab_sql})),
d AS (
  SELECT doc_id,
    regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents
),
m AS (
  SELECT doc_id,
    len(list_filter(toks, x -> x != '')) AS n_tokens,
    len(list_filter(toks, x -> x != '' AND NOT list_contains(v.vl, x))) AS n_oov
  FROM d, v
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(n_oov AS BIGINT) AS n_oov,
  round(CASE WHEN n_tokens > 0 THEN CAST(n_oov AS DOUBLE) / n_tokens
             ELSE 0.0 END, 6) AS oov_rate
FROM m"""
        r2 = compare("oov_rate", out, oov_sql, con)
        assert r2["rows_match"] and r2["schema_match"] and r2["hash_match"], r2
        # the gate only bites if some tokens actually fall outside top-20
        assert out.where("n_oov > 0").count() > 0


class TestNBClassifier:
    def test_train_and_score_hand_computed(self, spark):
        """counts: good c_pos=3 c_neg=1; fine c_pos=2 c_neg=0; bad
        c_pos=0 c_neg=3. N_pos=5 N_neg=4 V=3, d_pos=d_neg=2 ->
        prior_lo=0, unseen_lo=ln(7/8)."""
        seed = spark.createDataFrame(
            [
                (1, 1, "good good fine"),
                (2, 1, "good fine"),
                (3, 0, "bad bad good"),
                (4, 0, "bad"),
            ],
            "doc_id long, label int, text string",
        )
        w, st = textops.nb_train(seed)
        ws = {r["token"]: r["log_ratio"] for r in w.collect()}
        s = st.collect()[0]
        assert (s["n_pos"], s["n_neg"], s["n_vocab"]) == (5, 4, 3)
        assert s["prior_lo"] == pytest.approx(0.0)
        assert s["unseen_lo"] == pytest.approx(math.log(7 / 8))
        assert ws["good"] == pytest.approx(math.log(4 / 8) - math.log(2 / 7))
        assert ws["fine"] == pytest.approx(math.log(3 / 8) - math.log(1 / 7))
        assert ws["bad"] == pytest.approx(math.log(1 / 8) - math.log(4 / 7))

        docs = spark.createDataFrame(
            [(10, "good unknown"), (11, "bad bad"), (12, "")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in textops.nb_score(docs, w, st).collect()}
        assert got[10]["n_tokens"] == 2
        assert got[10]["nb_score"] == pytest.approx(
            math.log(1.75) + math.log(7 / 8), abs=1e-6
        )
        assert got[10]["nb_positive"] is True
        assert got[11]["nb_positive"] is False
        # blank doc: prior-only decision, kept
        assert (got[12]["n_tokens"], got[12]["nb_score"]) == (0, 0.0)
        assert got[12]["nb_positive"] is True

    def test_nb_matches_duckdb_oracle_on_documents(self, spark):
        """Full train+score pipeline vs one DuckDB SQL unroll: label =
        doc's source in a curated seed set."""
        import duckdb

        from tools.parity import compare

        sf_dir = "/root/testdata/sf0.001"
        docs = spark.read.parquet(sf_dir + "/documents.parquet")
        seed = docs.withColumn(
            "label",
            F.col("source").isin("src0", "src1", "src2", "src3").cast("int"),
        )
        w, st = textops.nb_train(seed)
        out = textops.nb_score(docs, w, st)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('%s/documents.parquet')"
            % sf_dir
        )
        sql = r"""WITH lab AS (
  SELECT doc_id, text,
         CASE WHEN source IN ('src0','src1','src2','src3') THEN 1 ELSE 0 END AS y
  FROM documents
),
tok AS (
  SELECT y, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM lab
),
c AS (
  SELECT token,
         sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS c_pos,
         sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS c_neg
  FROM tok WHERE token != '' GROUP BY token
),
tt AS (SELECT sum(c_pos) AS n_pos, sum(c_neg) AS n_neg, count(*) AS n_vocab FROM c),
dt AS (
  SELECT sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS d_pos,
         sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS d_neg
  FROM lab
),
st AS (
  SELECT ln((d_pos + 1.0) / (d_neg + 1.0)) AS prior_lo,
         ln((n_neg + n_vocab) * 1.0 / (n_pos + n_vocab)) AS unseen_lo,
         n_pos, n_neg, n_vocab
  FROM tt, dt
),
w AS (
  SELECT token,
         ln((c_pos + 1.0) / (n_pos + n_vocab))
           - ln((c_neg + 1.0) / (n_neg + n_vocab)) AS log_ratio
  FROM c, st
),
d2 AS (
  SELECT doc_id,
         CASE WHEN tk = '' THEN NULL ELSE tk END AS tk
  FROM (SELECT doc_id,
          unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tk
        FROM documents)
),
a AS (
  SELECT d2.doc_id, count(d2.tk) AS n_tokens,
         sum(CASE WHEN d2.tk IS NOT NULL
                  THEN coalesce(w.log_ratio, (SELECT unseen_lo FROM st))
                  ELSE 0.0 END) AS ev
  FROM d2 LEFT JOIN w ON d2.tk = w.token
  GROUP BY d2.doc_id
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
  round((SELECT prior_lo FROM st) + ev, 6) AS nb_score,
  round((SELECT prior_lo FROM st) + ev, 6) >= 0 AS nb_positive
FROM a"""
        r = compare("nb_quality", out, sql, con)
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], r
        # decision boundary is actually exercised both ways
        pos = out.where("nb_positive").count()
        assert 0 < pos < out.count()


class TestMixtureWeights:
    def test_solve_semantics(self, spark):
        """src_a: 10 tokens avail; src_b: 2; src_ghost absent from the
        corpus. Budget 20, target a:0.5 b:0.25 ghost:0.25, cap 2x."""
        from gogstash_spark.mlops.sampling import mixture_weights

        df = spark.createDataFrame(
            [
                (1, "src_a", "t1 t2 t3 t4 t5"),
                (2, "src_a", "t1 t2 t3 t4 t5"),
                (3, "src_b", "x y"),
                (4, "src_other", "z z z"),
            ],
            "doc_id long, source string, text string",
        )
        out = {
            r["source"]: r
            for r in mixture_weights(
                df,
                {"src_a": 2.0, "src_b": 1.0, "src_ghost": 1.0},
                budget_tokens=20,
                max_epochs=2.0,
            ).collect()
        }
        assert set(out) == {"src_a", "src_b", "src_ghost", "src_other"}
        a = out["src_a"]  # desired 10, avail 10 -> 1 epoch, feasible
        assert (a["avail_tokens"], a["desired_tokens"]) == (10, 10.0)
        assert a["epochs"] == 1.0 and a["feasible"]
        b = out["src_b"]  # desired 5, avail 2, cap 2x -> achieved 4, deficit 1
        assert b["epochs"] == 2.0
        assert (b["achieved_tokens"], b["deficit_tokens"]) == (4.0, 1.0)
        assert not b["feasible"]
        g = out["src_ghost"]  # typo'd source surfaces as a full-deficit row
        assert (g["n_docs"], g["avail_tokens"]) == (0, 0)
        assert (g["achieved_tokens"], g["deficit_tokens"]) == (0.0, 5.0)
        assert not g["feasible"]
        o = out["src_other"]  # in corpus, not in target: explicit zero row
        assert (o["target_frac"], o["desired_tokens"], o["feasible"]) == (0.0, 0.0, True)
        with pytest.raises(ValueError):
            mixture_weights(df, {"a": -1.0}, 10)
        with pytest.raises(ValueError):
            mixture_weights(df, {}, 10)

    def test_matches_duckdb_oracle_on_documents(self, spark):
        import duckdb

        from gogstash_spark.mlops.sampling import mixture_weights
        from tools.parity import compare

        sf_dir = "/root/testdata/sf0.001"
        docs = spark.read.parquet(sf_dir + "/documents.parquet")
        out = mixture_weights(
            docs,
            {"src0": 3.0, "src1": 1.0, "src2": 1.0, "srcmissing": 1.0},
            budget_tokens=100_000,
            max_epochs=3.0,
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('%s/documents.parquet')"
            % sf_dir
        )
        sql = r"""WITH avail AS (
  SELECT source,
         count(*) AS n_docs,
         sum(CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS avail_tokens
  FROM documents GROUP BY source
),
tgt(source, target_frac) AS (VALUES
  ('src0', 0.5), ('src1', 1.0/6.0), ('src2', 1.0/6.0), ('srcmissing', 1.0/6.0)
),
j AS (
  SELECT coalesce(a.source, t.source) AS source,
         coalesce(a.n_docs, 0) AS n_docs,
         coalesce(a.avail_tokens, 0) AS avail_tokens,
         coalesce(t.target_frac, 0.0) AS tf,
         100000 * coalesce(t.target_frac, 0.0) AS desired
  FROM avail a FULL OUTER JOIN tgt t ON a.source = t.source
)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
  CAST(avail_tokens AS BIGINT) AS avail_tokens,
  round(tf, 6) AS target_frac,
  round(desired, 6) AS desired_tokens,
  round(CASE WHEN avail_tokens > 0
             THEN least(desired / avail_tokens, 3.0) ELSE 0.0 END, 6) AS epochs,
  round(CASE WHEN avail_tokens > 0
             THEN least(desired, avail_tokens * 3.0) ELSE 0.0 END, 6) AS achieved_tokens,
  round(desired - CASE WHEN avail_tokens > 0
             THEN least(desired, avail_tokens * 3.0) ELSE 0.0 END, 6) AS deficit_tokens,
  round(desired - CASE WHEN avail_tokens > 0
             THEN least(desired, avail_tokens * 3.0) ELSE 0.0 END, 6) <= 0 AS feasible
FROM j"""
        r = compare("mixture_weights", out, sql, con)
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], r
        rows = {x["source"]: x for x in out.collect()}
        assert not rows["srcmissing"]["feasible"]


class TestPQ:
    def test_pq_topk_matches_duckdb_full_chain(self, spark):
        """pq_train (2 Lloyd rounds per subspace) + IVF cells + encode
        + ADC scoring vs the single unrolled DuckDB SQL — the same
        training-included hash gate the trained-IVF driver row has.
        Repo-side because the driver's 50 rows are all taken."""
        import duckdb

        from gogstash_spark.mlops.entries import o_ann_topk_pq, q_ann_topk_pq
        from tools.parity import compare

        sf_dir = "/root/testdata/sf0.001"
        out = q_ann_topk_pq(spark, sf_dir)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM read_parquet('%s/embeddings.parquet')"
            % sf_dir
        )
        r = compare("ann_topk_pq", out, o_ann_topk_pq(), con)
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], r

    def test_codebook_shape_and_codes_range(self, spark):
        from gogstash_spark.mlops import pq

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        cb = pq.pq_train(emb, m=8, ksub=16, iters=1)
        rows = cb.collect()
        assert len(rows) == 8 * 16
        assert all(len(r["cvec"]) == 8 for r in rows)
        assert {(r["sub"], r["code"]) for r in rows} == {
            (s, c) for s in range(8) for c in range(16)
        }
        enc = pq.pq_encode(emb, cb)
        bad = enc.where(
            "size(codes) != 8 or exists(codes, c -> c < 0 or c >= 16)"
        ).count()
        assert bad == 0
        # deterministic: re-encoding yields identical codes
        a = {r["vid"]: r["codes"] for r in enc.collect()}
        b = {r["vid"]: r["codes"] for r in pq.pq_encode(emb, cb).collect()}
        assert a == b
        with pytest.raises(ValueError):
            pq.pq_train(emb, m=7, dim=64)
        with pytest.raises(ValueError):  # encode validates like train
            pq.pq_encode(emb, cb, m=7, dim=64)

    def test_recall_floor_and_m_monotonicity(self, spark):
        """PQ ranks within the same IVF cells as ivf_topk, so recall
        against ivf_topk isolates pure quantization loss. Measured on
        this (seeded) data: 0.316 at m=8, 0.46 at m=16 — more
        subspaces = finer reconstruction. Floors leave slack for
        arithmetic tweaks but catch a broken codebook (random codes
        score ~0.06 here)."""
        from gogstash_spark.mlops import ann, pq

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        exact = {
            (r["q_id"], r["n_id"])
            for r in ann.ivf_topk(emb, k=5, max_query_id=50).collect()
        }

        def recall(m):
            got = {
                (r["q_id"], r["n_id"])
                for r in pq.pq_topk(emb, k=5, m=m, max_query_id=50).collect()
            }
            return len(got & exact) / len(exact)

        r8, r16 = recall(8), recall(16)
        assert r8 >= 0.25, r8
        assert r16 >= r8 + 0.05, (r8, r16)


class TestBPE:
    def test_hand_computed_merges_and_apply(self, spark):
        """corpus 'aaab aaab ab': pair counts (a,a)=4 (a,b)=3 -> merge
        (a,a); then (a,b)=3 beats (aa,a)=2; then (aa,ab)=2. Applying
        all three rebuilds the full words."""
        from gogstash_spark.mlops import bpe

        df = spark.createDataFrame([(1, "aaab aaab ab")], "doc_id long, text string")
        m = bpe.bpe_train(df, n_merges=3)
        got = [
            (r["merge_idx"], r["left_sym"], r["right_sym"], r["pair_freq"])
            for r in m.orderBy("merge_idx").collect()
        ]
        assert got == [(0, "a", "a", 4), (1, "a", "b", 3), (2, "aa", "ab", 2)]
        out = bpe.bpe_apply(df, m).collect()[0]
        assert out["bpe_tokens"] == ["aaab", "aaab", "ab"]
        assert out["n_bpe_tokens"] == 3
        # greedy left-to-right: 'aaa' with merge (a,a) -> ['aa','a']
        df3 = spark.createDataFrame([(1, "aaa")], "doc_id long, text string")
        one = m.where("merge_idx = 0")
        assert bpe.bpe_apply(df3, one).collect()[0]["bpe_tokens"] == ["aa", "a"]

    def test_merge_never_crosses_symbol_boundaries(self, spark):
        """Regression (round-5 review): with merges (a,b) then (b,c)
        learned, the word 'abc' is ab|c after merge 0 — merge 1's
        pattern must NOT match the 'b' inside the merged symbol 'ab'.
        The old SEP-joined form produced the phantom token 'abc'."""
        from gogstash_spark.mlops import bpe

        rows = [(1, " ".join(["ab"] * 10 + ["bc"] * 9 + ["abc"]))]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        m = bpe.bpe_train(df, n_merges=2)
        got = [
            (r["left_sym"], r["right_sym"])
            for r in m.orderBy("merge_idx").collect()
        ]
        assert got == [("a", "b"), ("b", "c")]
        one_doc = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
        assert bpe.bpe_apply(one_doc, m).collect()[0]["bpe_tokens"] == ["ab", "c"]

    def test_early_stop_on_exhausted_vocab(self, spark):
        from gogstash_spark.mlops import bpe

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        m = bpe.bpe_train(df, n_merges=3)
        assert m.count() == 0
        out = bpe.bpe_apply(df, m).collect()[0]
        assert out["bpe_tokens"] == ["a", "b", "c"]
        with pytest.raises(ValueError):
            bpe.bpe_train(df, n_merges=0)

    def test_train_matches_duckdb_oracle_on_documents(self, spark):
        import duckdb

        from gogstash_spark.mlops.entries import o_bpe_train, q_bpe_train
        from tools.parity import compare

        sf_dir = "/root/testdata/sf0.001"
        out = q_bpe_train(spark, sf_dir)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('%s/documents.parquet')"
            % sf_dir
        )
        r = compare("bpe_train", out, o_bpe_train(), con)
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], r

    def test_apply_matches_duckdb_oracle_on_documents(self, spark):
        """Tokenize the corpus with the 3 learned merges in BOTH
        engines: the oracle re-learns the merges (same CTE chain as
        o_bpe_train, keeping the word column through the rewrites) and
        re-tokenizes via the word -> final-symbols map; compare the
        exploded (doc_id, pos, sym) stream."""
        import duckdb

        from gogstash_spark.mlops import bpe
        from gogstash_spark.mlops.entries import _bpe_iter_sql
        from tools.parity import compare

        sf_dir = "/root/testdata/sf0.001"
        docs = spark.read.parquet(sf_dir + "/documents.parquet")
        m = bpe.bpe_train(docs, n_merges=3)
        ex = bpe.bpe_apply(docs, m).select(
            "doc_id", F.posexplode("bpe_tokens").alias("pos", "sym")
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('%s/documents.parquet')"
            % sf_dir
        )
        iters = ",\n".join(_bpe_iter_sql(i + 1) for i in range(3))
        sql = rf"""WITH tok AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
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
           regexp_replace(word, '(.)', '\1' || chr(31) || chr(31), 'g'),
           -1) AS s,
         freq
  FROM w
),
{iters},
map AS (SELECT word, string_split(s[2:length(s) - 1], chr(31) || chr(31)) AS syms FROM v3),
d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     x -> x != '') AS arr
  FROM documents
),
dw0 AS (
  SELECT doc_id,
         unnest([struct_pack(w := arr[j], wp := j)
                 FOR j IN range(1, len(arr) + 1)]) AS u
  FROM d
),
dw AS (SELECT doc_id, u.w AS word, u.wp AS wp FROM dw0),
sy0 AS (
  SELECT dw.doc_id, dw.wp,
         unnest([struct_pack(sym := m.syms[j], sp := j)
                 FOR j IN range(1, len(m.syms) + 1)]) AS u
  FROM dw JOIN map m ON m.word = dw.word
),
ex AS (SELECT doc_id, wp, u.sym AS sym, u.sp AS sp FROM sy0)
SELECT doc_id,
  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wp, sp) - 1 AS INTEGER) AS pos,
  sym
FROM ex"""
        r = compare("bpe_apply", ex, sql, con)
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], r
        # merges actually fire on this corpus
        assert ex.where(F.length("sym") > 1).count() > 0


class TestDedupIncremental:
    def test_semantics_two_snapshots(self, spark):
        """Snapshot 1 establishes the ledger; snapshot 2 drops both
        ledgered texts and its own within-batch dups (min id wins)."""
        from gogstash_spark.mlops.dedup import dedup_incremental

        s1 = spark.createDataFrame(
            [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id long, text string"
        )
        kept1 = dedup_incremental(s1, None)
        assert sorted(r["doc_id"] for r in kept1.collect()) == [1, 2]
        ledger = kept1.select("text_md5")
        s2 = spark.createDataFrame(
            [(10, "alpha"), (11, "gamma"), (12, "gamma"), (13, "delta")],
            "doc_id long, text string",
        )
        kept2 = dedup_incremental(s2, ledger)
        assert sorted(r["doc_id"] for r in kept2.collect()) == [11, 13]
        # appending the delta makes a third pass of the same docs empty
        ledger2 = ledger.unionByName(kept2.select("text_md5"))
        assert dedup_incremental(s2, ledger2).count() == 0

    def test_null_text_rows_survive_individually(self, spark):
        """Regression (round-5 review): md5(NULL) is NULL — without the
        id-keyed fallback, N distinct missing-text docs collapsed into
        one group whose join-back (NULL never equals NULL) recovered
        nothing, silently dropping them all."""
        from gogstash_spark.mlops.dedup import dedup_incremental

        batch = spark.createDataFrame(
            [(1, None), (2, None), (3, "hello")], "doc_id long, text string"
        )
        kept = dedup_incremental(batch, None)
        assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2, 3]
        # cross-snapshot: NULL-text rows never match anything ledgered
        out2 = dedup_incremental(batch, kept.select("text_md5"))
        assert out2.count() == 0  # ids identical -> same \x00 keys match
        batch2 = spark.createDataFrame(
            [(9, None), (10, "hello")], "doc_id long, text string"
        )
        out3 = dedup_incremental(batch2, kept.select("text_md5"))
        assert [r["doc_id"] for r in out3.collect()] == [9]

    def test_matches_duckdb_oracle_on_documents(self, spark):
        """Split the documents table into two 'snapshots' by doc_id
        parity; ledger = snapshot-1 survivors."""
        import duckdb

        from gogstash_spark.mlops.dedup import dedup_incremental
        from tools.parity import compare

        sf_dir = "/root/testdata/sf0.001"
        docs = spark.read.parquet(sf_dir + "/documents.parquet")
        s1 = docs.where("doc_id % 2 = 0")
        # the synthetic corpus has no exact-dup texts, so snapshot 2
        # carries re-crawled copies of some snapshot-1 docs (new ids,
        # same text) — the case the ledger exists to catch
        s2 = docs.where("doc_id % 2 = 1").unionByName(
            docs.where("doc_id % 10 = 0").withColumn(
                "doc_id", F.col("doc_id") + 100000
            )
        )
        ledger = dedup_incremental(s1, None).select("text_md5")
        out = dedup_incremental(s2, ledger).select("doc_id", "text_md5")
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('%s/documents.parquet')"
            % sf_dir
        )
        sql = """WITH s1 AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 2 = 0),
led AS (SELECT DISTINCT h FROM (
  SELECT h, min(doc_id) AS doc_id FROM s1 GROUP BY h)),
s2 AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 100000, md5(text) FROM documents WHERE doc_id % 10 = 0
),
keep AS (
  SELECT s.doc_id, s.h FROM s2 s
  JOIN (SELECT h, min(doc_id) AS doc_id FROM s2 GROUP BY h) k
    ON k.h = s.h AND k.doc_id = s.doc_id
)
SELECT doc_id, h AS text_md5 FROM keep
WHERE h NOT IN (SELECT h FROM led)"""
        r = compare("dedup_incremental", out, sql, con)
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], r
        # the anti-join actually bit: every re-crawled copy was dropped
        assert out.count() == docs.where("doc_id % 2 = 1").count()


class TestBigramLM:
    def test_hand_computed_scores(self, spark):
        """corpus 'a b a b c': pairs (a,b)x2 (b,a) (b,c); V=3, N=5.
        Scoring 'a b x c': seen pair ln(3/5), seen-history miss
        ln(1/5), OOV history -ln(8)."""
        corpus = spark.createDataFrame([(1, "a b a b c")], "doc_id long, text string")
        bi, miss, stats = textops.bigram_lm(corpus)
        bs = {(r["w1"], r["w2"]): r["logp"] for r in bi.collect()}
        assert bs[("a", "b")] == pytest.approx(math.log(3 / 5))
        assert bs[("b", "a")] == pytest.approx(math.log(2 / 5))
        ms = {r["w1"]: r["miss_logp"] for r in miss.collect()}
        assert ms["a"] == pytest.approx(math.log(1 / 5))
        st = stats.collect()[0]
        assert (st["n_total"], st["n_vocab"]) == (5, 3)
        docs = spark.createDataFrame(
            [(10, "a b x c"), (11, "z"), (12, "")], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: r
            for r in textops.bigram_perplexity(docs, bi, miss, stats).collect()
        }
        assert set(got) == {10}  # <2-token docs excluded
        want = (math.log(3 / 5) + math.log(1 / 5) - math.log(8)) / 3
        assert got[10]["avg_logprob"] == pytest.approx(want, abs=1e-6)
        assert got[10]["n_bigrams"] == 3
        assert got[10]["ppl"] == pytest.approx(math.exp(-round(want, 6)), abs=1e-4)

    def test_matches_duckdb_oracle_on_documents(self, spark):
        import duckdb

        from tools.parity import compare

        sf_dir = "/root/testdata/sf0.001"
        docs = spark.read.parquet(sf_dir + "/documents.parquet")
        bi, miss, stats = textops.bigram_lm(docs)
        out = textops.bigram_perplexity(docs, bi, miss, stats)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('%s/documents.parquet')"
            % sf_dir
        )
        sql = r"""WITH tok0 AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     x -> x != '') AS arr
  FROM documents
),
tr AS (SELECT unnest(arr) AS token FROM tok0),
st AS (SELECT count(*) AS n_total, count(DISTINCT token) AS n_vocab FROM tr),
prs AS (
  SELECT doc_id,
         unnest([struct_pack(w1 := arr[j], w2 := arr[j + 1])
                 FOR j IN range(1, len(arr))]) AS p
  FROM tok0
),
pr AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM prs),
c1 AS (SELECT w1, count(*) AS c1 FROM pr GROUP BY w1),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM pr GROUP BY w1, w2),
sc AS (
  SELECT pr.doc_id,
         coalesce(ln((c12.c12 + 1.0) / (c1.c1 + st.n_vocab)),
                  -ln(c1.c1 + CAST(st.n_vocab AS DOUBLE)),
                  -ln(st.n_total + CAST(st.n_vocab AS DOUBLE))) AS lp
  FROM pr CROSS JOIN st
  LEFT JOIN c12 ON c12.w1 = pr.w1 AND c12.w2 = pr.w2
  LEFT JOIN c1 ON c1.w1 = pr.w1
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
  round(avg(lp), 6) AS avg_logprob,
  round(exp(-round(avg(lp), 6)), 6) AS ppl
FROM sc GROUP BY doc_id"""
        r = compare("bigram_ppl", out, sql, con)
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], r


class TestScoreBuckets:
    def test_tercile_semantics(self, spark):
        """scores 1..9 exact terciles: cuts at ~3.67/6.33 -> 1-3 head,
        4-6 middle, 7-9 tail."""
        from gogstash_spark.mlops.sampling import score_buckets

        df = spark.createDataFrame(
            [(i, float(i)) for i in range(1, 10)], "doc_id long, ppl double"
        )
        got = {
            r["doc_id"]: r["score_bucket"]
            for r in score_buckets(
                df, [1 / 3, 2 / 3], ["head", "middle", "tail"], approx=False
            ).collect()
        }
        assert [got[i] for i in range(1, 10)] == (
            ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
        )
        with pytest.raises(ValueError):
            score_buckets(df, [0.5], ["a", "b", "c"])
        with pytest.raises(ValueError):
            score_buckets(df, [0.7, 0.3], ["a", "b", "c"])

    def test_null_score_is_unscored_not_worst(self, spark):
        """Regression (round-5 review): a NULL score fell through every
        when() to the last label and inherited the worst band's fate."""
        from gogstash_spark.mlops.sampling import score_buckets

        df = spark.createDataFrame(
            [(1, 1.0), (2, 2.0), (3, 3.0), (4, None)], "doc_id long, ppl double"
        )
        got = {
            r["doc_id"]: r["score_bucket"]
            for r in score_buckets(
                df, [1 / 3, 2 / 3], ["head", "middle", "tail"], approx=False
            ).collect()
        }
        assert got[4] is None
        assert got[3] == "tail"

    def test_matches_duckdb_oracle_on_lm_scores(self, spark):
        """The real composition: unigram-LM perplexity -> tercile
        bands, against quantile_cont cuts in DuckDB (exact percentile
        path — the approx sketch is engine-specific by construction)."""
        import duckdb

        from gogstash_spark.mlops.sampling import score_buckets
        from tools.parity import compare

        sf_dir = "/root/testdata/sf0.001"
        docs = spark.read.parquet(sf_dir + "/documents.parquet")
        lm, stats = textops.unigram_lm(docs)
        scored = textops.lm_perplexity(docs, lm, stats)
        out = score_buckets(
            scored, [1 / 3, 2 / 3], ["head", "middle", "tail"], approx=False
        ).select("doc_id", "ppl", "score_bucket")
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('%s/documents.parquet')"
            % sf_dir
        )
        sql = r"""WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents
),
tk AS (SELECT doc_id, token FROM tok WHERE token != ''),
c AS (SELECT token, count(*) AS c FROM tk GROUP BY token),
st AS (SELECT sum(c) AS n_total, count(*) AS n_vocab FROM c),
sc AS (
  SELECT tk.doc_id,
         ln((c.c + 1.0) / (st.n_total + st.n_vocab)) AS lp
  FROM tk CROSS JOIN st JOIN c ON c.token = tk.token
),
ppl AS (
  SELECT doc_id, round(exp(-round(avg(lp), 6)), 6) AS ppl FROM sc GROUP BY doc_id
),
cuts AS (
  SELECT round(quantile_cont(ppl, 1.0/3.0), 9) AS c1,
         round(quantile_cont(ppl, 2.0/3.0), 9) AS c2
  FROM ppl
)
SELECT doc_id, ppl,
  CASE WHEN ppl <= c1 THEN 'head'
       WHEN ppl <= c2 THEN 'middle'
       ELSE 'tail' END AS score_bucket
FROM ppl CROSS JOIN cuts"""
        r = compare("score_buckets", out, sql, con)
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], r
        n_by = {
            r["score_bucket"]: r["n"]
            for r in out.groupBy("score_bucket").agg(F.count("*").alias("n")).collect()
        }
        assert set(n_by) == {"head", "middle", "tail"}


class TestClusterBalanced:
    def test_exact_mode_semantics(self, spark):
        """Two obvious clusters (axis-aligned), per_cell=2: exactly 2
        kept per cell, deterministic across calls."""
        rows = []
        for i in range(6):  # cluster around +x
            rows.append((i, [1.0, 0.01 * i] + [0.0] * 62))
        for i in range(6, 12):  # cluster around +y
            rows.append((i, [0.01 * i, 1.0] + [0.0] * 62))
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        cents = spark.createDataFrame(
            [(0, [1.0, 0.0] + [0.0] * 62), (1, [0.0, 1.0] + [0.0] * 62)],
            "cid long, cvec array<double>",
        )
        out = ann.cluster_balanced_sample(emb, per_cell=2, centroids=cents)
        got = sorted((r["cell"], r["vid"]) for r in out.collect())
        assert len(got) == 4
        assert {c for c, _ in got} == {0, 1}
        again = sorted(
            (r["cell"], r["vid"])
            for r in ann.cluster_balanced_sample(emb, per_cell=2, centroids=cents).collect()
        )
        assert got == again
        # per_cell beyond the cell size keeps the whole cell
        allk = ann.cluster_balanced_sample(emb, per_cell=100, centroids=cents)
        assert allk.count() == 12
        with pytest.raises(ValueError):
            ann.cluster_balanced_sample(emb, per_cell=0, centroids=cents)

    def test_expected_mode_is_shuffle_free_and_plausible(self, spark):
        """exact=False: no Window, no hash exchange on the corpus side
        (the C-row count agg and its broadcast are the only exchanges);
        kept set is a deterministic subset with ~per_cell expectation."""
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        cents = emb.orderBy("vec_id").limit(8).selectExpr(
            "vec_id as cid", "cast(embedding as array<double>) as cvec"
        )
        out = ann.cluster_balanced_sample(
            emb, per_cell=20, centroids=cents, exact=False
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, plan
        bad = [
            ln
            for ln in plan.splitlines()
            if "Exchange hashpartitioning" in ln and "cell" not in ln
        ]
        assert bad == [], bad
        n = out.count()
        assert 8 * 20 * 0.5 <= n <= 8 * 20 * 1.5, n
        again = {r["vid"] for r in out.collect()}
        assert {r["vid"] for r in out.collect()} == again

    def test_exact_mode_matches_duckdb_oracle(self, spark):
        import duckdb

        from gogstash_spark.mlops.entries import o_cluster_balanced, q_cluster_balanced
        from tools.parity import compare

        sf_dir = "/root/testdata/sf0.001"
        out = q_cluster_balanced(spark, sf_dir)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM read_parquet('%s/embeddings.parquet')"
            % sf_dir
        )
        r = compare("cluster_balanced", out, o_cluster_balanced(), con)
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], r
        # balance actually bites: every cell capped at per_cell
        mx = out.groupBy("cell").count().agg(F.max("count")).collect()[0][0]
        assert mx <= 20


class TestCorpusReport:
    def test_matches_duckdb_oracle_on_exact_columns(self, spark):
        """Parity on the exactly-reproducible columns; the HLL
        approx-distinct sketch is engine-specific by construction and
        is checked against the exact distinct count within its 1%% rsd
        (x5 slack) instead."""
        import duckdb

        from tools.parity import compare

        sf_dir = "/root/testdata/sf0.001"
        docs = spark.read.parquet(sf_dir + "/documents.parquet")
        rep = textops.corpus_report(docs)
        out = rep.select("source", "n_docs", "n_tokens", "avg_chars", "avg_quality")
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('%s/documents.parquet')"
            % sf_dir
        )
        sql = r"""WITH q AS (
  SELECT source, text, length(text) AS n_chars,
    CASE WHEN trim(text) = '' THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok,
    len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        x -> list_contains(['the','a','and','of','to','in','is','it','you','that','was','for','on','are','with','as'], x))) AS n_sw,
    len(regexp_extract_all(text, '[^\w\s]')) AS n_punct
  FROM documents
),
f AS (
  SELECT source, n_chars, n_tok,
    CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0.0 END AS punct_ratio,
    CASE WHEN n_tok > 0 THEN n_sw * 1.0 / n_tok ELSE 0.0 END AS sw_ratio,
    CASE WHEN n_tok > 0 THEN (length(trim(text)) - (n_tok - 1)) * 1.0 / n_tok
         ELSE 0.0 END AS mean_wlen
  FROM q
),
s AS (
  SELECT source, n_chars, n_tok,
    round(CASE WHEN n_chars BETWEEN 50 AND 5000 THEN 1.0 ELSE 0.25 END * 0.4
    + CASE WHEN punct_ratio < 0.2 THEN 1.0 ELSE 0.0 END * 0.2
    + least(sw_ratio * 5.0, 1.0) * 0.2
    + CASE WHEN mean_wlen BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END * 0.2, 6)
      AS quality
  FROM f
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
  round(avg(n_chars), 6) AS avg_chars,
  round(avg(quality), 6) AS avg_quality
FROM s GROUP BY source"""
        r = compare("corpus_report", out, sql, con)
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], r
        exact = {
            r["source"]: r["n"]
            for r in docs.groupBy("source")
            .agg(F.countDistinct("text").alias("n"))
            .collect()
        }
        for row in rep.collect():
            approx = row["approx_distinct_texts"]
            assert abs(approx - exact[row["source"]]) <= max(
                2, 0.05 * exact[row["source"]]
            ), (row["source"], approx, exact[row["source"]])
            assert -0.1 <= row["approx_dup_rate"] <= 1.0


class TestConvDedup:
    def test_semantics_order_invariance_and_difference(self, spark):
        """Same content in different row order hashes identically;
        differing role OR text OR turn order changes the hash."""
        from gogstash_spark.mlops.dedup import conv_dedup, conv_fingerprint

        rows = [
            ("c1", 0, "user", "hi"), ("c1", 1, "assistant", "hello"),
            # c2 = c1's content, rows arrive reversed -> duplicate
            ("c2", 1, "assistant", "hello"), ("c2", 0, "user", "hi"),
            # c3: same texts, roles swapped -> distinct
            ("c3", 0, "assistant", "hi"), ("c3", 1, "user", "hello"),
            # c4: same turns in the other ORDER -> distinct
            ("c4", 0, "assistant", "hello"), ("c4", 1, "user", "hi"),
        ]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, text string"
        )
        fp = {r["conv_id"]: r["conv_md5"] for r in conv_fingerprint(df).collect()}
        assert fp["c1"] == fp["c2"]
        assert len({fp["c1"], fp["c3"], fp["c4"]}) == 3
        out = {r["keep_conv_id"]: r for r in conv_dedup(df).collect()}
        assert set(out) == {"c1", "c3", "c4"}
        assert out["c1"]["n_convs"] == 2 and out["c1"]["n_turns"] == 2
        # injectivity regressions (round-5 review): field-boundary
        # ambiguity and NULL-skipping must not collide turns
        tricky = spark.createDataFrame(
            [
                ("x1", 0, "a", "b:c"),
                ("x2", 0, "a:b", "c"),
                ("x3", 0, "user", None),
                ("x4", 0, None, "user"),
            ],
            "conv_id string, turn_idx int, role string, text string",
        )
        fps = {r["conv_id"]: r["conv_md5"] for r in conv_fingerprint(tricky).collect()}
        assert len(set(fps.values())) == 4, fps

    def test_matches_duckdb_oracle_on_transcripts(self, spark):
        """Real transcripts plus injected re-ingests (conv_id suffixed,
        same content) — parity on the full dedup table."""
        import duckdb

        from gogstash_spark.mlops.dedup import conv_dedup
        from gogstash_spark.sources.transcripts import ensure_transcripts
        from tools.parity import compare

        data_dir = ensure_transcripts("/root/testdata/sf0.001")
        turns = spark.read.parquet(data_dir + "/transcripts").select(
            "conv_id", "turn_idx", "role", "text"
        )
        dup = turns.where("substr(conv_id, -1, 1) = '0'").withColumn(
            "conv_id", F.concat(F.col("conv_id"), F.lit(":reingest"))
        )
        both = turns.unionByName(dup)
        out = conv_dedup(both)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW t0 AS SELECT conv_id, turn_idx, role, text "
            "FROM read_parquet('%s/transcripts/*.parquet')" % data_dir
        )
        sql = """WITH allt AS (
  SELECT conv_id, turn_idx, role, text FROM t0
  UNION ALL
  SELECT conv_id || ':reingest', turn_idx, role, text FROM t0
  WHERE substr(conv_id, -1, 1) = '0'
),
fp AS (
  SELECT conv_id, count(*) AS n_turns,
         md5(string_agg(md5(coalesce(md5(role), '-') || coalesce(md5(text), '-')), '|' ORDER BY turn_idx))
           AS conv_md5
  FROM allt GROUP BY conv_id
)
SELECT conv_md5, min(conv_id) AS keep_conv_id,
  CAST(count(*) AS BIGINT) AS n_convs,
  CAST(min(n_turns) AS BIGINT) AS n_turns
FROM fp GROUP BY conv_md5"""
        r = compare("conv_dedup", out, sql, con)
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], r
        # every injected re-ingest folded into its original
        assert out.where("n_convs > 1").count() == dup.select("conv_id").distinct().count()
        assert out.where("keep_conv_id like '%:reingest'").count() == 0


class TestEmbeddingReport:
    def test_matches_duckdb_oracle(self, spark):
        import duckdb

        from tools.parity import compare

        sf_dir = "/root/testdata/sf0.001"
        emb = spark.read.parquet(sf_dir + "/embeddings.parquet")
        out = ann.embedding_report(emb)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM read_parquet('%s/embeddings.parquet')"
            % sf_dir
        )
        sql = """WITH ex AS (
  SELECT r.i - 1 AS dim, embedding[r.i]::DOUBLE AS x
  FROM embeddings CROSS JOIN range(1, 65) r(i)
)
SELECT CAST(dim AS INTEGER) AS dim, CAST(count(*) AS BIGINT) AS n,
  round(avg(x), 6) AS mean,
  round(sqrt(var_pop(x)), 6) AS std,
  round(min(x), 6) AS min, round(max(x), 6) AS max
FROM ex GROUP BY dim"""
        r = compare("embedding_report", out, sql, con)
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], r
        rows = out.collect()
        assert len(rows) == 64 and all(x["n"] == 500 for x in rows)


class TestNormalizeText:
    def test_semantics(self, spark):
        from gogstash_spark.mlops.textops import normalize_text

        df = spark.createDataFrame(
            [
                (1, "a\x00b\x1fc"),          # control chars dropped
                (2, "  a \t\n b  "),          # whitespace collapse + trim
                (3, "clean text"),            # unchanged
                (4, "MiXeD"),
            ],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in normalize_text(df).collect()}
        assert got[1]["text"] == "abc" and got[1]["n_norm_changes"] == 1
        assert got[2]["text"] == "a b" and got[2]["n_norm_changes"] == 1
        assert got[3]["text"] == "clean text" and got[3]["n_norm_changes"] == 0
        low = {r["doc_id"]: r["text"] for r in normalize_text(df, lowercase=True).collect()}
        assert low[4] == "mixed"
        # normalization makes byte-variant duplicates hash-equal
        dup = spark.createDataFrame(
            [(1, "hello  world"), (2, "hello world\x1f")], "doc_id long, text string"
        )
        n = normalize_text(dup)
        assert n.select(F.md5("text")).distinct().count() == 1

    def test_matches_duckdb_oracle_on_documents(self, spark):
        import duckdb

        from gogstash_spark.mlops.textops import normalize_text
        from tools.parity import compare

        sf_dir = "/root/testdata/sf0.001"
        docs = spark.read.parquet(sf_dir + "/documents.parquet")
        out = normalize_text(docs).select("doc_id", "text", "n_norm_changes")
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('%s/documents.parquet')"
            % sf_dir
        )
        sql = r"""WITH n AS (
  SELECT doc_id, text AS orig,
    trim(regexp_replace(
      regexp_replace(text, '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
      '\s+', ' ', 'g')) AS text
  FROM documents
)
SELECT doc_id, text,
  CAST(CASE WHEN text IS DISTINCT FROM orig THEN 1 ELSE 0 END AS INTEGER)
    AS n_norm_changes
FROM n"""
        r = compare("normalize_text", out, sql, con)
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], r


class TestNearDupIncremental:
    def test_semantics_exact_copy_disjoint_short(self, spark):
        from gogstash_spark.mlops.dedup import neardup_incremental

        s1 = spark.createDataFrame(
            [(1, "w1 w2 w3 w4 w5 w6"), (2, "q1 q2 q3 q4 q5")],
            "doc_id long, text string",
        )
        led = neardup_incremental(s1, None)
        assert led.count() == 2 and led.where("m0 is null").count() == 0
        ledger = led.select("doc_id", "m0", "m1", "m2", "m3")
        s2 = spark.createDataFrame(
            [
                (10, "w1 w2 w3 w4 w5 w6"),  # exact copy: estimator 1.0 -> dropped
                (11, "z1 z2 z3 z4 z5"),      # disjoint shingles -> survives
                (12, "a b"),                 # too short to shingle -> survives, null sig
            ],
            "doc_id long, text string",
        )
        out = neardup_incremental(s2, ledger)
        got = {r["doc_id"]: r for r in out.collect()}
        assert set(got) == {11, 12}
        assert got[11]["m0"] is not None
        assert got[12]["m0"] is None

    def test_matches_duckdb_oracle_on_documents(self, spark):
        """Ledger = even-id docs; batch = odd docs + near-copies of some
        even docs (one word appended — not exact, high shingle overlap)."""
        import duckdb

        from gogstash_spark.mlops.dedup import neardup_incremental
        from tools.parity import compare

        sf_dir = "/root/testdata/sf0.001"
        docs = spark.read.parquet(sf_dir + "/documents.parquet").select("doc_id", "text")
        s1 = docs.where("doc_id % 2 = 0")
        s2 = docs.where("doc_id % 2 = 1").unionByName(
            docs.where("doc_id % 10 = 0").select(
                (F.col("doc_id") + 100000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
            )
        )
        ledger = neardup_incremental(s1, None).select("doc_id", "m0", "m1", "m2", "m3")
        out = neardup_incremental(s2, ledger).select("doc_id", "m0", "m1", "m2", "m3")
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('%s/documents.parquet')"
            % sf_dir
        )
        mh = ", ".join("min(md5('%d|' || shingle)) AS m%d" % (j, j) for j in range(4))
        shingle = (
            "list_distinct([array_to_string(words[i:i+2], ' ') "
            "FOR i IN range(1, greatest(len(words)-1, 1))])"
        )
        sql = f"""WITH s1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
s2 AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 100000, text || ' extraword' FROM documents WHERE doc_id % 10 = 0
),
sets1 AS (
  SELECT doc_id AS id, {shingle} AS sh_set
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words FROM s1)
),
sig1 AS (
  SELECT id, {mh} FROM (SELECT id, unnest(sh_set) AS shingle FROM sets1
                        WHERE len(sh_set) > 0) GROUP BY id
),
sets2 AS (
  SELECT doc_id AS id, {shingle} AS sh_set
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words FROM s2)
),
sig2 AS (
  SELECT id, {mh} FROM (SELECT id, unnest(sh_set) AS shingle FROM sets2
                        WHERE len(sh_set) > 0) GROUP BY id
),
bands1 AS (
  SELECT id, b.band, b.v FROM sig1,
  UNNEST([{{'band': 0, 'v': m0}}, {{'band': 1, 'v': m1}},
          {{'band': 2, 'v': m2}}, {{'band': 3, 'v': m3}}]) AS u(b)
),
ok AS (SELECT band, v FROM bands1 GROUP BY band, v HAVING count(*) <= 1000),
bandsl AS (SELECT b.* FROM bands1 b JOIN ok USING (band, v)),
bands2 AS (
  SELECT id, b.band, b.v FROM sig2,
  UNNEST([{{'band': 0, 'v': m0}}, {{'band': 1, 'v': m1}},
          {{'band': 2, 'v': m2}}, {{'band': 3, 'v': m3}}]) AS u(b)
),
cand AS (
  SELECT DISTINCT b2.id AS id, bl.id AS lid
  FROM bands2 b2 JOIN bandsl bl ON b2.band = bl.band AND b2.v = bl.v
),
matched AS (
  SELECT DISTINCT c.id
  FROM cand c JOIN sig2 b ON b.id = c.id JOIN sig1 l ON l.id = c.lid
  WHERE ((b.m0 = l.m0)::INT + (b.m1 = l.m1)::INT +
         (b.m2 = l.m2)::INT + (b.m3 = l.m3)::INT) / 4.0 >= 0.5
)
SELECT s2.doc_id, g.m0, g.m1, g.m2, g.m3
FROM s2 LEFT JOIN sig2 g ON g.id = s2.doc_id
WHERE s2.doc_id NOT IN (SELECT id FROM matched)"""
        r = compare("neardup_incremental", out, sql, con)
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], r
        # the near-copies (not exact!) actually got caught
        n_odd = docs.where("doc_id % 2 = 1").count()
        n_copies = docs.where("doc_id % 10 = 0").count()
        dropped = n_odd + n_copies - out.count()
        assert dropped > 0.5 * n_copies, (dropped, n_copies)


class TestSnapshotDiff:
    def test_semantics_and_duckdb_parity(self, spark):
        import duckdb

        from gogstash_spark.mlops.dedup import snapshot_diff
        from tools.parity import compare

        old = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c"), (4, None), (5, None)],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [(2, "b"), (3, "CHANGED"), (4, None), (5, "now text"), (6, "new")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new).collect()}
        assert got == {
            1: "removed", 2: "unchanged", 3: "changed",
            4: "unchanged", 5: "changed", 6: "added",
        }

        sf_dir = "/root/testdata/sf0.001"
        docs = spark.read.parquet(sf_dir + "/documents.parquet")
        o = docs.where("doc_id % 2 = 0")
        n = docs.where("doc_id % 3 != 0").withColumn(
            "text",
            F.when(F.col("doc_id") % 10 == 4, F.concat(F.col("text"), F.lit("!")))
            .otherwise(F.col("text")),
        )
        out = snapshot_diff(o, n)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('%s/documents.parquet')"
            % sf_dir
        )
        sql = """WITH o AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 2 = 0
),
n AS (
  SELECT doc_id,
    md5(CASE WHEN doc_id % 10 = 4 THEN text || '!' ELSE text END) AS h
  FROM documents WHERE doc_id % 3 != 0
)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
  CASE WHEN o.h IS NULL THEN 'added'
       WHEN n.h IS NULL THEN 'removed'
       WHEN o.h = n.h THEN 'unchanged'
       ELSE 'changed' END AS status
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id"""
        r = compare("snapshot_diff", out, sql, con)
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], r
        counts = {x["status"] for x in out.collect()}
        assert counts == {"added", "removed", "unchanged", "changed"}


class TestWeightedSample:
    def test_semantics_determinism_and_duckdb_parity(self, spark):
        import duckdb

        from gogstash_spark.mlops.sampling import weighted_sample
        from tools.parity import compare

        df = spark.createDataFrame(
            [(1, 1.0), (2, 0.0), (3, None), (4, 2.5), (5, -1.0)],
            "doc_id long, rate double",
        )
        kept = sorted(r["doc_id"] for r in weighted_sample(df, "rate").collect())
        assert 1 in kept and 4 in kept        # rate>=1 always kept (clamped)
        assert 2 not in kept and 5 not in kept  # rate<=0 never kept
        assert 3 not in kept                  # NULL rate: no mandate
        again = sorted(r["doc_id"] for r in weighted_sample(df, "rate").collect())
        assert kept == again

        sf_dir = "/root/testdata/sf0.001"
        docs = spark.read.parquet(sf_dir + "/documents.parquet")
        scored = docs.withColumn(
            "rate", (F.col("n_chars") % 100).cast("double") / 100.0
        )
        out = weighted_sample(scored, "rate").select("doc_id")
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('%s/documents.parquet')"
            % sf_dir
        )
        sql = """WITH s AS (
  SELECT doc_id, (n_chars % 100) / 100.0 AS rate,
    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 4)) AS INTEGER)
      / 65536.0 AS u
  FROM documents
)
SELECT doc_id FROM s
WHERE u < least(greatest(rate, 0.0), 1.0)"""
        r = compare("weighted_sample", out, sql, con)
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], r
        n = out.count()
        assert 0 < n < docs.count()


class TestChunkDocuments:
    def test_semantics_coverage_and_overlap(self, spark):
        from gogstash_spark.mlops.textops import chunk_documents

        df = spark.createDataFrame(
            [
                (1, "t0 t1 t2 t3 t4 t5 t6"),  # 7 tokens
                (2, "a b"),                    # shorter than one chunk
                (3, ""),                       # blank: no chunks
            ],
            "doc_id long, text string",
        )
        got = {
            (r["doc_id"], r["chunk_idx"]): r
            for r in chunk_documents(df, chunk_tokens=4, overlap=1).collect()
        }
        # stride 3: starts 0, 3 — the window at 3 already ends on t6, so
        # no tail chunk holding only the overlap token t6
        assert [got[(1, i)]["chunk_start"] for i in range(2)] == [0, 3]
        assert (1, 2) not in got
        assert got[(1, 0)]["chunk_text"] == "t0 t1 t2 t3"
        assert got[(1, 1)]["chunk_text"] == "t3 t4 t5 t6"  # overlap token t3
        assert got[(2, 0)]["chunk_text"] == "a b"
        assert (2, 1) not in got
        assert not any(k[0] == 3 for k in got)
        # every token covered exactly once at overlap=0
        flat = chunk_documents(df, chunk_tokens=3).collect()
        total = sum(r["n_chunk_tokens"] for r in flat if r["doc_id"] == 1)
        assert total == 7
        # 10 tokens, chunk 4, overlap 2 (stride 2): starts 0, 2, 4, 6, the
        # last window ends on t9, and each chunk brings a new token
        ten = spark.createDataFrame([(4, " ".join("t%d" % i for i in range(10)))],
                                    "doc_id long, text string")
        rows = sorted(chunk_documents(ten, chunk_tokens=4, overlap=2).collect(),
                      key=lambda r: r["chunk_idx"])
        assert [r["chunk_start"] for r in rows] == [0, 2, 4, 6]
        assert rows[-1]["chunk_text"] == "t6 t7 t8 t9"
        for prev, cur in zip(rows, rows[1:]):
            assert set(cur["chunk_text"].split()) - set(prev["chunk_text"].split())
        with pytest.raises(ValueError):
            chunk_documents(df, 0)
        with pytest.raises(ValueError):
            chunk_documents(df, 4, overlap=4)

    def test_matches_duckdb_oracle_on_documents(self, spark):
        import duckdb

        from gogstash_spark.mlops.textops import chunk_documents
        from tools.parity import compare

        sf_dir = "/root/testdata/sf0.001"
        docs = spark.read.parquet(sf_dir + "/documents.parquet")
        out = chunk_documents(docs, chunk_tokens=16, overlap=4)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('%s/documents.parquet')"
            % sf_dir
        )
        sql = r"""WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents WHERE len(trim(text)) > 0
),
st AS (
  SELECT doc_id, toks, len(toks) AS n,
    unnest(range(0, CAST(((greatest(len(toks) - 16, 0) + 11) // 12) * 12 + 1 AS BIGINT), 12)) AS s
  FROM t WHERE len(toks) > 0
)
SELECT doc_id,
  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS INTEGER)
    AS chunk_idx,
  CAST(s AS BIGINT) AS chunk_start,
  CAST(least(n - s, 16) AS BIGINT) AS n_chunk_tokens,
  array_to_string(toks[s + 1 : s + 16], ' ') AS chunk_text
FROM st"""
        r = compare("chunk_documents", out, sql, con)
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], r
        assert out.where("chunk_idx > 0").count() > 0  # multi-chunk docs exist


class TestDedupLshEval:
    def test_matches_duckdb_oracle_and_detects_weak_banding(self, spark):
        import duckdb

        from gogstash_spark.mlops.dedup import dedup_lsh_eval
        from tools.parity import compare

        sf_dir = "/root/testdata/sf0.001"
        docs = spark.read.parquet(sf_dir + "/documents.parquet")
        out = dedup_lsh_eval(docs, threshold=0.35)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('%s/documents.parquet')"
            % sf_dir
        )
        mh = ", ".join("min(md5('%d|' || shingle)) AS m%d" % (j, j) for j in range(4))
        sql = f"""WITH reps AS (
  SELECT min(doc_id) AS doc_id, min(text) AS text FROM documents GROUP BY md5(text)
),
sets AS (
  SELECT doc_id AS id, list_distinct(
    [array_to_string(words[i:i+2], ' ') FOR i IN range(1, greatest(len(words)-1, 1))]
  ) AS sh_set
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words FROM reps)
),
sh AS (SELECT id, unnest(sh_set) AS shingle FROM sets),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
),
truth AS (
  SELECT i.id_a, i.id_b
  FROM inter i JOIN sizes sa ON sa.id = i.id_a JOIN sizes sb ON sb.id = i.id_b
  WHERE round(CAST(i.inter AS DOUBLE) / (sa.sz + sb.sz - i.inter), 6) >= 0.35
),
sig AS (SELECT id, {mh} FROM sh GROUP BY id),
bands0 AS (
  SELECT id, b.band, b.v FROM sig,
  UNNEST([{{'band': 0, 'v': m0}}, {{'band': 1, 'v': m1}},
          {{'band': 2, 'v': m2}}, {{'band': 3, 'v': m3}}]) AS u(b)
),
cand AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b
  FROM bands0 x JOIN bands0 y ON x.band = y.band AND x.v = y.v AND x.id < y.id
),
found AS (
  SELECT c.id_a, c.id_b, 1 AS hit
  FROM cand c JOIN sets a ON a.id = c.id_a JOIN sets b ON b.id = c.id_b
  WHERE round(CAST(len(list_intersect(a.sh_set, b.sh_set)) AS DOUBLE) /
    (len(a.sh_set) + len(b.sh_set) - len(list_intersect(a.sh_set, b.sh_set))), 6)
    >= 0.35
),
j AS (SELECT t.id_a, t.id_b, f.hit FROM truth t
      LEFT JOIN found f ON f.id_a = t.id_a AND f.id_b = t.id_b)
SELECT CAST(count(*) AS BIGINT) AS n_true,
  CAST(sum(coalesce(hit, 0)) AS BIGINT) AS n_found,
  CAST(count(*) - sum(coalesce(hit, 0)) AS BIGINT) AS n_missed,
  round(CASE WHEN count(*) > 0
             THEN sum(coalesce(hit, 0)) / CAST(count(*) AS DOUBLE)
             ELSE 1.0 END, 6) AS recall
FROM j"""
        r = compare("dedup_lsh_eval", out, sql, con)
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], r
        row = out.collect()[0]
        assert row["n_true"] > 0
        # tuning signal: a single-band config must never beat the
        # 4-band default's recall, and an aggressive bucket cap can
        # only lose pairs
        weak = dedup_lsh_eval(docs, threshold=0.35, bands=1).collect()[0]
        assert weak["n_true"] == row["n_true"]
        assert weak["recall"] <= row["recall"]


class TestAnnRecallEval:
    def test_matches_duckdb_oracle_and_orders_methods(self, spark):
        """recall(ivf: exact scoring within cells) >= recall(pq: same
        cells + quantized scoring) on the same queries; both hash-match
        a DuckDB restatement of truth-join-approx."""
        import duckdb

        from gogstash_spark.mlops.entries import (
            _sql_cos,
            o_ann_topk_ivf,
            o_ann_topk_pq,
        )
        from tools.parity import compare

        sf_dir = "/root/testdata/sf0.001"
        emb = spark.read.parquet(sf_dir + "/embeddings.parquet")
        exact = ann.brute_topk(emb, k=5, max_query_id=50)
        ivf = ann.ivf_topk(emb, k=5, max_query_id=50)
        out = ann.ann_recall_eval(exact, ivf)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM read_parquet('%s/embeddings.parquet')"
            % sf_dir
        )
        cos = _sql_cos("q.embedding", "c.embedding")
        sql = f"""WITH ranked AS (
  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
         row_number() OVER (PARTITION BY q.vec_id
                            ORDER BY {cos} DESC, c.vec_id ASC) AS rk
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < 50
),
truth AS (SELECT q_id, n_id FROM ranked WHERE rk <= 5),
approx AS (SELECT q_id, n_id, 1 AS hit FROM ({o_ann_topk_ivf()})),
j AS (SELECT t.q_id, t.n_id, a.hit FROM truth t
      LEFT JOIN approx a ON a.q_id = t.q_id AND a.n_id = t.n_id)
SELECT CAST(count(DISTINCT q_id) AS BIGINT) AS n_queries,
  CAST(count(*) AS BIGINT) AS n_true,
  CAST(sum(coalesce(hit, 0)) AS BIGINT) AS n_found,
  round(CASE WHEN count(*) > 0
             THEN sum(coalesce(hit, 0)) / CAST(count(*) AS DOUBLE)
             ELSE 1.0 END, 6) AS recall
FROM j"""
        r = compare("ann_recall_eval", out, sql, con)
        assert r["rows_match"] and r["schema_match"] and r["hash_match"], r
        row = out.collect()[0]
        assert row["n_queries"] == 50 and row["n_true"] == 250
        assert 0 < row["recall"] <= 1.0
        # quantized scoring can only lose vs exact scoring in the same cells
        from gogstash_spark.mlops import pq as pqmod

        pq_r = ann.ann_recall_eval(
            exact, pqmod.pq_topk(emb, k=5, max_query_id=50)
        ).collect()[0]["recall"]
        assert pq_r <= row["recall"] + 1e-9, (pq_r, row["recall"])
