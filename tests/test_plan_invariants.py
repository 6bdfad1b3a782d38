"""Physical-plan invariants: the properties that make the pipeline fast
at scale, asserted so a regression is a test failure, not a silent 10x.

- grok runs in the JVM (no Python eval node), and its regex evaluates
  exactly ONCE per plan (filters on its captures stay above the stage's
  CollectMetrics fence instead of being copied into the scan)
- lookup enriches are broadcast hash joins (never sort-merge)
- native predicates push down into the parquet scan
- the full pipeline plan keeps a single transcripts scan
- the routed plan of the standard pipeline is pinned, so building grok
  as SQL text cannot move it
"""

import os
import re

import pytest
from pyspark.sql import functions as F

from gogstash_spark.operators import Context
from gogstash_spark.pipelines import standard_spec
from gogstash_spark.plans.compile import compile_pipeline


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def pipeline_plan(spark, sf_data_dir):
    plan = compile_pipeline(
        standard_spec(sf_data_dir), Context(spark=spark, base_dir=sf_data_dir)
    )
    routed = plan.run(spark.read.parquet(os.path.join(sf_data_dir, "transcripts")))
    return physical_plan(routed)


class TestPlanInvariants:
    def test_single_arrow_eval_in_pipeline(self, pipeline_plan):
        """No row of the standard pipeline crosses into a Python worker."""
        assert pipeline_plan.count("ArrowEvalPython") == 0
        assert pipeline_plan.count("BatchEvalPython") == 0

    def test_single_transcripts_scan(self, pipeline_plan):
        scans = [
            ln for ln in pipeline_plan.splitlines()
            if "FileScan parquet" in ln and "transcripts" in ln
        ]
        assert len(scans) == 1, scans

    def test_lookups_are_broadcast_not_sortmerge(self, pipeline_plan):
        assert pipeline_plan.count("BroadcastHashJoin") >= 2  # role + tool
        assert "SortMergeJoin" not in pipeline_plan

    def test_filter_on_udf_output_does_not_duplicate_udf(self, spark, sf_data_dir):
        import __spark_entry__ as e

        df = e.queries()["grok_parse"](spark, "/root/testdata/sf0.001")
        lines = physical_plan(df).splitlines()
        scan = next(ln for ln in lines if "FileScan parquet" in ln)
        data_filters = scan.split("DataFilters: ", 1)[1].split("], ", 1)[0]
        assert "RLIKE" not in data_filters, scan
        # the response filter sits above the grok stage's observe node
        fence = next(i for i, ln in enumerate(lines) if "CollectMetrics" in ln)
        flt = next(i for i, ln in enumerate(lines) if "Filter isnotnull(response" in ln)
        assert flt < fence, "\n".join(lines)

    def test_midchain_cond_does_not_duplicate_subtree(self, spark, sf_data_dir):
        """A cond filter after grok compiles to per-column CASE WHEN, not
        branch-split + union: one scan, one grok stage — a split would
        run the regex (the most expensive stage) twice."""
        from gogstash_spark.operators import Context, compile_chain
        from gogstash_spark.pipelines import EXTRA_PATTERNS, GROK_MATCHES

        ctx = Context(spark=spark, base_dir=sf_data_dir)
        chain = compile_chain(
            [
                {"type": "grok", "source": "text", "match": GROK_MATCHES,
                 "patterns": EXTRA_PATTERNS},
                {"type": "cond",
                 "condition": "role == 'tool'",
                 "filter": [
                     {"type": "add_field", "key": "route", "value": "tools"},
                     {"type": "drop", "condition": "tool == 'none'"},
                 ],
                 "else_filter": [
                     {"type": "add_field", "key": "route", "value": "rest"},
                 ]},
            ],
            ctx,
        )
        df = chain(spark.read.parquet(os.path.join(sf_data_dir, "transcripts")))
        plan = physical_plan(df)
        assert plan.count("CollectMetrics") == 1, plan
        scans = [
            ln for ln in plan.splitlines()
            if "FileScan parquet" in ln and "transcripts" in ln
        ]
        assert len(scans) == 1, scans

    def test_conv_rollup_single_shuffle(self, spark, sf_data_dir):
        """Sessionization window + per-conv aggregate must share ONE
        conv_id exchange — a second shuffle on the same key is the
        regression that doubles the most expensive stage at scale."""
        import re

        import __spark_entry__ as e

        df = e.queries()["conv_rollup"](spark, "/root/testdata/sf0.001")
        # NOTE: queries() maps the testdata sf dir to the generated
        # transcripts dir itself; keep the driver-contract path here
        plan = physical_plan(df)
        exchanges = re.findall(r"Exchange hashpartitioning\(([a-z_]+)", plan)
        assert exchanges == ["conv_id"], exchanges

    def test_native_predicate_pushdown(self, spark, sf_data_dir):
        df = (
            spark.read.parquet(os.path.join(sf_data_dir, "transcripts"))
            .filter(F.col("role") == "user")
            .select("conv_id")
        )
        plan = physical_plan(df)
        assert "PushedFilters: [IsNotNull(role), EqualTo(role,user)]" in plan
        # column pruning: scan reads only the referenced columns
        assert "ReadSchema: struct<conv_id:string,role:string>" in plan


class TestIvfAssignNoShuffle:
    def test_ivf_assign_no_shuffle(self, spark, sf_data_dir):
        """IVF cell assignment must stay in the scan stage: no hash
        exchange may touch the n-row side (the old crossJoin + Window
        argmax shuffled an n×C-amplified frame). The only allowed
        exchanges are the SinglePartition collect of the C centroids
        and the broadcast of that one row."""
        from gogstash_spark.mlops.ann import ivf_assign

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        plan = physical_plan(ivf_assign(emb, n_centroids=8, nprobe=2))
        assert "Window" not in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" not in plan, plan


class TestHyperplanePlanSize:
    def test_lsh_multi_plan_is_o1_in_dim(self, spark):
        """The LSH hyperplanes must ride a 1-row broadcast (the
        ivf_assign centroid pattern), never inline literals: the
        literal form put n_tables x n_bits x dim float constants in
        the expression tree — at d=1024 / 16 bits / 4 tables that is
        65k literals before Catalyst even starts. Pin it by building
        the WORST-case keyed plan and bounding the full
        queryExecution dump (the literal form measured ~8 MB here;
        the broadcast form is a few hundred KB of ordinary plan
        text dominated by the join/window subtree)."""
        from gogstash_spark.mlops.ann import lsh_topk_multi

        emb = spark.range(4).select(
            F.col("id").alias("vec_id"),
            F.array(*[(F.col("id") + i).cast("float") for i in range(8)]).alias(
                "embedding"
            ),
        )
        df = lsh_topk_multi(
            emb, dim=1024, n_bits=16, n_tables=4, max_query_id=2, k=2
        )
        dump = df._jdf.queryExecution().toString()
        assert len(dump) < 500_000, (
            "plan dump %d chars — hyperplane literals leaked back into "
            "the expression tree?" % len(dump)
        )


GOLDEN_ROUTED_PLAN = os.path.join(os.path.dirname(__file__), "golden", "standard_spec_routed_plan.txt")


class TestGrokPlanPinned:
    def test_standard_spec_routed_plan_unchanged(self, spark, sf_data_dir):
        """grok builds its columns as SQL text (one JVM call each) and
        must analyze to the plan its Column-API build gave: the optimized
        plan of standard_spec's routed frame equals the pinned text, with
        expression ids, common-subexpression names and observation names
        and ids normalised. Regenerate the file from this test's `got`
        only for an intended plan change."""
        plan = compile_pipeline(
            standard_spec(sf_data_dir), Context(spark=spark, base_dir=sf_data_dir)
        )
        routed = plan.run(spark.read.parquet(os.path.join(sf_data_dir, "transcripts")))
        key = "spark.sql.debug.maxToStringFields"
        prev = spark.conf.get(key)
        spark.conf.set(key, "100000")
        try:
            got = routed._jdf.queryExecution().optimizedPlan().toString()
        finally:
            spark.conf.set(key, prev)
        got = re.sub(r"#\d+L?", "#N", re.sub(r"_common_expr_\d+", "_common_expr_N", got))
        got = re.sub(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "UUID", got)
        got = re.sub(r"(CollectMetrics .*), \d+$", r"\1, N", got, flags=re.M)
        with open(GOLDEN_ROUTED_PLAN, newline="") as f:
            assert got == f.read()


class TestFanoutDistribution:
    def test_default_path_is_rebalance_not_fixed_repartition(self, spark):
        """the fan-out shuffle must size itself by DATA (AQE rebalance),
        not by a fixed cores-derived count — the fixed count made write
        partitions grow with the input (sf3 measured 96s vs 54s). It
        rebalances on `route` alone: no per-row salt (one hash per row)
        multiplies the files by cores."""
        from gogstash_spark.runner import _fanout_distribute

        df = spark.range(1000).select(
            (F.col("id") % 3).cast("string").alias("route"),
            F.lit("c").alias("conv_id"), F.col("id").cast("int").alias("turn_idx"),
        )
        plan = _fanout_distribute(df)._jdf.queryExecution().optimizedPlan().toString()
        assert "RepartitionByExpression" not in plan
        rebalances = [ln for ln in plan.splitlines() if "RebalancePartitions" in ln]
        assert len(rebalances) == 1, plan
        assert re.search(r"RebalancePartitions \[route#\d+\]", rebalances[0]), rebalances[0]
        assert "xxhash64" not in plan and "__salt" not in plan, plan


class TestPQPlans:
    def test_pq_encode_is_shuffle_free(self, spark):
        """Encoding is the FAISS 'add' phase — a pure projection
        against the 1-row broadcast codebook. No hash exchange, window,
        or sort-merge join may touch the corpus side; the only
        permitted hash exchange is the codebook pack itself (groupBy
        sub over m*ksub rows — data-size-invariant)."""
        from gogstash_spark.mlops import pq

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        cb = pq.pq_train(emb, m=8, ksub=16, iters=1)
        plan = physical_plan(pq.pq_encode(emb, cb))
        assert "Window" not in plan, plan
        bad = [
            ln
            for ln in plan.splitlines()
            if "Exchange hashpartitioning" in ln and "sub#" not in ln
        ]
        assert bad == [], bad
        assert "SortMergeJoin" not in plan, plan

    def test_pq_candidates_carry_codes_not_vectors(self, spark):
        """The point of PQ at 100 TB: the candidate side of the cell
        equi-join ships (n_id, cid, codes) — m ints — never the d-dim
        float vector. Pin it via the top-k plan text: the join keeps
        exactly one 'vec' column (the query side's, which builds the
        ADC tables); a second one means the candidate side regressed
        to shipping vectors."""
        from gogstash_spark.mlops import pq

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        cb = pq.pq_train(emb, m=8, ksub=16, iters=1)
        out = pq.pq_topk(emb, k=5, max_query_id=50, codebook=cb)
        optimized = out._jdf.queryExecution().optimizedPlan().toString()
        joins = [
            ln for ln in optimized.splitlines() if "Join" in ln and "cid" in ln
        ]
        assert joins, optimized
        assert "codes" in joins[0], joins[0]
        assert "n_vec" not in optimized, "candidate side ships full vectors"


class TestTextModelPlans:
    def test_nb_score_broadcasts_the_model(self, spark):
        """The corpus side of nb_score must see exactly one broadcast
        join (the vocabulary) and no sort-merge join or window — the
        explode/groupBy pair is the only corpus shuffle."""
        from gogstash_spark.mlops.textops import nb_score, nb_train

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        seed = docs.withColumn(
            "label", F.col("source").isin("src0", "src1").cast("int")
        )
        w, st = nb_train(seed)
        plan = physical_plan(nb_score(docs, w, st))
        assert "SortMergeJoin" not in plan, plan
        assert "Window" not in plan, plan
        assert plan.count("BroadcastHashJoin") == 1, plan

    def test_bigram_perplexity_broadcasts_both_tables(self, spark):
        """Scoring joins (w1,w2) and w1 — both must broadcast; no SMJ,
        no window anywhere in the scoring plan."""
        from gogstash_spark.mlops.textops import bigram_lm, bigram_perplexity

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        bi, miss, st = bigram_lm(docs)
        plan = physical_plan(bigram_perplexity(docs, bi, miss, st))
        assert "SortMergeJoin" not in plan, plan
        assert "Window" not in plan, plan
        assert plan.count("BroadcastHashJoin") >= 2, plan
