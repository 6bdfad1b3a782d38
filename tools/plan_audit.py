"""Physical-plan audit table for every training-data op: one line per
op with the operator counts that matter at 100 TB (broadcast vs
sort-merge joins, hash exchanges, windows, nested-loop/cartesian,
Python eval nodes), plus the grok query and the routed standard
pipeline. BuildJobs is how many Spark jobs the op runs while its frame
is built (0 for a lazy op), so an op that hides eager work (a count,
a persist it fills, an RDD probe under AQE) shows up.

    python tools/plan_audit.py [sf_dir]

Complements tests/test_plan_invariants.py (which PINS the critical
shapes): this prints the whole inventory so a round review can eyeball
regressions before they earn a pin. SMJ is not automatically bad — the
full-outer snapshot diff and the corpus-scale band joins are SMJ by
design (no side fits a broadcast); the table exists so every SMJ is a
KNOWN one.
"""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from pyspark import SparkContext  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def audit(name: str, build) -> None:
    """One table line for the frame `build()` returns."""
    sc = SparkContext.getOrCreate()
    group = "plan_audit/" + name
    sc.setJobGroup(group, "build " + name)
    try:
        df = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    p = df._jdf.queryExecution().executedPlan().toString()
    print(
        "%-24s BHJ:%d SMJ:%d hashExch:%d Window:%d BNLJ/Cart:%d PyEval:%d BuildJobs:%d"
        % (
            name,
            p.count("BroadcastHashJoin"),
            p.count("SortMergeJoin"),
            p.count("Exchange hashpartitioning"),
            p.count("Window"),
            p.count("NestedLoop") + p.count("Cartesian"),
            p.count("ArrowEvalPython") + p.count("BatchEvalPython"),
            len(sc.statusTracker().getJobIdsForGroup(group)),
        )
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from gogstash_spark.mlops import ann, bpe, dedup, packing, pq, sampling, textops
    from gogstash_spark.session import get_spark
    from gogstash_spark.sources.transcripts import ensure_transcripts

    spark = get_spark(app_name="plan_audit", master="local[8]")
    docs = spark.read.parquet(sf_dir + "/documents.parquet")
    emb = spark.read.parquet(sf_dir + "/embeddings.parquet")
    data_dir = ensure_transcripts("/root/testdata/sf0.001")
    turns = spark.read.parquet(data_dir + "/transcripts")

    import __spark_entry__ as entry
    from gogstash_spark.operators import Context
    from gogstash_spark.pipelines import standard_spec
    from gogstash_spark.plans.compile import compile_pipeline

    audit("grok_parse", lambda: entry.queries()["grok_parse"](spark, sf_dir))
    plan = compile_pipeline(standard_spec(data_dir), Context(spark=spark, base_dir=data_dir))
    audit("standard_spec(routed)", lambda: plan.run(turns))

    audit("lang_id", lambda: textops.lang_id(docs))
    audit("quality_score", lambda: textops.quality_score(docs))
    audit("normalize_text", lambda: textops.normalize_text(docs))
    audit("redact_pii", lambda: textops.redact_pii(docs))
    audit("token_counts", lambda: textops.token_counts(docs))
    audit("fingerprint", lambda: textops.fingerprint(docs))
    audit("repetition_signals", lambda: textops.repetition_signals(docs))
    audit("vocab_top_k", lambda: textops.vocab_top_k(docs, 20))
    audit("oov_rate", lambda: textops.oov_rate(docs, textops.vocab_top_k(docs, 20)))
    lm, stats = textops.unigram_lm(docs)
    audit("lm_perplexity", lambda: textops.lm_perplexity(docs, lm, stats))
    bi, miss, bst = textops.bigram_lm(docs)
    audit("bigram_perplexity", lambda: textops.bigram_perplexity(docs, bi, miss, bst))
    seed = docs.withColumn("label", F.col("source").isin("src0").cast("int"))
    w, st = textops.nb_train(seed)
    audit("nb_score", lambda: textops.nb_score(docs, w, st))
    audit("corpus_report", lambda: textops.corpus_report(docs))
    audit("contamination", lambda: textops.contamination(docs, docs.limit(20)))

    audit("dedup_exact", lambda: dedup.exact_dup_groups(docs))
    audit("minhash_lsh_pairs", lambda: dedup.minhash_lsh_pairs(docs))
    audit("minhash_lsh_pairs(cap)", lambda: dedup.minhash_lsh_pairs(docs, bucket_cap=1000))
    audit("simhash_pairs(cap)", lambda: dedup.simhash_near_dup_pairs(docs, bucket_cap=1000))
    audit("ngram_jaccard(max_df)", lambda: dedup.ngram_jaccard_pairs(docs, max_df=1000))
    audit("conv_dedup", lambda: dedup.conv_dedup(turns))
    s1 = docs.where("doc_id % 2 = 0")
    audit("dedup_incremental", lambda: dedup.dedup_incremental(
        docs.where("doc_id % 2 = 1"),
        dedup.dedup_incremental(s1, None).select("text_md5")))
    nl = dedup.neardup_incremental(s1, None).select("doc_id", "m0", "m1", "m2", "m3")
    audit("neardup_incremental",
          lambda: dedup.neardup_incremental(docs.where("doc_id % 2 = 1"), nl))
    audit("snapshot_diff", lambda: dedup.snapshot_diff(s1, docs.where("doc_id % 2 = 1")))
    audit("repeated_spans", lambda: dedup.repeated_substring_spans(docs, k=8))

    audit("ivf_assign", lambda: ann.ivf_assign(emb))
    audit("ivf_topk", lambda: ann.ivf_topk(emb, max_query_id=50))
    audit("lsh_topk", lambda: ann.lsh_topk(emb, max_query_id=50))
    dim = len(emb.first()["embedding"])
    audit("lsh_topk_multi(cap)",
          lambda: ann.lsh_topk_multi(emb, dim, max_query_id=50, bucket_cap=1000))
    audit("cosine_pairs(cap)", lambda: ann.cosine_near_dup_pairs(emb, bucket_cap=1000))
    audit("semantic_dedup", lambda: ann.semantic_dedup(emb, iters=1))
    audit("embedding_report", lambda: ann.embedding_report(emb))
    audit("cluster_balanced(exact)", lambda: ann.cluster_balanced_sample(emb, 20, iters=1))
    audit("cluster_balanced(rate)",
          lambda: ann.cluster_balanced_sample(emb, 20, iters=1, exact=False))
    cb = pq.pq_train(emb, iters=1)
    audit("pq_encode", lambda: pq.pq_encode(emb, cb))
    audit("pq_topk", lambda: pq.pq_topk(emb, max_query_id=50, codebook=cb))

    m = bpe.bpe_train(docs, n_merges=2)
    audit("bpe_apply", lambda: bpe.bpe_apply(docs, m))

    audit("stratified_sample", lambda: sampling.stratified_sample(docs, {"src0": 0.5}, "source"))
    audit("weighted_sample", lambda: sampling.weighted_sample(
        docs.withColumn("rate", F.lit(0.5)), "rate"))
    audit("score_buckets", lambda: sampling.score_buckets(
        textops.quality_score(docs), [0.5], ["lo", "hi"], score_col="quality"))
    audit("mixture_weights", lambda: sampling.mixture_weights(docs, {"src0": 1.0}, 1000))
    audit("upsample_mix", lambda: sampling.upsample_mix(docs, {"src0": 2.0}, "source"))

    audit("pack_sequences", lambda: packing.pack_sequences(docs, 1024))
    audit("sft_mask_manifest", lambda: packing.sft_mask_manifest(turns, 512))


if __name__ == "__main__":
    main()
