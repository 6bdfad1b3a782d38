"""Round-6 optimization invariants.

The optimizations must be invisible in results: the SemDeDup Arrow
kernel vs a pure-Python reference, the exact round-6 threshold bound, the
spread() parallelism repair, and the literal-merge BPE loop all have to
produce byte-identical answers to the shapes they replaced.
"""

from __future__ import annotations

import math
import random
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from gogstash_spark.functions.partitions import spread
from gogstash_spark.mlops.ann import _round6_ge_bound, semantic_dedup


def _spark_round6(x: float) -> float:
    """Reference for Spark's Round(x, 6): BigDecimal HALF_UP on the
    exact binary expansion of the double."""
    return float(Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


class TestRound6GeBound:
    def test_matches_decimal_rounding_on_boundaries(self):
        rng = random.Random(7)
        for thr in [0.3, 0.95, 0.0, -0.3, 0.123456, -0.000001, 0.2999995,
                    1.0, -1.0, 0.5, 0.9999995]:
            bound = _round6_ge_bound(thr)
            for _ in range(2000):
                q = rng.uniform(-1.2, 1.2)
                if rng.random() < 0.5:
                    # land near the half-up boundaries where the two
                    # formulations could disagree
                    q = round(q, 6) + rng.choice(
                        [0.0, 5e-7, -5e-7, 4.9999e-7, -4.9999e-7, 5.0001e-7]
                    )
                assert (_spark_round6(q) >= thr) == (q >= bound), (thr, repr(q))

    def test_nan_fails(self):
        # round(NaN, 6) >= thr is false in Spark; NaN >= bound is false too
        assert not (float("nan") >= _round6_ge_bound(0.3))

    def test_exact_boundary_values(self):
        # the nearest double to decimal 0.2999995 is BELOW it, so its
        # exact expansion rounds HALF_UP to 0.299999 and must FAIL at
        # thr=0.3 — while the next double up passes. The bound has to
        # cut exactly between those two adjacent doubles.
        b = _round6_ge_bound(0.3)
        below = float(Decimal("0.2999995"))
        assert _spark_round6(below) < 0.3 and not (below >= b)
        above = math.nextafter(below, math.inf)
        assert _spark_round6(above) >= 0.3 and (above >= b)
        assert not (0.2999994 >= b)
        # negative side: -0.3000005's double neighbors straddle the
        # away-from-zero rounding boundary the same way
        bn = _round6_ge_bound(-0.3)
        for q in (float(Decimal("-0.3000005")), float(Decimal("-0.3000004"))):
            assert (_spark_round6(q) >= -0.3) == (q >= bn), repr(q)


class TestSemanticDedupKernelParity:
    def test_arrow_kernel_matches_reference(self, spark):
        from gogstash_spark.mlops.ann import ivf_assign, ivf_train

        rng = random.Random(3)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(300)
        ]
        # plant exact near-duplicates and a zero vector
        rows += [(1000 + i, [x * 1.0000001 for x in rows[i][1]]) for i in range(20)]
        rows.append((2000, [0.0] * 16))
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        cent = spark.createDataFrame(
            ivf_train(emb, n_centroids=4, iters=2).collect(),
            "cid long, cvec array<double>",
        )
        got = sorted(
            (r[0], r[1])
            for r in semantic_dedup(emb, threshold=0.9, centroids=cent).collect()
        )

        # reference over the engine's own cell assignment: left-fold
        # double dot and norm, Spark's round(x, 6) >= threshold
        cell = {
            r[0]: r[1]
            for r in ivf_assign(emb, nprobe=1, centroids=cent)
            .select("vid", F.element_at("probes", 1)["cid"])
            .collect()
        }
        vec = {r[0]: r[1] for r in emb.collect()}  # float32-rounded values

        def dot(u, v):
            acc = 0.0
            for x, y in zip(u, v):
                acc += x * y
            return acc

        nrm = {i: math.sqrt(dot(v, v)) for i, v in vec.items()}
        dropped = {
            b
            for a in vec
            for b in vec
            if a < b
            and cell[a] is not None
            and cell[a] == cell[b]
            and _spark_round6(dot(vec[a], vec[b]) / (nrm[a] * nrm[b])) >= 0.9
        }
        want = sorted((i, cell[i]) for i in vec if i not in dropped)
        assert got == want
        assert {1000 + i for i in range(20)} <= dropped  # planted near-dups
        assert (2000, None) in got  # zero vector survives unplaced

    def test_threshold_tightness_monotone(self, spark):
        rng = random.Random(5)
        rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(120)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        loose = semantic_dedup(emb, n_centroids=2, iters=1, threshold=0.5).count()
        tight = semantic_dedup(emb, n_centroids=2, iters=1, threshold=0.99).count()
        assert tight >= loose  # higher threshold drops fewer


class TestSpread:
    def test_lifts_low_partition_frames(self, spark):
        df = spark.range(0, 1000).coalesce(1)
        assert df.rdd.getNumPartitions() == 1
        out = spread(df)
        assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
        assert out.count() == 1000

    def test_noop_on_wide_frames(self, spark):
        wide = spark.range(0, 1000).repartition(
            spark.sparkContext.defaultParallelism + 4
        )
        out = spread(wide)
        # already wider than the target: no exchange added
        assert out is wide

    def test_streaming_passthrough(self, spark, tmp_path):
        sdf = (
            spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        )
        assert spread(sdf) is sdf

    def test_post_shuffle_frames_sized_from_the_plan(self, spark):
        """After a groupBy, a frame whose size estimate is under
        minPartitionSize (1 MiB) x cores is lifted to defaultParallelism
        and a larger one is returned as is; neither decision runs a job."""
        sc = spark.sparkContext
        small = spark.range(0, 1000).groupBy((F.col("id") % 10).alias("k")).count()
        big = spark.range(0, 10_000_000).groupBy((F.col("id") % 10).alias("k")).count()
        sc.setJobGroup("spread-plan-only", "spread over groupBy outputs")
        try:
            lifted, kept = spread(small), spread(big)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup("spread-plan-only") == []
        root = lifted._jdf.queryExecution().logical()
        assert root.nodeName() == "Repartition"
        assert root.numPartitions() == sc.defaultParallelism
        assert kept is big


class TestBpeLiteralMerges:
    def test_merge_rows_match_reference(self, spark):
        from gogstash_spark.mlops.bpe import bpe_train

        docs = spark.createDataFrame(
            [(1, "low low lower lowest"), (2, "new newer newest low")],
            "doc_id long, text string",
        )
        out = bpe_train(docs, n_merges=3).collect()
        assert [r["merge_idx"] for r in out] == [0, 1, 2]
        # 'lo' or 'ow' dominated pairs must come out deterministically
        assert all(r["pair_freq"] >= 1 for r in out)
        # rerun is identical (pure function of input)
        again = bpe_train(docs, n_merges=3).collect()
        assert [tuple(r) for r in again] == [tuple(r) for r in out]

    def test_no_leaked_cache(self, spark):
        # bpe_train persists its vocab internally and must release it
        # before returning (the session is shared — compare counts, not
        # absolutes)
        from gogstash_spark.mlops.bpe import bpe_train

        jsc = spark.sparkContext._jsc.sc()
        before = jsc.getPersistentRDDs().size()
        docs = spark.createDataFrame(
            [(1, "aa ab aa ab"), (2, "ab aa ba")], "doc_id long, text string"
        )
        bpe_train(docs, n_merges=2).collect()
        assert jsc.getPersistentRDDs().size() <= before
