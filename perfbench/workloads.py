"""The benchmark workloads: inputs, one timed operation, an independent
correctness check, and the traced per-layer decomposition.

Every workload writes its inputs under a directory it is given, hands
the engine only that generated parquet, and checks what the engine
wrote with DuckDB (or numpy) rather than with Spark.
"""

from __future__ import annotations

import os
import shutil
import statistics
from contextlib import nullcontext

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen

# the generated line families, as DuckDB (RE2) regexes
RX_ACCESS = (
    r'^\S+ \S+ \S+ \[[^\]]+\] "\w+ \S+ HTTP/[\d.]+" (\d+) (\d+) "[^"]*" "[^"]*"$'
)
RX_KV = r'^level=(\w+) latency_ms=(\d+) path=("[^"]*"|\S+) status=(\d+)$'
RX_JSON = r'^\{"level":.*\}$'


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _untraced(name: str):
    return nullcontext()


def _counts(con, sql: str) -> dict[str, int]:
    return {str(k): int(v) for k, v in con.execute(sql).fetchall()}


class Logs:
    """`pipelines.standard_spec` run through `runner.run_pipeline` in
    partitioned write mode over generated transcripts."""

    files = 8

    def __init__(self, name: str, events: int):
        self.name, self.events = name, events
        self.rows_in = events

    # -- inputs ---------------------------------------------------------
    def generate(self, root: str, seed: int) -> None:
        from gogstash_spark.sources.transcripts import write_lookups

        self.data = root
        table = gen.transcripts(self.events, seed)
        gen.write_parts(table, os.path.join(root, "transcripts"), self.files)
        write_lookups(root)

    def spec(self):
        from gogstash_spark.pipelines import standard_spec

        return standard_spec(self.data)

    def load(self, spark) -> None:
        spark.read.parquet(os.path.join(self.data, "transcripts")).count()

    # -- the timed operation -------------------------------------------
    def run(self, spark, out_dir: str, span=_untraced):
        from gogstash_spark.runner import run_pipeline

        with span("runner.run_pipeline"):
            return run_pipeline(
                spark, self.spec(), out_dir=out_dir, base_dir=self.data,
                resume=False, write_mode="partitioned",
            )

    @staticmethod
    def out_bytes(out_dir: str) -> int:
        return sum(
            _dir_bytes(os.path.join(out_dir, d)) for d in os.listdir(out_dir)
            if d == "by_route" or d == "_lineage" or d.startswith("agg_")
        )

    # -- correctness ----------------------------------------------------
    def expect(self, spark) -> None:
        """Per-sink and per-aggregate row counts from DuckDB SQL over the
        generated parquet, with the spec's filters and routes restated
        in SQL."""
        con = duckdb.connect()
        src = os.path.join(self.data, "transcripts", "*.parquet")
        fields = f"""
    CASE WHEN f = 'kv' THEN regexp_extract(text, '{RX_KV}', 1) END AS kv_level,
    CASE WHEN f = 'kv' THEN CAST(regexp_extract(text, '{RX_KV}', 4) AS BIGINT) END AS kv_status,
    CASE WHEN f = 'json' THEN text::JSON->>'level' END AS j_level,
    CASE WHEN f = 'json' THEN CAST(text::JSON->>'code' AS BIGINT) END AS j_code,
    CASE WHEN f = 'access' THEN CAST(regexp_extract(text, '{RX_ACCESS}', 1) AS BIGINT) END
        AS response"""
        con.execute(f"""
CREATE TEMP TABLE ev AS
WITH t AS (
  SELECT *, CASE WHEN regexp_matches(text, '{RX_ACCESS}') THEN 'access'
                 WHEN regexp_matches(text, '{RX_KV}') THEN 'kv'
                 WHEN regexp_matches(text, '{RX_JSON}') THEN 'json'
                 ELSE 'none' END AS f
  FROM read_parquet('{src}')
), p AS (SELECT conv_id, role, tool, ts, f, {fields} FROM t)
SELECT *, coalesce(response, kv_status, j_code) AS status_u,
          coalesce(kv_level, j_level) AS level_u
FROM p""")
        err = "coalesce(status_u >= 500 OR level_u = 'error', false)"
        tool = "role = 'tool' AND tool <> 'none'"
        dead = "f = 'none'"
        routes = f"""
SELECT 'sink_errors' AS sink, * FROM ev WHERE {err}
UNION ALL SELECT 'sink_tool_calls', * FROM ev WHERE {tool}
UNION ALL SELECT 'sink_user_turns', * FROM ev WHERE role = 'user'
UNION ALL SELECT 'sink_deadletter', * FROM ev WHERE {dead}
UNION ALL SELECT 'sink_rest', * FROM ev
  WHERE NOT ({err} OR ({tool}) OR role = 'user' OR {dead})"""
        aggs = {
            "counts": "sink, tool, date_trunc('hour', ts)",
            "conv_counts": "sink, conv_id",
            "statsd": "sink, role || '.' || tool",
        }
        con.execute("CREATE TEMP TABLE routed AS " + routes)
        self.want_sinks = _counts(con, "SELECT sink, count(*) FROM routed GROUP BY 1")
        self.want_aggs = {
            name: con.execute(f"SELECT count(*) FROM (SELECT DISTINCT {keys} FROM routed)")
            .fetchone()[0]
            for name, keys in aggs.items()
        }
        con.close()

    def check(self, result, out_dir: str) -> list[str]:
        bad = []
        if result.sink_rows != self.want_sinks:
            bad.append("sink_rows %s != %s" % (result.sink_rows, self.want_sinks))
        if result.agg_rows != self.want_aggs:
            bad.append("agg_rows %s != %s" % (result.agg_rows, self.want_aggs))
        con = duckdb.connect()
        written = _counts(con, f"""SELECT route, count(*) FROM read_parquet(
            '{out_dir}/by_route/*/*.parquet', hive_partitioning = true) GROUP BY 1""")
        if written != self.want_sinks:
            bad.append("written by_route %s != %s" % (written, self.want_sinks))
        for name, want in self.want_aggs.items():
            got = con.execute(
                f"SELECT count(*) FROM read_parquet('{out_dir}/agg_{name}/*.parquet')"
            ).fetchone()[0]
            if got != want:
                bad.append("written agg_%s has %d rows, want %d" % (name, got, want))
        con.close()
        return bad

    # -- traced decomposition ------------------------------------------
    def trace(self, spark, tr, out_dir: str, baseline):
        """Trace one operation, then time each layer's public calls.
        `baseline()` runs an untraced operation and returns the mean
        untraced wall, the reference for the tracing overhead."""
        from gogstash_spark.operators import FILTERS, Context, compile_chain
        from gogstash_spark.plans.compile import compile_pipeline
        from gogstash_spark.runner import compute_aggregate
        from gogstash_spark.sources.files import read_input

        def noop(name: str, frame) -> float:
            """Median wall of three noop writes of `frame`, one span each."""
            walls = []
            for _ in range(3):
                with tr.span(name) as rec:
                    _noop(frame)
                walls.append(rec["end"] - rec["start"])
            return statistics.median(walls)

        with tr.span("run"):
            result = self.run(spark, out_dir, tr.span)
        m = {"trace.overhead_s": tr.wall("run") - baseline()}
        with tr.span("layers"):
            spec = self.spec()
            ctx = Context(spark=spark, base_dir=self.data)
            df = read_input(spark, spec.input)
            m["sources.scan_s"] = prev = noop("sources.scan", df)
            m["sources.rows_in"] = df.count()
            with tr.span("plans.compile"):
                plan = compile_pipeline(spec, ctx)
            m["plans.compile_s"] = tr.wall("plans.compile")

            # noop-write each prefix of the filter chain that ends where
            # the filter module changes; each increment is charged to the
            # module of the filters it adds
            mods = [FILTERS[f["type"]].__module__.rsplit(".", 1)[-1] for f in spec.filter]
            cuts = [i for i in range(1, len(mods)) if mods[i] != mods[i - 1]] + [len(mods)]
            for mod in ("parse", "enrich", "mutate"):
                m["operators.%s_s" % mod] = 0.0
            lo = 0
            for cut in cuts:
                name = "operators.%s" % mods[lo]
                took = noop(name, compile_chain(spec.filter[:cut], ctx)(df))
                m[name + "_s"] += took - prev
                prev, lo = took, cut

            with tr.span("plans.analyze"):
                routed = plan.run(df)
                routed._jdf.queryExecution().executedPlan()
            m["plans.analyze_s"] = tr.wall("plans.analyze")
            routed_wall = noop("plans.route", routed)
            m["plans.route_s"] = routed_wall - prev
            m["runner.sink_s"] = tr.wall("runner.run_pipeline") - routed_wall

            written = spark.read.parquet(os.path.join(out_dir, "by_route"))
            with tr.span("runner.aggregate"):
                for agg in spec.aggregate:
                    _noop(compute_aggregate(written.withColumnRenamed("route", "sink"), agg))
            m["runner.aggregate_s"] = tr.wall("runner.aggregate")

        pipe = result.metrics.get("pipeline", {})
        m["plans.fanout_ratio"] = pipe.get("rows_routed", 0) / max(pipe.get("rows_total", 0), 1)
        grok = result.metrics.get("acc_grok", {})
        m["operators.parse.udf_rows"] = grok.get("rows", 0)
        m["operators.parse.grok_miss_ratio"] = grok.get("misses", 0) / max(grok.get("rows", 0), 1)
        files = [
            os.path.join(r, f) for r, _, fs in os.walk(os.path.join(out_dir, "by_route"))
            for f in fs if f.endswith(".parquet")
        ]
        m["runner.out_files"] = len(files)
        m["runner.mb_per_file"] = sum(map(os.path.getsize, files)) / 2**20 / max(len(files), 1)
        m["runner.rows_written"] = sum(result.sink_rows.values())
        for span in ("sources.scan", "runner.run_pipeline", "runner.aggregate"):
            for k, v in tr.stages(span).items():
                m["%s.%s" % (span, k)] = v
        return m, result


class Docs:
    """The mlops layer: `dedup.minhash_lsh_pairs` over a documents corpus
    and `ann.semantic_dedup` over an embeddings table, each result
    written to parquet. The IVF centroids are trained once, by the
    warm-up operation, as a model is trained once and applied many
    times.

    `dedup.dedup_groups` (the same pairs plus connected components) runs
    in the traced run only: one call costs about 20 s of query planning,
    more than the operation and its warm-up can carry within the run
    budget."""

    # the parameters of the engine's dedup oracle queries
    DEDUP = dict(n=3, bands=4, rows_per_band=1, threshold=0.35, bucket_cap=1000)
    CENTROIDS, ITERS, THRESHOLD = 8, 3, 0.95

    def __init__(self, name: str, docs: int):
        self.name, self.docs = name, docs
        self.rows_in = docs

    def generate(self, root: str, seed: int) -> None:
        os.makedirs(root, exist_ok=True)
        self.docs_path = os.path.join(root, "documents.parquet")
        self.emb_path = os.path.join(root, "embeddings.parquet")
        pq.write_table(gen.documents(self.docs, seed), self.docs_path)
        pq.write_table(gen.embeddings(self.docs, seed + 1), self.emb_path)

    def load(self, spark) -> None:
        self.doc_df = spark.read.parquet(self.docs_path)
        self.emb_df = spark.read.parquet(self.emb_path)
        self.doc_df.count()
        self.emb_df.count()
        self.cent = None  # a new session has lost the checkpointed centroids

    def train(self):
        from gogstash_spark.mlops.ann import ivf_train

        return ivf_train(self.emb_df, n_centroids=self.CENTROIDS, iters=self.ITERS)

    def run(self, spark, out_dir: str, span=_untraced):
        from gogstash_spark.mlops.ann import semantic_dedup
        from gogstash_spark.mlops.dedup import minhash_lsh_pairs

        if self.cent is None:  # the warm-up operation trains them
            self.cent = self.train()
        with span("mlops.dedup.pairs"):
            minhash_lsh_pairs(self.doc_df, "text", "doc_id", **self.DEDUP).write.mode(
                "overwrite").parquet(os.path.join(out_dir, "pairs"))
        with span("mlops.ann.dedup"):
            semantic_dedup(self.emb_df, centroids=self.cent, threshold=self.THRESHOLD).write.mode(
                "overwrite").parquet(os.path.join(out_dir, "kept"))

    @staticmethod
    def out_bytes(out_dir: str) -> int:
        return _dir_bytes(out_dir)

    def expect(self, spark) -> None:
        """Near-dup pairs and dedup groups from the engine's DuckDB oracle
        SQL over a `documents` view; SemDeDup survivors from a numpy
        restatement of its drop rule over the engine's cell assignment."""
        from gogstash_spark.mlops.ann import ivf_assign
        from gogstash_spark.mlops.entries import o_dedup_minhash_lsh

        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.docs_path}')")
        self.want_pairs = sorted(con.execute(o_dedup_minhash_lsh()).fetchall())
        con.close()

        # the engine's own cell assignment, with the warm-up's centroids
        cells = (
            ivf_assign(self.emb_df, nprobe=1, centroids=self.cent)
            .selectExpr("vid", "probes[0].cid AS cell").toPandas()
        )
        spark.catalog.clearCache()
        emb = pq.read_table(self.emb_path).to_pandas()
        vec = dict(zip(emb["vec_id"], emb["embedding"]))
        kept = set(cells.loc[cells["cell"].isna(), "vid"])
        for _, grp in cells.dropna().groupby("cell"):
            ids = np.sort(grp["vid"].to_numpy())
            v = np.stack([vec[i] for i in ids]).astype(np.float64)
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            cos = np.round(v @ v.T, 6)
            # dropped iff some smaller id in the same cell is that close
            dropped = np.triu(cos >= self.THRESHOLD, k=1).any(axis=0)
            kept.update(ids[~dropped].tolist())
        self.want_kept = kept

    def check(self, result, out_dir: str) -> list[str]:
        bad = []
        con = duckdb.connect()
        pairs = sorted(con.execute(
            f"SELECT id_a, id_b, jaccard FROM read_parquet('{out_dir}/pairs/*.parquet')"
        ).fetchall())
        same = len(pairs) == len(self.want_pairs) and all(
            a[:2] == b[:2] and abs(a[2] - b[2]) < 1e-9 for a, b in zip(pairs, self.want_pairs)
        )
        if not same:
            bad.append("minhash_lsh_pairs: %d pairs, oracle %d" % (len(pairs), len(self.want_pairs)))
        kept = {r[0] for r in con.execute(
            f"SELECT vec_id FROM read_parquet('{out_dir}/kept/*.parquet')").fetchall()}
        if kept != self.want_kept:
            bad.append("semantic_dedup keeps %d vectors, reference keeps %d (%d differ)"
                       % (len(kept), len(self.want_kept), len(kept ^ self.want_kept)))
        if os.path.exists(os.path.join(out_dir, "groups")):  # traced run only
            from gogstash_spark.mlops.entries import o_dedup_groups

            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.docs_path}')")
            want = sorted(con.execute(o_dedup_groups()).fetchall())
            got = sorted(con.execute(
                f"SELECT doc_id, group_id FROM read_parquet('{out_dir}/groups/*.parquet')"
            ).fetchall())
            if got != want:
                bad.append("dedup_groups differs from the oracle in %d rows"
                           % len(set(got) ^ set(want)))
        con.close()
        return bad

    def trace(self, spark, tr, out_dir: str, baseline):
        """As Logs.trace."""
        from gogstash_spark.functions.partitions import spread
        from gogstash_spark.mlops.ann import ivf_assign
        from gogstash_spark.mlops.dedup import (
            collapse_exact_texts, dedup_groups, lsh_band_buckets, lsh_hot_buckets,
            minhash_signatures_from_sets, shingle_sets,
        )
        from pyspark.sql import functions as F

        p = self.DEDUP
        with tr.span("run"):
            self.run(spark, out_dir, tr.span)
        spark.catalog.clearCache()
        overhead = tr.wall("run") - baseline()
        with tr.span("layers"):
            with tr.span("functions.spread"):
                spread(self.doc_df)
                spread(self.emb_df)
            # the LSH candidate self-join that minhash_lsh_pairs verifies,
            # rebuilt from the public steps so its size can be counted
            with tr.span("mlops.dedup.candidates"):
                sets = shingle_sets(collapse_exact_texts(self.doc_df), "text", "doc_id", p["n"])
                sig = minhash_signatures_from_sets(sets, p["bands"] * p["rows_per_band"])
                b = lsh_band_buckets(sig, p["bands"], p["rows_per_band"])
                b = b.join(lsh_hot_buckets(b, p["bucket_cap"]), ["band", "v"], "left_anti")
                cand = (
                    b.alias("x").join(b.alias("y"), ["band", "v"])
                    .filter(F.col("x.id") < F.col("y.id")).count()
                )
            with tr.span("mlops.dedup.groups"):
                dedup_groups(self.doc_df, "text", "doc_id", **p).write.mode(
                    "overwrite").parquet(os.path.join(out_dir, "groups"))
            with tr.span("mlops.ann.train"):
                self.train()
            with tr.span("mlops.ann.assign"):
                _noop(ivf_assign(self.emb_df, nprobe=1, centroids=self.cent))
            spark.catalog.clearCache()

        con = duckdb.connect()
        verified, kept = (
            con.execute(f"SELECT count(*) FROM read_parquet('{out_dir}/{d}/*.parquet')")
            .fetchone()[0] for d in ("pairs", "kept")
        )
        con.close()
        m = {
            "trace.overhead_s": overhead,
            "functions.spread_s": tr.wall("functions.spread"),
            "mlops.dedup.candidate_pairs": cand,
            "mlops.dedup.verified_pairs": verified,
            "mlops.dedup.verify_yield": verified / max(cand, 1),
            "mlops.dedup.pairs_s": tr.wall("mlops.dedup.pairs"),
            "mlops.dedup.components_s":
                tr.wall("mlops.dedup.groups") - tr.wall("mlops.dedup.pairs"),
            "mlops.ann.train_s": tr.wall("mlops.ann.train"),
            "mlops.ann.assign_s": tr.wall("mlops.ann.assign"),
            "mlops.ann.kernel_s": tr.wall("mlops.ann.dedup") - tr.wall("mlops.ann.assign"),
            "mlops.ann.drops": self.docs - kept,
        }
        for span in ("mlops.dedup.pairs", "mlops.dedup.groups", "mlops.ann.train",
                     "mlops.ann.assign", "mlops.ann.dedup"):
            for k, v in tr.stages(span).items():
                m["%s.%s" % (span, k)] = v
        return m, None


WORKLOADS = {
    "logs_mixed": lambda: Logs("logs_mixed", events=30_000),
    "docs_dedup": lambda: Docs("docs_dedup", docs=1_500),
}


def clear(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
