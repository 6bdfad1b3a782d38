"""Property-style randomized tests (seeded corpus, single Spark job):

- kv filter: render k=v lines from random dicts -> parse -> exact map
  round-trip (quote-aware values with spaces)
- cond translator: govaluate expression evaluated by Spark SQL matches
  a pure-Python evaluation over the same random rows
- sql_str: random unicode strings quoted as Spark SQL literals read
  back unchanged
"""

import random

import pytest
from pyspark.sql import functions as F

from gogstash_spark.functions.conds import cond_to_sql, sql_str
from gogstash_spark.operators import Context, compile_filter

SEED = 1234


class TestKvRoundtrip:
    def test_random_kv_lines_roundtrip(self, spark):
        rng = random.Random(SEED)
        words = ["alpha", "beta", "gamma", "delta", "k9", "x_1"]
        cases = []
        for i in range(60):
            d = {}
            for _ in range(rng.randint(1, 5)):
                k = rng.choice(words)
                if rng.random() < 0.4:
                    v = '"%s %s"' % (rng.choice(words), rng.randint(0, 99))
                else:
                    v = str(rng.randint(0, 9999))
                d[k] = v
            line = " ".join("%s=%s" % (k, v) for k, v in d.items())
            expected = {k: v.strip('"') for k, v in d.items()}
            cases.append((i, line, expected))
        df = spark.createDataFrame(
            [(i, line) for i, line, _ in cases], "id int, text string"
        )
        stage = compile_filter({"type": "kv", "target": "kvm"}, Context(spark=spark))
        got = {r["id"]: dict(r["kvm"]) for r in stage(df).collect()}
        for i, _, expected in cases:
            assert got[i] == expected, (i, got[i], expected)


class TestCondVsPython:
    @pytest.mark.parametrize(
        "expr",
        [
            "a > b && c == 'x'",
            "a + b * 2 >= 10 || c != 'x'",
            "!(a == b) && c IN ('x','y')",
            "empty(d) || strlen(c) > 0",
            "a % 3 == 0 && (b - a) < 5",
        ],
    )
    def test_sql_matches_python(self, spark, expr):
        rng = random.Random(SEED)
        rows = [
            (i, rng.randint(0, 12), rng.randint(0, 12),
             rng.choice(["x", "y", "z"]), rng.choice(["", "v", None]))
            for i in range(200)
        ]
        df = spark.createDataFrame(rows, "id int, a int, b int, c string, d string")
        sql = cond_to_sql(expr)
        got = {
            r["id"]: bool(r["p"])
            for r in df.withColumn("p", F.coalesce(F.expr(sql), F.lit(False))).collect()
        }

        def py_eval(a, b, c, d):
            env = {"a": a, "b": b, "c": c, "d": d}
            e = expr
            e = e.replace("&&", " and ").replace("||", " or ")
            e = e.replace("!(", " not (")
            e = e.replace("empty(d)", "(d is None or d == '')")
            e = e.replace("strlen(c)", "len(c)")
            e = e.replace("c IN ('x','y')", "c in ('x','y')")
            return bool(eval(e, {}, env))  # noqa: S307 test-only oracle

        for i, a, b, c, d in rows:
            assert got[i] == py_eval(a, b, c, d), (i, expr, (a, b, c, d))


class TestSqlStrRoundtrip:
    def test_random_unicode_literals_roundtrip(self, spark):
        """`SELECT sql_str(s)` returns s: quotes, backslashes (also before
        the lexer's own escape letters), control bytes, newlines and
        non-BMP code points included."""
        rng = random.Random(SEED)
        tricky = ["'", "\\", "\x1f", "\n", "\r", "\t", "\x00", '"', "%", "_", "u", "n", "0"]
        points = [c for c in range(1, 0x20000) if not 0xD800 <= c <= 0xDFFF]
        strings = ["", "'", "\\", "''", "\\'", "\\\\", "\\u0041", "\\n", "it's a\\b"]
        for _ in range(150):
            strings.append("".join(
                rng.choice(tricky) if rng.random() < 0.4 else chr(rng.choice(points))
                for _ in range(rng.randint(1, 12))
            ))
        sql = "SELECT " + ", ".join(
            "%s AS c%d" % (sql_str(s), i) for i, s in enumerate(strings)
        )
        row = spark.sql(sql).first()
        for i, s in enumerate(strings):
            assert row[i] == s, (i, s, row[i])


class TestPathValueRoundtrip:
    """set-then-get returns the value; remove-then-columns lacks it —
    over randomized nested struct/array shapes (seeded, one Spark job
    per batch)."""

    def test_random_paths_roundtrip(self, spark):
        rng = random.Random(SEED)
        from gogstash_spark.functions.pathvalue import get_path, remove_path, set_path

        df = spark.createDataFrame(
            [(1, {"b": [{"c": 1, "d": "x"}, {"c": 2, "d": "y"}, {"c": 3, "d": "z"}],
                  "e": {"f": 9}})],
            "id int, a struct<b:array<struct<c:int,d:string>>, e:struct<f:int>>",
        )
        paths = ["a.e.f", "a.b[0].c", "a.b[1].d", "a.b[-1].c", "a.b[2].d"]
        for p in paths:
            marker = rng.randint(100, 999)
            out = set_path(df, p, F.lit(marker).cast("int") if p.endswith(".c") or p.endswith(".f")
                           else F.lit(str(marker)))
            got = out.select(get_path(out, p).alias("v")).collect()[0]["v"]
            assert str(got) == str(marker), p
        # removals: the addressed leaf disappears, siblings survive
        out = remove_path(df, "a.b[1]")
        r = out.collect()[0]
        assert [e["c"] for e in r["a"]["b"]] == [1, 3]
        # removing a struct's only field nulls the emptied parent
        out2 = remove_path(df, "a.e.f")
        assert out2.collect()[0]["a"]["e"] is None

    def test_hash_vectors_match_stdlib(self, spark):
        """fnv32a/adler32 column arithmetic vs Python reference over
        random ASCII strings."""
        import zlib

        def fnv32a(data: bytes) -> int:
            h = 2166136261
            for byt in data:
                h = ((h ^ byt) * 16777619) % 2**32
            return h

        rng = random.Random(SEED)
        alphabet = "abcdefghijklmnop qrstuvwxyz0123456789-_/."
        cases = ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40)))
                 for _ in range(40)]
        df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)], "id int, x string")
        f = compile_filter({"type": "hash", "source": ["x"], "algo": "fnv32a",
                            "target": "hf"}, Context(spark=spark))
        a = compile_filter({"type": "hash", "source": ["x"], "algo": "adler32",
                            "target": "ha"}, Context(spark=spark))
        got = {r["id"]: r for r in a(f(df)).collect()}
        for i, s in enumerate(cases):
            assert got[i]["hf"] == "%08x" % fnv32a(s.encode()), s
            assert got[i]["ha"] == "%08x" % zlib.adler32(s.encode()), s


class TestBpeAgainstPureReference:
    """bpe_train/bpe_apply vs an independent pure-Python BPE (tuple
    arithmetic, no strings-with-separators) over seeded random corpora —
    a second oracle with a DIFFERENT representation than both the Spark
    string-replace form and the DuckDB restatement, so a representation
    bug (like the round-5 symbol-boundary one) cannot hide in parity."""

    @staticmethod
    def _ref_train(word_freq, n_merges):
        vocab = {}
        for w, c in word_freq.items():
            t = tuple(w)
            vocab[t] = vocab.get(t, 0) + c
        merges = []
        for _ in range(n_merges):
            counts = {}
            for syms, c in vocab.items():
                for a, b in zip(syms, syms[1:]):
                    counts[(a, b)] = counts.get((a, b), 0) + c
            if not counts:
                break
            best = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            (l, r), freq = best
            merges.append((l, r, freq))
            nv = {}
            for syms, c in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                key = tuple(out)
                nv[key] = nv.get(key, 0) + c
            vocab = nv
        return merges

    @staticmethod
    def _ref_apply(word, merges):
        syms = list(word)
        for l, r, _ in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    def test_random_corpora_match_reference(self, spark):
        from gogstash_spark.mlops import bpe

        rng = random.Random(SEED)
        for corpus_ix in range(3):
            words = [
                "".join(rng.choice("abc") for _ in range(rng.randint(1, 6)))
                for _ in range(rng.randint(8, 20))
            ]
            docs = []
            for i in range(10):
                docs.append(
                    (i, " ".join(rng.choice(words) for _ in range(rng.randint(1, 12))))
                )
            wf = {}
            for _, text in docs:
                for w in text.split():
                    wf[w] = wf.get(w, 0) + 1
            want = self._ref_train(wf, 5)
            df = spark.createDataFrame(docs, "doc_id long, text string")
            m = bpe.bpe_train(df, n_merges=5)
            got = [
                (r["left_sym"], r["right_sym"], r["pair_freq"])
                for r in m.orderBy("merge_idx").collect()
            ]
            assert got == want, (corpus_ix, got, want)
            applied = {
                r["doc_id"]: r["bpe_tokens"] for r in bpe.bpe_apply(df, m).collect()
            }
            merges = got
            for i, text in docs:
                want_toks = [
                    t for w in text.split() for t in self._ref_apply(w, merges)
                ]
                assert applied[i] == want_toks, (corpus_ix, i, applied[i], want_toks)


class TestPqTrainAgainstNumpy:
    def test_codebook_matches_numpy_lloyd(self, spark):
        """pq_train vs an independent numpy per-subspace Lloyd with the
        same seeding, tie, and empty-code rules — exact to 1e-9."""
        import numpy as np

        from gogstash_spark.mlops import pq

        rng = random.Random(SEED)
        n, dim, m, ksub, iters = 40, 8, 4, 4, 2
        dsub = dim // m
        vecs = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(n)]
        emb = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>",
        )
        # numpy reference — float32-cast first like the Spark side reads
        X = np.array(vecs, dtype=np.float32).astype(np.float64)
        cb = {}
        for s in range(m):
            sub = X[:, s * dsub:(s + 1) * dsub]
            cents = sub[:ksub].copy()  # min-id seeds
            for _ in range(iters):
                d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
                # Spark computes svn2 - 2 dot + cn2 and rounds to 9
                d2r = np.round(
                    (sub**2).sum(1)[:, None]
                    - 2 * sub @ cents.T
                    + (cents**2).sum(1)[None, :],
                    9,
                )
                assign = d2r.argmin(axis=1)  # argmin takes smallest index on ties
                for c in range(ksub):
                    mask = assign == c
                    if mask.any():
                        cents[c] = sub[mask].mean(axis=0)
            for c in range(ksub):
                cb[(s, c)] = cents[c]
        got = {
            (r["sub"], r["code"]): r["cvec"]
            for r in pq.pq_train(emb, m=m, ksub=ksub, iters=iters, dim=dim).collect()
        }
        assert set(got) == set(cb)
        for key in cb:
            assert max(abs(a - b) for a, b in zip(got[key], cb[key])) < 1e-9, key
