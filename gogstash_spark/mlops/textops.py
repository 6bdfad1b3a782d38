"""Text analysis for training-data pipelines: language-ID heuristic,
quality scoring, token counting, document fingerprinting.

All native column expressions (JVM-side, codegen), designed so the
same arithmetic is expressible in ANSI-ish SQL for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gogstash_spark.functions.partitions import spread

# tiny public-knowledge English stopword set (n-gram heuristic)
EN_STOPWORDS = [
    "the", "a", "and", "of", "to", "in", "is", "it", "you", "that",
    "was", "for", "on", "are", "with", "as",
]

# BPE-ish token regex: letter runs, digit runs, single punctuation
TOKEN_RX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col: Column) -> Column:
    """whitespace tokenization of trimmed text."""
    return F.split(F.trim(col), r"\s+")


def ws_token_len(col: Column) -> Column:
    """whitespace token count; 0 for empty/blank/NULL text (mirrors
    token_counts n_ws_tokens; the coalesce covers NULL text, where both
    the length guard and size(split(NULL)) go NULL)."""
    return F.coalesce(
        F.when(F.length(F.trim(col)) == 0, F.lit(0)).otherwise(F.size(tokens(col))),
        F.lit(0),
    ).cast("long")


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """whitespace token count + BPE-ish regex token count."""
    t = F.col(text_col)
    return df.withColumns(
        {
            "n_ws_tokens": F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(
                F.size(tokens(t))
            ),
            "n_bpe_tokens": F.size(F.regexp_extract_all(t, F.lit(TOKEN_RX), F.lit(0))),
        }
    )


def stopword_ratio(col: Column) -> Column:
    toks = tokens(F.lower(col))
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda x: x.isin(EN_STOPWORDS)))
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def lang_id(df: DataFrame, text_col: str = "text", threshold: float = 0.08) -> DataFrame:
    """n-gram/stopword heuristic language ID: 'en' when the English
    stopword ratio clears the threshold, else 'unknown'."""
    ratio = stopword_ratio(F.col(text_col))
    return df.withColumns(
        {
            "en_stopword_ratio": F.round(ratio, 6),
            "lang_pred": F.when(ratio > threshold, F.lit("en")).otherwise(F.lit("unknown")),
        }
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite quality features + score in [0,1]:
    length band, punctuation ratio, stopword ratio, mean word length.
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    n_punct = F.size(F.regexp_extract_all(t, F.lit(r"[^\w\s]"), F.lit(0)))
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars.cast("double")).otherwise(
        F.lit(0.0)
    )
    toks = tokens(t)
    n_tok = F.size(toks)
    mean_wlen = F.when(
        n_tok > 0,
        (F.length(F.trim(t)) - (n_tok - 1)).cast("double") / n_tok.cast("double"),
    ).otherwise(F.lit(0.0))
    sw = stopword_ratio(t)
    len_band = F.when((n_chars >= 50) & (n_chars <= 5000), F.lit(1.0)).otherwise(F.lit(0.25))
    score = (
        len_band * 0.4
        + F.when(punct_ratio < 0.2, F.lit(1.0)).otherwise(F.lit(0.0)) * 0.2
        + F.least(sw * F.lit(5.0), F.lit(1.0)) * 0.2
        + F.when((mean_wlen >= 3.0) & (mean_wlen <= 10.0), F.lit(1.0)).otherwise(F.lit(0.0))
        * 0.2
    )
    return df.withColumns(
        {
            "n_chars_q": n_chars.cast("long"),
            "punct_ratio": F.round(punct_ratio, 6),
            "stopword_ratio": F.round(sw, 6),
            "mean_word_len": F.round(mean_wlen, 6),
            "quality": F.round(score, 6),
        }
    )


# PII patterns (order matters: cards before generic digit runs).
# Pure-regex heuristics — the standard first-pass scrub in training-data
# pipelines (biased toward OVER-redaction: e.g. four 4-digit numbers in
# a row are indistinguishable from a card without a Luhn check); all
# codegen regexp_replace, no UDFs, RE2-compatible (no lookaround) so
# the DuckDB oracle runs the same expressions.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # start AND end on a digit at word boundaries: never eats the
    # trailing separator, never tail-matches a longer digit run
    (r"\b\d(?:[ -]?\d){12,15}\b", "<CARD>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    # two alternatives so the digits always start at a boundary
    # (\b before '+' cannot match after a space)
    (r"\+\d{1,3}[ -]?\(?\d{2,4}\)?[ -]?\d{3,4}[ -]?\d{3,4}\b"
     r"|\b\d{1,3}[ -]?\(?\d{2,4}\)?[ -]?\d{3,4}[ -]?\d{3,4}\b", "<PHONE>"),
]


def redact_pii(df: DataFrame, text_col: str = "text", target: str | None = None) -> DataFrame:
    """Replace emails / card-like digit runs / IPv4s / phone-like numbers
    with typed placeholders, and count the matches per row
    (`n_redactions`, counted on the INPUT text — pre-existing literal
    placeholder strings in a document never inflate it) so a pipeline
    can route heavily-redacted documents for review."""
    out_col = target or text_col
    red = F.col(text_col)
    n = F.lit(0)
    for rx, token in PII_PATTERNS:
        # count THIS pattern on the text state before its replace: an
        # entity consumed by an earlier pattern is never counted twice,
        # and pre-existing literal placeholders are never counted at all
        n = n + F.size(F.regexp_extract_all(red, F.lit(rx), F.lit(0)))
        red = F.regexp_replace(red, rx, token)
    return df.withColumn("n_redactions", n).withColumn(out_col, red)


# measured here: 2-gram shingling re-ran the regex split once per
# shingle (O(n²) splits per row, 14× the wall on the documents table)
# before staging
from gogstash_spark.functions.hof import staged as _staged  # noqa: E402


def fingerprint(df: DataFrame, text_col: str = "text", n: int = 5) -> DataFrame:
    """Document fingerprint: minimum md5 over word n-gram shingles
    (rolling-hash style winnowing, engine-portable via md5).
    Short docs (< n words) fall back to md5 of the whole text.
    """
    fp = _staged(
        tokens(F.col(text_col)),
        lambda toks: F.when(
            F.size(toks) >= n,
            F.array_min(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                    lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, n))),
                )
            ),
        ).otherwise(F.md5(F.col(text_col))),
    )
    return df.withColumn("fingerprint", fp)


def ngram_shingles(col: Column, n: int) -> Column:
    """array<string> of word n-gram shingles; empty for docs with
    fewer than n words (F.sequence would otherwise count DOWN for a
    negative span and fabricate shingles). The token array is staged
    once per row (see _staged) — the shingling lambda must never
    re-split the text per shingle."""
    return _staged(
        tokens(col),
        lambda toks: F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def contamination(
    df: DataFrame,
    bench_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark-contamination check: flag corpus documents that share
    at least one word n-gram with an evaluation/benchmark set (the
    standard train/test leakage control before an LLM training run;
    n=8..13 words is the usual window).

    Adds: n_ngrams (shingle count of the doc), n_matched_ngrams
    (shingle OCCURRENCES that appear anywhere in the benchmark set —
    a shingle repeated in the doc counts each time), contaminated.

    Scale shape (100 TB corpus, benchmark sets are ~10^4-10^6 n-grams):
    the corpus is never shuffled — the benchmark side collapses to
    DISTINCT md5 hashes and is broadcast, so the explode + inner join
    is map-side; only the MATCHED occurrences (rare by construction)
    shuffle into the per-doc count, and that small aggregate is
    broadcast back onto the corpus.
    """
    bench_hashes = (
        bench_df.select(
            F.explode(ngram_shingles(F.col(bench_text_col), n)).alias("s")
        )
        .select(F.md5("s").alias("_h"))
        .distinct()
    )
    matched = F.broadcast(
        df.select(id_col, F.explode(ngram_shingles(F.col(text_col), n)).alias("s"))
        .select(id_col, F.md5("s").alias("_h"))
        .join(F.broadcast(bench_hashes), "_h")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_matched_ngrams"))
    )
    # the output branch only needs the COUNT of shingles — arithmetic on
    # the token count, so the shingle arrays are materialized once (in
    # the match branch), not twice
    n_ngrams = F.greatest(
        F.size(tokens(F.col(text_col))) - (n - 1), F.lit(0)
    )
    return (
        df.withColumn("n_ngrams", n_ngrams)
        .join(matched, id_col, "left")
        .withColumn(
            "n_matched_ngrams", F.coalesce("n_matched_ngrams", F.lit(0).cast("long"))
        )
        .withColumn("contaminated", F.col("n_matched_ngrams") > 0)
    )


def _dup_frac(arr: Column) -> Column:
    # arr is referenced 3x — stage it so a shingle/split argument is
    # built once per row, not three times
    return _staged(
        arr,
        lambda a: F.when(
            F.size(a) > 0,
            (F.size(a) - F.size(F.array_distinct(a))).cast("double")
            / F.size(a).cast("double"),
        ).otherwise(F.lit(0.0)),
    )


def repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Repetition-based quality signals in the style of the Gopher /
    MassiveText filters: fraction of duplicate non-blank lines,
    duplicate words, and duplicate word 2-grams. High values mark
    boilerplate/spam documents a training pipeline should drop.
    Pure codegen column arithmetic — no UDF, no shuffle."""
    t = F.col(text_col)
    lines = F.filter(F.split(t, "\n"), lambda s: F.length(F.trim(s)) > 0)
    toks = tokens(t)
    return spread(df).withColumns(
        {
            "dup_line_frac": F.round(_dup_frac(lines), 6),
            "dup_word_frac": F.round(_dup_frac(toks), 6),
            "dup_2gram_frac": F.round(_dup_frac(ngram_shingles(t, 2)), 6),
        }
    )


def unigram_lm(df: DataFrame, text_col: str = "text") -> tuple[DataFrame, DataFrame]:
    """Train a unigram language model over a reference corpus: returns
    (lm, stats) where lm = (token, logp) with add-one smoothing over
    lowercased whitespace tokens, and stats is ONE row (n_total,
    n_vocab, oov_logp) — p(tok) = (c+1)/(N+V), p(oov) = 1/(N+V).

    Scale shape: one map-side-combinable groupBy(token); the stats
    frame is a single row. The vocabulary frame is what the scorer
    broadcasts — unigram vocabularies are millions of rows, not
    billions, so the broadcast is the right default at 100 TB (CCNet
    ships whole KenLM models to every worker the same way).
    """
    toks = spread(df).select(
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token")
    ).where(F.col("token") != "")  # blank docs tokenize to [''] — not a word
    # counts feeds both the stats row and the lm projection; persist so
    # the corpus-wide tokenize+groupBy runs once per action
    counts = toks.groupBy("token").agg(F.count("*").alias("c")).persist()
    stats = counts.agg(
        F.sum("c").alias("n_total"), F.count("*").alias("n_vocab")
    ).withColumn(
        "oov_logp", -F.log(F.col("n_total") + F.col("n_vocab"))
    )
    lm = counts.crossJoin(F.broadcast(stats)).select(
        "token",
        F.log((F.col("c") + 1) / (F.col("n_total") + F.col("n_vocab"))).alias("logp"),
    )
    return lm, stats


def lm_perplexity(
    df: DataFrame,
    lm: DataFrame,
    stats: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style LM quality scoring: per-document mean token
    log-probability under a (reference-corpus) unigram LM, and the
    corresponding perplexity — low-likelihood documents are the noise
    a training pipeline routes to review or drops.

    Adds: n_lm_tokens, avg_logprob (round 6), ppl (= exp(-avg), round
    6). Unseen tokens score at the model's OOV mass. Blank/whitespace
    documents have no tokens to score and are EXCLUDED from the output
    (route them on n_chars/quality instead — a likelihood over zero
    words is undefined, and letting the '' split artifact stand in for
    one would rank empty docs by the frequency of other empty docs).

    Scale shape: explode -> broadcast left join on token -> ONE
    groupBy(id).
    """
    exploded = spread(df).select(
        id_col, F.explode(tokens(F.lower(F.col(text_col)))).alias("token")
    ).where(F.col("token") != "")
    scored = (
        exploded.join(F.broadcast(lm), "token", "left")
        .crossJoin(F.broadcast(stats.select("oov_logp")))
        .select(id_col, F.coalesce("logp", "oov_logp").alias("lp"))
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count("*").alias("n_lm_tokens"),
            F.round(F.avg("lp"), 6).alias("avg_logprob"),
        )
        .withColumn("ppl", F.round(F.exp(-F.col("avg_logprob")), 6))
    )


def nb_train(
    df: DataFrame, label_col: str = "label", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Train a binary Naive-Bayes token classifier from a labeled seed
    corpus (label 1 = keep-quality, 0 = junk) — the distributed analog
    of the linear fastText classifier CCNet/GPT-3-style pipelines use
    for quality filtering. Returns (weights, stats):

    - weights: (token, log_ratio) with add-one smoothing over the joint
      vocabulary V: log_ratio = ln((c_pos+1)/(N_pos+V)) -
      ln((c_neg+1)/(N_neg+V))
    - stats: ONE row (n_pos, n_neg, n_vocab, d_pos, d_neg, prior_lo,
      unseen_lo); prior_lo = ln((d_pos+1)/(d_neg+1)) (doc-count prior,
      add-one so a single-class seed degrades instead of dividing by
      zero), unseen_lo = ln((N_neg+V)/(N_pos+V)) (the log-ratio every
      out-of-vocabulary token scores at).

    Scale shape: ONE explode -> ONE map-side-combinable groupBy(token)
    with conditional sums (no (token,label) shuffle key — the label is
    folded into the aggregates); stats is a 1-row crossJoin attach.
    Training over billions of seed tokens is one shuffle on token.
    """
    y = F.col(label_col).cast("int")
    toks = spread(df).select(
        y.alias("y"), F.explode(tokens(F.lower(F.col(text_col)))).alias("token")
    ).where(F.col("token") != "")
    counts = (
        toks.groupBy("token")
        .agg(
            F.sum(F.when(F.col("y") == 1, 1).otherwise(0)).alias("c_pos"),
            F.sum(F.when(F.col("y") == 0, 1).otherwise(0)).alias("c_neg"),
        )
        .persist()
    )
    token_totals = counts.agg(
        F.sum("c_pos").alias("n_pos"),
        F.sum("c_neg").alias("n_neg"),
        F.count(F.lit(1)).alias("n_vocab"),
    )
    doc_totals = df.agg(
        F.sum(F.when(y == 1, 1).otherwise(0)).alias("d_pos"),
        F.sum(F.when(y == 0, 1).otherwise(0)).alias("d_neg"),
    )
    stats = token_totals.crossJoin(doc_totals).select(
        "n_pos",
        "n_neg",
        "n_vocab",
        "d_pos",
        "d_neg",
        F.log(
            (F.col("d_pos") + 1).cast("double") / (F.col("d_neg") + 1).cast("double")
        ).alias("prior_lo"),
        F.log(
            (F.col("n_neg") + F.col("n_vocab")).cast("double")
            / (F.col("n_pos") + F.col("n_vocab")).cast("double")
        ).alias("unseen_lo"),
    )
    weights = counts.crossJoin(F.broadcast(stats)).select(
        "token",
        (
            F.log(
                (F.col("c_pos") + 1).cast("double")
                / (F.col("n_pos") + F.col("n_vocab")).cast("double")
            )
            - F.log(
                (F.col("c_neg") + 1).cast("double")
                / (F.col("n_neg") + F.col("n_vocab")).cast("double")
            )
        ).alias("log_ratio"),
    )
    return weights, stats


def nb_score(
    df: DataFrame,
    weights: DataFrame,
    stats: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents under an nb_train model: per-doc
    nb_score = prior_lo + sum(log_ratio per token, unseen_lo for OOV),
    rounded to 6 (double sums are order-dependent across partitions;
    log-ratio magnitudes keep 6 decimals far inside double precision),
    and nb_positive = (rounded score >= 0). Blank docs score at the
    prior alone (n_tokens 0) and are KEPT — the prior is the honest
    no-evidence decision.

    Scale shape: explode -> broadcast left join on token (NB
    vocabularies are the fastText-model-on-every-worker size class) ->
    ONE groupBy(id). Same shape as lm_perplexity.
    """
    exploded = spread(df).select(
        F.col(id_col), F.explode_outer(tokens(F.lower(F.col(text_col)))).alias("token")
    ).withColumn(
        "token", F.when(F.col("token") == "", None).otherwise(F.col("token"))
    )
    agg = (
        exploded.join(F.broadcast(weights), "token", "left")
        # ONE broadcast of the 1-row stats carries both constants;
        # min() over a constant re-surfaces prior_lo after the group
        .crossJoin(F.broadcast(stats.select("unseen_lo", "prior_lo")))
        .groupBy(id_col)
        .agg(
            F.count("token").alias("n_tokens"),
            F.sum(
                F.when(
                    F.col("token").isNotNull(),
                    F.coalesce(F.col("log_ratio"), F.col("unseen_lo")),
                ).otherwise(F.lit(0.0))
            ).alias("evidence"),
            F.min("prior_lo").alias("prior_lo"),
        )
    )
    scored = agg.select(
        id_col,
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(F.col("prior_lo") + F.col("evidence"), 6).alias("nb_score"),
    )
    return scored.withColumn("nb_positive", F.col("nb_score") >= 0)


def vocab_top_k(
    df: DataFrame, k: int, text_col: str = "text", lowercase: bool = True
) -> DataFrame:
    """Corpus-wide top-k vocabulary: (token, n_occurrences, rank) for
    the k most frequent whitespace tokens — the frequency table a
    tokenizer-training or vocabulary-pruning job starts from. rank is
    1-based; ties in count break by token ascending, so the table is
    DETERMINISTIC (a bare ORDER BY count LIMIT k would return an
    engine-dependent subset of the tied tail).

    Scale shape: one explode -> ONE map-side-combinable
    groupBy(token).count() (partial aggregation absorbs the Zipf skew:
    each task pre-counts its own 'the's before the shuffle), then
    top-k via sort+limit — Spark executes that as TakeOrdered over
    per-partition heaps of size k, never a global sort of the
    vocabulary.
    """
    if k < 1:
        raise ValueError("k must be >= 1, got %r" % k)
    t = F.col(text_col)
    toks = tokens(F.lower(t)) if lowercase else tokens(t)
    counts = (
        spread(df).select(F.explode(toks).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    return (
        counts.orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(int(k))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("n_occurrences"), F.asc("token"))
            ),
        )
    )


def oov_rate(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """Per-document vocabulary coverage: n_tokens, n_oov, and
    oov_rate = n_oov / n_tokens against `vocab` (any frame with a
    `token` column — vocab_top_k output or an external list). The
    corpus-level OOV rate a tokenizer report quotes is then one
    sum(n_oov)/sum(n_tokens) away. Blank docs carry n_tokens=0 and a
    0.0 rate (nothing to cover).

    Scale shape: explode -> broadcast LEFT join on token (vocabularies
    are ~10^4-10^6 rows — always the broadcast side) -> ONE
    groupBy(id). No shuffle on the corpus beyond the final group.
    """
    t = F.col(text_col)
    toks = tokens(F.lower(t)) if lowercase else tokens(t)
    exploded = spread(df).select(
        F.col(id_col), F.explode_outer(toks).alias("token")
    ).withColumn(
        "token", F.when(F.col("token") == "", None).otherwise(F.col("token"))
    )
    marked = exploded.join(
        F.broadcast(vocab.select("token").distinct().withColumn("__in", F.lit(1))),
        "token",
        "left",
    )
    agg = marked.groupBy(id_col).agg(
        F.count("token").alias("n_tokens"),
        F.sum(
            F.when(F.col("token").isNotNull() & F.col("__in").isNull(), 1).otherwise(0)
        ).alias("n_oov"),
    )
    return agg.select(
        id_col,
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_oov").cast("long").alias("n_oov"),
        F.round(
            F.when(
                F.col("n_tokens") > 0,
                F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("oov_rate"),
    )


def _bigram_pairs(df: DataFrame, text_col: str, id_col: str | None) -> DataFrame:
    """(id?, w1, w2) adjacent lowercased token pairs per row — a self-zip
    of the (staged) token array; empty/1-token docs yield no pairs."""
    toks = tokens(F.lower(F.col(text_col)))
    pair_arr = _staged(
        F.filter(toks, lambda x: x != ""),
        # blank docs filter to an EMPTY array: size-1 = -1 would crash
        # slice, so clamp (unlike bpe's words, doc token arrays can be
        # empty after the blank filter)
        lambda arr: F.zip_with(
            F.slice(arr, 1, F.greatest(F.size(arr) - 1, F.lit(0))),
            F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    )
    cols = ([F.col(id_col)] if id_col else []) + [F.explode(pair_arr).alias("p")]
    keep = ([id_col] if id_col else []) + ["p.w1", "p.w2"]
    return df.select(*cols).select(*keep)


def bigram_lm(
    df: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train a bigram LM with add-one smoothing — one step from
    unigram_lm toward the KenLM n-gram scoring CCNet actually ships.
    Returns (bi, miss, stats):

    - bi: (w1, w2, logp), logp = ln((c12+1)/(c1+V)) — add-one over the
      unigram vocabulary V as the continuation space
    - miss: (w1, miss_logp = ln(1/(c1+V))) — the score of an UNSEEN
      continuation of a seen history, precomputed per history so the
      scorer never needs c1 at score time
    - stats: unigram_lm's 1-row (n_total, n_vocab, oov_logp) — oov_logp
      covers histories never seen at all

    Scale shape: ONE pair-explode (a self-zip of the token array, no
    join) -> ONE map-side-combinable groupBy(w1, w2) plus the
    groupBy(w1) marginal; V rides a 1-row broadcast. Bigram tables run
    ~10-100x the unigram vocabulary — still the model-on-every-worker
    size class for real corpora (KenLM mmaps far bigger).
    """
    _, stats = unigram_lm(df, text_col)
    pairs = _bigram_pairs(df, text_col, None)
    c1 = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("c1")).persist()
    c12 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    bi = (
        c12.join(c1, "w1")
        .crossJoin(F.broadcast(stats.select("n_vocab")))
        .select(
            "w1",
            "w2",
            F.log(
                (F.col("c12") + 1).cast("double")
                / (F.col("c1") + F.col("n_vocab")).cast("double")
            ).alias("logp"),
        )
    )
    miss = c1.crossJoin(F.broadcast(stats.select("n_vocab"))).select(
        "w1",
        (-F.log((F.col("c1") + F.col("n_vocab")).cast("double"))).alias("miss_logp"),
    )
    return bi, miss, stats


def bigram_perplexity(
    df: DataFrame,
    bi: DataFrame,
    miss: DataFrame,
    stats: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean bigram log-probability + perplexity. Each
    adjacent pair scores at: bi.logp if (w1,w2) was seen; miss.miss_logp
    if only the history w1 was seen; stats.oov_logp if the history
    itself is out of vocabulary. Documents with < 2 tokens have no
    bigrams and are EXCLUDED (same rule and reason as lm_perplexity's
    blank-doc exclusion).

    Scale shape: one pair-explode -> broadcast left joins on (w1,w2)
    and w1 -> ONE groupBy(doc).
    """
    exploded = _bigram_pairs(df, text_col, id_col)
    scored = (
        exploded.join(F.broadcast(bi), ["w1", "w2"], "left")
        .join(F.broadcast(miss), "w1", "left")
        .crossJoin(F.broadcast(stats.select("oov_logp")))
        .select(
            id_col,
            F.coalesce("logp", "miss_logp", "oov_logp").alias("lp"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("lp"), 6).alias("avg_logprob"),
        )
        .withColumn("ppl", F.round(F.exp(-F.col("avg_logprob")), 6))
    )


def corpus_report(df: DataFrame, strata_col: str = "source", text_col: str = "text") -> DataFrame:
    """Per-source corpus health table — the report a curation run
    publishes next to its outputs: docs, whitespace tokens, distinct
    texts (exact-dup rate), mean doc length, mean quality score.

    Scale shape: quality features are per-row codegen, then ONE
    groupBy(source); the distinct-text count rides the same aggregate
    as approx_count_distinct over md5 — the HLL sketch (mergeable,
    bounded memory; rsd 1%%) rather than a second exact
    count-distinct shuffle. exact_distinct=... is deliberately NOT
    offered here: dup auditing belongs to dedup_exact, whose groupBy is
    the exact path.
    """
    scored = quality_score(df, text_col)
    return (
        scored.groupBy(F.col(strata_col).alias("source"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(ws_token_len(F.col(text_col))).alias("n_tokens"),
            F.approx_count_distinct(F.md5(F.col(text_col)), 0.01).alias(
                "approx_distinct_texts"
            ),
            F.round(F.avg(F.length(F.col(text_col))), 6).alias("avg_chars"),
            F.round(F.avg("quality"), 6).alias("avg_quality"),
        )
        .withColumn(
            "approx_dup_rate",
            F.round(
                1
                - F.col("approx_distinct_texts").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ),
        )
    )


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    target: str | None = None,
    lowercase: bool = False,
) -> DataFrame:
    """Canonicalize text before hashing/dedup/shingling — the cleanup
    stage every curation pipeline runs first so that byte-level noise
    (stray control chars, exotic whitespace, run-on spacing) does not
    defeat exact dedup. In order: control characters (C0 except
    tab/newline, DEL) are dropped, all whitespace runs (incl. the
    unicode space classes \\s covers) collapse to one space, the result
    is trimmed, and optionally lowercased. Emits `n_norm_changes` = 0/1
    per row (did normalization change anything) so a run can report how
    dirty its input was.

    Pure codegen regexp_replace chain — no UDF, no shuffle; RE2-safe
    character classes so the DuckDB oracle runs the same expressions.
    """
    out_col = target or text_col
    t = F.col(text_col)
    cleaned = F.regexp_replace(t, r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", "")
    cleaned = F.trim(F.regexp_replace(cleaned, r"\s+", " "))
    if lowercase:
        cleaned = F.lower(cleaned)
    return df.withColumn(
        "n_norm_changes", (~(cleaned.eqNullSafe(t))).cast("int")
    ).withColumn(out_col, cleaned)


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size token windows with optional
    overlap — the chunking stage of a retrieval/embedding pipeline
    (chunk granularity is what gets embedded and retrieved, not whole
    documents). Emits one row per chunk: (id, chunk_idx, chunk_start,
    n_chunk_tokens, chunk_text) where chunk_start is the 0-based token
    offset (stride = chunk_tokens - overlap) and chunk_text re-joins
    the window's tokens with single spaces (tokenization is
    whitespace-normalizing by construction — byte-exact offsets belong
    to a substring index, not a token chunker).

    Every token lands in at least one chunk, and every chunk after the
    first holds a token the previous one does not; the last chunk may be
    short; a doc shorter than one chunk yields exactly one chunk; blank
    docs yield none. Each (id, chunk_start) is deterministic, so chunk
    ids compose with the dedup/ANN ops downstream (md5(id:chunk_start)
    as a chunk key).

    Scale shape: pure per-row projection — the token array is STAGED
    once (hof.py), chunk starts come from a sequence() over the stride,
    one posexplode; no join, no shuffle, no window.
    """
    if chunk_tokens < 1:
        raise ValueError("chunk_tokens must be >= 1, got %r" % chunk_tokens)
    if not (0 <= overlap < chunk_tokens):
        raise ValueError(
            "overlap must be in [0, chunk_tokens): %r / %r" % (overlap, chunk_tokens)
        )
    stride = chunk_tokens - overlap
    toks = tokens(F.col(text_col))

    def chunks(arr):
        n = F.size(arr)
        # last start: the smallest multiple of stride whose window reaches
        # token n-1 (every token covered, no tail made only of overlap)
        last = F.ceil(F.greatest(n - chunk_tokens, F.lit(0)) / stride) * stride
        return F.when(
            (F.length(F.trim(F.col(text_col))) > 0) & (n > 0),
            F.transform(
                F.sequence(F.lit(0), last.cast("int"), F.lit(stride)),
                lambda st: F.struct(
                    st.cast("long").alias("chunk_start"),
                    F.concat_ws(" ", F.slice(arr, st + 1, chunk_tokens)).alias(
                        "chunk_text"
                    ),
                    F.least(n - st, F.lit(chunk_tokens))
                    .cast("long")
                    .alias("n_chunk_tokens"),
                ),
            ),
        ).otherwise(F.array().cast(
            "array<struct<chunk_start:bigint,chunk_text:string,n_chunk_tokens:bigint>>"
        ))

    return (
        spread(df).select(F.col(id_col), _staged(toks, chunks).alias("__cs"))
        .select(id_col, F.posexplode("__cs").alias("chunk_idx", "c"))
        .select(
            id_col,
            "chunk_idx",
            F.col("c.chunk_start").alias("chunk_start"),
            F.col("c.n_chunk_tokens").alias("n_chunk_tokens"),
            F.col("c.chunk_text").alias("chunk_text"),
        )
    )
