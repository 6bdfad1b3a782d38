"""Distributed BPE merge training (Sennrich/Haddow/Birch, "Neural
Machine Translation of Rare Words with Subword Units", ACL 2016) —
the tokenizer-training stage of an LLM data pipeline.

The scale insight: BPE pair statistics live on the VOCABULARY (distinct
words weighted by frequency), not the corpus — one corpus-wide
groupBy(word) up front, then every merge iteration runs on a frame of
|V| rows (10^5-10^7) regardless of corpus size. Each iteration is:
pair-explode -> ONE map-side-combinable groupBy(pair) weighted count ->
top-1 via TakeOrdered (never a global sort) -> the winning pair
re-enters as string literals -> rewrite symbols with a plain string
replace. Merging is inherently sequential (merge i+1's counts depend on
merge i) — the per-iteration work is what can and does stay distributed.

Representation trick (engine-portable, pure codegen): every symbol is
WRAPPED in its own US (0x1f) delimiters and the wrappers concatenated —
word 'abc' renders '|a||b||c|' (| = 0x1f). An adjacent-pair merge is
then exactly `replace(s, |l||r|, |lr|)`: the pattern carries BOTH
symbols' full wrappers, so it can only ever match two whole symbols
(a bare suffix/prefix of a longer merged symbol has a letter, not a
delimiter, at the boundary — '|ab||c|' does NOT match '|b||c|'), and
the replacement re-wraps the merged symbol so neighbors keep theirs
('|x||a||a||a||a||y|' + merge(a,a) -> '|x||aa||aa||y|'). Both Spark's
and DuckDB's replace scan left-to-right non-overlapping, which is
precisely BPE's greedy merge order ('|a||a||a|' -> '|aa||a|'). No
arrays are rebuilt; the hot loop is string search/replace in codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hof import staged
from .textops import tokens

SEP = "\x1f"  # US control char: never in printable text; guarded below
_SEP_RX = "\x1f"  # literal, regex-safe
_CHAR_SPLIT_RX = r"(?!^)(?=.)"  # split between chars, no trailing ''
# bpe_train truncates its vocab plan every this many merges: each merge
# stacks ONE replace on it (linear growth, no doubled reference), so a
# fixed cadence bounds the plan while keeping one job per merge
CHECKPOINT_EVERY = 4


def _char_syms(word: Column) -> Column:
    """characters of `word`, each wrapped in SEP delimiters (the
    initial symbol state): 'abc' -> SEP a SEP SEP b SEP SEP c SEP."""
    return F.concat(
        F.lit(SEP), F.concat_ws(SEP + SEP, F.split(word, _CHAR_SPLIT_RX)), F.lit(SEP)
    )


def _word_freq(df: DataFrame, text_col: str, lowercase: bool) -> DataFrame:
    t = F.col(text_col)
    toks = tokens(F.lower(t)) if lowercase else tokens(t)
    return (
        df.select(F.explode(toks).alias("word"))
        # a word containing the separator would corrupt the symbol
        # encoding — drop loudly-documented rather than silently merge
        .where((F.col("word") != "") & (~F.col("word").contains(SEP)))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _symbols(syms: Column) -> Column:
    """the symbol array of a wrapped string: strip the outer SEPs,
    split on the double-SEP boundary."""
    return F.split(
        F.substring(syms, 2, F.length(syms) - 2), _SEP_RX + _SEP_RX
    )


def _pairs(syms: Column) -> Column:
    """adjacent symbol pairs of a wrapped symbol string; empty for
    single-symbol words (slice of length size-1 = 0)."""
    return staged(
        _symbols(syms),
        lambda arr: F.zip_with(
            F.slice(arr, 1, F.size(arr) - 1),
            F.slice(arr, 2, F.size(arr) - 1),
            lambda lft, rgt: F.struct(lft.alias("l"), rgt.alias("r")),
        ),
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 4,
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """Learn `n_merges` BPE merges: (merge_idx, left_sym, right_sym,
    pair_freq), merge_idx ascending in learning order. Ties in pair
    frequency break lexicographically on (left, right) — counts are
    integral sums, so the whole procedure is exactly reproducible
    across engines (the DuckDB oracle unrolls the same iterations).

    Stops early (fewer rows than n_merges) if the vocabulary runs out
    of adjacent pairs — a truncated merges table is the honest result,
    never padding.

    The vocab frame is localCheckpoint'ed every CHECKPOINT_EVERY
    merges: each merge stacks a replace on the plan. The winning pair
    itself is collected per merge (one TakeOrdered job — it is one row
    by construction) and re-enters the rewrite as string literals."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1, got %r" % n_merges)
    from gogstash_spark.functions.partitions import spread

    # the corpus-wide word-frequency aggregate feeds EVERY merge
    # iteration's lineage — persist it once so each merge reruns only
    # its replace chain + pair stats over the |V|-row cache, not the
    # corpus explode+groupBy. The cache is released before returning
    # (the merges table is literal rows, independent of it).
    vocab0 = spread(
        _word_freq(df, text_col, lowercase).select(
            _char_syms(F.col("word")).alias("s"), "freq"
        )
    ).persist()
    vocab = vocab0
    merges: list[tuple] = []
    for i in range(n_merges):
        # ONE driver round-trip per merge: TakeOrdered collects the
        # winning pair directly; the 1-row result then rides back into
        # the rewrite as string LITERALS. The previous shape spent two
        # extra jobs per merge (an eager localCheckpoint of the winner
        # plus its count) and a broadcast build for the crossJoin —
        # pure per-iteration overhead at any scale, since the winner is
        # one row by construction. Values are identical: replace() is
        # literal either way.
        top = (
            vocab.select("freq", F.explode(_pairs(F.col("s"))).alias("p"))
            .groupBy(
                F.col("p.l").alias("left_sym"), F.col("p.r").alias("right_sym")
            )
            .agg(F.sum("freq").alias("pair_freq"))
            .orderBy(F.desc("pair_freq"), F.asc("left_sym"), F.asc("right_sym"))
            .limit(1)
            .collect()
        )
        if not top:  # vocabulary fully merged — stop honestly
            break
        left, right, pf = top[0]["left_sym"], top[0]["right_sym"], top[0]["pair_freq"]
        merges.append((i, left, right, pf))
        vocab = vocab.select(
            F.replace(
                F.col("s"),
                F.lit(SEP + left + SEP + SEP + right + SEP),
                F.lit(SEP + left + right + SEP),
            ).alias("s"),
            "freq",
        )
        if (i + 1) % CHECKPOINT_EVERY == 0 and i + 1 < n_merges:
            vocab = vocab.localCheckpoint(eager=True)
    vocab0.unpersist()
    return df.sparkSession.createDataFrame(
        merges, "merge_idx int, left_sym string, right_sym string, pair_freq bigint"
    )


def bpe_apply(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """Tokenize documents with a learned merges table: (id, bpe_tokens
    array<string>, n_bpe_tokens). Merges apply within words, in
    learning order — the standard BPE inference rule.

    The merges table is collected driver-side: it is n_merges rows by
    construction (a tokenizer model, not data — the same size class as
    mixture_weights' solve), and each merge becomes one codegen
    `replace` in a fixed expression chain, so the corpus-side plan is a
    pure per-row projection: no join, no shuffle, plan size O(n_merges).
    """
    rows = sorted(merges.collect(), key=lambda r: r["merge_idx"])

    def word_syms(w: Column) -> Column:
        s = _char_syms(w)
        for m in rows:
            s = F.replace(
                s,
                F.lit(SEP + m["left_sym"] + SEP + SEP + m["right_sym"] + SEP),
                F.lit(SEP + m["left_sym"] + m["right_sym"] + SEP),
            )
        return _symbols(s)

    t = F.col(text_col)
    toks = tokens(F.lower(t)) if lowercase else tokens(t)
    out_toks = F.flatten(
        F.transform(
            F.filter(toks, lambda w: (w != "") & (~w.contains(SEP))), word_syms
        )
    )
    return df.select(
        F.col(id_col),
        out_toks.alias("bpe_tokens"),
    ).withColumn("n_bpe_tokens", F.size("bpe_tokens").cast("long"))
