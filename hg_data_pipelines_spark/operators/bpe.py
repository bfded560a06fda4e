"""Distributed BPE merge training (SURVEY.md X4 extension).

Byte-pair-encoding vocabularies are trained by repeatedly merging the
most frequent adjacent symbol pair — the canonical subword-tokenizer
build step for an LLM corpus. The classic trainer is a single-machine
loop over a word-frequency dict; this is the same algorithm restated for
Spark's execution model:

- The corpus collapses to a DISTINCT word-frequency table first (one
  shuffle). All later work is proportional to |vocabulary of words|,
  not corpus size — the compression that makes 100 TB trainable.
- Each round: one aggregation over exploded adjacent pairs (map-side
  combinable, weighted by word count) finds the top pair; the ONLY
  driver traffic is that single winning row (the same bounded-collect
  class as IVF centroids). The merge itself is a Catalyst ``aggregate``
  fold over each word's symbol array — leftmost-non-overlapping,
  executed JVM-side, no Python in the loop.
- Lineage is truncated per round (``cut_lineage``) exactly like the
  other fixed-point operators; determinism comes from the total order
  (count DESC, left, right) on pair selection.

Not SQL-expressible (iterative argmax + fold), so the declared query is
rows-only; tests/test_bpe.py pins the merge sequence against a pure
Python reference implementation on real fixture text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import cut_lineage


def _word_freq(docs: DataFrame, text_col: str) -> DataFrame:
    """Corpus → distinct (word, weight) with initial char-symbol arrays."""
    words = docs.select(
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    freq = words.groupBy("word").agg(F.count(F.lit(1)).alias("weight"))
    return freq.select(
        "word",
        "weight",
        # split('') yields a trailing empty string — drop empties so the
        # initial symbols are exactly the characters
        F.expr("filter(split(word, ''), s -> s != '')").alias("symbols"),
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    pairs = vocab.select(
        "weight",
        F.explode(
            F.expr(
                "CASE WHEN size(symbols) < 2 THEN array()"
                " ELSE transform(sequence(1, size(symbols) - 1),"
                " i -> struct(element_at(symbols, i) as left,"
                "            element_at(symbols, i + 1) as right)) END"
            )
        ).alias("p"),
    )
    return pairs.groupBy("p.left", "p.right").agg(
        F.sum("weight").alias("n")
    )


def _merge_expr(left: str, right: str):
    """Leftmost-non-overlapping merge of (left,right) via an aggregate
    fold: append each symbol, merging it into the previous one when the
    tail matches — the merged token is a new longer string, so it cannot
    cascade within the same pass.

    Tokens are corpus-derived, so they are passed as ``F.lit`` column
    literals rather than spliced into a SQL string: a token containing a
    quote, backslash, or any other metacharacter can never reach the
    Catalyst parser as expression text.
    """
    lit_l, lit_r = F.lit(left), F.lit(right)
    merged = F.lit(left + right)
    return F.aggregate(
        F.col("symbols"),
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == lit_l)
            & (s == lit_r),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    min_pair_count: int = 2,
) -> DataFrame:
    """Train ``n_merges`` BPE merges → (rank, left, right, merged, n).

    Stops early when no pair reaches ``min_pair_count``. Deterministic:
    pair selection orders by (count DESC, left, right).
    """
    spark = docs.sparkSession
    vocab = cut_lineage(_word_freq(docs, text_col))
    merges = []
    for rank in range(n_merges):
        top = (
            _pair_counts(vocab)
            .orderBy(F.desc("n"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < min_pair_count:
            break
        left, right, n = top[0]["left"], top[0]["right"], top[0]["n"]
        merges.append((rank, left, right, left + right, n))
        vocab = cut_lineage(
            vocab.withColumn("symbols", _merge_expr(left, right))
        )
    return spark.createDataFrame(
        merges, "rank int, left string, right string, merged string, n bigint"
    )


def bpe_train_reference(texts: list[str], n_merges: int = 10, min_pair_count: int = 2):
    """Pure-Python reference trainer (test oracle) — same contract."""
    from collections import Counter

    freq = Counter(w for t in texts for w in t.strip().split() if w)
    vocab = {w: [c for c in w] for w in freq}
    merges = []
    for rank in range(n_merges):
        counts: Counter = Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += freq[w]
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (left, right), n = best
        if n < min_pair_count:
            break
        merges.append((rank, left, right, left + right, n))
        for w, syms in vocab.items():
            out: list[str] = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            vocab[w] = out
    return merges


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply trained merges → per-document BPE token counts.

    Encoding applies every merge in rank order as ``len(merges)`` chained
    aggregate folds — over the DISTINCT word table, not per occurrence:
    the fold cost is ∝ |word vocabulary| (the same compression that makes
    training 100 TB-trainable), and per-document counts come from one
    equi-join of the corpus word stream against the vocabulary-sized
    (word → n_sym) map (broadcast on most clusters; AQE splits the
    stopword skew otherwise). Output: (id, n_words, n_bpe_tokens).
    """
    words = docs.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    enc = words.select("word").distinct().withColumn(
        "symbols", F.expr("filter(split(word, ''), s -> s != '')")
    )
    for left, right in merges:
        enc = enc.withColumn("symbols", _merge_expr(left, right))
    wordtok = enc.select("word", F.size("symbols").alias("n_sym"))
    return words.join(wordtok, "word").groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_sym").cast("bigint").alias("n_bpe_tokens"),
    )


def bpe_encode_reference(
    texts: dict[int, str], merges: list[tuple[str, str]]
) -> dict[int, tuple[int, int]]:
    """Pure-Python encode oracle: id → (n_words, n_bpe_tokens)."""
    out = {}
    for i, t in texts.items():
        ws = [w for w in t.strip().split() if w]
        total = 0
        for w in ws:
            syms = list(w)
            for left, right in merges:
                folded: list[str] = []
                for s in syms:
                    if folded and folded[-1] == left and s == right:
                        folded[-1] = left + right
                    else:
                        folded.append(s)
                syms = folded
            total += len(syms)
        out[i] = (len(ws), total)
    return out
