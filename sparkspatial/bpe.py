"""BPE merge training (Sennrich et al. 2016) with a distributed word count.

The classic byte-pair-encoding vocabulary construction: start from
characters, repeatedly merge the most frequent adjacent symbol pair.
The corpus-scale work happens EXACTLY ONCE: the word-frequency count,
one combiner-friendly shuffle over the token stream. The merge loop
then runs in the driver over the collected (word, weight) table, which
is 10^5-10^7 rows regardless of corpus size, updating pair counts
incrementally for the words each merge touches. Training runs the word
count's Spark jobs and no more, however many merges are asked for.

Each merge's arg-max pair depends on the previous merge (merging
(a, b) creates pairs (x, ab) and (ab, y) whose counts can beat every
remaining candidate), so rounds cannot be batched; a per-round Spark
aggregate would cost one job per merge.

Pinned against a pure-Python reference implementation of the textbook
algorithm (:func:`bpe_reference`) in tests/test_pipeline_ops.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import norm_text_sql

__all__ = ["word_counts", "bpe_train", "bpe_reference"]

END = "</w>"  # end-of-word marker (standard BPE)


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, weight) corpus word frequencies — the single
    corpus-sized stage of BPE training."""
    norm = norm_text_sql(text_col, "spark")
    return (docs
            .select(F.explode(F.split(F.expr(norm), " ")).alias("word"))
            .where(F.col("word") != "")
            .groupBy("word").agg(F.count(F.lit(1)).alias("weight")))


def bpe_reference(word_weights: dict, n_merges: int) -> list:
    """Pure-Python textbook BPE (the pytest oracle): same greedy
    merge, same (count desc, pair asc) tie order."""
    vocab = {w: list(w) + [END] for w in word_weights}
    rules = []
    for _ in range(n_merges):
        counts: dict = {}
        for w, syms in vocab.items():
            wt = word_weights[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + wt
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), n = best
        if n < 2:
            break
        rules.append((a, b, n))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == a
                        and syms[i + 1] == b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return rules


def bpe_train(docs: DataFrame, n_merges: int,
              text_col: str = "text") -> list:
    """Learn up to `n_merges` BPE merge rules from the corpus.

    Returns [(sym_a, sym_b, weight)] in merge order and stops early
    when no pair repeats. The word count runs distributed once; its
    (word, weight) table, not the corpus, is collected to the driver,
    where the merge loop runs. A 10^7-word vocab is hundreds of MB of
    driver memory, and 32k merge rounds take seconds there instead of
    32k Spark jobs. Same greedy merge and (count desc, pair asc) tie
    order as :func:`bpe_reference` (pytest-pinned).
    """
    wc = {r.word: r.weight
          for r in word_counts(docs, text_col).collect()}
    return _train_incremental(wc, n_merges)


def _train_incremental(word_weights: dict, n_merges: int) -> list:
    """Textbook-greedy BPE over a word-weight table with INCREMENTAL
    pair-count updates: each round touches only the words containing
    the merged pair, so total work is O(sum of affected-word lengths)
    per round instead of a full vocabulary recount (bpe_reference's
    O(vocab chars) per round — identical output, pinned in tests)."""
    words = list(word_weights)
    syms = [list(w) + [END] for w in words]
    weights = [word_weights[w] for w in words]
    counts: dict = {}
    where: dict = {}   # pair -> set of word indices containing it
    for i, s in enumerate(syms):
        for j in range(len(s) - 1):
            p = (s[j], s[j + 1])
            counts[p] = counts.get(p, 0) + weights[i]
            where.setdefault(p, set()).add(i)
    rules = []
    for _ in range(n_merges):
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), n = best
        if n < 2:
            break
        rules.append((a, b, n))
        for i in sorted(where.get((a, b), ())):
            s, w = syms[i], weights[i]
            # remove this word's old pair contributions
            for j in range(len(s) - 1):
                p = (s[j], s[j + 1])
                counts[p] -= w
                if counts[p] <= 0:
                    del counts[p]
                ws = where.get(p)
                if ws is not None:
                    ws.discard(i)
                    if not ws:
                        del where[p]
            # greedy left-to-right merge (same as bpe_reference)
            out, j = [], 0
            while j < len(s):
                if j + 1 < len(s) and s[j] == a and s[j + 1] == b:
                    out.append(a + b)
                    j += 2
                else:
                    out.append(s[j])
                    j += 1
            syms[i] = out
            for j in range(len(out) - 1):
                p = (out[j], out[j + 1])
                counts[p] = counts.get(p, 0) + w
                where.setdefault(p, set()).add(i)
    return rules
