"""BPE tokenizer training as DataFrame iterations.

Byte-pair encoding (Sennrich et al. 2016, "Neural Machine Translation of
Rare Words with Subword Units" — public algorithm) learns a merge table
by repeatedly fusing the most frequent adjacent symbol pair. The trainer
here follows the same discipline as the IVF k-means quantizer
(`operators/similarity.py::kmeans_centroids`): every iteration is
DataFrame ops over the *distinct-token* vocabulary table — which is
orders of magnitude smaller than the corpus — and the only driver-side
state is the model itself (one merge pair per iteration).

100 TB shape:
- The corpus is scanned ONCE (token hash agg with map-side partials →
  (token, freq) vocabulary). All iterations run on the vocabulary.
- Each iteration: one explode+agg over vocab rows for pair counts, a
  1-row TakeOrdered collect (the argmax pair), and a codegen'd fold
  rewriting the symbol arrays. `pin` truncates lineage so
  nested-fold expressions don't stack across iterations.
- Applying a learned merge table to the corpus (`segment_tokens`) is a
  pure map stage — n_merges chained folds, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rust_cdc_spark.operators.ranks import pin


def _apply_merge(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right merge of adjacent (left, right) symbol pairs
    — one array fold, entirely codegen. Overlaps resolve leftmost-first
    ('a a a' under merge (a,a) → ['aa','a']), matching the reference
    algorithm's scan order."""
    merged = left + right
    return F.aggregate(
        syms,
        F.expr("cast(array() as array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.lit(merged)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over the vocabulary, weighted by token
    frequency. Counts every adjacent position (overlaps included), as
    the reference algorithm does."""
    return (
        vocab.filter(F.size("syms") >= 2)
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1),"
                    " i -> struct(syms[i-1] AS l, syms[i] AS r))"
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("freq").alias("n"))
    )


def build_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus → (token, freq, syms) vocabulary: the single corpus-wide
    scan. Tokens start as character symbol arrays."""
    return (
        docs.select(
            F.explode(
                F.expr(f"transform(split(trim({text_col}), ' '), t -> lower(t))")
            ).alias("token")
        )
        .filter(F.col("token") != "")  # consecutive-space artifact: list('') is [] in the reference algorithm, but split('','') is [''] here
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .select("token", "freq", F.split("token", "").alias("syms"))
    )


def learn_bpe_merges(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    min_freq: int = 2,
) -> list[tuple[str, str, int]]:
    """Learn up to ``n_merges`` BPE merges; returns [(left, right,
    pair_freq), ...] in merge order. Ties break on (freq desc, left,
    right) so training is deterministic and engine-stable. Stops early
    when the best pair's frequency drops below ``min_freq``."""
    vocab = pin(build_vocab(docs, text_col))
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        best = (
            _pair_counts(vocab)
            .orderBy(F.col("n").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        if not best or best[0]["n"] < min_freq:
            break
        left, right, n = best[0]["l"], best[0]["r"], int(best[0]["n"])
        merges.append((left, right, n))
        # rewrite symbol arrays; checkpoint keeps each iteration's fold
        # depth at 1 and bounds the plan (vocab is model-scale data)
        vocab = pin(vocab.withColumn(
            "syms", _apply_merge(F.col("syms"), left, right)
        ))
    return merges


def segment_tokens(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    collapse_distinct: bool = True,
) -> DataFrame:
    """Apply a learned merge table to the corpus: per document, the BPE
    segmentation of each token.

    With ``collapse_distinct`` (default) the merge folds run over the
    DISTINCT token vocabulary and join back to the token instances —
    Zipf makes the vocabulary orders of magnitude smaller than the
    corpus, so the fold cost stops scaling with corpus size (measured
    6.6 s → 0.9 s at sf0.1; the instance-level path was the only op in
    its batch scaling linearly at 10×). The join is a plain equi-join on
    ``token`` — AQE broadcasts it while the vocab fits and shuffles
    when it doesn't, both fine at 100 TB. ``collapse_distinct=False``
    keeps the pure map shape (folds inline per instance, no shuffle)."""
    syms = F.split(F.col("token"), "")
    for left, right, _ in merges:
        syms = _apply_merge(syms, left, right)
    instances = docs.select(
        "doc_id",
        F.explode(
            F.expr(f"transform(split(trim({text_col}), ' '), t -> lower(t))")
        ).alias("token"),
    ).filter(F.col("token") != "")  # same empty-token rule as build_vocab
    if not collapse_distinct:
        return instances.select("doc_id", "token", syms.alias("pieces"))
    vocab = instances.select("token").distinct().select(
        "token", syms.alias("pieces")
    )
    return instances.join(vocab, "token").select("doc_id", "token", "pieces")
