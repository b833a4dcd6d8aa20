"""Text-analysis column functions for large-scale corpus pipelines.

All built on JVM-side ``pyspark.sql.functions`` (no Python UDFs): these run
inside whole-stage codegen and scale linearly with partitions — the hot
path for a 100 TB documents table is a pure map stage, no shuffle.

Operators: tokenization, token/char stats, stopword ratio, quality score,
n-gram heuristic language ID, document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small English stopword core used by the quality/lang-id heuristics.
# Deliberately tiny and fixed so the DuckDB oracle can state the same list.
EN_STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")

# Per-language stopword cores for the multi-class language ID. Fixed tiny
# lists (same reproducibility rationale); a char-n-gram profile model
# slots into the same operator shape.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": EN_STOPWORDS,
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf"),
    "es": ("el", "la", "los", "las", "y", "es", "un", "una", "que", "por"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "que", "pour", "dans"),
    "zh": ("的", "是", "了", "在", "和", "有", "我", "不", "这", "他"),
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (single-space corpus convention)."""
    return F.split(F.trim(text), " ")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def char_count(text: Column | str) -> Column:
    return F.length(text)


def stopword_count(text: Column | str, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    toks = tokens(text)
    arr = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, F.lower(t))))


def stopword_ratio(text: Column | str, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    return stopword_count(text, stopwords) / token_count(text)


def avg_token_len(text: Column | str) -> Column:
    """Mean characters per token — a cheap fluency signal."""
    toks = tokens(text)
    return F.aggregate(
        toks, F.lit(0).cast("double"), lambda acc, t: acc + F.length(t)
    ) / F.size(toks)


def quality_score(text: Column | str) -> Column:
    """Composite quality in [0,1]: blends token count (saturating at 64),
    stopword ratio (fluency proxy) and mean token length sanity (2..12).

    Weights are fixed so the score is deterministic and SQL-expressible.
    """
    tc = token_count(text)
    sat = F.least(tc / F.lit(64.0), F.lit(1.0))
    sw = stopword_ratio(text)
    atl = avg_token_len(text)
    len_ok = F.when((atl >= 2.0) & (atl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    return F.round(0.4 * sat + 0.4 * F.least(sw * F.lit(4.0), F.lit(1.0)) + 0.2 * len_ok, 4)


def lang_id(text: Column | str) -> Column:
    """Heuristic language ID: English if the fixed stopword core covers
    ≥8% of tokens, else 'other'. (A real n-gram model plugs in the same
    column slot; the contract — pure column expression, no UDF — holds.)
    """
    return F.when(stopword_ratio(text) >= 0.08, F.lit("en")).otherwise(F.lit("other"))


def lang_id_multi(text: Column | str, min_score: float = 0.04) -> Column:
    """Multi-class language ID: argmax of per-language stopword coverage,
    'other' when nothing clears ``min_score``. Deterministic tie-break by
    language code order (sorted), so the oracle can state the same rule.

    Cost shape: the token array is bound ONCE as a lambda variable (the
    single-element ``transform`` is Catalyst's let-binding) and the
    argmax is ``array_max`` over per-language (score, priority, lang)
    structs, so each language's coverage filter — and the tokenizing
    regex split — evaluates exactly once per row. The previous chained
    CASE formulation re-evaluated nested score expressions per branch
    (measured ~3× on the lang-id queries at sf0.1). Ties: struct
    comparison falls through to ``-index``, picking the FIRST language
    in sorted order, matching the oracle's CASE order; the 'other'
    sentinel carries score==min_score with the lowest priority, so a
    language AT the threshold still wins (>= semantics)."""

    def argmax(toks: Column) -> Column:
        n = F.size(toks)
        cands = []
        for i, lang in enumerate(sorted(LANG_STOPWORDS)):
            arr = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
            cov = F.size(
                F.filter(toks, lambda t: F.array_contains(arr, F.lower(t)))  # noqa: B023
            ) / n
            cands.append(F.struct(
                cov.alias("s"), F.lit(-i).alias("p"), F.lit(lang).alias("l")
            ))
        cands.append(F.struct(
            F.lit(float(min_score)).alias("s"), F.lit(-99).alias("p"),
            F.lit("other").alias("l"),
        ))
        return F.array_max(F.array(*cands))["l"]

    return F.transform(F.array(tokens(text)), argmax)[0]


def fingerprint(text: Column | str) -> Column:
    """Canonical document fingerprint: md5 of lowercased,
    whitespace-collapsed text. Stable across engines (md5 is bit-exact),
    used as the exact-dedup key at scale."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


def bpe_ish_token_count(text: Column | str) -> Column:
    """Sub-word-ish token count: alphanumeric runs + each punctuation
    mark counted separately (the regex approximation of a BPE
    pre-tokenizer; the real tokenizer slots into the same column)."""
    return F.regexp_count(
        F.col(text) if isinstance(text, str) else text,
        F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"),
    )


def rolling_hash(text: Column | str, mod: int = 2147483647) -> Column:
    """Karp-Rabin rolling hash over the character stream
    (acc*31 + codepoint, mod 2^31-1) — the order-sensitive fingerprint
    complement to the md5 set-style fingerprint. Pure codegen fold."""
    chars = F.filter(
        F.split(F.col(text) if isinstance(text, str) else text, ""),
        lambda c: c != "",
    )
    return F.aggregate(
        F.transform(chars, lambda c: F.ascii(c)),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % F.lit(mod).cast("long"),
    )


def shingles(text: Column | str, k: int = 3) -> Column:
    """Word k-shingles as an array<string> — the MinHash/Jaccard unit.

    Built with sequence+transform (codegen) rather than a UDF: positions
    1..n-k+1 each yield the k-token slice joined by spaces. The token
    array is let-bound once per row (single-element ``transform``, the
    lang_id_multi discipline): referencing ``tokens(text)`` directly in
    the position lambda re-runs the split PER POSITION — O(tokens²)
    chars per document across the whole dedup family (r9: the paired
    sf0.1 bench rows over this helper dropped 25-45%, e.g.
    dedup_ngram_jaccard_pairs 2.70 s → 1.88 s).
    """

    def mk(toks: Column) -> Column:
        n = F.size(toks)
        return F.transform(
            F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        )

    return F.transform(F.array(tokens(text)), mk)[0]
