"""Corpus-curation queries: PII scrubbing, repetition scoring, passage
dedup, benchmark contamination — the filters a large-scale training-data
pipeline runs before (and after) the dedup family in ``queries/llm.py``.

Design rule (same as llm.py): pure column expressions or key-partitioned
shuffles, md5 for any cross-engine-checked hash, no Python in the hot
path. The synthetic corpus is whitespace-separated word soup, so ops
that need structure the corpus lacks synthesize it deterministically
from doc_id (PII injection) or fixed-width chunking (passages) — the
plumbing and plan shape are the real thing; only the text is fake.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rust_cdc_spark.operators.ranks import pin
from rust_cdc_spark.queries import register
from rust_cdc_spark.sources.tables import load_table

# ── PII patterns (RE2 ∩ java.util.regex — identical semantics in Spark
#    and DuckDB; applied in a fixed order since scrubs overlap) ──────────
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?\d{1,2}-\d{3}-\d{3}-\d{4}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

# Deterministic PII injection: the corpus has no real PII, so stamp each
# document with synthetic email/phone/ip derived from doc_id. Spark and
# the oracle build the identical augmented text, so the scrub + counts
# verify value-for-value.
_AUG_SPARK = (
    "concat(text, ' contact user', doc_id, '@mail.example.com or "
    "+1-555-000-1234 at 10.0.', doc_id % 256, '.7')"
)
_AUG_SQL = (
    "text || ' contact user' || doc_id || '@mail.example.com or "
    "+1-555-000-1234 at 10.0.' || (doc_id % 256) || '.7'"
)


def scrub_pii(col):
    """Email → phone → IPv4 masking, single codegen expression chain."""
    out = F.regexp_replace(col, PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, PII_PHONE, "<PHONE>")
    return F.regexp_replace(out, PII_IPV4, "<IP>")


@register(
    "text_pii_scrub",
    oracle=f"""
    WITH aug AS (SELECT doc_id, {_AUG_SQL} AS t FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{PII_EMAIL}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{PII_PHONE}')) AS INT) AS n_phones,
           CAST(len(regexp_extract_all(
               regexp_replace(regexp_replace(t, '{PII_EMAIL}', '<EMAIL>', 'g'),
                              '{PII_PHONE}', '<PHONE>', 'g'),
               '{PII_IPV4}')) AS INT) AS n_ips,
           md5(regexp_replace(regexp_replace(regexp_replace(
               t, '{PII_EMAIL}', '<EMAIL>', 'g'),
               '{PII_PHONE}', '<PHONE>', 'g'),
               '{PII_IPV4}', '<IP>', 'g')) AS scrubbed_fp
    FROM aug
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub + counts: map-only codegen regex chain, no shuffle, no
    UDF — at 100 TB this is a pure scan→project stage. Counts are taken
    on the pre-scrub text (IPs counted after email/phone masking so the
    phone's digit runs can't alias as addresses); the scrubbed text is
    emitted as an md5 fingerprint so the oracle checks the actual
    replacement output, not just the counts."""
    docs = load_table(spark, "documents", sf_dir)
    aug = docs.select("doc_id", F.expr(_AUG_SPARK).alias("t"))
    half = F.regexp_replace(
        F.regexp_replace("t", PII_EMAIL, "<EMAIL>"), PII_PHONE, "<PHONE>"
    )
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(PII_EMAIL), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(PII_PHONE), 0)).alias("n_phones"),
        F.size(F.regexp_extract_all(half, F.lit(PII_IPV4), 0)).alias("n_ips"),
        F.md5(scrub_pii(F.col("t"))).alias("scrubbed_fp"),
    )


_WORDS_SPARK = "split(trim(text), ' ')"
_WORDS_SQL = "string_split(trim(text), ' ')"


@register(
    "text_repetition_score",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS words FROM documents),
    tri AS (
        SELECT doc_id,
               list_transform(range(1, len(words) - 1),
                   i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
                   AS trigrams
        FROM w WHERE len(words) >= 3
    ),
    big AS (
        SELECT doc_id, words[i] || ' ' || words[i+1] AS bigram
        FROM w, LATERAL (SELECT unnest(range(1, len(words))) AS i)
        WHERE len(words) >= 2
    ),
    topb AS (
        SELECT doc_id,
               max(n) AS top_n, sum(n) AS total_n
        FROM (SELECT doc_id, bigram, count(*) AS n FROM big GROUP BY 1, 2)
        GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.trigrams) AS INT) AS n_trigrams,
           round(1.0 - CAST(len(list_distinct(t.trigrams)) AS DOUBLE)
                 / len(t.trigrams), 4) AS dup_trigram_frac,
           round(CAST(topb.top_n AS DOUBLE) / topb.total_n, 4)
               AS top_bigram_frac
    FROM tri t JOIN topb USING (doc_id)
    """,
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals for quality filtering (the Gopher/RefinedWeb
    family): duplicated-trigram fraction and most-common-bigram fraction.

    Two deliberately different shapes: the trigram fraction is a pure
    higher-order-function map stage (no shuffle — array built and
    deduped per row inside codegen); the top-bigram fraction explodes
    and aggregates, a doc_id-keyed shuffle whose per-key cardinality is
    bounded by document length, so it scales by adding executors."""
    docs = load_table(spark, "documents", sf_dir)
    w = docs.select("doc_id", F.expr(_WORDS_SPARK).alias("words")).filter(
        F.size("words") >= 3
    )
    tri = w.select(
        "doc_id",
        F.expr(
            "transform(sequence(0, size(words) - 3),"
            " i -> concat_ws(' ', words[i], words[i+1], words[i+2]))"
        ).alias("trigrams"),
    )
    hof = tri.select(
        "doc_id",
        F.size("trigrams").alias("n_trigrams"),
        F.round(
            1.0 - F.size(F.array_distinct("trigrams")) / F.size("trigrams"), 4
        ).alias("dup_trigram_frac"),
    )
    bigrams = w.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(words) - 2),"
                " i -> concat_ws(' ', words[i], words[i+1]))"
            )
        ).alias("bigram"),
    )
    counts = bigrams.groupBy("doc_id", "bigram").count()
    topb = counts.groupBy("doc_id").agg(
        F.max("count").alias("top_n"), F.sum("count").alias("total_n")
    )
    return hof.join(topb, "doc_id").select(
        "doc_id",
        "n_trigrams",
        "dup_trigram_frac",
        F.round(F.col("top_n") / F.col("total_n"), 4).alias("top_bigram_frac"),
    )


_PASSAGE_WORDS = 10


@register(
    "dedup_passage_exact",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS words FROM documents),
    p AS (
        SELECT doc_id,
               md5(array_to_string(
                   words[(i*{_PASSAGE_WORDS}+1):((i+1)*{_PASSAGE_WORDS})], ' '
               )) AS fp
        FROM w, LATERAL (
            SELECT unnest(range(0,
                CAST(ceil(len(words) / {_PASSAGE_WORDS}.0) AS BIGINT))) AS i)
    )
    SELECT fp,
           min(doc_id) AS canonical_doc,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM p
    GROUP BY fp
    HAVING count(*) > 1
    """,
)
def dedup_passage_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup (the C4 line-dedup shape): documents
    chunk into fixed-width passages (real corpora split on blank lines —
    the soup corpus has none, so fixed {_PASSAGE_WORDS}-word windows
    stand in), each passage fingerprints to md5, and a hash groupBy
    finds passages appearing in more than one place. Map-side partial
    agg means the shuffle carries one row per distinct passage; at
    100 TB this is the same plan as exact doc dedup, just ~10× the key
    count."""
    docs = load_table(spark, "documents", sf_dir)
    w = docs.select("doc_id", F.expr(_WORDS_SPARK).alias("words"))
    passages = w.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(words) / "
                f"{_PASSAGE_WORDS}.0) as int) - 1),"
                f" i -> concat_ws(' ', slice(words, i*{_PASSAGE_WORDS}+1,"
                f" {_PASSAGE_WORDS})))"
            )
        ).alias("passage"),
    )
    return (
        passages.select("doc_id", F.md5("passage").alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("canonical_doc"),
            F.count("*").alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


_CONTAM_K = 5  # words per shingle
_BENCH_MOD = 97  # doc_id % 97 == 0 → the stand-in benchmark set


@register(
    "contamination_ngram_overlap",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS words FROM documents),
    sh AS (
        SELECT doc_id,
               md5(array_to_string(words[(i+1):(i+{_CONTAM_K})], ' ')) AS g
        FROM w, LATERAL (
            SELECT unnest(range(0, len(words) - {_CONTAM_K} + 1)) AS i)
        WHERE len(words) >= {_CONTAM_K}
    ),
    bench AS (
        SELECT DISTINCT g FROM sh WHERE doc_id % {_BENCH_MOD} = 0
    ),
    corpus AS (SELECT * FROM sh WHERE doc_id % {_BENCH_MOD} <> 0),
    totals AS (SELECT doc_id, count(*) AS n_grams FROM corpus GROUP BY 1),
    hits AS (
        SELECT c.doc_id, count(*) AS n_contaminated
        FROM corpus c JOIN bench b ON c.g = b.g
        GROUP BY c.doc_id
    )
    SELECT t.doc_id,
           CAST(t.n_grams AS BIGINT) AS n_grams,
           CAST(h.n_contaminated AS BIGINT) AS n_contaminated,
           round(CAST(h.n_contaminated AS DOUBLE) / t.n_grams, 4)
               AS contam_frac
    FROM hits h JOIN totals t USING (doc_id)
    """,
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: which corpus documents share
    {_CONTAM_K}-gram shingles with the eval/benchmark set (stood in by
    doc_id % {_BENCH_MOD} == 0). The benchmark's distinct shingle set is
    tiny relative to the corpus (thousands of eval docs vs billions of
    training docs), so it is broadcast — the corpus side never
    shuffles for the join, only for its per-doc counts. This is the
    standard decontamination pass (GPT-3/PaLM style n-gram overlap)."""
    docs = load_table(spark, "documents", sf_dir)
    w = docs.select("doc_id", F.expr(_WORDS_SPARK).alias("words")).filter(
        F.size("words") >= _CONTAM_K
    )
    sh = w.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(words) - {_CONTAM_K}),"
                f" i -> concat_ws(' ', slice(words, i+1, {_CONTAM_K})))"
            )
        ).alias("gram"),
    ).select("doc_id", F.md5("gram").alias("g"))
    bench = (
        sh.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select("g")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = sh.filter(F.col("doc_id") % _BENCH_MOD != 0)
    # One pass: left-broadcast-join marks contaminated shingles, a single
    # doc_id aggregation counts both totals and hits — no second shuffle,
    # no doc_id⋈doc_id join stage.
    return (
        corpus.join(F.broadcast(bench), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("hit").alias("n_contaminated"),
        )
        .filter(F.col("n_contaminated") > 0)
        .select(
            "doc_id",
            "n_grams",
            "n_contaminated",
            F.round(F.col("n_contaminated") / F.col("n_grams"), 4).alias(
                "contam_frac"
            ),
        )
    )


# ── DSIR importance weights ────────────────────────────────────────────
# Data Selection via Importance Resampling (Xie et al. 2023): score each
# raw document by how much more likely its tokens are under the target
# domain's unigram distribution than under the raw corpus distribution;
# resampling by these weights tilts a web-scale corpus toward the target
# domain without training a classifier.
_DSIR_TARGET = "src0"  # the stand-in target domain (a source slice)


@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, source,
               unnest(list_transform({_WORDS_SQL}, w -> lower(w))) AS token
        FROM documents
    ),
    model AS (
        SELECT token, count(*) AS c_all,
               count(*) FILTER (WHERE source = '{_DSIR_TARGET}') AS c_tgt
        FROM tok GROUP BY token
    ),
    scal AS (
        SELECT sum(c_all) AS t_all, sum(c_tgt) AS t_tgt,
               count(*) AS v
        FROM model
    ),
    scored AS (
        SELECT t.doc_id,
               CAST(round(
                   (ln((m.c_tgt + 1.0) / (s.t_tgt + s.v))
                    - ln((m.c_all + 1.0) / (s.t_all + s.v))) * 1e6)
                 AS BIGINT) AS micro
        FROM tok t JOIN model m USING (token) CROSS JOIN scal s
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(sum(micro) / 1e6, 6) AS dsir_logratio
    FROM scored GROUP BY doc_id
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance weight: Σ_tokens [ln p̂_target(w) −
    ln p̂_raw(w)] with add-one smoothing, target = the '{src0}' source
    slice. A positive weight means the document looks more like the
    target domain than the corpus average.

    Scale shape: ONE token explode feeds a single hash agg that counts
    both distributions at once (conditional sum — no second corpus
    pass); totals and vocab size are one scalar agg over the model,
    broadcast back; instances re-join the model on token (co-keyed
    big-big shuffle join, model never collected) and the per-doc sum is
    over integer micro-units, so cross-engine aggregation order is moot."""
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(f"transform({_WORDS_SPARK}, w -> lower(w))")
        ).alias("token"),
    )
    model = tok.groupBy("token").agg(
        F.count("*").alias("c_all"),
        F.sum(
            F.when(F.col("source") == _DSIR_TARGET, 1).otherwise(0)
        ).alias("c_tgt"),
    )
    scal = model.agg(
        F.sum("c_all").alias("t_all"),
        F.sum("c_tgt").alias("t_tgt"),
        F.count("*").alias("v"),
    )
    logratio = F.log(
        (F.col("c_tgt") + 1.0) / (F.col("t_tgt") + F.col("v"))
    ) - F.log((F.col("c_all") + 1.0) / (F.col("t_all") + F.col("v")))
    scored = (
        tok.join(model, "token")
        .crossJoin(F.broadcast(scal))
        .select(
            "doc_id",
            F.round(logratio * 1e6).cast("bigint").alias("micro"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.round(F.sum("micro") / 1e6, 6).alias("dsir_logratio"),
    )


# ── Sequence-length histogram ──────────────────────────────────────────
_HIST_BIN = 32  # tokens per bucket
_HIST_MAX_BUCKET = 15  # lengths ≥ 480 collapse into the top bucket


@register(
    "doc_length_histogram",
    oracle=f"""
    WITH lens AS (
        SELECT least(CAST(floor(len({_WORDS_SQL}) / {_HIST_BIN}) AS BIGINT),
                     {_HIST_MAX_BUCKET}) AS bucket,
               len({_WORDS_SQL}) AS ntok
        FROM documents
    ),
    total AS (SELECT count(*) AS n FROM lens)
    SELECT CAST(bucket * {_HIST_BIN} AS BIGINT) AS bucket_lo,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ntok) AS BIGINT) AS token_sum,
           round(CAST(count(*) AS DOUBLE) / any_value(t.n), 6) AS doc_frac
    FROM lens CROSS JOIN total t
    GROUP BY bucket
    """,
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram of the corpus ({bin}-token buckets, top
    bucket open-ended) — the dataset-card panel that sizes the packing
    budget (queries/training.pack_sequences) and exposes truncation risk.

    Scale shape: a map-only bucket expression and ONE hash agg with
    map-side partials (≤ 16 groups); the total is a broadcast scalar.
    doc_frac is int ÷ int — bit-identical cross-engine."""
    docs = load_table(spark, "documents", sf_dir)
    lens = docs.select(
        F.least(
            F.floor(F.size(F.expr(_WORDS_SPARK)) / _HIST_BIN),
            F.lit(_HIST_MAX_BUCKET),
        )
        .cast("bigint")
        .alias("bucket"),
        F.size(F.expr(_WORDS_SPARK)).alias("ntok"),
    )
    total = lens.agg(F.count("*").alias("n"))
    return (
        lens.crossJoin(F.broadcast(total))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("ntok").cast("bigint").alias("token_sum"),
            F.round(
                F.count("*").cast("double") / F.any_value("n"), 6
            ).alias("doc_frac"),
        )
        .select(
            (F.col("bucket") * _HIST_BIN).cast("bigint").alias("bucket_lo"),
            "n_docs",
            "token_sum",
            "doc_frac",
        )
    )


# ── Fixed-weight logistic quality classifier ───────────────────────────
# The model-based quality filter shape (fasttext/logistic classifiers in
# CCNet, FineWeb, DCLM): a linear model over cheap text features squashed
# through a sigmoid. Weights are fixed constants here — training is out
# of scope; serving IS the pipeline shape, a pure map stage.
_QLR_STOPS = "('the', 'a', 'of', 'and', 'to')"
_QLR_W = (-3.0, 0.45, 2.0, 0.25, 1.5)  # bias, ln(1+ntok), stop, avglen, uniq


@register(
    "quality_logistic_score",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id,
               len({_WORDS_SQL}) AS ntok,
               CAST(len(list_filter({_WORDS_SQL},
                    w -> lower(w) IN {_QLR_STOPS})) AS DOUBLE)
                   / len({_WORDS_SQL}) AS stop_ratio,
               CAST(list_sum(list_transform({_WORDS_SQL}, w -> len(w)))
                    AS DOUBLE) / len({_WORDS_SQL}) AS avg_len,
               CAST(len(list_distinct({_WORDS_SQL})) AS DOUBLE)
                   / len({_WORDS_SQL}) AS uniq_ratio
        FROM documents
    )
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-({_QLR_W[0]}
                 + {_QLR_W[1]} * ln(1 + ntok)
                 + {_QLR_W[2]} * stop_ratio
                 + {_QLR_W[3]} * avg_len
                 + {_QLR_W[4]} * uniq_ratio))), 6) AS quality_prob,
           (1.0 / (1.0 + exp(-({_QLR_W[0]}
                 + {_QLR_W[1]} * ln(1 + ntok)
                 + {_QLR_W[2]} * stop_ratio
                 + {_QLR_W[3]} * avg_len
                 + {_QLR_W[4]} * uniq_ratio))) >= 0.5) AS keep
    FROM feats
    """,
)
def quality_logistic_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving pass of a logistic quality classifier over cheap codegen
    features (log length, stopword ratio, mean token length, distinct
    ratio) — the model-based filter stage of CCNet/FineWeb-style
    pipelines, with fixed weights standing in for a trained model.

    Scale shape: pure map — every feature is a higher-order array
    expression over the token split, the score is one fused scalar
    expression; zero shuffles, trivially data-parallel at any scale."""
    docs = load_table(spark, "documents", sf_dir)
    w = F.expr(_WORDS_SPARK)
    ntok = F.size(w)
    stop_ratio = (
        F.size(
            F.filter(w, lambda x: F.lower(x).isin("the", "a", "of", "and", "to"))
        ).cast("double")
        / ntok
    )
    avg_len = (
        F.aggregate(
            F.transform(w, lambda x: F.length(x)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double")
        / ntok
    )
    uniq_ratio = F.size(F.array_distinct(w)).cast("double") / ntok
    z = (
        F.lit(_QLR_W[0])
        + _QLR_W[1] * F.log(1 + ntok)
        + _QLR_W[2] * stop_ratio
        + _QLR_W[3] * avg_len
        + _QLR_W[4] * uniq_ratio
    )
    prob = 1.0 / (1.0 + F.exp(-z))
    return docs.select(
        "doc_id",
        F.round(prob, 6).alias("quality_prob"),
        (prob >= 0.5).alias("keep"),
    )


_SW_SQL = "['the','a','an','and','of','to','in','is','it','that']"
_TOKENS_SQL = "string_split(trim(text), ' ')"


@register(
    "dedup_keep_best",
    oracle=f"""
    WITH q AS (
        SELECT doc_id,
               md5(substr(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                          1, 200)) AS fp,
               round(0.4 * least(CAST(len({_TOKENS_SQL}) AS DOUBLE) / 64.0, 1.0)
                     + 0.4 * least(CAST(len(list_filter({_TOKENS_SQL},
                           t -> list_contains({_SW_SQL}, lower(t)))) AS DOUBLE)
                           / len({_TOKENS_SQL}) * 4.0, 1.0)
                     + 0.2 * (CASE WHEN CAST(list_sum(list_transform({_TOKENS_SQL},
                           t -> length(t))) AS DOUBLE) / len({_TOKENS_SQL})
                           BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END),
                     4) AS quality
        FROM documents
    )
    SELECT fp,
           doc_id AS keep_id,
           quality,
           CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS n_copies
    FROM q
    QUALIFY row_number() OVER (
        PARTITION BY fp ORDER BY quality DESC, doc_id
    ) = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix dedup with a keep-best rule: documents sharing the same
    normalized 200-char prefix (shared boilerplate / lead paragraph — a
    real near-dup family in this corpus: 15 multi-doc groups at sf0.01)
    collapse to the HIGHEST-QUALITY copy, not an arbitrary canonical
    rep — the curation policy when duplicates differ in cleaning.

    Scale shape: quality and fingerprint are one codegen map pass; the
    argmax and the group size ride a single fingerprint-keyed window
    shuffle (one exchange total — same budget as plain exact dedup)."""
    from rust_cdc_spark.functions import text as TX

    docs = load_table(spark, "documents", sf_dir)
    scored = docs.select(
        "doc_id",
        F.md5(
            F.substring(
                F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), 1, 200
            )
        ).alias("fp"),
        TX.quality_score("text").alias("quality"),
    )
    w = Window.partitionBy("fp")
    ranked = scored.select(
        "fp",
        "doc_id",
        "quality",
        F.count("*").over(w).cast("bigint").alias("n_copies"),
        F.row_number()
        .over(w.orderBy(F.col("quality").desc(), "doc_id"))
        .alias("__rn"),
    )
    return ranked.filter(F.col("__rn") == 1).select(
        "fp", F.col("doc_id").alias("keep_id"), "quality", "n_copies"
    )


@register(
    "dedup_incremental_new_docs",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, source,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
               md5(substr(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                          1, 200)) AS pfp,
               (md5('batch|' || CAST(doc_id AS VARCHAR))
                    < '{"%032x" % int(0.8 * 16**32)}') AS is_existing
        FROM documents
    )
    SELECT n.doc_id, n.source,
           (e.fp IS NOT NULL) AS dup_exact,
           (pe.pfp IS NOT NULL) AS dup_prefix
    FROM (SELECT * FROM d WHERE NOT is_existing) n
    LEFT JOIN (SELECT DISTINCT fp FROM d WHERE is_existing) e USING (fp)
    LEFT JOIN (SELECT DISTINCT pfp FROM d WHERE is_existing) pe USING (pfp)
    """,
)
def dedup_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion dedup: an incoming batch (simulated as the
    20% of docs hashed out of the 'existing' corpus) is checked against
    the existing corpus's fingerprint index — exact (full-text md5) and
    prefix (near-dup family) — without rescanning existing TEXT, only
    its fingerprints. At 100 TB the existing side is a pre-computed
    fingerprint table (bytes per doc, not the corpus); the check is two
    hash semi-joins against it, each keyed on the digest."""
    from rust_cdc_spark.functions import text as TX
    from rust_cdc_spark.operators.sampling import hex_threshold

    docs = load_table(spark, "documents", sf_dir)
    norm = F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
    d = docs.select(
        "doc_id",
        "source",
        F.md5(norm).alias("fp"),
        F.md5(F.substring(norm, 1, 200)).alias("pfp"),
        (
            F.md5(F.concat(F.lit("batch|"), F.col("doc_id").cast("string")))
            < hex_threshold(0.8)
        ).alias("is_existing"),
    )
    existing = d.filter("is_existing")
    incoming = d.filter("NOT is_existing")
    e_fp = existing.select("fp").distinct().withColumn("dup_exact", F.lit(True))
    e_pfp = existing.select("pfp").distinct().withColumn(
        "dup_prefix", F.lit(True)
    )
    return (
        incoming.join(e_fp, "fp", "left")
        .join(e_pfp, "pfp", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("dup_exact", F.lit(False)).alias("dup_exact"),
            F.coalesce("dup_prefix", F.lit(False)).alias("dup_prefix"),
        )
    )


_SPAN_K = 10  # tokens per sliding window

# Shared CTE chain ending in `spans(doc_id, span_start, span_end,
# span_tokens, n_windows)` — used by both the span-report and the
# span-removal oracles.
_SPANS_CTES = f"""w AS (SELECT doc_id, {_WORDS_SQL} AS words FROM documents),
    g AS (
        SELECT doc_id, CAST(i AS INT) AS st,
               md5(array_to_string(words[(i):(i + {_SPAN_K} - 1)], ' ')) AS g
        FROM w, LATERAL (
            SELECT unnest(range(1, len(words) - {_SPAN_K} + 2)) AS i)
        WHERE len(words) >= {_SPAN_K}
    ),
    dup AS (SELECT g FROM g GROUP BY g HAVING count(*) > 1),
    cand AS (
        SELECT doc_id, st, st + {_SPAN_K} - 1 AS en
        FROM g JOIN dup USING (g)
    ),
    isl AS (
        SELECT doc_id, st, en,
               CASE WHEN st > coalesce(max(en) OVER (
                        PARTITION BY doc_id ORDER BY st
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        -1) + 1
                    THEN 1 ELSE 0 END AS nf
        FROM cand
    ),
    isl2 AS (
        SELECT doc_id, st, en,
               sum(nf) OVER (PARTITION BY doc_id ORDER BY st
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS island
        FROM isl
    ),
    spans AS (
        SELECT doc_id,
               min(st) AS span_start,
               max(en) AS span_end,
               max(en) - min(st) + 1 AS span_tokens,
               CAST(count(*) AS BIGINT) AS n_windows
        FROM isl2
        GROUP BY doc_id, island
    )"""


@register(
    "dedup_substring_spans",
    oracle=f"""
    WITH {_SPANS_CTES}
    SELECT doc_id, span_start, span_end, span_tokens, n_windows
    FROM spans
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-substring spans — the exact-substring
    dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), re-expressed for Spark: instead of a
    corpus-wide suffix array (their single-machine structure), every
    {_SPAN_K}-token sliding window fingerprints to md5, windows whose
    fingerprint occurs more than once anywhere in the corpus are
    duplicate evidence, and per document the overlapping/adjacent
    duplicate windows coalesce (gaps-and-islands) into REMOVAL SPANS
    (span_start/span_end token intervals) — the actionable output a
    span-removal pass consumes. Resolution is the window width: spans
    shorter than {_SPAN_K} tokens are invisible, exactly the k-gram
    granularity trade the distributed approximations of suffix-array
    dedup make.

    Scale shape: one explode → one hash agg over distinct fingerprints
    (map-side partials; the shuffle carries one row per distinct gram)
    → a fingerprint-keyed join back → a per-doc window. No pairwise
    joins, no driver state; at 100 TB the gram table is the cost, and
    it partitions by hash like any dedup index. The interval merge is a
    classic gaps-and-islands window (running max of span ends), one
    doc-keyed shuffle."""
    docs = load_table(spark, "documents", sf_dir)
    return _duplicate_spans(docs)


def _duplicate_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, span_start, span_end, span_tokens, n_windows): merged
    duplicate-window removal spans — the Spark twin of ``_SPANS_CTES``.
    Shared by the span report and the removal pass."""
    w = docs.select("doc_id", F.expr(_WORDS_SPARK).alias("words")).filter(
        F.size("words") >= _SPAN_K
    )
    grams = w.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(words) - {_SPAN_K} + 1),"
                f" i -> struct(i AS st, md5(concat_ws(' ',"
                f" slice(words, i, {_SPAN_K}))) AS g))"
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.st").alias("st"), F.col("s.g").alias("g"))
    # Duplicate test via a count window, not agg + join-back: the
    # window shuffles grams by g ONCE and the filter is a map-side
    # slice of that exchange — the agg/join form computed the whole
    # corpus-scale gram explode TWICE (executed-plan reuse is zero
    # there: the agg exchange carries partial rows, so AQE cannot
    # share it with the join side; the jaccard df-cap path proved
    # this same rewrite at −25%).
    cand = (
        grams.withColumn("n", F.count("*").over(Window.partitionBy("g")))
        .filter(F.col("n") > 1)
        .select("doc_id", "st", (F.col("st") + _SPAN_K - 1).alias("en"))
    )
    prev_max = F.max("en").over(
        Window.partitionBy("doc_id").orderBy("st")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = cand.withColumn(
        "nf",
        F.when(F.col("st") > F.coalesce(prev_max, F.lit(-1)) + 1, 1)
        .otherwise(0),
    )
    isl = flagged.withColumn(
        "island",
        F.sum("nf").over(
            Window.partitionBy("doc_id").orderBy("st")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return isl.groupBy("doc_id", "island").agg(
        F.min("st").alias("span_start"),
        F.max("en").alias("span_end"),
        (F.max("en") - F.min("st") + 1).alias("span_tokens"),
        F.count("*").alias("n_windows"),
    ).drop("island")


# Gopher quality rules (Rae et al. 2021, "Scaling Language Models" —
# public heuristics), integer-arithmetic form so every threshold is an
# exact cross-engine comparison (no ratio rounding): mean word length in
# [3, 10] becomes 3·n ≤ chars ≤ 10·n, the 80% alpha-word rule becomes
# 5·alpha ≥ 4·n.
_GOPHER_MIN_WORDS = 50
_GOPHER_MAX_WORDS = 100_000
_GOPHER_STOPS = "('the','a','an','and','of','to','in','is','it','that')"


@register(
    "gopher_quality_rules",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, {_WORDS_SQL} AS words FROM documents
    ),
    m AS (
        SELECT doc_id,
               CAST(len(words) AS BIGINT) AS n_words,
               CAST(list_sum(list_transform(words, x -> length(x)))
                    AS BIGINT) AS n_chars,
               CAST(len(list_filter(words,
                    x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
                   AS n_alpha_words,
               CAST(len(list_filter(words,
                    x -> list_contains({_GOPHER_STOPS.replace("(", "[").replace(")", "]")},
                                       lower(x)))) AS BIGINT)
                   AS n_stopword_hits
        FROM w
    )
    SELECT doc_id, n_words, n_chars, n_alpha_words, n_stopword_hits,
           (n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS})
               AS rule_word_count,
           (3 * n_words <= n_chars AND n_chars <= 10 * n_words)
               AS rule_mean_word_len,
           (5 * n_alpha_words >= 4 * n_words) AS rule_alpha_words,
           (n_stopword_hits >= 2) AS rule_stopwords,
           ((n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS})
            AND 3 * n_words <= n_chars AND n_chars <= 10 * n_words
            AND 5 * n_alpha_words >= 4 * n_words
            AND n_stopword_hits >= 2) AS keep
    FROM m
    """,
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher document-quality rule set as one map-only pass: word
    count bounds, mean word length in [3,10], ≥80% words containing an
    alphabetic character, ≥2 stopword hits — each rule a column, plus
    the composite keep flag a pretraining filter applies. All
    thresholds are integer cross-multiplications (3n ≤ chars, 5·alpha ≥
    4n), so Spark and the oracle compare exact integers — no ratio
    rounding anywhere. At 100 TB: scan → project, embarrassingly
    parallel, pipelines with the parquet read; pair it with
    text_repetition_score (the Gopher repetition rules live there) for
    the full filter."""
    docs = load_table(spark, "documents", sf_dir)
    w = docs.select("doc_id", F.expr(_WORDS_SPARK).alias("words"))
    stops = _GOPHER_STOPS.replace("(", "array(").replace(")", ")")
    m = w.select(
        "doc_id",
        F.size("words").cast("bigint").alias("n_words"),
        F.expr(
            "aggregate(words, 0L, (acc, x) -> acc + length(x))"
        ).alias("n_chars"),
        F.expr(
            "cast(size(filter(words, x -> x rlike '[A-Za-z]')) as bigint)"
        ).alias("n_alpha_words"),
        F.expr(
            f"cast(size(filter(words,"
            f" x -> array_contains({stops}, lower(x)))) as bigint)"
        ).alias("n_stopword_hits"),
    )
    rule_wc = F.col("n_words").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
    rule_mwl = (3 * F.col("n_words") <= F.col("n_chars")) & (
        F.col("n_chars") <= 10 * F.col("n_words")
    )
    rule_alpha = 5 * F.col("n_alpha_words") >= 4 * F.col("n_words")
    rule_stop = F.col("n_stopword_hits") >= 2
    return m.select(
        "doc_id", "n_words", "n_chars", "n_alpha_words", "n_stopword_hits",
        rule_wc.alias("rule_word_count"),
        rule_mwl.alias("rule_mean_word_len"),
        rule_alpha.alias("rule_alpha_words"),
        rule_stop.alias("rule_stopwords"),
        (rule_wc & rule_mwl & rule_alpha & rule_stop).alias("keep"),
    )


# Domain-level curation: the corpus has no URL column, so (same
# precedent as the PII injection above) every document gets a
# deterministic synthetic URL derived from doc_id — the host
# distribution is Zipf-ish (doc_id % 53 squared-skew) so the cap
# actually bites. Spark and the oracle synthesize identical URLs, so
# host parsing, blocklisting, and cap selection verify value-for-value.
_URL_SPARK = (
    "concat('https://host', pmod(doc_id * doc_id, 53), '.example.com/p/',"
    " doc_id)"
)
_URL_SQL = (
    "'https://host' || ((doc_id * doc_id) % 53) || '.example.com/p/'"
    " || doc_id"
)
_HOST_RE = r"https?://([^/]+)/"
_BLOCKED_HOSTS = ("host7.example.com", "host13.example.com")
_DOMAIN_CAP = 25  # max docs kept per host


@register(
    "url_domain_curation",
    oracle=f"""
    WITH u AS (
        SELECT doc_id, {_URL_SQL} AS url FROM documents
    ),
    h AS (
        SELECT doc_id, regexp_extract(url, '{_HOST_RE}', 1) AS host
        FROM u
    ),
    ranked AS (
        SELECT doc_id, host,
               host IN ('{_BLOCKED_HOSTS[0]}', '{_BLOCKED_HOSTS[1]}')
                   AS blocked,
               row_number() OVER (
                   PARTITION BY host
                   ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
        FROM h
    )
    SELECT host,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE NOT blocked AND rk <= {_DOMAIN_CAP})
                AS BIGINT) AS n_kept,
           CAST(sum(doc_id) FILTER (
                WHERE NOT blocked AND rk <= {_DOMAIN_CAP})
                AS BIGINT) AS kept_id_checksum,
           bool_or(blocked) AS is_blocked
    FROM ranked
    GROUP BY host
    """,
)
def url_domain_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level curation — the crawl-pipeline pass that runs before
    any text filter: parse the host out of each document's URL,
    drop blocklisted domains, and cap the docs kept per domain (md5
    order — deterministic, engine-stable) so top-heavy hosts cannot
    dominate the corpus. Output is the per-host audit a curation run
    reports: total docs, docs kept after blocklist+cap, an id checksum
    over the kept SET (value-level evidence the selection matches, not
    just the counts), and the blocklist flag.

    Scale shape: host extraction is a map-stage regex; the cap is one
    host-keyed window and the audit one host-keyed agg — two shuffles
    keyed on the same column (the window's partitioning is reused). A
    hot host (millions of docs) is exactly the skew AQE handles, and
    the cap's TOP-k-per-key window is the standard salting candidate
    if one host dominates a partition."""
    docs = load_table(spark, "documents", sf_dir)
    h = docs.select(
        "doc_id",
        F.regexp_extract(F.expr(_URL_SPARK), _HOST_RE, 1).alias("host"),
    )
    ranked = h.select(
        "doc_id",
        "host",
        F.col("host").isin(*_BLOCKED_HOSTS).alias("blocked"),
        F.row_number()
        .over(
            Window.partitionBy("host").orderBy(
                F.md5(F.col("doc_id").cast("string"))
            )
        )
        .alias("rk"),
    )
    keep = ~F.col("blocked") & (F.col("rk") <= _DOMAIN_CAP)
    return ranked.groupBy("host").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.count(F.when(keep, 1)).cast("bigint").alias("n_kept"),
        F.sum(F.when(keep, F.col("doc_id"))).cast("bigint")
        .alias("kept_id_checksum"),
        F.max("blocked").alias("is_blocked"),
    )


@register(
    "dedup_substring_removal",
    oracle=f"""
    WITH {_SPANS_CTES},
    sp AS (
        SELECT doc_id,
               list({{'s': span_start, 'e': span_end}}) AS spans
        FROM spans GROUP BY doc_id
    ),
    cleaned AS (
        SELECT w.doc_id,
               CAST(len(w.words) AS BIGINT) AS n_tokens,
               list_filter(
                   list_transform(range(1, len(w.words) + 1),
                       i -> CASE WHEN sp.spans IS NOT NULL
                                  AND len(list_filter(sp.spans,
                                      x -> i >= x.s AND i <= x.e)) > 0
                                 THEN NULL ELSE w.words[i] END),
                   v -> v IS NOT NULL) AS kept
        FROM w LEFT JOIN sp USING (doc_id)
    )
    SELECT doc_id, n_tokens,
           n_tokens - CAST(len(kept) AS BIGINT) AS n_removed,
           md5(coalesce(array_to_string(kept, ' '), '')) AS cleaned_fp
    FROM cleaned
    """,
)
def dedup_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY half of exact-substring dedup: remove every duplicate
    span found by `dedup_substring_spans` from its document and emit
    the cleaned text's fingerprint — the pass that actually shrinks the
    corpus (Lee et al. 2022 cut ~3% of C4's tokens this way). Emitting
    an md5 of the reassembled text makes the oracle check the ACTUAL
    edited output, not just removal counts.

    Scale shape: the span table aggregates to one (doc, spans[])
    row per affected doc and joins back doc-keyed (spans are sparse —
    most docs join nothing); the token-drop is a per-row codegen HOF
    over words × spans-per-doc. No extra corpus passes beyond the span
    pipeline itself."""
    docs = load_table(spark, "documents", sf_dir)
    spans = _duplicate_spans(docs)
    sp = spans.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(F.col("span_start").alias("s"),
                     F.col("span_end").alias("e"))
        ).alias("spans")
    )
    w = docs.select("doc_id", F.expr(_WORDS_SPARK).alias("words"))
    joined = w.join(sp, "doc_id", "left")
    kept = F.expr(
        "filter(transform(sequence(1, size(words)),"
        " i -> CASE WHEN spans IS NOT NULL AND exists(spans,"
        "        x -> i >= x.s AND i <= x.e)"
        "      THEN NULL ELSE words[i - 1] END),"
        " v -> v IS NOT NULL)"
    )
    cleaned = joined.select(
        "doc_id",
        F.size("words").cast("bigint").alias("n_tokens"),
        kept.alias("kept"),
    )
    return cleaned.select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.size("kept")).cast("bigint")
        .alias("n_removed"),
        F.md5(F.concat_ws(" ", F.col("kept"))).alias("cleaned_fp"),
    )


# ── C4-style line-level quality rules ────────────────────────────────
# The corpus is single-line word soup, so (PII-injection precedent
# above) each document is deterministically re-lined: line i holds the
# next L words, L = 5 + doc_id % 7, and a line "ends in terminal
# punctuation" iff the md5 of its text says so — both engines derive
# the identical structure, so the line filters verify value-for-value.
_C4_L = "(5 + doc_id % 7)"
_C4_LINES_SPARK = (
    f"transform(sequence(0, cast((size(words) + {_C4_L} - 1) div {_C4_L}"
    f" as int) - 1), i -> slice(words, i * {_C4_L} + 1, {_C4_L}))"
)
_C4_LINES_SQL = (
    f"list_transform(range(0, CAST((len(words) + {_C4_L} - 1) // {_C4_L}"
    f" AS INT)), i -> list_slice(words, i * {_C4_L} + 1,"
    f" i * {_C4_L} + {_C4_L}))"
)
# line keep: >=3 words, synthetic terminal punctuation, no boilerplate
# markers (lorem / javascript / curly brace — evaluated for real even
# though the soup never produces them).
_C4_KEEP_SPARK = (
    "l -> size(l) >= 3"
    " AND ascii(substring(md5(array_join(l, ' ')), 1, 1)) % 3 != 0"
    " AND NOT array_contains(l, 'lorem')"
    " AND NOT array_contains(l, 'javascript')"
    " AND NOT array_join(l, ' ') LIKE '%{%'"
)
_C4_KEEP_SQL = (
    "l -> len(l) >= 3"
    " AND ascii(substr(md5(array_to_string(l, ' ')), 1, 1)) % 3 != 0"
    " AND NOT list_contains(l, 'lorem')"
    " AND NOT list_contains(l, 'javascript')"
    " AND NOT array_to_string(l, ' ') LIKE '%{%'"
)


@register(
    "c4_quality_rules",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS words FROM documents),
    ln AS (SELECT doc_id, {_C4_LINES_SQL} AS lines FROM w),
    k AS (
        SELECT doc_id, lines,
               list_filter(lines, {_C4_KEEP_SQL}) AS kept
        FROM ln
    )
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept_lines,
           CAST(COALESCE(list_sum(list_transform(kept, l -> len(l))), 0)
                AS BIGINT) AS n_kept_words,
           (len(kept) >= 3) AS keep,
           md5(COALESCE(array_to_string(
               list_transform(kept, l -> array_to_string(l, ' ')),
               chr(10)), '')) AS cleaned_fp
    FROM k
    """,
)
def c4_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020): split the
    document into lines, keep a line only if it has >=3 words, ends in
    terminal punctuation, and carries no boilerplate markers (lorem
    ipsum / javascript / curly brace); keep the document only if >=3
    lines survive. Complements `gopher_quality_rules` (document-level
    thresholds live there) — together they are the standard two-stage
    crawl filter. The md5 of the reassembled kept text makes the
    oracle check the actual cleaned output, not just counts.

    Scale shape: one map-only pass — re-lining, per-line filters, and
    the fingerprint are a single codegen HOF chain that pipelines with
    the parquet scan; embarrassingly parallel at 100 TB, no shuffle at
    all."""
    docs = load_table(spark, "documents", sf_dir)
    w = docs.select("doc_id", F.expr(_WORDS_SPARK).alias("words"))
    ln = w.select("doc_id", F.expr(_C4_LINES_SPARK).alias("lines"))
    k = ln.select(
        "doc_id", "lines",
        F.expr(f"filter(lines, {_C4_KEEP_SPARK})").alias("kept"),
    )
    return k.select(
        "doc_id",
        F.size("lines").cast("bigint").alias("n_lines"),
        F.size("kept").cast("bigint").alias("n_kept_lines"),
        F.expr("aggregate(kept, 0L, (a, l) -> a + size(l))")
        .alias("n_kept_words"),
        (F.size("kept") >= 3).alias("keep"),
        F.md5(
            F.expr("array_join(transform(kept, l -> array_join(l, ' ')),"
                   " chr(10))")
        ).alias("cleaned_fp"),
    )


# ── URL canonicalization dedup ───────────────────────────────────────
# Synthetic messy URLs (same doc_id-derived precedent): scheme case,
# www prefix, tracking params, and trailing slash all vary by doc_id,
# while doc_id % 211 picks the underlying page — so ~n/211 raw variants
# collapse onto each canonical URL and the dedup genuinely bites.
_RAWURL_SQL = (
    "(CASE doc_id % 3 WHEN 0 THEN 'http://' WHEN 1 THEN 'https://'"
    " ELSE 'HTTPS://' END)"
    " || (CASE WHEN doc_id % 2 = 0 THEN 'www.Example.org'"
    " ELSE 'example.org' END)"
    " || '/article/' || (doc_id % 211)"
    " || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)"
    " || (CASE doc_id % 4 WHEN 0 THEN '?utm_source=feed&utm_campaign=x'"
    " WHEN 1 THEN '?ref=' || (doc_id % 5) ELSE '' END)"
)


@register(
    "url_normalize_dedup",
    oracle=f"""
    WITH u AS (SELECT doc_id, {_RAWURL_SQL} AS url FROM documents),
    c AS (
        SELECT doc_id, url,
               regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(lower(url),
                       '^https?://', ''),
                       '^www\\.', ''),
                       '\\?.*$', ''),
                       '/$', '') AS canonical_url
        FROM u
    )
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_variants,
           CAST(count(DISTINCT url) AS BIGINT) AS n_raw_forms,
           CAST(min(doc_id) AS BIGINT) AS kept_doc_id,
           CAST(sum(doc_id) AS BIGINT) AS variants_checksum
    FROM c
    GROUP BY canonical_url
    """,
)
def url_normalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the crawl-ingest pass that runs
    before any text is even fetched twice: lowercase, strip scheme,
    strip the www prefix, drop the query string (tracking params), and
    drop the trailing slash; then collapse to one kept doc per
    canonical URL (min doc_id — deterministic) with a variants
    checksum so the oracle verifies the SET collapsed, not just how
    many. Complements `url_domain_curation` (host-level blocklist/caps
    live there).

    Scale shape: normalization is a map-stage regex chain fused into
    the scan; the collapse is ONE canonical-url-keyed hash agg with
    map-side partials. At 100 TB the agg key is a short string with
    crawl-frequency skew — exactly what AQE skew handling absorbs, and
    the map-side combine means hot URLs cost bandwidth proportional to
    distinct-per-partition, not occurrences."""
    docs = load_table(spark, "documents", sf_dir)
    u = docs.select("doc_id", F.expr(_RAWURL_SQL).alias("url"))
    canonical = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("url")), r"^https?://", ""),
                r"^www\.", ""),
            r"\?.*$", ""),
        r"/$", "")
    c = u.select("doc_id", "url", canonical.alias("canonical_url"))
    # size(collect_set) not count(distinct): the distinct raw forms per
    # canonical URL are bounded by the decoration cardinality (scheme ×
    # www × params × slash), so a partial-aggregated set costs O(forms)
    # and keeps the query at ONE exchange — count(distinct) would
    # expand to the two-shuffle distinct-agg plan.
    return c.groupBy("canonical_url").agg(
        F.count("*").cast("bigint").alias("n_variants"),
        F.size(F.collect_set("url")).cast("bigint").alias("n_raw_forms"),
        F.min("doc_id").cast("bigint").alias("kept_doc_id"),
        F.sum("doc_id").cast("bigint").alias("variants_checksum"),
    )


# ── Character-entropy filter ─────────────────────────────────────────
# Per-term micro-nat quantization (the bigram-LM discipline): each
# distinct char contributes round(-1e6·p·ln p) as a BIGINT, summed over
# the SORTED distinct-char array — no float aggregation order exists,
# so both engines produce the identical integer.
_ENTROPY_LO = 1_500_000  # < 1.5 nats: repeated-char / boilerplate gibberish
_ENTROPY_HI = 4_500_000  # > 4.5 nats: random-symbol noise


@register(
    "char_entropy_filter",
    oracle=f"""
    WITH c AS (
        SELECT doc_id, string_split(text, '') AS chars FROM documents
    ),
    m AS (
        SELECT doc_id,
               CAST(len(chars) AS BIGINT) AS n_chars,
               list_sort(list_distinct(chars)) AS dc,
               chars
        FROM c
    ),
    e AS (
        SELECT doc_id, n_chars,
               CAST(len(dc) AS BIGINT) AS n_distinct_chars,
               CAST(COALESCE(list_sum(list_transform(dc,
                   ch -> CAST(round(-1e6
                       * (CAST(len(list_filter(chars, x -> x = ch))
                               AS DOUBLE) / n_chars)
                       * ln(CAST(len(list_filter(chars, x -> x = ch))
                               AS DOUBLE) / n_chars)) AS BIGINT))), 0)
                   AS BIGINT) AS entropy_micro
        FROM m
    )
    SELECT doc_id, n_chars, n_distinct_chars, entropy_micro,
           (entropy_micro BETWEEN {_ENTROPY_LO} AND {_ENTROPY_HI}) AS keep
    FROM e
    """,
)
def char_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality filter: Shannon entropy of each
    document's character distribution in integer micro-nats — the
    cheap gibberish detector (repeated-char spam scores near 0,
    random-symbol noise scores > 4.5 nats, natural language sits in
    between) a crawl pipeline runs alongside the Gopher/C4 rules.

    Engine parity: each distinct char's -p·ln p term is quantized to a
    BIGINT micro-nat BEFORE summation, and the sum runs over the
    sorted distinct-char array — identical operations in identical
    order in both engines, so the output is an exact integer.

    Scale shape: pure map — the per-doc cost is O(distinct_chars ×
    doc_len) inside one codegen HOF chain (distinct chars is ~10² for
    text), fused with the parquet scan; embarrassingly parallel, no
    shuffle."""
    docs = load_table(spark, "documents", sf_dir)
    # Spark side counts runs over the SORTED char array (O(len·log len)
    # + linear passes) instead of one filter-rescan per distinct char
    # (O(distinct·len) — measured 3× slower at sf0.1). The oracle keeps
    # the simpler per-char formulation: both produce the same BIGINT
    # terms, and integer sums are order-free.
    c = docs.select("doc_id", F.expr("split(text, '')").alias("chars"))
    m = c.select(
        "doc_id",
        F.size("chars").cast("bigint").alias("n_chars"),
        F.expr("array_sort(chars)").alias("s"),
    )
    runs = m.select(
        "doc_id",
        "n_chars",
        F.expr(
            "filter(sequence(0, size(s) - 1),"
            " i -> i = 0 OR s[i] != s[i - 1])"
        ).alias("starts"),
    )
    counts = runs.select(
        "doc_id",
        "n_chars",
        F.size("starts").cast("bigint").alias("n_distinct_chars"),
        F.expr(
            "zip_with(starts,"
            " concat(slice(starts, 2, size(starts) - 1), array(n_chars)),"
            " (a, b) -> b - a)"
        ).alias("cnts"),
    )
    e = counts.select(
        "doc_id",
        "n_chars",
        "n_distinct_chars",
        F.expr(
            "aggregate(cnts, 0L, (acc, c) -> acc + cast(round(-1e6"
            " * (cast(c as double) / n_chars)"
            " * ln(cast(c as double) / n_chars)) as bigint))"
        ).alias("entropy_micro"),
    )
    return e.select(
        "doc_id", "n_chars", "n_distinct_chars", "entropy_micro",
        F.col("entropy_micro").between(_ENTROPY_LO, _ENTROPY_HI)
        .alias("keep"),
    )


def _quality_rule_flags(docs: DataFrame) -> DataFrame:
    """Per-doc verdicts of the four quality-rule families
    (doc_id, source, keep_gopher, keep_c4, keep_entropy,
    keep_repetition) — ONE fused codegen pass over the scan.
    Oracle twin: _RULE_SIG_SQL. Shared by quality_rule_attribution,
    quality_rule_kappa, and quality_label_model_vote."""
    stops = _GOPHER_STOPS.replace("(", "array(").replace(")", ")")
    # __wlen bound once as a projected column: the two Gopher length
    # bounds referenced the same word-length fold twice, and Catalyst
    # re-evaluates an expression once per reference.
    w = docs.select(
        "doc_id", "source",
        F.expr(_WORDS_SPARK).alias("words"),
        F.expr("split(text, '')").alias("chars"),
    ).withColumn(
        "__wlen", F.expr("aggregate(words, 0L, (a, x) -> a + length(x))")
    )
    keep_gopher = F.expr(
        f"size(words) BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}"
        " AND 3 * size(words) <= __wlen"
        " AND __wlen <= 10 * size(words)"
        " AND 5 * size(filter(words, x -> x rlike '[A-Za-z]'))"
        "     >= 4 * size(words)"
        f" AND size(filter(words, x -> array_contains({stops}, lower(x))))"
        "     >= 2"
    )
    keep_c4 = F.expr(
        f"size(filter({_C4_LINES_SPARK}, {_C4_KEEP_SPARK})) >= 3"
    )
    # Entropy via the staged run-length form (char_entropy_filter's
    # trick): each projection stage computes the sorted array / run
    # boundaries ONCE — inlining the boundary filter into one
    # expression re-evaluates it 3× per row (no CSE inside a single
    # HOF tree; measured ~2× on this query at sf0.1).
    entropy_micro = F.expr(
        "aggregate("
        " zip_with(starts,"
        "  concat(slice(starts, 2, size(starts) - 1), array(n_chars)),"
        "  (a, b) -> b - a),"
        " 0L, (acc, c) -> acc + cast(round(-1e6"
        "  * (cast(c as double) / n_chars)"
        "  * ln(cast(c as double) / n_chars)) as bigint))"
    )
    keep_repetition = F.expr(
        "size(words) < 3 OR"
        " 10 * size(array_distinct(transform(sequence(0, size(words) - 3),"
        "      i -> concat_ws(' ', words[i], words[i+1], words[i+2]))))"
        " >= 7 * (size(words) - 2)"
    )
    sig = (
        w.select(
            "doc_id", "source",
            keep_gopher.alias("keep_gopher"),
            keep_c4.alias("keep_c4"),
            F.expr("array_sort(chars)").alias("s"),
            keep_repetition.alias("keep_repetition"),
        )
        .select(
            "doc_id", "source", "keep_gopher", "keep_c4", "keep_repetition",
            F.size("s").cast("bigint").alias("n_chars"),
            F.expr(
                "filter(sequence(0, size(s) - 1),"
                " i -> i = 0 OR s[i] != s[i - 1])"
            ).alias("starts"),
        )
        .select(
            "doc_id", "source", "keep_gopher", "keep_c4", "keep_repetition",
            entropy_micro.between(_ENTROPY_LO, _ENTROPY_HI)
            .alias("keep_entropy"),
        )
    )
    return sig


_RULE_SIG_SQL = f"""
    w AS (
        SELECT doc_id, source, {_WORDS_SQL} AS words,
               string_split(text, '') AS chars
        FROM documents
    ),
    sig AS (
        SELECT doc_id, source,
               -- gopher: word count / mean word len / alpha words /
               -- stopword hits (integer cross-multiplications)
               (len(words) BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
                AND 3 * len(words)
                    <= list_sum(list_transform(words, x -> length(x)))
                AND list_sum(list_transform(words, x -> length(x)))
                    <= 10 * len(words)
                AND 5 * len(list_filter(words,
                        x -> regexp_matches(x, '[A-Za-z]')))
                    >= 4 * len(words)
                AND len(list_filter(words,
                        x -> list_contains({_GOPHER_STOPS.replace("(", "[").replace(")", "]")},
                                           lower(x)))) >= 2) AS keep_gopher,
               -- c4: >=3 surviving synthetic lines
               (len(list_filter({_C4_LINES_SQL}, {_C4_KEEP_SQL})) >= 3)
                   AS keep_c4,
               -- entropy: micro-nat char entropy in band
               (CAST(COALESCE(list_sum(list_transform(
                    list_sort(list_distinct(chars)),
                    ch -> CAST(round(-1e6
                        * (CAST(len(list_filter(chars, x -> x = ch))
                                AS DOUBLE) / len(chars))
                        * ln(CAST(len(list_filter(chars, x -> x = ch))
                                AS DOUBLE) / len(chars))) AS BIGINT))), 0)
                    AS BIGINT)
                BETWEEN {_ENTROPY_LO} AND {_ENTROPY_HI}) AS keep_entropy,
               -- repetition: distinct-trigram fraction >= 0.7
               (len(words) < 3 OR
                10 * len(list_distinct(list_transform(
                        range(1, len(words) - 1),
                        i -> words[i] || ' ' || words[i+1] || ' '
                             || words[i+2])))
                >= 7 * (len(words) - 2)) AS keep_repetition
        FROM w
    )
"""


@register(
    "quality_rule_attribution",
    oracle=f"""
    WITH {_RULE_SIG_SQL}
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE NOT keep_gopher) AS BIGINT)
               AS n_fail_gopher,
           CAST(count(*) FILTER (WHERE NOT keep_c4) AS BIGINT) AS n_fail_c4,
           CAST(count(*) FILTER (WHERE NOT keep_entropy) AS BIGINT)
               AS n_fail_entropy,
           CAST(count(*) FILTER (WHERE NOT keep_repetition) AS BIGINT)
               AS n_fail_repetition,
           CAST(count(*) FILTER (WHERE keep_gopher AND keep_c4
                AND keep_entropy AND keep_repetition) AS BIGINT)
               AS n_pass_all,
           CAST(COALESCE(sum(doc_id) FILTER (WHERE keep_gopher AND keep_c4
                AND keep_entropy AND keep_repetition), 0) AS BIGINT)
               AS pass_id_checksum
    FROM sig
    GROUP BY source
    """,
)
def quality_rule_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-ablation scorecard — the dataset-card table that says
    which rule family (Gopher thresholds, C4 line cleaning, character
    entropy, trigram repetition) is responsible for each rejection,
    per source, plus the pass-all survivor count and an id checksum
    over the survivors (value-level evidence the SET matches).

    The Spark-first point: all four verdicts are per-row expressions,
    so the whole scorecard is ONE fused codegen pass over the scan —
    no joins between 'filter stages', no intermediate materialization
    — followed by a single source-keyed agg with map-side partials.
    Running the four registered filter queries separately would scan
    the corpus four times; composed, the 100 TB cost is one scan."""
    docs = load_table(spark, "documents", sf_dir)
    sig = _quality_rule_flags(docs)
    pass_all = (
        F.col("keep_gopher") & F.col("keep_c4")
        & F.col("keep_entropy") & F.col("keep_repetition")
    )
    return sig.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.count(F.when(~F.col("keep_gopher"), 1)).cast("bigint")
        .alias("n_fail_gopher"),
        F.count(F.when(~F.col("keep_c4"), 1)).cast("bigint")
        .alias("n_fail_c4"),
        F.count(F.when(~F.col("keep_entropy"), 1)).cast("bigint")
        .alias("n_fail_entropy"),
        F.count(F.when(~F.col("keep_repetition"), 1)).cast("bigint")
        .alias("n_fail_repetition"),
        F.count(F.when(pass_all, 1)).cast("bigint").alias("n_pass_all"),
        F.coalesce(F.sum(F.when(pass_all, F.col("doc_id"))), F.lit(0))
        .cast("bigint").alias("pass_id_checksum"),
    )


_TRIM_PCT = 5  # drop the shortest/longest 5% by token count (by value)


@register(
    "length_quantile_filter",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, CAST(len({_WORDS_SQL}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    hist AS (
        SELECT n_tokens AS v, count(*) AS c FROM t GROUP BY n_tokens
    ),
    cum AS (
        SELECT v, c,
               sum(c) OVER (ORDER BY v) AS cum_le
        FROM hist
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t),
    bounds AS (
        SELECT (SELECT min(v) FROM cum, tot
                WHERE cum_le >= (n * {_TRIM_PCT}) / 100 + 1) AS lo,
               (SELECT min(v) FROM cum, tot
                WHERE cum_le >= n - (n * {_TRIM_PCT}) / 100) AS hi
    )
    SELECT t.doc_id, t.n_tokens, b.lo AS lo_tokens, b.hi AS hi_tokens,
           (t.n_tokens BETWEEN b.lo AND b.hi) AS keep
    FROM t CROSS JOIN bounds b
    """,
)
def length_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-quantile trim — drop the extreme-length tails (shortest
    and longest {pct}% by token count) the way dataset cards describe
    'removed documents below p5 / above p95 length'. Cutoffs are VALUE
    thresholds derived by exact integer rank arithmetic: the k-th
    ordered document's token count, k = floor(n·pct/100), read off a
    token-count histogram's running sum — boundary ties keep (value
    semantics), so no per-document ordering exists anywhere and the
    verdict is engine-exact.

    Scale shape: the histogram agg shrinks the corpus to its distinct
    token-count VALUES (bounded by max document length, ~10⁵ rows at
    any corpus size — unlike a global row_number over 10⁹ docs, which
    is the naive non-scalable formulation); the running sum is a
    window over that tiny table; the two cutoffs broadcast back as a
    1-row cross join. One corpus-scan agg + one map-side verdict
    pass.""".replace("{pct}", str(_TRIM_PCT))
    docs = load_table(spark, "documents", sf_dir)
    t = docs.select(
        "doc_id",
        F.expr(f"cast(size({_WORDS_SPARK}) as bigint)").alias("n_tokens"),
    )
    # pin() materializes the BOUNDED histogram (≤ distinct lengths
    # rows) so the three downstream consumers (total, bounds, verdict
    # join) don't each re-scan the corpus to rebuild it — without it
    # this query's plan read the documents table five times.
    hist = pin(
        t.groupBy(F.col("n_tokens").alias("v"))
        .agg(F.count("*").alias("c"))
    )
    cum = hist.select(
        "v", "c",
        F.sum("c").over(Window.orderBy("v")).alias("cum_le"),
    )
    # total doc count from the histogram's own running-sum max — no
    # second corpus scan just to count rows
    tot = cum.agg(F.max("cum_le").alias("n"))
    # both cutoffs in ONE pass over the (tiny) cumulated histogram
    bounds = cum.crossJoin(F.broadcast(tot)).agg(
        F.min(
            F.when(
                F.col("cum_le") >= (F.col("n") * _TRIM_PCT) / 100 + 1,
                F.col("v"),
            )
        ).alias("lo"),
        F.min(
            F.when(
                F.col("cum_le")
                >= F.col("n") - (F.col("n") * _TRIM_PCT) / 100,
                F.col("v"),
            )
        ).alias("hi"),
    )
    return t.crossJoin(F.broadcast(bounds)).select(
        "doc_id",
        "n_tokens",
        F.col("lo").alias("lo_tokens"),
        F.col("hi").alias("hi_tokens"),
        F.col("n_tokens").between(F.col("lo"), F.col("hi")).alias("keep"),
    )


# ── Host-authority PageRank ──────────────────────────────────────────
# Deterministic synthetic host link graph (url_domain_curation's host
# universe): every document contributes one src→dst host edge derived
# from doc_id; distinct host pairs (self-loops dropped) form the edge
# set. Rank arithmetic is pure BIGINT micro-units with `div` floors —
# bit-identical across engines and partitionings — and runs a FIXED 3
# damped iterations, so the oracle replays training exactly as
# unrolled CTEs (the quality_classifier_train precedent).
_PR_HOSTS = 53
_PR_SRC = f"(doc_id * doc_id) % {_PR_HOSTS}"
_PR_DST = f"(doc_id * doc_id + doc_id + 17) % {_PR_HOSTS}"
_PR_ITERS = 3
_PR_INIT = 1_000_000


def _pr_iter_sql(prev: str, it: int) -> str:
    return f"""
    r{it} AS (
        SELECT n.host,
               150000 + (850 * COALESCE(c.contrib, 0)) // 1000
                   AS rank_micro
        FROM nodes n LEFT JOIN (
            SELECT e.dst AS host,
                   CAST(sum(p.rank_micro // d.outdeg) AS BIGINT) AS contrib
            FROM edges e
            JOIN {prev} p ON p.host = e.src
            JOIN deg d ON d.host = e.src
            GROUP BY e.dst
        ) c ON c.host = n.host
    )"""


@register(
    "host_authority_pagerank",
    oracle=f"""
    WITH raw AS (
        SELECT DISTINCT {_PR_SRC} AS src, {_PR_DST} AS dst
        FROM documents
    ),
    edges AS (SELECT src, dst FROM raw WHERE src <> dst),
    nodes AS (
        SELECT DISTINCT src AS host FROM edges
        UNION SELECT DISTINCT dst FROM edges
    ),
    deg AS (
        SELECT src AS host, CAST(count(*) AS BIGINT) AS outdeg
        FROM edges GROUP BY src
    ),
    r0 AS (SELECT host, CAST({_PR_INIT} AS BIGINT) AS rank_micro
           FROM nodes),
    {",".join(_pr_iter_sql(f"r{i}", i + 1) for i in range(_PR_ITERS))}
    SELECT n.host,
           CAST(r.rank_micro AS BIGINT) AS rank_micro,
           CAST(COALESCE(d.outdeg, 0) AS BIGINT) AS outdeg,
           CAST((SELECT count(*) FROM edges e WHERE e.dst = n.host)
                AS BIGINT) AS indeg
    FROM nodes n
    JOIN r{_PR_ITERS} r ON r.host = n.host
    LEFT JOIN deg d ON d.host = n.host
    """,
)
def host_authority_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-authority PageRank over the crawl's host link graph — the
    domain-trust signal curation pipelines mix with blocklists (a
    spam host farm links itself; authoritative hosts accumulate rank
    from many independent sources). Damped (0.85) power iteration,
    FIXED {it} rounds, all arithmetic BIGINT micro-units with `div`
    floors so the oracle replays every iteration as an unrolled CTE
    and checks the trained ranks value-for-value — same discipline as
    the logistic-regression trainer.

    Scale shape per iteration: one src-keyed join (rank ⋈ edges ⋈
    degree — all co-keyed on src, one shuffle) and one dst-keyed agg.
    The rank/degree tables are |hosts|-sized (millions at web scale —
    comfortably distributed), never |docs|; the doc scan happens once
    to build distinct edges. Dangling-host mass is dropped rather
    than redistributed (documented simplification; redistribution is
    one extra scalar agg per round).""".replace("{it}", str(_PR_ITERS))
    docs = load_table(spark, "documents", sf_dir)
    raw = docs.select(
        F.expr(_PR_SRC).alias("src"), F.expr(_PR_DST).alias("dst")
    ).distinct()
    # The edge table is |hosts|²-bounded (tiny next to the corpus);
    # checkpoint it so the ONE doc scan that built it is not replayed
    # by every unrolled iteration's join lineage (31 → ~12 exchanges,
    # corpus scanned once — the BPE-trainer discipline).
    edges = pin(raw.filter(F.col("src") != F.col("dst")))
    nodes = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
    )
    deg = edges.groupBy(F.col("src").alias("host")).agg(
        F.count("*").cast("bigint").alias("outdeg")
    )
    rank = nodes.select("host", F.lit(_PR_INIT).cast("bigint").alias("rank_micro"))
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(rank.withColumnRenamed("host", "src"), "src")
            .join(deg.withColumnRenamed("host", "src")
                  .withColumnRenamed("outdeg", "d"), "src")
            .select(
                F.col("dst").alias("host"),
                F.expr("rank_micro div d").alias("share"),
            )
            .groupBy("host")
            .agg(F.sum("share").cast("bigint").alias("contrib"))
        )
        rank = nodes.join(contrib, "host", "left").select(
            "host",
            (F.lit(150000)
             + F.expr("850 * coalesce(contrib, 0L) div 1000"))
            .cast("bigint")
            .alias("rank_micro"),
        )
    indeg = edges.groupBy(F.col("dst").alias("host")).agg(
        F.count("*").cast("bigint").alias("indeg")
    )
    return (
        nodes.join(rank, "host")
        .join(deg, "host", "left")
        .join(indeg, "host", "left")
        .select(
            "host",
            "rank_micro",
            F.coalesce("outdeg", F.lit(0)).cast("bigint").alias("outdeg"),
            F.coalesce("indeg", F.lit(0)).cast("bigint").alias("indeg"),
        )
    )


_DRIFT_REF = [f"src{i}" for i in range(10)]  # reference corpus sources
_DRIFT_TOPK = 50


@register(
    "corpus_drift_kl",
    oracle=f"""
    WITH tok AS (
        SELECT CASE WHEN source IN ({", ".join(f"'{s}'" for s in _DRIFT_REF)})
                    THEN 1 ELSE 0 END AS is_ref,
               lower(unnest({_WORDS_SQL})) AS token
        FROM documents
    ),
    c AS (
        SELECT token,
               CAST(sum(is_ref) AS BIGINT) AS n_ref,
               CAST(sum(1 - is_ref) AS BIGINT) AS n_cand
        FROM tok GROUP BY token
    ),
    tot AS (
        SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
               CAST(sum(n_cand) AS BIGINT) AS t_cand,
               CAST(count(*) AS BIGINT) AS v
        FROM c
    )
    SELECT token, n_ref, n_cand,
           CAST(round(1e6 * ((n_ref + 1.0) / (t_ref + v))
                * ln(((n_ref + 1.0) / (t_ref + v))
                     / ((n_cand + 1.0) / (t_cand + v)))) AS BIGINT)
               AS kl_contrib_micro
    FROM c CROSS JOIN tot
    ORDER BY kl_contrib_micro DESC, token
    LIMIT {_DRIFT_TOPK}
    """,
)
def corpus_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift monitor: per-token contributions to
    KL(reference ‖ candidate) over add-one-smoothed unigram
    distributions — the dataset-ops check for "did the new crawl's
    token distribution shift against the curated reference?". The
    reference corpus is sources src0-src9, the candidate is the rest;
    output is the top {k} tokens over-represented in the reference
    (largest positive p·ln(p/q), ties broken by token), with raw
    counts so the drift is auditable.

    Scale shape: one token explode feeding one hash aggregate keyed by
    token (both sides counted in the same pass via conditional sums —
    no per-side scans, no join of two count tables); totals and vocab
    size are a second 1-row agg over the (bounded, Zipf) token table,
    broadcast back; the top-k is a TakeOrdered, never a full sort.
    Micro-unit rounding keeps the ranking deterministic; both engines
    evaluate the identical double expression.""".replace(
        "{k}", str(_DRIFT_TOPK)
    )
    docs = load_table(spark, "documents", sf_dir)
    is_ref = F.col("source").isin(_DRIFT_REF).cast("int")
    tok = docs.select(
        is_ref.alias("is_ref"),
        F.explode(F.expr(f"transform({_WORDS_SPARK}, w -> lower(w))"))
        .alias("token"),
    )
    c = tok.groupBy("token").agg(
        F.sum("is_ref").cast("bigint").alias("n_ref"),
        F.sum(1 - F.col("is_ref")).cast("bigint").alias("n_cand"),
    )
    tot = c.agg(
        F.sum("n_ref").cast("bigint").alias("t_ref"),
        F.sum("n_cand").cast("bigint").alias("t_cand"),
        F.count("*").cast("bigint").alias("v"),
    )
    p = (F.col("n_ref") + 1.0) / (F.col("t_ref") + F.col("v"))
    q = (F.col("n_cand") + 1.0) / (F.col("t_cand") + F.col("v"))
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "token",
            "n_ref",
            "n_cand",
            F.round(F.lit(1e6) * p * F.log(p / q)).cast("bigint")
            .alias("kl_contrib_micro"),
        )
        .orderBy(F.desc("kl_contrib_micro"), F.asc("token"))
        .limit(_DRIFT_TOPK)
    )


@register(
    "doc_novelty_score",
    oracle="""
    WITH g AS (
        SELECT doc_id, unnest(list_distinct([
                   array_to_string(toks[i:i+2], ' ')
                   for i in range(1, greatest(len(toks) - 2, 1) + 1)
               ])) AS gram
        FROM (SELECT doc_id, string_split(trim(text), ' ') AS toks
              FROM documents)
    ),
    f AS (
        SELECT doc_id,
               min(doc_id) OVER (PARTITION BY gram) AS first_doc
        FROM g
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS novelty_micro
    FROM f
    GROUP BY doc_id
    """,
)
def doc_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct 3-gram
    shingles whose FIRST corpus occurrence (min doc_id — the ingestion-
    order proxy) is this doc. The diversity/freshness signal a curation
    pipeline uses to downweight documents that only restate earlier
    content (novelty ~0 = pure rehash; ~1 = new material).

    Scale shape: ONE gram-keyed exchange — first-occurrence is a
    min-window over the hashed-shingle explode (8-byte xxhash64 keys,
    the inverted-index trick), consumed map-side by the per-doc rollup's
    partial aggregation; no join-back, no second corpus scan. The
    novelty ratio is integer micro-units (BIGINT DIV — bit-identical
    across engines).
    """
    from rust_cdc_spark.functions import text as TX

    docs = load_table(spark, "documents", sf_dir)
    g = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(TX.shingles("text", 3))
        ).alias("gram"),
    ).select("doc_id", F.xxhash64("gram").alias("gh"))
    firsts = g.withColumn(
        "first_doc", F.min("doc_id").over(Window.partitionBy("gh"))
    )
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        firsts.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            novel.cast("bigint").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.expr("CAST(n_novel * 1000000 DIV n_shingles AS BIGINT)")
            .alias("novelty_micro"),
        )
    )


_SEM_CONTAM_MOD = 97  # vec_id % mod == 0 → held-out benchmark slice
_SEM_CONTAM_TAU = 950_000  # cosine threshold, micro-units


@register(
    "contamination_semantic",
    oracle=f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qv
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, qv,
               CAST(list_sum([qv[i+1] * qv[i+1] for i in range(0, 64)])
                    AS BIGINT) AS n2
        FROM q
    ),
    bench AS (SELECT * FROM n WHERE vec_id % {_SEM_CONTAM_MOD} = 0),
    train AS (SELECT * FROM n WHERE vec_id % {_SEM_CONTAM_MOD} != 0),
    pairs AS (
        SELECT t.vec_id, b.vec_id AS bench_id,
               CAST(round(
                   CAST(CAST(list_sum([t.qv[i+1] * b.qv[i+1]
                                       for i in range(0, 64)]) AS BIGINT)
                        AS DOUBLE)
                   / sqrt(CAST(t.n2 AS DOUBLE))
                   / sqrt(CAST(b.n2 AS DOUBLE)) * 1e6) AS BIGINT)
                   AS cos_micro
        FROM train t CROSS JOIN bench b
    )
    SELECT vec_id, bench_id, cos_micro,
           cos_micro >= {_SEM_CONTAM_TAU} AS contaminated
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY cos_micro DESC, bench_id) AS rn
        FROM pairs
    ) WHERE rn = 1
    """,
)
def contamination_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-level) benchmark decontamination — the
    companion to ``contamination_ngram_overlap`` that n-gram matching
    cannot replace: a paraphrased or translated eval example shares no
    13-gram with its source but sits at cosine ≈ 1 in embedding space
    (the canonical check on web-scale pretraining sets). The held-out
    slice is ``vec_id % 97 == 0`` (~1%); every training vector reports
    its nearest benchmark neighbor and a ``contaminated`` verdict at
    cosine ≥ 0.95.

    Determinism: dots and squared norms are exact BIGINT over
    micro-unit coordinates; the one double chain per pair
    (dot/√·/√·, rounded once to micro-units) is bit-identical
    cross-engine, and the argmax is a deterministic struct-max
    (cos_micro, then smallest bench_id).

    Scale shape: benchmark slice broadcast, ONE scored corpus scan;
    the per-doc argmax is a hash aggregate with map-side partials
    (struct max — the exchange carries ONE row per training doc, not
    |bench| candidate rows). At 100 TB, a benchmark too big to
    broadcast drops into the hyperplane-LSH candidate engine
    (operators/similarity.lsh_topk) with exact re-scoring — same
    verdict, bounded candidates."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * 1e6).cast("long"),
        ).alias("qv"),
    )
    idot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n = q.select("vec_id", "qv", idot(F.col("qv"), F.col("qv")).alias("n2"))
    bench = n.filter(F.col("vec_id") % _SEM_CONTAM_MOD == 0).select(
        F.col("vec_id").alias("bench_id"),
        F.col("qv").alias("bv"),
        F.col("n2").alias("bn2"),
    )
    train = n.filter(F.col("vec_id") % _SEM_CONTAM_MOD != 0)
    pairs = train.crossJoin(F.broadcast(bench)).select(
        "vec_id",
        "bench_id",
        F.round(
            idot(F.col("qv"), F.col("bv")).cast("double")
            / F.sqrt(F.col("n2").cast("double"))
            / F.sqrt(F.col("bn2").cast("double"))
            * 1e6
        )
        .cast("long")
        .alias("cos_micro"),
    )
    best = (
        pairs.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("cos_micro"), (-F.col("bench_id")).alias("nbid")
                )
            ).alias("m")
        )
        .select(
            "vec_id",
            (-F.col("m.nbid")).alias("bench_id"),
            F.col("m.cos_micro").alias("cos_micro"),
        )
    )
    return best.withColumn(
        "contaminated", F.col("cos_micro") >= _SEM_CONTAM_TAU
    )


_TRI_ORD = 1000  # order key: deg·1000 + host (hosts < 1000 by construction)


@register(
    "host_graph_triangles",
    oracle=f"""
    WITH raw AS (
        SELECT DISTINCT {_PR_SRC} AS src, {_PR_DST} AS dst
        FROM documents
    ),
    und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM raw WHERE src <> dst
    ),
    deg AS (
        SELECT host, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT a AS host FROM und UNION ALL SELECT b FROM und
        ) GROUP BY host
    ),
    okey AS (SELECT host, d * {_TRI_ORD} + host AS o FROM deg),
    orient AS (
        SELECT CASE WHEN oa.o < ob.o THEN u.a ELSE u.b END AS s,
               CASE WHEN oa.o < ob.o THEN u.b ELSE u.a END AS t,
               CASE WHEN oa.o < ob.o THEN ob.o ELSE oa.o END AS t_o
        FROM und u
        JOIN okey oa ON oa.host = u.a
        JOIN okey ob ON ob.host = u.b
    ),
    wedge AS (
        SELECT CASE WHEN e1.t_o < e2.t_o THEN e1.t ELSE e2.t END AS x,
               CASE WHEN e1.t_o < e2.t_o THEN e2.t ELSE e1.t END AS y
        FROM orient e1 JOIN orient e2
            ON e1.s = e2.s AND e1.t_o < e2.t_o
    ),
    tri AS (
        SELECT CAST(count(*) AS BIGINT) AS n_triangles
        FROM wedge w JOIN orient e ON e.s = w.x AND e.t = w.y
    ),
    wtot AS (
        SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg
    ),
    counts AS (
        SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
               CAST((SELECT count(*) FROM und) AS BIGINT) AS n_edges
    )
    SELECT c.n_nodes, c.n_edges, w.n_wedges, t.n_triangles,
           CAST(round(3.0 * t.n_triangles / w.n_wedges * 1e6) AS BIGINT)
               AS gcc_micro
    FROM counts c CROSS JOIN wtot w CROSS JOIN tri t
    """,
)
def host_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the host link
    graph — the graph-shape statistic that separates organic link
    neighborhoods (high clustering) from spam farms and scraped link
    wheels (near-zero or near-complete clustering), complementing
    ``host_authority_pagerank`` on the same edge table.

    Spark-first via the DEGREE-ORDERED algorithm (the distributed
    standard, cf. Cohen 2009 / Suri-Vassilvitskii MapReduce
    triangles): orient every undirected edge from the (degree, id)-
    smaller endpoint to the larger, enumerate wedges only at each
    edge's LOW-order endpoint, and close them with a hash semi-join.
    A naive 3-way edge join does |N(v)|² work at every high-degree
    hub; orientation bounds per-node wedge fan-out by out-degree ≤
    O(√m), the difference between feasible and not on a power-law web
    graph. All counts exact BIGINT; gcc = 3·triangles/wedges rounded
    once to micro-units.

    Scale shape: ONE doc scan builds the distinct edge table
    (host²-bounded, checkpointed); degree/orientation are edge-keyed
    aggs/joins; the wedge join and the closing join are both equi-hash
    joins on model-scale tables."""
    docs = load_table(spark, "documents", sf_dir)
    raw = docs.select(
        F.expr(_PR_SRC).alias("src"), F.expr(_PR_DST).alias("dst")
    ).distinct()
    und = pin(
        raw.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()  # one doc scan; reused by degree + orientation
    )
    deg = (
        und.select(F.col("a").alias("host"))
        .unionAll(und.select(F.col("b").alias("host")))
        .groupBy("host")
        .agg(F.count("*").alias("d"))
    )
    okey = deg.select(
        "host", (F.col("d") * _TRI_ORD + F.col("host")).alias("o")
    )
    orient = pin(
        und.join(okey.withColumnsRenamed({"host": "a", "o": "oa"}), "a")
        .join(okey.withColumnsRenamed({"host": "b", "o": "ob"}), "b")
        .select(
            F.when(F.col("oa") < F.col("ob"), F.col("a"))
            .otherwise(F.col("b"))
            .alias("s"),
            F.when(F.col("oa") < F.col("ob"), F.col("b"))
            .otherwise(F.col("a"))
            .alias("t"),
            F.greatest("oa", "ob").alias("t_o"),
        )  # wedge join + closing join both read it
    )
    e1, e2 = orient.alias("e1"), orient.alias("e2")
    wedge = e1.join(
        e2,
        (F.col("e1.s") == F.col("e2.s")) & (F.col("e1.t_o") < F.col("e2.t_o")),
    ).select(F.col("e1.t").alias("x"), F.col("e2.t").alias("y"))
    tri = wedge.join(
        orient.select(F.col("s").alias("x"), F.col("t").alias("y")),
        ["x", "y"],
        "inner",
    ).agg(F.count("*").alias("n_triangles"))
    wtot = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges")
    )
    counts = und.agg(F.count("*").alias("n_edges")).crossJoin(
        deg.agg(F.count("*").alias("n_nodes"))
    )
    return (
        counts.crossJoin(F.broadcast(wtot))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                3.0 * F.col("n_triangles") / F.col("n_wedges") * 1e6
            )
            .cast("long")
            .alias("gcc_micro"),
        )
    )


_SENT_TOP = 20  # most-duplicated passages reported
_SENT_PLEN = 8  # tokens per non-overlapping passage


@register(
    "boilerplate_sentence_inventory",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents
    ),
    ch AS (
        SELECT doc_id,
               array_to_string(tk[{_SENT_PLEN}*i+1:{_SENT_PLEN}*i+{_SENT_PLEN}], ' ')
                   AS passage
        FROM toks, LATERAL unnest(range(0, len(tk) // {_SENT_PLEN})) AS u(i)
    ),
    per_doc AS (
        SELECT DISTINCT doc_id, passage FROM ch
        WHERE length(passage) >= 20
    ),
    counts AS (
        SELECT passage, CAST(count(*) AS BIGINT) AS df,
               md5(passage) AS fp
        FROM per_doc GROUP BY passage
    )
    SELECT passage, df, fp FROM counts
    WHERE df >= 2
    ORDER BY df DESC, passage
    LIMIT {_SENT_TOP}
    """,
)
def boilerplate_sentence_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate discovery: the most-duplicated passages across the
    corpus (non-overlapping 8-token chunks, >=20 chars, per-doc
    deduplicated, document frequency >= 2) — the INVENTORY view that
    tells a curation team WHAT to strip before near-dup thresholds are
    tuned (cookie banners, subscription prompts, license footers),
    complementing `dedup_passage_exact` (which removes) and
    `c4_quality_rules` (which filters lines). On punctuated text the
    unit would be the sentence; the fixed-token chunk is the
    punctuation-free generalization. The md5 fingerprint column is
    what a downstream strip-list keys on.

    Scale shape: chunk explode → per-doc distinct → ONE passage-keyed
    hash agg (the exchange carries distinct passages, boilerplate
    collapsing map-side); top-k is TakeOrdered. At 100 TB the df >= 2
    filter drops the (dominant) unique-passage tail before any
    ordering."""
    docs = load_table(spark, "documents", sf_dir)

    # Let-bind the token array once per row (lang_id_multi discipline):
    # slicing `split(trim(text))` directly inside the chunk lambda
    # re-splits the whole document per chunk — O(tokens²/chunk) chars.
    def chunks(tk: Column) -> Column:
        nch = (F.size(tk) / _SENT_PLEN).cast("int")
        return F.when(
            nch > 0,
            F.transform(
                F.sequence(F.lit(0), nch - 1),
                lambda i: F.array_join(
                    F.slice(tk, i * _SENT_PLEN + 1, _SENT_PLEN), " "
                ),
            ),
        )

    # explode drops the NULL produced for docs shorter than one chunk
    # (sequence(0, -1) would otherwise generate a DESCENDING range).
    ch = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.array(F.split(F.trim(F.col("text")), " ")), chunks
            )[0]
        ).alias("passage"),
    )
    per_doc = (
        ch.filter(F.length("passage") >= 20)
        .select("doc_id", "passage")
        .distinct()
    )
    counts = per_doc.groupBy("passage").agg(F.count("*").alias("df"))
    return (
        counts.filter(F.col("df") >= 2)
        .select("passage", "df", F.md5("passage").alias("fp"))
        .orderBy(F.col("df").desc(), "passage")
        .limit(_SENT_TOP)
    )


@register(
    "quality_calibration_bins",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id, text,
               len({_WORDS_SQL}) AS ntok,
               CAST(len(list_filter({_WORDS_SQL},
                    w -> lower(w) IN {_QLR_STOPS})) AS DOUBLE)
                   / len({_WORDS_SQL}) AS stop_ratio,
               CAST(list_sum(list_transform({_WORDS_SQL}, w -> len(w)))
                    AS DOUBLE) / len({_WORDS_SQL}) AS avg_len,
               CAST(len(list_distinct({_WORDS_SQL})) AS DOUBLE)
                   / len({_WORDS_SQL}) AS uniq_ratio
        FROM documents
    ),
    scored AS (
        SELECT doc_id,
               CAST(round(round(1.0 / (1.0 + exp(-({_QLR_W[0]}
                     + {_QLR_W[1]} * ln(1 + ntok)
                     + {_QLR_W[2]} * stop_ratio
                     + {_QLR_W[3]} * avg_len
                     + {_QLR_W[4]} * uniq_ratio))), 6) * 1e6) AS BIGINT)
                   AS pred_micro,
               CASE WHEN round(0.4 * least(CAST(len(string_split(trim(text), ' ')) AS DOUBLE) / 64.0, 1.0)
                     + 0.4 * least(CAST(len(list_filter(string_split(trim(text), ' '),
                           t -> list_contains(['the','a','an','and','of','to','in','is','it','that'], lower(t)))) AS DOUBLE)
                           / len(string_split(trim(text), ' ')) * 4.0, 1.0)
                     + 0.2 * (CASE WHEN CAST(list_sum(list_transform(string_split(trim(text), ' '),
                           t -> length(t))) AS DOUBLE) / len(string_split(trim(text), ' '))
                           BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END),
                     4) >= 0.5 THEN 1 ELSE 0 END AS y
        FROM feats
    )
    SELECT CAST(least(pred_micro // 100000, 9) AS INT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(pred_micro) AS BIGINT) AS sum_pred_micro,
           CAST(sum(y) AS BIGINT) AS n_pos,
           CAST(sum(pred_micro) // count(*) AS BIGINT) AS mean_pred_micro,
           CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS pos_rate_micro
    FROM scored GROUP BY 1
    """,
)
def quality_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the logistic quality scorer: bucket
    predictions into 10 probability deciles and compare the mean
    predicted probability against the observed positive rate under the
    heuristic weak label (composite quality ≥ 0.5 — the label the
    distributed trainer fits). A well-calibrated filter has
    mean_pred ≈ pos_rate per bin; systematic gaps say the 0.5 keep
    threshold is not operating at the confidence the scores claim —
    the standard pre-deployment audit for any model-based filter.
    Predictions quantize to exact micro-units BEFORE binning and
    summing, so every per-bin statistic is exact-integer (means and
    rates via floored `div`).

    Scale shape: pure-map features + scoring, ONE hash aggregate with
    ≤10 keys (map-side partials absorb the corpus)."""
    from rust_cdc_spark.functions import text as TX

    docs = load_table(spark, "documents", sf_dir)
    w = F.expr(_WORDS_SPARK)
    ntok = F.size(w)
    stop_ratio = (
        F.size(
            F.filter(
                w, lambda x: F.lower(x).isin("the", "a", "of", "and", "to")
            )
        ).cast("double")
        / ntok
    )
    avg_len = (
        F.aggregate(
            F.transform(w, lambda x: F.length(x)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double")
        / ntok
    )
    uniq_ratio = F.size(F.array_distinct(w)).cast("double") / ntok
    z = (
        F.lit(_QLR_W[0])
        + _QLR_W[1] * F.log(1 + ntok)
        + _QLR_W[2] * stop_ratio
        + _QLR_W[3] * avg_len
        + _QLR_W[4] * uniq_ratio
    )
    pred_micro = F.round(
        F.round(1.0 / (1.0 + F.exp(-z)), 6) * 1e6
    ).cast("long")
    y = (TX.quality_score("text") >= 0.5).cast("int")
    scored = docs.select(pred_micro.alias("pred_micro"), y.alias("y"))
    return scored.groupBy(
        F.least(F.expr("pred_micro div 100000"), F.lit(9).cast("long"))
        .cast("int")
        .alias("bin")
    ).agg(
        F.count("*").alias("n"),
        F.sum("pred_micro").alias("sum_pred_micro"),
        F.sum("y").cast("long").alias("n_pos"),
        F.expr("sum(pred_micro) div count(*)").alias("mean_pred_micro"),
        F.expr("sum(y) * 1000000 div count(*)").alias("pos_rate_micro"),
    )


@register(
    "curriculum_difficulty_phases",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               CAST(len({_TOKENS_SQL}) * 1000000
                    + length(text) * 1000000
                      // greatest(len({_TOKENS_SQL}), 1) AS BIGINT)
                   AS difficulty_micro
        FROM documents
    )
    SELECT doc_id, difficulty_micro,
           CAST(ntile(4) OVER (ORDER BY difficulty_micro, doc_id) AS INT)
               AS phase
    FROM d
    """,
)
def curriculum_difficulty_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: every document gets an integer difficulty
    score (token count + mean token length in micro-units — longer
    documents with longer words train later) and an exact ntile(4)
    curriculum phase. Phase 1 feeds the early training steps, phase 4
    the late ones — the standard easy-to-hard schedule.

    Scale shape: the difficulty score is a pure-map expression, and the
    phase comes from `exact_global_ntile` (operators/ranks.py) — range
    partition + per-partition rank + broadcast offsets — NOT a global
    single-partition NTILE window (the oracle uses one because DuckDB
    runs on one box anyway; the plan gate forbids it in the engine)."""
    from rust_cdc_spark.operators.ranks import exact_global_ntile

    docs = load_table(spark, "documents", sf_dir)
    d = docs.select(
        "doc_id",
        (
            F.size(F.split(F.trim("text"), " ")).cast("long") * F.lit(1000000)
            + F.expr(
                "length(text) * 1000000"
                " div greatest(size(split(trim(text), ' ')), 1)"
            )
        ).alias("difficulty_micro"),
    )
    return exact_global_ntile(
        d, [F.col("difficulty_micro"), F.col("doc_id")], 4, "phase"
    ).select("doc_id", "difficulty_micro", "phase")


_HITS_ITERS = 2
_HITS_SCALE = 1_000_000


def _hits_iter_sql(prev_h: str, it: int) -> str:
    """One HITS round: authority from hubs, hub from authorities, each
    max-normalized to micro-units."""
    return f"""
    a{it}_raw AS (
        SELECT n.host,
               CAST(coalesce((SELECT sum(p.v) FROM edges e
                              JOIN {prev_h} p ON p.host = e.src
                              WHERE e.dst = n.host), 0) AS BIGINT) AS v
        FROM nodes n
    ),
    a{it}_m AS (SELECT greatest(max(v), 1) AS m FROM a{it}_raw),
    a{it} AS (
        SELECT r.host,
               CAST(r.v * {_HITS_SCALE} // m.m AS BIGINT) AS v
        FROM a{it}_raw r CROSS JOIN a{it}_m m
    ),
    h{it}_raw AS (
        SELECT n.host,
               CAST(coalesce((SELECT sum(a.v) FROM edges e
                              JOIN a{it} a ON a.host = e.dst
                              WHERE e.src = n.host), 0) AS BIGINT) AS v
        FROM nodes n
    ),
    h{it}_m AS (SELECT greatest(max(v), 1) AS m FROM h{it}_raw),
    h{it} AS (
        SELECT r.host,
               CAST(r.v * {_HITS_SCALE} // m.m AS BIGINT) AS v
        FROM h{it}_raw r CROSS JOIN h{it}_m m
    )"""


@register(
    "host_graph_hits",
    oracle=f"""
    WITH raw AS (
        SELECT DISTINCT {_PR_SRC} AS src, {_PR_DST} AS dst
        FROM documents
    ),
    edges AS (SELECT src, dst FROM raw WHERE src <> dst),
    nodes AS (
        SELECT DISTINCT src AS host FROM edges
        UNION SELECT DISTINCT dst FROM edges
    ),
    h0 AS (SELECT host, CAST({_HITS_SCALE} AS BIGINT) AS v FROM nodes),
    {",".join(_hits_iter_sql(f"h{i}", i + 1) for i in range(_HITS_ITERS))}
    SELECT n.host,
           CAST(a{_HITS_ITERS}.v AS BIGINT) AS authority_micro,
           CAST(h{_HITS_ITERS}.v AS BIGINT) AS hub_micro
    FROM nodes n
    JOIN a{_HITS_ITERS} ON a{_HITS_ITERS}.host = n.host
    JOIN h{_HITS_ITERS} ON h{_HITS_ITERS}.host = n.host
    """,
)
def host_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hub/authority scores over the same host link graph as
    `host_authority_pagerank` — the complementary trust signal (a page
    farm has hubs pointing at its own authorities; HITS separates the
    two roles where PageRank mixes them). Fixed 2 rounds, each score
    max-normalized into BIGINT micro-units with floor div (the max is
    a broadcast 1-row agg, never a collect), so the oracle replays
    both rounds as CTE chains value-for-value.

    Scale shape per half-round: one edge-keyed join against the
    |hosts|-sized score vector + one dst- (or src-) keyed agg + one
    scalar max — identical exchange budget to a PageRank round; the
    corpus is scanned once to build distinct edges (checkpointed,
    BPE-trainer discipline)."""
    docs = load_table(spark, "documents", sf_dir)
    raw = docs.select(
        F.expr(_PR_SRC).alias("src"), F.expr(_PR_DST).alias("dst")
    ).distinct()
    edges = pin(raw.filter(F.col("src") != F.col("dst")))
    nodes = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
    )

    def normalize(scores: DataFrame) -> DataFrame:
        m = scores.agg(
            F.greatest(F.max("v"), F.lit(1)).cast("long").alias("m")
        )
        return scores.crossJoin(F.broadcast(m)).select(
            "host", F.expr(f"v * {_HITS_SCALE} div m").cast("long").alias("v")
        )

    def push(scores: DataFrame, src_to_dst: bool) -> DataFrame:
        key, out = ("src", "dst") if src_to_dst else ("dst", "src")
        summed = (
            edges.join(scores.withColumnRenamed("host", key), key)
            .groupBy(F.col(out).alias("host"))
            .agg(F.sum("v").cast("long").alias("v"))
        )
        return nodes.join(summed, "host", "left").select(
            "host", F.coalesce(F.col("v"), F.lit(0)).cast("long").alias("v")
        )

    h = nodes.select("host", F.lit(_HITS_SCALE).cast("long").alias("v"))
    a = None
    for _ in range(_HITS_ITERS):
        a = normalize(push(h, src_to_dst=True))     # authority ← hubs
        h = normalize(push(a, src_to_dst=False))    # hub ← authorities
    return (
        nodes.join(a.withColumnRenamed("v", "authority_micro"), "host")
        .join(h.withColumnRenamed("v", "hub_micro"), "host")
        .select("host", "authority_micro", "hub_micro")
    )


# ── k-core decomposition (bounded peel) ─────────────────────────────
# Same synthetic host graph as PageRank/HITS, made undirected. K=3
# peels 41 → 12 → 2 → 0 at sf0.01, so 4 rounds reach the (empty)
# fixpoint; rounds_survived is the per-host "coreness depth" signal a
# crawl-curation pipeline uses to separate well-embedded hosts from
# leaf/spam periphery.
_KCORE_K = 3
_KCORE_ITERS = 4


def _kcore_iter_sql(prev: str, it: int) -> str:
    return f"""
    a{it} AS (
        SELECT n.u AS host FROM nb n
        JOIN {prev} x ON n.u = x.host
        JOIN {prev} y ON n.v = y.host
        GROUP BY n.u HAVING count(*) >= {_KCORE_K}
    )"""


@register(
    "host_graph_kcore",
    oracle=f"""
    WITH raw AS (
        SELECT DISTINCT {_PR_SRC} AS src, {_PR_DST} AS dst
        FROM documents
    ),
    edges AS (SELECT src, dst FROM raw WHERE src <> dst),
    nb AS (
        SELECT DISTINCT u, v FROM (
            SELECT src AS u, dst AS v FROM edges
            UNION ALL SELECT dst, src FROM edges
        )
    ),
    nodes AS (SELECT DISTINCT u AS host FROM nb),
    a0 AS (SELECT host FROM nodes),
    {",".join(_kcore_iter_sql(f"a{i}", i + 1) for i in range(_KCORE_ITERS))},
    deg AS (SELECT u AS host, CAST(count(*) AS BIGINT) AS degree
            FROM nb GROUP BY u)
    SELECT n.host, d.degree,
           (a{_KCORE_ITERS}.host IS NOT NULL) AS in_kcore,
           CAST({" + ".join(
               f"CASE WHEN a{i + 1}.host IS NOT NULL THEN 1 ELSE 0 END"
               for i in range(_KCORE_ITERS))} AS INT) AS rounds_survived
    FROM nodes n
    JOIN deg d ON d.host = n.host
    {" ".join(f"LEFT JOIN a{i + 1} ON a{i + 1}.host = n.host"
              for i in range(_KCORE_ITERS))}
    """,
)
def host_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peel (K={k}, {it} rounds) over the undirected
    host graph — the graph-density curation signal: hosts that survive
    repeated "drop every node with < K surviving neighbors" rounds sit
    in densely-interlinked communities; early-peeled hosts are leaves
    or isolated spam spokes. `rounds_survived` is the peel depth
    (monotone in the true core number); at sf0.01 the peel reaches the
    empty fixpoint inside the budget (41 → 12 → 2 → 0), so the bounded
    answer IS the exact 3-core there.

    Scale shape per round: the alive set is |hosts|-sized; one
    host-keyed double semi-join of the (checkpointed) neighbor table
    against it + one u-keyed count agg — no corpus rescan (the one doc
    scan builds distinct edges), no all-pairs term anywhere. Set
    membership is exact — no scores, so no numeric tolerance at all.
    Real deployments size ITERS ~ log(peel diameter); a fixpoint loop
    would compare alive-counts per round (one scalar action each) —
    kept fixed here so the DuckDB oracle replays the peel as unrolled
    CTEs (the PageRank/HITS discipline).""".replace(
        "{k}", str(_KCORE_K)
    ).replace("{it}", str(_KCORE_ITERS))
    docs = load_table(spark, "documents", sf_dir)
    raw = docs.select(
        F.expr(_PR_SRC).alias("src"), F.expr(_PR_DST).alias("dst")
    ).distinct()
    edges = raw.filter(F.col("src") != F.col("dst"))
    nb = pin(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .union(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .distinct()  # host²-bounded; frees the doc-scan lineage
    )
    nodes = nb.select(F.col("u").alias("host")).distinct()
    deg = nb.groupBy(F.col("u").alias("host")).agg(
        F.count("*").cast("bigint").alias("degree")
    )
    alive = nodes
    rounds: list[DataFrame] = []
    for _ in range(_KCORE_ITERS):
        alive = (
            nb.join(alive.withColumnRenamed("host", "u"), "u")
            .join(alive.withColumnRenamed("host", "v"), "v")
            .groupBy(F.col("u").alias("host"))
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") >= _KCORE_K)
            .select("host")
        )
        rounds.append(alive)
    out = nodes.join(deg, "host")
    flags = []
    for i, r in enumerate(rounds):
        flag = f"__r{i + 1}"
        out = out.join(
            r.withColumn(flag, F.lit(True)), "host", "left"
        )
        flags.append(flag)
    survived = sum(
        (F.when(F.col(f), 1).otherwise(0) for f in flags), F.lit(0)
    )
    return out.select(
        "host",
        "degree",
        F.col(flags[-1]).isNotNull().alias("in_kcore"),
        survived.cast("int").alias("rounds_survived"),
    )


# ── RAKE keyword extraction ─────────────────────────────────────────
_RAKE_STOP = ("a", "the")
_RAKE_TOPK = 25
_RAKE_STOP_SQL = ", ".join(f"'{s}'" for s in _RAKE_STOP)


@register(
    "keyword_rake_top",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, i AS pos, t[i] AS w
        FROM (SELECT doc_id, {_WORDS_SQL} AS t FROM documents),
             LATERAL unnest(range(1, len(t) + 1)) AS r(i)
    ),
    marked AS (
        SELECT doc_id, pos, w,
               CASE WHEN w IN ({_RAKE_STOP_SQL}) THEN 1 ELSE 0 END AS st,
               sum(CASE WHEN w IN ({_RAKE_STOP_SQL}) THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS pid
        FROM tok
    ),
    cand AS (SELECT doc_id, pid, pos, w FROM marked WHERE st = 0),
    plen AS (
        SELECT doc_id, pid, count(*) AS plen
        FROM cand GROUP BY doc_id, pid
    ),
    wscore AS (
        SELECT w, (1000000 * sum(plen)) // count(*) AS wmicro
        FROM cand c JOIN plen p USING (doc_id, pid)
        GROUP BY w
    ),
    pinst AS (
        SELECT c.doc_id, c.pid,
               string_agg(c.w, ' ' ORDER BY c.pos) AS phrase,
               sum(s.wmicro) AS smicro,
               count(*) AS nw
        FROM cand c JOIN wscore s USING (w)
        GROUP BY c.doc_id, c.pid
    ),
    agg AS (
        SELECT phrase,
               CAST(count(*) AS BIGINT) AS n_occurrences,
               CAST(max(nw) AS BIGINT) AS n_words,
               CAST(max(smicro) AS BIGINT) AS score_micro
        FROM pinst GROUP BY phrase
    )
    SELECT phrase, n_occurrences, n_words, score_micro
    FROM agg ORDER BY score_micro DESC, phrase LIMIT {_RAKE_TOPK}
    """,
)
def keyword_rake_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs; each word scores
    degree/frequency (degree = Σ length of phrases it appears in —
    words that live in long multi-word phrases outrank equally-frequent
    words that appear alone); a phrase scores the sum of its word
    scores. The corpus-level top-{k} is the "what is this corpus
    about" signal curation dashboards surface per source/snapshot.

    Scale shape: one posexplode; phrase ids are a per-doc cumulative
    stopword count (doc-partitioned window, never global); word scores
    are ONE vocab-keyed agg over candidates ⋈ (doc,pid)-keyed phrase
    lengths — both co-keyed shuffles; phrase assembly groups by
    (doc, pid) with an in-group sort_array (bounded by phrase length);
    the final distinct-phrase agg is |distinct phrases|-sized and the
    top-k is a TakeOrdered heap, not a global sort. Word score
    (1e6·deg) div freq is an exact integer — phrase scores and
    ordering are engine-exact with no float anywhere.""".replace(
        "{k}", str(_RAKE_TOPK)
    )
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(
        "doc_id",
        F.posexplode(F.expr(_WORDS_SPARK)).alias("pos0", "w"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    st = F.when(F.col("w").isin(*_RAKE_STOP), 1).otherwise(0)
    marked = tok.withColumn("st", st).withColumn(
        "pid",
        F.sum("st").over(
            Window.partitionBy("doc_id")
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    cand = marked.filter(F.col("st") == 0).select("doc_id", "pid", "pos", "w")
    plen = cand.groupBy("doc_id", "pid").agg(F.count("*").alias("plen"))
    wscore = (
        cand.join(plen, ["doc_id", "pid"])
        .groupBy("w")
        .agg(
            F.expr("(1000000 * sum(plen)) div count(*)").alias("wmicro")
        )
    )
    pinst = (
        cand.join(wscore, "w")
        .groupBy("doc_id", "pid")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
            F.sum("wmicro").alias("smicro"),
            F.count("*").alias("nw"),
        )
    )
    agg = pinst.groupBy("phrase").agg(
        F.count("*").cast("bigint").alias("n_occurrences"),
        F.max("nw").cast("bigint").alias("n_words"),
        F.max("smicro").cast("bigint").alias("score_micro"),
    )
    return agg.orderBy(
        F.col("score_micro").desc(), "phrase"
    ).limit(_RAKE_TOPK)


@register(
    "text_readability_scores",
    # Flesch-Kincaid grade in integer micro-units: 0.39·wps + 11.8·spw
    # − 15.59, with 11.8 = 59/5 and all divisions integer floor — no
    # float quotient ever rounds.
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                AS BIGINT) AS n_syllables,
           CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                AS BIGINT) AS n_sentences,
           CAST(
             39 * (len({_TOKENS_SQL}) * 1000000
                   // greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
                // 100
             + 59 * (len(regexp_extract_all(lower(text), '[aeiouy]+'))
                     * 1000000 // len({_TOKENS_SQL})) // 5
             - 15590000 AS BIGINT) AS fk_grade_micro
    FROM documents
    """,
)
def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade-level readability — the classic curation
    signal for audience targeting and for spotting degenerate text
    (negative grades = fragment soup; very high = run-on machine
    output). Syllables are approximated as vowel groups (the standard
    dictionary-free heuristic), sentences as terminal-punctuation
    runs, clamped at 1. Entirely map-side integer arithmetic:
    grade_micro = 39·wps_micro/100 + 59·spw_micro/5 − 15.59e6 with
    floor division — bit-identical across engines, no float quotient."""
    docs = load_table(spark, "documents", sf_dir)
    counted = docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), " ")).cast("long").alias("n_words"),
        F.regexp_count(F.lower(F.col("text")), F.lit(r"[aeiouy]+"))
        .cast("long").alias("n_syllables"),
        F.greatest(F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1))
        .cast("long").alias("n_sentences"),
    )
    return counted.select(
        "doc_id", "n_words", "n_syllables", "n_sentences",
        F.expr(
            "39 * (n_words * 1000000 div n_sentences) div 100"
            " + 59 * (n_syllables * 1000000 div n_words) div 5"
            " - 15590000"
        ).cast("long").alias("fk_grade_micro"),
    )


# ── Kolmogorov-Smirnov drift between source cohorts ─────────────────
# Same reference/candidate split as corpus_drift_kl (src0-src9 = the
# trusted reference snapshot).
_KS_REF_SQL = ", ".join(f"'src{i}'" for i in range(10))


@register(
    "quality_ks_drift",
    oracle=f"""
    WITH tagged AS (
        SELECT n_chars AS v,
               CASE WHEN source IN ({_KS_REF_SQL}) THEN 1 ELSE 0 END AS a
        FROM documents
    ),
    h AS (
        SELECT v,
               CAST(sum(a) AS BIGINT) AS ca,
               CAST(sum(1 - a) AS BIGINT) AS cb
        FROM tagged GROUP BY v
    ),
    cum AS (
        SELECT v,
               sum(ca) OVER (ORDER BY v) AS cum_a,
               sum(cb) OVER (ORDER BY v) AS cum_b
        FROM h
    ),
    tot AS (
        SELECT CAST(sum(a) AS BIGINT) AS n_a,
               CAST(count(*) - sum(a) AS BIGINT) AS n_b
        FROM tagged
    ),
    scored AS (
        SELECT c.v, t.n_a, t.n_b,
               abs(c.cum_a * t.n_b - c.cum_b * t.n_a) AS diff
        FROM cum c CROSS JOIN tot t
    )
    SELECT n_a, n_b,
           CAST(diff AS BIGINT) AS ks_num,
           CAST((1000000 * diff) // (n_a * n_b) AS BIGINT) AS ks_micro,
           CAST(v AS BIGINT) AS at_value
    FROM scored ORDER BY diff DESC, v LIMIT 1
    """,
)
def quality_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test between the trusted
    reference sources (src0-src9, the corpus_drift_kl cohort) and the
    incoming candidate cohort, over the document-length distribution —
    the distribution-free "did the new crawl change shape" gate that
    complements KL (which needs binning and sees only token mix). KS
    D = max_v |F_ref(v) − F_cand(v)|; the statistic is computed as the
    exact INTEGER max |cumA·nB − cumB·nA| so both engines agree
    bit-for-bit (ks_micro = 1e6·D floor-divided; at_value = the
    smallest length achieving the max).

    Scale shape: one map-side-combined (value, cohort) histogram agg;
    the cumulative CDFs are ONE window over the distinct-VALUE
    histogram (bounded by the length range, not the corpus — the
    length_quantile_filter pattern, allow-listed); the argmax is a
    TakeOrdered(1) heap over that same bounded frame — one pass, no
    scalar-agg + equality re-join. Int64 bound:
    cum·n < 9.2e18 holds to ~3e9 docs per cohort; past that, quantize
    the CDF to per-mille first."""
    docs = load_table(spark, "documents", sf_dir)
    tagged = docs.select(
        F.col("n_chars").alias("v"),
        F.when(F.col("source").isin(*[f"src{i}" for i in range(10)]), 1)
        .otherwise(0)
        .alias("a"),
    )
    h = tagged.groupBy("v").agg(
        F.sum("a").cast("bigint").alias("ca"),
        F.sum(1 - F.col("a")).cast("bigint").alias("cb"),
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = h.select(
        "v",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    tot = tagged.agg(
        F.sum("a").cast("bigint").alias("n_a"),
        (F.count("*") - F.sum("a")).cast("bigint").alias("n_b"),
    )
    scored = cum.crossJoin(F.broadcast(tot)).select(
        "v",
        "n_a",
        "n_b",
        F.abs(
            F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")
        ).alias("diff"),
    )
    # argmax as a TakeOrdered(1) heap over the bounded histogram frame
    # — one pass over `scored`, no scalar-agg + equality re-join (that
    # shape executed the window subtree twice).
    return (
        scored.orderBy(F.col("diff").desc(), "v")
        .limit(1)
        .select(
            "n_a",
            "n_b",
            F.col("diff").cast("bigint").alias("ks_num"),
            F.expr("(1000000 * diff) div (n_a * n_b)")
            .cast("bigint")
            .alias("ks_micro"),
            F.col("v").cast("bigint").alias("at_value"),
        )
    )


# ── Bloom-filter decontamination probe ──────────────────────────────
# A scale variant of contamination_ngram_overlap: when the benchmark
# shingle set is too big to broadcast as exact keys, a Bloom bitset of
# fixed size M does the first pass and the exact join runs only on the
# flagged residue. This query builds the filter, probes the corpus,
# and audits the false-positive rate against exact membership — the
# accuracy-vs-size evidence for choosing M (same approx-operator-QA
# pattern as the LSH/minhash/count-min audits).
_BLOOM_M = 16384  # bits
# (a, b) affine derivations of the K=3 positions from ONE base hash —
# the MinHash "one hash + affine permutations" discipline. h < 2^31 and
# a < 2^32, so h·a < 2^63 (no int64 wrap).
_BLOOM_HASHES = (
    (2654435761, 97),
    (2246822519, 1013904223),
    (3266489917, 374761393),
)
_RH_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(string_split({s}, ''),"
    " c -> CAST(ascii(c) AS BIGINT))),"
    " (a, b) -> (a * 31 + b) % 2147483647)"
)
_RH_SPARK = (
    "aggregate(filter(split({s}, ''), c -> c != ''),"
    " CAST(0 AS BIGINT), (a, c) -> (a * 31 + ascii(c)) % 2147483647)"
)
_POS_SQL = ", ".join(
    f"(h * {a} + {b}) % {_BLOOM_M} AS p{j}"
    for j, (a, b) in enumerate(_BLOOM_HASHES)
)


@register(
    "contamination_bloom_probe",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS words FROM documents
               WHERE len({_WORDS_SQL}) >= {_CONTAM_K}),
    sh AS (
        SELECT doc_id,
               array_to_string(words[(i+1):(i+{_CONTAM_K})], ' ') AS s
        FROM w, LATERAL (
            SELECT unnest(range(0, len(words) - {_CONTAM_K} + 1)) AS i)
    ),
    benchh AS (
        SELECT DISTINCT {_RH_SQL.format(s="s")} AS h
        FROM sh WHERE doc_id % {_BENCH_MOD} = 0
    ),
    bits AS (
        SELECT DISTINCT p FROM (
            SELECT unnest([{", ".join(f"(h * {a} + {b}) % {_BLOOM_M}"
                                      for a, b in _BLOOM_HASHES)}]) AS p
            FROM benchh)
    ),
    probe AS (
        SELECT DISTINCT {_RH_SQL.format(s="s")} AS h
        FROM sh WHERE doc_id % {_BENCH_MOD} <> 0
    ),
    pp AS (SELECT h, {_POS_SQL} FROM probe),
    flagged AS (
        SELECT pp.h,
               ({" AND ".join(
                   f"EXISTS (SELECT 1 FROM bits WHERE bits.p = pp.p{j})"
                   for j in range(len(_BLOOM_HASHES)))}) AS maybe,
               EXISTS (SELECT 1 FROM benchh b WHERE b.h = pp.h) AS truth
        FROM pp
    )
    SELECT CAST(count(*) AS BIGINT) AS n_probe,
           CAST(sum(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged,
           CAST(sum(CASE WHEN truth THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true,
           CAST(sum(CASE WHEN maybe AND NOT truth THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           CAST((1000000 * sum(CASE WHEN maybe AND NOT truth
                                    THEN 1 ELSE 0 END))
                // (count(*) - sum(CASE WHEN truth THEN 1 ELSE 0 END))
                AS BIGINT) AS fp_micro
    FROM flagged
    """,
)
def contamination_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination pre-pass with a measured
    false-positive audit: the benchmark's shingle hashes set K={k}
    bits each in an M={m}-bit filter; corpus shingles are flagged when
    all K positions are set; exact membership grades the filter. At
    100 TB the exact benchmark key set may be too large to broadcast —
    the M-bit filter is CONSTANT-size, and only flagged shingles
    (true hits + the fp_micro-rate residue this query measures) reach
    the exact verification join.

    Scale shape: shingles dedupe FIRST (hash agg), so the char-fold
    base hash (the text_rolling_hash fold — portable exact integer
    arithmetic) runs once per distinct shingle; the filter contents
    are ≤ 3·|bench shingles| distinct positions capped at M rows —
    broadcast; the probe is K broadcast semi-marks plus one broadcast
    truth mark, all in one pass, then a scalar agg. Positions are
    affine maps of one base hash (h·a+b mod M) — no per-hash text
    rescan. fp_micro is an exact integer ratio.""".replace(
        "{k}", str(len(_BLOOM_HASHES))
    ).replace("{m}", str(_BLOOM_M))
    docs = load_table(spark, "documents", sf_dir)
    w = docs.select("doc_id", F.expr(_WORDS_SPARK).alias("words")).filter(
        F.size("words") >= _CONTAM_K
    )
    sh = w.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(words) - {_CONTAM_K}),"
                f" i -> concat_ws(' ', slice(words, i+1, {_CONTAM_K})))"
            )
        ).alias("s"),
    )
    rh = F.expr(_RH_SPARK.format(s="s")).alias("h")
    benchh = (
        sh.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select(rh)
        .distinct()
    )
    bits = (
        benchh.select(
            F.explode(
                F.array(
                    *[
                        (F.col("h") * a + b) % _BLOOM_M
                        for a, b in _BLOOM_HASHES
                    ]
                )
            ).alias("p")
        )
        .distinct()
        .withColumn("set_", F.lit(True))
    )
    probe = (
        sh.filter(F.col("doc_id") % _BENCH_MOD != 0)
        .select(rh)
        .distinct()
    )
    pp = probe.select(
        "h",
        *[
            ((F.col("h") * a + b) % _BLOOM_M).alias(f"p{j}")
            for j, (a, b) in enumerate(_BLOOM_HASHES)
        ],
    )
    for j in range(len(_BLOOM_HASHES)):
        pp = pp.join(
            F.broadcast(
                bits.select(
                    F.col("p").alias(f"p{j}"), F.col("set_").alias(f"m{j}")
                )
            ),
            f"p{j}",
            "left",
        )
    truth = benchh.withColumn("truth_", F.lit(True))
    flagged = pp.join(F.broadcast(truth), "h", "left").select(
        F.expr(
            " AND ".join(
                f"m{j} IS NOT NULL" for j in range(len(_BLOOM_HASHES))
            )
        ).alias("maybe"),
        F.col("truth_").isNotNull().alias("truth"),
    )
    one = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return flagged.agg(
        F.count("*").cast("bigint").alias("n_probe"),
        one(F.col("maybe")).cast("bigint").alias("n_flagged"),
        one(F.col("truth")).cast("bigint").alias("n_true"),
        one(F.col("maybe") & ~F.col("truth"))
        .cast("bigint")
        .alias("n_false_pos"),
    ).select(
        "n_probe",
        "n_flagged",
        "n_true",
        "n_false_pos",
        F.expr("(1000000 * n_false_pos) div (n_probe - n_true)")
        .cast("bigint")
        .alias("fp_micro"),
    )


# ── Round 6: label-propagation communities ─────────────────────────────

_LPA_ITERS = 3


def _lpa_iter_sql(prev: str, cur: int) -> str:
    """One synchronous LPA round as a CTE pair: neighbor label counts,
    then per-host argmax with (count DESC, label ASC) tie-break."""
    return f"""
    cnt{cur} AS (
        SELECT s.host, l.lab, count(*) AS c
        FROM sym s JOIN {prev} l ON l.host = s.nb
        GROUP BY s.host, l.lab
    ),
    l{cur} AS (
        SELECT host, lab FROM (
            SELECT host, lab,
                   row_number() OVER (PARTITION BY host
                                      ORDER BY c DESC, lab) AS rn
            FROM cnt{cur}
        ) WHERE rn = 1
    )"""


@register(
    "host_graph_label_propagation",
    oracle=f"""
    WITH raw AS (
        SELECT DISTINCT {_PR_SRC} AS src, {_PR_DST} AS dst
        FROM documents
    ),
    edges AS (SELECT src, dst FROM raw WHERE src <> dst),
    sym AS (
        SELECT src AS host, dst AS nb FROM edges
        UNION
        SELECT dst AS host, src AS nb FROM edges
    ),
    l0 AS (SELECT DISTINCT host, host AS lab FROM sym),
    {",".join(_lpa_iter_sql(f"l{i}", i + 1) for i in range(_LPA_ITERS))},
    sizes AS (
        SELECT lab, CAST(count(*) AS BIGINT) AS community_size
        FROM l{_LPA_ITERS} GROUP BY lab
    )
    SELECT l.host, CAST(l.lab AS BIGINT) AS community,
           s.community_size
    FROM l{_LPA_ITERS} l JOIN sizes s USING (lab)
    """,
)
def host_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities over the undirected
    host link graph — the cheap community detector curation pipelines
    run next to PageRank/HITS (authority) and k-core (density): link
    farms and mirror clusters collapse into one community label in a
    handful of rounds. FIXED {it} synchronous rounds, labels
    initialized to the host id, each round reassigning every host the
    most frequent neighbor label with a deterministic
    (count DESC, label ASC) tie-break — fully replayed by the oracle
    as unrolled CTEs, no randomness, no convergence test.

    Scale shape per round: one nb-keyed join of the |hosts|-sized
    label table to the symmetrized edge list and one (host, label)
    hash agg, then a bounded per-host argmax window partitioned BY
    HOST — web-scale host graphs are millions of rows, comfortably
    distributed; the doc scan happens once to build distinct edges
    (checkpointed, the PageRank discipline).""".replace(
        "{it}", str(_LPA_ITERS)
    )
    docs = load_table(spark, "documents", sf_dir)
    raw = docs.select(
        F.expr(_PR_SRC).alias("src"), F.expr(_PR_DST).alias("dst")
    ).distinct()
    edges = pin(raw.filter(F.col("src") != F.col("dst")))
    sym = (
        edges.select(F.col("src").alias("host"), F.col("dst").alias("nb"))
        .union(edges.select(F.col("dst").alias("host"),
                            F.col("src").alias("nb")))
        .distinct()
    )
    lab = sym.select("host").distinct().select(
        "host", F.col("host").alias("lab")
    )
    for _ in range(_LPA_ITERS):
        cnt = (
            sym.join(lab.withColumnRenamed("host", "nb"), "nb")
            .groupBy("host", "lab")
            .agg(F.count("*").alias("c"))
        )
        lab = (
            cnt.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("host")
                    .orderBy(F.col("c").desc(), "lab")
                ),
            )
            .filter(F.col("rn") == 1)
            .select("host", "lab")
        )
    sizes = lab.groupBy("lab").agg(
        F.count("*").cast("bigint").alias("community_size")
    )
    return lab.join(sizes, "lab").select(
        "host",
        F.col("lab").cast("bigint").alias("community"),
        "community_size",
    )


@register(
    "host_graph_modularity",
    # Newman modularity of the LPA community assignment:
    #   Q = Σ_c (e_c/m − (d_c/2m)²)
    # over the symmetrized simple graph (m = |undirected edges|, e_c =
    # intra-community edges, d_c = total degree in c). Exact rational
    # arithmetic: Q·10⁶ = Σ_c (e_c·4m − d_c²)·10⁶ / (4m²) with every
    # numerator term BIGINT, one integer division at the end — no
    # doubles anywhere.
    oracle=f"""
    WITH raw AS (
        SELECT DISTINCT {_PR_SRC} AS src, {_PR_DST} AS dst
        FROM documents
    ),
    edges AS (SELECT src, dst FROM raw WHERE src <> dst),
    sym AS (
        SELECT src AS host, dst AS nb FROM edges
        UNION
        SELECT dst AS host, src AS nb FROM edges
    ),
    l0 AS (SELECT DISTINCT host, host AS lab FROM sym),
    {",".join(_lpa_iter_sql(f"l{i}", i + 1) for i in range(_LPA_ITERS))},
    und AS (
        SELECT host AS a, nb AS b FROM sym WHERE host < nb
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
    intra AS (
        SELECT la.lab, CAST(count(*) AS BIGINT) AS e_c
        FROM und u
        JOIN l{_LPA_ITERS} la ON la.host = u.a
        JOIN l{_LPA_ITERS} lb ON lb.host = u.b
        WHERE la.lab = lb.lab
        GROUP BY la.lab
    ),
    deg AS (
        SELECT l.lab, CAST(count(*) AS BIGINT) AS d_c
        FROM sym s JOIN l{_LPA_ITERS} l ON l.host = s.host
        GROUP BY l.lab
    ),
    terms AS (
        SELECT d.lab,
               coalesce(i.e_c, 0) AS e_c,
               d.d_c
        FROM deg d LEFT JOIN intra i ON i.lab = d.lab
    )
    SELECT CAST((SELECT count(*) FROM terms) AS BIGINT) AS n_communities,
           (SELECT m FROM m) AS n_edges,
           CAST((SELECT sum(e_c) FROM terms) AS BIGINT) AS intra_edges,
           CAST((SELECT sum(e_c * 4 * m.m - d_c * d_c) * 1000000
                 FROM terms, m) // (SELECT 4 * m * m FROM m)
                AS BIGINT) AS modularity_micro
    """,
)
def host_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the label-propagation communities — the
    standard "is this partition better than random" score that makes
    `host_graph_label_propagation` *evaluable* (the approx-operator-QA
    pattern: every clustering the pipeline ships gets a quality
    number). Q = Σ_c (e_c/m − (d_c/2m)²) computed entirely in exact
    BIGINT rational arithmetic — numerators scaled by 4m·10⁶, ONE
    integer division at the end, so both engines agree bit-for-bit.

    Scale shape: re-runs the 3 LPA rounds (host-scale joins), then an
    edge→community join and two |communities|-sized aggs; the scalar
    assembly is broadcast 1-row frames. Nothing beyond the LPA cost
    itself."""
    docs = load_table(spark, "documents", sf_dir)
    raw = docs.select(
        F.expr(_PR_SRC).alias("src"), F.expr(_PR_DST).alias("dst")
    ).distinct()
    edges = pin(raw.filter(F.col("src") != F.col("dst")))
    sym = (
        edges.select(F.col("src").alias("host"), F.col("dst").alias("nb"))
        .union(edges.select(F.col("dst").alias("host"),
                            F.col("src").alias("nb")))
        .distinct()
    )
    lab = sym.select("host").distinct().select(
        "host", F.col("host").alias("lab")
    )
    for _ in range(_LPA_ITERS):
        cnt = (
            sym.join(lab.withColumnRenamed("host", "nb"), "nb")
            .groupBy("host", "lab")
            .agg(F.count("*").alias("c"))
        )
        lab = (
            cnt.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("host")
                    .orderBy(F.col("c").desc(), "lab")
                ),
            )
            .filter(F.col("rn") == 1)
            .select("host", "lab")
        )
    und = sym.filter(F.col("host") < F.col("nb")).select(
        F.col("host").alias("a"), F.col("nb").alias("b")
    )
    m = und.agg(F.count("*").cast("bigint").alias("m"))
    la = lab.select(F.col("host").alias("a"), F.col("lab").alias("lab_a"))
    lb = lab.select(F.col("host").alias("b"), F.col("lab").alias("lab_b"))
    intra = (
        und.join(la, "a").join(lb, "b")
        .filter(F.col("lab_a") == F.col("lab_b"))
        .groupBy(F.col("lab_a").alias("lab"))
        .agg(F.count("*").cast("bigint").alias("e_c"))
    )
    deg = (
        sym.join(lab, "host")
        .groupBy("lab")
        .agg(F.count("*").cast("bigint").alias("d_c"))
    )
    terms = deg.join(intra, "lab", "left").select(
        "lab",
        F.coalesce(F.col("e_c"), F.lit(0)).cast("bigint").alias("e_c"),
        "d_c",
    )
    summed = terms.crossJoin(F.broadcast(m)).agg(
        F.count("*").cast("bigint").alias("n_communities"),
        F.max("m").cast("bigint").alias("n_edges"),
        F.sum("e_c").cast("bigint").alias("intra_edges"),
        F.sum(
            (F.col("e_c") * 4 * F.col("m") - F.col("d_c") * F.col("d_c"))
        ).cast("bigint").alias("num"),
    )
    return summed.select(
        "n_communities", "n_edges", "intra_edges",
        F.expr("(num * 1000000) div (4 * n_edges * n_edges)")
        .cast("bigint").alias("modularity_micro"),
    )


@register(
    "host_graph_adamic_adar",
    # Adamic–Adar link prediction over the host graph: for every
    # non-adjacent pair (u, v) with ≥1 common neighbor, the common-
    # neighbor count and the AA score Σ_z 1/ln(deg z). Each z's weight
    # is rounded ONCE to integer micro-units (one double op per node),
    # so the per-pair sums are exact BIGINT — summation order can't
    # split the engines.
    oracle=f"""
    WITH raw AS (
        SELECT DISTINCT {_PR_SRC} AS src, {_PR_DST} AS dst
        FROM documents
    ),
    und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM raw WHERE src <> dst
    ),
    adj AS (
        SELECT a AS z, b AS n FROM und
        UNION ALL SELECT b, a FROM und
    ),
    deg AS (
        SELECT z, CAST(count(*) AS BIGINT) AS d,
               CAST(round(1000000.0 / ln(count(*))) AS BIGINT)
                   AS w_micro
        FROM adj GROUP BY z
    ),
    wedge AS (
        SELECT a1.n AS u, a2.n AS v, a1.z
        FROM adj a1 JOIN adj a2
          ON a1.z = a2.z AND a1.n < a2.n
    )
    SELECT w.u, w.v,
           CAST(count(*) AS BIGINT) AS common_neighbors,
           CAST(sum(d.w_micro) AS BIGINT) AS aa_micro
    FROM wedge w
    JOIN deg d ON d.z = w.z
    LEFT JOIN und e ON e.a = w.u AND e.b = w.v
    WHERE e.a IS NULL
    GROUP BY w.u, w.v
    """,
)
def host_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction on the host link graph: every
    non-adjacent host pair sharing ≥1 neighbor, scored by common-
    neighbor count and Σ 1/ln(deg) over the shared neighbors — the
    classic "which links are missing" primitive behind crawl-frontier
    prioritization and link-spam neighborhood analysis (AA discounts
    promiscuous hubs that common-neighbor count overcounts). A common
    neighbor has degree ≥ 2, so ln(deg) > 0 by construction; each
    node's 1/ln weight is rounded once to micro-units making the pair
    sums exact integers.

    Scale shape: wedges enumerate at the shared neighbor z (same
    fan-out bound as host_graph_triangles — df-cap z at web scale);
    the existing-edge exclusion is a broadcast-able anti join on the
    model-scale edge table; one (u,v)-keyed agg."""
    docs = load_table(spark, "documents", sf_dir)
    raw = docs.select(
        F.expr(_PR_SRC).alias("src"), F.expr(_PR_DST).alias("dst")
    ).distinct()
    und = pin(
        raw.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()  # one doc scan; adj + exclusion reuse it
    )
    adj = und.select(F.col("a").alias("z"), F.col("b").alias("n")).unionAll(
        und.select(F.col("b").alias("z"), F.col("a").alias("n"))
    )
    # deg-1 nodes have ln(deg)=0; they can never be a wedge centre
    # (two distinct neighbours needed) but ANSI mode evaluates the
    # division before the join filters them — NULL them out instead.
    deg = adj.groupBy("z").agg(
        F.round(
            1_000_000.0 / F.nullif(F.log(F.count("*")), F.lit(0.0))
        ).cast("long").alias("w_micro")
    )
    a2 = adj.select(F.col("z").alias("z2"), F.col("n").alias("v"))
    wedge = adj.join(
        a2, (F.col("z") == F.col("z2")) & (F.col("n") < F.col("v"))
    ).select(F.col("n").alias("u"), "v", "z")
    scored = (
        wedge.join(F.broadcast(deg), "z")
        .groupBy("u", "v")
        .agg(
            F.count("*").cast("long").alias("common_neighbors"),
            F.sum("w_micro").cast("long").alias("aa_micro"),
        )
    )
    return scored.join(
        und,
        (F.col("u") == F.col("a")) & (F.col("v") == F.col("b")),
        "left_anti",
    )


_BFS_MAX_HOP = 8


@register(
    "host_graph_bfs_hops",
    # Multi-hop reachability profile: BFS from the smallest host id,
    # min-hop distance per reached host, reported as a (hop → count)
    # histogram. The oracle is a recursive CTE (UNION-dedup on
    # (host, hop), depth-capped) folded to min hop; Spark runs the
    # same depth cap as a fixed number of min-hop relaxation rounds.
    oracle=f"""
    WITH RECURSIVE raw AS (
        SELECT DISTINCT {_PR_SRC} AS src, {_PR_DST} AS dst
        FROM documents
    ),
    und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM raw WHERE src <> dst
    ),
    adj AS (
        SELECT a AS s, b AS t FROM und UNION ALL SELECT b, a FROM und
    ),
    bfs(host, hop) AS (
        SELECT min(a), 0 FROM und
        UNION
        SELECT adj.t, bfs.hop + 1
        FROM bfs JOIN adj ON adj.s = bfs.host
        WHERE bfs.hop < {_BFS_MAX_HOP}
    ),
    dist AS (
        SELECT host, CAST(min(hop) AS BIGINT) AS hop
        FROM bfs WHERE host IS NOT NULL GROUP BY host
    )
    SELECT hop, CAST(count(*) AS BIGINT) AS n_hosts
    FROM dist GROUP BY hop
    """,
)
def host_graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first reachability from the lowest-numbered host: how
    many hosts sit at each hop distance (min-hop, depth ≤ 8) — the
    connectivity profile behind crawl-depth budgeting and "is the
    link graph one ball or many islands" diagnostics, and the repo's
    recursive-query surface (the oracle IS a recursive CTE; Spark
    executes the same semantics as a fixed number of relaxation
    rounds, see :func:`bfs_hop_histogram`)."""
    docs = load_table(spark, "documents", sf_dir)
    raw = docs.select(
        F.expr(_PR_SRC).alias("src"), F.expr(_PR_DST).alias("dst")
    )
    return bfs_hop_histogram(raw)


def bfs_hop_histogram(raw: DataFrame) -> DataFrame:
    """(src, dst) links → (hop, n_hosts): min-hop distance of every host
    within ``_BFS_MAX_HOP`` undirected hops of the smallest endpoint.

    One lazy plan, no job until the caller acts (the one eager job is
    the ``und`` checkpoint). Each of the ``_BFS_MAX_HOP`` rounds is a
    min-hop relaxation ``dist ⋈ step → groupBy(t).min(hop + w)``, where
    ``step`` is every undirected edge both ways with ``w = 1`` plus a
    ``w = 0`` self edge per host, so a reached host keeps its distance
    from round to round and the plan grows linearly in the hop count.
    There is no early exit: all rounds run even once the frontier is
    empty, since testing for that would be a Spark job per round.

    Scale shape: everything after the checkpoint is model-scale
    (``_PR_HOSTS`` hosts and their edges), so it runs in one partition
    and no round shuffles: ``und`` is read through ``coalesce(1)``,
    ``step`` comes from it by a generator and an in-partition
    ``distinct`` and is broadcast once, and ``dist`` starts as a global
    aggregate; a broadcast join keeps ``dist``'s single partition, so
    each round's ``groupBy`` runs in place. All rounds run in one task;
    the result is a ≤ 9-row histogram."""
    und = pin(
        raw.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()  # model-scale; every round re-reads it
    ).coalesce(1)
    one, zero = F.lit(1).cast("long"), F.lit(0).cast("long")

    def edge(s: str, t: str, w: Column) -> Column:
        return F.struct(F.col(s).alias("s"), F.col(t).alias("t"), w.alias("w"))

    step = (
        und.select(
            F.explode(
                F.array(
                    edge("a", "b", one),
                    edge("b", "a", one),
                    edge("a", "a", zero),
                    edge("b", "b", zero),
                )
            ).alias("e")
        )
        .select("e.*")
        .distinct()
    )
    dist = und.agg(F.min("a").alias("host")).filter(
        F.col("host").isNotNull()
    ).select("host", zero.alias("hop"))
    for _ in range(_BFS_MAX_HOP):
        dist = (
            dist.join(F.broadcast(step), F.col("host") == F.col("s"))
            .groupBy(F.col("t").alias("host"))
            .agg(F.min(F.col("hop") + F.col("w")).alias("hop"))
        )
    return dist.groupBy("hop").agg(F.count("*").cast("long").alias("n_hosts"))


_TR_ITERS = 3
_TR_INIT = 1_000_000
_TR_TOPK = 20


def _tr_iter_sql(it: int) -> str:
    prev = f"tr{it - 1}" if it > 1 else "tr0"
    return f"""
    tr{it} AS (
        SELECT n.word,
               150000 + (850 * COALESCE(c.contrib, 0)) // 1000
                   AS rank_micro
        FROM wnodes n LEFT JOIN (
            SELECT a.u AS word,
                   CAST(sum(a.w * r.rank_micro // wd.wsum) AS BIGINT)
                       AS contrib
            FROM warcs a
            JOIN {prev} r ON r.word = a.v
            JOIN wdeg wd ON wd.word = a.v
            GROUP BY a.u
        ) c ON c.word = n.word
    )"""


@register(
    "keyword_textrank_top",
    # TextRank (Mihalcea & Tarau 2004) over the word co-occurrence
    # graph: adjacent-word edges weighted by corpus co-occurrence
    # count, damped weighted PageRank for a FIXED 3 iterations in
    # BIGINT micro-units (`div` floors — bit-identical cross-engine),
    # top-20 keywords. The oracle replays every iteration as an
    # unrolled CTE, same discipline as host_authority_pagerank.
    oracle=f"""
    WITH toks AS (
        SELECT string_split(trim(text), ' ') AS t FROM documents
    ),
    pairs AS (
        SELECT t[i] AS x, t[i + 1] AS y
        FROM toks, LATERAL unnest(range(1, len(t))) AS r(i)
    ),
    wedges AS (
        SELECT least(x, y) AS a, greatest(x, y) AS b,
               CAST(count(*) AS BIGINT) AS w
        FROM pairs WHERE x <> y
        GROUP BY 1, 2
    ),
    warcs AS (
        SELECT a AS u, b AS v, w FROM wedges
        UNION ALL SELECT b, a, w FROM wedges
    ),
    wnodes AS (SELECT DISTINCT u AS word FROM warcs),
    wdeg AS (
        SELECT u AS word, CAST(sum(w) AS BIGINT) AS wsum
        FROM warcs GROUP BY u
    ),
    tr0 AS (SELECT word, CAST({_TR_INIT} AS BIGINT) AS rank_micro
            FROM wnodes),
    {",".join(_tr_iter_sql(i + 1) for i in range(_TR_ITERS))}
    SELECT word, CAST(rank_micro AS BIGINT) AS rank_micro
    FROM tr{_TR_ITERS}
    ORDER BY rank_micro DESC, word
    LIMIT {_TR_TOPK}
    """,
)
def keyword_textrank_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction over the corpus: build the
    adjacent-word co-occurrence graph (edge weight = corpus-wide
    co-occurrence count), run damped weighted PageRank for a fixed 3
    rounds, and emit the top-20 words — the graph-centrality
    complement to RAKE's degree/frequency scores (keyword_rake_top):
    RAKE rewards words that anchor long phrases, TextRank rewards
    words recommended by other well-recommended words. All rank
    arithmetic is BIGINT micro-units with `div` floors, so the oracle
    replays the full training as unrolled CTEs and the result is
    value-checked, not eyeballed.

    Scale shape: ONE doc scan explodes adjacent pairs straight into a
    (word, word)-keyed count agg (vocabulary²-bounded, map-side
    partials); each iteration is a vocab-scale join + agg exactly
    like the host PageRank; top-k is a TakeOrdered over the vocab
    table, never the corpus."""
    docs = load_table(spark, "documents", sf_dir)
    # "let"-bind the token array once per doc (single-element transform
    # lambda): Catalyst has no CSE across HOF lambdas, so inlining the
    # split would re-tokenize per element access — O(len²)/doc
    # (measured 4.05 s → 1.42 s at sf0.1).
    pairs = docs.select(
        F.explode(
            F.expr(
                "flatten(transform(array(split(trim(text), ' ')), "
                "ws -> CASE WHEN size(ws) < 2 THEN "
                "array()::array<struct<x:string,y:string>> "
                "ELSE transform(sequence(1, size(ws) - 1), "
                "i -> struct(element_at(ws, i) AS x, "
                "element_at(ws, i + 1) AS y)) END))"
            )
        ).alias("p")
    ).select("p.x", "p.y")
    # one corpus scan; every iteration reuses it
    wedges = pin(
        pairs.filter(F.col("x") != F.col("y"))
        .groupBy(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
        .agg(F.count("*").cast("long").alias("w"))
    )
    arcs = wedges.select(
        F.col("a").alias("u"), F.col("b").alias("v"), "w"
    ).unionAll(wedges.select(F.col("b").alias("u"), F.col("a").alias("v"), "w"))
    nodes = arcs.select(F.col("u").alias("word")).distinct()
    wdeg = arcs.groupBy(F.col("u").alias("word")).agg(
        F.sum("w").cast("long").alias("wsum")
    )
    rank = nodes.select(
        "word", F.lit(_TR_INIT).cast("long").alias("rank_micro")
    )
    for _ in range(_TR_ITERS):
        contrib = (
            arcs.join(rank.withColumnRenamed("word", "v"), "v")
            .join(wdeg.withColumnRenamed("word", "v"), "v")
            .select(
                F.col("u").alias("word"),
                F.expr("w * rank_micro div wsum").alias("share"),
            )
            .groupBy("word")
            .agg(F.sum("share").cast("long").alias("contrib"))
        )
        rank = nodes.join(contrib, "word", "left").select(
            "word",
            (
                F.lit(150000)
                + F.expr("850 * coalesce(contrib, 0L) div 1000")
            ).cast("long").alias("rank_micro"),
        )
    return rank.orderBy(F.col("rank_micro").desc(), "word").limit(_TR_TOPK)


# Deterministic mojibake injection: the synthetic corpus is clean
# ASCII, so docs with doc_id % 7 == 0 get a suffix carrying the three
# classic encoding-damage signatures (U+FFFD replacement char, a
# UTF-8-as-Latin-1 'Ã©', and an 'â€"' smart-dash corpse). Spark and
# the oracle build the identical augmented text — counting plumbing is
# what's under test, the corpus just lacks real damage.
_MOJI_SUFFIX = " cafÃ© r�sumé â€“ end"
_MOJI_SPARK = (
    f"CASE WHEN doc_id % 7 = 0 THEN concat(text, '{_MOJI_SUFFIX}') "
    "ELSE text END"
)
_MOJI_SQL = (
    f"CASE WHEN doc_id % 7 = 0 THEN text || '{_MOJI_SUFFIX}' "
    "ELSE text END"
)


@register(
    "text_mojibake_score",
    # Encoding-damage audit: per source, documents carrying U+FFFD
    # replacement chars, UTF-8-read-as-Latin-1 'Ã'-pairs, or 'â€'
    # smart-punctuation corpses. Counts come from length deltas after
    # literal replace() (no regex dialect in play); the per-doc score
    # is floored ppm of exact character counts.
    oracle=f"""
    WITH aug AS (
        SELECT source, ({_MOJI_SQL}) AS t FROM documents
    ),
    scored AS (
        SELECT source,
               length(t) - length(replace(t, chr(65533), ''))
                   AS n_repl,
               length(t) - length(replace(t, chr(195), ''))
                   AS n_latin1,
               (length(t) - length(replace(t, chr(226) || chr(8364), '')))
                   // 2 AS n_smart,
               length(t) AS n_chars
        FROM aug
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_repl + n_latin1 + n_smart > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(sum(n_repl) AS BIGINT) AS n_replacement_chars,
           CAST(sum(n_latin1) AS BIGINT) AS n_latin1_artifacts,
           CAST(sum(n_smart) AS BIGINT) AS n_smart_punct_corpses,
           CAST(sum((n_repl + n_latin1 + n_smart) * 1000000 // n_chars)
                AS BIGINT) AS sum_doc_ppm
    FROM scored GROUP BY source
    """,
)
def text_mojibake_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake / encoding-damage scorecard per source: how many
    documents carry U+FFFD replacement characters (lossy decode
    already happened), 'Ã'-headed byte pairs (UTF-8 read as
    Latin-1 — 'café' → 'cafÃ©'), or the 'â€¦'-family smart-
    punctuation corpses — the triage signal that decides whether a
    crawl source needs re-decoding before it poisons the token
    distribution. Counts are length deltas under literal replace()
    (code-point semantics on both engines, no regex dialect risk);
    per-doc severity is floored ppm of exact char counts.

    Scale shape: pure map-side expressions per document → ONE hash
    aggregate into |sources| keys. Nothing shuffles but the final
    per-source partials."""
    docs = load_table(spark, "documents", sf_dir)
    aug = docs.select(
        "source", F.expr(_MOJI_SPARK).alias("t")
    )
    scored = aug.select(
        "source",
        (F.length("t") - F.length(F.expr("replace(t, '�', '')")))
        .alias("n_repl"),
        (F.length("t") - F.length(F.expr("replace(t, 'Ã', '')")))
        .alias("n_latin1"),
        (
            (F.length("t")
             - F.length(F.expr("replace(t, 'â€', '')")))
            / F.lit(2)
        ).cast("long").alias("n_smart"),
        F.length("t").alias("n_chars"),
    )
    bad = F.col("n_repl") + F.col("n_latin1") + F.col("n_smart")
    return scored.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(bad > 0, 1).otherwise(0)).cast("long")
        .alias("n_flagged"),
        F.sum("n_repl").cast("long").alias("n_replacement_chars"),
        F.sum("n_latin1").cast("long").alias("n_latin1_artifacts"),
        F.sum("n_smart").cast("long").alias("n_smart_punct_corpses"),
        F.sum(F.expr(
            "(n_repl + n_latin1 + n_smart) * 1000000 div n_chars"
        )).cast("long").alias("sum_doc_ppm"),
    )


_RULES = ("gopher", "c4", "entropy", "repetition")
_RULE_PAIRS = [
    (a, b) for i, a in enumerate(_RULES) for b in _RULES[i + 1:]
]


@register(
    "quality_rule_kappa",
    # Inter-rule agreement: Cohen's kappa for each of the six pairs of
    # quality-rule verdicts — chance-corrected, so two filters that
    # both keep 95% of docs don't look "in agreement" for free. All
    # counts exact BIGINT; kappa = (N·po − pe) / (N² − pe) with
    # pe = a1·b1 + a0·b0 computed in integers, emitted as floored
    # micro-units.
    oracle=f"""
    WITH {{_RULE_SIG_SQL}},
    c AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               {", ".join(
            f'''CAST(count(*) FILTER (WHERE keep_{a} AND keep_{b})
                    AS BIGINT) AS n11_{a}_{b},
               CAST(count(*) FILTER (WHERE keep_{a} AND NOT keep_{b})
                    AS BIGINT) AS n10_{a}_{b},
               CAST(count(*) FILTER (WHERE NOT keep_{a} AND keep_{b})
                    AS BIGINT) AS n01_{a}_{b},
               CAST(count(*) FILTER (WHERE NOT keep_{a} AND NOT keep_{b})
                    AS BIGINT) AS n00_{a}_{b}'''
            for a, b in _RULE_PAIRS)}
        FROM sig
    )
    {" UNION ALL ".join(
        f'''SELECT '{a}' AS rule_a, '{b}' AS rule_b,
               n11_{a}_{b} AS n11, n10_{a}_{b} AS n10,
               n01_{a}_{b} AS n01, n00_{a}_{b} AS n00,
               CAST(((n11_{a}_{b} + n00_{a}_{b}) * n
                     - ((n11_{a}_{b} + n10_{a}_{b})
                        * (n11_{a}_{b} + n01_{a}_{b})
                        + (n01_{a}_{b} + n00_{a}_{b})
                        * (n10_{a}_{b} + n00_{a}_{b})))
                    * 1000000
                    // nullif(n * n
                        - ((n11_{a}_{b} + n10_{a}_{b})
                           * (n11_{a}_{b} + n01_{a}_{b})
                           + (n01_{a}_{b} + n00_{a}_{b})
                           * (n10_{a}_{b} + n00_{a}_{b})), 0)
                    AS BIGINT) AS kappa_micro
        FROM c''' for a, b in _RULE_PAIRS)}
    """.replace("{_RULE_SIG_SQL}", _RULE_SIG_SQL),
)
def quality_rule_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chance-corrected agreement (Cohen's kappa) between every pair
    of the four quality-rule families — the redundancy audit behind a
    filter ensemble: kappa ≈ 1 means two rules are interchangeable
    (drop one, save a pass), kappa ≈ 0 means they veto independently
    (keep both), negative kappa flags rules fighting each other. Raw
    agreement is useless here because most docs pass most filters;
    kappa subtracts that chance floor. Contingency counts are exact;
    kappa is computed entirely in integer cross-multiplications
    (N·po − pe over N² − pe) and emitted as floored micro-units, NULL
    for the degenerate all-one-verdict case (NULLIF).

    Scale shape: the four verdicts come from the shared fused-scan
    helper (_quality_rule_flags — ONE pass, no joins); all 6×4
    contingency cells ride a single 1-row aggregate, and the pair
    table is a 6-row map over that broadcast row."""
    docs = load_table(spark, "documents", sf_dir)
    sig = _quality_rule_flags(docs)
    aggs = [F.count("*").cast("long").alias("n")]
    for a, b in _RULE_PAIRS:
        ka, kb = F.col(f"keep_{a}"), F.col(f"keep_{b}")
        aggs += [
            F.count(F.when(ka & kb, 1)).cast("long").alias(f"n11_{a}_{b}"),
            F.count(F.when(ka & ~kb, 1)).cast("long").alias(f"n10_{a}_{b}"),
            F.count(F.when(~ka & kb, 1)).cast("long").alias(f"n01_{a}_{b}"),
            F.count(F.when(~ka & ~kb, 1)).cast("long").alias(f"n00_{a}_{b}"),
        ]
    c = sig.agg(*aggs)
    # ONE stack over the single agg row — a 6-way unionAll would
    # re-run the corpus aggregate per branch (measured 3.4 s → 2.3 s
    # at sf0.1).
    stack_args = []
    for a, b in _RULE_PAIRS:
        pe = (
            f"(CAST(n11_{a}_{b} + n10_{a}_{b} AS BIGINT)"
            f" * (n11_{a}_{b} + n01_{a}_{b})"
            f" + CAST(n01_{a}_{b} + n00_{a}_{b} AS BIGINT)"
            f" * (n10_{a}_{b} + n00_{a}_{b}))"
        )
        stack_args.append(
            f"'{a}', '{b}', n11_{a}_{b}, n10_{a}_{b}, n01_{a}_{b},"
            f" n00_{a}_{b},"
            f" CAST(((n11_{a}_{b} + n00_{a}_{b}) * n - {pe}) * 1000000"
            f" div nullif(n * n - {pe}, 0) AS BIGINT)"
        )
    return c.select(
        F.expr(
            f"stack({len(_RULE_PAIRS)}, "
            + ", ".join(stack_args)
            + ") AS (rule_a, rule_b, n11, n10, n01, n00, kappa_micro)"
        )
    )


@register(
    "quality_label_model_vote",
    # Weak-supervision label model (the Snorkel majority-vote →
    # accuracy-weighted revote shape) over the four quality rules:
    # (1) majority vote per doc, (2) per-rule accuracy against the
    # majority on non-tied docs, (3) revote with each rule weighted
    # by its floored-micro accuracy. Everything is exact integer
    # counting — the weights are the only learned quantity and they
    # are integers by construction.
    oracle=f"""
    WITH {{_RULE_SIG_SQL}},
    votes AS (
        SELECT doc_id, source,
               CAST(keep_gopher AS INT) + CAST(keep_c4 AS INT)
               + CAST(keep_entropy AS INT) + CAST(keep_repetition AS INT)
                   AS n_keep,
               keep_gopher, keep_c4, keep_entropy, keep_repetition
        FROM sig
    ),
    acc AS (
        SELECT {", ".join(
            f'''CAST(count(*) FILTER (WHERE (n_keep >= 3) = keep_{r}
                                      AND n_keep <> 2) * 1000000
                    // nullif(count(*) FILTER (WHERE n_keep <> 2), 0)
                    AS BIGINT) AS w_{r}''' for r in _RULES)}
        FROM votes
    ),
    revote AS (
        SELECT v.doc_id, v.source, v.n_keep,
               {" + ".join(
            f"CASE WHEN v.keep_{r} THEN a.w_{r} ELSE -a.w_{r} END"
            for r in _RULES)} AS score
        FROM votes v CROSS JOIN acc a
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE n_keep = 2) AS BIGINT) AS n_tied,
           CAST(count(*) FILTER (WHERE n_keep >= 3) AS BIGINT)
               AS n_keep_majority,
           CAST(count(*) FILTER (WHERE score > 0) AS BIGINT)
               AS n_keep_weighted,
           CAST(count(*) FILTER (WHERE (score > 0) <> (n_keep >= 3))
                AS BIGINT) AS n_flipped
    FROM revote GROUP BY source
    """.replace("{_RULE_SIG_SQL}", _RULE_SIG_SQL),
)
def quality_label_model_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weak-supervision label model over the quality-rule ensemble —
    the Snorkel recipe in its deterministic closed form: treat the
    four rule verdicts as labeling functions, take the majority vote,
    estimate each rule's accuracy against that majority (tied 2-2
    docs abstain from the estimate), then relabel every document with
    the accuracy-weighted vote. The per-source flip count is the
    payoff: where the weighted model disagrees with raw majority,
    a low-accuracy rule was overruling better ones. Accuracies are
    floored ppm (integers); the revote score is an exact integer sum,
    so the final labels are engine-deterministic — NULL-safe when
    every doc ties (NULLIF).

    Scale shape: verdicts from the shared fused scan; the accuracy
    estimate is ONE 1-row aggregate broadcast back (no shuffle of the
    corpus); the revote is map-side arithmetic into a |sources|-keyed
    agg. Two corpus scans total (estimate + revote) — the price of
    any two-stage EM-style model; at 100 TB pin() the
    verdict frame to pay the rule expressions once."""
    docs = load_table(spark, "documents", sf_dir)
    sig = _quality_rule_flags(docs)
    votes = pin(sig.select(
        "doc_id",
        "source",
        (
            F.col("keep_gopher").cast("int")
            + F.col("keep_c4").cast("int")
            + F.col("keep_entropy").cast("int")
            + F.col("keep_repetition").cast("int")
        ).alias("n_keep"),
        *[F.col(f"keep_{r}") for r in _RULES],
    ))  # pay the fused rule expressions once
    maj = F.col("n_keep") >= 3
    nontie = F.col("n_keep") != 2
    acc = votes.agg(
        *[
            F.expr(
                f"count(CASE WHEN ((n_keep >= 3) = keep_{r})"
                f" AND n_keep <> 2 THEN 1 END) * 1000000"
                f" div nullif(count(CASE WHEN n_keep <> 2 THEN 1 END), 0)"
            ).cast("long").alias(f"w_{r}")
            for r in _RULES
        ]
    )
    score = None
    for r in _RULES:
        term = F.when(F.col(f"keep_{r}"), F.col(f"w_{r}")).otherwise(
            -F.col(f"w_{r}")
        )
        score = term if score is None else score + term
    revote = votes.crossJoin(F.broadcast(acc)).select(
        "source", "n_keep", score.alias("score")
    )
    return revote.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count(F.when(~nontie, 1)).cast("long").alias("n_tied"),
        F.count(F.when(maj, 1)).cast("long").alias("n_keep_majority"),
        F.count(F.when(F.col("score") > 0, 1)).cast("long")
        .alias("n_keep_weighted"),
        F.count(F.when((F.col("score") > 0) != maj, 1)).cast("long")
        .alias("n_flipped"),
    )


@register(
    "host_graph_assortativity",
    # Degree assortativity (Newman 2002): the Pearson correlation of
    # endpoint degrees across edges — positive means hubs link hubs
    # (social/citation shape), negative means hubs link leaves
    # (hub-and-spoke / spam-farm shape). Computed on the directed
    # edge list seen as 2m ordered endpoint pairs; all moments are
    # exact BIGINT sums of degree products, with the single double
    # division at the end (2m·Σxy − ΣxΣy over the geometric mean of
    # the variances).
    oracle=f"""
    WITH raw AS (
        SELECT DISTINCT {_PR_SRC} AS src, {_PR_DST} AS dst
        FROM documents
    ),
    und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM raw WHERE src <> dst
    ),
    adj AS (
        SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und
    ),
    deg AS (
        SELECT u AS host, CAST(count(*) AS BIGINT) AS d
        FROM adj GROUP BY u
    ),
    ep AS (
        SELECT da.d AS x, db.d AS y
        FROM adj e
        JOIN deg da ON da.host = e.u
        JOIN deg db ON db.host = e.v
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM ep
    )
    SELECT n // 2 AS n_edges,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / nullif(sqrt((CAST(n AS DOUBLE) * sxx
                                - CAST(sx AS DOUBLE) * sx)
                               * (CAST(n AS DOUBLE) * syy
                                  - CAST(sy AS DOUBLE) * sy)), 0), 6)
               AS assortativity
    FROM m
    """,
)
def host_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the host link graph — Newman's r, the
    one-number answer to "do well-connected hosts link to each other
    (r > 0, organic community shape) or to leaves (r < 0, hub-and-
    spoke / link-farm shape)" — the structural complement to the
    clustering coefficient (host_graph_triangles) on the same edge
    table. Every moment (Σx, Σxy, Σx², …) is an exact BIGINT sum of
    integer degrees over the 2m ordered endpoint pairs, so both
    engines feed the identical integers into the one final double
    expression; a degree-regular graph (zero variance) yields NULL
    instead of dividing by zero.

    Scale shape: one doc scan → model-scale edge table; degrees are
    an edge-keyed agg joined back twice (host-scale hash joins); the
    moments are a 1-row aggregate. Nothing is corpus-scale after the
    first distinct."""
    docs = load_table(spark, "documents", sf_dir)
    raw = docs.select(
        F.expr(_PR_SRC).alias("src"), F.expr(_PR_DST).alias("dst")
    ).distinct()
    und = pin(
        raw.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    adj = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = adj.groupBy(F.col("u").alias("host")).agg(
        F.count("*").cast("long").alias("d")
    )
    ep = (
        adj.join(
            F.broadcast(deg.withColumnsRenamed({"host": "u", "d": "x"})),
            "u",
        )
        .join(
            F.broadcast(deg.withColumnsRenamed({"host": "v", "d": "y"})),
            "v",
        )
        .select("x", "y")
    )
    m = ep.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    return m.select(
        F.expr("n div 2").alias("n_edges"),
        F.round(
            (
                F.col("n").cast("double") * F.col("sxy")
                - F.col("sx").cast("double") * F.col("sy")
            )
            / F.nullif(
                F.sqrt(
                    (
                        F.col("n").cast("double") * F.col("sxx")
                        - F.col("sx").cast("double") * F.col("sx")
                    )
                    * (
                        F.col("n").cast("double") * F.col("syy")
                        - F.col("sy").cast("double") * F.col("sy")
                    )
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("assortativity"),
    )


_BD_TOPK = 30  # most-frequent-word basis for the Delta


@register(
    "text_burrows_delta",
    # Burrows' Delta stylometry (the authorship-attribution standard):
    # z-score each source's relative frequency of the corpus's top-30
    # words against the across-source distribution, then
    # delta(a, b) = mean |z_a − z_b| per source pair. Frequencies are
    # floored ppm integers; each word's σ is quantized ONCE (sqrt of
    # an exact integer variance numerator), so every z and every
    # delta is exact integer arithmetic with deterministic ties.
    oracle=f"""
    WITH tok AS (
        SELECT source, lower(unnest(string_split(trim(text), ' ')))
                   AS w
        FROM documents
    ),
    tk AS (SELECT source, w FROM tok WHERE w <> ''),
    top AS (
        SELECT w FROM (
            SELECT w, count(*) AS n FROM tk GROUP BY w
            ORDER BY n DESC, w LIMIT {_BD_TOPK}
        )
    ),
    stot AS (
        SELECT source, CAST(count(*) AS BIGINT) AS tot
        FROM tk GROUP BY source
    ),
    f AS (
        SELECT s.source, t.w,
               CAST(coalesce(c.n, 0) * 1000000 // s.tot AS BIGINT)
                   AS fppm
        FROM stot s CROSS JOIN top t
        LEFT JOIN (
            SELECT source, w, CAST(count(*) AS BIGINT) AS n
            FROM tk JOIN top USING (w) GROUP BY source, w
        ) c ON c.source = s.source AND c.w = t.w
    ),
    wstat AS (
        SELECT w, CAST(count(*) AS BIGINT) AS s,
               CAST(sum(fppm) AS BIGINT) AS sf,
               CAST(round(sqrt(CAST(count(*) * sum(fppm * fppm)
                                    - sum(fppm) * sum(fppm)
                                    AS DOUBLE))) AS BIGINT) AS sig_q
        FROM f GROUP BY w
    ),
    z AS (
        SELECT f.source, f.w,
               CAST((f.fppm * ws.s - ws.sf) * 1000
                    // nullif(ws.sig_q, 0) AS BIGINT) AS z_milli
        FROM f JOIN wstat ws USING (w)
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(sum(abs(a.z_milli - b.z_milli)) // {_BD_TOPK}
                AS BIGINT) AS delta_milli
    FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta between every source pair — the stylometry
    measure behind authorship attribution and machine-text forensics:
    function-word frequencies (the top-30 corpus words — exactly the
    words topic can't explain) are z-scored across sources, and a
    pair's Delta is the mean absolute z difference. Low Delta = the
    two sources write alike (likely shared boilerplate, syndication,
    or the same generator); high = distinct styles. Frequencies are
    floored ppm, each word's σ is one quantized sqrt of an exact
    integer variance numerator, and z/Delta stay in exact milli
    integer units — NULL-guarded for zero-variance words.

    Scale shape: ONE token explode into (source, word) counts capped
    by the broadcast top-30 basis; the z table is |sources|×30 rows;
    the pair join runs on that model-scale table (190 pairs at 20
    sources). The corpus is scanned once."""
    docs = load_table(spark, "documents", sf_dir)
    tk = docs.select(
        "source",
        F.explode(F.expr("split(trim(text), ' ')")).alias("w0"),
    ).select("source", F.lower("w0").alias("w")).filter(F.col("w") != "")
    top = (
        tk.groupBy("w").agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "w")
        .limit(_BD_TOPK)
        .select("w")
    )
    stot = tk.groupBy("source").agg(F.count("*").cast("long").alias("tot"))
    cnt = (
        tk.join(F.broadcast(top), "w")
        .groupBy("source", "w")
        .agg(F.count("*").cast("long").alias("n"))
    )
    f = (
        stot.crossJoin(F.broadcast(top))
        .join(cnt, ["source", "w"], "left")
        .select(
            "source",
            "w",
            F.expr("coalesce(n, 0) * 1000000 div tot").cast("long")
            .alias("fppm"),
        )
    )
    wstat = f.groupBy("w").agg(
        F.count("*").cast("long").alias("s"),
        F.sum("fppm").cast("long").alias("sf"),
        F.round(
            F.sqrt(
                (
                    F.count("*") * F.sum(F.col("fppm") * F.col("fppm"))
                    - F.sum("fppm") * F.sum("fppm")
                ).cast("double")
            )
        ).cast("long").alias("sig_q"),
    )
    z = f.join(F.broadcast(wstat), "w").select(
        "source",
        "w",
        F.expr("(fppm * s - sf) * 1000 div nullif(sig_q, 0)")
        .cast("long").alias("z_milli"),
    )
    zb = z.select(
        F.col("w").alias("wb"),
        F.col("source").alias("source_b"),
        F.col("z_milli").alias("zb_milli"),
    )
    return (
        z.join(
            zb,
            (F.col("wb") == F.col("w"))
            & (F.col("source") < F.col("source_b")),
        )
        .groupBy(F.col("source").alias("source_a"), "source_b")
        .agg(
            F.expr(
                f"sum(abs(z_milli - zb_milli)) div {_BD_TOPK}"
            ).cast("long").alias("delta_milli")
        )
    )


_SIGNALS = ("n_tokens", "ttr_ppm", "entropy_micro", "mwl_milli")
_SIG_PAIRS = [
    (a, b) for i, a in enumerate(_SIGNALS) for b in _SIGNALS[i + 1:]
]
# Per-doc signal definitions shared verbatim by both engines (exact
# integers: token count, type-token ratio in ppm, character entropy in
# micro-nats from the run-length form, mean word length in milli).
_SIG_SQL = """
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(w)) * 1000000
                    // nullif(len(w), 0) AS BIGINT) AS ttr_ppm,
               CAST(COALESCE(list_sum(list_transform(
                    list_sort(list_distinct(ch)),
                    c -> CAST(round(-1e6
                        * (CAST(len(list_filter(ch, x -> x = c))
                                AS DOUBLE) / len(ch))
                        * ln(CAST(len(list_filter(ch, x -> x = c))
                                AS DOUBLE) / len(ch))) AS BIGINT))), 0)
                    AS BIGINT) AS entropy_micro,
               CAST(list_sum(list_transform(w, x -> length(x))) * 1000
                    // nullif(len(w), 0) AS BIGINT) AS mwl_milli
        FROM (SELECT doc_id, string_split(trim(text), ' ') AS w,
                     string_split(text, '') AS ch
              FROM documents)
        WHERE len(w) > 0
"""


@register(
    "quality_signal_matrix",
    # Pairwise Pearson correlation across four doc-level quality
    # signals — the NUMERIC counterpart to quality_rule_kappa's
    # boolean-verdict audit: highly correlated signals are redundant
    # features for the quality classifier; near-zero pairs carry
    # independent information. All moments are exact integer sums in
    # HUGEINT/DECIMAL(38); each r is numerator·10⁶ over the two
    # quantized sqrt factors (one double op per pair).
    oracle=f"""
    WITH sig AS (
        {_SIG_SQL}
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               {", ".join(
            f"CAST(sum({s}) AS HUGEINT) AS s_{s},"
            f" sum(CAST({s} AS HUGEINT) * {s}) AS ss_{s}"
            for s in _SIGNALS)},
               {", ".join(
            f"sum(CAST({a} AS HUGEINT) * {b}) AS sp_{a}_{b}"
            for a, b in _SIG_PAIRS)}
        FROM sig
    )
    {" UNION ALL ".join(
        f'''SELECT '{a}' AS signal_a, '{b}' AS signal_b,
               CAST((n * sp_{a}_{b} - s_{a} * s_{b}) * 1000000
                    // nullif(
                        CAST(round(sqrt(CAST(n * ss_{a} - s_{a} * s_{a}
                                             AS DOUBLE))) AS HUGEINT)
                        * CAST(round(sqrt(CAST(n * ss_{b} - s_{b} * s_{b}
                                               AS DOUBLE))) AS HUGEINT),
                        0) AS BIGINT) AS pearson_micro
        FROM m''' for a, b in _SIG_PAIRS)}
    """,
)
def quality_signal_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation matrix of four doc-level quality signals (token
    count, type-token ratio, character entropy, mean word length) —
    the feature-redundancy audit a quality-classifier owner runs
    before adding "one more signal": an |r| near 1 means the new
    column is the old one in disguise (TTR famously anti-correlates
    with length); near 0 means independent evidence. The numeric twin
    of quality_rule_kappa's boolean-verdict agreement. All sums are
    exact wide integers; each Pearson r spends exactly two quantized
    sqrts (deterministic single double ops) and one floored division.

    Scale shape: ONE fused codegen scan computes all four signals per
    row; every moment (4 sums, 4 squares, 6 cross products) rides a
    single 1-row aggregate; the pair table is a 6-row stack over that
    broadcast row — the kappa pattern."""
    docs = load_table(spark, "documents", sf_dir)
    w = docs.select(
        "doc_id",
        F.expr("split(trim(text), ' ')").alias("w"),
        F.expr("split(text, '')").alias("ch"),
    ).filter(F.size("w") > 0)
    # entropy via the staged run-length form (char_entropy_filter's
    # discipline — no CSE inside one HOF tree)
    staged = w.select(
        "doc_id",
        F.size("w").cast("long").alias("n_tokens"),
        F.expr(
            "CAST(size(array_distinct(w)) * 1000000"
            " div nullif(size(w), 0) AS BIGINT)"
        ).alias("ttr_ppm"),
        F.expr(
            "CAST(aggregate(w, 0L, (a, x) -> a + length(x)) * 1000"
            " div nullif(size(w), 0) AS BIGINT)"
        ).alias("mwl_milli"),
        F.expr("array_sort(ch)").alias("s"),
    ).select(
        "doc_id", "n_tokens", "ttr_ppm", "mwl_milli",
        F.size("s").cast("long").alias("n_chars"),
        F.expr(
            "filter(sequence(0, size(s) - 1),"
            " i -> i = 0 OR s[i] != s[i - 1])"
        ).alias("starts"),
    ).select(
        "doc_id", "n_tokens", "ttr_ppm", "mwl_milli",
        F.expr(
            "aggregate("
            " zip_with(starts,"
            "  concat(slice(starts, 2, size(starts) - 1), array(n_chars)),"
            "  (a, b) -> b - a),"
            " 0L, (acc, c) -> acc + cast(round(-1e6"
            "  * (cast(c as double) / n_chars)"
            "  * ln(cast(c as double) / n_chars)) as bigint))"
        ).alias("entropy_micro"),
    )
    aggs = [F.count("*").cast("long").alias("n")]
    for s in _SIGNALS:
        aggs += [
            F.sum(s).cast("decimal(38,0)").alias(f"s_{s}"),
            F.sum(F.col(s).cast("decimal(38,0)") * F.col(s))
            .alias(f"ss_{s}"),
        ]
    for a, b in _SIG_PAIRS:
        aggs.append(
            F.sum(F.col(a).cast("decimal(38,0)") * F.col(b))
            .alias(f"sp_{a}_{b}")
        )
    m = staged.agg(*aggs)
    stack_args = []
    for a, b in _SIG_PAIRS:
        stack_args.append(
            f"'{a}', '{b}',"
            f" CAST((n * sp_{a}_{b} - s_{a} * s_{b}) * 1000000"
            f" div nullif("
            f" CAST(round(sqrt(CAST(n * ss_{a} - s_{a} * s_{a}"
            f" AS DOUBLE))) AS DECIMAL(38,0))"
            f" * CAST(round(sqrt(CAST(n * ss_{b} - s_{b} * s_{b}"
            f" AS DOUBLE))) AS DECIMAL(38,0)), 0) AS BIGINT)"
        )
    return m.select(
        F.expr(
            f"stack({len(_SIG_PAIRS)}, "
            + ", ".join(stack_args)
            + ") AS (signal_a, signal_b, pearson_micro)"
        )
    )


_RC_KS = (2, 4, 8, 16)  # degree thresholds for the rich-club curve


@register(
    "host_graph_rich_club",
    # Rich-club coefficient φ(k) = 2·E_k / (N_k(N_k−1)): among hosts
    # of degree > k, the realized fraction of possible edges — rising
    # φ(k) means the high-degree core is a densely linked club
    # (authority oligopoly / link cartel), flat means hubs ignore
    # each other. Exact integer counts at four thresholds; the
    # density is floored ppm.
    oracle=f"""
    WITH raw AS (
        SELECT DISTINCT {_PR_SRC} AS src, {_PR_DST} AS dst
        FROM documents
    ),
    und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM raw WHERE src <> dst
    ),
    deg AS (
        SELECT host, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT a AS host FROM und UNION ALL SELECT b FROM und
        ) GROUP BY host
    )
    {" UNION ALL ".join(f'''
    SELECT {k} AS k,
           (SELECT CAST(count(*) AS BIGINT) FROM deg WHERE d > {k})
               AS n_rich,
           (SELECT CAST(count(*) AS BIGINT)
            FROM und u
            JOIN deg da ON da.host = u.a AND da.d > {k}
            JOIN deg db ON db.host = u.b AND db.d > {k})
               AS e_rich,
           CAST((SELECT count(*)
                 FROM und u
                 JOIN deg da ON da.host = u.a AND da.d > {k}
                 JOIN deg db ON db.host = u.b AND db.d > {k})
                * 2000000
                // nullif((SELECT count(*) FROM deg WHERE d > {k})
                          * ((SELECT count(*) FROM deg WHERE d > {k})
                             - 1), 0) AS BIGINT) AS phi_micro
    ''' for k in _RC_KS)}
    """,
)
def host_graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club profile of the host graph: at degree thresholds
    k ∈ {2,4,8,16}, the number of hosts above k, the edges among
    them, and the realized edge density φ(k) — a rising curve exposes
    a densely interlinked authority core (the structure link cartels
    and citation rings share), a flat one means hubs connect outward.
    Completes the graph-audit suite next to clustering
    (host_graph_triangles) and mixing (host_graph_assortativity).
    All counts exact; densities floored ppm with the degenerate
    (≤1-member club) case NULLed.

    Scale shape: one doc scan → model-scale edges; degrees are one
    agg; each threshold is two host-scale joins + scalar counts —
    four thresholds on a broadcast-sized table."""
    docs = load_table(spark, "documents", sf_dir)
    raw = docs.select(
        F.expr(_PR_SRC).alias("src"), F.expr(_PR_DST).alias("dst")
    ).distinct()
    und = pin(
        raw.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    deg = pin(
        und.select(F.col("a").alias("host"))
        .unionAll(und.select(F.col("b").alias("host")))
        .groupBy("host")
        .agg(F.count("*").cast("long").alias("d"))
    )
    out = None
    for k in _RC_KS:
        rich = deg.filter(F.col("d") > k).select("host")
        n_rich = rich.agg(F.count("*").cast("long").alias("n_rich"))
        e_rich = (
            und.join(rich.withColumnRenamed("host", "a"), "a")
            .join(rich.withColumnRenamed("host", "b"), "b")
            .agg(F.count("*").cast("long").alias("e_rich"))
        )
        row = (
            n_rich.crossJoin(e_rich)
            .select(
                F.lit(k).alias("k"),
                "n_rich",
                "e_rich",
                F.expr(
                    "e_rich * 2000000"
                    " div nullif(n_rich * (n_rich - 1), 0)"
                ).cast("long").alias("phi_micro"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out


@register(
    "docs_source_vocab_jaccard",
    # Lexical-overlap matrix: vocabulary Jaccard between every source
    # pair via the inverted word→sources index — |Va∩Vb| falls out of
    # a word-keyed self-join (never a source×source vocab compare),
    # |Va∪Vb| = |Va|+|Vb|−|Va∩Vb| by inclusion–exclusion. The
    # lexical complement to text_burrows_delta's frequency-profile
    # distance: Jaccard says whether two sources share WORDS, Delta
    # whether they share STYLE.
    oracle="""
    WITH sv AS (
        SELECT DISTINCT source, w FROM (
            SELECT source,
                   lower(unnest(string_split(trim(text), ' '))) AS w
            FROM documents
        ) WHERE w <> ''
    ),
    sizes AS (
        SELECT source, CAST(count(*) AS BIGINT) AS v FROM sv
        GROUP BY source
    ),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(count(*) AS BIGINT) AS i
        FROM sv a JOIN sv b
          ON b.w = a.w AND b.source > a.source
        GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b,
           i.i AS n_shared_words,
           sa.v AS vocab_a, sb.v AS vocab_b,
           CAST(i.i * 1000000 // (sa.v + sb.v - i.i) AS BIGINT)
               AS jaccard_micro
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    """,
)
def docs_source_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-overlap matrix between sources: Jaccard similarity
    of the distinct word sets for every source pair — the lexical
    fingerprint that flags mirrored or syndicated feeds (near-1
    overlap) and domain-divergent sources (near-0) before mixture
    weighting; reads next to text_burrows_delta, which measures
    shared STYLE where this measures shared WORDS. Intersections
    come from the inverted word→sources index (a word-keyed
    self-join — the dedup family's discipline, never a
    source×source vocabulary comparison), unions by
    inclusion–exclusion, shares floored ppm.

    Scale shape: one token explode → distinct (source, word) — the
    vocab-scale index; the pair join is word-keyed with per-word
    fan-out ≤ |sources|²; the rollup is |sources|²-keyed. At web
    scale, df-cap ubiquitous words exactly as the Jaccard dedup path
    does."""
    docs = load_table(spark, "documents", sf_dir)
    sv = pin(
        docs.select(
            "source",
            F.explode(F.expr("split(trim(text), ' ')")).alias("w0"),
        )
        .select("source", F.lower("w0").alias("w"))
        .filter(F.col("w") != "")
        .distinct()  # index reused by sizes + both join sides
    )
    sizes = sv.groupBy("source").agg(F.count("*").cast("long").alias("v"))
    b = sv.select(
        F.col("w").alias("wb"), F.col("source").alias("source_b")
    )
    inter = (
        sv.join(
            b,
            (F.col("wb") == F.col("w"))
            & (F.col("source_b") > F.col("source")),
        )
        .groupBy(F.col("source").alias("source_a"), "source_b")
        .agg(F.count("*").cast("long").alias("i"))
    )
    return (
        inter.join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_a"),
                    F.col("v").alias("vocab_a"),
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_b"),
                    F.col("v").alias("vocab_b"),
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            F.col("i").alias("n_shared_words"),
            "vocab_a",
            "vocab_b",
            F.expr("i * 1000000 div (vocab_a + vocab_b - i)")
            .cast("long").alias("jaccard_micro"),
        )
    )


@register(
    "text_hapax_ratio_by_source",
    # Lexical richness per source: hapax legomena (words occurring
    # exactly once IN THAT SOURCE) as a share of source vocabulary
    # and of source tokens, plus dis legomena (exactly twice) — the
    # classic productivity statistics (Baayen's P) complementing TTR
    # and the Heaps fit: template/boilerplate sources have thin
    # hapax mass, organic text is hapax-rich. All exact counts and
    # floored ppm.
    oracle="""
    WITH wc AS (
        SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM (
            SELECT source,
                   lower(unnest(string_split(trim(text), ' '))) AS w
            FROM documents
        ) WHERE w <> '' GROUP BY source, w
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(sum(c) AS BIGINT) AS tokens,
           CAST(count(CASE WHEN c = 1 THEN 1 END) AS BIGINT) AS hapax,
           CAST(count(CASE WHEN c = 2 THEN 1 END) AS BIGINT) AS dis,
           CAST(count(CASE WHEN c = 1 THEN 1 END) * 1000000
                // count(*) AS BIGINT) AS hapax_vocab_micro,
           CAST(count(CASE WHEN c = 1 THEN 1 END) * 1000000
                // sum(c) AS BIGINT) AS hapax_token_micro
    FROM wc GROUP BY source
    """,
)
def text_hapax_ratio_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-legomena profile per source: once-occurring and
    twice-occurring word counts with their shares of the source's
    vocabulary and token mass — the lexical-productivity statistic
    (the numerator of Baayen's P and the Good–Turing mass estimate
    for unseen words) that separates organic, hapax-rich prose from
    template mills whose vocabulary saturates. Reads alongside
    text_ttr_mattr (type density) and corpus_vocab_growth_heaps (the
    growth law); hapax mass is also exactly what Good–Turing assigns
    to the UNSEEN-word probability, so this doubles as the smoothing
    diagnostic for the n-gram LM family. Exact counts, floored ppm.

    Scale shape: one token explode → (source, word)-keyed count agg
    (map-side partials) → |sources|-keyed conditional rollup."""
    docs = load_table(spark, "documents", sf_dir)
    wc = (
        docs.select(
            "source",
            F.explode(F.expr("split(trim(text), ' ')")).alias("w0"),
        )
        .select("source", F.lower("w0").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("source", "w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    return wc.groupBy("source").agg(
        F.count("*").cast("long").alias("vocab"),
        F.sum("c").cast("long").alias("tokens"),
        F.count(F.when(F.col("c") == 1, 1)).cast("long").alias("hapax"),
        F.count(F.when(F.col("c") == 2, 1)).cast("long").alias("dis"),
        F.expr(
            "count(CASE WHEN c = 1 THEN 1 END) * 1000000 div count(*)"
        ).cast("long").alias("hapax_vocab_micro"),
        F.expr(
            "count(CASE WHEN c = 1 THEN 1 END) * 1000000 div sum(c)"
        ).cast("long").alias("hapax_token_micro"),
    )


# ── End-to-end curation pipeline (VERDICT r6 #7) ─────────────────────
# All curation stages composed into ONE DataFrame DAG — the shape a
# real 100 TB run uses: benchmark holdout → URL-canonical dedup →
# the four quality-rule families → exact dedup → fuzzy (near-dup
# cluster) dedup → n-gram decontamination → per-source mixture
# weights over the survivors. Each document carries its per-stage
# verdict through the plan, so the per-source attrition funnel and the
# survivor-id checksum come out of a single grouped aggregation with
# no driver-side seam between stages.
from rust_cdc_spark.functions import text as TX  # noqa: E402
from rust_cdc_spark.queries.llm import _CC_CTES, _cluster_index  # noqa: E402

_FP_CANON_SQL = r"md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))"
_CURL_SQL = f"""
    regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(lower({_RAWURL_SQL}),
            '^https?://', ''),
            '^www\\.', ''),
            '\\?.*$', ''),
            '/$', '')
"""


@register(
    "corpus_curation_pipeline",
    oracle=f"""
    WITH RECURSIVE
    {_CC_CTES},
    {_RULE_SIG_SQL},
    cl AS (
        SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ),
    base AS (
        SELECT doc_id, source,
               (doc_id % {_BENCH_MOD} <> 0) AS alive0,
               {_CURL_SQL} AS curl,
               {_FP_CANON_SQL} AS fp
        FROM documents
    ),
    p1 AS (
        SELECT doc_id, source, alive0, fp,
               (alive0 AND doc_id = min(CASE WHEN alive0 THEN doc_id END)
                    OVER (PARTITION BY curl)) AS pass1
        FROM base
    ),
    p2 AS (
        SELECT p1.*,
               (p1.pass1 AND s.keep_gopher AND s.keep_c4
                AND s.keep_entropy AND s.keep_repetition) AS pass2
        FROM p1 JOIN sig s ON p1.doc_id = s.doc_id
    ),
    p3 AS (
        SELECT *,
               (pass2 AND doc_id = min(CASE WHEN pass2 THEN doc_id END)
                    OVER (PARTITION BY fp)) AS pass3
        FROM p2
    ),
    p4 AS (
        SELECT p3.*,
               (p3.pass3 AND p3.doc_id =
                    min(CASE WHEN p3.pass3 THEN p3.doc_id END)
                        OVER (PARTITION BY cl.cluster_id)) AS pass4
        FROM p3 JOIN cl ON p3.doc_id = cl.doc_id
    ),
    cgrams AS (
        SELECT w.doc_id,
               md5(array_to_string(w.words[(i+1):(i+{_CONTAM_K})], ' '))
                   AS g
        FROM w, LATERAL (
            SELECT unnest(range(0, len(w.words) - {_CONTAM_K} + 1)) AS i)
        WHERE len(w.words) >= {_CONTAM_K}
    ),
    bench AS (
        SELECT DISTINCT g FROM cgrams WHERE doc_id % {_BENCH_MOD} = 0
    ),
    contam AS (
        SELECT DISTINCT c.doc_id
        FROM cgrams c JOIN bench b ON c.g = b.g
        WHERE c.doc_id % {_BENCH_MOD} <> 0
    ),
    p5 AS (
        SELECT p4.*, (p4.pass4 AND h.doc_id IS NULL) AS pass5
        FROM p4 LEFT JOIN contam h ON p4.doc_id = h.doc_id
    ),
    agg AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN alive0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_corpus,
               CAST(sum(CASE WHEN pass1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_after_url,
               CAST(sum(CASE WHEN pass2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_after_quality,
               CAST(sum(CASE WHEN pass3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_after_exact,
               CAST(sum(CASE WHEN pass4 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_after_fuzzy,
               CAST(sum(CASE WHEN pass5 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               CAST(coalesce(sum(CASE WHEN pass5 THEN doc_id END), 0)
                    AS BIGINT) AS survivor_checksum
        FROM p5 GROUP BY source
    ),
    wt AS (
        SELECT *,
               CAST(round(sqrt(CAST(n_kept AS DOUBLE)
                    / nullif(sum(n_kept) OVER (), 0)) * 1e6) AS BIGINT)
                   AS sqrtp_micro
        FROM agg
    )
    SELECT source, n_docs, n_corpus, n_after_url, n_after_quality,
           n_after_exact, n_after_fuzzy, n_kept, survivor_checksum,
           sqrtp_micro,
           CAST(sqrtp_micro * 1000000
                // nullif(sum(sqrtp_micro) OVER (), 0) AS BIGINT)
               AS weight_ppm
    FROM wt
    """,
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation stack as ONE DataFrame DAG — what a corpus
    owner actually ships: (0) benchmark holdout (doc_id % {mod} == 0
    stands in for the eval set and never enters the corpus), (1) URL
    canonicalization dedup (min doc_id per canonical URL), (2) the four
    quality-rule families (Gopher, C4 line rules, char-entropy band,
    trigram repetition — `_quality_rule_flags`, one fused scan), (3)
    exact dedup on the canonical text fingerprint, (4) fuzzy dedup
    (Jaccard near-dup clusters from `dedup_clusters`, keep the minimum
    SURVIVING doc per cluster), (5) n-gram decontamination against the
    holdout's shingle set, then (6) temperature-T=2 mixture weights
    over the survivors (the `mixture_temperature_weights` integer-ppm
    discipline). Output: one row per source with the full attrition
    funnel (n_docs → n_corpus → … → n_kept), a survivor-id CHECKSUM
    (the oracle verifies WHICH documents survived, not just how many),
    and the per-source sampling weight.

    Every stage's verdict rides the row as a boolean, so stage k's
    filter composes with stage k−1 by construction (alive_k =
    alive_{{k−1}} AND pass_k) and the funnel is monotone — the
    invariant the composition test asserts.

    Scale shape: stages 1/3/4 are key-partitioned windows (canonical
    URL / fingerprint / cluster id) — each is the same shuffle the
    standalone dedup pays, reused here with no extra exchange; stage 2
    is a map-stage expression join back on doc_id; stage 5 broadcasts
    the (eval-set-sized) benchmark shingle set so the corpus never
    shuffles for the probe; the funnel itself is ONE source-keyed agg
    with map-side partials, and the mixture math runs on the
    |sources|-row result (the two partition-less windows the plan gate
    allow-lists). At 100 TB: no all-pairs anywhere — the fuzzy stage
    rides the banded candidate pipeline inside `dedup_clusters`, and
    everything else is doc-keyed or broadcast."""
    docs = load_table(spark, "documents", sf_dir)
    flags = _quality_rule_flags(docs).select(
        "doc_id", "keep_gopher", "keep_c4", "keep_entropy",
        "keep_repetition",
    )
    clusters = _cluster_index(spark, sf_dir).select("doc_id", "cluster_id")
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.lower(F.expr(_RAWURL_SQL)), r"^https?://", ""
                ),
                r"^www\.", ""),
            r"\?.*$", ""),
        r"/$", "")
    base = docs.select(
        "doc_id", "source",
        (F.col("doc_id") % _BENCH_MOD != 0).alias("alive0"),
        curl.alias("curl"),
        TX.fingerprint("text").alias("fp"),
    )
    p1 = base.select(
        "doc_id", "source", "alive0", "fp",
        (
            F.col("alive0")
            & (
                F.col("doc_id")
                == F.min(F.when(F.col("alive0"), F.col("doc_id"))).over(
                    Window.partitionBy("curl")
                )
            )
        ).alias("pass1"),
    )
    p2 = p1.join(flags, "doc_id").select(
        "doc_id", "source", "alive0", "fp", "pass1",
        (
            F.col("pass1") & F.col("keep_gopher") & F.col("keep_c4")
            & F.col("keep_entropy") & F.col("keep_repetition")
        ).alias("pass2"),
    )
    p3 = p2.withColumn(
        "pass3",
        F.col("pass2")
        & (
            F.col("doc_id")
            == F.min(F.when(F.col("pass2"), F.col("doc_id"))).over(
                Window.partitionBy("fp")
            )
        ),
    )
    p4 = p3.join(clusters, "doc_id").withColumn(
        "pass4",
        F.col("pass3")
        & (
            F.col("doc_id")
            == F.min(F.when(F.col("pass3"), F.col("doc_id"))).over(
                Window.partitionBy("cluster_id")
            )
        ),
    )
    w = docs.select(
        "doc_id", F.expr(_WORDS_SPARK).alias("words")
    ).filter(F.size("words") >= _CONTAM_K)
    grams = w.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(words) - {_CONTAM_K}),"
                f" i -> md5(concat_ws(' ', slice(words, i+1,"
                f" {_CONTAM_K}))))"
            )
        ).alias("g"),
    )
    bench = (
        grams.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select("g").distinct()
    )
    contam = (
        grams.filter(F.col("doc_id") % _BENCH_MOD != 0)
        .join(F.broadcast(bench), "g", "left_semi")
        .select("doc_id").distinct()
        .withColumn("is_contam", F.lit(True))
    )
    p5 = p4.join(contam, "doc_id", "left").withColumn(
        "pass5", F.col("pass4") & F.col("is_contam").isNull()
    )
    agg = p5.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.col("alive0").cast("bigint")).cast("bigint")
        .alias("n_corpus"),
        F.sum(F.col("pass1").cast("bigint")).cast("bigint")
        .alias("n_after_url"),
        F.sum(F.col("pass2").cast("bigint")).cast("bigint")
        .alias("n_after_quality"),
        F.sum(F.col("pass3").cast("bigint")).cast("bigint")
        .alias("n_after_exact"),
        F.sum(F.col("pass4").cast("bigint")).cast("bigint")
        .alias("n_after_fuzzy"),
        F.sum(F.col("pass5").cast("bigint")).cast("bigint")
        .alias("n_kept"),
        F.coalesce(
            F.sum(F.when(F.col("pass5"), F.col("doc_id"))), F.lit(0)
        ).cast("bigint").alias("survivor_checksum"),
    )
    wt = agg.withColumn(
        "sqrtp_micro",
        F.expr(
            "cast(round(sqrt(cast(n_kept as double)"
            " / nullif(sum(n_kept) over (), 0)) * 1e6) as bigint)"
        ),
    )
    return wt.withColumn(
        "weight_ppm",
        F.expr(
            "cast(sqrtp_micro * 1000000L"
            " div nullif(sum(sqrtp_micro) over (), 0) as bigint)"
        ),
    )


# ── Round 7: rank correlation + source-distribution divergence ───────
from rust_cdc_spark.queries.training import _QUALITY_SQL  # noqa: E402


@register(
    "quality_spearman_by_source",
    # Spearman rank correlation between quality score and document
    # length, per source. Ranks use the doubled tie-averaged form
    # r·2 = 2·cnt_less + cnt_eq + 1 (exact integers, computed from
    # each variable's per-source VALUE histogram), so the Pearson-on-
    # ranks moments are pure DECIMAL(38)/HUGEINT; the only floats are
    # the final two sqrts over exact integers + one rounded division
    # (the events_timeseries_pearson_topk discipline).
    oracle=f"""
    WITH d AS (
        SELECT source, {_QUALITY_SQL} AS q, n_chars AS len
        FROM documents
    ),
    qh AS (
        SELECT source, q,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(count(*)) OVER (PARTITION BY source ORDER BY q
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM d GROUP BY source, q
    ),
    lh AS (
        SELECT source, len,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(count(*)) OVER (PARTITION BY source ORDER BY len
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM d GROUP BY source, len
    ),
    ranked AS (
        SELECT d.source,
               CAST(2 * qh.cum - qh.cnt + 1 AS BIGINT) AS x,
               CAST(2 * lh.cum - lh.cnt + 1 AS BIGINT) AS y
        FROM d
        JOIN qh ON qh.source = d.source AND qh.q = d.q
        JOIN lh ON lh.source = d.source AND lh.len = d.len
    ),
    m AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
               CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
               CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM ranked GROUP BY source
    )
    SELECT source, n AS n_docs,
           CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
                THEN NULL
                ELSE CAST(round(1e6 * (n * sxy - sx * sy)
                     / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n * syy - sy * sy AS DOUBLE))))
                     AS BIGINT)
           END AS spearman_micro
    FROM m
    """,
)
def quality_spearman_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between the composite quality score
    and raw document length, per source — the dataset-card diagnostic
    for "is our quality filter secretly a length filter?": ρ near 1
    means the score adds nothing beyond length; near 0 means the
    fluency terms carry it. Rank-based, so the score's arbitrary
    scale and the length's heavy tail don't distort the answer the
    way Pearson on raw values would.

    Exactness: ranks are the doubled tie-averaged integers
    2·cnt_less + cnt_eq + 1, derived from each variable's per-source
    value histogram (quality has ≤10⁴ distinct 4-decimal values,
    length is bounded by max doc size — both histograms are VALUE-
    bounded, not corpus-bounded); moments run in DECIMAL(38); the
    final expression is two sqrts over exact integers and one rounded
    division, identical IEEE ops in both engines. Zero-variance
    sources yield NULL. BOUND (ADVICE r7): the sx·sx moment products
    run in DECIMAL(38,0); with ANSI off Spark yields NULL (not an
    error) on decimal overflow, which the per-source rank-sum
    Σrank ≈ n² reaches around n ≳ 2·10⁹ documents per source — shard
    such a source (or upgrade the moments to a two-pass mean-centered
    form) before trusting ρ at that size; same documented bound
    family as orders_chi2_priority_status / events_kruskal_wallis.

    Scale shape: one fused scan computes (source, q, len); two
    source-keyed histogram aggs + keyed cumulative windows over
    value-bounded rows; two keyed join-backs; one source-keyed moment
    agg. No global windows, no collect."""
    from rust_cdc_spark.functions import text as TX2

    docs = load_table(spark, "documents", sf_dir)
    d = docs.select(
        "source",
        TX2.quality_score("text").alias("q"),
        F.col("n_chars").alias("len"),
    )

    def hist(col: str) -> DataFrame:
        w = (
            Window.partitionBy("source")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            d.groupBy("source", col)
            .agg(F.count("*").cast("long").alias("cnt"))
            .select(
                "source", col, "cnt",
                F.sum("cnt").over(w).cast("long").alias("cum"),
            )
            .select(
                "source", col,
                (2 * F.col("cum") - F.col("cnt") + 1)
                .cast("long").alias(f"r_{col}"),
            )
        )

    ranked = (
        d.join(hist("q"), ["source", "q"])
        .join(hist("len"), ["source", "len"])
        .select(
            "source",
            F.col("r_q").alias("x"),
            F.col("r_len").alias("y"),
        )
    )
    m = ranked.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    return m.select(
        "source",
        F.col("n").alias("n_docs"),
        F.expr(
            "CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0"
            " THEN NULL"
            " ELSE CAST(round(1e6 * CAST(n * sxy - sx * sy AS DOUBLE)"
            "      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
            "         * sqrt(CAST(n * syy - sy * sy AS DOUBLE))))"
            "      AS BIGINT) END"
        ).alias("spearman_micro"),
    )


@register(
    "docs_js_divergence_sources",
    # Jensen–Shannon divergence of each source's unigram distribution
    # against the whole corpus: JSD = ½KL(p‖m) + ½KL(q‖m), m=(p+q)/2,
    # summed over the full (source × vocab) grid so tokens ABSENT
    # from a source contribute their ½q·ln2 mass. Each cell quantizes
    # once to micro-nats (the entropy-family discipline); p and q are
    # single IEEE divisions of exact integers.
    oracle=f"""
    WITH tok AS (
        SELECT source, lower(unnest({_WORDS_SQL})) AS token
        FROM documents
    ),
    c AS (
        SELECT source, token, CAST(count(*) AS BIGINT) AS n
        FROM tok GROUP BY source, token
    ),
    vocab AS (
        SELECT token, CAST(sum(n) AS BIGINT) AS gt FROM c GROUP BY token
    ),
    srcs AS (
        SELECT source, CAST(sum(n) AS BIGINT) AS ts FROM c GROUP BY source
    ),
    tot AS (SELECT CAST(sum(gt) AS BIGINT) AS t_all FROM vocab),
    grid AS (
        SELECT s.source, s.ts, v.token, v.gt, t.t_all,
               coalesce(c.n, 0) AS n
        FROM srcs s CROSS JOIN vocab v CROSS JOIN tot t
        LEFT JOIN c ON c.source = s.source AND c.token = v.token
    ),
    cell AS (
        SELECT source, ts,
               CASE WHEN n > 0 THEN 1 ELSE 0 END AS present,
               CAST(round(1e6 * (
                   CASE WHEN n = 0
                        THEN 0.5 * (CAST(gt AS DOUBLE) / t_all) * ln(2.0)
                        ELSE 0.5 * (CAST(n AS DOUBLE) / ts)
                             * ln(2.0 * (CAST(n AS DOUBLE) / ts)
                                  / (CAST(n AS DOUBLE) / ts
                                     + CAST(gt AS DOUBLE) / t_all))
                           + 0.5 * (CAST(gt AS DOUBLE) / t_all)
                             * ln(2.0 * (CAST(gt AS DOUBLE) / t_all)
                                  / (CAST(n AS DOUBLE) / ts
                                     + CAST(gt AS DOUBLE) / t_all))
                   END)) AS BIGINT) AS cell_micro
        FROM grid
    )
    SELECT source,
           CAST(max(ts) AS BIGINT) AS n_tokens,
           CAST(sum(present) AS BIGINT) AS vocab_present,
           CAST(sum(cell_micro) AS BIGINT) AS jsd_micro
    FROM cell GROUP BY source
    """,
)
def docs_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Jensen–Shannon divergence against the whole-corpus
    unigram distribution — "which sources speak a different language
    than the mixture?", the symmetric, bounded (≤ ln 2) counterpart
    of corpus_drift_kl's one-directional token drill-down. High JSD
    sources are candidates for their own mixture weight or their own
    tokenizer coverage check; near-zero sources are redundant with
    the mixture. The source itself is included in the global side
    (corpus-vs-whole, the standard dataset-card framing).

    Exactness: the (source × vocab) grid is materialized so absent
    tokens contribute their closed-form ½q·ln2 mass; every cell
    quantizes once to micro-nats from single IEEE divisions of exact
    counts (the entropy-family discipline), then sums as integers.

    Scale shape: one token explode → (source, token) hash agg is the
    only data-scale stage; vocab/source/total tables are bounded
    (Zipf vocabulary, single-digit sources); the grid is a broadcast
    cross join of bounded frames with a keyed join-back. No windows,
    no collect."""
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(
        "source",
        F.explode(F.expr(f"transform({_WORDS_SPARK}, w -> lower(w))"))
        .alias("token"),
    )
    c = tok.groupBy("source", "token").agg(
        F.count("*").cast("long").alias("n")
    )
    vocab = c.groupBy("token").agg(F.sum("n").cast("long").alias("gt"))
    srcs = c.groupBy("source").agg(F.sum("n").cast("long").alias("ts"))
    tot = vocab.agg(F.sum("gt").cast("long").alias("t_all"))
    grid = (
        vocab.crossJoin(F.broadcast(srcs))
        .crossJoin(F.broadcast(tot))
        .join(c, ["source", "token"], "left")
        .select(
            "source", "ts", "gt", "t_all",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        )
    )
    p = F.col("n").cast("double") / F.col("ts")
    q = F.col("gt").cast("double") / F.col("t_all")
    cell = grid.select(
        "source", "ts",
        F.when(F.col("n") > 0, 1).otherwise(0).alias("present"),
        F.round(
            F.lit(1e6)
            * F.when(
                F.col("n") == 0, 0.5 * q * F.log(F.lit(2.0))
            ).otherwise(
                0.5 * p * F.log(2.0 * p / (p + q))
                + 0.5 * q * F.log(2.0 * q / (p + q))
            )
        ).cast("long").alias("cell_micro"),
    )
    return cell.groupBy("source").agg(
        F.max("ts").cast("long").alias("n_tokens"),
        F.sum("present").cast("long").alias("vocab_present"),
        F.sum("cell_micro").cast("long").alias("jsd_micro"),
    )


@register(
    "quality_rules_mcnemar",
    # McNemar's paired test for every pair of the four quality-rule
    # families, on the SAME fused verdict scan the kappa/attribution
    # queries use: b = docs rule A keeps and B drops, c = the
    # reverse; the statistic (b−c)²/(b+c) quantizes as one integer
    # division. Where quality_rule_kappa measures AGREEMENT, McNemar
    # tests whether the two rules' keep RATES differ — the paired
    # test that a two-proportion z on overlapping data gets wrong.
    oracle=f"""
    WITH {_RULE_SIG_SQL},
    m AS (
        SELECT
          CAST(sum(CASE WHEN keep_gopher AND NOT keep_c4 THEN 1 ELSE 0 END) AS BIGINT) AS b_g_c4,
          CAST(sum(CASE WHEN NOT keep_gopher AND keep_c4 THEN 1 ELSE 0 END) AS BIGINT) AS c_g_c4,
          CAST(sum(CASE WHEN keep_gopher AND NOT keep_entropy THEN 1 ELSE 0 END) AS BIGINT) AS b_g_e,
          CAST(sum(CASE WHEN NOT keep_gopher AND keep_entropy THEN 1 ELSE 0 END) AS BIGINT) AS c_g_e,
          CAST(sum(CASE WHEN keep_gopher AND NOT keep_repetition THEN 1 ELSE 0 END) AS BIGINT) AS b_g_r,
          CAST(sum(CASE WHEN NOT keep_gopher AND keep_repetition THEN 1 ELSE 0 END) AS BIGINT) AS c_g_r,
          CAST(sum(CASE WHEN keep_c4 AND NOT keep_entropy THEN 1 ELSE 0 END) AS BIGINT) AS b_c4_e,
          CAST(sum(CASE WHEN NOT keep_c4 AND keep_entropy THEN 1 ELSE 0 END) AS BIGINT) AS c_c4_e,
          CAST(sum(CASE WHEN keep_c4 AND NOT keep_repetition THEN 1 ELSE 0 END) AS BIGINT) AS b_c4_r,
          CAST(sum(CASE WHEN NOT keep_c4 AND keep_repetition THEN 1 ELSE 0 END) AS BIGINT) AS c_c4_r,
          CAST(sum(CASE WHEN keep_entropy AND NOT keep_repetition THEN 1 ELSE 0 END) AS BIGINT) AS b_e_r,
          CAST(sum(CASE WHEN NOT keep_entropy AND keep_repetition THEN 1 ELSE 0 END) AS BIGINT) AS c_e_r
        FROM sig
    )
    SELECT p.pair, p.b, p.c,
           CAST(CASE WHEN p.b + p.c > 0
                     THEN (p.b - p.c) * (p.b - p.c) * 1000000
                          // (p.b + p.c)
                     ELSE NULL END AS BIGINT) AS mcnemar_micro
    FROM m, LATERAL (
        SELECT * FROM (VALUES
            ('gopher|c4', m.b_g_c4, m.c_g_c4),
            ('gopher|entropy', m.b_g_e, m.c_g_e),
            ('gopher|repetition', m.b_g_r, m.c_g_r),
            ('c4|entropy', m.b_c4_e, m.c_c4_e),
            ('c4|repetition', m.b_c4_r, m.c_c4_r),
            ('entropy|repetition', m.b_e_r, m.c_e_r)
        ) AS t(pair, b, c)
    ) p
    """,
)
def quality_rules_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for every pair of quality-rule families
    (Gopher, C4, entropy band, repetition): on the documents where
    the two rules DISAGREE (b = A-keeps/B-drops, c = B-keeps/A-drops),
    is the asymmetry bigger than coin-flips? χ²₁ = (b−c)²/(b+c). The
    paired-data companion to quality_rule_kappa: two rules can agree
    almost everywhere (high κ) yet still have systematically
    different keep rates (significant McNemar) — which one matters
    when swapping a rule in a curation pipeline.

    Scale shape: the four verdicts come from the ONE fused codegen
    scan shared with kappa/attribution (`_quality_rule_flags`); all
    12 discordance counts are conditional sums in a single 1-row agg;
    the 6 output rows unpivot via stack() on that row. One data-scale
    pass, zero joins."""
    docs = load_table(spark, "documents", sf_dir)
    sig = _quality_rule_flags(docs)
    pairs = [
        ("gopher|c4", "keep_gopher", "keep_c4"),
        ("gopher|entropy", "keep_gopher", "keep_entropy"),
        ("gopher|repetition", "keep_gopher", "keep_repetition"),
        ("c4|entropy", "keep_c4", "keep_entropy"),
        ("c4|repetition", "keep_c4", "keep_repetition"),
        ("entropy|repetition", "keep_entropy", "keep_repetition"),
    ]
    aggs = []
    for name, ra, rb in pairs:
        key = name.replace("|", "_")
        aggs.append(
            F.sum(F.when(F.col(ra) & ~F.col(rb), 1).otherwise(0))
            .cast("long").alias(f"b_{key}")
        )
        aggs.append(
            F.sum(F.when(~F.col(ra) & F.col(rb), 1).otherwise(0))
            .cast("long").alias(f"c_{key}")
        )
    m = sig.agg(*aggs)
    stack_expr = "stack({n}, {args}) as (pair, b, c)".format(
        n=len(pairs),
        args=", ".join(
            "'{p}', b_{k}, c_{k}".format(p=p, k=p.replace("|", "_"))
            for p, _, _ in pairs
        ),
    )
    return m.select(F.expr(stack_expr)).select(
        "pair", "b", "c",
        F.when(
            F.col("b") + F.col("c") > 0,
            F.expr("(b - c) * (b - c) * 1000000 div (b + c)"),
        ).cast("long").alias("mcnemar_micro"),
    )


@register(
    "docs_simpson_diversity",
    # Simpson concentration / Gini–Simpson diversity of each source's
    # token distribution — the no-logarithm diversity index: the
    # probability two tokens drawn WITHOUT replacement coincide is
    # EXACTLY Σ n_t(n_t−1) / (N(N−1)), a pure integer rational (the
    # entropy family needs per-term ln quantization; this needs
    # nothing). Products run in HUGEINT/DECIMAL(38).
    oracle=f"""
    WITH tok AS (
        SELECT source, lower(unnest({_WORDS_SQL})) AS token
        FROM documents
    ),
    c AS (
        SELECT source, token, CAST(count(*) AS BIGINT) AS n
        FROM tok GROUP BY source, token
    )
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(sum(CAST(n AS HUGEINT) * (n - 1)) * 1000000
                // nullif(CAST(sum(n) AS HUGEINT)
                          * (sum(n) - 1), 0) AS BIGINT)
               AS simpson_micro,
           CAST(1000000 - sum(CAST(n AS HUGEINT) * (n - 1)) * 1000000
                // nullif(CAST(sum(n) AS HUGEINT)
                          * (sum(n) - 1), 0) AS BIGINT)
               AS gini_simpson_micro
    FROM c GROUP BY source
    """,
)
def docs_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson concentration index per source — the probability two
    randomly drawn tokens are the SAME type — and its Gini–Simpson
    complement (diversity). The lexical-diversity measure that, unlike
    entropy (char_entropy_filter) or TTR (text_ttr_mattr), is an
    EXACT integer rational: Σ n(n−1)/(N(N−1)) needs no logarithm and
    no length correction, so it's the one you can compare across
    engines and corpus sizes bit-for-bit. High concentration flags
    template/boilerplate sources; high diversity flags
    random-token noise — both curation signals.

    Scale shape: one token explode → (source, token) hash agg
    (map-side partials) → one source-keyed finishing agg in
    DECIMAL(38)/HUGEINT. No windows, no joins, no floats."""
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(
        "source",
        F.explode(F.expr(f"transform({_WORDS_SPARK}, w -> lower(w))"))
        .alias("token"),
    )
    c = tok.groupBy("source", "token").agg(
        F.count("*").cast("long").alias("n")
    )
    return c.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab"),
        F.expr(
            "cast(sum(cast(n as decimal(38,0)) * (n - 1)) * 1000000"
            " div nullif(cast(sum(n) as decimal(38,0))"
            "            * (sum(n) - 1), 0) as long)"
        ).alias("simpson_micro"),
        F.expr(
            "cast(1000000 - sum(cast(n as decimal(38,0)) * (n - 1))"
            " * 1000000"
            " div nullif(cast(sum(n) as decimal(38,0))"
            "            * (sum(n) - 1), 0) as long)"
        ).alias("gini_simpson_micro"),
    )
