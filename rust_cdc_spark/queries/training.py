"""Training-set assembly: the last mile of a pretraining data pipeline.

After curation (``queries/curation.py``) and dedup (``queries/llm.py``),
a corpus still has to become a *training set*: documents packed into
fixed-token-budget sequences, sources interleaved into a deterministic
global order, the curation funnel accounted per source, and embeddings
clustered for mixture balancing. Each stage here is the batch shape of
that step, oracle-checked value-for-value against DuckDB.

Design rules (same as the rest of the registry):
- Determinism is md5-based (engine- and retry-stable), never
  ``rand()``/``hash()`` (JVM-internal, not reproducible in the oracle).
- Packing and interleave are windowed per shard/source so the shuffles
  are key-partitioned — no global state and no global sort anywhere:
  the interleave's global position is computed arithmetically from a
  broadcast per-source size table, never by a corpus-wide row_number.
- Cluster assignment is a broadcast cross join against a constant-size
  centroid set — the corpus side never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rust_cdc_spark.functions import text as TX
from rust_cdc_spark.functions import vectors as V
from rust_cdc_spark.operators.ranks import pin
from rust_cdc_spark.queries import register
from rust_cdc_spark.sources.tables import load_table

# Fixed knobs — deterministic and shared verbatim with the oracles.
_CTX_TOKENS = 512  # context length budget per packed sequence
_N_SHARDS = 8  # pack-parallel shards (cluster: one per output file group)
_QUALITY_MIN = 0.5  # curation funnel keep threshold
_K_CENTROIDS = 8  # seed centroids for single-pass assignment

_TOKENS_SQL = "string_split(trim(text), ' ')"
_TOKENS_SPARK = "split(trim(text), ' ')"
_NTOK_SQL = f"len({_TOKENS_SQL})"


@register(
    "pack_sequences",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               doc_id % {_N_SHARDS} AS shard_id,
               md5(CAST(doc_id AS VARCHAR)) AS ord_key,
               CAST({_NTOK_SQL} AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, shard_id, n_tokens,
               sum(n_tokens) OVER (
                   PARTITION BY shard_id ORDER BY ord_key
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_tokens
        FROM t
    )
    SELECT doc_id, shard_id, n_tokens,
           CAST(floor((cum_tokens - 1) / {_CTX_TOKENS}) AS BIGINT) AS bin_id
    FROM c
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed-token-budget training sequences.

    Documents are sharded by ``doc_id % 8``, ordered within a
    shard by an md5 key (deterministic shuffle), and assigned to the
    512-token bin their running token total lands in — the
    chunked-packing strategy (a doc may straddle a boundary; trainers
    truncate/continue, same as T5/GPT block packing).

    Scale shape: ONE key-partitioned shuffle (the per-shard window).
    Shards are independent, so a 1000-executor cluster packs 1000 shards
    concurrently; no global order, no driver state. Bin ids are stable
    under re-partitioning because the order key is content-derived, not
    partition-derived."""
    docs = load_table(spark, "documents", sf_dir)
    t = docs.select(
        "doc_id",
        (F.col("doc_id") % _N_SHARDS).alias("shard_id"),
        F.md5(F.col("doc_id").cast("string")).alias("ord_key"),
        TX.token_count("text").cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard_id")
        .orderBy("ord_key")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t.select(
        "doc_id",
        "shard_id",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - 1) / _CTX_TOKENS)
        .cast("bigint")
        .alias("bin_id"),
    )


@register(
    "mixture_interleave",
    oracle="""
    WITH r AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR))
               ) AS rank_in_source
        FROM documents
    )
    SELECT doc_id, source,
           CAST(rank_in_source AS BIGINT) AS rank_in_source,
           CAST(row_number() OVER (
               ORDER BY rank_in_source, source, doc_id
           ) AS BIGINT) AS global_pos
    FROM r
    """,
)
def mixture_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source-interleaved training order: shuffle within
    each source by md5, then emit round-robin across sources (all the
    rank-1 docs first, then rank-2, …) — the standard mixture interleave
    that keeps any window of the training stream source-balanced.

    Scale shape: the per-source rank is a key-partitioned window; the
    global position is then *arithmetic*, not a global sort — a doc at
    (rank r, source s) sits after every doc of rank < r (Σ_s'
    min(|s'|, r-1)) plus the same-rank docs of earlier-named sources
    with ≥ r docs. The per-source size table is constant-small, so it
    rides in as a broadcast struct array and the position is a codegen
    fold per row. No corpus-sized single-partition exchange anywhere
    (the naive row_number-over-everything plans Exchange
    SinglePartition — the thing that dies at 100 TB)."""
    docs = load_table(spark, "documents", sf_dir)
    r = docs.select(
        "doc_id",
        "source",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.md5(F.col("doc_id").cast("string"))
            )
        )
        .cast("bigint")
        .alias("rank_in_source"),
    )
    sizes = docs.groupBy("source").agg(F.count("*").alias("sz"))
    srcs = sizes.agg(
        F.sort_array(F.collect_list(F.struct("source", "sz"))).alias("srcs")
    )
    pos = F.aggregate(
        F.col("srcs"),
        F.lit(1).cast("bigint"),
        lambda acc, e: acc
        + F.least(e["sz"], F.col("rank_in_source") - 1)
        + F.when(
            (e["sz"] >= F.col("rank_in_source"))
            & (e["source"] < F.col("source")),
            F.lit(1).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint")),
    )
    return r.crossJoin(F.broadcast(srcs)).select(
        "doc_id",
        "source",
        "rank_in_source",
        pos.alias("global_pos"),
    )


_FP_SQL = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"
_SW_SQL = "['the','a','an','and','of','to','in','is','it','that']"
_QUALITY_SQL = f"""
    round(0.4 * least({_NTOK_SQL} / 64.0, 1.0)
          + 0.4 * least(4.0 * len(list_filter({_TOKENS_SQL},
                        t -> list_contains({_SW_SQL}, lower(t))))
                        / {_NTOK_SQL}, 1.0)
          + 0.2 * (CASE WHEN list_sum(list_transform({_TOKENS_SQL},
                             t -> length(t))) * 1.0 / {_NTOK_SQL}
                        BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END), 4)
"""
_LANG_OK_SQL = f"""
    (len(list_filter({_TOKENS_SQL}, t -> list_contains({_SW_SQL}, lower(t))))
     * 1.0 / {_NTOK_SQL} >= 0.08)
"""


@register(
    "curation_pipeline",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, source,
               CAST({_NTOK_SQL} AS BIGINT) AS n_tokens,
               {_FP_SQL} AS fp,
               {_QUALITY_SQL} AS quality,
               {_LANG_OK_SQL} AS lang_ok
        FROM documents
    ),
    flagged AS (
        SELECT *,
               (lang_ok AND quality >= {_QUALITY_MIN}) AS pass_filters,
               min(CASE WHEN lang_ok AND quality >= {_QUALITY_MIN}
                        THEN doc_id END)
                   OVER (PARTITION BY fp) AS canonical_id
        FROM scored
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN pass_filters THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pass_filters,
           CAST(sum(CASE WHEN pass_filters AND doc_id = canonical_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN pass_filters AND doc_id = canonical_id
                         THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
           round(coalesce(sum(CASE WHEN pass_filters AND doc_id = canonical_id
                          THEN quality END), 0.0), 4) AS kept_quality_sum
    FROM flagged
    GROUP BY source
    """,
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel, accounted per source: language filter
    → quality threshold (0.5) → exact dedup (canonical doc
    survives) → per-source keep counts, surviving token budget, and kept
    quality. This is the dataset-card "what survived curation" table —
    the composition of lang_id_heuristic, text_quality_score and
    dedup_exact_documents as one plan.

    Scale shape: one map stage computes all per-doc signals in a single
    codegen pass over the scan; the canonical-per-fingerprint choice is
    a key-partitioned window on fp (same shuffle the dedup groupBy
    would pay); the funnel is one grouped agg on source with map-side
    partials. No joins — each doc carries its own verdicts."""
    docs = load_table(spark, "documents", sf_dir)
    scored = docs.select(
        "doc_id",
        "source",
        TX.token_count("text").cast("bigint").alias("n_tokens"),
        TX.fingerprint("text").alias("fp"),
        TX.quality_score("text").alias("quality"),
        (TX.lang_id("text") == "en").alias("lang_ok"),
    )
    passes = F.col("lang_ok") & (F.col("quality") >= _QUALITY_MIN)
    flagged = scored.select(
        "*",
        passes.alias("pass_filters"),
        F.min(F.when(passes, F.col("doc_id")))
        .over(Window.partitionBy("fp"))
        .alias("canonical_id"),
    )
    kept = F.col("pass_filters") & (F.col("doc_id") == F.col("canonical_id"))
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("pass_filters").cast("bigint")).alias("n_pass_filters"),
        F.sum(kept.cast("bigint")).alias("n_kept"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(F.lit(0))).alias(
            "kept_tokens"
        ),
        # the quality *sum*, not avg: summands carry 4 decimals, so the
        # rounded sum is boundary-safe cross-engine, while an avg (÷n)
        # can land exactly on a half-point and flip the last digit with
        # aggregation order; mean = kept_quality_sum / n_kept.
        F.round(
            F.coalesce(F.sum(F.when(kept, F.col("quality"))), F.lit(0.0)), 4
        ).alias("kept_quality_sum"),
    )



def _assign_nearest(
    emb: DataFrame, *extra_cols: str, k: int = _K_CENTROIDS
) -> DataFrame:
    """Shared nearest-seed-centroid assignment (the Spark twin of the
    oracle-side ``_centroid_sql``): broadcast the vec_id < k seed set,
    score with a codegen L2, argmin as a min(struct) partial agg keyed
    on vec_id (+ any functionally-dependent ``extra_cols`` carried
    through the groupBy). Used by embedding_kmeans_assign,
    embedding_cluster_profile, cluster_balanced_sample, and
    retrieval.semantic_dedup_prune (with a larger k) so the assignment
    rule lives in exactly one place."""
    cents = (
        emb.filter(F.col("vec_id") < k)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    )
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        *extra_cols,
        "cid",
        V.l2_distance(F.col("embedding"), F.col("cv")).alias("dist"),
    )
    return (
        scored.groupBy("vec_id", *extra_cols)
        .agg(F.min(F.struct("dist", "cid")).alias("b"))
        .select(
            "vec_id",
            *extra_cols,
            F.col("b.cid").alias("cid"),
            F.col("b.dist").alias("dist"),
        )
    )


def _centroid_sql(k: int = _K_CENTROIDS) -> str:
    """Oracle-side twin of ``_assign_nearest(k=...)``."""
    return f"""
    centroids AS (
        SELECT vec_id AS cid,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
        FROM embeddings WHERE vec_id < {k}
    ),
    scored AS (
        SELECT e.vec_id, c.cid,
               sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
                    i -> (CAST(e.embedding[i] AS DOUBLE) - c.cv[i])
                         * (CAST(e.embedding[i] AS DOUBLE) - c.cv[i]))))
                   AS dist
        FROM embeddings e CROSS JOIN centroids c
    ),
    assigned AS (
        SELECT vec_id, cid, dist,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid)
                   AS rn
        FROM scored
    )
"""


_CENTROID_SQL = _centroid_sql()


@register(
    "embedding_kmeans_assign",
    oracle=f"""
    WITH {_CENTROID_SQL}
    SELECT a.vec_id,
           CAST(a.cid AS BIGINT) AS cluster_id,
           round(a.dist, 4) AS dist
    FROM assigned a
    WHERE a.rn = 1
    """,
)
def embedding_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass nearest-centroid assignment over the embedding corpus
    — the E-step every mixture-balancing / cluster-sampling pipeline
    runs (the full iterative trainer is operators/similarity.py's IVF
    k-means; this is its deterministic, seed-centroid form, which makes
    the assignment oracle-checkable value-for-value).

    Centroids are the vectors with vec_id < 8 (determinism
    by construction, as faiss seeds from the corpus). Scale shape: the
    centroid set is constant-size → broadcast cross join; distance is a
    codegen'd higher-order expression; argmin is a min(struct) partial
    agg keyed on vec_id — at 100 TB the corpus side is scan → map →
    one partial-aggregated shuffle of |corpus| rows."""
    emb = load_table(spark, "embeddings", sf_dir)
    return _assign_nearest(emb).select(
        "vec_id",
        F.col("cid").cast("bigint").alias("cluster_id"),
        F.round("dist", 4).alias("dist"),
    )


@register(
    "embedding_cluster_profile",
    oracle=f"""
    WITH {_CENTROID_SQL},
    a AS (SELECT vec_id, cid, round(dist, 4) AS dist
          FROM assigned WHERE rn = 1),
    lab AS (
        SELECT a.cid, a.dist, e.label
        FROM a JOIN embeddings e USING (vec_id)
    ),
    per_label AS (
        SELECT cid, label,
               count(*) AS n, sum(dist) AS s
        FROM lab GROUP BY cid, label
    )
    SELECT CAST(cid AS BIGINT) AS cluster_id,
           CAST(sum(n) AS BIGINT) AS n_vecs,
           round(sum(s), 4) AS dist_sum,
           round(CAST(max(n) AS DOUBLE) / sum(n), 4) AS label_purity
    FROM per_label
    GROUP BY cid
    """,
)
def embedding_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level profile of the k-means assignment: size, mean
    distance-to-centroid mass (dist_sum; mean = dist_sum / n_vecs), and label purity (fraction of the
    cluster carrying its majority label) — the table a mixture-balancing
    pass reads to up/down-sample clusters.

    Scale shape: label is functionally dependent on vec_id, so it rides
    through the assignment argmin as a grouping key instead of paying a
    corpus-sized join afterwards; the profile is then a two-level agg
    (cluster,label) → cluster whose inputs are ≤ K·|labels| rows. Three
    key-partitioned shuffles total, all map-side partial; the corpus is
    scanned once; nothing driver-side."""
    emb = load_table(spark, "embeddings", sf_dir)
    assign = _assign_nearest(emb, "label").select(
        F.col("cid").alias("cluster_id"),
        F.round("dist", 4).alias("dist"),
        "label",
    )
    per_label = assign.groupBy("cluster_id", "label").agg(
        F.count("*").alias("n"), F.sum("dist").alias("s")
    )
    # dist_sum, not avg: the summands are 4-decimal values, so the
    # rounded sum is cross-engine boundary-safe; an avg (÷n) can land
    # exactly on a rounding half-point and flip with aggregation order.
    # label_purity (int ÷ int, one IEEE op) is bit-identical by design.
    return per_label.groupBy("cluster_id").agg(
        F.sum("n").cast("bigint").alias("n_vecs"),
        F.round(F.sum("s"), 4).alias("dist_sum"),
        F.round(F.max("n") / F.sum("n"), 4).alias("label_purity"),
    ).select(
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        "n_vecs",
        "dist_sum",
        "label_purity",
    )


_VOCAB_TOP = 100  # emitted vocabulary rows
_BPE_TOP = 50  # emitted merge-candidate rows


@register(
    "vocab_top_tokens",
    oracle=f"""
    WITH tok AS (
        SELECT lower(t) AS token
        FROM documents, LATERAL unnest({_TOKENS_SQL}) AS u(t)
    ),
    counts AS (
        SELECT token, count(*) AS n FROM tok GROUP BY token
    ),
    total AS (SELECT sum(n) AS tot FROM counts),
    ranked AS (
        SELECT token, n,
               row_number() OVER (ORDER BY n DESC, token) AS rank
        FROM counts
    )
    SELECT r.token, CAST(r.n AS BIGINT) AS n,
           CAST(r.rank AS BIGINT) AS rank,
           round(CAST(r.n AS DOUBLE) / t.tot, 6) AS corpus_frac
    FROM ranked r CROSS JOIN total t
    WHERE r.rank <= {_VOCAB_TOP}
    """,
)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary head: the top-100 tokens by corpus frequency
    with each token's corpus fraction — the Zipf table of a dataset card
    and the frequency input to any vocab-truncation decision.

    Scale shape: explode → hash agg with map-side partials (the shuffle
    carries one row per *distinct* token, not per occurrence), the total
    is a scalar agg broadcast back, and top-k is TakeOrderedAndProject
    (per-partition heaps — no global sort of the vocabulary).
    corpus_frac is int÷int (one IEEE op, bit-identical cross-engine)."""
    docs = load_table(spark, "documents", sf_dir)
    counts = (
        docs.select(
            F.explode(F.expr(f"transform({_TOKENS_SPARK}, t -> lower(t))")).alias(
                "token"
            )
        )
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    total = counts.agg(F.sum("n").alias("tot"))
    # top-k FIRST via orderBy+limit (TakeOrderedAndProject: per-partition
    # heaps, no global sort of the vocabulary), THEN rank the ≤k
    # survivors with a window — the window's single partition holds k
    # rows, not |vocab|.
    top = counts.orderBy(F.col("n").desc(), "token").limit(_VOCAB_TOP)
    ranked = top.select(
        "token",
        "n",
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), "token"))
        .cast("bigint")
        .alias("rank"),
    )
    return ranked.crossJoin(F.broadcast(total)).select(
        "token",
        "n",
        "rank",
        F.round(F.col("n") / F.col("tot"), 6).alias("corpus_frac"),
    )


_OOV_VOCAB = 500  # closed-vocabulary size for the coverage eval


@register(
    "vocab_oov_rate",
    oracle=f"""
    WITH st AS (
        SELECT source, lower(t) AS token, count(*) AS cnt
        FROM documents, LATERAL unnest({_TOKENS_SQL}) AS u(t)
        GROUP BY source, lower(t)
    ),
    vocab AS (
        SELECT token
        FROM (SELECT token, sum(cnt) AS n FROM st GROUP BY token)
        ORDER BY n DESC, token LIMIT {_OOV_VOCAB}
    )
    SELECT st.source,
           CAST(sum(st.cnt) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN v.token IS NULL THEN st.cnt ELSE 0 END)
                AS BIGINT) AS oov_tokens,
           round(CAST(sum(CASE WHEN v.token IS NULL THEN st.cnt ELSE 0 END)
                      AS DOUBLE) / sum(st.cnt), 6) AS oov_rate
    FROM st LEFT JOIN vocab v ON st.token = v.token
    GROUP BY st.source
    """,
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source OOV rate against the global top-500 vocabulary — the
    tokenizer-coverage eval run before committing to a vocab size: a
    source whose occurrence mass falls outside the closed vocabulary
    will fragment into long byte-level token sequences.

    Scale shape: ONE corpus explode feeds a (source, token) hash agg
    (map-side partials → the shuffle carries distinct (source, token)
    rows, not occurrences); the global vocabulary is a re-agg of that
    same small table (AQE reuses the exchange — no second corpus scan)
    with TakeOrderedAndProject top-k; membership is a broadcast left
    join; the final per-source rollup aggregates ≤ sources·|st| rows.
    Tie-break at the vocab boundary is (count desc, token) — stable
    across engines and partitionings.
    """
    docs = load_table(spark, "documents", sf_dir)
    st = (
        docs.select(
            "source",
            F.explode(
                F.expr(f"transform({_TOKENS_SPARK}, t -> lower(t))")
            ).alias("token"),
        )
        .groupBy("source", "token")
        .agg(F.count("*").alias("cnt"))
    )
    vocab = (
        st.groupBy("token")
        .agg(F.sum("cnt").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(_OOV_VOCAB)
        .select("token", F.lit(1).alias("__iv"))
    )
    oov_cnt = F.sum(
        F.when(F.col("__iv").isNull(), F.col("cnt")).otherwise(F.lit(0))
    )
    return (
        st.join(F.broadcast(vocab), "token", "left")
        .groupBy("source")
        .agg(
            F.sum("cnt").cast("bigint").alias("total_tokens"),
            oov_cnt.cast("bigint").alias("oov_tokens"),
        )
        .select(
            "source",
            "total_tokens",
            "oov_tokens",
            F.round(
                F.col("oov_tokens") / F.col("total_tokens").cast("double"), 6
            ).alias("oov_rate"),
        )
    )


@register(
    "bpe_merge_candidates",
    oracle=f"""
    WITH tok AS (
        SELECT lower(t) AS token, count(*) AS freq
        FROM documents, LATERAL unnest({_TOKENS_SQL}) AS u(t)
        GROUP BY lower(t)
    ),
    pairs AS (
        SELECT substr(token, i, 2) AS pair, sum(freq) AS n
        FROM tok, LATERAL (
            SELECT unnest(range(1, length(token))) AS i)
        WHERE length(token) >= 2
        GROUP BY substr(token, i, 2)
    ),
    ranked AS (
        SELECT pair, n,
               row_number() OVER (ORDER BY n DESC, pair) AS rank
        FROM pairs
    )
    SELECT pair, CAST(n AS BIGINT) AS n, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {_BPE_TOP}
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge iteration: corpus-wide counts of adjacent
    character pairs inside tokens, weighted by token frequency — the
    exact statistic a BPE tokenizer trainer maximizes at each merge
    step (Sennrich et al.'s algorithm; one iteration, the repeated-merge
    loop is driver-side over this same query shape).

    Scale shape: tokens collapse to (token, freq) FIRST (hash agg on
    distinct tokens — the corpus's occurrence count never re-explodes),
    then pairs explode only the *distinct-token* set and re-aggregate
    weighted by freq. Two shuffles over vocabulary-sized data, then
    TakeOrdered top-k; at 100 TB the pair agg input is |vocab|·|avg
    token len|, orders of magnitude below corpus token count."""
    docs = load_table(spark, "documents", sf_dir)
    tok = (
        docs.select(
            F.explode(F.expr(f"transform({_TOKENS_SPARK}, t -> lower(t))")).alias(
                "token"
            )
        )
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .filter(F.length("token") >= 2)
    )
    pairs = (
        tok.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(token) - 1),"
                    " i -> substring(token, i, 2))"
                )
            ).alias("pair"),
            "freq",
        )
        .groupBy("pair")
        .agg(F.sum("freq").alias("n"))
    )
    # same top-k-then-rank shape as vocab_top_tokens: heap-based limit
    # before the (tiny) ranking window
    top = pairs.orderBy(F.col("n").desc(), "pair").limit(_BPE_TOP)
    return top.select(
        "pair",
        "n",
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), "pair"))
        .cast("bigint")
        .alias("rank"),
    )


_N_MERGES = 8
_BPE_MIN_FREQ = 2


def _bpe_train_replay_sql(n_merges: int = _N_MERGES,
                          min_freq: int = _BPE_MIN_FREQ) -> str:
    """Oracle for ``bpe_train_merges``: replays the whole training loop
    as an unrolled DuckDB CTE chain — the same trick as
    queries/ann_replay.py. State per iteration is the vocabulary's
    delimiter-wrapped symbol string (``_bpe_apply_sql``'s encoding,
    value-proven by the ``bpe_encode_corpus`` oracle); pair counts come
    from splitting that string back into symbols, the argmax mirrors
    the trainer's (n DESC, l, r) tie rule, and the winning pair is
    folded in with the same leftmost-greedy ``replace``. Early stop
    (best pair below ``min_freq``, or no pairs at all → NULL scalar
    subqueries) suppresses that step and every later one, exactly as
    the driver loop breaks. CTEs are MATERIALIZED: each state feeds two
    consumers, and inlining would re-derive the chain exponentially."""
    parts = [f"""v0 AS MATERIALIZED (
        SELECT '|' || array_to_string(string_split(token, ''), '||') || '|'
                   AS s,
               count(*) AS freq
        FROM (SELECT lower(t) AS token
              FROM documents,
                   LATERAL unnest(string_split(trim(text), ' ')) AS u(t)
              WHERE t <> '')
        GROUP BY 1
    )"""]
    for t in range(1, n_merges + 1):
        parts.append(f"""p{t} AS (
        SELECT sy[i] AS l, sy[i + 1] AS r, CAST(sum(freq) AS BIGINT) AS n
        FROM (SELECT string_split(trim(s, '|'), '||') AS sy, freq
              FROM v{t - 1}),
             LATERAL unnest(range(1, len(sy))) AS g(i)
        GROUP BY 1, 2
    )""")
        parts.append(f"""w{t} AS MATERIALIZED (
        SELECT l, r, n FROM p{t} ORDER BY n DESC, l, r LIMIT 1
    )""")
        if t < n_merges:
            parts.append(f"""v{t} AS MATERIALIZED (
        SELECT replace(s,
                   '|' || (SELECT l FROM w{t}) || '||'
                       || (SELECT r FROM w{t}) || '|',
                   '|' || (SELECT l FROM w{t})
                       || (SELECT r FROM w{t}) || '|') AS s,
               freq
        FROM v{t - 1}
    )""")
    steps = []
    for t in range(1, n_merges + 1):
        valid = " AND ".join(
            f"(SELECT n FROM w{j}) >= {min_freq}" for j in range(1, t + 1)
        )
        steps.append(
            f"SELECT {t} AS step, l AS \"left\", r AS \"right\","
            f" l || r AS merged, n AS pair_freq FROM w{t} WHERE {valid}"
        )
    body = ",\n    ".join(parts)
    union = "\n    UNION ALL ".join(steps)
    return f"""
    WITH {body}
    SELECT * FROM ({union})
    ORDER BY step
    """


@register("bpe_train_merges", oracle=_bpe_train_replay_sql())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE training loop (8 merges) over the corpus —
    the iterative extension of bpe_merge_candidates. Each iteration
    aggregates pair frequencies over the vocabulary table and folds the
    winning pair into the symbol arrays (operators/bpe.py); the driver
    holds only the model (one pair per step), like the IVF k-means
    trainer. The oracle REPLAYS the whole loop as an unrolled DuckDB
    CTE chain (``_bpe_train_replay_sql``), so training is value-checked
    end-to-end; exact equivalence against a brute-force Python BPE
    implementation is additionally pinned in tests/test_bpe.py."""
    from rust_cdc_spark.operators.bpe import learn_bpe_merges

    docs = load_table(spark, "documents", sf_dir)
    merges = learn_bpe_merges(docs, n_merges=_N_MERGES)
    rows = [
        (i + 1, left, right, left + right, n)
        for i, (left, right, n) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows, "step int, left string, right string, merged string, pair_freq bigint"
    )


_CHUNK_TOKENS = 20  # RAG chunk width
_CHUNK_STRIDE = 10  # overlap stride


@register(
    "chunk_documents_overlap",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_TOKENS_SQL} AS words FROM documents),
    c AS (
        SELECT doc_id,
               i AS chunk_id,
               i * {_CHUNK_STRIDE} AS start_tok,
               words[(i * {_CHUNK_STRIDE} + 1):(i * {_CHUNK_STRIDE} + {_CHUNK_TOKENS})]
                   AS chunk
        FROM w, LATERAL (
            SELECT unnest(range(0,
                CAST(ceil(greatest(len(words) - {_CHUNK_TOKENS}, 0)
                          / {_CHUNK_STRIDE}.0) AS BIGINT) + 1)) AS i)
    )
    SELECT doc_id,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(len(chunk) AS INT) AS n_chunk_tokens,
           md5(array_to_string(chunk, ' ')) AS chunk_fp
    FROM c
    """,
)
def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window document chunking (the RAG-ingestion shape):
    20-token chunks at a 10-token stride, each
    fingerprinted for downstream chunk-level dedup/embedding. The chunk
    count per doc is ceil(max(n_tokens - 20, 0) / 10) + 1 — every token is
    covered and the final chunk may be short.

    Scale shape: pure map stage — the chunk windows are built per row
    with higher-order array functions inside codegen, no shuffle at all;
    at 100 TB this parallelizes by scan partition like any projection."""
    docs = load_table(spark, "documents", sf_dir)
    w = docs.select("doc_id", F.expr(_TOKENS_SPARK).alias("words"))
    c = w.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, cast(ceil(greatest(size(words) - "
                f"{_CHUNK_TOKENS}, 0) / {_CHUNK_STRIDE}.0) as int)),"
                f" i -> struct(cast(i as bigint) AS chunk_id,"
                f" cast(i * {_CHUNK_STRIDE} as bigint) AS start_tok,"
                f" slice(words, i * {_CHUNK_STRIDE} + 1, {_CHUNK_TOKENS}) AS chunk))"
            )
        ).alias("c"),
    )
    return c.select(
        "doc_id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.col("c.start_tok").alias("start_tok"),
        F.size("c.chunk").alias("n_chunk_tokens"),
        F.md5(F.array_join("c.chunk", " ")).alias("chunk_fp"),
    )


_PER_CLUSTER = 30  # balanced-sample quota per cluster


@register(
    "cluster_balanced_sample",
    oracle=f"""
    WITH {_CENTROID_SQL},
    a AS (SELECT vec_id, cid FROM assigned WHERE rn = 1),
    ranked AS (
        SELECT vec_id, cid,
               row_number() OVER (
                   PARTITION BY cid
                   ORDER BY md5(CAST(vec_id AS VARCHAR))
               ) AS pick
        FROM a
    )
    SELECT vec_id,
           CAST(cid AS BIGINT) AS cluster_id,
           CAST(pick AS BIGINT) AS pick
    FROM ranked
    WHERE pick <= {_PER_CLUSTER}
    """,
)
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced corpus sampling: up to 30 vectors per
    k-means cluster, picked by md5 order — the mixture-balancing
    downsample that follows embedding_cluster_profile (oversampled
    clusters are cut to quota; rare clusters keep everything).

    Scale shape: the broadcast argmin assignment feeds a cid-keyed
    row_number window — one corpus shuffle on cluster id; the md5 pick
    order is content-derived, so the sample is stable under
    re-partitioning and retries (same property as
    operators/sampling.stratified_sample)."""
    emb = load_table(spark, "embeddings", sf_dir)
    assign = _assign_nearest(emb).select("vec_id", "cid")
    ranked = assign.select(
        "vec_id",
        "cid",
        F.row_number()
        .over(
            Window.partitionBy("cid").orderBy(
                F.md5(F.col("vec_id").cast("string"))
            )
        )
        .cast("bigint")
        .alias("pick"),
    ).filter(F.col("pick") <= _PER_CLUSTER)
    return ranked.select(
        "vec_id", F.col("cid").cast("bigint").alias("cluster_id"), "pick"
    )


def _split_thresholds():
    from rust_cdc_spark.operators.sampling import hex_threshold

    return hex_threshold(0.8), hex_threshold(0.9)


@register(
    "train_val_test_split",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, source,
               md5('split|' || CAST(doc_id AS VARCHAR)) AS h
        FROM documents
    )
    SELECT doc_id, source,
           CASE WHEN h < '{"%032x" % int(0.8 * 16**32)}' THEN 'train'
                WHEN h < '{"%032x" % int(0.9 * 16**32)}' THEN 'val'
                ELSE 'test' END AS split
    FROM d
    """,
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by md5 digest
    threshold (salted so it is independent of every other md5-keyed
    decision in the pipeline) — the split is a pure function of doc_id,
    so it is stable across engines, retries, re-partitioning, and
    incremental corpus growth (a new doc never moves an old one between
    splits, unlike rank-based splits).

    Scale shape: map-only — a string comparison per row against two
    constant hex thresholds; no shuffle, no state. The same idiom as
    operators/sampling.bernoulli_sample."""
    t80, t90 = _split_thresholds()
    docs = load_table(spark, "documents", sf_dir)
    h = F.md5(F.concat(F.lit("split|"), F.col("doc_id").cast("string")))
    return docs.select(
        "doc_id",
        "source",
        F.when(h < t80, "train").when(h < t90, "val").otherwise("test").alias(
            "split"
        ),
    )


# Fixed merge table for the oracle-checked BPE apply pass: exercises
# chained merges (t+h → th+e) and a self-overlapping pair (e+e).
_BPE_APPLY_MERGES = [("t", "h"), ("th", "e"), ("e", "e"), ("a", "n"), ("an", "d")]


def _bpe_apply_sql() -> str:
    # Greedy leftmost merge as a chain of string replaces over a
    # delimiter-wrapped symbol string ("abc" → "|a||b||c|"): each symbol
    # carries its own delimiters, so adjacent matches never share a
    # boundary character and replace() scans leftmost-first — verified
    # equivalent to the fold in operators/bpe._apply_merge on
    # self-overlapping (e,e) and chained (t,h→th,e) cases.
    s = "'|' || array_to_string(string_split(token, ''), '||') || '|'"
    for left, right in _BPE_APPLY_MERGES:
        s = f"replace({s}, '|{left}||{right}|', '|{left}{right}|')"
    return s


@register(
    "bpe_encode_corpus",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lower(t) AS token
        FROM documents, LATERAL unnest(string_split(trim(text), ' ')) AS u(t)
        WHERE t <> ''
    ),
    enc AS (
        SELECT doc_id, token, {_bpe_apply_sql()} AS s
        FROM tok
    )
    SELECT doc_id, token,
           replace(trim(s, '|'), '||', ' ') AS segmentation,
           CAST(len(string_split(s, '||')) AS INT) AS n_pieces
    FROM enc
    """,
)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY pass: segment every corpus token with a (fixed,
    deterministic) BPE merge table — the serving half of the trainer in
    operators/bpe.py (`bpe_train_merges` learns the table; this encodes
    with it). Pure map stage: per merge one codegen array fold, no
    shuffle, no Python — at 100 TB the encode cost is embarrassingly
    parallel and pipelines with the parquet scan. The DuckDB oracle
    replays the same greedy leftmost semantics via delimiter-wrapped
    string replaces, giving a value-level check of the merge fold."""
    from rust_cdc_spark.operators import bpe as BPE

    docs = load_table(spark, "documents", sf_dir)
    merges = [(left, right, 0) for left, right in _BPE_APPLY_MERGES]
    seg = BPE.segment_tokens(docs, merges)
    return seg.select(
        "doc_id",
        "token",
        F.concat_ws(" ", "pieces").alias("segmentation"),
        F.size("pieces").cast("int").alias("n_pieces"),
    )


def _gd_oracle(n_iters: int = 3, lr: float = 0.5) -> str:
    """Unrolled batch-GD oracle: each iteration is one integer-quantized
    gradient aggregate + a 1-row weight update CTE (the SQL mirror of
    operators/logistic.train_linear_model — identical arithmetic order,
    so the weights are bit-identical, not approximately equal)."""
    x = ["1.0",
         "least(CAST(len(string_split(trim(text), ' ')) AS DOUBLE) / 64.0, 1.0)",
         ("CAST(len(list_filter(string_split(trim(text), ' '), "
          "t -> list_contains(['the','a','an','and','of','to','in','is','it','that'], "
          "lower(t)))) AS DOUBLE) / len(string_split(trim(text), ' '))"),
         ("CAST(list_sum(list_transform(string_split(trim(text), ' '), "
          "t -> length(t))) AS DOUBLE) / len(string_split(trim(text), ' ')) / 10.0")]
    parts = [f"""q AS (
        SELECT text,
               round(0.4 * least(CAST(len(string_split(trim(text), ' ')) AS DOUBLE) / 64.0, 1.0)
                     + 0.4 * least(CAST(len(list_filter(string_split(trim(text), ' '),
                           t -> list_contains(['the','a','an','and','of','to','in','is','it','that'], lower(t)))) AS DOUBLE)
                           / len(string_split(trim(text), ' ')) * 4.0, 1.0)
                     + 0.2 * (CASE WHEN CAST(list_sum(list_transform(string_split(trim(text), ' '),
                           t -> length(t))) AS DOUBLE) / len(string_split(trim(text), ' '))
                           BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END),
                     4) AS quality
        FROM documents
    ), f AS (
        SELECT CASE WHEN quality >= 0.5 THEN 1.0 ELSE 0.0 END AS y,
               {x[0]} AS x0, {x[1]} AS x1, {x[2]} AS x2, {x[3]} AS x3
        FROM q
    ), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM f)"""]
    prev = None
    for it in range(1, n_iters + 1):
        if prev is None:
            pred = "0.0"
        else:
            pred = " + ".join(f"{prev}.w{j} * x{j}" for j in range(4))
        grads = ", ".join(
            f"sum(CAST(floor((({pred}) - y) * x{j} * 1000000) AS BIGINT)) AS g{j}"
            for j in range(4)
        )
        src = "f" if prev is None else f"f, {prev}"
        parts.append(f"g{it} AS (SELECT {grads} FROM {src})")
        ws = ", ".join(
            (f"{prev}.w{j}" if prev else "0.0")
            + f" - {lr} * ((CAST(g{j} AS DOUBLE) / 1000000) / nn.n) AS w{j}"
            for j in range(4)
        )
        parts.append(f"w{it} AS (SELECT {ws} FROM g{it}, nn"
                     + (f", {prev}" if prev else "") + ")")
        prev = f"w{it}"
    selects = " UNION ALL ".join(
        f"SELECT {it - 1} AS iteration, w0 AS w_bias, w1 AS w_len, "
        f"w2 AS w_sw, w3 AS w_atl FROM w{it}"
        for it in range(1, n_iters + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + selects


@register("quality_classifier_train", oracle=_gd_oracle())
def quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the quality/language classifier at corpus scale
    (operators/logistic.py): 3 batch-gradient-descent iterations over
    (length, stopword-ratio, token-length) features, distilling the
    rule-based quality filter (label = composite quality ≥ 0.5 — the
    fastText-style practice of training a scalable classifier on
    heuristic labels; reaches 91% agreement vs the 79% majority
    baseline at 10 iterations). Each iteration is one aggregation whose per-row gradient
    contributions are quantized to integer micro-units, so the learned
    weights are bit-identical across partitionings, engines, and
    retries — the oracle replays the identical unrolled arithmetic in
    SQL and the driver hash-compares the weight trajectory itself."""
    from rust_cdc_spark.operators.logistic import train_linear_model

    docs = load_table(spark, "documents", sf_dir)
    feats = docs.select(
        F.when(TX.quality_score("text") >= 0.5, 1.0).otherwise(0.0).alias("y"),
        F.least(TX.token_count("text").cast("double") / 64.0, F.lit(1.0)).alias("f_len"),
        TX.stopword_ratio("text").alias("f_sw"),
        (TX.avg_token_len("text") / 10.0).alias("f_atl"),
    )
    hist = train_linear_model(
        feats, ["f_len", "f_sw", "f_atl"], "y", n_iters=3, lr=0.5
    )
    return spark.createDataFrame(
        [(it, w[0], w[1], w[2], w[3]) for it, w in hist],
        "iteration int, w_bias double, w_len double, w_sw double, w_atl double",
    )


@register(
    "split_leakage_check",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               md5(substr(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                          1, 200)) AS fp,
               CASE WHEN md5('split|' || CAST(doc_id AS VARCHAR))
                         < '{"%032x" % int(0.8 * 16**32)}' THEN 'train'
                    WHEN md5('split|' || CAST(doc_id AS VARCHAR))
                         < '{"%032x" % int(0.9 * 16**32)}' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT fp,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
           array_to_string(list_sort(list(DISTINCT split)), ',') AS splits
    FROM d
    GROUP BY fp
    HAVING count(DISTINCT split) > 1
    """,
)
def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-QA: near-duplicate groups (normalized 200-char-prefix
    fingerprint — the dedup_keep_best family) that STRADDLE train/val/
    test splits, i.e. evaluation leakage the doc_id-hash split cannot
    see. One hash agg on the fingerprint; the fix is to split by
    fingerprint instead of doc_id for grouped near-dups."""
    t80, t90 = _split_thresholds()
    docs = load_table(spark, "documents", sf_dir)
    h = F.md5(F.concat(F.lit("split|"), F.col("doc_id").cast("string")))
    d = docs.select(
        F.md5(
            F.substring(
                F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), 1, 200
            )
        ).alias("fp"),
        F.when(h < t80, "train").when(h < t90, "val").otherwise("test").alias(
            "split"
        ),
    )
    return (
        d.groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("split").alias("n_splits"),
            F.concat_ws(",", F.sort_array(F.collect_set("split"))).alias(
                "splits"
            ),
        )
        .filter(F.col("n_splits") > 1)
    )


# Annealed data schedule: per-epoch keep-rates per source bucket
# (e.g. web cools down while curated sources ramp up across epochs).
_SCHEDULE = {
    0: (0.9, 0.3),  # (even-bucket sources, odd-bucket sources)
    1: (0.6, 0.6),
    2: (0.3, 0.9),
}


@register(
    "mixture_schedule",
    oracle="WITH sel AS ("
    + " UNION ALL ".join(
        f"""
        SELECT {epoch} AS epoch, doc_id, source
        FROM documents
        WHERE md5('epoch{epoch}|' || CAST(doc_id AS VARCHAR))
              < CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
                     THEN '{"%032x" % int(w_even * 16**32)}'
                     ELSE '{"%032x" % int(w_odd * 16**32)}' END
        """
        for epoch, (w_even, w_odd) in _SCHEDULE.items()
    )
    + """)
    SELECT epoch, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM sel GROUP BY epoch, source
    """,
)
def mixture_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data schedule: each training epoch draws a DIFFERENT
    deterministic Bernoulli sample per source family (web-heavy early,
    curated-heavy late — the annealed-mixture practice). Selection is a
    pure function of (epoch, doc_id): per-epoch salted md5 thresholds,
    so any executor, retry, or engine regenerates the identical epoch
    composition with zero stored state. Output is the per-epoch,
    per-source composition with an id-checksum over the selected set
    (value-level evidence the SELECTION matches, not just the counts).
    Map-only per epoch + one small agg."""
    from rust_cdc_spark.operators.sampling import hex_threshold

    docs = load_table(spark, "documents", sf_dir)
    parts = []
    for epoch, (w_even, w_odd) in _SCHEDULE.items():
        h = F.md5(
            F.concat(F.lit(f"epoch{epoch}|"), F.col("doc_id").cast("string"))
        )
        thr = F.when(
            F.substring("source", 4, 10).cast("int") % 2 == 0,
            F.lit(hex_threshold(w_even)),
        ).otherwise(F.lit(hex_threshold(w_odd)))
        parts.append(
            docs.filter(h < thr).select(
                F.lit(epoch).alias("epoch"), "doc_id", "source"
            )
        )
    from functools import reduce

    sel = reduce(lambda a, b: a.unionByName(b), parts)
    return sel.groupBy("epoch", "source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )


@register(
    "mixture_temperature_weights",
    oracle="""
    WITH c AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source
    ),
    t AS (
        SELECT source, n_docs,
               CAST(sum(n_docs) OVER () AS BIGINT) AS total_docs
        FROM c
    ),
    m AS (
        SELECT source, n_docs, total_docs,
               CAST(round(sqrt(CAST(n_docs AS DOUBLE) / total_docs) * 1e6)
                    AS BIGINT) AS sqrtp_micro
        FROM t
    )
    SELECT source, n_docs,
           sqrtp_micro,
           CAST(sqrtp_micro * 1000000 // sum(sqrtp_micro) OVER ()
                AS BIGINT) AS weight_ppm
    FROM m
    """,
)
def mixture_temperature_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-based mixture reweighting (the multilingual-LM /
    data-mixing practice: sampling weight ∝ p_source^(1/T), here T=2 →
    w ∝ √p, flattening the source distribution toward the tail).

    Engine-exact by construction: p = n/total is one correctly-rounded
    IEEE division, √ is correctly rounded, and the weights normalize in
    INTEGER space — each √p quantizes to micro units first, then
    weight_ppm = micro·10⁶ // Σmicro is pure BIGINT arithmetic, so no
    cross-engine float-sum ordering can perturb the result (a direct
    sqrt(p)/Σsqrt(p) float normalization would depend on the Σ's
    aggregation order). T≠2 temperatures need pow(), which Java does
    not guarantee correctly rounded — the √ form is the engine-stable
    instance; arbitrary T belongs driver-side on the tiny per-source
    table. Scale shape: one source-keyed count agg (map-side partials)
    + window math over |sources| rows."""
    docs = load_table(spark, "documents", sf_dir)
    c = docs.groupBy("source").agg(F.count("*").cast("bigint").alias("n_docs"))
    w_all = Window.partitionBy()
    m = c.select(
        "source",
        "n_docs",
        F.round(
            F.sqrt(
                F.col("n_docs").cast("double")
                / F.sum("n_docs").over(w_all).cast("bigint").cast("double")
            )
            * 1e6
        )
        .cast("bigint")
        .alias("sqrtp_micro"),
    )
    return m.select(
        "source",
        "n_docs",
        "sqrtp_micro",
        F.expr("sqrtp_micro * 1000000L div sum(sqrtp_micro) over ()")
        .cast("bigint")
        .alias("weight_ppm"),
    )


_JL_OUT = 16  # Johnson-Lindenstrauss target dimensionality


def _jl_signs() -> list[list[int]]:
    """±1 sign matrix [out][in], derived from md5 at import time —
    deterministic across engines/retries (Achlioptas' database-friendly
    JL projection uses exactly such a Rademacher matrix)."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"jl|{j}|{i}".encode()).hexdigest()[0], 16)
            % 2
            == 0
            else -1
            for i in range(64)
        ]
        for j in range(_JL_OUT)
    ]


_JL = _jl_signs()


def _jl_oracle() -> str:
    cols = ", ".join(
        " + ".join(f"q.q[{i + 1}] * ({s})" for i, s in enumerate(signs))
        + f" AS p{j:02d}"
        for j, signs in enumerate(_JL)
    )
    return f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS q
        FROM embeddings
    )
    SELECT vec_id, {cols} FROM q
    """


@register("embedding_jl_project", oracle=_jl_oracle())
def embedding_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign projection 64 → 16 dims — the cheap
    dimensionality reduction run before LSH bucketing / coarse ANN when
    the full embedding is too wide to shuffle (a 4× byte cut here means
    a 4× smaller candidate-join exchange). The projection matrix is a
    deterministic md5-derived Rademacher (±1) matrix, so each output
    coordinate is an exact BIGINT dot product over micro-unit inputs —
    no float accumulation anywhere, bit-stable under any partitioning
    and any engine.

    Scale shape: map-only pure codegen (one zip_with/aggregate fold per
    output dim over a literal sign array); zero shuffles, zero
    driver-side state, no Python row path. At 100 TB this is a
    scan-transform-write pass whose cost is IO-bound."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1e6).cast("long"),
    )
    df = emb.select("vec_id", q.alias("q"))
    outs = []
    for j, signs in enumerate(_JL):
        sl = V.lit_longs(signs)
        p = F.aggregate(
            F.zip_with(F.col("q"), sl, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        outs.append(p.alias(f"p{j:02d}"))
    return df.select("vec_id", *outs)


from rust_cdc_spark.queries.ann_replay import pca_replay_sql  # noqa: E402


@register("embedding_pca_abtt", oracle=pca_replay_sql())
def embedding_pca_abtt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-top embedding postprocess (Mu & Viswanath 2018):
    remove the corpus mean and the top-2 principal components, the
    standard cleanup before cosine retrieval / semantic dedup — the
    dominant directions encode corpus-wide frequency, not meaning.
    Returns per-vector projections onto the removed components plus the
    residual norm, all micro-unit integers.

    The eigensolver is a fixed-count power iteration with Hotelling
    deflation over an exact-integer moment matrix
    (operators/pca.py), every step of which the DuckDB oracle REPLAYS
    as unrolled CTEs (ann_replay.pca_replay_sql) — the training is
    value-hash-checked end to end, the same discipline as the PQ/IVF
    and logistic-GD oracles.

    Scale shape: ONE partial-aggregated shuffle keyed on (pos1, pos2)
    — dim² = 4096 keys, constant in corpus size — collects a 64×64
    model matrix to the driver (same class as PQ codebooks); the
    projection pass is map-only codegen folds over component
    literals."""
    from rust_cdc_spark.operators import pca as PCA

    emb = load_table(spark, "embeddings", sf_dir)
    n, S, M = PCA.moment_stats(emb)
    mean, comps = PCA.train_components(n, S, M)
    return PCA.project_abtt(emb, mean, comps)


_NORM_MAD_K = 3  # keep vectors within mean ± 3·MAD (micro-unit integers)


@register(
    "embedding_norm_outliers",
    oracle=f"""
    WITH nv AS (
        SELECT vec_id,
               CAST(round(sqrt(list_dot_product(
                   list_transform(embedding, x -> CAST(x AS DOUBLE)),
                   list_transform(embedding, x -> CAST(x AS DOUBLE))))
                   * 1e6) AS BIGINT) AS norm_micro
        FROM embeddings
    ),
    m AS (
        SELECT CAST(sum(norm_micro) // count(*) AS BIGINT) AS mean_micro
        FROM nv
    ),
    d AS (
        SELECT CAST(sum(abs(nv.norm_micro - m.mean_micro)) // count(*)
                    AS BIGINT) AS mad_micro,
               max(m.mean_micro) AS mean_micro
        FROM nv CROSS JOIN m
    )
    SELECT nv.vec_id, nv.norm_micro, d.mean_micro, d.mad_micro,
           (abs(nv.norm_micro - d.mean_micro)
            <= {_NORM_MAD_K} * d.mad_micro) AS keep
    FROM nv CROSS JOIN d
    """,
)
def embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm outlier filter — the vector-quality gate run
    before ANN indexing / semantic dedup: vectors whose L2 norm sits
    far from the corpus's center are encoder failures (zero vectors,
    fp overflow, truncated inputs) and poison cosine math. Robust
    center/spread are the MEAN and MEAN ABSOLUTE DEVIATION of
    integer micro-unit norms — every aggregate is an exact BIGINT sum
    (no float accumulation order, no squared-sum overflow), and the
    one sqrt per vector is rounded once at quantization.

    Scale shape: two scalar aggs over a norms-only projection (the
    second pass re-derives norms rather than shuffling vectors — at
    100 TB a 16 B/row re-scan beats materializing the embedding
    column), each with map-side partials; the 1-row stats broadcast
    back for a map-side verdict."""
    emb = load_table(spark, "embeddings", sf_dir)
    nv = emb.select(
        "vec_id",
        F.round(V.norm(F.col("embedding")) * 1e6)
        .cast("bigint")
        .alias("norm_micro"),
    )
    # `div`, not `/` + cast: double division of two exact BIGINTs can
    # round up across an integer boundary at ~10⁹ rows, silently
    # diverging from the oracle's exact `//`.
    m = nv.agg(
        F.expr("sum(norm_micro) div count(*)").alias("mean_micro")
    )
    d = nv.crossJoin(F.broadcast(m)).agg(
        F.expr("sum(abs(norm_micro - mean_micro)) div count(*)")
        .alias("mad_micro"),
        F.max("mean_micro").alias("mean_micro"),
    )
    return nv.crossJoin(F.broadcast(d)).select(
        "vec_id",
        "norm_micro",
        "mean_micro",
        "mad_micro",
        (F.abs(F.col("norm_micro") - F.col("mean_micro"))
         <= _NORM_MAD_K * F.col("mad_micro")).alias("keep"),
    )


@register(
    "embedding_centroid_drift",
    oracle="""
    WITH q AS (
        SELECT label,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS q
        FROM embeddings
    ),
    flat AS (
        SELECT label, p.range AS pos, q.q[p.range + 1] AS v
        FROM q CROSS JOIN range(64) p
    ),
    ls AS (
        SELECT label, pos, CAST(sum(v) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM flat GROUP BY 1, 2
    ),
    lm AS (
        SELECT label, pos,
               CAST(round(CAST(s AS DOUBLE) / n) AS BIGINT) AS m, n
        FROM ls
    ),
    gs AS (
        SELECT pos, CAST(sum(s) AS BIGINT) AS s, CAST(sum(n) AS BIGINT) AS n
        FROM ls GROUP BY 1
    ),
    gm AS (
        SELECT pos, CAST(round(CAST(s AS DOUBLE) / n) AS BIGINT) AS m
        FROM gs
    ),
    j AS (
        SELECT lm.label, lm.n, lm.m AS ml, gm.m AS mg
        FROM lm JOIN gm USING (pos)
    )
    SELECT label,
           CAST(max(n) AS BIGINT) AS n_vecs,
           CAST(sum(ml * mg) AS BIGINT) AS dot_mm,
           CAST(sum((ml - mg) * (ml - mg)) AS BIGINT) AS l2sq_mm,
           CAST(round(CAST(sum(ml * mg) AS DOUBLE)
                      / sqrt(CAST(sum(ml * ml) AS DOUBLE))
                      / sqrt(CAST(sum(mg * mg) AS DOUBLE)) * 1e6) AS BIGINT)
               AS cos_micro
    FROM j GROUP BY label
    """,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-slice embedding drift monitor: cosine and squared-L2 between
    each label-slice centroid and the global corpus centroid — the
    embedding-space counterpart of ``corpus_drift_kl`` (token space).
    Run per ingestion batch / per source, it catches encoder version
    skew and distribution shift before vectors enter a shared ANN
    index. Centroids are micro-unit integer means (exact BIGINT sums,
    one rounded int/int division per coordinate), so every output but
    the final cosine is exact-integer and the cosine is one
    deterministic double chain over exact ints.

    Scale shape: ONE corpus-scan aggregate keyed on (label, pos) —
    dim·|labels| keys, constant in corpus size, map-side partials —
    then label-sized arithmetic: the global centroid derives from the
    label sums (64·|labels| rows, no second corpus pass), the
    pos-join is between two model-scale tables, and ||g||² is
    recovered inside the per-label group (each pos appears exactly
    once), so no scalar broadcast is needed."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.select(
        "label",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * 1e6).cast("long"),
        ).alias("q"),
    )
    flat = q.select("label", F.posexplode("q").alias("pos", "v"))
    ls = flat.groupBy("label", "pos").agg(
        F.sum("v").alias("s"), F.count("*").alias("n")
    )
    lm = ls.select(
        "label",
        "pos",
        F.round(F.col("s").cast("double") / F.col("n"))
        .cast("long")
        .alias("ml"),
        "n",
    )
    gs = ls.groupBy("pos").agg(
        F.sum("s").alias("s"), F.sum("n").alias("gn")
    )
    gm = gs.select(
        "pos",
        F.round(F.col("s").cast("double") / F.col("gn"))
        .cast("long")
        .alias("mg"),
    )
    j = lm.join(F.broadcast(gm), "pos")
    return j.groupBy("label").agg(
        F.max("n").alias("n_vecs"),
        F.sum(F.col("ml") * F.col("mg")).alias("dot_mm"),
        F.sum((F.col("ml") - F.col("mg")) * (F.col("ml") - F.col("mg"))).alias(
            "l2sq_mm"
        ),
        F.round(
            F.sum(F.col("ml") * F.col("mg")).cast("double")
            / F.sqrt(F.sum(F.col("ml") * F.col("ml")).cast("double"))
            / F.sqrt(F.sum(F.col("mg") * F.col("mg")).cast("double"))
            * 1e6
        )
        .cast("long")
        .alias("cos_micro"),
    )


@register(
    "tokenizer_fertility",
    oracle=f"""
    WITH per_doc AS (
        SELECT source, lang,
               CAST(len(regexp_extract_all(text,
                   '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe,
               CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_ws,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
    )
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
           CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
           CAST(round(CAST(sum(n_bpe) AS DOUBLE) / sum(n_ws) * 1e6)
                AS BIGINT) AS fertility_micro,
           CAST(round(CAST(sum(n_chars) AS DOUBLE) / sum(n_bpe) * 1e6)
                AS BIGINT) AS chars_per_token_micro
    FROM per_doc GROUP BY source, lang
    """,
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per (source, lang): BPE-ish tokens per
    whitespace word and characters per token — the dataset-card metric
    that decides whether a tokenizer is a fit for a corpus slice
    (fertility far above ~1.3 on a language means the vocab
    under-covers it, inflating training cost per effective token).
    Numerators/denominators are exact BIGINT sums of per-doc integer
    counts; each ratio is one int/int IEEE division rounded once to
    micro-units.

    Scale shape: pure map (two regex counts + a length per doc) into
    ONE hash aggregate keyed on (source, lang) — |sources|·|langs|
    keys, map-side partials; no joins, no second corpus pass."""
    docs = load_table(spark, "documents", sf_dir)
    per_doc = docs.select(
        "source",
        "lang",
        TX.bpe_ish_token_count("text").cast("long").alias("n_bpe"),
        TX.token_count("text").cast("long").alias("n_ws"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return per_doc.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bpe").alias("bpe_tokens"),
        F.sum("n_ws").alias("ws_tokens"),
        F.round(F.sum("n_bpe").cast("double") / F.sum("n_ws") * 1e6)
        .cast("long")
        .alias("fertility_micro"),
        F.round(F.sum("n_chars").cast("double") / F.sum("n_bpe") * 1e6)
        .cast("long")
        .alias("chars_per_token_micro"),
    )


_CM_DEPTH = 4  # count-min hash rows
_CM_WIDTH = 1024  # buckets per row (counters = 4096 total, any corpus)


@register(
    "vocab_countmin_topk",
    oracle=f"""
    WITH tok AS (
        SELECT lower(t) AS token
        FROM documents, LATERAL unnest({_TOKENS_SQL}) AS u(t)
    ),
    counts AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
    sketch AS (
        SELECT d.range AS depth,
               CAST(('0x' || substr(md5('cm' || d.range || '|' || token), 1, 8))
                    AS BIGINT) % {_CM_WIDTH} AS bucket,
               CAST(sum(n) AS BIGINT) AS cnt
        FROM counts CROSS JOIN range({_CM_DEPTH}) d
        GROUP BY 1, 2
    ),
    top AS (
        SELECT token, n FROM counts
        ORDER BY n DESC, token LIMIT 20
    ),
    probes AS (
        SELECT t.token, t.n, d.range AS depth,
               CAST(('0x' || substr(md5('cm' || d.range || '|' || t.token), 1, 8))
                    AS BIGINT) % {_CM_WIDTH} AS bucket
        FROM top t CROSS JOIN range({_CM_DEPTH}) d
    )
    SELECT p.token, CAST(max(p.n) AS BIGINT) AS n_true,
           CAST(min(s.cnt) AS BIGINT) AS n_est,
           CAST(min(s.cnt) - max(p.n) AS BIGINT) AS overestimate
    FROM probes p JOIN sketch s USING (depth, bucket)
    GROUP BY p.token
    """,
)
def vocab_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy-hitter estimation, validated against the
    exact counts: build a 4×1024 sketch over the token
    stream, then read back the top-20 true tokens through the sketch
    (estimate = min over the 4 hash rows) and report the
    one-sided overestimate. The sketch is THE fixed-memory substitute
    for an exact vocabulary count at 100 TB — 4096 counters regardless
    of corpus size, mergeable across partitions/days by plain addition
    — and this query doubles as its accuracy audit.

    Scale shape: the sketch is one hash aggregate whose key space is
    capped at depth·width = 4096 (map-side partials collapse every
    partition to ≤4096 rows before the exchange, the textbook
    mergeable-sketch property); the exact side reuses the token agg,
    and the probe join is 80 rows against ≤4096 — broadcast. md5
    bucketing is bit-identical in DuckDB, so estimates hash-match
    exactly."""
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(
        F.explode(
            F.expr(f"transform({_TOKENS_SPARK}, t -> lower(t))")
        ).alias("token")
    )
    counts = tok.groupBy("token").agg(F.count("*").alias("n"))

    def bucket(tokcol):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("cm"), F.col("depth"), F.lit("|"), tokcol)),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _CM_WIDTH
        )

    depths = spark.range(_CM_DEPTH).select(F.col("id").alias("depth"))
    sketch = (
        counts.crossJoin(F.broadcast(depths))
        .groupBy("depth", bucket(F.col("token")).alias("bucket"))
        .agg(F.sum("n").alias("cnt"))
    )
    top = counts.orderBy(F.col("n").desc(), "token").limit(20)
    probes = top.crossJoin(F.broadcast(depths)).select(
        "token", "n", "depth", bucket(F.col("token")).alias("bucket")
    )
    return (
        probes.join(F.broadcast(sketch), ["depth", "bucket"])
        .groupBy("token")
        .agg(
            F.max("n").alias("n_true"),
            F.min("cnt").alias("n_est"),
            (F.min("cnt") - F.max("n")).alias("overestimate"),
        )
    )


_BURST_TOP = 50  # tokens reported, by corpus frequency


@register(
    "corpus_burstiness",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lower(t) AS token
        FROM documents, LATERAL unnest({_TOKENS_SQL}) AS u(t)
    ),
    per_doc AS (
        SELECT token, doc_id, CAST(count(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2
    ),
    stats AS (
        SELECT token,
               CAST(count(*) AS BIGINT) AS df,
               CAST(sum(c) AS BIGINT) AS tc,
               CAST(sum(c * c) AS BIGINT) AS sq
        FROM per_doc GROUP BY token
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
    top AS (
        SELECT * FROM stats ORDER BY tc DESC, token LIMIT {_BURST_TOP}
    )
    SELECT t.token, t.df, t.tc, t.sq,
           CAST(round(
               (CAST(t.sq AS DOUBLE) / n.nd
                - (CAST(t.tc AS DOUBLE) / n.nd) * (CAST(t.tc AS DOUBLE) / n.nd))
               / (CAST(t.tc AS DOUBLE) / n.nd) * 1e6) AS BIGINT)
               AS vmr_micro
    FROM top t CROSS JOIN n
    """,
)
def corpus_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness (Church & Gale): variance-to-mean ratio of
    per-document counts for the top-50 corpus tokens. VMR ≈ 1 means
    Poisson scatter (function words); VMR ≫ 1 means the token clumps
    into few documents (topical/boilerplate) — the statistic that
    separates stopword-like from content-bearing vocabulary in a
    dataset card, and a boilerplate tripwire when a supposedly common
    token's VMR spikes. Counts are exact BIGINT (df, Σc, Σc²); VMR is
    one double chain over those exact ints, rounded once to
    micro-units.

    Scale shape: (doc, token) hash agg → token hash agg (both
    map-side-partial'd; the second's key space is the vocabulary),
    TakeOrdered top-50, scalar doc count broadcast. No joins on the
    corpus."""
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(
        "doc_id",
        F.explode(
            F.expr(f"transform({_TOKENS_SPARK}, t -> lower(t))")
        ).alias("token"),
    )
    per_doc = tok.groupBy("token", "doc_id").agg(F.count("*").alias("c"))
    stats = per_doc.groupBy("token").agg(
        F.count("*").alias("df"),
        F.sum("c").alias("tc"),
        F.sum(F.col("c") * F.col("c")).alias("sq"),
    )
    top = stats.orderBy(F.col("tc").desc(), "token").limit(_BURST_TOP)
    n = docs.agg(F.count("*").alias("nd"))
    mean = F.col("tc").cast("double") / F.col("nd")
    return top.crossJoin(F.broadcast(n)).select(
        "token",
        "df",
        "tc",
        "sq",
        F.round(
            (F.col("sq").cast("double") / F.col("nd") - mean * mean)
            / mean
            * 1e6
        )
        .cast("long")
        .alias("vmr_micro"),
    )


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qv
        FROM embeddings
    ),
    s AS (
        SELECT vec_id, qv,
               CAST(list_max(list_transform(qv, x -> abs(x))) AS BIGINT)
                   AS scale
        FROM q
    ),
    codes AS (
        SELECT vec_id, qv, scale,
               CASE WHEN scale = 0
                    THEN list_transform(qv, x -> CAST(0 AS BIGINT))
                    ELSE list_transform(qv, x ->
                        CAST(round(CAST(x AS DOUBLE) * 127 / scale)
                             AS BIGINT))
               END AS cd
        FROM s
    )
    SELECT vec_id, scale AS scale_micro,
           CAST(list_sum(cd) AS BIGINT) AS sum_codes,
           CAST(list_sum(list_transform(cd, x -> abs(x))) AS BIGINT)
               AS sum_abs_codes,
           CAST(list_sum([(127 * qv[i+1] - cd[i+1] * scale)
                          * (127 * qv[i+1] - cd[i+1] * scale)
                          for i in range(0, 64)]) AS BIGINT) AS err_sq
    FROM codes
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization audit — the standard
    serving/storage format for ANN indexes (4× smaller than fp32,
    SIMD-dot-friendly): scale = max|coordinate|, code_i =
    round(x_i·127/scale) ∈ [−127,127]. Reports, per vector, the scale
    and exact-integer reconstruction diagnostics: Σ codes (bias drift),
    Σ|codes| (utilization of the int8 range), and the squared error in
    the 127×-micro domain — 127·q_i − code_i·scale is an EXACT BIGINT
    residual, so the error needs no float accumulation at all.

    Scale shape: pure map over the corpus (codegen transforms + folds,
    zero shuffles, zero driver state) — a scan-transform pass whose
    cost is IO-bound at 100 TB; the zero-vector guard keeps degenerate
    rows deterministic instead of NaN."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * 1e6).cast("long"),
        ).alias("qv"),
    )
    s = q.withColumn(
        "scale", F.array_max(F.transform(F.col("qv"), F.abs)).cast("long")
    )
    codes = s.withColumn(
        "cd",
        F.when(
            F.col("scale") == 0,
            F.transform(F.col("qv"), lambda x: F.lit(0).cast("long")),
        ).otherwise(
            F.transform(
                F.col("qv"),
                lambda x: F.round(
                    x.cast("double") * 127 / F.col("scale")
                ).cast("long"),
            )
        ),
    )
    isum = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    resid = F.zip_with(
        F.col("qv"),
        F.col("cd"),
        lambda x, c: 127 * x - c * F.col("scale"),
    )
    return codes.select(
        "vec_id",
        F.col("scale").alias("scale_micro"),
        isum(F.col("cd")).alias("sum_codes"),
        isum(F.transform(F.col("cd"), F.abs)).alias("sum_abs_codes"),
        isum(F.transform(resid, lambda d: d * d)).alias("err_sq"),
    )


_NEST_TIERS = [(10, 1), (50, 5), (100, 10), (250, 25), (500, 50), (1000, 100)]


@register(
    "sample_nested_subsets",
    oracle=f"""
    WITH b AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5('ns|' || doc_id), 1, 8)) AS BIGINT)
                   % 1000 AS bucket
        FROM documents
    )
    SELECT doc_id, bucket,
           CASE {" ".join(f"WHEN bucket < {cut} THEN {pct}" for cut, pct in _NEST_TIERS)}
           END AS subset_pct
    FROM b
    """,
)
def sample_nested_subsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested scaling-law subsets: every document is assigned the
    SMALLEST of the 1/5/10/25/50/100 % tiers it belongs to, via one
    md5 bucket in [0,1000) — so the 5 % set contains the 1 % set, the
    10 % contains the 5 %, and so on by construction (threshold
    nesting). This is the split a scaling-law study needs: training
    runs at growing data sizes must use SUPERSETS, not independent
    samples, or the curve confounds data growth with data change.
    md5 keeps membership deterministic across engines, retries, and
    corpus growth (a new doc never reshuffles old members between
    tiers).

    Scale shape: pure map over the corpus — zero shuffles, zero
    state; at 100 TB it is a scan-annotate-write pass."""
    docs = load_table(spark, "documents", sf_dir)
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ns|"), F.col("doc_id"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 1000
    )
    # CASE chain in ascending-cut order: first match wins, so each doc
    # lands in the smallest tier containing its bucket.
    expr = None
    for cut, pct in _NEST_TIERS:
        cond = F.col("bucket") < cut
        expr = F.when(cond, F.lit(pct)) if expr is None else expr.when(cond, F.lit(pct))
    return docs.select("doc_id").withColumn("bucket", bucket).withColumn(
        "subset_pct", expr
    )


@register(
    "corpus_lang_source_mi",
    oracle="""
    WITH xy AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS n_xy
        FROM documents GROUP BY lang, source
    ),
    x AS (SELECT lang, CAST(sum(n_xy) AS BIGINT) AS n_x FROM xy GROUP BY lang),
    y AS (SELECT source, CAST(sum(n_xy) AS BIGINT) AS n_y FROM xy GROUP BY source),
    n AS (SELECT CAST(sum(n_xy) AS BIGINT) AS nd FROM xy)
    SELECT xy.lang, xy.source, xy.n_xy, x.n_x, y.n_y,
           CAST(round(ln(CAST(xy.n_xy AS DOUBLE) * n.nd / x.n_x / y.n_y)
                      * 1e6) AS BIGINT) AS pmi_micro,
           CAST(xy.n_xy * CAST(round(ln(CAST(xy.n_xy AS DOUBLE) * n.nd
                                        / x.n_x / y.n_y) * 1e6) AS BIGINT)
                AS BIGINT) AS w_micro
    FROM xy JOIN x USING (lang) JOIN y USING (source) CROSS JOIN n
    """,
)
def corpus_lang_source_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between language and source — the
    dataset-card dependence audit: a corpus where one source
    contributes all of one language (high |PMI|) will silently skew
    any per-language ablation toward that source's style. Each cell's
    PMI is ONE ln over exact integer counts rounded once to
    micro-nats (the collocation-PMI discipline); the MI estimate is
    Σ w_micro / (N·1e6) over the returned cells — w_micro = n_xy·pmi
    is exact BIGINT, so the rollup is engine-stable.

    Scale shape: ONE (lang, source)-keyed corpus aggregate
    (|langs|·|sources| keys, map-side partials); the marginals derive
    from the cell table, never a second corpus scan; joins are
    model-scale."""
    docs = load_table(spark, "documents", sf_dir)
    xy = docs.groupBy("lang", "source").agg(F.count("*").alias("n_xy"))
    x = xy.groupBy("lang").agg(F.sum("n_xy").alias("n_x"))
    y = xy.groupBy("source").agg(F.sum("n_xy").alias("n_y"))
    n = xy.agg(F.sum("n_xy").alias("nd"))
    pmi = (
        F.round(
            F.log(
                F.col("n_xy").cast("double")
                * F.col("nd")
                / F.col("n_x")
                / F.col("n_y")
            )
            * 1e6
        )
        .cast("long")
    )
    return (
        xy.join(F.broadcast(x), "lang")
        .join(F.broadcast(y), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "source",
            "n_xy",
            "n_x",
            "n_y",
            pmi.alias("pmi_micro"),
            (F.col("n_xy") * pmi).alias("w_micro"),
        )
    )


_MATTR_W = 50  # moving-average TTR window (tokens)


@register(
    "text_ttr_mattr",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_transform(string_split(trim(text), ' '),
                              t -> lower(t)) AS tk
        FROM documents
    ),
    base AS (
        SELECT doc_id, len(tk) AS n_tokens,
               len(list_distinct(tk)) AS n_types, tk
        FROM toks
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_types AS BIGINT) AS n_types,
           CAST(round(CAST(n_types AS DOUBLE) / n_tokens * 1e6) AS BIGINT)
               AS ttr_micro,
           CASE WHEN n_tokens <= {_MATTR_W}
                THEN CAST(round(CAST(n_types AS DOUBLE) / n_tokens * 1e6)
                          AS BIGINT)
                ELSE CAST(round(
                    CAST(list_sum(list_transform(
                        range(1, n_tokens - {_MATTR_W} + 2),
                        i -> len(list_distinct(tk[i:i+{_MATTR_W - 1}]))))
                         AS DOUBLE)
                    / ((n_tokens - {_MATTR_W} + 1) * {_MATTR_W}) * 1e6)
                    AS BIGINT)
           END AS mattr_micro
    FROM base
    """,
)
def text_ttr_mattr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity: type-token ratio and MATTR (moving-average
    TTR over 50-token windows, Covington & McFall 2010) — the
    length-robust variant a dataset card should prefer, since raw TTR
    decays mechanically with document length and makes short docs look
    artificially "diverse". Repetitive/boilerplate text scores low on
    MATTR even when its global TTR looks healthy. All counts are exact
    integers; each ratio is one IEEE division rounded once.

    Scale shape: pure map — per-doc token arrays, window distinct
    counts as codegen transform/slice folds (O(n·w) per doc, no
    explode, no shuffle, zero exchanges). At 100 TB it is a
    scan-annotate pass."""
    docs = load_table(spark, "documents", sf_dir)
    tk = F.expr("transform(split(trim(text), ' '), t -> lower(t))")
    base = docs.select(
        "doc_id",
        F.size(tk).alias("n_tokens"),
        F.size(F.array_distinct(tk)).alias("n_types"),
        tk.alias("tk"),
    )
    ttr = F.round(
        F.col("n_types").cast("double") / F.col("n_tokens") * 1e6
    ).cast("long")
    win_sum = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.col("n_tokens") - _MATTR_W + 1),
            lambda i: F.size(
                F.array_distinct(F.slice(F.col("tk"), i, _MATTR_W))
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    mattr = F.when(F.col("n_tokens") <= _MATTR_W, ttr).otherwise(
        F.round(
            win_sum.cast("double")
            / ((F.col("n_tokens") - _MATTR_W + 1) * _MATTR_W)
            * 1e6
        ).cast("long")
    )
    return base.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_types").cast("long").alias("n_types"),
        ttr.alias("ttr_micro"),
        mattr.alias("mattr_micro"),
    )


_HEAPS_STEPS = 10  # corpus-prefix checkpoints (doc_id deciles)


@register(
    "corpus_vocab_growth_heaps",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lower(t) AS token
        FROM documents, LATERAL unnest({_TOKENS_SQL}) AS u(t)
    ),
    firsts AS (
        SELECT token, CAST(min(doc_id) AS BIGINT) AS first_doc,
               CAST(count(*) AS BIGINT) AS occurrences
        FROM tok GROUP BY token
    ),
    b AS (SELECT CAST(max(doc_id) AS BIGINT) AS mx FROM tok),
    cuts AS (
        SELECT CAST(s.range + 1 AS INT) AS step,
               CAST((s.range + 1) * b.mx // {_HEAPS_STEPS} AS BIGINT)
                   AS cut
        FROM range({_HEAPS_STEPS}) s CROSS JOIN b
    ),
    toks_at AS (
        SELECT c.step, c.cut,
               CAST(sum(CASE WHEN t.doc_id <= c.cut THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_tokens
        FROM tok t CROSS JOIN cuts c GROUP BY c.step, c.cut
    ),
    vocab_at AS (
        SELECT c.step,
               CAST(sum(CASE WHEN f.first_doc <= c.cut THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_types
        FROM firsts f CROSS JOIN cuts c GROUP BY c.step
    )
    SELECT t.step, t.cut, t.n_tokens, v.n_types,
           CAST(v.n_types * 1000000 // t.n_tokens AS BIGINT)
               AS ttr_micro
    FROM toks_at t JOIN vocab_at v USING (step)
    """,
)
def corpus_vocab_growth_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law audit: vocabulary size vs cumulative token count at
    10 corpus-prefix checkpoints (doc_id deciles) — the growth curve
    that sizes tokenizer vocabularies and detects corpus contamination
    (natural text grows as V ≈ K·nᵝ with β ≈ 0.5; a flattening curve
    means the tail is duplicated content adding tokens but no types,
    and a straightening one means injected noise). Companion to
    `corpus_burstiness` (Zipf) and `vocab_top_tokens`.

    Scale shape: ONE token aggregate produces per-token
    (first_doc, occurrences) — the vocabulary-sized table every
    checkpoint question is answered from (prefix vocab = first_doc ≤
    cut; no re-scan per checkpoint). Token counts per cut come from
    one corpus-scan agg against the broadcast 10-row cut table. All
    counts exact; TTR is a floored ppm."""
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(
        "doc_id",
        F.explode(
            F.expr(f"transform({_TOKENS_SPARK}, t -> lower(t))")
        ).alias("token"),
    )
    firsts = tok.groupBy("token").agg(
        F.min("doc_id").alias("first_doc"),
        F.count("*").alias("occurrences"),
    )
    b = tok.agg(F.max("doc_id").alias("mx"))
    cuts = (
        spark.range(_HEAPS_STEPS)
        .select((F.col("id") + 1).cast("int").alias("step"))
        .crossJoin(F.broadcast(b))
        .select(
            "step",
            F.expr(f"step * mx div {_HEAPS_STEPS}").alias("cut"),
        )
    )
    toks_at = (
        tok.crossJoin(F.broadcast(cuts))
        .groupBy("step", "cut")
        .agg(
            F.sum(
                F.when(F.col("doc_id") <= F.col("cut"), 1).otherwise(0)
            ).alias("n_tokens")
        )
    )
    vocab_at = (
        firsts.crossJoin(F.broadcast(cuts.select("step", "cut")))
        .groupBy("step")
        .agg(
            F.sum(
                F.when(F.col("first_doc") <= F.col("cut"), 1).otherwise(0)
            ).alias("n_types")
        )
    )
    return (
        toks_at.join(vocab_at, "step")
        .select(
            "step",
            "cut",
            "n_tokens",
            "n_types",
            F.expr("n_types * 1000000 div n_tokens").alias("ttr_micro"),
        )
    )


_BT_SCALE = 1_000_000  # strength unit (p0 = 1.0 ≙ 1e6)
_BT_NUM = 1_000_000_000_000  # SCALE² — keeps the MM quotients at 6+ digits


@register(
    "preference_bradley_terry",
    oracle=f"""
    WITH q AS (
        SELECT doc_id, source,
               CAST(round({_QUALITY_SQL} * 10000) AS BIGINT) AS qm,
               row_number() OVER (PARTITION BY source ORDER BY doc_id)
                   AS r
        FROM documents
    ),
    duel AS (
        SELECT CASE WHEN a.qm > b.qm THEN a.source ELSE b.source END
                   AS winner,
               CASE WHEN a.qm > b.qm THEN b.source ELSE a.source END
                   AS loser
        FROM q a JOIN q b ON a.r = b.r AND a.source < b.source
        WHERE a.qm <> b.qm
    ),
    e AS (
        SELECT winner AS i, loser AS j, CAST(count(*) AS BIGINT) AS w
        FROM duel GROUP BY winner, loser
    ),
    pairs AS (
        SELECT i, j, w + coalesce(
                   (SELECT e2.w FROM e e2 WHERE e2.i = e.j AND e2.j = e.i),
                   0) AS n
        FROM e
        UNION
        SELECT j AS i, i AS j, w + coalesce(
                   (SELECT e2.w FROM e e2 WHERE e2.i = e.j AND e2.j = e.i),
                   0) AS n
        FROM e
    ),
    wins AS (SELECT i AS source, CAST(sum(w) AS BIGINT) AS wins
             FROM e GROUP BY i),
    players AS (
        SELECT p.i AS source,
               coalesce(w.wins, 0) AS wins,
               CAST(sum(p.n) AS BIGINT) AS n_matches
        FROM pairs p LEFT JOIN wins w ON w.source = p.i
        GROUP BY p.i, w.wins
    ),
    d1 AS (
        SELECT i AS source,
               CAST(sum(n * {_BT_NUM} // (2 * {_BT_SCALE})) AS BIGINT)
                   AS d
        FROM pairs GROUP BY i
    ),
    p1 AS (
        SELECT pl.source,
               greatest(pl.wins * {_BT_NUM} // d1.d, 1) AS p
        FROM players pl JOIN d1 ON d1.source = pl.source
    ),
    d2 AS (
        SELECT pr.i AS source,
               CAST(sum(pr.n * {_BT_NUM} // (pi.p + pj.p)) AS BIGINT)
                   AS d
        FROM pairs pr
        JOIN p1 pi ON pi.source = pr.i
        JOIN p1 pj ON pj.source = pr.j
        GROUP BY pr.i
    ),
    p2 AS (
        SELECT pl.source,
               greatest(pl.wins * {_BT_NUM} // d2.d, 1) AS p
        FROM players pl JOIN d2 ON d2.source = pl.source
    )
    SELECT pl.source, pl.wins, pl.n_matches,
           CAST(p1.p AS BIGINT) AS strength1_micro,
           CAST(p2.p AS BIGINT) AS strength2_micro
    FROM players pl
    JOIN p1 ON p1.source = pl.source
    JOIN p2 ON p2.source = pl.source
    """,
)
def preference_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry source-strength estimation from pairwise quality
    duels — the model behind reward-model data curation and ChatBot-
    Arena-style rankings, run as two minorization-maximization
    iterations entirely in integer micro-units (bit-exact across
    engines; the oracle REPLAYS both iterations as CTEs).

    Duels: the r-th document (by doc_id) of source A meets the r-th of
    source B; the higher quality score wins, exact ties are discarded.
    MM update: p'_i = W_i / Σ_j n_ij/(p_i + p_j), computed as
    W_i·SCALE² div Σ_j (n_ij·SCALE² div (p_i + p_j)) — BIGINT floor
    division throughout (never round a float quotient: half-points
    split between engines), clamped at 1 so a winless source cannot
    zero a later denominator.

    Scale shape: duels are a rank-aligned equi-join (|sources|·rank
    rows, never |docs|²); each MM iteration is one join of the
    pair-edge table against the broadcast strength vector (players are
    model-scale) + one aggregate. Iteration count is fixed — the
    convergence loop is 2 unrolled DataFrame stages, no driver loop."""
    docs = load_table(spark, "documents", sf_dir)
    q = docs.select(
        "doc_id",
        "source",
        F.round(TX.quality_score("text") * 10000).cast("long").alias("qm"),
    ).withColumn(
        "r",
        F.row_number().over(Window.partitionBy("source").orderBy("doc_id")),
    )
    a = q.select(
        F.col("source").alias("sa"), F.col("qm").alias("qa"), "r"
    )
    b = q.select(
        F.col("source").alias("sb"), F.col("qm").alias("qb"), "r"
    )
    duel = (
        a.join(b, "r")
        .filter((F.col("sa") < F.col("sb")) & (F.col("qa") != F.col("qb")))
        .select(
            F.when(F.col("qa") > F.col("qb"), F.col("sa"))
            .otherwise(F.col("sb")).alias("winner"),
            F.when(F.col("qa") > F.col("qb"), F.col("sb"))
            .otherwise(F.col("sa")).alias("loser"),
        )
    )
    # |sources|²-bounded edge table; materialize so the corpus-scale
    # duel subtree (quality scores + rank window + rank-aligned join)
    # runs ONCE — e is read by pairs (twice), wins, players, and both
    # MM steps, and without the checkpoint each reference replays the
    # whole duel pipeline (guide §5 caching: reused + expensive to
    # recompute; the r9 before-plan had 160 parquet scans and zero
    # ReusedExchange — plans/r09/preference_bradley_terry_before.txt —
    # and the checkpoint took the query 4.72 s → 1.76 s at sf0.1).
    e = pin(duel.groupBy("winner", "loser").agg(
        F.count("*").cast("long").alias("w")
    ))
    rev = e.select(
        F.col("loser").alias("winner"),
        F.col("winner").alias("loser"),
        F.col("w").alias("w_rev"),
    )
    pairs = (
        e.select("winner", "loser", "w")
        .unionByName(
            rev.select("winner", "loser", F.lit(0).cast("long").alias("w"))
        )
        .groupBy("winner", "loser")
        .agg(F.sum("w").alias("w"))
        .alias("f")
        .join(
            rev.groupBy("winner", "loser").agg(F.sum("w_rev").alias("wr")),
            ["winner", "loser"],
            "left",
        )
        .select(
            F.col("winner").alias("i"),
            F.col("loser").alias("j"),
            (F.col("w") + F.coalesce(F.col("wr"), F.lit(0))).alias("n"),
        )
    )
    wins = e.groupBy("winner").agg(F.sum("w").alias("wins")).select(
        F.col("winner").alias("source"), "wins"
    )
    players = (
        pairs.groupBy("i").agg(F.sum("n").alias("n_matches"))
        .select(F.col("i").alias("source"), "n_matches")
        .join(wins, "source", "left")
        .select(
            "source",
            F.coalesce(F.col("wins"), F.lit(0)).cast("long").alias("wins"),
            F.col("n_matches").cast("long"),
        )
    )

    def mm_step(p: DataFrame) -> DataFrame:
        pi = p.select(F.col("source").alias("i"), F.col("p").alias("p_i"))
        pj = p.select(F.col("source").alias("j"), F.col("p").alias("p_j"))
        d = (
            pairs.join(F.broadcast(pi), "i")
            .join(F.broadcast(pj), "j")
            .groupBy("i")
            .agg(
                F.sum(
                    F.expr(f"n * {_BT_NUM} div (p_i + p_j)")
                ).alias("d")
            )
            .select(F.col("i").alias("source"), "d")
        )
        return players.join(d, "source").select(
            "source",
            F.greatest(
                F.expr(f"wins * {_BT_NUM} div d"), F.lit(1).cast("long")
            ).alias("p"),
        )

    p0 = players.select("source", F.lit(_BT_SCALE).cast("long").alias("p"))
    p1 = mm_step(p0)
    p2 = mm_step(p1)
    return (
        players.join(
            p1.select("source", F.col("p").alias("strength1_micro")), "source"
        )
        .join(
            p2.select("source", F.col("p").alias("strength2_micro")), "source"
        )
        .select(
            "source", "wins", "n_matches",
            "strength1_micro", "strength2_micro",
        )
    )


_COVERAGE_KS = (256, 1024, 4096, 16384)


@register(
    "vocab_coverage_curve",
    oracle=f"""
    WITH tok AS (
        SELECT lower(t) AS token
        FROM documents, LATERAL unnest({_TOKENS_SQL}) AS u(t)
    ),
    vocab AS (
        SELECT token, CAST(count(*) AS BIGINT) AS c
        FROM tok GROUP BY token
    ),
    classes AS (
        SELECT c, CAST(count(*) AS BIGINT) AS n_tok,
               CAST(c * count(*) AS BIGINT) AS occ
        FROM vocab GROUP BY c
    ),
    run AS (
        SELECT c, n_tok, occ,
               CAST(coalesce(sum(n_tok) OVER w, 0) AS BIGINT) AS cum_cnt_before,
               CAST(coalesce(sum(occ) OVER w, 0) AS BIGINT) AS cum_occ_before
        FROM classes
        WINDOW w AS (ORDER BY c DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    tot AS (
        SELECT CAST(sum(occ) AS BIGINT) AS total_occ,
               CAST(sum(n_tok) AS BIGINT) AS n_vocab
        FROM classes
    ),
    ks(k) AS (VALUES {", ".join(f"({k})" for k in _COVERAGE_KS)})
    SELECT CAST(ks.k AS BIGINT) AS k,
           CAST(least(ks.k, tot.n_vocab) AS BIGINT) AS vocab_size,
           CAST((
               SELECT coalesce(sum(
                   CASE
                     WHEN r.cum_cnt_before + r.n_tok <= ks.k THEN r.occ
                     WHEN r.cum_cnt_before < ks.k
                       THEN (ks.k - r.cum_cnt_before) * r.c
                     ELSE 0
                   END), 0)
               FROM run r) * 1000000 // tot.total_occ AS BIGINT)
               AS coverage_ppm
    FROM ks CROSS JOIN tot
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary sizing curve: what fraction of corpus token
    OCCURRENCES a top-k frequency vocabulary covers, at k ∈ {256, 1K,
    4K, 16K} — the curve that picks a vocab size before BPE training
    (companion to `vocab_oov_rate`, which scores one fixed vocab).

    Exactness without a global rank: all tokens in a frequency class
    are interchangeable for coverage (same c), so coverage(k) =
    full classes above the boundary + (k − tokens_before)·c_boundary —
    no per-token ordering exists anywhere. The running sums run over
    the distinct-FREQUENCY histogram (O(√corpus tokens) rows by
    Heaps/Zipf — same bounded-value-histogram pattern as
    `length_quantile_filter`, allow-listed in the plan gate); the
    vocabulary itself is only ever aggregated, never sorted."""
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(
        F.explode(
            F.expr(f"transform({_TOKENS_SPARK}, t -> lower(t))")
        ).alias("token")
    )
    vocab = tok.groupBy("token").agg(F.count("*").cast("long").alias("c"))
    classes = vocab.groupBy("c").agg(
        F.count("*").cast("long").alias("n_tok"),
        (F.col("c") * F.count("*")).cast("long").alias("occ"),
    )
    w = (
        Window.orderBy(F.col("c").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = classes.select(
        "c", "n_tok", "occ",
        F.coalesce(F.sum("n_tok").over(w), F.lit(0)).alias("cum_cnt_before"),
    )
    tot = classes.agg(
        F.sum("occ").cast("long").alias("total_occ"),
        F.sum("n_tok").cast("long").alias("n_vocab"),
    )
    ks = spark.createDataFrame(
        [(k,) for k in _COVERAGE_KS], "k long"
    )
    contrib = (
        ks.crossJoin(run)
        .select(
            "k",
            F.when(
                F.col("cum_cnt_before") + F.col("n_tok") <= F.col("k"),
                F.col("occ"),
            )
            .when(
                F.col("cum_cnt_before") < F.col("k"),
                (F.col("k") - F.col("cum_cnt_before")) * F.col("c"),
            )
            .otherwise(F.lit(0))
            .alias("covered"),
        )
        .groupBy("k")
        .agg(F.coalesce(F.sum("covered"), F.lit(0)).alias("covered"))
    )
    return (
        contrib.crossJoin(F.broadcast(tot))
        .select(
            "k",
            F.least(F.col("k"), F.col("n_vocab")).alias("vocab_size"),
            F.expr("covered * 1000000 div total_occ").alias("coverage_ppm"),
        )
    )


# ── Round 6: nearest-centroid classifier eval ──────────────────────────


@register(
    "embedding_centroid_classifier_eval",
    # Label centroids in exact integer micros (floor(x·10⁶) per
    # component, integer mean with truncating div), L2² in BIGINT —
    # zero float sums anywhere, so the confusion matrix is bit-stable
    # under any aggregation order (the PCA/k-means exact-integer
    # discipline applied to supervised eval).
    oracle="""
    WITH qm AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000)
                             AS BIGINT)) AS v
        FROM embeddings
    ),
    idx AS (
        SELECT unnest(range(1,
            (SELECT len(embedding) FROM embeddings LIMIT 1) + 1)) AS i
    ),
    comp AS (
        SELECT q.label, x.i, q.v[x.i] AS c
        FROM qm q CROSS JOIN idx x
    ),
    cent AS (
        SELECT label, i, sum(c) // count(*) AS c
        FROM comp GROUP BY label, i
    ),
    cvec AS (
        SELECT label AS plab, list(c ORDER BY i) AS cv
        FROM cent GROUP BY label
    ),
    scored AS (
        SELECT q.vec_id, q.label, c.plab,
               list_sum(list_transform(range(1, len(q.v) + 1),
                   i -> (q.v[i] - c.cv[i]) * (q.v[i] - c.cv[i])))
                   AS dist
        FROM qm q CROSS JOIN cvec c
    ),
    assigned AS (
        SELECT vec_id, label, plab,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, plab) AS rn
        FROM scored
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(plab AS BIGINT) AS predicted,
           CAST(count(*) AS BIGINT) AS n
    FROM assigned WHERE rn = 1
    GROUP BY label, plab
    """,
)
def embedding_centroid_classifier_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nearest-centroid (Rocchio) classifier confusion matrix over the
    labeled embedding table: per-label mean vector, every vector
    assigned to its nearest centroid by exact-integer L2², confusion
    counts (label, predicted, n) — the "are these labels separable in
    embedding space" sanity eval run before training a probe, and the
    supervised complement of embedding_kmeans_assign (which uses
    unsupervised seed centroids).

    Exactness: components are quantized to integer micros BEFORE the
    mean (truncating integer division), distances are BIGINT sums of
    squared integer differences, argmin tie-breaks on label — no
    float aggregation order anywhere in the plan.

    Scale shape: centroids via a (label, dim)-keyed integer agg over
    the posexploded components (map-side combined, |labels|·dims
    result rows — model-scale), broadcast back; assignment is one
    codegen zip_with per (vector, label) against the ≤|labels|-row
    broadcast; confusion is a (label, predicted) hash agg. No
    all-pairs anything; the only data-scale pass is the scan."""
    emb = load_table(spark, "embeddings", sf_dir)
    qm = emb.select(
        "vec_id", "label",
        F.expr(
            "transform(embedding,"
            " x -> cast(floor(cast(x as double) * 1000000) as bigint))"
        ).alias("v"),
    )
    comp = qm.select(
        "label", F.posexplode("v").alias("i", "c")
    )
    cent = comp.groupBy("label", "i").agg(
        F.expr("sum(c) div count(*)").alias("c")
    )
    cvec = cent.groupBy(F.col("label").alias("plab")).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(i, c))), s -> s.c)"
        ).alias("cv")
    )
    scored = qm.crossJoin(F.broadcast(cvec)).select(
        "vec_id", "label", "plab",
        F.expr(
            "aggregate(zip_with(v, cv, (a, b) -> (a - b) * (a - b)),"
            " 0L, (acc, x) -> acc + x)"
        ).alias("dist"),
    )
    assigned = (
        scored.groupBy("vec_id", "label")
        .agg(F.min(F.struct("dist", "plab")).alias("b"))
        .select("label", F.col("b.plab").alias("predicted"))
    )
    return assigned.groupBy("label", "predicted").agg(
        F.count("*").cast("bigint").alias("n")
    ).select(
        F.col("label").cast("bigint").alias("label"),
        F.col("predicted").cast("bigint").alias("predicted"),
        "n",
    )


_KC_K = 8  # coreset size
_KC_DIST = (
    "list_sum(list_transform(range(1, len({a}) + 1),"
    " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
)


def _kcenter_oracle() -> str:
    """Unrolled greedy k-center replay: d{s} carries each point's
    min squared distance to the first s centers; c{s+1} is the argmax
    (farthest point, vec_id tie-break). All distances are exact BIGINT
    over milli-quantized coordinates."""
    parts = [
        """
    q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))
                   AS qv
        FROM embeddings
    ),
    c1 AS (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT 1),
    d1 AS (
        SELECT q.vec_id, q.qv,
               """
        + _KC_DIST.format(a="q.qv", b="c1.qv")
        + """ AS mind
        FROM q CROSS JOIN c1
    )"""
    ]
    for s in range(2, _KC_K + 1):
        parts.append(f"""
    c{s} AS (SELECT vec_id, qv, mind FROM d{s - 1}
             ORDER BY mind DESC, vec_id LIMIT 1),
    d{s} AS (
        SELECT d.vec_id, d.qv,
               least(d.mind, {_KC_DIST.format(a="d.qv", b="c.qv")})
                   AS mind
        FROM d{s - 1} d CROSS JOIN c{s} c
    )""")
    selects = ["SELECT 1 AS center_rank, vec_id, CAST(0 AS BIGINT) AS sep_dist FROM c1"]
    selects += [
        f"SELECT {s}, vec_id, CAST(mind AS BIGINT) FROM c{s}"
        for s in range(2, _KC_K + 1)
    ]
    return (
        "WITH " + ",".join(parts) + "\n"
        + "\nUNION ALL\n".join(selects)
    )


@register("embedding_coreset_kcenter", oracle=_kcenter_oracle())
def embedding_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point) coreset over the embedding
    corpus: start from the lowest vec_id, then repeatedly pick the
    point farthest from every chosen center — the classic 2-approx
    diversity selector (Gonzalez '85) behind "give me 8 maximally
    spread exemplars" for labeling budgets, eval-probe selection, and
    diversity-aware subsampling. Coordinates are milli-quantized once
    so every distance is exact BIGINT; ties break on vec_id; each
    emitted row carries the separation distance at selection time
    (the coverage radius shrinks monotonically down this column).

    Scale shape: the quantized corpus is pinned once; then k−1 passes,
    pass s a scan of it computing least() over the codegen distances
    to the s centers chosen so far (64 ints to the driver per center —
    model-scale, the k-means/PQ precedent). Recomputing the s ≤ k
    distances costs less than carrying a running min, which would pin
    one corpus copy per pass or shuffle the vectors back to it. The
    argmax is a 1-row TakeOrdered, never a global window. At 100 TB:
    k linear passes, zero shuffles beyond the top-1 reduction."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = pin(emb.select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
        ).alias("qv"),
    ))
    first = q.orderBy("vec_id").limit(1).collect()
    if not first:
        return q.select(
            F.lit(1).alias("center_rank"),
            "vec_id",
            F.lit(0).cast("long").alias("sep_dist"),
        ).limit(0)
    centers = [(1, first[0].vec_id, 0)]

    def dist_to(center_vec: list[int]):
        lit = F.array(*[F.lit(int(v)).cast("long") for v in center_vec])
        return F.aggregate(
            F.zip_with(F.col("qv"), lit, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, e: acc + e,
        )

    dists = [dist_to(list(first[0].qv))]
    for s in range(2, _KC_K + 1):
        mind = F.least(*dists) if len(dists) > 1 else dists[0]
        far = (
            q.select("vec_id", "qv", mind.alias("mind"))
            .orderBy(F.col("mind").desc(), "vec_id")
            .limit(1)
            .collect()
        )
        if not far or far[0].mind == 0:
            break
        centers.append((s, far[0].vec_id, far[0].mind))
        dists.append(dist_to(list(far[0].qv)))
    return spark.createDataFrame(
        centers, "center_rank int, vec_id bigint, sep_dist bigint"
    )


_UNI_TOP = 20  # emitted most-essential tokens


@register(
    "tokenizer_unigram_prune",
    # SentencePiece-style unigram-LM vocabulary pruning (Kudo 2018,
    # the prune half of the EM loop) with the character fallback as
    # the alternative path: a word's value is how much corpus
    # log-likelihood is lost if it leaves the vocabulary and must be
    # spelled from characters, loss(w) = c_w · (logp(w) − Σ_ch
    # logp(ch)). Log-probs are rounded ONCE per vocab entry to
    # micro-nats, so every loss is an exact BIGINT product and the
    # ranking is engine-deterministic.
    oracle=f"""
    WITH wi AS (
        SELECT unnest(string_split(trim(text), ' ')) AS w
        FROM documents
    ),
    wc AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c
        FROM wi WHERE w <> '' GROUP BY w
    ),
    wt AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM wc),
    -- char model derived from the VOCAB table weighted by counts,
    -- never by re-scanning the corpus
    ch AS (
        SELECT unnest(string_split(w, '')) AS ch, c
        FROM wc
    ),
    cc AS (
        SELECT ch, CAST(sum(c) AS BIGINT) AS n FROM ch GROUP BY ch
    ),
    ct AS (SELECT CAST(sum(n) AS BIGINT) AS ctot FROM cc),
    clp AS (
        SELECT cc.ch,
               CAST(round(1e6 * ln(CAST(cc.n AS DOUBLE) / ct.ctot))
                    AS BIGINT) AS lp
        FROM cc CROSS JOIN ct
    ),
    wpath AS (
        SELECT s.w, CAST(sum(clp.lp) AS BIGINT) AS char_path_micro
        FROM (SELECT w, unnest(string_split(w, '')) AS ch FROM wc) s
        JOIN clp ON clp.ch = s.ch
        GROUP BY s.w
    ),
    scored AS (
        SELECT wc.w AS token, wc.c AS freq,
               CAST(round(1e6 * ln(CAST(wc.c AS DOUBLE) / wt.t))
                    AS BIGINT) AS logp_micro,
               p.char_path_micro,
               wc.c * (CAST(round(1e6 * ln(CAST(wc.c AS DOUBLE) / wt.t))
                            AS BIGINT) - p.char_path_micro)
                   AS loss_micro
        FROM wc CROSS JOIN wt JOIN wpath p ON p.w = wc.w
    )
    SELECT token, freq, logp_micro, char_path_micro, loss_micro
    FROM scored
    ORDER BY loss_micro DESC, token
    LIMIT {_UNI_TOP}
    """,
)
def tokenizer_unigram_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer pruning scores — the SentencePiece
    counterpart to the repo's BPE trainer (operators/bpe.py): under a
    unigram language model with character fallback, each vocabulary
    word's worth is the corpus log-likelihood lost if it is pruned
    and must be spelled character-by-character, loss(w) = freq ·
    (logp(w) − Σ logp(char)). The top-20 by loss are the tokens the
    vocabulary cannot afford to drop — the exact quantity
    SentencePiece's prune step thresholds each EM round. Log-probs
    are quantized once to micro-nats making every downstream product
    and sum exact integer arithmetic.

    Scale shape: ONE corpus scan feeds the word-count agg
    (vocabulary-scale); the character model and the char-path sums
    are derived from the VOCAB table weighted by counts — the corpus
    is never re-scanned or char-exploded; final ranking is a
    TakeOrdered heap over vocab rows."""
    docs = load_table(spark, "documents", sf_dir)
    wi = docs.select(
        F.explode(F.expr("split(trim(text), ' ')")).alias("w")
    ).filter(F.col("w") != "")
    wc = wi.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    wc = pin(wc)  # word model reused by 3 branches
    wt = wc.agg(F.sum("c").cast("long").alias("t"))
    chx = wc.select(F.explode(F.expr("split(w, '')")).alias("ch"), "c")
    cc = chx.groupBy("ch").agg(F.sum("c").cast("long").alias("n"))
    ct = cc.agg(F.sum("n").cast("long").alias("ctot"))
    clp = cc.crossJoin(F.broadcast(ct)).select(
        "ch",
        F.round(1e6 * F.log(F.col("n").cast("double") / F.col("ctot")))
        .cast("long")
        .alias("lp"),
    )
    wpath = (
        wc.select("w", F.explode(F.expr("split(w, '')")).alias("ch"))
        .join(F.broadcast(clp), "ch")
        .groupBy("w")
        .agg(F.sum("lp").cast("long").alias("char_path_micro"))
    )
    logp = F.round(
        1e6 * F.log(F.col("c").cast("double") / F.col("t"))
    ).cast("long")
    scored = (
        wc.crossJoin(F.broadcast(wt))
        .join(wpath, "w")
        .select(
            F.col("w").alias("token"),
            F.col("c").alias("freq"),
            logp.alias("logp_micro"),
            "char_path_micro",
            (F.col("c") * (logp - F.col("char_path_micro")))
            .alias("loss_micro"),
        )
    )
    return scored.orderBy(F.col("loss_micro").desc(), "token").limit(
        _UNI_TOP
    )


_VIT_MAX_PIECE = 3  # subword piece length cap


@register(
    "tokenizer_viterbi_segment",
    # SentencePiece's other half, executed as a recursive CTE: build
    # a subword piece inventory (all substrings of length ≤ 3 of the
    # corpus vocabulary, occurrence-weighted by word frequency, cost
    # = −ln p in micro-nats quantized once per piece), then find each
    # word's MINIMUM-COST segmentation by dynamic programming — the
    # recursion extends every partial segmentation by any piece that
    # matches at the cursor, and the final per-word argmin (cost,
    # path) is deterministic. Spark 4's recursive CTE executes the
    # same DP the oracle does.
    oracle=f"""
    WITH RECURSIVE wc AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
            SELECT unnest(string_split(trim(text), ' ')) AS w
            FROM documents
        ) WHERE w <> '' GROUP BY w
    ),
    occ AS (
        SELECT substr(wc.w, i.i, l.l) AS p, CAST(sum(wc.c) AS BIGINT) AS n
        FROM wc,
             LATERAL unnest(range(1, length(wc.w) + 1)) AS i(i),
             LATERAL unnest(range(1, {_VIT_MAX_PIECE} + 1)) AS l(l)
        WHERE i.i + l.l - 1 <= length(wc.w)
        GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM occ),
    pieces AS (
        SELECT p, CAST(length(p) AS INT) AS pl,
               CAST(-round(1e6 * ln(CAST(n AS DOUBLE) / t.t)) AS BIGINT)
                   AS cost
        FROM occ CROSS JOIN tot t
    ),
    seg(w, pos, cost, path) AS (
        SELECT w, 0, CAST(0 AS BIGINT), CAST('' AS VARCHAR) FROM wc
        UNION ALL
        SELECT s.w, s.pos + p.pl, s.cost + p.cost,
               s.path || '|' || p.p
        FROM seg s JOIN pieces p
          ON substr(s.w, s.pos + 1, p.pl) = p.p
        WHERE s.pos < length(s.w)
    ),
    done AS (
        SELECT w, cost, path,
               row_number() OVER (PARTITION BY w ORDER BY cost, path)
                   AS rk
        FROM seg WHERE pos = length(w)
    )
    SELECT d.w AS word, wc.c AS corpus_count,
           CAST(length(d.path) - length(replace(d.path, '|', ''))
                AS BIGINT) AS n_pieces,
           d.cost AS cost_micro,
           d.path AS segmentation
    FROM done d JOIN wc ON wc.w = d.w
    WHERE d.rk = 1
    """,
)
def tokenizer_viterbi_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi subword segmentation — the encode half of the unigram
    tokenizer (tokenizer_unigram_prune scores the vocabulary; this
    segments with it): every corpus word's minimum-cost split into
    occurrence-weighted substring pieces (length ≤ 3), found by
    dynamic programming expressed as a RECURSIVE CTE that Spark 4 and
    DuckDB both execute — each recursion step extends a partial
    segmentation by any piece matching at the cursor, and the winner
    per word is the deterministic (cost, path) argmin. Piece costs
    are −ln p quantized once to micro-nats; everything downstream is
    exact integers and exact string paths.

    Scale shape: the corpus collapses to the vocabulary in ONE scan;
    the piece inventory and the DP run on vocab-scale tables (the
    recursion's working set is bounded by segmentation-path counts of
    ≤ max-word-length words — tribonacci-bounded per word, never
    corpus-sized); the final argmin is a per-word window over those
    bounded rows. For open-vocabulary corpora, cap the DP to the
    top-K words and fall back to greedy encode (operators/bpe.py)."""
    docs = load_table(spark, "documents", sf_dir)
    wc = (
        docs.select(
            F.explode(F.expr("split(trim(text), ' ')")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    pin(wc).createOrReplaceTempView("vit_wc")
    occ = spark.sql(f"""
        SELECT substr(w, i, l) AS p, CAST(sum(c) AS BIGINT) AS n
        FROM vit_wc
        LATERAL VIEW explode(sequence(1, length(w))) AS i
        LATERAL VIEW explode(sequence(1, {_VIT_MAX_PIECE})) AS l
        WHERE i + l - 1 <= length(w)
        GROUP BY 1
    """)
    occ.createOrReplaceTempView("vit_occ")
    pin(spark.sql(
        """
        SELECT p, CAST(length(p) AS INT) AS pl,
               CAST(-round(1e6 * ln(CAST(n AS DOUBLE) / t.t)) AS BIGINT)
                   AS cost
        FROM vit_occ CROSS JOIN (
            SELECT CAST(sum(n) AS BIGINT) AS t FROM vit_occ
        ) t
        """
    )).createOrReplaceTempView("vit_pieces")
    return spark.sql(
        """
        WITH RECURSIVE seg(w, pos, cost, path) AS (
            SELECT w, 0, CAST(0 AS BIGINT), CAST('' AS STRING)
            FROM vit_wc
            UNION ALL
            SELECT s.w, s.pos + p.pl, s.cost + p.cost,
                   concat(s.path, '|', p.p)
            FROM seg s JOIN vit_pieces p
              ON substr(s.w, s.pos + 1, p.pl) = p.p
            WHERE s.pos < length(s.w)
        ),
        done AS (
            SELECT w, cost, path,
                   row_number() OVER (PARTITION BY w
                                      ORDER BY cost, path) AS rk
            FROM seg WHERE pos = length(w)
        )
        SELECT d.w AS word, wc.c AS corpus_count,
               CAST(length(d.path) - length(replace(d.path, '|', ''))
                    AS BIGINT) AS n_pieces,
               d.cost AS cost_micro,
               d.path AS segmentation
        FROM done d JOIN vit_wc wc ON wc.w = d.w
        WHERE d.rk = 1
        """
    )


# ── Round 7: clustering-quality eval ──────────────────────────────────


@register(
    "embedding_silhouette_simplified",
    # Simplified silhouette over the seed-centroid assignment (the
    # centroid-based variant that replaces all-pairs distances with
    # distances to the k centroids — the only silhouette that scales):
    # a = distance to the nearest (own) centroid, b = distance to the
    # second-nearest, s = (b − a)/max(a, b) quantized ONCE per point
    # to micro units, then per-cluster integer means. Distances are
    # the same sequential-fold L2 both engines evaluate identically
    # (the kmeans_assign discipline).
    oracle=f"""
    WITH {_CENTROID_SQL},
    ab AS (
        SELECT vec_id,
               max(CASE WHEN rn = 1 THEN cid END) AS cid,
               max(CASE WHEN rn = 1 THEN dist END) AS a,
               max(CASE WHEN rn = 2 THEN dist END) AS b
        FROM assigned
        WHERE rn <= 2
        GROUP BY vec_id
    ),
    s AS (
        SELECT cid,
               CASE WHEN greatest(a, b) > 0
                    THEN CAST(round(1e6 * (b - a) / greatest(a, b))
                         AS BIGINT)
                    ELSE CAST(0 AS BIGINT)
               END AS s_micro
        FROM ab
    )
    SELECT cid,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(sum(CASE WHEN s_micro < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_boundary,
           CAST(sum(s_micro) // count(*) AS BIGINT)
               AS mean_silhouette_micro
    FROM s GROUP BY cid
    """,
)
def embedding_silhouette_simplified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Simplified silhouette score per cluster — the clustering-
    quality eval for the k-means family (embedding_kmeans_assign /
    embedding_cluster_profile): s = (b − a)/max(a, b) with a = the
    point's distance to its own (nearest) centroid and b = to the
    second-nearest. Mean s near 1 → compact, well-separated cluster;
    near 0 → clusters touch; negative points sit closer to another
    centroid than their own (assignment boundary mass, reported as
    n_boundary). The full silhouette needs all-pairs distances —
    O(n²) and dead at scale; the simplified form is the standard
    centroid proxy (and exactly what a 100 TB run can afford:
    distances to k centroids only).

    Exactness: L2 distances are sequential array folds (identical in
    both engines); s quantizes once per point; cluster means are
    integer divisions of micro sums.

    Scale shape: one broadcast of the k-row centroid set, one fused
    scan scoring n×k distances, ONE vec-keyed top-2 reduction, one
    cluster-keyed agg. No windows over data-scale rows, no pairs."""
    emb = load_table(spark, "embeddings", sf_dir)
    cents = emb.filter(F.col("vec_id") < _K_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cid",
        V.l2_distance(F.col("embedding"), F.col("cv")).alias("dist"),
    )
    # top-2 via one grouped min(struct) + an excluded second pass kept
    # in the same shuffle key (vec_id)
    first = scored.groupBy("vec_id").agg(
        F.min(F.struct("dist", "cid")).alias("f")
    ).select(
        "vec_id",
        F.col("f.cid").alias("cid"),
        F.col("f.dist").alias("a"),
    )
    second = (
        scored.join(first.withColumnRenamed("cid", "fcid"), "vec_id")
        .filter(F.col("cid") != F.col("fcid"))
        .groupBy("vec_id")
        .agg(F.min("dist").alias("b"))
    )
    ab = first.join(second, "vec_id")
    s = ab.select(
        "cid",
        F.when(
            F.greatest("a", "b") > 0,
            F.round(
                F.lit(1e6) * (F.col("b") - F.col("a"))
                / F.greatest("a", "b")
            ).cast("long"),
        ).otherwise(F.lit(0).cast("long")).alias("s_micro"),
    )
    return s.groupBy("cid").agg(
        F.count("*").cast("long").alias("n_points"),
        F.sum(F.when(F.col("s_micro") < 0, 1).otherwise(0))
        .cast("long").alias("n_boundary"),
        F.expr("sum(s_micro) div count(*)").cast("long")
        .alias("mean_silhouette_micro"),
    )
