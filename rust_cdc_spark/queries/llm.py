"""Large-scale training-data pipeline queries: dedup, text analysis,
similarity search over the ``documents`` and ``embeddings`` tables.

Design rule: everything is a pure column expression or a key-partitioned
shuffle — no driver-side loops, no Python UDFs in the hot path. Hash
functions are md5 (bit-exact across engines) so the DuckDB oracle can
verify even the MinHash path.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rust_cdc_spark.functions import text as TX
from rust_cdc_spark.functions import vectors as V
from rust_cdc_spark.operators import dedup as DD
from rust_cdc_spark.operators import sampling as SAMP
from rust_cdc_spark.operators import similarity as SIM
from rust_cdc_spark.operators.ranks import pin
from rust_cdc_spark.queries import register
from rust_cdc_spark.queries import ann_replay as ANN_REPLAY
from rust_cdc_spark.sources.tables import load_table

_SW_SQL = "['the','a','an','and','of','to','in','is','it','that']"
_TOKENS_SQL = "string_split(trim(text), ' ')"


@register(
    "dedup_exact_documents",
    oracle="""
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
           min(doc_id) AS canonical_id,
           count(*)    AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: canonical fingerprint (md5 of normalized text) →
    hash-groupBy. Map-side partial agg means the shuffle carries one row
    per distinct fingerprint, not per document — the 100 TB-safe shape."""
    return DD.exact_dedup(load_table(spark, "documents", sf_dir))


@register(
    "text_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOKENS_SQL}) AS INT) AS n_tokens,
           CAST(length(text) AS INT)       AS n_chars,
           round(CAST(len(list_filter({_TOKENS_SQL},
                         t -> list_contains({_SW_SQL}, lower(t)))) AS DOUBLE)
                 / len({_TOKENS_SQL}), 4)  AS stopword_ratio,
           round(CAST(list_sum(list_transform({_TOKENS_SQL}, t -> length(t))) AS DOUBLE)
                 / len({_TOKENS_SQL}), 4)  AS avg_token_len
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + per-document text statistics — pure codegen map
    stage (higher-order array functions, no UDF)."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        TX.token_count("text").alias("n_tokens"),
        TX.char_count("text").alias("n_chars"),
        F.round(TX.stopword_ratio("text"), 4).alias("stopword_ratio"),
        F.round(TX.avg_token_len("text"), 4).alias("avg_token_len"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len({_TOKENS_SQL}) AS DOUBLE) AS tc,
               CAST(len(list_filter({_TOKENS_SQL},
                        t -> list_contains({_SW_SQL}, lower(t)))) AS DOUBLE)
                   / len({_TOKENS_SQL}) AS sw,
               CAST(list_sum(list_transform({_TOKENS_SQL}, t -> length(t))) AS DOUBLE)
                   / len({_TOKENS_SQL}) AS atl
        FROM documents
    )
    SELECT doc_id,
           round(0.4 * least(tc / 64.0, 1.0)
                 + 0.4 * least(sw * 4.0, 1.0)
                 + 0.2 * (CASE WHEN atl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END),
                 4) AS quality
    FROM t
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality scoring (length saturation + stopword fluency +
    token-length sanity) — the filter stage of a pretraining pipeline."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.select("doc_id", TX.quality_score("text").alias("quality"))


@register(
    "lang_id_heuristic",
    oracle=f"""
    SELECT doc_id, lang,
           CASE WHEN CAST(len(list_filter({_TOKENS_SQL},
                          t -> list_contains({_SW_SQL}, lower(t)))) AS DOUBLE)
                     / len({_TOKENS_SQL}) >= 0.08
                THEN 'en' ELSE 'other' END AS lang_pred
    FROM documents
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-coverage language ID (the n-gram-model column slot)."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.select("doc_id", "lang", TX.lang_id("text").alias("lang_pred"))


@register(
    "similarity_topk_cosine",
    oracle="""
    WITH q AS (
        SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id = 0
    ),
    scored AS (
        SELECT e.vec_id,
               round(
                 list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qv)
                 / (sqrt(list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                                          list_transform(e.embedding, x -> CAST(x AS DOUBLE))))
                    * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cos_sim
        FROM embeddings e, q
        WHERE e.vec_id <> 0
    )
    SELECT vec_id, cos_sim FROM scored
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def similarity_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against a query vector (vec_id=0): the
    exactness baseline for ANN. The query vector is a 1-row broadcast
    cross join; scoring is a codegen'd map; top-k is
    TakeOrderedAndProject (per-partition heaps, no global sort)."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(V.cosine(F.col("embedding"), F.col("qv")), 4).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


# Exact pairwise-equivalent Jaccard oracle — shared by the inverted-
# index query (dedup_ngram_jaccard_pairs) and the prefix-filtered query
# (dedup_jaccard_prefix_pairs): both generators are exact, so one
# ground-truth SQL value-checks both.
_JACCARD_EXACT_SQL = """
    WITH sh AS (
        SELECT doc_id,
               list_distinct([
                   array_to_string(toks[i:i+2], ' ')
                   for i in range(1, greatest(len(toks) - 2, 1) + 1)
               ]) AS shingle_set
        FROM (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents)
    ),
    -- inverted-index candidates (shingle equi-join): |A∩B| = matching-
    -- shingle count, |A∪B| by inclusion-exclusion (shingle_set is
    -- distinct) — the same Jaccard doubles as the naive pairwise scan,
    -- hash-joined instead of O(n²)
    sh_e AS (SELECT doc_id, unnest(shingle_set) AS s FROM sh),
    sizes AS (SELECT doc_id, len(shingle_set) AS n FROM sh),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS inter
        FROM sh_e a JOIN sh_e b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b,
           round(CAST(c.inter AS DOUBLE) / (sa.n + sb.n - c.inter), 4)
               AS jaccard
    FROM cand c
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    WHERE CAST(c.inter AS DOUBLE) / (sa.n + sb.n - c.inter) >= 0.5
    """


@register("dedup_ngram_jaccard_pairs", oracle=_JACCARD_EXACT_SQL)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs by 3-gram Jaccard ≥ 0.5.

    Scale shape: an inverted-index join (explode shingles → equi-join on
    shingle → per-pair intersection counts) instead of the O(n²) cross
    join — only pairs sharing ≥1 shingle are ever materialized. The
    df_cap=10k hot-shingle cap is ON by default: candidate generation
    skips shingles shared by >10k distinct docs (the |bucket|² killer on
    boilerplate-heavy crawls — measured ~10⁵× at 100× in SCALE.md),
    while every reported jaccard stays exact — the intersection count
    is composed from the rare-shingle join plus a candidate-keyed
    hot-shingle join — so the oracle still value-matches. The oracle
    states the same semantics as a (small-data) pairwise join.
    """
    return DD.jaccard_pairs(
        load_table(spark, "documents", sf_dir), threshold=0.5, df_cap=10_000
    )


@register("dedup_jaccard_prefix_pairs", oracle=_JACCARD_EXACT_SQL)
def dedup_jaccard_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by 3-gram Jaccard >= 0.5 via PPJoin-style PREFIX
    FILTERING (Xiao et al., WWW 2008) — the lossless alternative to the
    df-capped inverted index for boilerplate-heavy crawls: candidates
    come only from each document's df-ascending shingle prefix
    (|x| - ceil(t|x|) + 1 elements), which structurally excludes the
    hot-shingle |bucket|^2 blowup while guaranteeing (prefix-filter
    lemma) that every pair with J >= t still collides. Verification
    recovers exact intersections from full hash arrays in codegen, so
    the output is identical to dedup_ngram_jaccard_pairs — one shared
    ground-truth oracle value-checks both generators.

    Scale shape: ONE shingle-keyed df window + doc-keyed sort-collect +
    prefix self-join (df-bounded buckets by construction) + two
    doc-keyed verify joins; candidate volume vs the full index is
    measured in SCALE.md."""
    return DD.jaccard_pairs_prefix(
        load_table(spark, "documents", sf_dir), threshold=0.5
    )


@register(
    "dedup_source_matrix",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               list_distinct([
                   array_to_string(toks[i:i+2], ' ')
                   for i in range(1, greatest(len(toks) - 2, 1) + 1)
               ]) AS shingle_set
        FROM (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents)
    ),
    sh_e AS (SELECT doc_id, unnest(shingle_set) AS s FROM sh),
    sizes AS (SELECT doc_id, len(shingle_set) AS n FROM sh),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS inter
        FROM sh_e a JOIN sh_e b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM cand c
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b
        WHERE CAST(c.inter AS DOUBLE) / (sa.n + sb.n - c.inter) >= 0.5
    )
    SELECT least(da.source, db.source)    AS source_a,
           greatest(da.source, db.source) AS source_b,
           CAST(count(*) AS BIGINT)       AS n_pairs
    FROM pairs p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    GROUP BY 1, 2
    """,
)
def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup attribution matrix: which source pairs duplicate each
    other (Jaccard ≥ 0.5 pairs rolled up by unordered source pair).

    The dataset-card diagnostic behind mixture decisions: a heavy
    off-diagonal cell means two "independent" sources are actually
    mirrors and their mixture weights double-count. Scale shape: the
    pair generator is the df-capped inverted-index join (linear-ish);
    attribution is two doc_id-keyed equi-joins of the (small) pair set
    against a 2-column projection of the corpus, then a ≤|sources|²
    hash agg — no new quadratic surface.
    """
    docs = load_table(spark, "documents", sf_dir)
    pairs = DD.jaccard_pairs(docs, threshold=0.5, df_cap=10_000)
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
    )


@register(
    "dedup_containment_pairs",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               list_distinct([
                   array_to_string(toks[i:i+2], ' ')
                   for i in range(1, greatest(len(toks) - 2, 1) + 1)
               ]) AS shingle_set
        FROM (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents)
    ),
    sh_e AS (SELECT doc_id, unnest(shingle_set) AS s FROM sh),
    sizes AS (SELECT doc_id, len(shingle_set) AS n FROM sh),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS inter
        FROM sh_e a JOIN sh_e b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b,
           round(CAST(c.inter AS DOUBLE) / least(sa.n, sb.n), 4)
               AS containment
    FROM cand c
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    WHERE CAST(c.inter AS DOUBLE) / least(sa.n, sb.n) >= 0.8
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-containment pairs: |A∩B|/min(|A|,|B|) ≥ 0.8 over
    3-gram shingle sets.

    The quote/boilerplate-inclusion detector symmetric Jaccard cannot
    express: a short doc fully embedded in a long one scores containment
    1.0 but Jaccard |A|/|B| → 0, so it survives a Jaccard-keyed dedup
    pass. Shares :func:`~rust_cdc_spark.operators.dedup.jaccard_pairs`'s
    entire engine (canonical-rep collapse, hashed inverted index,
    df-capped exact intersection recovery) — only the score changes, so
    the 100 TB cost shape is identical to `dedup_ngram_jaccard_pairs`.
    """
    return DD.containment_pairs(
        load_table(spark, "documents", sf_dir), threshold=0.8, df_cap=10_000
    )


@register(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+2], ' ')
                              for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS ss
        FROM toks
    ),
    hsx AS (SELECT doc_id, {DD.MINHASH_HS_SQL} AS hs FROM sh),
    sig AS (
        SELECT doc_id, {DD.minhash_sig_sql(16)} AS sg
        FROM hsx
    ),
    banded AS (
        SELECT doc_id, sg, r.b AS band_id,
               md5(sg[4*r.b+1] || '|' || sg[4*r.b+2] || '|' || sg[4*r.b+3] || '|' || sg[4*r.b+4]) AS band_hash
        FROM sig, range(0, 4) r(b)
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sg AS sa, b.sg AS sb
        FROM banded a
        JOIN banded b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
                      AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           round(CAST(len(list_filter(range(1, 17), i -> sa[i] = sb[i])) AS DOUBLE) / 16, 4) AS sim_est
    FROM pairs
    """,
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16 affine permutations over one md5 base hash) +
    LSH(4 bands × 4 rows) near-dup candidate pairs with Jaccard
    estimates — the linear-time path that replaces the exact pairwise
    join at 100 TB. The base hash is md5-derived and the permutations
    are exact BIGINT arithmetic, so even the LSH layer is
    oracle-checkable (bit-identical in DuckDB)."""
    return DD.minhash_lsh_pairs(
        load_table(spark, "documents", sf_dir), num_hashes=16, bands=4
    )


@register(
    "dedup_simhash_fingerprints",
    oracle="""
    WITH hashes AS (
        SELECT doc_id,
               list_transform(string_split(trim(text), ' '), t -> md5(t)) AS hs
        FROM documents
    ),
    votes AS (
        SELECT doc_id,
               [2 * len(list_filter(hs, h ->
                    ((strpos('0123456789abcdef', h[i // 4 + 1]) - 1) >> (i % 4)) & 1 = 1))
                - len(hs)
                for i in range(0, 32)] AS v
        FROM hashes
    )
    SELECT doc_id,
           CAST(list_sum([CASE WHEN v[i + 1] > 0
                          THEN CAST(2 ** i AS BIGINT) ELSE 0 END
                          for i in range(0, 32)]) AS BIGINT) AS simhash
    FROM votes
    """,
)
def dedup_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(32-bit) document fingerprints from md5 token hashes — each
    bit is the sign of the per-bit vote sum over tokens. md5-based so the
    full fingerprint is oracle-checkable bit-for-bit; the crc32 variant
    (operators/dedup.simhash) is the cheaper JVM-only path."""
    return DD.simhash_md5(load_table(spark, "documents", sf_dir))


# The md5 32-bit fingerprint exactly as oracle-checked in
# dedup_simhash_fingerprints — reused as a CTE by the pairs oracle below.
_SIMHASH_FP_CTE = """
    hashes AS (
        SELECT doc_id,
               list_transform(string_split(trim(text), ' '), t -> md5(t)) AS hs
        FROM documents
    ),
    votes AS (
        SELECT doc_id,
               [2 * len(list_filter(hs, h ->
                    ((strpos('0123456789abcdef', h[i // 4 + 1]) - 1) >> (i % 4)) & 1 = 1))
                - len(hs)
                for i in range(0, 32)] AS v
        FROM hashes
    ),
    fp AS (
        SELECT doc_id,
               CAST(list_sum([CASE WHEN v[i + 1] > 0
                              THEN CAST(2 ** i AS BIGINT) ELSE 0 END
                              for i in range(0, 32)]) AS BIGINT) AS simhash
        FROM votes
    )
"""


@register(
    "dedup_simhash_pairs",
    # Pigeonhole banding over the oracle-checked md5 fingerprint: 4 bands
    # of 8 bits; any pair at hamming ≤ 3 must agree on ≥ 1 whole band.
    oracle=f"""
    WITH {_SIMHASH_FP_CTE},
    banded AS (
        SELECT doc_id, simhash, b AS band_id,
               (simhash >> (b * 8)) & 255 AS chunk
        FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS ha, b.simhash AS hb
        FROM banded a
        JOIN banded b ON a.band_id = b.band_id AND a.chunk = b.chunk
        WHERE a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) <= 3
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with hamming ≤ 3 via pigeonhole banding.
    Uses the md5 fingerprint (bit-exact cross-engine) so the banding join
    itself is value-checked by the DuckDB oracle; the crc32 variant
    (operators/dedup.simhash) is the cheaper JVM-only production path
    with identical plan shape."""
    return DD.simhash_near_pairs(
        load_table(spark, "documents", sf_dir), use_md5=True
    )


@register(
    "similarity_knn_batch",
    oracle="""
    WITH q AS (
        SELECT vec_id AS query_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id IN (0, 1, 2)
    ),
    scored AS (
        SELECT q.query_id, e.vec_id,
               round(
                 list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qv)
                 / (sqrt(list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                                          list_transform(e.embedding, x -> CAST(x AS DOUBLE))))
                    * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cos_sim
        FROM embeddings e, q
        WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cos_sim, rank FROM (
        SELECT query_id, vec_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, vec_id) AS rank
        FROM scored
    )
    WHERE rank <= 5
    """,
)
def similarity_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch exact kNN: 3 probe vectors × corpus, top-5 each — the
    brute-force baseline operator (broadcast probes, rank window)."""
    emb = load_table(spark, "embeddings", sf_dir)
    probes = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    return SIM.brute_force_topk(emb, probes, k=5, exclude_self=True)


def _planes_values_sql(dim: int, n_bits: int, n_tables: int, seed: int = 42) -> str:
    """The seeded hyperplanes as a DuckDB VALUES clause. ``repr`` emits
    the shortest round-tripping decimal for each float64, so DuckDB parses
    back the *identical* IEEE value Spark uses as a literal — the LSH
    bucket assignment is therefore reproducible bit-for-bit in SQL."""
    planes = SIM._hyperplanes(dim, n_bits, n_tables, seed)
    rows = [
        f"({t}, {i}, [{', '.join(repr(x) for x in planes[t][i])}])"
        for t in range(n_tables)
        for i in range(n_bits)
    ]
    return ",\n           ".join(rows)


# Shared cosine expression over double-cast lists (matches
# functions/vectors.cosine: double accumulation, round 4).
_COS_SQL = (
    "round(list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 4)"
)


@register(
    "similarity_lsh_topk",
    # Full value-level oracle: the hyperplanes are seeded literals, so the
    # bucket assignment (sign bits of dot products), the bucket-equi
    # candidate join, and the exact re-scoring are all reproducible in SQL.
    oracle=f"""
    WITH planes(table_id, bit, plane) AS (
        VALUES {_planes_values_sql(64, 6, 4)}
    ),
    corpus AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    buckets AS (
        SELECT c.vec_id, p.table_id,
               CAST(sum(CASE WHEN list_dot_product(c.v, p.plane) > 0
                             THEN 1 << p.bit ELSE 0 END) AS INT) AS bucket
        FROM corpus c CROSS JOIN planes p
        GROUP BY c.vec_id, p.table_id
    ),
    cand AS (
        SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS vec_id
        FROM buckets qb
        JOIN buckets cb ON qb.table_id = cb.table_id AND qb.bucket = cb.bucket
        WHERE qb.vec_id IN (0, 1, 2)
    ),
    scored AS (
        SELECT cand.query_id, cand.vec_id,
               {_COS_SQL.format(a="cv.v", b="qv.v")} AS cos_sim
        FROM cand
        JOIN corpus cv ON cv.vec_id = cand.vec_id
        JOIN corpus qv ON qv.vec_id = cand.query_id
    )
    SELECT query_id, vec_id, cos_sim, rank FROM (
        SELECT query_id, vec_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, vec_id) AS rank
        FROM scored
    )
    WHERE rank <= 5 AND query_id <> vec_id
    """,
)
def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k for the same 3 probes — the scale
    path. The seeded hyperplanes are inlined into the DuckDB oracle, so
    candidate generation AND re-scoring are value-checked; recall vs
    brute force is additionally asserted in pytest."""
    emb = load_table(spark, "embeddings", sf_dir)
    probes = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    return SIM.lsh_topk(emb, probes, dim=64, k=5, n_bits=6, n_tables=4).filter(
        F.col("query_id") != F.col("vec_id")
    )


@register(
    "similarity_ivf_topk",
    oracle=ANN_REPLAY.ivf_replay_sql(
        n_centroids=8, dim=64, iters=2, seed=42,
        probe_ids=(0, 1, 2), n_probe=4, k=5,
    ),
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k for the same 3 probes — the second scale
    path beside LSH: a k-means coarse quantizer (DataFrame Lloyd
    iterations) partitions the corpus; each probe scans only its
    n_probe nearest cells. The query trains the quantizer and assigns
    the corpus to cells (the index build), then ranks the probe cells
    and scans only those. The oracle REPLAYS training —
    md5 init + 2 integer-quantized Lloyd steps — plus assignment,
    probe-cell ranking, and the exact re-score as a DuckDB CTE chain
    (queries/ann_replay.py); recall vs brute force is additionally
    asserted in pytest."""
    emb = load_table(spark, "embeddings", sf_dir)
    cents, assigned = _ivf_index(spark, sf_dir)
    probes = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    return SIM.ivf_topk_indexed(
        assigned, probes, k=5, n_probe=4, centroids=cents,
        scorer="codegen",
    ).filter(F.col("query_id") != F.col("vec_id"))


@register(
    "embedding_near_dup",
    oracle=f"""
    WITH planes(table_id, bit, plane) AS (
        VALUES {_planes_values_sql(64, 4, 8)}
    ),
    corpus AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    buckets AS (
        SELECT c.vec_id, p.table_id,
               CAST(sum(CASE WHEN list_dot_product(c.v, p.plane) > 0
                             THEN 1 << p.bit ELSE 0 END) AS INT) AS bucket
        FROM corpus c CROSS JOIN planes p
        GROUP BY c.vec_id, p.table_id
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM buckets a
        JOIN buckets b ON a.table_id = b.table_id AND a.bucket = b.bucket
        WHERE a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, cos_sim FROM (
        SELECT cand.vec_a, cand.vec_b,
               {_COS_SQL.format(a="va.v", b="vb.v")} AS cos_sim
        FROM cand
        JOIN corpus va ON va.vec_id = cand.vec_a
        JOIN corpus vb ON vb.vec_id = cand.vec_b
    )
    WHERE cos_sim >= 0.35
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.35, the same
    cutoff as the oracle-checked exact baseline) via LSH self-join.
    The seeded hyperplanes are inlined into the DuckDB oracle (as in
    similarity_lsh_topk) so the bucketed self-join is value-checked;
    pytest additionally validates recall against the brute-force pass.
    4 bits × 8 tables targets ~70% collision recall at cos 0.35; at
    larger corpora raise n_bits so buckets stay small (recall is
    recovered by adding tables, not widening buckets)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return SIM.embedding_near_dup_pairs(emb, threshold=0.35, n_bits=4, n_tables=8)


@register(
    "text_token_bpe_count",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS INT)
               AS n_bpe_tokens,
           CAST(len(string_split(trim(text), ' ')) AS INT) AS n_ws_tokens
    FROM documents
    """,
)
def text_token_bpe_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, both flavors the pipeline needs: whitespace and
    BPE-ish regex (alnum runs + individual punctuation)."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        TX.bpe_ish_token_count("text").alias("n_bpe_tokens"),
        TX.token_count("text").alias("n_ws_tokens"),
    )


@register(
    "text_rolling_hash",
    oracle="""
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
               (a, b) -> (a * 31 + b) % 2147483647) AS rhash
    FROM documents
    """,
)
def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive Karp-Rabin document fingerprint (rolling hash) —
    bit-identical across engines, complements the md5 set fingerprint."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.select("doc_id", TX.rolling_hash("text").alias("rhash"))


_LANG_SCORE_SQL = {
    "de": "['der','die','das','und','ist','nicht','ein','zu','mit','auf']",
    "en": _SW_SQL,
    "es": "['el','la','los','las','y','es','un','una','que','por']",
    "fr": "['le','la','les','et','est','un','une','que','pour','dans']",
    "zh": "['的','是','了','在','和','有','我','不','这','他']",
}
_SCORES = ", ".join(
    f"CAST(len(list_filter({_TOKENS_SQL}, t -> list_contains({lst}, lower(t)))) AS DOUBLE)"
    f" / len({_TOKENS_SQL}) AS s_{lang}"
    for lang, lst in _LANG_SCORE_SQL.items()
)


@register(
    "lang_id_multiclass",
    oracle=f"""
    WITH s AS (SELECT doc_id, lang, {_SCORES} FROM documents),
    m AS (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS mx FROM s)
    SELECT doc_id, lang,
           CASE WHEN mx < 0.04 THEN 'other'
                WHEN s_de = mx THEN 'de'
                WHEN s_en = mx THEN 'en'
                WHEN s_es = mx THEN 'es'
                WHEN s_fr = mx THEN 'fr'
                ELSE 'zh' END AS lang_pred
    FROM m
    """,
)
def lang_id_multiclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-class language ID: argmax of per-language stopword coverage
    over {de,en,es,fr,zh}, 'other' below threshold — deterministic
    first-in-sorted-order tie-break, matching the oracle's CASE order."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id", "lang", TX.lang_id_multi("text").alias("lang_pred")
    )


_PV_WORDS = 10  # passage width (dedup_passage_exact convention)
_TOKENS_SPARK = "split(trim(text), ' ')"
_PV_SCORES = ", ".join(
    f"CAST(len(list_filter(pt, t -> list_contains({lst}, lower(t))))"
    f" AS DOUBLE) / len(pt) AS s_{lang}"
    for lang, lst in _LANG_SCORE_SQL.items()
)


@register(
    "lang_id_passage_vote",
    oracle=f"""
    WITH w AS (SELECT doc_id, lang, {_TOKENS_SQL} AS words FROM documents),
    p AS (
        SELECT doc_id, lang,
               words[(i*{_PV_WORDS}+1):((i+1)*{_PV_WORDS})] AS pt
        FROM w, LATERAL (
            SELECT unnest(range(0,
                CAST(ceil(len(words) / {_PV_WORDS}.0) AS BIGINT))) AS i)
    ),
    s AS (SELECT doc_id, lang, {_PV_SCORES} FROM p),
    m AS (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS mx FROM s),
    pred AS (
        SELECT doc_id, lang,
               CASE WHEN mx < 0.04 THEN 'other'
                    WHEN s_de = mx THEN 'de'
                    WHEN s_en = mx THEN 'en'
                    WHEN s_es = mx THEN 'es'
                    WHEN s_fr = mx THEN 'fr'
                    ELSE 'zh' END AS lp
        FROM m
    ),
    cnt AS (
        SELECT doc_id, lang, lp, count(*) AS c
        FROM pred GROUP BY doc_id, lang, lp
    ),
    rk AS (
        SELECT doc_id, lang, lp, c,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY c DESC, lp) AS rn,
               sum(c) OVER (PARTITION BY doc_id) AS np
        FROM cnt
    )
    SELECT doc_id, lang, lp AS lang_vote,
           CAST(np AS BIGINT) AS n_passages,
           CAST(c AS BIGINT) AS n_votes
    FROM rk WHERE rn = 1
    """,
)
def lang_id_passage_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-passage language ID with document majority vote:
    chunk each document into {w}-word passages (real corpora split on
    lines; the soup corpus chunks fixed-width), run the multiclass
    stopword-coverage argmax on EACH passage, and label the document by
    the modal passage prediction — the structure that keeps one English
    boilerplate header from flipping a whole German page, and that
    yields the passage-purity signal (n_votes/n_passages) mixed-language
    filters threshold on.

    Scale shape: one explode (~L/{w} rows per doc), pure-map per-passage
    scoring (the let-bound argmax from `lang_id_multiclass` — each
    language's coverage filter evaluates once per passage), then ONE
    doc-keyed agg and a doc-partitioned rank window over ≤|langs|+1 rows
    per doc. No joins, no global windows; the vote tie-breaks (count
    desc, then language code) so it is engine-exact.""".replace(
        "{w}", str(_PV_WORDS)
    )
    docs = load_table(spark, "documents", sf_dir)
    w = docs.select("doc_id", "lang", F.expr(_TOKENS_SPARK).alias("words"))
    passages = w.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(words) / "
                f"{_PV_WORDS}.0) as int) - 1),"
                f" i -> concat_ws(' ', slice(words, i*{_PV_WORDS}+1,"
                f" {_PV_WORDS})))"
            )
        ).alias("passage"),
    )
    pred = passages.select(
        "doc_id", "lang", TX.lang_id_multi("passage").alias("lp")
    )
    cnt = pred.groupBy("doc_id", "lang", "lp").agg(F.count("*").alias("c"))
    dw = Window.partitionBy("doc_id")
    rk = cnt.select(
        "doc_id",
        "lang",
        "lp",
        "c",
        F.row_number()
        .over(dw.orderBy(F.col("c").desc(), "lp"))
        .alias("rn"),
        F.sum("c").over(dw).alias("np"),
    )
    return rk.filter(F.col("rn") == 1).select(
        "doc_id",
        "lang",
        F.col("lp").alias("lang_vote"),
        F.col("np").cast("bigint").alias("n_passages"),
        F.col("c").cast("bigint").alias("n_votes"),
    )


@register(
    "embedding_near_dup_exact",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(
             list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                              list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
             / (sqrt(list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                                      list_transform(a.embedding, x -> CAST(x AS DOUBLE))))
                * sqrt(list_dot_product(list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
                                        list_transform(b.embedding, x -> CAST(x AS DOUBLE))))),
             4) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                           list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
          / (sqrt(list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                                   list_transform(a.embedding, x -> CAST(x AS DOUBLE))))
             * sqrt(list_dot_product(list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
                                     list_transform(b.embedding, x -> CAST(x AS DOUBLE)))))
          >= 0.35
    """,
)
def embedding_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (cos ≥ 0.35) — the
    correctness baseline the LSH variant (embedding_near_dup) is measured
    against. O(n²) by construction, but executed as blocked numpy GEMMs
    over a B²/2 block-pair cogroup (operators/similarity.py:
    exact_near_dup_pairs_blocked) instead of per-pair interpreted
    expressions — ~30× at sf0.1 and every block stays executor-sized.
    At 100 TB only the LSH path runs."""
    emb = load_table(spark, "embeddings", sf_dir)
    return SIM.exact_near_dup_pairs_blocked(emb, threshold=0.35, n_blocks=8)


# Connected-components fixpoint as a recursive CTE — shared by the
# dedup_clusters oracle and the dedup_fuzzy_apply oracle below.
_CC_CTES = """
    toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
    sh AS (SELECT doc_id,
                  list_distinct([array_to_string(t[i:i+2], ' ')
                                 for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS ss
           FROM toks),
    -- inverted-index candidate generation (shingle equi-join), not the
    -- O(n²) list_intersect cross pair scan: |A∩B| = matching-shingle
    -- count, |A∪B| = |A|+|B|−|A∩B| (ss is list_distinct), so the
    -- Jaccard value is bit-identical to the naive formulation while
    -- the oracle stays hash-joined at any SF.
    sh_e AS (SELECT doc_id, unnest(ss) AS s FROM sh),
    sizes AS (SELECT doc_id, len(ss) AS n FROM sh),
    cand AS (
        SELECT a.doc_id AS src, b.doc_id AS dst,
               CAST(count(*) AS BIGINT) AS inter
        FROM sh_e a JOIN sh_e b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT c.src, c.dst
        FROM cand c
        JOIN sizes sa ON sa.doc_id = c.src
        JOIN sizes sb ON sb.doc_id = c.dst
        WHERE CAST(c.inter AS DOUBLE) / (sa.n + sb.n - c.inter) >= 0.5
    ),
    edges AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
    reach(node, label) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node AS doc_id, min(label) AS cluster_id
             FROM reach GROUP BY node)
"""


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE
    {_CC_CTES}
    SELECT d.doc_id,
           coalesce(c.cluster_id, d.doc_id) AS cluster_id,
           (coalesce(c.cluster_id, d.doc_id) = d.doc_id) AS is_canonical
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    """,
)
def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See _cluster_index for the shared computation."""
    return _cluster_index(spark, sf_dir)


def _cluster_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: Jaccard pairs → iterative connected
    components (min-label propagation) → (doc_id, cluster_id,
    is_canonical). The Spark side iterates distributed join+agg rounds
    (driver sees only a convergence counter); the oracle states the
    same fixpoint as a recursive CTE (min label reachable = component
    min), upgrading this from a rows-only check to full value parity.
    Also validated against an in-test union-find
    (tests/test_scale_operators.py::TestDedupClusters).

    The cluster assignment is an INDEX, like the IVF/PQ ones
    (_ivf_index/_pq_index): dedup_clusters inspects it, and
    dedup_fuzzy_apply, dedup_cluster_purity and
    corpus_curation_pipeline apply it. Each query builds it; the
    result is pinned, so the Jaccard candidate generation and the CC
    fixpoint run once per query and release_pinned() frees them."""
    docs = load_table(spark, "documents", sf_dir)
    return pin(DD.dedup_clusters(docs))


@register(
    "dedup_fuzzy_apply",
    oracle=f"""
    WITH RECURSIVE
    {_CC_CTES},
    cl AS (
        SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ),
    qual AS (
        SELECT doc_id,
               round(0.4 * least(CAST(len({_TOKENS_SQL}) AS DOUBLE) / 64.0, 1.0)
                     + 0.4 * least(CAST(len(list_filter({_TOKENS_SQL},
                           t -> list_contains({_SW_SQL}, lower(t)))) AS DOUBLE)
                           / len({_TOKENS_SQL}) * 4.0, 1.0)
                     + 0.2 * (CASE WHEN CAST(list_sum(list_transform(
                           {_TOKENS_SQL}, t -> length(t))) AS DOUBLE)
                           / len({_TOKENS_SQL}) BETWEEN 2.0 AND 12.0
                           THEN 1.0 ELSE 0.0 END), 4) AS quality
        FROM documents
    ),
    ranked AS (
        SELECT cl.cluster_id, cl.doc_id, q.quality,
               row_number() OVER (
                   PARTITION BY cl.cluster_id
                   ORDER BY q.quality DESC, cl.doc_id) AS rk
        FROM cl JOIN qual q ON cl.doc_id = q.doc_id
    )
    SELECT cluster_id,
           CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT)
               AS kept_doc_id,
           max(CASE WHEN rk = 1 THEN quality END) AS kept_quality,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(CASE WHEN rk > 1 THEN doc_id ELSE 0 END) AS BIGINT)
               AS removed_checksum
    FROM ranked
    GROUP BY cluster_id
    """,
)
def dedup_fuzzy_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY half of fuzzy dedup — the end-to-end pass a corpus
    owner actually runs: near-dup clusters (Jaccard pairs → iterative
    connected components, `dedup_clusters`) reduced to ONE kept
    document per cluster, chosen by quality score (argmax, doc_id
    tie-break) rather than arbitrary canonical-min — the keep-best
    policy of `dedup_keep_best` lifted from exact-hash groups to fuzzy
    clusters. Emits the per-cluster audit: kept doc + its quality,
    member count, and a checksum over the REMOVED id set so the oracle
    verifies which documents were dropped, not just how many.

    Scale shape: quality is a map-stage expression; membership joins
    doc-keyed; the keep choice is one cluster-keyed window whose
    exchange the audit agg reuses. Cluster count ≈ doc count (mostly
    singletons), so no skew beyond the CC iteration itself — at 100 TB
    the cost is dominated by the pair generation inside
    `dedup_clusters`, which is the banded/capped candidate pipeline,
    not this reduction."""
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    clusters = _cluster_index(spark, sf_dir).select("doc_id", "cluster_id")
    qual = docs.select("doc_id", TX.quality_score("text").alias("quality"))
    m = clusters.join(qual, "doc_id")
    ranked = m.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("cluster_id").orderBy(
                F.desc("quality"), F.asc("doc_id")
            )
        ),
    )
    return ranked.groupBy("cluster_id").agg(
        F.max(F.when(F.col("rk") == 1, F.col("doc_id")))
        .cast("bigint").alias("kept_doc_id"),
        F.max(F.when(F.col("rk") == 1, F.col("quality")))
        .alias("kept_quality"),
        F.count("*").cast("bigint").alias("n_members"),
        F.sum(F.when(F.col("rk") > 1, F.col("doc_id")).otherwise(F.lit(0)))
        .cast("bigint").alias("removed_checksum"),
    )


@register(
    "sample_stratified_documents",
    oracle="""
    SELECT doc_id, lang
    FROM (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    )
    WHERE rn <= 25
    """,
)
def sample_stratified_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: 25 uniformly-drawn docs per
    language via md5-hash order (operators/sampling.py) — reproducible
    across runs, retries, and engines (rand() is none of those), which
    is what dataset-curation quotas need. One group-key shuffle."""
    from rust_cdc_spark.operators.sampling import stratified_sample

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "lang")
    return stratified_sample(docs, ["lang"], 25, "doc_id")


@register(
    "sample_bernoulli_documents",
    oracle="""
    SELECT doc_id, n_chars
    FROM documents
    WHERE md5(CAST(doc_id AS VARCHAR)) < '1999999999999a000000000000000000'
    """,
)
def sample_bernoulli_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% Bernoulli sample, map-only (no shuffle): keep
    rows whose id-digest sorts below the 10% hex threshold — a plain
    string comparison, bit-identical in every engine."""
    from rust_cdc_spark.operators.sampling import bernoulli_sample

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "n_chars")
    return bernoulli_sample(docs, 0.1, "doc_id")


@register(
    "corpus_profile",
    oracle="""
    SELECT lang, source,
           count(*) AS n_docs,
           CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS total_tokens,
           round(avg(CAST(n_chars AS DOUBLE)), 2) AS avg_chars,
           CAST(count(*) - count(DISTINCT
                md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS BIGINT)
               AS n_dup_docs
    FROM documents
    GROUP BY lang, source
    """,
)
def corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card profile per (lang, source) stratum: doc count, total
    tokens, mean length, and exact-duplicate count (docs minus distinct
    canonical fingerprints). One grouped aggregate with a two-phase
    distinct — the whole corpus profile in a single pass whatever the
    corpus size."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(TX.token_count("text")).cast("bigint").alias("total_tokens"),
            F.round(F.avg(F.col("n_chars").cast("double")), 2).alias("avg_chars"),
            (F.count("*") - F.countDistinct(TX.fingerprint("text")))
            .cast("bigint")
            .alias("n_dup_docs"),
        )
    )


@register(
    "sample_weighted_documents",
    # A-ES weighted sampling with an EXACT md5-derived uniform: the
    # first 12 hex digits fold to u = (X+1)/16^12 via dyadic terms
    # (digit / 2^(4i), divisors by bit shift — never libm pow), so u is
    # bit-identical cross-engine; the ranking key is quantized to
    # integer picounits before the top-k.
    oracle="""
    WITH h AS (
        SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS hh
        FROM documents
    ),
    u AS (
        SELECT doc_id, n_chars,
               list_sum(list_transform(range(1, 13), i ->
                   (strpos('0123456789abcdef', substr(hh, i, 1)) - 1)
                   / CAST(1::BIGINT << (4 * i) AS DOUBLE)))
               + 1.0 / CAST(1::BIGINT << 48 AS DOUBLE) AS uu
        FROM h
    )
    SELECT doc_id, n_chars,
           CAST(round(-ln(uu) / n_chars * 1e12) AS BIGINT) AS es_key
    FROM u
    ORDER BY es_key, doc_id
    LIMIT 50
    """,
)
def sample_weighted_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample (Efraimidis–Spirakis) of 50 docs
    with inclusion probability ∝ n_chars — token-budget-proportional
    sampling, the draw a mixture pipeline uses when it wants a sample
    uniform over TOKENS rather than documents. Engine-stable: the
    uniform is exactly representable, the key an integer
    (operators/sampling.md5_uniform / weighted_sample)."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "n_chars")
    return SAMP.weighted_sample(docs, "n_chars", 50, "doc_id")


def _ivf_index(spark: SparkSession, sf_dir: str):
    """(centroids, pinned cid-assigned corpus) — the IVF index of the
    embeddings table (see similarity_ivf_topk)."""
    emb = load_table(spark, "embeddings", sf_dir)
    cents = SIM.kmeans_centroids(emb, 8, 64, iters=2, seed=42, scorer="codegen")
    assigned = emb.select(
        F.col("vec_id"),
        F.col("embedding").alias("cv"),
        SIM.nearest_cell_col("embedding", cents, scorer="codegen").alias("cid"),
    )
    return cents, pin(assigned)


def _pq_index(spark: SparkSession, sf_dir: str):
    """(codebooks, pinned PQ code table) — the PQ index of the
    embeddings table (see similarity_pq_rerank_topk)."""
    from rust_cdc_spark.operators import pq as PQ

    emb = load_table(spark, "embeddings", sf_dir)
    cb = PQ.train_pq(emb, m=16, k=16, dim=64, iters=3)
    return cb, pin(PQ.encode_pq(emb, cb))


@register(
    "similarity_pq_rerank_topk",
    oracle=ANN_REPLAY.pq_replay_sql(
        m=16, k=16, dim=64, iters=3, seed=42,
        probe_id=0, pool_min=64, pool_frac=5, topk=10,
    ),
)
def similarity_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ's storage half (operators/pq.py): 16×-compressed PQ codes
    (m=16 subspaces × 16 codes = 16 bytes vs 256), an asymmetric-
    distance codegen scan over the CODE table for a candidate pool, and
    an exact rerank of only the pool — the two-stage shape every
    billion-vector deployment uses, because at 100 TB the raw vectors
    are the IO bill and the code table is 16× smaller. The oracle
    REPLAYS the whole pipeline — md5 init, 3 integer-quantized Lloyd
    steps, encoding, the integer-micro ADC pool, the exact rerank — as
    an unrolled DuckDB CTE chain (queries/ann_replay.py), so training
    itself is value-checked, not just the scan; recall and compression
    are additionally pytest-gated (tests/test_pq.py)."""
    from rust_cdc_spark.operators import pq as PQ

    emb = load_table(spark, "embeddings", sf_dir)
    n = emb.count()
    cb, codes = _pq_index(spark, sf_dir)
    probe_row = emb.filter(F.col("vec_id") == 0).first()
    # empty table → no probe vector: a zero probe keeps the scoring
    # expressions typed and the empty scan yields zero rows
    probe = ([float(x) for x in probe_row.embedding]
             if probe_row else [0.0] * 64)
    pool = PQ.pq_topk(codes, cb, probe, k=max(64, n // 5))
    probe_lit = V.lit_doubles(probe)
    reranked = (
        pool.join(emb, "vec_id")
        .select(
            "vec_id",
            V.l2_distance(F.col("embedding"), probe_lit).alias("dist"),
        )
        .orderBy(F.col("dist").asc(), "vec_id")
        .limit(10)
    )
    # integer micro output: rounding a bit-identical double to an
    # integer is engine-safe; round(x, 6) is not (see ann_replay.py)
    return reranked.select(
        "vec_id",
        F.round(F.col("dist") * F.lit(1e6)).cast("bigint")
        .alias("dist_micro"),
    )


@register(
    "similarity_ivfpq_topk",
    oracle=ANN_REPLAY.ivfpq_replay_sql(
        n_centroids=8, m=16, k_codes=16, dim=64,
        ivf_iters=2, pq_iters=3, seed=42,
        probe_id=0, n_probe=4, pool_k=64, topk=10,
    ),
)
def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete IVF-PQ path (operators/pq.build_ivf_pq_index +
    ivf_pq_topk): the coarse quantizer prunes to the probe's n_probe
    nearest cells, the ADC lookup-table scan runs over only those
    cells' 16-byte CODE rows, and the exact rerank touches only the
    pool — the layout and query shape every billion-vector deployment
    uses, where a query's IO is corpus · n_probe/n_cells CODE bytes,
    never raw vectors. Builds both indexes (the IVF cell assignment
    and the PQ code table) in the query. The oracle replays BOTH
    trainings plus the probed-cell scan as one DuckDB CTE chain —
    the full two-quantizer pipeline is value-checked end to end."""
    from rust_cdc_spark.operators import pq as PQ

    emb = load_table(spark, "embeddings", sf_dir)
    cents, assigned = _ivf_index(spark, sf_dir)
    cb, codes = _pq_index(spark, sf_dir)
    index = assigned.select("vec_id", "cid").join(codes, "vec_id")
    probe_row = emb.filter(F.col("vec_id") == 0).first()
    # empty table → no probe vector: a zero probe keeps the scoring
    # expressions typed and the empty scan yields zero rows
    probe = ([float(x) for x in probe_row.embedding]
             if probe_row else [0.0] * 64)
    pool = PQ.ivf_pq_topk(index, cents, cb, probe, n_probe=4, k=64)
    probe_lit = V.lit_doubles(probe)
    reranked = (
        pool.select("vec_id").join(emb, "vec_id")
        .select(
            "vec_id",
            V.l2_distance(F.col("embedding"), probe_lit).alias("dist"),
        )
        .orderBy(F.col("dist").asc(), "vec_id")
        .limit(10)
    )
    return reranked.select(
        "vec_id",
        F.round(F.col("dist") * F.lit(1e6)).cast("bigint")
        .alias("dist_micro"),
    )


@register(
    "dedup_lsh_recall_eval",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+2], ' ')
                              for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS ss
        FROM toks
    ),
    -- exact-truth pairs via the shingle equi-join (inclusion-exclusion
    -- Jaccard — same values as the naive pairwise scan, hash-joined)
    jc_sh_e AS (SELECT doc_id, unnest(ss) AS s FROM sh),
    jc_sizes AS (SELECT doc_id, len(ss) AS n FROM sh),
    jc_cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS inter
        FROM jc_sh_e a JOIN jc_sh_e b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT c.doc_a, c.doc_b
        FROM jc_cand c
        JOIN jc_sizes sa ON sa.doc_id = c.doc_a
        JOIN jc_sizes sb ON sb.doc_id = c.doc_b
        WHERE CAST(c.inter AS DOUBLE) / (sa.n + sb.n - c.inter) >= 0.5
    ),
    hsx AS (SELECT doc_id, {DD.MINHASH_HS_SQL} AS hs FROM sh),
    sig AS (
        SELECT doc_id, {DD.minhash_sig_sql(16)} AS sg
        FROM hsx
    ),
    banded AS (
        SELECT doc_id, r.b AS band_id,
               md5(sg[4*r.b+1] || '|' || sg[4*r.b+2] || '|'
                   || sg[4*r.b+3] || '|' || sg[4*r.b+4]) AS band_hash
        FROM sig, range(0, 4) r(b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a
        JOIN banded b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
                      AND a.doc_id < b.doc_id
    ),
    j AS (
        SELECT t.doc_a IS NOT NULL AS is_truth,
               c.doc_a IS NOT NULL AS is_cand,
               COALESCE(t.doc_a, c.doc_a) AS doc_a,
               COALESCE(t.doc_b, c.doc_b) AS doc_b
        FROM truth t FULL OUTER JOIN cand c
          ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    )
    SELECT CAST(count(*) FILTER (WHERE is_truth) AS BIGINT) AS n_truth,
           CAST(count(*) FILTER (WHERE is_cand) AS BIGINT) AS n_candidates,
           CAST(count(*) FILTER (WHERE is_truth AND is_cand) AS BIGINT)
               AS n_found,
           CAST(count(*) FILTER (WHERE is_truth AND NOT is_cand) AS BIGINT)
               AS n_missed,
           CAST(CASE WHEN count(*) FILTER (WHERE is_truth) = 0 THEN 1000000
                ELSE (1000000 * count(*) FILTER (WHERE is_truth AND is_cand))
                     // count(*) FILTER (WHERE is_truth) END AS BIGINT)
               AS recall_micro,
           CAST(COALESCE(sum(doc_a + doc_b)
                FILTER (WHERE is_truth AND NOT is_cand), 0) AS BIGINT)
               AS missed_checksum
    FROM j
    """,
)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-operator QA as a first-class query: score the
    MinHash-LSH candidate generator against exact 3-gram-Jaccard
    ground truth (threshold 0.5) and report recall in integer
    micro-units plus a checksum over the MISSED pair set — the audit a
    pipeline owner runs before trusting the linear-time dedup path at
    full scale, kept oracle-checkable end-to-end (both the truth side
    and the md5-seeded LSH side replay bit-identically in DuckDB).

    Scale shape: truth pairs come from the df-capped inverted-index
    join (never O(n²)); candidates from banded LSH; both sides are
    pair-keyed tables joined full-outer on the pair key and reduced to
    ONE summary row. In production this runs on a sampled slice (the
    exact side is the expensive one — that's the point of measuring
    its approximation)."""
    docs = load_table(spark, "documents", sf_dir)
    # One canonical-rep collapse shared by BOTH pair generators: the
    # truth and candidate sides run over the same corpus, and without
    # sharing each re-derived reps/members from the scan (r9 plan
    # audit; the members diamond itself is checkpoint-shared inside
    # _canonical_reps). r10 additionally TRIED sharing one stage
    # deeper (one pinned shingle_sets projection over the reps fed to
    # both generators, VERDICT r9 #5): paired A-B at sf0.1 measured it
    # NEUTRAL (the checkpoint write of the shingle string arrays costs
    # what the second tokenize+shingle map saves), and at 100 TB the
    # pin is ~3x corpus bytes of executor storage — a scale hazard,
    # unlike the 40 B/doc members checkpoint. Reverted; the two sides
    # share reps/members only. No cheaper shared stage exists: the
    # truth side consumes xxhash64(shingle) and the candidate side
    # md5(shingle), which the oracles pin.
    rm = DD._canonical_reps(docs, "text", "doc_id", None)
    truth = DD.jaccard_pairs(
        docs, threshold=0.5, df_cap=10_000, reps_members=rm
    ).select("doc_a", "doc_b", F.lit(True).alias("is_truth"))
    cand = DD.minhash_lsh_pairs(
        docs, num_hashes=16, bands=4, reps_members=rm
    ).select("doc_a", "doc_b", F.lit(True).alias("is_cand"))
    return _recall_summary(truth, cand)


def _recall_summary(truth, cand):
    """Shared recall scorecard: full-outer join the pair-keyed truth
    and candidate sets, reduce to one row of counts + recall_micro +
    missed-pair checksum (used by the LSH and SimHash recall evals)."""
    j = truth.join(cand, ["doc_a", "doc_b"], "full_outer")
    is_truth = F.col("is_truth").isNotNull()
    is_cand = F.col("is_cand").isNotNull()
    return j.agg(
        F.count(F.when(is_truth, 1)).cast("bigint").alias("n_truth"),
        F.count(F.when(is_cand, 1)).cast("bigint").alias("n_candidates"),
        F.count(F.when(is_truth & is_cand, 1)).cast("bigint")
        .alias("n_found"),
        F.count(F.when(is_truth & ~is_cand, 1)).cast("bigint")
        .alias("n_missed"),
        F.expr(
            "cast(case when count(case when is_truth is not null then 1 end) = 0"
            " then 1000000 else (1000000 *"
            " count(case when is_truth is not null and is_cand is not null"
            " then 1 end))"
            " div count(case when is_truth is not null then 1 end) end"
            " as bigint)"
        ).alias("recall_micro"),
        F.coalesce(
            F.sum(F.when(is_truth & ~is_cand, F.col("doc_a") + F.col("doc_b"))),
            F.lit(0),
        ).cast("bigint").alias("missed_checksum"),
    )


@register(
    "dedup_simhash_recall_eval",
    # Truth side = the exact-Jaccard CTEs of dedup_lsh_recall_eval;
    # candidate side = the oracle-checked md5 SimHash fingerprint +
    # pigeonhole banding of dedup_simhash_pairs; same one-row scorecard.
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+2], ' ')
                              for i in range(1, greatest(len(t) - 2, 1) + 1)]) AS ss
        FROM toks
    ),
    jc_sh_e AS (SELECT doc_id, unnest(ss) AS s FROM sh),
    jc_sizes AS (SELECT doc_id, len(ss) AS n FROM sh),
    jc_cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS inter
        FROM jc_sh_e a JOIN jc_sh_e b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT c.doc_a, c.doc_b
        FROM jc_cand c
        JOIN jc_sizes sa ON sa.doc_id = c.doc_a
        JOIN jc_sizes sb ON sb.doc_id = c.doc_b
        WHERE CAST(c.inter AS DOUBLE) / (sa.n + sb.n - c.inter) >= 0.5
    ),
    {_SIMHASH_FP_CTE.strip().lstrip()},
    banded AS (
        SELECT doc_id, simhash, b AS band_id,
               (simhash >> (b * 8)) & 255 AS chunk
        FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a
        JOIN banded b ON a.band_id = b.band_id AND a.chunk = b.chunk
        WHERE a.doc_id < b.doc_id
          AND bit_count(xor(a.simhash, b.simhash)) <= 3
    ),
    j AS (
        SELECT t.doc_a IS NOT NULL AS is_truth,
               c.doc_a IS NOT NULL AS is_cand,
               COALESCE(t.doc_a, c.doc_a) AS doc_a,
               COALESCE(t.doc_b, c.doc_b) AS doc_b
        FROM truth t FULL OUTER JOIN cand c
          ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    )
    SELECT CAST(count(*) FILTER (WHERE is_truth) AS BIGINT) AS n_truth,
           CAST(count(*) FILTER (WHERE is_cand) AS BIGINT) AS n_candidates,
           CAST(count(*) FILTER (WHERE is_truth AND is_cand) AS BIGINT)
               AS n_found,
           CAST(count(*) FILTER (WHERE is_truth AND NOT is_cand) AS BIGINT)
               AS n_missed,
           CAST(CASE WHEN count(*) FILTER (WHERE is_truth) = 0 THEN 1000000
                ELSE (1000000 * count(*) FILTER (WHERE is_truth AND is_cand))
                     // count(*) FILTER (WHERE is_truth) END AS BIGINT)
               AS recall_micro,
           CAST(COALESCE(sum(doc_a + doc_b)
                FILTER (WHERE is_truth AND NOT is_cand), 0) AS BIGINT)
               AS missed_checksum
    FROM j
    """,
)
def dedup_simhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-banding QA, the twin of dedup_lsh_recall_eval: how much
    of the exact 3-gram-Jaccard ≥ 0.5 truth does the 32-bit
    hamming ≤ 3 pigeonhole path recover? SimHash measures a DIFFERENT
    notion of similarity (token-multiset bit votes, not shingle sets),
    so its recall against Jaccard truth is precisely what a pipeline
    owner must check before choosing the cheaper fingerprint path over
    MinHash-LSH at full scale. Same one-row scorecard + missed-pair
    checksum, fully DuckDB-replayable (md5 fingerprints both sides).

    Scale shape: truth from the df-capped inverted-index join;
    candidates from 4×8-bit pigeonhole banding (linear in band-bucket
    co-occupancy); one full-outer pair join reduced to a single row."""
    docs = load_table(spark, "documents", sf_dir)
    truth = DD.jaccard_pairs(docs, threshold=0.5, df_cap=10_000).select(
        "doc_a", "doc_b", F.lit(True).alias("is_truth")
    )
    cand = DD.simhash_near_pairs(docs, use_md5=True).select(
        "doc_a", "doc_b", F.lit(True).alias("is_cand")
    )
    return _recall_summary(truth, cand)


# nDCG term table: round(rel / log2(pos+1) · 1e6), rel 1..10, pos 1..10,
# PRECOMPUTED on the driver and inlined as literals in BOTH engines —
# log2 is not guaranteed correctly-rounded in either libm, so no log is
# ever evaluated engine-side; the whole metric is exact integers.
_NDCG_K = 10
_NDCG_TERMS = [
    [
        int(round(rel / math.log2(pos + 1) * 1e6))
        for pos in range(1, _NDCG_K + 1)
    ]
    for rel in range(1, _NDCG_K + 1)
]
_NDCG_IDCG = sum(_NDCG_TERMS[_NDCG_K - t][t - 1] for t in range(1, _NDCG_K + 1))
_NDCG_TERMS_FLAT = [v for row in _NDCG_TERMS for v in row]
_NDCG_TERMS_SQL = "[" + ", ".join(str(v) for v in _NDCG_TERMS_FLAT) + "]"


@register(
    "similarity_lsh_ndcg_eval",
    oracle=f"""
    WITH planes(table_id, bit, plane) AS (
        VALUES {{planes}}
    ),
    corpus AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    probes AS (SELECT vec_id AS query_id, v AS qv FROM corpus
               WHERE vec_id IN (0, 1, 2)),
    truth AS (
        SELECT query_id, vec_id, CAST(11 - rnk AS BIGINT) AS rel FROM (
            SELECT p.query_id, c.vec_id,
                   row_number() OVER (
                       PARTITION BY p.query_id
                       ORDER BY {_COS_SQL.format(a="c.v", b="p.qv")} DESC,
                                c.vec_id) AS rnk
            FROM corpus c CROSS JOIN probes p
            WHERE c.vec_id != p.query_id
        ) WHERE rnk <= {_NDCG_K}
    ),
    buckets AS (
        SELECT c.vec_id, p.table_id,
               CAST(sum(CASE WHEN list_dot_product(c.v, p.plane) > 0
                             THEN 1 << p.bit ELSE 0 END) AS INT) AS bucket
        FROM corpus c CROSS JOIN planes p
        GROUP BY c.vec_id, p.table_id
    ),
    cand AS (
        SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS vec_id
        FROM buckets qb
        JOIN buckets cb ON qb.table_id = cb.table_id
                       AND qb.bucket = cb.bucket
        WHERE qb.vec_id IN (0, 1, 2) AND cb.vec_id != qb.vec_id
    ),
    approx AS (
        SELECT query_id, vec_id, pos FROM (
            SELECT cand.query_id, cand.vec_id,
                   row_number() OVER (
                       PARTITION BY cand.query_id
                       ORDER BY {_COS_SQL.format(a="cv.v", b="qv.v")} DESC,
                                cand.vec_id) AS pos
            FROM cand
            JOIN corpus cv ON cv.vec_id = cand.vec_id
            JOIN corpus qv ON qv.vec_id = cand.query_id
        ) WHERE pos <= {_NDCG_K}
    ),
    terms AS (
        SELECT a.query_id,
               CASE WHEN t.rel IS NULL THEN 0
                    ELSE {_NDCG_TERMS_SQL}[(t.rel - 1) * {_NDCG_K} + a.pos]
               END AS term,
               CASE WHEN t.rel IS NULL THEN 0 ELSE 1 END AS hit
        FROM approx a
        LEFT JOIN truth t
            ON t.query_id = a.query_id AND t.vec_id = a.vec_id
    )
    SELECT query_id,
           CAST(sum(term) AS BIGINT) AS dcg_micro,
           CAST(sum(term) * 1000000 // {_NDCG_IDCG} AS BIGINT) AS ndcg_ppm,
           CAST(sum(hit) AS BIGINT) AS hits
    FROM terms GROUP BY query_id
    """.replace("{planes}", _planes_values_sql(64, 6, 4)),
)
def similarity_lsh_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded quality evaluation of the LSH ANN path: nDCG@10 of
    hyperplane-LSH results against the exact cosine top-10 — the
    companion to `dedup_lsh_recall_eval`'s binary recall, sensitive to
    WHERE the approximation loses results (missing the #1 neighbor
    costs ~4× more than missing #10). Relevance of exact-rank-r = 11−r;
    every DCG term round(rel/log2(pos+1)·1e6) is precomputed on the
    driver and inlined as a literal array in BOTH engines, so no log()
    is ever evaluated engine-side — the metric is exact-integer and
    hash-matches (libm log2 is not correctly-rounded-guaranteed).

    Scale shape: truth = broadcast-probe scored scan + rank window
    (the brute-force baseline, probe-batch-sized); approx = the
    bucket-equi LSH join; the term join is k·|probes| rows against the
    10-row truth per probe. Evaluation cost is probe-bounded, not
    corpus-bounded."""
    emb = load_table(spark, "embeddings", sf_dir)
    probes = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    truth = SIM.brute_force_topk(
        emb, probes, k=_NDCG_K, exclude_self=True
    ).select(
        "query_id", "vec_id", (11 - F.col("rank")).cast("long").alias("rel")
    )
    # rank-after-self-exclusion == exclude from candidates then rank
    # (the oracle's shape): take k+1, drop self, re-rank the ≤k+1 rows.
    raw = SIM.lsh_topk(
        emb, probes, dim=64, k=_NDCG_K + 1, n_bits=6, n_tables=4
    ).filter(F.col("query_id") != F.col("vec_id"))
    wpos = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    approx = (
        raw.withColumn("pos", F.row_number().over(wpos))
        .filter(F.col("pos") <= _NDCG_K)
        .select("query_id", "vec_id", "pos")
    )
    terms_arr = V.lit_longs(_NDCG_TERMS_FLAT)
    # truth is k·|probes| rows — broadcast it so the term join adds no
    # exchange on the approx side.
    joined = approx.join(
        F.broadcast(truth), ["query_id", "vec_id"], "left"
    ).select(
        "query_id",
        F.when(F.col("rel").isNull(), F.lit(0).cast("long"))
        .otherwise(
            F.element_at(
                terms_arr,
                ((F.col("rel") - 1) * _NDCG_K + F.col("pos")).cast("int"),
            )
        )
        .alias("term"),
        F.when(F.col("rel").isNull(), F.lit(0)).otherwise(F.lit(1)).alias(
            "hit"
        ),
    )
    return joined.groupBy("query_id").agg(
        F.sum("term").alias("dcg_micro"),
        F.expr(f"sum(term) * 1000000 div {_NDCG_IDCG}").alias("ndcg_ppm"),
        F.sum("hit").cast("long").alias("hits"),
    )


_PREF_PAIRS_PER_SOURCE = 5


@register(
    "preference_pairs_by_source",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source,
               CAST(len({_TOKENS_SQL}) AS DOUBLE) AS tc,
               CAST(len(list_filter({_TOKENS_SQL},
                        t -> list_contains({_SW_SQL}, lower(t)))) AS DOUBLE)
                   / len({_TOKENS_SQL}) AS sw,
               CAST(list_sum(list_transform({_TOKENS_SQL},
                                            t -> length(t))) AS DOUBLE)
                   / len({_TOKENS_SQL}) AS atl
        FROM documents
    ),
    q AS (
        SELECT doc_id, source,
               round(0.4 * least(tc / 64.0, 1.0)
                     + 0.4 * least(sw * 4.0, 1.0)
                     + 0.2 * (CASE WHEN atl BETWEEN 2.0 AND 12.0
                              THEN 1.0 ELSE 0.0 END), 4) AS quality
        FROM t
    ),
    best AS (
        SELECT source, doc_id, quality,
               row_number() OVER (PARTITION BY source
                                  ORDER BY quality DESC, doc_id) AS r
        FROM q
    ),
    worst AS (
        SELECT source, doc_id, quality,
               row_number() OVER (PARTITION BY source
                                  ORDER BY quality ASC, doc_id) AS r
        FROM q
    )
    SELECT b.source, CAST(b.r AS INT) AS pair_rank,
           b.doc_id AS chosen_id, b.quality AS chosen_quality,
           w.doc_id AS rejected_id, w.quality AS rejected_quality
    FROM best b JOIN worst w ON b.source = w.source AND b.r = w.r
    WHERE b.r <= {_PREF_PAIRS_PER_SOURCE} AND b.quality > w.quality
    """,
)
def preference_pairs_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair mining: per source, pair the r-th best document
    with the r-th worst by quality score (r ≤ 5, degenerate equal-
    quality pairs dropped) — the construction behind reward-model /
    DPO training sets when no human labels exist: the quality scorer
    supplies weak preferences, and pairing WITHIN a source controls
    for style so the pair reflects quality, not provenance. The
    doc_id tie-break makes pair selection deterministic at equal
    scores.

    Scale shape: quality is a pure-map expression; both rankings are
    windows over the SAME source partitioning (one exchange,
    Catalyst reuses it across the two sorts); the pair join is
    5·|sources| rows against 5·|sources|. At 100 TB a full sort per
    source is avoided — rank ≤ 5 windows are TakeOrdered-style
    per-partition heaps after AQE."""
    docs = load_table(spark, "documents", sf_dir)
    q = docs.select(
        "doc_id", "source", TX.quality_score("text").alias("quality")
    )
    wb = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    ww = Window.partitionBy("source").orderBy(
        F.col("quality").asc(), F.col("doc_id")
    )
    best = (
        q.withColumn("r", F.row_number().over(wb))
        .filter(F.col("r") <= _PREF_PAIRS_PER_SOURCE)
        .select(
            "source",
            F.col("r").alias("pair_rank"),
            F.col("doc_id").alias("chosen_id"),
            F.col("quality").alias("chosen_quality"),
        )
    )
    worst = (
        q.withColumn("r", F.row_number().over(ww))
        .filter(F.col("r") <= _PREF_PAIRS_PER_SOURCE)
        .select(
            "source",
            F.col("r").alias("pair_rank"),
            F.col("doc_id").alias("rejected_id"),
            F.col("quality").alias("rejected_quality"),
        )
    )
    return best.join(worst, ["source", "pair_rank"]).filter(
        F.col("chosen_quality") > F.col("rejected_quality")
    )


_NEG_K = 5  # negatives per anchor
_NEG_EXCLUDE = 50  # top-N cosine neighborhood excluded from negatives


@register(
    "contrastive_negatives",
    oracle=f"""
    WITH corpus AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    probes AS (SELECT vec_id AS anchor_id, v AS qv FROM corpus
               WHERE vec_id IN (0, 1, 2)),
    ranked AS (
        SELECT p.anchor_id, c.vec_id,
               row_number() OVER (
                   PARTITION BY p.anchor_id
                   ORDER BY {_COS_SQL.format(a="c.v", b="p.qv")} DESC,
                            c.vec_id) AS rnk
        FROM corpus c CROSS JOIN probes p
        WHERE c.vec_id != p.anchor_id
    ),
    eligible AS (
        SELECT anchor_id, vec_id,
               md5(anchor_id || '|' || vec_id) AS h
        FROM ranked WHERE rnk > {_NEG_EXCLUDE}
    )
    SELECT anchor_id, vec_id AS negative_id, CAST(pick AS INT) AS pick
    FROM (
        SELECT anchor_id, vec_id,
               row_number() OVER (PARTITION BY anchor_id
                                  ORDER BY h, vec_id) AS pick
        FROM eligible
    ) WHERE pick <= {_NEG_K}
    """,
)
def contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-exclusion negative sampling for contrastive training: per
    anchor, pick {k} pseudo-random negatives from OUTSIDE its top-{n}
    cosine neighborhood — the standard guard against false negatives
    (sampling a true near-neighbor as a "negative" actively corrupts
    the embedding objective). Selection is md5-ordered, so the sample
    is uniform-ish, deterministic across engines/retries, and stable
    under partitioning; the exclusion zone reuses the brute-force
    ranking (at index scale, the ANN path supplies it).

    Scale shape: one broadcast-probe scored scan + per-anchor rank
    window (probe-batch-bounded), then an md5-keyed top-k window over
    the eligible set. Nothing is corpus-keyed except the one scored
    scan.""".replace("{k}", str(_NEG_K)).replace("{n}", str(_NEG_EXCLUDE))
    emb = load_table(spark, "embeddings", sf_dir)
    probes = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("qv")
    )
    scored = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "vec_id",
            F.round(V.cosine(F.col("embedding"), F.col("qv")), 4).alias(
                "cos_sim"
            ),
        )
    )
    wr = Window.partitionBy("anchor_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    eligible = (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") > _NEG_EXCLUDE)
        .select(
            "anchor_id",
            "vec_id",
            F.md5(
                F.concat_ws("|", F.col("anchor_id"), F.col("vec_id"))
            ).alias("h"),
        )
    )
    wp = Window.partitionBy("anchor_id").orderBy("h", "vec_id")
    return (
        eligible.withColumn("pick", F.row_number().over(wp))
        .filter(F.col("pick") <= _NEG_K)
        .select(
            "anchor_id", F.col("vec_id").alias("negative_id"), "pick"
        )
    )


@register(
    "dedup_minhash_estimate_eval",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct([
                   array_to_string(toks[i:i+2], ' ')
                   for i in range(1, greatest(len(toks) - 2, 1) + 1)
               ]) AS shingle_set
        FROM (SELECT doc_id, string_split(trim(text), ' ') AS toks
              FROM documents)
    ),
    sh_e AS (SELECT doc_id, unnest(shingle_set) AS s FROM sh),
    sizes AS (SELECT doc_id, len(shingle_set) AS n FROM sh),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS inter
        FROM sh_e a JOIN sh_e b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT c.doc_a, c.doc_b,
               round(CAST(c.inter AS DOUBLE) / (sa.n + sb.n - c.inter), 4)
                   AS jaccard
        FROM cand c
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b
        WHERE CAST(c.inter AS DOUBLE) / (sa.n + sb.n - c.inter) >= 0.5
    ),
    hsx AS (
        SELECT doc_id,
               {DD.MINHASH_HS_SQL.replace("ss", "shingle_set")} AS hs
        FROM sh
    ),
    sig AS (SELECT doc_id, {DD.minhash_sig_sql(16)} AS sg FROM hsx)
    SELECT p.doc_a, p.doc_b, p.jaccard,
           CAST(len(list_filter(range(1, 17),
                    i -> a.sg[i] = b.sg[i])) * 62500 AS BIGINT) AS est_micro,
           CAST(len(list_filter(range(1, 17),
                    i -> a.sg[i] = b.sg[i])) * 62500
                - round(p.jaccard * 1e6) AS BIGINT) AS err_micro
    FROM pairs p
    JOIN sig a ON a.doc_id = p.doc_a
    JOIN sig b ON b.doc_id = p.doc_b
    """,
)
def dedup_minhash_estimate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: for every TRUE near-dup pair
    (exact Jaccard ≥ 0.5), compare the 16-permutation MinHash estimate
    (matching components / 16) against the exact score — the audit
    that tells you whether the LSH banding thresholds are set where
    the estimator actually operates (E[matches]/16 = J, but at 16
    permutations the estimate quantizes to 1/16 steps; err_micro makes
    the quantization and variance visible per pair). Completes the
    approx-operator QA trio: recall (binary), nDCG (graded ranking),
    and now estimator bias.

    Scale shape: the exact side reuses `jaccard_pairs`'s full engine
    (canonical reps, df-capped index, exact recovery); signatures are
    the one-md5 affine-permutation pipeline; the comparison joins the
    pair table (near-dup-sized, tiny) against the doc-keyed signature
    table twice. All signature arithmetic is exact BIGINT — the
    estimate hash-matches to the last component."""
    docs = load_table(spark, "documents", sf_dir)
    pairs = DD.jaccard_pairs(docs, threshold=0.5, df_cap=10_000)
    sig = DD.minhash_signatures(docs).select("doc_id", "sig")
    matches = F.size(
        F.filter(
            F.zip_with(F.col("sa"), F.col("sb"), lambda x, y: x == y),
            lambda b: b,
        )
    )
    est = (matches * F.lit(62500)).cast("long")
    return (
        pairs.join(
            sig.withColumnsRenamed({"doc_id": "doc_a", "sig": "sa"}), "doc_a"
        )
        .join(
            sig.withColumnsRenamed({"doc_id": "doc_b", "sig": "sb"}), "doc_b"
        )
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            est.alias("est_micro"),
            (est - F.round(F.col("jaccard") * 1e6).cast("long")).alias(
                "err_micro"
            ),
        )
    )


@register(
    "lang_id_confusion_matrix",
    oracle=f"""
    WITH s AS (SELECT doc_id, lang, {{scores}} FROM documents),
    m AS (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS mx FROM s),
    pred AS (
        SELECT lang,
               CASE WHEN mx < 0.04 THEN 'other'
                    WHEN s_de = mx THEN 'de'
                    WHEN s_en = mx THEN 'en'
                    WHEN s_es = mx THEN 'es'
                    WHEN s_fr = mx THEN 'fr'
                    ELSE 'zh' END AS lang_pred
        FROM m
    ),
    cells AS (
        SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
        FROM pred GROUP BY lang, lang_pred
    ),
    tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang
            FROM cells GROUP BY lang)
    SELECT c.lang, c.lang_pred, c.n,
           CAST(c.n * 1000000 // t.n_lang AS BIGINT) AS row_rate_micro,
           c.lang = c.lang_pred AS is_correct
    FROM cells c JOIN tot t USING (lang)
    """.replace("{scores}", _SCORES),
)
def lang_id_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the stopword-coverage language identifier
    against the corpus's metadata labels — the evaluation every lang-ID
    gate needs before its verdicts route documents (per-language recall
    sits on the diagonal; systematic confusions like es→fr tell you
    which stopword lists collide). Completes the operator-QA pattern
    for the text family: the classifier itself is oracle-checked
    (`lang_id_multiclass`); this derives its quality against labels.
    Rates are exact floored ppm of exact counts.

    Scale shape: pure-map scoring → ONE (lang, pred)-keyed agg
    (≤ |langs|² keys, map-side partials); the row-total join is
    model-scale."""
    docs = load_table(spark, "documents", sf_dir)
    pred = docs.select(
        "lang", TX.lang_id_multi("text").alias("lang_pred")
    )
    cells = pred.groupBy("lang", "lang_pred").agg(
        F.count("*").alias("n")
    )
    tot = cells.groupBy("lang").agg(F.sum("n").alias("n_lang"))
    return (
        cells.join(F.broadcast(tot), "lang")
        .select(
            "lang",
            "lang_pred",
            "n",
            F.expr("n * 1000000 div n_lang").alias("row_rate_micro"),
            (F.col("lang") == F.col("lang_pred")).alias("is_correct"),
        )
    )


_DUPC_STEPS = 10  # corpus-prefix checkpoints (doc_id deciles)


@register(
    "dedup_accumulation_curve",
    oracle=f"""
    WITH fp AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                   AS fp
        FROM documents
    ),
    firsts AS (
        SELECT fp, CAST(min(doc_id) AS BIGINT) AS first_doc
        FROM fp GROUP BY fp
    ),
    b AS (SELECT CAST(max(doc_id) AS BIGINT) AS mx FROM fp),
    cuts AS (
        SELECT CAST(s.range + 1 AS INT) AS step,
               CAST((s.range + 1) * b.mx // {_DUPC_STEPS} AS BIGINT)
                   AS cut
        FROM range({_DUPC_STEPS}) s CROSS JOIN b
    ),
    docs_at AS (
        SELECT c.step, c.cut,
               CAST(sum(CASE WHEN f.doc_id <= c.cut THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_docs
        FROM fp f CROSS JOIN cuts c GROUP BY c.step, c.cut
    ),
    uniq_at AS (
        SELECT c.step,
               CAST(sum(CASE WHEN fs.first_doc <= c.cut THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_unique
        FROM firsts fs CROSS JOIN cuts c GROUP BY c.step
    )
    SELECT d.step, d.cut, d.n_docs, u.n_unique,
           CAST((d.n_docs - u.n_unique) * 1000000 // d.n_docs AS BIGINT)
               AS dup_rate_micro
    FROM docs_at d JOIN uniq_at u USING (step)
    """,
)
def dedup_accumulation_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-accumulation curve: exact-duplicate rate at 10
    corpus-prefix checkpoints (canonical-fingerprint first occurrences,
    doc_id deciles) — the diagnostic that says WHERE duplication enters
    a crawl (a flat curve = uniformly duplicated sources; a late bend =
    the tail re-crawled what the head already had, so incremental
    ingestion plus `dedup_incremental_new_docs` saves most of the
    compute). The Heaps-curve trick applied to document identity
    instead of vocabulary.

    Scale shape: ONE fingerprint aggregate produces per-text
    first_doc (distinct-text-sized); each checkpoint answers from it
    and one corpus-scan agg against the broadcast 10-row cut table.
    All counts exact; rates are floored ppm."""
    docs = load_table(spark, "documents", sf_dir)
    fp = docs.select(
        "doc_id", TX.fingerprint("text").alias("fp")
    )
    firsts = fp.groupBy("fp").agg(F.min("doc_id").alias("first_doc"))
    b = fp.agg(F.max("doc_id").alias("mx"))
    cuts = (
        spark.range(_DUPC_STEPS)
        .select((F.col("id") + 1).cast("int").alias("step"))
        .crossJoin(F.broadcast(b))
        .select(
            "step", F.expr(f"step * mx div {_DUPC_STEPS}").alias("cut")
        )
    )
    docs_at = (
        fp.crossJoin(F.broadcast(cuts))
        .groupBy("step", "cut")
        .agg(
            F.sum(
                F.when(F.col("doc_id") <= F.col("cut"), 1).otherwise(0)
            ).alias("n_docs")
        )
    )
    uniq_at = (
        firsts.crossJoin(F.broadcast(cuts.select("step", "cut")))
        .groupBy("step")
        .agg(
            F.sum(
                F.when(F.col("first_doc") <= F.col("cut"), 1).otherwise(0)
            ).alias("n_unique")
        )
    )
    return (
        docs_at.join(uniq_at, "step")
        .select(
            "step",
            "cut",
            "n_docs",
            "n_unique",
            F.expr(
                "(n_docs - n_unique) * 1000000 div n_docs"
            ).alias("dup_rate_micro"),
        )
    )


@register(
    "corpus_bleu_source_overlap",
    oracle=f"""
    WITH toks AS (
        SELECT source, {_TOKENS_SQL} AS t FROM documents
    ),
    bg AS (
        SELECT source, t[i] || ' ' || t[i + 1] AS gram
        FROM toks, LATERAL unnest(range(1, len(t))) AS r(i)
    ),
    per_src AS (
        SELECT source, gram, CAST(count(*) AS BIGINT) AS c
        FROM bg GROUP BY source, gram
    ),
    tot AS (
        SELECT gram, CAST(sum(c) AS BIGINT) AS c_all
        FROM per_src GROUP BY gram
    )
    SELECT s.source,
           CAST(sum(s.c) AS BIGINT) AS n_bigrams,
           CAST(sum(least(s.c, t.c_all - s.c)) AS BIGINT) AS n_clipped,
           CAST(sum(least(s.c, t.c_all - s.c)) * 1000000 // sum(s.c)
                AS BIGINT) AS precision_ppm
    FROM per_src s JOIN tot t USING (gram)
    GROUP BY s.source
    """,
)
def corpus_bleu_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level modified bigram precision (the BLEU clipping rule)
    of each source against the pooled REST of the corpus: how much of a
    source's phrasing already exists elsewhere. High precision = the
    source is stylistically redundant (a dedup/downweight candidate);
    low = it contributes novel phrasing. The leave-one-out reference
    count is c_all − c_s, so no per-pair source×source comparison is
    ever materialized.

    Scale shape: one bigram aggregate per (source, gram) —
    vocabulary-sized, the same inverted-index discipline as the dedup
    family — then a gram-keyed join of the per-source counts against
    the gram totals (both vocabulary-sized; no document re-scan, no
    |sources|² term). Precision is a floored ppm (integer div), exact
    across engines."""
    docs = load_table(spark, "documents", sf_dir)
    # Let-bind the token array once per row: element_at(split(...), i)
    # inside the bigram lambda re-splits the document per position —
    # O(tokens²) chars per doc (lang_id_multi discipline).
    bg = docs.select(
        "source",
        F.explode(
            F.expr(
                "element_at(transform(array(split(trim(text), ' ')), t ->"
                " CASE WHEN size(t) < 2 THEN array()"
                " ELSE transform(sequence(1, size(t) - 1),"
                " i -> concat(element_at(t, i), ' ',"
                " element_at(t, i + 1))) END), 1)"
            )
        ).alias("gram"),
    )
    per_src = bg.groupBy("source", "gram").agg(
        F.count("*").cast("long").alias("c")
    )
    tot = per_src.groupBy("gram").agg(F.sum("c").alias("c_all"))
    clipped = F.least(F.col("c"), F.col("c_all") - F.col("c"))
    return (
        per_src.join(tot, "gram")
        .groupBy("source")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.sum(clipped).alias("n_clipped"),
            F.expr(
                "sum(least(c, c_all - c)) * 1000000 div sum(c)"
            ).alias("precision_ppm"),
        )
    )


_MRL_DIMS = 16
_MRL_K = 10


@register(
    "embedding_matryoshka_recall",
    oracle=f"""
    WITH corpus AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               list_transform(embedding[1:{_MRL_DIMS}],
                              x -> CAST(x AS DOUBLE)) AS vt
        FROM embeddings
    ),
    probes AS (
        SELECT vec_id AS query_id, v AS qv, vt AS qvt FROM corpus
        WHERE vec_id IN (0, 1, 2)
    ),
    full_rank AS (
        SELECT p.query_id, c.vec_id,
               row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY {_COS_SQL.format(a="c.v", b="p.qv")} DESC,
                            c.vec_id) AS r
        FROM probes p JOIN corpus c ON c.vec_id <> p.query_id
    ),
    trunc_rank AS (
        SELECT p.query_id, c.vec_id,
               row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY {_COS_SQL.format(a="c.vt", b="p.qvt")} DESC,
                            c.vec_id) AS r
        FROM probes p JOIN corpus c ON c.vec_id <> p.query_id
    )
    SELECT f.query_id,
           CAST(count(t.vec_id) AS BIGINT) AS n_overlap,
           CAST(count(t.vec_id) * 1000000 // {_MRL_K} AS BIGINT)
               AS recall_ppm
    FROM full_rank f
    LEFT JOIN trunc_rank t
      ON t.query_id = f.query_id AND t.vec_id = f.vec_id
     AND t.r <= {_MRL_K}
    WHERE f.r <= {_MRL_K}
    GROUP BY f.query_id
    """,
)
def embedding_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation evaluation: recall@10 of brute-force
    search over the FIRST {d} dims against the full 64-dim truth, per
    probe — the measurement behind MRL-style dimension-adaptive
    retrieval (serve short prefixes, rerank with full vectors; this
    query tells you what the prefix alone costs). Same QA-of-the-
    approximation discipline as dedup_lsh_recall_eval.

    Scale shape: two brute-force top-k passes over the same corpus
    scan (probe set broadcast, rank windows over per-query candidate
    heaps), then a top-k-sized join — no new machinery, the truncated
    pass just slices the vector column before scoring.""".format(d=_MRL_DIMS)
    emb = load_table(spark, "embeddings", sf_dir)
    probes_full = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    probes_tr = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"),
        F.slice("embedding", 1, _MRL_DIMS).alias("qv"),
    )
    corpus_tr = emb.select(
        "vec_id", F.slice("embedding", 1, _MRL_DIMS).alias("embedding")
    )
    full = SIM.brute_force_topk(
        emb, probes_full, k=_MRL_K, exclude_self=True
    ).select("query_id", "vec_id")
    trunc = SIM.brute_force_topk(
        corpus_tr, probes_tr, k=_MRL_K, exclude_self=True
    ).select("query_id", F.col("vec_id").alias("t_vec"))
    return (
        full.join(
            trunc,
            (full.query_id == trunc.query_id)
            & (F.col("vec_id") == F.col("t_vec")),
            "left",
        )
        .groupBy(full.query_id)
        .agg(
            F.count("t_vec").cast("long").alias("n_overlap"),
            F.expr(f"count(t_vec) * 1000000 div {_MRL_K}")
            .cast("long").alias("recall_ppm"),
        )
    )


_PROBE_MOD = 7  # doc_id % 7 == 0 → the "new batch" side


@register(
    "dedup_incremental_minhash_probe",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t
                  FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+2], ' ')
                              for i in range(1, greatest(len(t) - 2, 1) + 1)])
                   AS ss
        FROM toks
    ),
    hsx AS (SELECT doc_id, list_transform(ss, s -> CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) % 2147483647) AS hs FROM sh),
    sig AS (SELECT doc_id, [list_min(list_transform(hs, h -> (506952114 * h + 1119006270) % 2147483647)), list_min(list_transform(hs, h -> (1520856342 * h + 1218345142) % 2147483647)), list_min(list_transform(hs, h -> (387276923 * h + 1317684014) % 2147483647)), list_min(list_transform(hs, h -> (1401181151 * h + 1417022886) % 2147483647)), list_min(list_transform(hs, h -> (267601732 * h + 1516361758) % 2147483647)), list_min(list_transform(hs, h -> (1281505960 * h + 1615700630) % 2147483647)), list_min(list_transform(hs, h -> (147926541 * h + 1715039502) % 2147483647)), list_min(list_transform(hs, h -> (1161830769 * h + 1814378374) % 2147483647)), list_min(list_transform(hs, h -> (28251350 * h + 1913717246) % 2147483647)), list_min(list_transform(hs, h -> (1042155578 * h + 2013056118) % 2147483647)), list_min(list_transform(hs, h -> (2056059806 * h + 2112394990) % 2147483647)), list_min(list_transform(hs, h -> (922480387 * h + 64250215) % 2147483647)), list_min(list_transform(hs, h -> (1936384615 * h + 163589087) % 2147483647)), list_min(list_transform(hs, h -> (802805196 * h + 262927959) % 2147483647)), list_min(list_transform(hs, h -> (1816709424 * h + 362266831) % 2147483647)), list_min(list_transform(hs, h -> (683130005 * h + 461605703) % 2147483647))] AS sg FROM hsx),
    banded AS (
        SELECT doc_id, sg, (doc_id % {_PROBE_MOD} = 0) AS is_new,
               r.b AS band_id,
               md5(sg[4*r.b+1] || '|' || sg[4*r.b+2] || '|' ||
                   sg[4*r.b+3] || '|' || sg[4*r.b+4]) AS band_hash
        FROM sig, range(0, 4) r(b)
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS old_doc,
               a.sg AS sa, b.sg AS sb
        FROM banded a
        JOIN banded b ON a.band_id = b.band_id
                      AND a.band_hash = b.band_hash
        WHERE a.is_new AND NOT b.is_new
    )
    SELECT new_doc, old_doc,
           round(CAST(len(list_filter(range(1, 17), i -> sa[i] = sb[i]))
                      AS DOUBLE) / 16, 4) AS sim_est
    FROM pairs
    """,
)
def dedup_incremental_minhash_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental-ingest near-dup PROBE: the day's new batch (stood in
    by doc_id % {m} == 0) is MinHash-banded and joined against the
    existing corpus's LSH index — new×old candidates only, never
    old×old (deduped in prior runs) and never new×new (a separate
    batch-sized job). This is how MinHash dedup actually operates in a
    continuously-fed 100 TB pipeline: signatures of the old side live
    in a stored band-bucketed index, so a probe's shuffle is sized by
    the BATCH (n_new·bands rows), the same maintenance contract as the
    exact-fingerprint `dedup_incremental_new_docs`.

    Scale shape: one signature pass (shared md5 base hash + affine
    permutations — exact BIGINT, replayed verbatim by the oracle), a
    band explode, and a role-split band-keyed equi join; sim_est is
    the signature match fraction (unbiased Jaccard estimate),
    identical arithmetic to `dedup_minhash_lsh_pairs`.""".replace(
        "{m}", str(_PROBE_MOD)
    )
    docs = load_table(spark, "documents", sf_dir).withColumn(
        "is_new", F.col("doc_id") % _PROBE_MOD == 0
    )
    return DD.minhash_probe_pairs(docs, "is_new")


_SWEEP_THRS = (30, 35, 40)  # centi-cosine cutoffs
_SWEEP_BASE = 0.30  # capture threshold (= lowest swept cutoff)
_COS_D = (
    "list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),"
    " list_transform(b.embedding, x -> CAST(x AS DOUBLE)))"
    " / (sqrt(list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),"
    " list_transform(a.embedding, x -> CAST(x AS DOUBLE))))"
    " * sqrt(list_dot_product(list_transform(b.embedding, x -> CAST(x AS DOUBLE)),"
    " list_transform(b.embedding, x -> CAST(x AS DOUBLE)))))"
)


@register(
    "embedding_dedup_threshold_sweep",
    oracle=f"""
    WITH cand AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               CAST(round(round({_COS_D}, 4) * 10000) AS BIGINT) AS bps
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE {_COS_D} >= {_SWEEP_BASE}
    ),
    t AS (SELECT unnest([{", ".join(str(t) for t in _SWEEP_THRS)}])
              AS thr_centi),
    per AS (
        SELECT t.thr_centi, c.vec_a, c.vec_b FROM cand c
        JOIN t ON c.bps >= t.thr_centi * 100
    ),
    np AS (SELECT thr_centi, CAST(count(*) AS BIGINT) AS n_pairs
           FROM per GROUP BY thr_centi),
    nd AS (
        SELECT thr_centi, CAST(count(DISTINCT v) AS BIGINT) AS n_docs
        FROM (SELECT thr_centi, unnest([vec_a, vec_b]) AS v FROM per)
        GROUP BY thr_centi
    )
    SELECT t.thr_centi, coalesce(np.n_pairs, 0) AS n_pairs,
           coalesce(nd.n_docs, 0) AS n_docs
    FROM t LEFT JOIN np USING (thr_centi) LEFT JOIN nd USING (thr_centi)
    """,
)
def embedding_dedup_threshold_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-dup threshold tuning curve: pair and affected-document
    counts at cosine cutoffs {thrs} from ONE exact pair scan captured
    at the lowest cutoff — the evidence a curation team reads before
    committing to a dedup threshold (how many docs does each extra
     0.05 of looseness pull into the dedup graph). The per-threshold
    membership compares integer basis points of the rounded cosine, so
    bucket assignment is engine-exact.

    Scale shape: the expensive term (exact pairs) runs ONCE via the
    blocked-GEMM baseline and every threshold is a conditional
    replication of the captured pair set (|pairs@base|·|thresholds|
    rows — bounded by the loosest cutoff, not re-scanned per cutoff).
    At 100 TB the same sweep runs over the LSH candidate pairs
    instead; this exact form is the calibration baseline, O(n²) by
    construction like `embedding_near_dup_exact`.""".replace(
        "{thrs}", ", ".join(f"0.{t}" for t in _SWEEP_THRS)
    )
    emb = load_table(spark, "embeddings", sf_dir)
    pairs = SIM.exact_near_dup_pairs_blocked(
        emb, threshold=_SWEEP_BASE, n_blocks=8
    ).select(
        "vec_a",
        "vec_b",
        F.round(F.col("cos_sim") * 10000).cast("bigint").alias("bps"),
    )
    thrs = F.array(*[F.lit(t) for t in _SWEEP_THRS])
    per = pairs.select(
        "vec_a", "vec_b", F.explode(thrs).alias("thr_centi"), "bps"
    ).filter(F.col("bps") >= F.col("thr_centi") * 100)
    np_ = per.groupBy("thr_centi").agg(
        F.count("*").cast("bigint").alias("n_pairs")
    )
    nd = (
        per.select(
            "thr_centi",
            F.explode(F.array("vec_a", "vec_b")).alias("v"),
        )
        .groupBy("thr_centi")
        .agg(F.countDistinct("v").cast("bigint").alias("n_docs"))
    )
    base = spark.createDataFrame(
        [(t,) for t in _SWEEP_THRS], "thr_centi int"
    )
    return (
        base.join(np_, "thr_centi", "left")
        .join(nd, "thr_centi", "left")
        .select(
            "thr_centi",
            F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0)).cast("bigint").alias("n_docs"),
        )
    )


@register(
    "dedup_cluster_purity",
    oracle=f"""
    WITH RECURSIVE
    {_CC_CTES},
    lab AS (
        SELECT d.doc_id, d.source,
               coalesce(c.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ),
    sz AS (
        SELECT cluster_id,
               CAST(count(*) AS BIGINT) AS cluster_size,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        FROM lab GROUP BY cluster_id
    ),
    sc AS (
        SELECT cluster_id, source, count(*) AS c,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY count(*) DESC, source) AS rn
        FROM lab GROUP BY cluster_id, source
    )
    SELECT z.cluster_id, z.cluster_size, z.n_sources,
           s.source AS majority_source,
           CAST((1000000 * s.c) // z.cluster_size AS BIGINT)
               AS purity_micro
    FROM sz z JOIN sc s ON s.cluster_id = z.cluster_id AND s.rn = 1
    WHERE z.cluster_size > 1
    """,
)
def dedup_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-cluster QA: for every non-trivial near-dup cluster, its
    size, how many SOURCES it spans, and the majority-source share —
    the audit that distinguishes benign within-source duplication
    (mirrors, repostings: purity 1e6) from cross-source syndication
    (low purity means the same content is flowing through many feeds,
    and per-source dedup would systematically miss it). Consumes the
    same connected components as `dedup_clusters`.

    Scale shape: two (cluster, source)-keyed hash aggs over the
    cluster assignment and one cluster-partitioned rank window over
    ≤|sources|-row groups; purity is an exact integer micro ratio.
    The CC build (the same _cluster_index as the clustering query)
    dominates."""
    lab = _cluster_index(spark, sf_dir).select("doc_id", "cluster_id")
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "source"
    )
    j = lab.join(docs, "doc_id")
    sz = j.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("cluster_size"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
    )
    sc = (
        j.groupBy("cluster_id", "source")
        .agg(F.count("*").alias("c"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("cluster_id").orderBy(
                    F.col("c").desc(), "source"
                )
            ),
        )
        .filter(F.col("rn") == 1)
    )
    return (
        sz.filter(F.col("cluster_size") > 1)
        .join(sc, "cluster_id")
        .select(
            "cluster_id",
            "cluster_size",
            "n_sources",
            F.col("source").alias("majority_source"),
            F.expr("(1000000 * c) div cluster_size")
            .cast("bigint")
            .alias("purity_micro"),
        )
    )


# ── Round 6: Zipf law fit + winnowing fingerprints ─────────────────────

_ZIPF_TOP = 100  # rank window for the log-log fit
# ln() quantized to MILLI units (not the usual micro) so every OLS
# moment — n·Σxy, Σx·Σy, and the ×10⁶ numerator scaling for the micro
# slope — stays far inside BIGINT: x,y ≤ ~14·10³, Σxy over 100 terms
# ≤ ~2·10¹⁰, ×10⁶ ≤ ~2·10¹⁶. Micro-quantized lns would overflow the
# scaled numerator (≈10²³).
_ZIPF_Q = 1000


@register(
    "text_zipf_slope",
    oracle=f"""
    WITH tok AS (
        SELECT lower(unnest({_TOKENS_SQL})) AS term FROM documents
    ),
    cnt AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM tok
            WHERE term <> '' GROUP BY term),
    top AS (
        SELECT term, n,
               row_number() OVER (ORDER BY n DESC, term) AS r
        FROM cnt ORDER BY n DESC, term LIMIT {_ZIPF_TOP}
    ),
    pts AS (
        SELECT CAST(round(ln(r) * {_ZIPF_Q}) AS BIGINT) AS x,
               CAST(round(ln(n) * {_ZIPF_Q}) AS BIGINT) AS y,
               term, n, r
        FROM top
    ),
    mom AS (
        SELECT CAST(count(*) AS BIGINT) AS m,
               sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx,
               min(CASE WHEN r = 1 THEN term END) AS top_term,
               CAST(min(CASE WHEN r = 1 THEN n END) AS BIGINT) AS top_count
        FROM pts
    )
    SELECT m AS n_terms, top_term, top_count,
           CAST((1000000 * (m * sxy - sx * sy))
                // (m * sxx - sx * sx) AS BIGINT) AS slope_micro
    FROM mom
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope of
    ln(frequency) on ln(rank) for the top-100 terms — the standard
    "is this corpus natural language or template spam" diagnostic
    (natural text sits near −1; machine-generated or boilerplate-heavy
    corpora flatten). Complements corpus_vocab_growth_heaps, which
    fits the OTHER classical law (vocabulary growth); together they
    bracket the corpus's lexical statistics.

    Float discipline: ln values are quantized to integer milli-units
    per point BEFORE any cross-row sum, then the OLS slope is one
    exact-integer formula — (m·Σxy − ΣxΣy)·10⁶ div (m·Σxx − Σx²) —
    so aggregation order cannot perturb the result (micro-quantized
    lns would overflow the scaled numerator; see _ZIPF_Q).

    Scale shape: one token explode into a corpus-keyed hash agg
    (map-side combined: shuffle carries one row per distinct term),
    a top-100 TakeOrderedAndProject, and a 100-row moment agg.
    Nothing after the term count scales with data."""
    docs = load_table(spark, "documents", sf_dir)
    cnt = (
        docs.select(
            F.explode(F.expr("transform(split(trim(text), ' '), t -> lower(t))"))
            .alias("term")
        )
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    top = (
        cnt.orderBy(F.col("n").desc(), "term")
        .limit(_ZIPF_TOP)
        .withColumn(
            "r",
            F.row_number().over(Window.orderBy(F.col("n").desc(), "term")),
        )
    )
    pts = top.select(
        "term", "n", "r",
        F.round(F.log(F.col("r").cast("double")) * _ZIPF_Q)
        .cast("bigint").alias("x"),
        F.round(F.log(F.col("n").cast("double")) * _ZIPF_Q)
        .cast("bigint").alias("y"),
    )
    mom = pts.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.min(F.when(F.col("r") == 1, F.col("term"))).alias("top_term"),
        F.min(F.when(F.col("r") == 1, F.col("n")))
        .cast("bigint").alias("top_count"),
    )
    return mom.select(
        F.col("m").alias("n_terms"),
        "top_term",
        "top_count",
        F.expr("(1000000 * (m * sxy - sx * sy)) div (m * sxx - sx * sx)")
        .cast("bigint")
        .alias("slope_micro"),
    )


# Winnowing (Schleimer, Wilkerson, Aiken: "Winnowing: Local Algorithms
# for Document Fingerprinting", SIGMOD 2003 — the MOSS fingerprint):
# hash every k-gram, slide a window of w consecutive hashes, keep each
# window's MINIMUM. Guarantees: any shared run of ≥ w+k−1 tokens
# between two documents shares ≥1 selected fingerprint, while only
# ~2/(w+1) of hashes are kept. This variant keeps the distinct selected
# VALUES per document (position-free set — the form dedup indexes
# store).
_WIN_K = 4  # tokens per k-gram
_WIN_W = 5  # winnowing window (hashes)
_WIN_MOD = 2_147_483_647


@register(
    "docs_winnowing_fingerprints",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_transform({_TOKENS_SQL}, t -> lower(t)) AS tk
        FROM documents
    ),
    grams AS (
        SELECT doc_id, tk, len(tk) AS nt,
               CASE WHEN len(tk) >= {_WIN_K}
                    THEN list_transform(
                        generate_series(1, len(tk) - {_WIN_K} + 1),
                        i -> CAST(('0x' || substr(md5(
                                 array_to_string(tk[i:i+{_WIN_K}-1], ' ')
                             ), 1, 8)) AS BIGINT) % {_WIN_MOD})
                    ELSE [] END AS hs
        FROM toks
    ),
    sel AS (
        SELECT doc_id, nt, len(hs) AS n_kgrams,
               CASE WHEN len(hs) = 0 THEN []
                    WHEN len(hs) <= {_WIN_W} THEN [list_min(hs)]
                    ELSE list_distinct(list_transform(
                        generate_series(1, len(hs) - {_WIN_W} + 1),
                        i -> list_min(hs[i:i+{_WIN_W}-1])))
                    END AS fps
        FROM grams
    )
    SELECT doc_id, CAST(n_kgrams AS BIGINT) AS n_kgrams,
           CAST(len(fps) AS BIGINT) AS n_fingerprints,
           CAST(coalesce(list_min(fps), 0) AS BIGINT) AS fp_min,
           CAST(coalesce(list_reduce(list_prepend(CAST(0 AS BIGINT), fps),
                                     (a, b) -> a + b), 0) AS BIGINT)
               AS fp_sum
    FROM sel
    """,
)
def docs_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (SIGMOD'03 / MOSS): md5 k-gram
    hashes, keep each w-window's minimum, emit the per-doc selected
    set's size/min/sum — the guarantee-carrying alternative to
    text_rolling_hash (one hash per doc, order-sensitive but
    no substring guarantee) and the MinHash sketch (similarity
    estimation, no locality guarantee): any shared token run of
    ≥ w+k−1 = 8 survives into both docs' fingerprint sets.

    All selection is exact BIGINT (md5 first-8-hex mod 2³¹−1, the
    MinHash base-hash convention), so the oracle replays it
    bit-for-bit. Window minima are per-doc HOFs over the k-gram hash
    array — arrays are doc-length-bounded, the one corpus-scale
    operation is the initial scan; no explode, no shuffle at all
    (the result is a pure map stage)."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id",
        F.expr("transform(split(trim(text), ' '), t -> lower(t))").alias("tk"),
    )
    grams = toks.select(
        "doc_id",
        F.expr(
            f"CASE WHEN size(tk) >= {_WIN_K} THEN"
            f" transform(sequence(1, size(tk) - {_WIN_K} + 1),"
            f"   i -> cast(conv(substring(md5("
            f"        array_join(slice(tk, i, {_WIN_K}), ' ')"
            f"        ), 1, 8), 16, 10) as bigint) % {_WIN_MOD})"
            f" ELSE array() END"
        ).alias("hs"),
    )
    sel = grams.select(
        "doc_id",
        F.size("hs").cast("bigint").alias("n_kgrams"),
        F.expr(
            f"CASE WHEN size(hs) = 0 THEN array()"
            f" WHEN size(hs) <= {_WIN_W} THEN array(array_min(hs))"
            f" ELSE array_distinct(transform("
            f"   sequence(1, size(hs) - {_WIN_W} + 1),"
            f"   i -> array_min(slice(hs, i, {_WIN_W}))))"
            f" END"
        ).alias("fps"),
    )
    return sel.select(
        "doc_id",
        "n_kgrams",
        F.size("fps").cast("bigint").alias("n_fingerprints"),
        F.coalesce(F.array_min("fps"), F.lit(0))
        .cast("bigint").alias("fp_min"),
        F.coalesce(
            F.expr("aggregate(fps, 0L, (a, b) -> a + b)"), F.lit(0)
        ).cast("bigint").alias("fp_sum"),
    )


@register(
    "dedup_lsh_cost_estimate",
    # The join_size_estimate idea applied to the LSH self-join: the
    # banded index's per-band bucket histogram predicts the candidate
    # volume Σ c·(c−1)/2 BEFORE running the pair join — the dry-run
    # that tells you whether a df-cap / bucket-cap is needed at this
    # corpus's duplication profile. Signature arithmetic is the exact
    # BIGINT minhash convention, so DuckDB replays the whole index.
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t
                  FROM documents),
    sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(t[i:i+2], ' ')
                              for i in range(1, greatest(len(t) - 2, 1) + 1)])
                   AS ss
        FROM toks
    ),
    hsx AS (SELECT doc_id, {DD.MINHASH_HS_SQL} AS hs FROM sh),
    sig AS (SELECT doc_id, {DD.minhash_sig_sql(16)} AS sg FROM hsx),
    banded AS (
        SELECT doc_id, r.b AS band_id,
               md5(sg[4*r.b+1] || '|' || sg[4*r.b+2] || '|'
                   || sg[4*r.b+3] || '|' || sg[4*r.b+4]) AS band_hash
        FROM sig, range(0, 4) r(b)
    ),
    buckets AS (
        SELECT band_id, band_hash, CAST(count(*) AS BIGINT) AS c
        FROM banded GROUP BY band_id, band_hash
    )
    SELECT CAST(band_id AS BIGINT) AS band_id,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_colliding_buckets,
           CAST(max(c) AS BIGINT) AS max_bucket,
           CAST(sum(c * (c - 1) / 2) AS BIGINT) AS candidate_pairs
    FROM buckets GROUP BY band_id
    """,
)
def dedup_lsh_cost_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-volume prediction for the MinHash-LSH self-join —
    join_size_estimate's sibling for the dedup path: per band, the
    bucket histogram of the (band_id, band_hash) index and the implied
    candidate-pair count Σ c·(c−1)/2. On a crawl with heavy
    duplication this number explodes quadratically (the SCALE.md
    "duplication explosion" finding) — this dry-run costs one
    signature pass + a bucket-keyed count agg, and is what decides
    bucket caps before committing to the pair join.

    Scale shape: the signature pass is the same linear map stage the
    real index pays; the histogram shuffles one row per DISTINCT
    bucket (map-side combined); the per-band rollup is |bands| rows.
    Nothing pairwise runs."""
    docs = load_table(spark, "documents", sf_dir)
    sig = DD.minhash_signatures(docs, "text", "doc_id", 3, 16)
    r, bands = 4, 4
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.md5(F.concat_ws(
                        "|", *[F.col("sig")[b * r + j] for j in range(r)]
                    )).alias("band_hash"),
                )
                for b in range(bands)
            ])
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")
    buckets = banded.groupBy("band_id", "band_hash").agg(
        F.count("*").cast("bigint").alias("c")
    )
    return buckets.groupBy("band_id").agg(
        F.count("*").cast("bigint").alias("n_buckets"),
        F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).cast("bigint")
        .alias("n_colliding_buckets"),
        F.max("c").cast("bigint").alias("max_bucket"),
        F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("bigint")
        .alias("candidate_pairs"),
    ).select(
        F.col("band_id").cast("bigint").alias("band_id"),
        "n_buckets", "n_colliding_buckets", "max_bucket",
        "candidate_pairs",
    )


_HUB_TAU = 0.35  # same ε as embedding_near_dup_exact — shared graph


@register(
    "embedding_hubness_degree",
    # Hubness audit of the ε-neighborhood graph (cos ≥ 0.35): the
    # degree histogram over ALL vectors (0-degree isolates included)
    # plus the exact HHI concentration of degree mass. High-degree
    # hubs are the known failure mode of high-dim retrieval — a few
    # points appear in everyone's neighborhood and drag down recall.
    oracle=f"""
    WITH pairs AS (
        SELECT a.vec_id AS va, b.vec_id AS vb
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                               list_transform(b.embedding, x -> CAST(x AS DOUBLE)))
              / (sqrt(list_dot_product(list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                                       list_transform(a.embedding, x -> CAST(x AS DOUBLE))))
                 * sqrt(list_dot_product(list_transform(b.embedding, x -> CAST(x AS DOUBLE)),
                                         list_transform(b.embedding, x -> CAST(x AS DOUBLE)))))
              >= {_HUB_TAU}
    ),
    arcs AS (SELECT va AS v FROM pairs UNION ALL SELECT vb FROM pairs),
    degs AS (
        SELECT e.vec_id,
               CAST(coalesce(d.deg, 0) AS BIGINT) AS degree
        FROM embeddings e
        LEFT JOIN (SELECT v, count(*) AS deg FROM arcs GROUP BY v) d
          ON d.v = e.vec_id
    ),
    tot AS (
        SELECT CAST(sum(degree) AS BIGINT) AS td,
               CAST(sum(degree * degree) AS BIGINT) AS td2
        FROM degs
    )
    SELECT g.degree,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(t.td2 * 1000000 // nullif(t.td * t.td, 0) AS BIGINT)
               AS degree_hhi_micro
    FROM degs g CROSS JOIN tot t
    GROUP BY g.degree, t.td2, t.td
    """,
)
def embedding_hubness_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit of the embedding space: the degree histogram of
    the ε-neighborhood graph (cosine ≥ 0.35 — the exact graph the
    near-dup family prunes) with the Herfindahl concentration of
    degree mass replicated on every row — the high-dimensional
    pathology check (Radovanović et al., JMLR'10): a right-skewed
    degree tail means a few hub vectors sit in everyone's
    neighborhood, silently dominating ANN results and dedup clusters.
    Degrees and the HHI are exact integers; isolates count at degree
    0 via the left join back to the corpus.

    Scale shape: the pair scan is the blocked-GEMM operator shared
    with embedding_near_dup_exact (B²/2 Arrow-batched BLAS blocks —
    calibration-scale; at 100 TB the LSH bucket graph substitutes);
    everything after is a vec-keyed count, a corpus-side left join,
    and a histogram agg into ≤ max-degree keys."""
    emb = load_table(spark, "embeddings", sf_dir)
    pairs = SIM.exact_near_dup_pairs_blocked(
        emb, threshold=_HUB_TAU, n_blocks=8
    )
    arcs = pairs.select(F.col("vec_a").alias("v")).unionAll(
        pairs.select(F.col("vec_b").alias("v"))
    )
    deg = arcs.groupBy("v").agg(F.count("*").alias("deg"))
    degs = emb.select("vec_id").join(
        deg, emb["vec_id"] == deg["v"], "left"
    ).select(
        F.coalesce(F.col("deg"), F.lit(0)).cast("long").alias("degree")
    )
    tot = degs.agg(
        F.sum("degree").cast("long").alias("td"),
        F.sum(F.col("degree") * F.col("degree")).cast("long").alias("td2"),
    )
    return (
        degs.groupBy("degree")
        .agg(F.count("*").cast("long").alias("n_vecs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "degree",
            "n_vecs",
            F.expr("td2 * 1000000 div nullif(td * td, 0)")
            .cast("long")
            .alias("degree_hhi_micro"),
        )
    )


@register(
    "embedding_isotropy_score",
    # Isotropy audit via the closed-form pairwise-cosine identity:
    # over UNIT vectors, Σ_{i≠j} cos(v_i, v_j) = |Σ v|² − n, so the
    # mean pairwise cosine needs ONE linear pass (sum vector + norms)
    # — never the n² pair scan the naive formulation implies. Each
    # normalized coordinate is quantized once to micro units; the
    # per-dimension sums, |S|², and the final ratio are exact
    # integers in DECIMAL(38)/HUGEINT.
    oracle="""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding, x ->
                   CAST(round(1e6 * CAST(x AS DOUBLE)
                        / sqrt(list_dot_product(
                              list_transform(embedding, y -> CAST(y AS DOUBLE)),
                              list_transform(embedding, y -> CAST(y AS DOUBLE)))))
                        AS BIGINT)) AS qv
        FROM embeddings
        WHERE list_dot_product(
                  list_transform(embedding, y -> CAST(y AS DOUBLE)),
                  list_transform(embedding, y -> CAST(y AS DOUBLE))) > 0
    ),
    dims AS (
        SELECT i.i AS dim, CAST(sum(q.qv[i.i]) AS HUGEINT) AS s,
               CAST(sum(CAST(q.qv[i.i] AS HUGEINT) * q.qv[i.i])
                    AS HUGEINT) AS ss
        FROM q, LATERAL unnest(range(1, len(q.qv) + 1)) AS i(i)
        GROUP BY i.i
    ),
    m AS (
        SELECT CAST((SELECT count(*) FROM q) AS BIGINT) AS n,
               sum(s * s) AS s2,
               sum(ss) AS sumsq
        FROM dims
    )
    SELECT n AS n_vectors,
           CAST((s2 - sumsq) * 1000000
                // nullif((n * CAST(n - 1 AS HUGEINT)) * 1000000000000, 0)
                AS BIGINT) AS mean_pairwise_cos_micro
    FROM m
    """,
)
def embedding_isotropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotropy audit of the embedding space: the mean pairwise
    cosine across ALL vector pairs — near 0 means directions spread
    uniformly (healthy for cosine retrieval), large positive means
    the space has collapsed toward a common direction (the anisotropy
    pathology PCA-ABTT post-processing exists to fix — this query is
    its before/after meter). The n² pair sum is NEVER materialized:
    over unit vectors Σ_{i≠j} cos = |Σv|² − Σ|v|², so one linear pass
    over per-dimension sums suffices; each normalized coordinate is
    quantized once to micro units and everything downstream is exact
    wide-integer arithmetic.

    Scale shape: one corpus scan (normalize + quantize per row), a
    dimension-keyed agg (64 keys — constant), and a 1-row reduction.
    At 100 TB this is a map + one tiny shuffle; the naive pairwise
    formulation would be 10²⁴ pairs."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.select(
        F.expr(
            "transform(embedding, x -> CAST(round(1e6 * CAST(x AS DOUBLE)"
            " / sqrt(aggregate(embedding, 0.0D,"
            " (a, y) -> a + CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))"
            " AS BIGINT))"
        ).alias("qv")
    ).filter(
        F.expr(
            "aggregate(embedding, 0.0D,"
            " (a, y) -> a + CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) > 0"
        )
    )
    dims = (
        q.select(F.posexplode("qv").alias("dim", "qc"))
        .groupBy("dim")
        .agg(
            F.sum("qc").cast("decimal(38,0)").alias("s"),
            F.sum(F.col("qc").cast("decimal(38,0)") * F.col("qc"))
            .alias("ss"),
        )
    )
    n = q.agg(F.count("*").cast("long").alias("n"))
    m = dims.agg(
        F.sum(F.col("s") * F.col("s")).alias("s2"),
        F.sum("ss").alias("sumsq"),
    ).crossJoin(F.broadcast(n))
    return m.select(
        F.col("n").alias("n_vectors"),
        F.expr(
            "(s2 - sumsq) * 1000000"
            " div nullif((n * CAST(n - 1 AS DECIMAL(38,0)))"
            " * 1000000000000, 0)"
        ).cast("long").alias("mean_pairwise_cos_micro"),
    )


@register(
    "embedding_dim_variance_profile",
    # Per-dimension variance decomposition + the participation ratio
    # (1/HHI of variance shares = the effective dimensionality) — the
    # drill-down under embedding_isotropy_score: isotropy says THAT
    # the space collapsed, this says into HOW MANY effective axes.
    # Coordinates are milli-quantized once; per-dim moments, variance
    # numerators (n·Σx² − S²), shares, and the participation ratio
    # are all exact wide-integer arithmetic.
    oracle="""
    WITH q AS (
        SELECT list_transform(embedding, x ->
                   CAST(round(1000 * CAST(x AS DOUBLE)) AS BIGINT)) AS qv
        FROM embeddings
    ),
    dims AS (
        SELECT i.i AS dim,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(q.qv[i.i]) AS HUGEINT) AS s,
               CAST(sum(CAST(q.qv[i.i] AS HUGEINT) * q.qv[i.i])
                    AS HUGEINT) AS ss
        FROM q, LATERAL unnest(range(1, len(q.qv) + 1)) AS i(i)
        GROUP BY i.i
    ),
    v AS (
        SELECT dim, n * ss - s * s AS vnum FROM dims
    ),
    tot AS (
        SELECT sum(vnum) AS tv, sum(vnum * vnum) AS tv2 FROM v
    )
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_dims,
           CAST((SELECT max(vnum) FROM v) * 1000000
                // nullif(t.tv, 0) AS BIGINT) AS top_dim_share_micro,
           CAST(t.tv * t.tv * 1000 // nullif(t.tv2, 0) // 1000
                AS BIGINT) AS participation_ratio,
           CAST(t.tv * t.tv * 1000000 // nullif(t.tv2, 0)
                - (t.tv * t.tv * 1000 // nullif(t.tv2, 0) // 1000)
                  * 1000000 AS BIGINT) AS participation_frac_micro
    FROM tot t
    """,
)
def embedding_dim_variance_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective dimensionality of the embedding space: per-dimension
    variance shares summarized as the top dimension's share and the
    participation ratio (Σv)²/Σv² — the number of axes the variance
    actually lives in (64 nominal dims collapsing to an effective 10
    is the anisotropy pathology quantified; the drill-down under
    embedding_isotropy_score and the before/after meter for
    embedding_pca_abtt). Coordinates are milli-quantized once;
    variance numerators n·Σx² − S², their squares, and the ratio are
    exact HUGEINT/DECIMAL(38) with floored integer + fractional-micro
    outputs — no float summation anywhere.

    Scale shape: one corpus scan, a 64-key per-dimension moment agg,
    and a 1-row reduction."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.select(
        F.expr(
            "transform(embedding, x ->"
            " CAST(round(1000 * CAST(x AS DOUBLE)) AS BIGINT))"
        ).alias("qv")
    )
    dims = (
        q.select(F.posexplode("qv").alias("dim", "qc"))
        .groupBy("dim")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("qc").cast("decimal(38,0)").alias("s"),
            F.sum(F.col("qc").cast("decimal(38,0)") * F.col("qc"))
            .alias("ss"),
        )
    )
    v = dims.select(
        "dim",
        (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
        .alias("vnum"),
    )
    tot = v.agg(
        F.count("*").cast("long").alias("n_dims"),
        F.max("vnum").alias("maxv"),
        F.sum("vnum").alias("tv"),
        F.sum(F.col("vnum") * F.col("vnum")).alias("tv2"),
    )
    return tot.select(
        "n_dims",
        F.expr("CAST(maxv * 1000000 div nullif(tv, 0) AS BIGINT)")
        .alias("top_dim_share_micro"),
        F.expr(
            "CAST(tv * tv * 1000 div nullif(tv2, 0) div 1000 AS BIGINT)"
        ).alias("participation_ratio"),
        F.expr(
            "CAST(tv * tv * 1000000 div nullif(tv2, 0)"
            " - (tv * tv * 1000 div nullif(tv2, 0) div 1000)"
            " * 1000000 AS BIGINT)"
        ).alias("participation_frac_micro"),
    )


# ── Round 7: sorted-neighborhood blocking (the third classic ER
#    candidate generator, next to LSH banding and prefix filtering) ───
_SNM_W = 3  # neighborhood window (pairs within w positions of the sort)
_SNM_KEYLEN = 16  # sort-key prefix length


@register(
    "dedup_sorted_neighborhood_pairs",
    # Sorted-Neighborhood Method (Hernández–Stolfo): sort the corpus
    # by a normalized key, take every pair within a w-row window of
    # the sort order as a candidate, verify with exact bigram
    # Jaccard. The global sort rank comes from the range-partitioned
    # exact-rank operator; the window expands as a rank-banded
    # equi-join (offset 1..w), so each pair materializes exactly once
    # (rank differences are unique) and the candidate count is n·w —
    # linear, the SNM selling point vs the quadratic naive pass.
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               substr(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                      1, {_SNM_KEYLEN}) AS k,
               list_distinct([array_to_string(t[i:i+1], ' ')
                              for i in range(1, len(t) - 1 + 1)]) AS ss
        FROM (SELECT doc_id, text, string_split(trim(text), ' ') AS t
              FROM documents)
        WHERE len(t) >= 2
    ),
    r AS (
        SELECT doc_id, k, ss,
               row_number() OVER (ORDER BY k, doc_id) AS rn
        FROM d
    ),
    cand AS (
        SELECT a.doc_id AS src, b.doc_id AS dst,
               CAST(len(list_intersect(a.ss, b.ss)) AS BIGINT) AS inter,
               CAST(len(a.ss) AS BIGINT) AS na,
               CAST(len(b.ss) AS BIGINT) AS nb
        FROM r a JOIN r b
          ON b.rn BETWEEN a.rn + 1 AND a.rn + {_SNM_W}
    )
    SELECT src, dst,
           CAST(inter * 1000000 // (na + nb - inter) AS BIGINT)
               AS jaccard_micro
    FROM cand
    WHERE inter * 2 >= na + nb - inter
    """,
)
def dedup_sorted_neighborhood_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sorted-Neighborhood dedup candidates: sort every document by a
    normalized {kl}-char key prefix, slide a w={w} window down the
    sort order, verify each in-window pair with exact bigram Jaccard
    (emit ≥ 0.5). The third classic candidate generator in the dedup
    family — LSH banding (`dedup_minhash_lsh_pairs`) recalls
    scattered near-dups probabilistically, prefix filtering
    (`dedup_jaccard_prefix_pairs`) bounds exactly but needs token
    sort, and SNM is the cheap deterministic pass that catches the
    dominant real-world case: near-dups that share a PREFIX (mirrors,
    re-crawls, versioned pages). Candidates are n·w — linear.

    Scale shape: the global sort uses the exact-global-rank operator
    (range repartition + partition offsets, no single-partition
    window); the window expansion is a rank-banded equi-join (offset
    relation broadcast, {w} rows); verification touches candidate
    pairs only, each materialized exactly once since rank differences
    are unique. At 100 TB this is one range shuffle + a co-ranged
    join — the multi-pass multi-key SNM variant repeats the same plan
    per key.""".replace("{w}", str(_SNM_W)).replace(
        "{kl}", str(_SNM_KEYLEN)
    )
    from rust_cdc_spark.operators.ranks import with_global_rank

    docs = load_table(spark, "documents", sf_dir)
    d = (
        docs.select(
            "doc_id",
            F.substring(
                F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "),
                1, _SNM_KEYLEN,
            ).alias("k"),
            F.expr("split(trim(text), ' ')").alias("t"),
        )
        .filter(F.size("t") >= 2)
        .select(
            "doc_id", "k",
            F.expr(
                "array_distinct(transform(sequence(1, size(t) - 1),"
                " i -> concat_ws(' ', t[i - 1], t[i])))"
            ).alias("ss"),
        )
    )
    r = with_global_rank(d, [F.col("k"), F.col("doc_id")], rank_col="rn")
    offs = spark.range(1, _SNM_W + 1).select(
        F.col("id").cast("long").alias("off")
    )
    a = r.select(
        F.col("doc_id").alias("src"), F.col("ss").alias("ssa"),
        F.col("rn").alias("rna"),
    ).crossJoin(F.broadcast(offs)).withColumn(
        "rnb", F.col("rna") + F.col("off")
    )
    b = r.select(
        F.col("doc_id").alias("dst"), F.col("ss").alias("ssb"),
        F.col("rn").alias("rnb"),
    )
    cand = a.join(b, "rnb").select(
        "src", "dst",
        F.size(F.array_intersect("ssa", "ssb")).cast("long")
        .alias("inter"),
        F.size("ssa").cast("long").alias("na"),
        F.size("ssb").cast("long").alias("nb"),
    )
    return cand.filter(
        F.col("inter") * 2 >= F.col("na") + F.col("nb") - F.col("inter")
    ).select(
        "src", "dst",
        F.expr("inter * 1000000 div (na + nb - inter)").cast("long")
        .alias("jaccard_micro"),
    )
