"""Retrieval scoring & semantic curation — the search side of a
training-data pipeline.

A 100 TB corpus is not just deduped and filtered; it is *queried*:
benchmark decontamination, example mining, and RAG ingestion all need
lexical ranking (BM25/TF-IDF), semantic ranking (embedding cosine), rank
fusion of the two, and model-based quality scores (an n-gram LM standing
in for the CCNet perplexity filter). SemDeDup-style pruning closes the
loop: cluster embeddings, drop near-identical members within a cluster.

Everything here is oracle-checked value-for-value against DuckDB. The
float discipline is stricter than round-at-the-end: every per-item score
is quantized to an integer micro-unit (``round(x * 1e6)`` → BIGINT)
*before* any cross-row sum, so aggregation order — which Spark and DuckDB
do not share — cannot perturb a single bit. Ranks order by the micro
integer with an id tie-break, never by a raw double.

Scale shapes (the part that must survive 1000 executors):
- BM25 computes per-query-term tf with codegen array filters in the SAME
  map stage that computes doc length — no token explode, no join, for a
  bounded query-term set. The only shuffles are a |terms|-row df agg, a
  scalar agg, and the per-doc score sum.
- TF-IDF explodes tokens once; doc length rides the (doc, token) groupBy
  as a functionally-dependent key instead of paying a per-doc join.
- The bigram LM is two corpus-keyed hash aggs (bigram model, unigram
  backoff) and one co-keyed big-big join of instances to the model —
  key-partitioned all the way; the model is never collected.
- SemDeDup pairs only within a cluster: K grows with the corpus, member
  count per cluster stays ~constant, so the quadratic term is bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rust_cdc_spark.functions import vectors as V
from rust_cdc_spark.operators.ranks import exact_global_ntile, pin
from rust_cdc_spark.queries import register
from rust_cdc_spark.queries.training import _assign_nearest, _centroid_sql
from rust_cdc_spark.sources.tables import load_table

# Fixed knobs — shared verbatim with the oracles.
_QUERY_TERMS = ("hash", "join", "vector")  # the probe query, lexical side
_K1, _B = 1.2, 0.75  # BM25 shape parameters (Robertson defaults)
_TOP = 10  # emitted ranking rows
_RRF_K = 60  # reciprocal-rank-fusion damping constant
_RRF_POOL = 100  # per-list candidate pool before fusion
_TFIDF_TOP = 3  # emitted terms per document
_SEM_TAU = 0.35  # SemDeDup within-cluster cosine prune threshold
# SemDeDup's K must grow with the corpus so per-cluster membership (and
# the Σ|c|² pair cost) stays bounded — 64 here vs the 8 the seed-centroid
# profile queries use. Measured at sf0.1 (2000 vecs): K=8 → ~250 members,
# ~250k pairs, 8.1 s; K=64 + precomputed norms → ~31 members, ~31k
# pairs, sub-second.
_SEM_K = 64

_TOKS_SQL = "list_transform(string_split(trim(text), ' '), t -> lower(t))"
_TOKS_SPARK = "transform(split(trim(text), ' '), t -> lower(t))"


def _bm25_micro_sql() -> str:
    """DuckDB CTE chain ending in ``bm25(doc_id, micro)`` — BM25 score in
    integer micro-units per matching document."""
    terms = ", ".join(f"'{t}'" for t in _QUERY_TERMS)
    return f"""
    base AS (
        SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    tf AS (
        SELECT b.doc_id, len(b.toks) AS dl, q.term,
               len(list_filter(b.toks, x -> x = q.term)) AS tf
        FROM base b CROSS JOIN (SELECT unnest([{terms}]) AS term) q
    ),
    dfx AS (
        SELECT term, count(*) AS df FROM tf WHERE tf > 0 GROUP BY term
    ),
    scal AS (
        SELECT count(*) AS n_docs, avg(dl) AS avgdl
        FROM (SELECT DISTINCT doc_id, dl FROM tf)
    ),
    contrib AS (
        SELECT t.doc_id,
               CAST(round(
                   ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * t.tf * ({_K1} + 1)
                   / (t.tf + {_K1} * (1 - {_B} + {_B} * t.dl / s.avgdl))
                   * 1e6) AS BIGINT) AS micro
        FROM tf t JOIN dfx d USING (term) CROSS JOIN scal s
        WHERE t.tf > 0
    ),
    bm25 AS (
        SELECT doc_id, sum(micro) AS micro FROM contrib GROUP BY doc_id
    )
    """


def _bm25_micro(docs: DataFrame) -> DataFrame:
    """(doc_id, micro): BM25 of the fixed probe query in micro-units.

    One map stage computes doc length AND per-term tf with codegen array
    filters (`F.filter` + `size`) — the token array is never exploded and
    the corpus side never joins for lengths. df per term (|terms| rows)
    and the (n_docs, avgdl) scalars are broadcast back; the score is
    quantized per (doc, term), then summed per doc as integers."""
    base = docs.select(
        "doc_id",
        F.expr(_TOKS_SPARK).alias("toks"),
    ).select(
        "doc_id",
        F.size("toks").alias("dl"),
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("term"),
                        F.size(
                            F.filter(F.col("toks"), lambda x: x == F.lit(t))
                        ).alias("tf"),
                    )
                    for t in _QUERY_TERMS
                ]
            )
        ),
    )
    dfx = base.filter(F.col("tf") > 0).groupBy("term").agg(
        F.count("*").alias("df")
    )
    scal = base.filter(F.col("term") == _QUERY_TERMS[0]).agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    idf = F.log(
        F.lit(1)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + _K1 * (
        1 - _B + _B * F.col("dl") / F.col("avgdl")
    )
    contrib = (
        base.filter(F.col("tf") > 0)
        .join(F.broadcast(dfx), "term")
        .crossJoin(F.broadcast(scal))
        .select(
            "doc_id",
            F.round(idf * F.col("tf") * (_K1 + 1) / denom * 1e6)
            .cast("bigint")
            .alias("micro"),
        )
    )
    return contrib.groupBy("doc_id").agg(F.sum("micro").alias("micro"))


@register(
    "retrieval_bm25_topk",
    oracle=f"""
    WITH {_bm25_micro_sql()},
    ranked AS (
        SELECT doc_id, micro,
               row_number() OVER (ORDER BY micro DESC, doc_id) AS rank
        FROM bm25
    )
    SELECT doc_id, CAST(rank AS BIGINT) AS rank,
           round(micro / 1e6, 6) AS bm25
    FROM ranked WHERE rank <= {_TOP}
    """,
)
def retrieval_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} documents by BM25 for the fixed probe query — the lexical
    ranking primitive of decontamination and example-mining sweeps.

    Top-k is orderBy+limit (TakeOrderedAndProject: per-partition heaps,
    no global sort); the rank window then runs over ≤ k rows. Ordering is
    on the integer micro score with a doc_id tie-break — rank is
    engine-stable by construction."""
    scores = _bm25_micro(load_table(spark, "documents", sf_dir))
    top = scores.orderBy(F.col("micro").desc(), "doc_id").limit(_TOP)
    return top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("micro").desc(), "doc_id"))
        .cast("bigint")
        .alias("rank"),
        F.round(F.col("micro") / 1e6, 6).alias("bm25"),
    )


@register(
    "retrieval_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, len({_TOKS_SQL}) AS dl, unnest({_TOKS_SQL}) AS token
        FROM documents
    ),
    tf AS (
        SELECT doc_id, dl, token, count(*) AS tf
        FROM tok GROUP BY doc_id, dl, token
    ),
    dfx AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    scal AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT t.doc_id, t.token,
               CAST(round(
                   CAST(t.tf AS DOUBLE) / t.dl
                   * ln((s.n_docs + 1.0) / (d.df + 1.0)) * 1e6)
                 AS BIGINT) AS micro
        FROM tf t JOIN dfx d USING (token) CROSS JOIN scal s
    ),
    ranked AS (
        SELECT doc_id, token, micro,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY micro DESC, token) AS term_rank
        FROM scored
    )
    SELECT doc_id, token, CAST(term_rank AS BIGINT) AS term_rank,
           round(micro / 1e6, 6) AS tfidf
    FROM ranked WHERE term_rank <= {_TFIDF_TOP}
    """,
)
def retrieval_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {n} most characteristic terms per document by TF-IDF — the
    per-doc keyword signature used for topic tagging and mixture audits.

    Doc length is functionally dependent on doc_id, so it rides the
    (doc, token) groupBy as a key instead of a per-doc join. The df table
    joins on token (post-agg, AQE decides broadcast vs shuffle); the
    per-doc top-n window is key-partitioned on doc_id."""
    docs = load_table(spark, "documents", sf_dir)
    # Two-step projection on purpose: materialize the token array in its
    # own Project before the Generate. With `size(<split expr>)` as a
    # sibling of explode(<split expr>) in ONE select, Spark re-evaluates
    # the sibling expression per *exploded* row (the Project sits above
    # Generate) — measured 2.9 s vs 0.23 s at sf0.1 (12×).
    pre = docs.select("doc_id", F.expr(_TOKS_SPARK).alias("toks"))
    tok = pre.select(
        "doc_id",
        F.size("toks").alias("dl"),
        F.explode("toks").alias("token"),
    )
    tf = tok.groupBy("doc_id", "dl", "token").agg(F.count("*").alias("tf"))
    dfx = tf.groupBy("token").agg(F.count("*").alias("df"))
    scal = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfx, "token")
        .crossJoin(F.broadcast(scal))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf").cast("double")
                / F.col("dl")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
                * 1e6
            )
            .cast("bigint")
            .alias("micro"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("micro").desc(), "token")
    return (
        scored.withColumn("term_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("term_rank") <= _TFIDF_TOP)
        .select(
            "doc_id",
            "token",
            "term_rank",
            F.round(F.col("micro") / 1e6, 6).alias("tfidf"),
        )
    )


_COS_PROBE_SQL = """
    probe AS (
        SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS pv
        FROM embeddings WHERE vec_id = 0
    ),
    sem_scored AS (
        SELECT e.vec_id,
               CAST(round(
                 list_dot_product(
                     list_transform(e.embedding, x -> CAST(x AS DOUBLE)), p.pv)
                 / (sqrt(list_dot_product(
                        list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                        list_transform(e.embedding, x -> CAST(x AS DOUBLE))))
                    * sqrt(list_dot_product(p.pv, p.pv)))
                 * 1e6) AS BIGINT) AS cmicro
        FROM embeddings e CROSS JOIN probe p
    )
"""


@register(
    "retrieval_rrf_fusion",
    oracle=f"""
    WITH {_bm25_micro_sql()},
    lex AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY micro DESC, doc_id) AS lex_rank
        FROM bm25
        ORDER BY micro DESC, doc_id LIMIT {_RRF_POOL}
    ),
    {_COS_PROBE_SQL.strip().lstrip()},
    sem AS (
        SELECT vec_id AS doc_id,
               row_number() OVER (ORDER BY cmicro DESC, vec_id) AS sem_rank
        FROM sem_scored
        ORDER BY cmicro DESC, vec_id LIMIT {_RRF_POOL}
    ),
    fused AS (
        SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
               l.lex_rank, s.sem_rank,
               coalesce(CAST(round(1e6 / ({_RRF_K} + l.lex_rank)) AS BIGINT), 0)
             + coalesce(CAST(round(1e6 / ({_RRF_K} + s.sem_rank)) AS BIGINT), 0)
                   AS rrf_micro
        FROM lex l FULL OUTER JOIN sem s USING (doc_id)
    ),
    ranked AS (
        SELECT doc_id, lex_rank, sem_rank, rrf_micro,
               row_number() OVER (ORDER BY rrf_micro DESC, doc_id) AS rank
        FROM fused
    )
    SELECT doc_id, CAST(rank AS BIGINT) AS rank,
           round(rrf_micro / 1e6, 6) AS rrf_score,
           CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(sem_rank AS BIGINT) AS sem_rank
    FROM ranked WHERE rank <= {_TOP}
    """,
)
def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the lexical (BM25) and semantic
    (embedding-cosine vs the vec_id=0 probe) rankings — the standard way
    a hybrid retrieval pipeline combines the two signals without score
    calibration: rrf = Σ 1/(k + rank).

    Both candidate pools are top-{_RRF_POOL} TakeOrdered heaps; rank
    windows run over ≤ pool rows; the fusion join is pool-sized (tiny).
    Rank contributions are integers (round(1e6/(k+r))), so fusion order
    is engine-exact. doc_id and vec_id share the id space (TESTDATA.md),
    standing in for a corpus with both a text and an embedding column."""
    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    lex_pool = (
        _bm25_micro(docs)
        .orderBy(F.col("micro").desc(), "doc_id")
        .limit(_RRF_POOL)
    )
    lex = lex_pool.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("micro").desc(), "doc_id"))
        .alias("lex_rank"),
    )
    probe = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("pv")
    )
    sem_pool = (
        emb.crossJoin(F.broadcast(probe))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(V.cosine(F.col("embedding"), F.col("pv")) * 1e6)
            .cast("bigint")
            .alias("cmicro"),
        )
        .orderBy(F.col("cmicro").desc(), "doc_id")
        .limit(_RRF_POOL)
    )
    sem = sem_pool.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("cmicro").desc(), "doc_id"))
        .alias("sem_rank"),
    )
    rrf_part = lambda r: F.coalesce(  # noqa: E731
        F.round(F.lit(1e6) / (_RRF_K + r)).cast("bigint"), F.lit(0)
    )
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "sem_rank",
        (rrf_part(F.col("lex_rank")) + rrf_part(F.col("sem_rank"))).alias(
            "rrf_micro"
        ),
    )
    top = fused.orderBy(F.col("rrf_micro").desc(), "doc_id").limit(_TOP)
    return top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("rrf_micro").desc(), "doc_id"))
        .cast("bigint")
        .alias("rank"),
        F.round(F.col("rrf_micro") / 1e6, 6).alias("rrf_score"),
        F.col("lex_rank").cast("bigint").alias("lex_rank"),
        F.col("sem_rank").cast("bigint").alias("sem_rank"),
    )


_BIGRAM_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ),
    bg AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM toks, LATERAL unnest(range(1, len(t))) AS r(i)
        WHERE len(t) >= 2
    ),
    cbi AS (SELECT w1, w2, count(*) AS c_bi FROM bg GROUP BY w1, w2),
    cw AS (SELECT w1, sum(c_bi) AS c_w1 FROM cbi GROUP BY w1),
    vsz AS (
        SELECT count(DISTINCT token) AS v
        FROM (SELECT unnest(t) AS token FROM toks)
    ),
    inst AS (
        SELECT b.doc_id,
               CAST(round(
                   ln((m.c_bi + 1.0) / (w.c_w1 + s.v)) * 1e6) AS BIGINT)
                   AS micro
        FROM bg b
        JOIN cbi m USING (w1, w2)
        JOIN cw w USING (w1)
        CROSS JOIN vsz s
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(micro) AS BIGINT) AS sum_logp_micro
    FROM inst GROUP BY doc_id
    """


@register("text_bigram_logprob", oracle=_BIGRAM_ORACLE)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram LM with add-one smoothing, scoring every
    document's mean token log-probability — the cheap stand-in for the
    CCNet/KenLM perplexity filter that buckets documents by fluency
    before pretraining. p(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V).

    Scale shape: one bigram explode; the model is two hash aggs (bigram
    counts, then unigram backoff summed FROM the bigram table — never a
    second corpus pass); instances re-join the model on (w1,w2) — a
    co-keyed big-big shuffle join, model never collected; V is a scalar
    agg. Each instance's log-prob is quantized to integer micro-units
    before the per-doc sum, so cross-engine aggregation order is moot
    and the per-doc output is an exact integer (no rounded quotient —
    see inline note)."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select("doc_id", F.expr(_TOKS_SPARK).alias("t"))
    bg = toks.filter(F.size("t") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 2),"
                " i -> struct(t[i] AS w1, t[i + 1] AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    cbi = bg.groupBy("w1", "w2").agg(F.count("*").alias("c_bi"))
    # Backoff count attached to the MODEL table (a w1-keyed window over
    # the vocab-scale bigram counts), not joined to the instances: the
    # previous bg⋈cbi⋈cw chain re-shuffled the corpus-scale instance
    # table a second time by w1 — enriching cbi first keeps that work
    # at model scale and leaves ONE corpus-side join shuffle.
    model = cbi.withColumn(
        "c_w1", F.sum("c_bi").over(Window.partitionBy("w1"))
    )
    vsz = toks.select(F.explode("t").alias("token")).agg(
        F.countDistinct("token").alias("v")
    )
    inst = (
        bg.join(model, ["w1", "w2"])
        .crossJoin(F.broadcast(vsz))
        .select(
            "doc_id",
            F.round(
                F.log((F.col("c_bi") + 1.0) / (F.col("c_w1") + F.col("v")))
                * 1e6
            )
            .cast("bigint")
            .alias("micro"),
        )
    )
    return inst.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        # integer micro-sum, NOT round(sum/1e6/n, 6): rounding that
        # quotient diverged at sf0.1 (Spark rounds the double's exact
        # decimal value, DuckDB scales by 10^6 in float first — the
        # half-point landed on different sides). Consumers derive the
        # mean as sum_logp_micro / 1e6 / n_bigrams.
        F.sum("micro").cast("bigint").alias("sum_logp_micro"),
    )


_KN_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ),
    bg AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM toks, LATERAL unnest(range(1, len(t))) AS r(i)
        WHERE len(t) >= 2
    ),
    cbi AS (SELECT w1, w2, count(*) AS c_bi FROM bg GROUP BY w1, w2),
    m AS (
        SELECT w1, w2, c_bi,
               sum(c_bi) OVER (PARTITION BY w1) AS c_w1,
               count(*) OVER (PARTITION BY w1) AS n1_w1,
               count(*) OVER (PARTITION BY w2) AS n1_w2
        FROM cbi
    ),
    tot AS (SELECT count(*) AS ntot FROM cbi),
    inst AS (
        SELECT b.doc_id,
               CAST(round(ln(
                   CAST((4 * m.c_bi - 3) * t.ntot
                        + 3 * m.n1_w1 * m.n1_w2 AS DOUBLE)
                   / CAST(4 * m.c_w1 * t.ntot AS DOUBLE)) * 1e6)
                   AS BIGINT) AS micro
        FROM bg b JOIN m USING (w1, w2) CROSS JOIN tot t
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(micro) AS BIGINT) AS sum_kn_logp_micro
    FROM inst GROUP BY doc_id
    """


@register("text_kneser_ney_bigram", oracle=_KN_ORACLE)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM (D=0.75) scoring every
    document — the smoothing KenLM actually uses, and therefore the
    faithful stand-in for the CCNet perplexity filter (add-one, the
    sibling `text_bigram_logprob`, systematically over-penalizes rare
    continuations; KN backs off to CONTINUATION counts — "how many
    contexts does w2 follow" — which is what separates fluent rare
    text from gibberish). P(w2|w1) = (c-D)/c(w1·) + D·N1+(w1·)/c(w1·)
    · N1+(·w2)/N1+(··) for observed bigrams (c ≥ 1, so the max(·,0)
    clamp is vacuous on instances).

    Scale shape: identical exchange budget to `text_bigram_logprob` —
    one bigram explode, ONE model hash-agg (all three KN statistics
    are vocab-scale windows OVER the bigram-count table: c(w1·) and
    N1+(w1·) partition by w1, N1+(·w2) by w2 — never a second corpus
    pass), one co-keyed instance⋈model join, one scalar type count.
    With D=3/4 the probability is the exact integer rational
    ((4c−3)·Ntot + 3·N1w1·N1w2) / (4·c_w1·Ntot); both engines perform
    ONE double division and ONE ln on identical BIGINTs before the
    micro round, so the only cross-engine surface is libm's ln at
    1e-6 — same tolerance class the add-one LM has run green since
    round 3. Int64 bound: (4c)·Ntot ≤ 4·|bigram instances|·|types|,
    fine through ~sf100; shard the model stats beyond that."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select("doc_id", F.expr(_TOKS_SPARK).alias("t"))
    bg = toks.filter(F.size("t") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 2),"
                " i -> struct(t[i] AS w1, t[i + 1] AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    cbi = bg.groupBy("w1", "w2").agg(F.count("*").alias("c_bi"))
    model = (
        cbi.withColumn("c_w1", F.sum("c_bi").over(Window.partitionBy("w1")))
        .withColumn("n1_w1", F.count("*").over(Window.partitionBy("w1")))
        .withColumn("n1_w2", F.count("*").over(Window.partitionBy("w2")))
    )
    tot = cbi.agg(F.count("*").alias("ntot"))
    model = model.crossJoin(F.broadcast(tot))
    inst = bg.join(model, ["w1", "w2"]).select(
        "doc_id",
        F.round(
            F.log(
                (
                    (4 * F.col("c_bi") - 3) * F.col("ntot")
                    + 3 * F.col("n1_w1") * F.col("n1_w2")
                ).cast("double")
                / (4 * F.col("c_w1") * F.col("ntot")).cast("double")
            )
            * 1e6
        )
        .cast("bigint")
        .alias("micro"),
    )
    return inst.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.sum("micro").cast("bigint").alias("sum_kn_logp_micro"),
    )


@register(
    "semantic_dedup_prune",
    oracle=f"""
    WITH {_centroid_sql(_SEM_K)},
    a AS (
        SELECT s.vec_id, s.cid,
               list_transform(e.embedding, v -> CAST(v AS DOUBLE)) AS ev,
               sqrt(list_dot_product(
                   list_transform(e.embedding, v -> CAST(v AS DOUBLE)),
                   list_transform(e.embedding, v -> CAST(v AS DOUBLE))))
                   AS nrm
        FROM assigned s JOIN embeddings e USING (vec_id)
        WHERE s.rn = 1
    ),
    pairs AS (
        SELECT y.vec_id AS vb
        FROM a x
        JOIN a y ON x.cid = y.cid AND x.vec_id < y.vec_id
        WHERE list_dot_product(x.ev, y.ev) / (x.nrm * y.nrm) >= {_SEM_TAU}
    ),
    pruned AS (SELECT DISTINCT vb FROM pairs)
    SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster_id,
           (p.vb IS NULL) AS is_kept
    FROM a LEFT JOIN pruned p ON a.vec_id = p.vb
    """,
)
def semantic_dedup_prune(
    spark: SparkSession, sf_dir: str, k: int = _SEM_K
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) shape: assign every embedding to its
    nearest seed centroid, then within each cluster prune any member
    whose cosine to a lower-id member exceeds τ — semantic near-dup
    removal whose pairwise term is confined to a cluster.

    Scale shape: the assignment is the shared broadcast-argmin
    (`training._assign_nearest`) with K=64 — K must scale with the
    corpus so per-cluster membership stays ~constant (that is SemDeDup's
    entire point) and the cid-equi-keyed pair join's Σ|cluster|² cost
    stays linear-ish; vector norms are computed ONCE per vector in the
    map stage before the join (not per pair); the prune rule is a
    distinct + left anti — no global structure, no iteration."""
    emb = load_table(spark, "embeddings", sf_dir)
    # K is the SemDeDup sizing lever: scale it with the corpus so
    # per-cluster membership stays ~constant and the cid-keyed pair
    # join's Σ|cluster|² term stays linear-ish (measured in SCALE.md;
    # the oracle pins the default).
    assign = _assign_nearest(emb, k=k).select("vec_id", "cid")
    withv = assign.join(emb.select("vec_id", "embedding"), "vec_id").select(
        "vec_id",
        "cid",
        F.col("embedding").alias("ev"),
        V.norm(F.col("embedding")).alias("nrm"),
    )
    x = withv.select(
        F.col("vec_id").alias("va"),
        "cid",
        F.col("ev").alias("ea"),
        F.col("nrm").alias("na"),
    )
    y = withv.select(
        F.col("vec_id").alias("vb"),
        F.col("cid").alias("cid_b"),
        F.col("ev").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    pruned = (
        x.join(
            y,
            (F.col("cid") == F.col("cid_b")) & (F.col("va") < F.col("vb")),
        )
        .filter(
            V.dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
            >= _SEM_TAU
        )
        .select("vb")
        .distinct()
    )
    return assign.join(
        pruned, assign["vec_id"] == pruned["vb"], "left"
    ).select(
        "vec_id",
        F.col("cid").cast("bigint").alias("cluster_id"),
        F.col("vb").isNull().alias("is_kept"),
    )


@register(
    "perplexity_filter_buckets",
    oracle=f"""
    WITH base AS ({_BIGRAM_ORACLE})
    SELECT doc_id, n_bigrams, sum_logp_micro, fluency_decile,
           (fluency_decile <= 8) AS keep
    FROM (
        SELECT doc_id, n_bigrams, sum_logp_micro,
               CAST(ntile(10) OVER (
                   ORDER BY CAST(sum_logp_micro AS DOUBLE) / n_bigrams
                            DESC, doc_id) AS INT) AS fluency_decile
        FROM base
    )
    """,
)
def perplexity_filter_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet-style perplexity filter's bucketing stage: documents
    rank by mean bigram-LM log-probability (the text_bigram_logprob
    scores — higher = more fluent) and split into exact deciles;
    ``keep`` drops the two least-fluent deciles, the head/middle/tail
    cut CCNet makes before pretraining.

    Determinism: the ordering key is one correctly-rounded IEEE
    division of two exact integers (sum_logp_micro / n_bigrams), so
    both engines order identically, with a doc_id tie-break; ntile
    splits are the SQL-standard sizes in both engines. Scale note:
    deciles come from `exact_global_ntile` (operators/ranks.py) —
    range-repartition + per-partition row_number + partition offsets —
    so the doc-level frame is never funneled through one partition;
    exact at any corpus size with fully parallel sort."""
    base = text_bigram_logprob(spark, sf_dir)
    d = exact_global_ntile(
        base,
        [
            (
                F.col("sum_logp_micro").cast("double") / F.col("n_bigrams")
            ).desc(),
            F.col("doc_id"),
        ],
        10,
        "fluency_decile",
    )
    return d.select(
        "doc_id", "n_bigrams", "sum_logp_micro", "fluency_decile"
    ).withColumn("keep", F.col("fluency_decile") <= 8)


_PMI_MIN_COUNT = 5
_PMI_TOP = 50


@register(
    "collocation_pmi_top",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    bg AS (
        SELECT u.w1, u.w2
        FROM toks, unnest(list_transform(range(1, len(t)),
                 i -> {{'w1': t[i], 'w2': t[i + 1]}})) AS v(u)
        WHERE len(t) >= 2
    ),
    cbi AS (SELECT w1, w2, count(*) AS c_bi FROM bg GROUP BY w1, w2),
    uni AS (
        SELECT token, count(*) AS c_w
        FROM (SELECT unnest(t) AS token FROM toks)
        GROUP BY token
    ),
    tot AS (
        SELECT (SELECT count(*) FROM bg) AS nb,
               (SELECT CAST(sum(len(t)) AS BIGINT) FROM toks) AS nt
    )
    SELECT w1, w2, CAST(c_bi AS BIGINT) AS c_bi,
           CAST(round(ln(CAST(c_bi AS DOUBLE) * nt * nt
                         / (CAST(nb AS DOUBLE) * u1.c_w * u2.c_w)) * 1e6)
                AS BIGINT) AS pmi_micro
    FROM cbi
    JOIN uni u1 ON cbi.w1 = u1.token
    JOIN uni u2 ON cbi.w2 = u2.token
    CROSS JOIN tot
    WHERE c_bi >= {_PMI_MIN_COUNT}
    ORDER BY pmi_micro DESC, w1, w2
    LIMIT {_PMI_TOP}
    """,
)
def collocation_pmi_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: the corpus's top bigrams by pointwise
    mutual information, PMI = ln(p(w1,w2) / (p(w1)·p(w2))) — the
    standard phrase-mining signal (vocabulary induction, tokenizer
    pre-merges, stopword-free keyphrases). A min-count floor keeps
    rare-pair noise out (PMI is maximal for hapax pairs). PMI is
    quantized to integer micro-nats (same discipline as the bigram
    LM): one ln per PAIR, rounded once — no float aggregation exists
    anywhere, so ordering is engine-stable with a (w1, w2) tie-break.

    Scale shape: one bigram explode → pair hash agg (map-side
    partials); unigram counts from a token hash agg; the model joins
    are word-keyed (bounded by vocab, not corpus); scalar totals
    broadcast; the final top-k is TakeOrdered (no global sort). The
    pair table is Zipf-bounded — the same corpus profile the BPE
    trainer exploits."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select("doc_id", F.expr(_TOKS_SPARK).alias("t"))
    bg = toks.filter(F.size("t") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 2),"
                " i -> struct(t[i] AS w1, t[i + 1] AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    cbi = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").alias("c_bi"))
        .filter(F.col("c_bi") >= _PMI_MIN_COUNT)
    )
    uni = toks.select(F.explode("t").alias("token")).groupBy("token").agg(
        F.count("*").alias("c_w")
    )
    # Both scalar totals from ONE pass over the token arrays — nb as a
    # per-doc length sum (Σ max(len-1, 0)), never a second run of the
    # corpus-scale bigram explode just to count its rows.
    tot = toks.agg(
        F.sum(
            F.when(F.size("t") >= 2, F.size("t") - 1).otherwise(0)
        ).cast("bigint").alias("nb"),
        F.sum(F.size("t")).cast("bigint").alias("nt"),
    )
    u1 = uni.select(F.col("token").alias("w1"), F.col("c_w").alias("c_w1"))
    u2 = uni.select(F.col("token").alias("w2"), F.col("c_w").alias("c_w2"))
    scored = (
        cbi.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("c_bi").cast("bigint").alias("c_bi"),
            F.round(
                F.log(
                    F.col("c_bi").cast("double")
                    * F.col("nt") * F.col("nt")
                    / (F.col("nb").cast("double")
                       * F.col("c_w1") * F.col("c_w2"))
                )
                * 1e6
            )
            .cast("bigint")
            .alias("pmi_micro"),
        )
    )
    return scored.orderBy(
        F.desc("pmi_micro"), "w1", "w2"
    ).limit(_PMI_TOP)


from rust_cdc_spark.queries import ann_replay as _AR  # noqa: E402


@register(
    "retrieval_mmr_rerank",
    oracle=_AR.mmr_replay_sql(probe_ids=(0, 1, 2), pool=8, k=4),
)
def retrieval_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversity re-rank (Carbonell &
    Goldstein 1998): from each probe's top-8 relevance pool, greedily
    select 4 results maximizing λ·rel − (1−λ)·max-sim-to-selected with
    λ = 0.7 — the post-retrieval step that keeps a result page (or a
    k-shot example set) from being four near-duplicates of the best
    hit. Greedy argmax is the classic cross-engine divergence trap, so
    the arithmetic is exact-integer end to end (micro-unit BIGINT dots,
    integer λ weights 7/3, cand_id tie-break) and the DuckDB oracle
    replays every selection round as unrolled CTEs
    (``ann_replay.mmr_replay_sql``) — the greedy *training-free
    iteration* is value-hash-checked, the same discipline as the
    PQ/IVF/PCA/logistic replays.

    Scale shape: ONE scored corpus scan (broadcast probes, codegen
    integer folds) + a per-query pool window; the pool
    (|probes|·8 rows) is pinned, so the 4 greedy rounds are
    constant-size joins that never re-touch the corpus."""
    from rust_cdc_spark.operators import mmr as MMR

    emb = load_table(spark, "embeddings", sf_dir)
    return MMR.mmr_rerank(emb, probe_ids=(0, 1, 2), pool=8, k=4)


_MAXSIM_DIM = 16  # hash-embedding dimensionality (sign bits)
_MAXSIM_QTOK = 8  # query tokens per probe
_MAXSIM_K = 10  # results per probe
_MAXSIM_PROBES = (0, 1, 2)


@register(
    "retrieval_maxsim_topk",
    oracle=f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, lower(t) AS token
        FROM documents, LATERAL unnest(string_split(trim(text), ' ')) AS u(t)
    ),
    h AS (
        SELECT doc_id, token,
               CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) & 65535
                   AS ht
        FROM tok
    ),
    qt AS (
        SELECT doc_id AS query_id, ht AS qh
        FROM (
            SELECT doc_id, ht,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY token) AS rn
            FROM h WHERE doc_id IN {_MAXSIM_PROBES}
        ) WHERE rn <= {_MAXSIM_QTOK}
    ),
    best AS (
        SELECT q.query_id, h.doc_id, q.qh,
               CAST(min(bit_count(xor(h.ht, q.qh))) AS BIGINT) AS min_ham
        FROM h CROSS JOIN qt q
        WHERE h.doc_id != q.query_id
        GROUP BY 1, 2, 3
    ),
    scored AS (
        SELECT query_id, doc_id,
               CAST(sum({_MAXSIM_DIM} - 2 * min_ham) AS BIGINT) AS maxsim
        FROM best GROUP BY 1, 2
    )
    SELECT query_id, doc_id, maxsim, CAST(rn AS INT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY maxsim DESC, doc_id) AS rn
        FROM scored
    ) WHERE rn <= {_MAXSIM_K}
    """,
)
def retrieval_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (ColBERT-style) retrieval with hash
    embeddings: every token gets a deterministic {_MAXSIM_DIM}-bit
    sign vector from md5 (feature hashing), and a document's score
    against a query is MaxSim — for each query token, the best-
    matching document token's similarity, summed over query tokens
    (Khattab & Zaharia 2020). Sign-vector dot products collapse to
    bit algebra: dot = dim − 2·popcount(xor), so the entire scorer is
    exact-integer XOR+popcount — no floats, bit-identical in DuckDB.
    Query = the 8 lexicographically-first distinct tokens of each
    probe document.

    Scale shape: ONE distinct-(doc,token) aggregate feeds everything;
    the 24-row query-token table broadcasts; per-(query,doc,qtoken)
    min and per-(query,doc) sum are hash aggs with map-side partials
    (key spaces linear in the corpus); top-k is a rank window over
    per-query score tables. At 100 TB the byte cost per candidate is
    2 B (one 16-bit pattern), ~1000× below shipping float token
    embeddings — the reason hash late-interaction is a feasible
    first-stage ranker at web scale.""".replace(
        "{_MAXSIM_DIM}", str(_MAXSIM_DIM)
    )
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr("transform(split(trim(text), ' '), t -> lower(t))")
            )
        ).alias("token"),
    ).distinct()
    h = tok.select(
        "doc_id",
        "token",
        (
            F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast(
                "long"
            )
            % 65536
        ).alias("ht"),
    )
    wq = Window.partitionBy("doc_id").orderBy("token")
    qt = (
        h.filter(F.col("doc_id").isin(list(_MAXSIM_PROBES)))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _MAXSIM_QTOK)
        .select(F.col("doc_id").alias("query_id"), F.col("ht").alias("qh"))
    )
    # Fold shape, not join shape: collapsing each doc to ONE row of
    # distinct 16-bit patterns first means the per-query-token work
    # (min-hamming over the doc's patterns) runs as codegen array
    # folds on that single row — the corpus is exchanged ONCE
    # (doc-keyed collect_set), instead of shipping every token row
    # ×|query tokens| into a 3-level aggregation (measured 3.4 → 1.5 s
    # at sf0.1, and the exchange payload drops ~24×).
    darr = h.groupBy("doc_id").agg(F.collect_set("ht").alias("hts"))
    # DISTINCT query patterns: two query tokens that collide to the
    # same 16-bit hash contribute ONE MaxSim term (the oracle's
    # GROUP BY query_id, doc_id, qh has exactly these semantics — a
    # collect_list here would sum the colliding pattern twice and
    # break cross-engine parity with ~0.04% probability per probe).
    qarr = qt.groupBy("query_id").agg(
        F.sort_array(F.collect_set("qh")).alias("qhs")
    )
    scored = (
        darr.crossJoin(F.broadcast(qarr))
        .filter(F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            "doc_id",
            F.aggregate(
                F.col("qhs"),
                F.lit(0).cast("long"),
                lambda acc, qh: acc
                + _MAXSIM_DIM
                - 2
                * F.array_min(
                    F.transform(
                        F.col("hts"),
                        lambda ht: F.bit_count(ht.bitwiseXOR(qh)),
                    )
                ),
            ).alias("maxsim"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("maxsim").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= _MAXSIM_K)
        .select("query_id", "doc_id", "maxsim", "rank")
    )


_PRF_FB = 10  # feedback depth (round-1 docs)
_PRF_EXP = 3  # expansion terms adopted
_PRF_TERMS_SQL = ", ".join(f"'{t}'" for t in _QUERY_TERMS)


def _prf_bm25_sql(tf: str, out: str) -> str:
    """CTE pair scoring a dynamic (doc, term, tf) relation with BM25."""
    return f"""
    {out}_df AS (
        SELECT term, count(*) AS df FROM {tf} GROUP BY term
    ),
    {out} AS (
        SELECT t.doc_id,
               sum(CAST(round(
                   ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * t.tf * ({_K1} + 1)
                   / (t.tf + {_K1} * (1 - {_B} + {_B} * t.dl / s.avgdl))
                   * 1e6) AS BIGINT)) AS micro
        FROM {tf} t JOIN {out}_df d USING (term) CROSS JOIN pscal s
        GROUP BY t.doc_id
    )"""


@register(
    "retrieval_prf_expansion",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    pscal AS (
        SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM base
    ),
    t0 AS (SELECT unnest([{_PRF_TERMS_SQL}]) AS term),
    tf1 AS (
        SELECT b.doc_id, len(b.toks) AS dl, q.term,
               len(list_filter(b.toks, x -> x = q.term)) AS tf
        FROM base b CROSS JOIN t0 q
        WHERE len(list_filter(b.toks, x -> x = q.term)) > 0
    ),
    {_prf_bm25_sql("tf1", "bm1")},
    fb AS (SELECT doc_id, micro FROM bm1
           ORDER BY micro DESC, doc_id LIMIT {_PRF_FB}),
    rank1 AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY micro DESC, doc_id)
                   AS base_rank
        FROM fb
    ),
    cand AS (
        SELECT w, CAST(count(*) AS BIGINT) AS tfall
        FROM (SELECT unnest(b.toks) AS w
              FROM base b JOIN fb USING (doc_id))
        WHERE w NOT IN ({_PRF_TERMS_SQL})
        GROUP BY w
    ),
    dfall AS (
        SELECT w, CAST(count(*) AS BIGINT) AS df
        FROM (SELECT DISTINCT doc_id, unnest(toks) AS w FROM base)
        GROUP BY w
    ),
    escore AS (
        SELECT c.w,
               c.tfall * CAST(round(
                   ln((s.n_docs + 1.0) / (d.df + 1.0)) * 1e6) AS BIGINT)
                   AS sm
        FROM cand c JOIN dfall d USING (w) CROSS JOIN pscal s
    ),
    expn AS (SELECT w FROM escore ORDER BY sm DESC, w LIMIT {_PRF_EXP}),
    t2 AS (SELECT term FROM t0 UNION ALL SELECT w FROM expn),
    tf2 AS (
        SELECT b.doc_id, len(b.toks) AS dl, q.term,
               len(list_filter(b.toks, x -> x = q.term)) AS tf
        FROM base b CROSS JOIN t2 q
        WHERE len(list_filter(b.toks, x -> x = q.term)) > 0
    ),
    {_prf_bm25_sql("tf2", "bm2")},
    top2 AS (SELECT doc_id, micro FROM bm2
             ORDER BY micro DESC, doc_id LIMIT {_PRF_FB})
    SELECT t.doc_id,
           CAST(row_number() OVER (ORDER BY t.micro DESC, t.doc_id)
                AS BIGINT) AS rank,
           CAST(t.micro AS BIGINT) AS bm25_micro,
           CAST(r.base_rank AS BIGINT) AS base_rank
    FROM top2 t LEFT JOIN rank1 r USING (doc_id)
    """,
)
def retrieval_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (Rocchio shape): run
    the fixed probe query through BM25, take the top-{fb} feedback
    docs, mine their {ex} highest-scoring non-query terms (feedback
    term frequency × corpus idf — both exact integers), append them to
    the query, and re-rank. `base_rank` shows each round-2 doc's
    round-1 position (NULL = surfaced only by expansion) — the
    recall-lift signal PRF is deployed for.

    Scale shape: BM25 rounds share one tokenized projection; per-term
    tf is a codegen array filter against a BROADCAST term relation (3
    then 6 rows — never an explode of the corpus for scoring); df and
    the (n_docs, avgdl) scalars are model-scale broadcasts. The
    expansion-term mine is the only corpus-wide explode: one
    vocab-keyed distinct + agg (the TF-IDF family's plan), with the
    feedback side semi-join-pruned to {fb} docs first. All rank
    windows run over ≤{fb}-row TakeOrdered heaps; term scores and
    tie-breaks are engine-exact integers.""".replace(
        "{fb}", str(_PRF_FB)
    ).replace("{ex}", str(_PRF_EXP))
    docs = load_table(spark, "documents", sf_dir)
    # "BM25 rounds share one tokenized projection" — enforced, not
    # hoped-for: the r9 static plan re-derived this projection (scan +
    # split + lower) for every consumer — 36 parquet scans in one plan
    # (plans/r09/retrieval_prf_expansion_before.txt; zero exchange
    # reuse). The lazy pinned checkpoint materializes it once per run
    # (guide §5 cache rule; token arrays ≈ corpus bytes, spill-backed)
    # and registers it for release_pinned() so the blocks don't linger
    # across a long single-session sweep (ADVICE r9).
    toks = pin(
        docs.select("doc_id", F.expr(_TOKS_SPARK).alias("toks")), eager=False
    )
    stats = toks.agg(
        F.count("*").alias("n_docs"), F.avg(F.size("toks")).alias("avgdl")
    )

    def bm25_dyn(terms_df: DataFrame) -> DataFrame:
        tf = (
            toks.crossJoin(F.broadcast(terms_df))
            .select(
                "doc_id",
                F.size("toks").alias("dl"),
                "term",
                F.expr("size(filter(toks, x -> x = term))").alias("tf"),
            )
            .filter(F.col("tf") > 0)
        )
        dfx = tf.groupBy("term").agg(F.count("*").alias("df"))
        idf = F.log(
            F.lit(1)
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        denom = F.col("tf") + _K1 * (
            1 - _B + _B * F.col("dl") / F.col("avgdl")
        )
        return (
            tf.join(F.broadcast(dfx), "term")
            .crossJoin(F.broadcast(stats))
            .select(
                "doc_id",
                F.round(idf * F.col("tf") * (_K1 + 1) / denom * 1e6)
                .cast("bigint")
                .alias("micro"),
            )
            .groupBy("doc_id")
            .agg(F.sum("micro").alias("micro"))
        )

    t0 = spark.createDataFrame(
        [(t,) for t in _QUERY_TERMS], ["term"]
    )
    bm1 = bm25_dyn(t0)
    fb = bm1.orderBy(F.col("micro").desc(), "doc_id").limit(_PRF_FB)
    rank1 = fb.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("micro").desc(), "doc_id"))
        .cast("bigint")
        .alias("base_rank"),
    )
    fb_tokens = toks.join(fb.select("doc_id"), "doc_id", "semi").select(
        F.explode("toks").alias("w")
    )
    cand = (
        fb_tokens.filter(~F.col("w").isin(*_QUERY_TERMS))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("tfall"))
    )
    # NOT semi-pruned by cand: a broadcast of the candidate set forces
    # the whole feedback chain to materialize before the explode can
    # start (measured +32% at sf0.1 for a prune that removes almost
    # nothing at this vocab size). At web scale — where the feedback
    # vocabulary IS tiny relative to the corpus vocabulary — reinstate
    # the semi-join; the values are identical either way.
    dfall = (
        toks.select("doc_id", F.explode("toks").alias("w"))
        .distinct()
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("df"))
    )
    escore = (
        cand.join(dfall, "w")
        .crossJoin(F.broadcast(stats))
        .select(
            "w",
            (
                F.col("tfall")
                * F.round(
                    F.log(
                        (F.col("n_docs") + 1.0) / (F.col("df") + 1.0)
                    )
                    * 1e6
                ).cast("bigint")
            ).alias("sm"),
        )
    )
    expn = (
        escore.orderBy(F.col("sm").desc(), "w")
        .limit(_PRF_EXP)
        .select(F.col("w").alias("term"))
    )
    bm2 = bm25_dyn(t0.unionByName(expn))
    top2 = bm2.orderBy(F.col("micro").desc(), "doc_id").limit(_PRF_FB)
    return (
        top2.select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("micro").desc(), "doc_id"))
            .cast("bigint")
            .alias("rank"),
            F.col("micro").cast("bigint").alias("bm25_micro"),
        )
        .join(rank1, "doc_id", "left")
    )


@register(
    "ccnet_perplexity_tails",
    oracle=f"""
    WITH base AS ({_BIGRAM_ORACLE}),
    j AS (
        SELECT b.doc_id, d.lang,
               b.sum_logp_micro // b.n_bigrams AS v
        FROM base b JOIN documents d USING (doc_id)
    ),
    hist AS (SELECT lang, v, count(*) AS c FROM j GROUP BY lang, v),
    cum AS (
        SELECT lang, v,
               sum(c) OVER (PARTITION BY lang ORDER BY v DESC) AS cum
        FROM hist
    ),
    tot AS (SELECT lang, count(*) AS n FROM j GROUP BY lang),
    hcut AS (
        SELECT c.lang, max(c.v) AS h
        FROM cum c JOIN tot t USING (lang)
        WHERE c.cum * 3 >= t.n GROUP BY c.lang
    ),
    mcut AS (
        SELECT c.lang, max(c.v) AS m
        FROM cum c JOIN tot t USING (lang)
        WHERE c.cum * 3 >= 2 * t.n GROUP BY c.lang
    ),
    lab AS (
        SELECT j.lang, j.v,
               CASE WHEN j.v >= h.h THEN 'head'
                    WHEN j.v >= m.m THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM j JOIN hcut h USING (lang) JOIN mcut m USING (lang)
    )
    SELECT lang, bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(v) AS BIGINT) AS lo_mean_micro,
           CAST(max(v) AS BIGINT) AS hi_mean_micro
    FROM lab GROUP BY lang, bucket
    """,
)
def ccnet_perplexity_tails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split, done PER LANGUAGE the way the
    real pipeline does it (each language gets its own perplexity
    cutoffs — an absolute threshold would discard whole low-resource
    languages): documents rank by mean bigram-LM log-prob within their
    language and split at the ⅓ / ⅔ marks; pretraining keeps head(+
    middle) per language. Buckets here summarize to (lang, bucket)
    cohort stats; the doc-level label is the CASE in `lab`.

    Scale shape: cutoffs come from per-language VALUE histograms (mean
    micro-logp floor-divided per doc — integer, so the histogram key
    is exact), a lang-partitioned cumulative window over distinct
    values (bounded by score range, not doc count), and two
    language-keyed cutoff tables broadcast back — never an ntile over
    the doc frame, no single-partition plan at any corpus size.
    Value-tied documents land in the same bucket on both engines by
    construction (cutoffs are values, not row positions)."""
    docs = load_table(spark, "documents", sf_dir)
    base = text_bigram_logprob(spark, sf_dir)
    # Doc-level (id, lang, mean-micro) frame is read by the histogram,
    # the per-language totals AND the labeling pass — without the lazy
    # checkpoint each reference replays the whole bigram-LM train+score
    # pipeline (20 parquet scans in the r9 before plan). ~20 B/doc.
    j = pin(
        base.join(docs.select("doc_id", "lang"), "doc_id").select(
            "doc_id",
            "lang",
            F.expr("sum_logp_micro div n_bigrams").alias("v"),
        ),
        eager=False,
    )
    hist = j.groupBy("lang", "v").agg(F.count("*").alias("c"))
    cum = hist.select(
        "lang",
        "v",
        F.sum("c")
        .over(
            Window.partitionBy("lang")
            .orderBy(F.col("v").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("cum"),
    )
    tot = j.groupBy("lang").agg(F.count("*").alias("n"))
    ct = cum.join(F.broadcast(tot), "lang")
    hcut = (
        ct.filter(F.col("cum") * 3 >= F.col("n"))
        .groupBy("lang")
        .agg(F.max("v").alias("h"))
    )
    mcut = (
        ct.filter(F.col("cum") * 3 >= 2 * F.col("n"))
        .groupBy("lang")
        .agg(F.max("v").alias("m"))
    )
    lab = (
        j.join(F.broadcast(hcut), "lang")
        .join(F.broadcast(mcut), "lang")
        .select(
            "lang",
            "v",
            F.when(F.col("v") >= F.col("h"), "head")
            .when(F.col("v") >= F.col("m"), "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )
    return lab.groupBy("lang", "bucket").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("v").cast("bigint").alias("lo_mean_micro"),
        F.max("v").cast("bigint").alias("hi_mean_micro"),
    )


# ── Round 6: query-likelihood language-model ranking ───────────────────

_QL_MU = 300  # Dirichlet smoothing pseudo-length (Zhai & Lafferty 2001)


@register(
    "retrieval_query_likelihood",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ),
    tf AS (
        SELECT b.doc_id, len(b.toks) AS dl, q.term,
               len(list_filter(b.toks, x -> x = q.term)) AS tf
        FROM base b CROSS JOIN (
            SELECT unnest([{", ".join(f"'{t}'" for t in _QUERY_TERMS)}])
                AS term) q
    ),
    cf AS (
        SELECT term, CAST(sum(tf) AS BIGINT) AS cf
        FROM tf GROUP BY term
    ),
    scal AS (
        SELECT CAST(sum(dl) AS BIGINT) AS c_len
        FROM (SELECT DISTINCT doc_id, dl FROM tf)
    ),
    contrib AS (
        SELECT t.doc_id,
               CAST(round(
                   ln((t.tf + {_QL_MU} * (CAST(c.cf AS DOUBLE) / s.c_len))
                      / (t.dl + {_QL_MU}))
                   * 1e6) AS BIGINT) AS micro
        FROM tf t JOIN cf c USING (term) CROSS JOIN scal s
    ),
    ql AS (
        SELECT doc_id, sum(micro) AS micro FROM contrib GROUP BY doc_id
    ),
    ranked AS (
        SELECT doc_id, micro,
               row_number() OVER (ORDER BY micro DESC, doc_id) AS rank
        FROM ql
    )
    SELECT doc_id, CAST(rank AS BIGINT) AS rank,
           round(micro / 1e6, 6) AS ql_logprob
    FROM ranked WHERE rank <= {_TOP}
    """,
)
def retrieval_query_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k documents under the Dirichlet-smoothed query-likelihood
    language model (Zhai & Lafferty 2001): score(q,d) = Σ_t ln((tf_td +
    μ·cf_t/|C|)/(dl_d + μ)) — the probabilistic sibling of BM25 and the
    second classic lexical ranker every retrieval stack offers. Unlike
    BM25 it scores EVERY document (smoothing gives unseen terms mass),
    so it exercises the all-docs ranking path.

    Same float discipline as BM25: one ln per (doc, term), quantized to
    integer micro before the per-doc sum; ranks order by the micro
    integer with a doc_id tie-break.

    Scale shape: identical to BM25 — per-term tf via codegen array
    filters in the same map stage as doc length (no explode, no join
    for a bounded query-term set); cf per term (|terms| rows) and the
    corpus-length scalar broadcast back; one doc-keyed integer sum;
    top-k via TakeOrderedAndProject."""
    docs = load_table(spark, "documents", sf_dir)
    base = docs.select(
        "doc_id",
        F.expr(_TOKS_SPARK).alias("toks"),
    ).select(
        "doc_id",
        F.size("toks").alias("dl"),
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("term"),
                        F.size(
                            F.filter(F.col("toks"), lambda x: x == F.lit(t))
                        ).alias("tf"),
                    )
                    for t in _QUERY_TERMS
                ]
            )
        ),
    )
    cf = base.groupBy("term").agg(F.sum("tf").cast("bigint").alias("cf"))
    scal = base.filter(F.col("term") == _QUERY_TERMS[0]).agg(
        F.sum("dl").cast("bigint").alias("c_len")
    )
    contrib = (
        base.join(F.broadcast(cf), "term")
        .crossJoin(F.broadcast(scal))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (F.col("tf")
                     + _QL_MU * (F.col("cf").cast("double") / F.col("c_len")))
                    / (F.col("dl") + _QL_MU)
                )
                * 1e6
            )
            .cast("bigint")
            .alias("micro"),
        )
    )
    ql = contrib.groupBy("doc_id").agg(F.sum("micro").alias("micro"))
    top = ql.orderBy(F.col("micro").desc(), "doc_id").limit(_TOP)
    return top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("micro").desc(), "doc_id"))
        .cast("bigint")
        .alias("rank"),
        F.round(F.col("micro") / 1e6, 6).alias("ql_logprob"),
    )


_MAP_K = 20  # ranking depth for the AP cutoff
_MAP_P = 10  # precision/recall report depth
# LCM(1..20): every 1/k at or below the cutoff becomes an exact integer
# multiple of 1/_MAP_LCM, so average precision is computed in integers.
_MAP_LCM = 232792560


@register(
    "retrieval_eval_map",
    # Ranking-quality eval of the BM25 list against deterministic
    # relevance labels (relevant = contains ALL probe terms — the
    # strict-AND matches BM25 should put first). AP is made EXACT by
    # scaling each 1/k term by LCM(1..K): ap = Σ_rel cumhits_k·(L/k)
    # over L·min(|R|,K) — integer arithmetic end-to-end.
    oracle=f"""
    WITH {_bm25_micro_sql()},
    rel AS (
        SELECT doc_id,
               CASE WHEN {" AND ".join(
                   f"len(list_filter({_TOKS_SQL}, x -> x = '{t}')) > 0"
                   for t in _QUERY_TERMS)}
                    THEN 1 ELSE 0 END AS is_rel
        FROM documents
    ),
    nrel AS (SELECT CAST(sum(is_rel) AS BIGINT) AS n_relevant FROM rel),
    ranked AS (
        SELECT b.doc_id, r.is_rel,
               row_number() OVER (ORDER BY b.micro DESC, b.doc_id) AS k
        FROM bm25 b JOIN rel r USING (doc_id)
        ORDER BY b.micro DESC, b.doc_id LIMIT {_MAP_K}
    ),
    cum AS (
        SELECT k, is_rel,
               sum(is_rel) OVER (ORDER BY k) AS hits
        FROM ranked
    ),
    ap AS (
        SELECT CAST(sum(CASE WHEN is_rel = 1
                             THEN hits * ({_MAP_LCM} // k)
                             ELSE 0 END) AS BIGINT) AS ap_scaled,
               CAST(sum(CASE WHEN k <= {_MAP_P} THEN is_rel ELSE 0 END)
                    AS BIGINT) AS hits_at_p
        FROM cum
    )
    SELECT n.n_relevant,
           a.hits_at_p AS hits_at_{_MAP_P},
           CAST(a.hits_at_p * 1000000 // {_MAP_P} AS BIGINT)
               AS p_at_{_MAP_P}_micro,
           CAST(a.hits_at_p * 1000000 // nullif(n.n_relevant, 0)
                AS BIGINT) AS r_at_{_MAP_P}_micro,
           CAST(a.ap_scaled * 1000000
                // nullif({_MAP_LCM} * least(n.n_relevant, {_MAP_K}), 0)
                AS BIGINT) AS ap_micro
    FROM ap a CROSS JOIN nrel n
    """,
)
def retrieval_eval_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality eval of the BM25 ranking: precision/recall at
    10 and average precision at 20 against a deterministic relevance
    set (documents containing ALL probe terms — the strict-AND matches
    a lexical ranker must surface first). This is the approx-operator-
    QA pattern applied to ranking itself: BM25 is a heuristic, the
    label set is exact, and the metric says how far the heuristic
    strays. AP's 1/k terms are scaled by LCM(1..20) so the whole
    metric is exact integer arithmetic — no float summation order, no
    interpolation ambiguity; empty label sets yield NULL (NULLIF)
    rather than crashing under ANSI mode.

    Scale shape: scoring reuses _bm25_micro (codegen tf, no explode);
    the relevance flag is one more map-side array conjunction on the
    SAME scan; top-20 is a TakeOrdered heap; the cumulative window
    runs over ≤ 20 rows."""
    docs = load_table(spark, "documents", sf_dir)
    toks = F.expr(_TOKS_SPARK)
    def has_term(t: str):
        # closure (not a default arg): a 2-param lambda would be read
        # by F.filter as its (element, index) form.
        return F.size(F.filter(toks, lambda x: x == F.lit(t))) > 0

    rel = docs.select(
        "doc_id",
        F.when(reduce_and(*[has_term(t) for t in _QUERY_TERMS]), 1)
        .otherwise(0)
        .alias("is_rel"),
    )
    nrel = rel.agg(F.sum("is_rel").cast("long").alias("n_relevant"))
    scores = _bm25_micro(docs)
    ranked = (
        scores.join(rel, "doc_id")
        .orderBy(F.col("micro").desc(), "doc_id")
        .limit(_MAP_K)
        .select(
            "is_rel",
            F.row_number()
            .over(Window.orderBy(F.col("micro").desc(), "doc_id"))
            .alias("k"),
        )
    )
    cum = ranked.select(
        "k",
        "is_rel",
        F.sum("is_rel")
        .over(Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0))
        .alias("hits"),
    )
    ap = cum.agg(
        F.sum(
            F.when(
                F.col("is_rel") == 1,
                F.col("hits") * (_MAP_LCM / F.col("k")).cast("long"),
            ).otherwise(0)
        ).cast("long").alias("ap_scaled"),
        F.sum(F.when(F.col("k") <= _MAP_P, F.col("is_rel")).otherwise(0))
        .cast("long")
        .alias("hits_at_p"),
    )
    return ap.crossJoin(F.broadcast(nrel)).select(
        "n_relevant",
        F.col("hits_at_p").alias(f"hits_at_{_MAP_P}"),
        F.expr(f"hits_at_p * 1000000 div {_MAP_P}")
        .alias(f"p_at_{_MAP_P}_micro"),
        F.expr("hits_at_p * 1000000 div nullif(n_relevant, 0)")
        .alias(f"r_at_{_MAP_P}_micro"),
        F.expr(
            f"ap_scaled * 1000000 div "
            f"nullif({_MAP_LCM} * least(n_relevant, {_MAP_K}), 0)"
        ).alias("ap_micro"),
    )


def reduce_and(*conds):
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


# ── Round 7: MRR eval over a multi-query probe set ────────────────────
_MRR_K = 20  # rank cutoff: first relevant beyond this scores 0


@register(
    "retrieval_eval_mrr",
    # One probe QUERY per term; ranking = integer token-density
    # tf·10⁶ div dl; relevance label = English doc containing the
    # term (the label reads a column the ranker never sees). The
    # first-relevant RANK is computed by COUNTING strictly-better
    # docs against the broadcast best-relevant row — no global sort,
    # no per-query single-partition window. rr_micro = 10⁶ div rank.
    oracle=f"""
    WITH q(term) AS (VALUES {", ".join(f"('{t}')" for t in _QUERY_TERMS)}),
    scored AS (
        SELECT q.term, d.doc_id, d.lang,
               CAST(len(list_filter({_TOKS_SQL}, x -> x = q.term))
                    AS BIGINT) * 1000000
                   // len({_TOKS_SQL}) AS score,
               CASE WHEN d.lang = 'en'
                     AND len(list_filter({_TOKS_SQL}, x -> x = q.term)) > 0
                    THEN 1 ELSE 0 END AS is_rel
        FROM documents d CROSS JOIN q
        WHERE len({_TOKS_SQL}) > 0
    ),
    bests AS (
        SELECT term,
               CAST(sum(is_rel) AS BIGINT) AS n_relevant,
               max(CASE WHEN is_rel = 1 THEN score END) AS bs
        FROM scored GROUP BY term
    ),
    best AS (
        SELECT b.term, b.n_relevant, b.bs,
               min(CASE WHEN s.is_rel = 1 AND s.score = b.bs
                        THEN s.doc_id END) AS bid
        FROM bests b JOIN scored s USING (term)
        GROUP BY b.term, b.n_relevant, b.bs
    ),
    ranked AS (
        SELECT s.term, b.n_relevant,
               CASE WHEN b.n_relevant = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(1 + sum(CASE WHEN s.score > b.bs
                              OR (s.score = b.bs AND s.doc_id < b.bid)
                              THEN 1 ELSE 0 END) AS BIGINT)
               END AS first_rel_rank
        FROM scored s JOIN best b USING (term)
        GROUP BY s.term, b.n_relevant
    )
    SELECT term, n_relevant, first_rel_rank,
           CAST(CASE WHEN first_rel_rank BETWEEN 1 AND {_MRR_K}
                     THEN 1000000 // first_rel_rank
                     ELSE 0 END AS BIGINT) AS rr_micro
    FROM ranked
    """,
)
def retrieval_eval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-reciprocal-rank eval surface: for each probe query (one
    per lexical probe term), the rank of the FIRST relevant document
    under an integer token-density ranking, and its reciprocal rank
    in exact micro units (MRR = mean of rr_micro over the query rows,
    one driver-side division). Relevance = English documents
    containing the term — a label the ranker never reads, so the
    metric measures something the score can actually get wrong.
    Complements retrieval_eval_map (AP/P@k on ONE query) with the
    known-item multi-query metric, cutoff at rank {k}.

    Scale shape: scoring is one map pass per (doc × 3 terms) — the
    term list is a literal cross join, fused into the scan; the
    best-relevant row per query is ONE term-keyed agg; the rank is
    COUNTED against that broadcast 3-row frame (count of
    strictly-better docs + 1), so there is no global ordering
    anywhere — the same trick as the gini rank identity, at any
    corpus size.""".replace("{k}", str(_MRR_K))
    docs = load_table(spark, "documents", sf_dir)
    q = spark.createDataFrame(
        [(t,) for t in _QUERY_TERMS], "term string"
    )
    toks = F.expr(_TOKS_SPARK)
    scored = (
        docs.filter(F.size(F.expr(_TOKS_SPARK)) > 0)
        .crossJoin(F.broadcast(q))
        .select(
            "term", "doc_id", "lang",
            (
                F.size(
                    F.filter(toks, lambda x: x == F.col("term"))
                ).cast("long") * 1000000
            ).alias("tfm"),
            F.size(toks).cast("long").alias("dl"),
        )
        .select(
            "term", "doc_id", "lang",
            F.expr("tfm div dl").alias("score"),
            F.when(
                (F.col("lang") == "en") & (F.col("tfm") > 0), 1
            ).otherwise(0).alias("is_rel"),
        )
    )
    best = scored.groupBy("term").agg(
        F.sum("is_rel").cast("long").alias("n_relevant"),
        F.max(
            F.when(
                F.col("is_rel") == 1,
                F.struct(F.col("score"), (-F.col("doc_id")).alias("nid")),
            )
        ).alias("b"),
    ).select(
        "term", "n_relevant",
        F.col("b.score").alias("bs"), (-F.col("b.nid")).alias("bid"),
    )
    ranked = (
        scored.join(F.broadcast(best), "term")
        .groupBy("term", "n_relevant")
        .agg(
            F.when(F.max("n_relevant") == 0, F.lit(0).cast("long"))
            .otherwise(
                1
                + F.sum(
                    F.when(
                        (F.col("score") > F.col("bs"))
                        | (
                            (F.col("score") == F.col("bs"))
                            & (F.col("doc_id") < F.col("bid"))
                        ),
                        1,
                    ).otherwise(0)
                ).cast("long")
            ).alias("first_rel_rank")
        )
    )
    return ranked.select(
        "term", "n_relevant", "first_rel_rank",
        F.when(
            F.col("first_rel_rank").between(1, _MRR_K),
            F.expr("1000000 div first_rel_rank"),
        ).otherwise(0).cast("long").alias("rr_micro"),
    )
