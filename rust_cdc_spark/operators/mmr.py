"""Maximal Marginal Relevance (MMR) diversity re-ranking.

The standard post-retrieval step that trades pure relevance for
diversity (Carbonell & Goldstein 1998): after a top-P candidate pool is
retrieved per query, greedily select k results where each pick
maximizes λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s). Training-data
pipelines use the same greedy rule for diverse example selection
(choosing k demonstrations that cover a topic rather than k
near-duplicates of the best hit).

Determinism discipline: a greedy argmax is the classic
engine-divergence trap — two candidates separated by 1 ulp of float
score flip the entire remaining selection. So the arithmetic here is
EXACT-INTEGER end to end: embeddings quantize to micro-unit BIGINTs,
relevance and pairwise similarity are integer dot products (|q| ≤ 1e6,
dim 64 → |dot| ≤ 6.4e13, far inside int64), and λ = 0.7 enters as the
integer weights (7, 3) — score = 7·rel − 3·maxsim, ties broken by
cand_id. Every selection round is therefore bit-identical in Spark and
in the DuckDB oracle's unrolled CTE replay
(``queries/ann_replay.mmr_replay_sql``).

Scale shape: ONE corpus scan (probes broadcast, codegen integer folds)
+ a per-query rank window for the pool; the pool — |probes|·P rows,
model-scale — is pinned (ranks.pin) so the k greedy rounds (anti-join,
pair join, argmax window) run over the materialized pool, never
re-touching the corpus. At 100 TB the cost is the one scored scan; the
greedy loop is constant work.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rust_cdc_spark.operators.ranks import pin

LAM_NUM = 7  # λ·10: relevance weight
LAM_CMP = 3  # (1−λ)·10: diversity (redundancy penalty) weight


def _micro(vec: Column) -> Column:
    return F.transform(
        vec, lambda x: F.round(x.cast("double") * 1e6).cast("long")
    )


def _idot(a: Column, b: Column) -> Column:
    """Exact BIGINT dot product of two micro-unit integer arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def mmr_rerank(
    emb: DataFrame,
    probe_ids: tuple[int, ...] = (0, 1, 2),
    pool: int = 8,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy MMR selection of ``k`` results from a top-``pool``
    relevance pool per probe. Returns
    (query_id, cand_id, rank, rel, score) — rank is selection order,
    rel the integer relevance dot, score the MMR objective at pick
    time (7·rel for the first pick)."""
    q = emb.select(
        F.col(id_col).alias("vid"), _micro(F.col(vec_col)).alias("qv")
    )
    probes = q.filter(F.col("vid").isin(list(probe_ids))).select(
        F.col("vid").alias("query_id"), F.col("qv").alias("pv")
    )
    scored = (
        q.crossJoin(F.broadcast(probes))
        .filter(F.col("vid") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vid").alias("cand_id"),
            F.col("qv").alias("cv"),
            _idot(F.col("qv"), F.col("pv")).alias("rel"),
        )
    )
    w_rel = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("cand_id")
    )
    # Materialize the pool: |probes|·pool rows. The k greedy rounds each
    # reference it (anti-join + pair join) — without this, every round
    # would re-run the corpus scan.
    pool_df = pin(
        scored.withColumn("rn", F.row_number().over(w_rel))
        .filter(F.col("rn") <= pool)
        .drop("rn")
    )
    sel = (
        pool_df.withColumn("rn", F.row_number().over(w_rel))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            "cand_id",
            "cv",
            "rel",
            (F.lit(LAM_NUM) * F.col("rel")).alias("score"),
            F.lit(1).alias("rank"),
        )
    )
    selected = sel
    for t in range(2, k + 1):
        remaining = pool_df.join(
            selected.select("query_id", "cand_id"),
            ["query_id", "cand_id"],
            "left_anti",
        )
        pairs = remaining.alias("c").join(
            selected.select(
                "query_id", F.col("cv").alias("sv")
            ).alias("s"),
            "query_id",
        )
        ms = (
            pairs.select(
                "query_id",
                "cand_id",
                _idot(F.col("cv"), F.col("sv")).alias("sim"),
            )
            .groupBy("query_id", "cand_id")
            .agg(F.max("sim").alias("maxsim"))
        )
        cand = remaining.join(ms, ["query_id", "cand_id"]).withColumn(
            "score",
            F.lit(LAM_NUM) * F.col("rel") - F.lit(LAM_CMP) * F.col("maxsim"),
        )
        w_mmr = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("cand_id")
        )
        pick = (
            cand.withColumn("rn", F.row_number().over(w_mmr))
            .filter(F.col("rn") == 1)
            .select(
                "query_id", "cand_id", "cv", "rel", "score",
                F.lit(t).alias("rank"),
            )
        )
        # Checkpoint the accumulator: without it the k rounds compose
        # into a plan with O(k²) window/join subtrees (measured 211
        # Exchanges for k=4) — all model-scale rows, but quadratic
        # compile time. Each checkpoint is a ≤|probes|·k-row job.
        selected = pin(selected.unionByName(pick))
    return selected.select("query_id", "cand_id", "rank", "rel", "score")
