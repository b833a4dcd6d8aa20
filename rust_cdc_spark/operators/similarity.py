"""Similarity search over embedding columns (``array<float>``).

Two tiers, same contract (query vectors × corpus → top-k neighbors):

- ``brute_force_topk``  — exact cosine; the correctness baseline. One
  broadcast of the query set, one codegen'd map over the corpus, top-k
  via rank-window (per-query heaps; no global sort).
- ``lsh_topk``          — random-hyperplane LSH (signed projections →
  bucket join) for the 100 TB path: candidates only from matching
  buckets, exact re-scoring on candidates. Recall < 1 by design;
  multi-probe via ``n_tables`` independent hash tables.

Hyperplanes are generated deterministically (seeded) on the driver as
literal arrays — tiny (n_tables × n_bits × dim floats), broadcast with
the plan; no driver-side data loops.

Distributed top-k background: candidate pruning before exact scoring is
the standard scale approach in the literature (e.g. "Incremental Based
Framework for Efficient Top-K Similarity Search", EDBT 2020; REPOSE's
reference-point pruning for distributed trajectory top-k, ICDE 2021 —
see PAPERS.md); hyperplane LSH is the embedding-space instance of the
same candidate-then-verify shape.
"""

from __future__ import annotations

import math
import random

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rust_cdc_spark.functions import vectors as V

# sql↔numpy auto-switch: total centroid entries (k·dim) above which the
# per-row fold over the centroid-matrix literal (k·dim interpreted ops)
# loses to the Arrow-batched BLAS matmul (operators/pq.py shares the
# threshold and rationale).
_CODEGEN_MAX_ENTRIES = 16384


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "qv",
    exclude_self: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    ``queries`` is expected to be small (a probe batch) → broadcast;
    the corpus is scanned once, scored per row, and reduced per query
    with a rank window. ``exclude_self`` drops corpus rows whose id
    equals the query id *before* ranking. Returns
    (query_id, vec_id, cos_sim, rank).
    """
    scored = corpus.crossJoin(F.broadcast(queries)).select(
        F.col(qid_col).alias("query_id"),
        F.col(id_col).alias("vec_id"),
        F.round(V.cosine(F.col(vec_col), F.col(qvec_col)), 4).alias("cos_sim"),
    )
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("vec_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, n_bits: int, n_tables: int, seed: int = 42):
    rng = random.Random(seed)
    return [
        [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_bits)]
        for _ in range(n_tables)
    ]


def _bucket_col(vec, planes) -> F.Column:
    """Sign-bit bucket id for one hash table: bit i = (vec · plane_i) > 0."""
    bits = [
        F.when(
            V.dot(vec, V.lit_doubles(plane)) > 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
        for i, plane in enumerate(planes)
    ]
    acc = bits[0]
    for b in bits[1:]:
        acc = acc + b
    return acc


def _bucket_structs(vec, planes_all) -> F.Column:
    """All tables' (table_id, bucket) structs from ONE double-cast of
    the vector. ``_bucket_col`` per table casts the float array to
    double inside every plane dot — n_tables·n_bits casts of the full
    vector per row; let-binding the cast vector (single-element
    ``transform``, the lang_id_multi discipline) leaves the same
    sign-bit arithmetic over a bound double array. Bucket values are
    identical: ``dot`` on a pre-cast array is the same multiply-add
    fold."""

    def mk(dv: F.Column) -> F.Column:
        out = []
        for t, planes in enumerate(planes_all):
            bits = [
                F.when(
                    V.dot_pre(dv, V.lit_doubles(plane)) > 0,
                    F.lit(1 << i),
                ).otherwise(F.lit(0))
                for i, plane in enumerate(planes)
            ]
            acc = bits[0]
            for b in bits[1:]:
                acc = acc + b
            out.append(
                F.struct(F.lit(t).alias("table_id"), acc.alias("bucket"))
            )
        return F.array(*out)

    return F.transform(
        F.array(F.transform(vec, lambda x: x.cast("double"))), mk
    )[0]


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_bits: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "qv",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH candidate generation +
    exact cosine re-scoring. Corpus is bucketed once per table
    (n_tables narrow maps); the join is bucket-equi — at 100 TB each
    query touches ~corpus/2^n_bits rows per table instead of everything.
    """
    planes = _hyperplanes(dim, n_bits, n_tables, seed)
    c_bucketed = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("cv"),
        F.explode(_bucket_structs(F.col(vec_col), planes)).alias("h"),
    ).select("vec_id", "cv", "h.table_id", "h.bucket")
    q_bucketed = queries.select(
        F.col(qid_col).alias("query_id"),
        F.col(qvec_col).alias("qv"),
        F.explode(_bucket_structs(F.col(qvec_col), planes)).alias("h"),
    ).select("query_id", "qv", "h.table_id", "h.bucket")
    candidates = (
        c_bucketed.join(F.broadcast(q_bucketed), on=["table_id", "bucket"])
        .select("query_id", "vec_id", "qv", "cv")
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = candidates.select(
        "query_id",
        "vec_id",
        F.round(V.cosine(F.col("cv"), F.col("qv")), 4).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int,
    dim: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    scorer: str = "auto",
) -> list[list[float]]:
    """Coarse-quantizer centroids for IVF, trained with Lloyd iterations
    expressed as DataFrame ops.

    Init is a deterministic pseudo-random sample: the ``n_centroids``
    corpus rows with the smallest ``md5(seed || id)``. Each iteration is
    one full corpus scan (cosine argmax over centroid literals) plus an
    aggregate that returns ``n_centroids`` rows — the only driver-side
    data is the centroid matrix itself (same footprint as pyspark.ml's
    KMeans model), so this scales to any corpus size.

    ``codegen`` (default at small k·dim): the assignment is an argmax
    fold over the centroid-matrix literal and the centroid update is
    INTEGER-QUANTIZED (Σ round(x·1e6) as BIGINT per element —
    aggregation-order-free — then floor-div by the count), so the
    trained centroids are bit-identical across partitionings AND across
    engines; queries/ann_replay.ivf_replay_sql replays every step in
    DuckDB. ``numpy`` is the large-k·dim escape hatch (Arrow matmul
    assignment + float avg update; not replay-checkable)."""
    if scorer == "auto":
        scorer = (
            "codegen" if n_centroids * dim <= _CODEGEN_MAX_ENTRIES
            else "numpy"
        )
    init_rows = (
        corpus.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy(F.md5(F.concat(F.lit(str(seed)), F.col("i").cast("string"))))
        .limit(n_centroids)
        .collect()
    )
    centroids = [[float(x) for x in r["v"]] for r in init_rows]
    if not centroids:
        # empty training corpus: a single zero centroid keeps every
        # downstream scoring expression well-typed; the (empty) corpus
        # scan then yields zero result rows with the normal schema
        # (empty-tables sweep, round 6)
        return [[0.0] * dim]
    for _ in range(iters):
        if scorer == "codegen":
            assigned = corpus.select(
                nearest_cell_col(
                    vec_col, centroids, scorer="codegen"
                ).alias("cid"),
                *[
                    F.element_at(vec_col, i + 1).cast("double")
                    .alias(f"e{i}")
                    for i in range(dim)
                ],
            )
            sums = (
                assigned.groupBy("cid")
                .agg(
                    F.count("*").alias("n"),
                    *[
                        F.sum(
                            F.round(F.col(f"e{i}") * 1e6).cast("bigint")
                        ).alias(f"s{i}")
                        for i in range(dim)
                    ],
                )
                .collect()
            )
            # empty clusters keep their previous centroid
            for r in sums:
                centroids[r["cid"]] = [
                    math.floor(r[f"s{i}"] / r["n"]) / 1e6
                    for i in range(dim)
                ]
            continue
        assigned = corpus.select(
            F.col(vec_col).alias("v"),
            _argmin_centroid(F.col(vec_col), centroids).alias("cid"),
        )
        # elementwise mean per cluster via posexplode — narrow expressions
        # (compile-cheap however large dim gets) and a dim×n_centroids-row
        # shuffle, i.e. negligible at any corpus size.
        new = (
            assigned.select("cid", F.posexplode("v").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect()
        )
        # empty clusters keep their previous centroid
        for r in new:
            centroids[r["cid"]][r["pos"]] = r["m"]
    return centroids


def _unit_rows(M):
    import numpy as np

    M = np.asarray(M, dtype=np.float64)
    n = np.linalg.norm(M, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return M / n


def _nearest_centroids_udf(centroids, n_probe: int):
    """Arrow-batched numpy centroid ranking: ``n_probe`` nearest
    centroid ids per vector, nearest first (stable ties → lowest id).

    Centroid scoring is the one similarity expression deliberately NOT
    written with Spark higher-order functions: HOFs evaluate
    interpreted per element, and an argmin over a k×d centroid matrix
    is k·d interpreted ops/row — measured 225 s for one Lloyd pass over
    400k×64-dim at k=64. The same pass as one numpy matmul per Arrow
    batch runs at memory bandwidth (~100× faster). Map-only either
    way; this is the sanctioned vectorized-UDF escape hatch."""
    from pyspark.sql.functions import pandas_udf

    Cn = _unit_rows(centroids)

    @pandas_udf("array<int>")
    def nearest(v: pd.Series) -> pd.Series:
        import numpy as np

        Vn = _unit_rows(np.stack(v.to_numpy()))
        order = np.argsort(-(Vn @ Cn.T), axis=1, kind="stable")[:, :n_probe]
        return pd.Series(list(order.astype("int32")))

    return nearest




def centroid_norm(centroid: list[float]) -> float:
    """‖c‖ via a left fold of squares then ``math.sqrt`` — IEEE sqrt is
    correctly rounded, so this equals SQL ``sqrt(c1*c1 + c2*c2 + …)``
    over the same chain bit-for-bit."""
    s = 0.0
    for x in centroid:
        s = s + float(x) * float(x)
    return math.sqrt(s)


def _score_structs(vec_sql: str, centroids: list[list[float]]) -> Column:
    """Array of (-cosine-score, cid) structs, one per centroid.

    The centroid matrix and its norms ride along as nested array
    *literals* (single Literal nodes); each dot product is a
    ``zip_with``/``aggregate`` left fold — bit-identical to an explicit
    ``e1*c1 + e2*c2 + …`` chain (same left-associated add order, same
    exact double constants), so DuckDB replay oracles still match
    bit-for-bit. The earlier unrolled k·dim chain expression exceeded
    Janino's method limits (IVF k=8·dim=64 and up): every query paid a
    seconds-long failed compile, then evaluated the giant tree
    interpreted — the fold's generated code is constant-size and always
    compiles, and is measurably faster even interpreted. Each score
    chain appears ONCE (the argmax-by-array_position form doubles every
    chain — it OOM'd a default-1g-heap session)."""
    cents = V.lit_matrix(centroids)
    norms = V.lit_doubles([centroid_norm(c) or 1.0 for c in centroids])
    v = F.transform(F.expr(vec_sql), lambda x: x.cast("double"))
    dots = F.transform(
        cents,
        lambda c: F.aggregate(
            F.zip_with(v, c, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return F.transform(
        dots,
        lambda s, i: F.struct(
            (-(s / F.element_at(norms, i + 1))).alias("ns"),
            i.cast("int").alias("cid"),
        ),
    )


def nearest_cell_col(vec_sql: str, centroids: list[list[float]],
                     scorer: str = "auto") -> Column:
    """Nearest-centroid (coarse cell) id by cosine; ``vec_sql`` is the
    SQL expression (usually a column name) of the vector.

    ``codegen``: per-centroid score = left-fold-dot / ‖c‖ (the probe
    norm is constant across candidates, so dividing by it cannot change
    the argmax — it is omitted); argmax ties → lowest cid (struct-min
    over (-score, cid)). Centroids ride as one array literal
    (_score_structs); bit-shared with the DuckDB replay oracle.

    ``numpy``: the Arrow-batched matmul ranking (the large-k·dim escape
    hatch — see ``_nearest_centroids_udf``); NOT bit-guaranteed against
    a SQL replay (BLAS summation order)."""
    if scorer == "auto":
        scorer = (
            "codegen"
            if len(centroids) * len(centroids[0]) <= _CODEGEN_MAX_ENTRIES
            else "numpy"
        )
    if scorer == "numpy":
        return _nearest_centroids_udf(centroids, 1)(F.expr(vec_sql))[0]
    # array_min over (-score, cid) structs: score-descending with ties →
    # lowest cid (negation is an exact sign flip). See _score_structs
    # for why this is a fold over an array literal, not an unrolled
    # k·dim chain.
    return F.array_min(_score_structs(vec_sql, centroids))["cid"]


def nearest_cells_col(vec_sql: str, centroids: list[list[float]],
                      n_probe: int, scorer: str = "auto") -> Column:
    """Array of the ``n_probe`` nearest cell ids, nearest first;
    ``vec_sql`` is the SQL expression of the vector.

    ``codegen``: sort an array of (-score, cid) structs ascending —
    struct comparison gives score-descending with ties → lowest cid
    (negation is an exact sign flip, so the order equals a DESC sort on
    the raw score bit-for-bit) — then slice and project the cids.
    Centroids ride as one array literal (_score_structs); bit-shared
    with the DuckDB replay's window ranking."""
    if scorer == "auto":
        scorer = (
            "codegen"
            if len(centroids) * len(centroids[0]) <= _CODEGEN_MAX_ENTRIES
            else "numpy"
        )
    if scorer == "numpy":
        return _nearest_centroids_udf(centroids, n_probe)(F.expr(vec_sql))
    return F.transform(
        F.slice(F.sort_array(_score_structs(vec_sql, centroids)), 1, n_probe),
        lambda s: s["cid"],
    )


def nearest_cells_driver(probe: list[float], centroids: list[list[float]],
                         n_probe: int) -> list[int]:
    """Driver-side ranking of a probe's ``n_probe`` nearest cells by
    cosine — model-scale math (k·dim flops), no data touched. Uses the
    same left-fold chain arithmetic as the codegen scorer; ties →
    lowest cid (the numpy path's stable-argsort rule)."""
    scores = []
    for cid, c in enumerate(centroids):
        s = 0.0
        for pv, cv in zip(probe, c):
            s = s + float(pv) * float(cv)
        scores.append((-(s / (centroid_norm(c) or 1.0)), cid))
    scores.sort()
    return [cid for _, cid in scores[:n_probe]]


def _argmin_centroid(vec, centroids) -> F.Column:
    """Index of the nearest centroid by cosine."""
    return _nearest_centroids_udf(centroids, 1)(vec)[0]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "qv",
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    scorer: str = "auto",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a coarse k-means quantizer
    partitions the corpus into ``n_centroids`` cells; each query probes
    only its ``n_probe`` nearest cells and re-scores exactly.

    Pass ``centroids`` (from :func:`kmeans_centroids`) to reuse a
    trained quantizer — index building is an offline step in any real
    IVF deployment; per-query work is assignment + probed-cell scan.

    The corpus is assigned once (map-only over centroid literals) and
    the probe set broadcasts exploded per probed cell — each query
    touches ~``n_probe/n_centroids`` of the corpus instead of all of it.
    At 100 TB: write the assigned corpus partitioned by ``cid`` so probe
    joins become partition-pruned scans; raise ``n_centroids`` with
    corpus size (cells of ~1M vectors) and recover recall via
    ``n_probe``, exactly as IVF indexes do in the ANN literature.
    """
    if centroids is None:
        centroids = kmeans_centroids(
            corpus, n_centroids, dim, iters=iters,
            id_col=id_col, vec_col=vec_col, seed=seed, scorer=scorer,
        )
    c_assigned = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("cv"),
        nearest_cell_col(vec_col, centroids, scorer=scorer)
        .alias("cid"),
    )
    return ivf_topk_indexed(
        c_assigned, queries, centroids, k=k, n_probe=n_probe,
        qid_col=qid_col, qvec_col=qvec_col, scorer=scorer,
    )


def ivf_topk_indexed(
    assigned: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 4,
    qid_col: str = "query_id",
    qvec_col: str = "qv",
    scorer: str = "auto",
) -> DataFrame:
    """Probe side of IVF over a prebuilt index: ``assigned`` is the
    (vec_id, cv, cid) table an IVF deployment stores offline (write it
    partitioned by ``cid`` and the probe filter becomes partition
    pruning). Per query: rank the ``n_probe`` nearest cells, broadcast
    the exploded probe set, exact-rescore only the probed cells."""
    # two steps: aliasing a column to its own name in the same select as
    # an explode over it trips Spark 4.1's lateral-column-alias resolver
    q_assigned = (
        queries.withColumn(
            "_cids",
            nearest_cells_col(qvec_col, centroids, n_probe,
                              scorer=scorer),
        )
        .select(
            F.col(qid_col).alias("query_id"),
            F.col(qvec_col).alias("qv"),
            F.explode("_cids").alias("cid"),
        )
    )
    scored = (
        assigned.join(F.broadcast(q_assigned), on="cid")
        .select(
            "query_id",
            "vec_id",
            F.round(V.cosine(F.col("cv"), F.col("qv")), 4).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_bits: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    scorer: str = "arrow",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ threshold) via the
    same hyperplane-LSH bucketing, self-joined. Returns
    (vec_a, vec_b, cos_sim).

    Cost shape (this ordering is deliberate): the bucket self-join
    carries IDS ONLY — no 64-float payload is shuffled ``n_tables``
    times — and candidate pairs are made DISTINCT *before* scoring, so
    a pair colliding in k tables is scored once, not k times. Vectors
    are then joined back pre-normalized (:func:`V.normalized`) and each
    surviving pair pays exactly one dot product. The previous
    score-then-dedup ordering cost n_tables× duplicate cosines, each
    re-deriving both norms — measured 31.7 s → this shape at sf0.1.

    ``scorer='arrow'`` (default, r10 — VERDICT r9 #3 by way of guide
    §8): the candidate volume here is ~410 pairs per vector (the
    4-bit/8-table bucketing the oracle pins), so attaching two 64-double
    payloads per pair moves ~100× more bytes than the ids — a naive
    per-pair Arrow scorer measured NEUTRAL because the transfer ate the
    numpy win, and the per-pair HOF fold costs ~2.5 s at sf0.1. Instead
    the pairs move as IDS ONLY: pairs are keyed by the xxhash64 block
    of each endpoint, each block's unit vectors are replicated to the
    ≤``score_blocks`` block-pair groups that need them (bounded, tiny —
    vectors × 2·blocks rows), and a cogroup scores each group in numpy
    with the dims-loop accumulation ``acc += A[:, d] * B[:, d]`` — the
    SAME left-to-right IEEE-double addition order per pair as the
    ``aggregate`` fold, over the SAME JVM-normalized unit vectors, so
    values are bit-identical (asserted pair-for-pair on the real corpus
    at two SFs in tests/test_operators.py::TestNearDupScorers).
    ``scorer='sql'`` keeps the per-pair fold. (A codegen'd unrolled
    multiply-add chain was also tried and measured 2.4-2.9x SLOWER
    than the fold in paired A-B-A runs at sf0.1 — the third such
    result after the PQ Janino note and the r9 Hilbert
    chained-projection attempt; rejected.)"""
    planes = _hyperplanes(dim, n_bits, n_tables, seed)
    bucketed = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.explode(_bucket_structs(F.col(vec_col), planes)).alias("h"),
    ).select("vec_id", "h.table_id", "h.bucket")
    a, b = bucketed.alias("a"), bucketed.alias("b")
    cand = (
        a.join(b, on=["table_id", "bucket"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    unit = corpus.select(
        F.col(id_col).alias("__uid"),
        V.normalized(F.col(vec_col)).alias("__uv"),
    )
    if scorer == "sql":
        va = unit.select(
            F.col("__uid").alias("vec_a"), F.col("__uv").alias("__va")
        )
        vb = unit.select(
            F.col("__uid").alias("vec_b"), F.col("__uv").alias("__vb")
        )
        return (
            cand.join(va, "vec_a")
            .join(vb, "vec_b")
            .select(
                "vec_a",
                "vec_b",
                F.round(V.dot_pre(F.col("__va"), F.col("__vb")), 4)
                .alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= threshold)
        )
    scored = _blocked_pair_scores(cand, unit)
    return scored.select(
        "vec_a",
        "vec_b",
        F.round(F.col("cos_raw"), 4).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= threshold)


def _blocked_pair_scores(
    cand: DataFrame, unit: DataFrame, score_blocks: int = 8
) -> DataFrame:
    """(vec_a, vec_b) id pairs + (__uid, __uv) unit vectors →
    (vec_a, vec_b, cos_raw) via block-cogrouped numpy (guide §8: the
    shuffle moves 16-byte id pairs; the 8·dim-byte payloads move once
    per block-pair group, bounded by ``score_blocks``). The dims-loop
    accumulation reproduces the aggregate fold's addition order
    bit-for-bit. ``score_blocks`` scales like the exact blocked
    scorer's n_blocks: size it so one block's vectors fit a task."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    spark = cand.sparkSession
    pairs = cand.select(
        "vec_a",
        "vec_b",
        F.pmod(F.xxhash64("vec_a"), F.lit(score_blocks)).alias("p"),
        F.pmod(F.xxhash64("vec_b"), F.lit(score_blocks)).alias("q"),
    )
    blk = spark.range(score_blocks).select(F.col("id").alias("__other"))
    side_a = unit.crossJoin(F.broadcast(blk)).select(
        F.pmod(F.xxhash64("__uid"), F.lit(score_blocks)).alias("p"),
        F.col("__other").alias("q"),
        F.lit("a").alias("side"),
        F.col("__uid").alias("vid"),
        F.col("__uv").alias("v"),
    )
    side_b = unit.crossJoin(F.broadcast(blk)).select(
        F.col("__other").alias("p"),
        F.pmod(F.xxhash64("__uid"), F.lit(score_blocks)).alias("q"),
        F.lit("b").alias("side"),
        F.col("__uid").alias("vid"),
        F.col("__uv").alias("v"),
    )
    # re-alias through fresh exprIds: the union shares `unit`'s lineage
    # with nothing on the pair side, but keep the cogroup sides clean
    vecs = side_a.unionByName(side_b)

    out_schema = T.StructType(
        [
            T.StructField("vec_a", cand.schema["vec_a"].dataType, True),
            T.StructField("vec_b", cand.schema["vec_b"].dataType, True),
            T.StructField("cos_raw", T.DoubleType(), True),
        ]
    )

    # a block pair with vectors but no candidate pairs scores nothing;
    # its frame's dtypes follow the output schema, whatever the id type
    empty = pd.DataFrame(
        {
            f.name: pd.Series(dtype=to_arrow_type(f.dataType).to_pandas_dtype())
            for f in out_schema
        }
    )

    def score(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty:
            return empty
        ra = rpdf[rpdf["side"] == "a"].reset_index(drop=True)
        rb = rpdf[rpdf["side"] == "b"].reset_index(drop=True)
        A = np.stack(ra["v"].to_numpy())
        B = np.stack(rb["v"].to_numpy())
        ixa = pd.Series(range(len(ra)), index=ra["vid"])
        ixb = pd.Series(range(len(rb)), index=rb["vid"])
        Ap = A[ixa.loc[lpdf["vec_a"]].to_numpy()]
        Bp = B[ixb.loc[lpdf["vec_b"]].to_numpy()]
        acc = np.zeros(len(lpdf), dtype="float64")
        # loop over dims, vectorize across pairs: per pair this is the
        # identical ((0 + p0) + p1) + ... double addition chain as the
        # aggregate fold — bit-exact, not "close"
        for d in range(Ap.shape[1]):
            acc += Ap[:, d] * Bp[:, d]
        out = lpdf[["vec_a", "vec_b"]].copy()
        out["cos_raw"] = acc
        return out

    return (
        pairs.groupBy("p", "q")
        .cogroup(vecs.groupBy("p", "q"))
        .applyInPandas(score, schema=out_schema)
    )


def exact_near_dup_pairs_blocked(
    corpus: DataFrame,
    threshold: float,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT all-pairs cosine near-duplicates via blocked matrix
    multiplication — the brute-force baseline, but as ~B²/2 Arrow-batched
    numpy GEMMs instead of O(n²) interpreted per-pair expressions.

    Shape: rows are hashed into ``n_blocks`` blocks; the B·(B+1)/2
    unordered block pairs are enumerated as a tiny broadcast relation;
    each side of the cogroup pulls one block, and the scorer normalizes
    both sub-matrices and emits ``S = A·Bᵀ`` entries ≥ threshold. Per-pair
    arithmetic runs in BLAS (measured ~30× vs the per-pair higher-order
    -function cosine at sf0.1: 92 s → ~3 s), and every block stays
    executor-sized — size ``n_blocks`` so (n/B)·dim·8 bytes fits a task.
    Still O(n²) work by construction: at 100 TB only the LSH/IVF paths
    run; this is the correctness baseline they are graded against."""
    import numpy as np

    spark = corpus.sparkSession
    rows = corpus.select(
        F.col(id_col).cast("long").alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("blk"),
    )
    bp = spark.range(n_blocks).selectExpr("id AS p").join(
        spark.range(n_blocks).selectExpr("id AS q"), F.expr("p <= q")
    )
    left = rows.join(F.broadcast(bp), rows.blk == F.col("p")).select(
        "p", "q", "vid", "v"
    )
    # re-alias every right-side column: cogrouping two frames that share
    # the `rows`/`bp` lineage trips the ambiguous-self-join detector
    # unless the right side carries fresh attribute ids
    right = (
        rows.join(F.broadcast(bp), rows.blk == F.col("q"))
        .select(*[F.col(c).alias(c) for c in ("p", "q", "vid", "v")])
    )

    def score(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame(
                {"vec_a": pd.Series(dtype="int64"),
                 "vec_b": pd.Series(dtype="int64"),
                 "cos_sim": pd.Series(dtype="float64")}
            )
        A = np.stack(lpdf["v"].to_numpy())
        Bm = np.stack(rpdf["v"].to_numpy())
        A /= np.linalg.norm(A, axis=1, keepdims=True)
        Bm /= np.linalg.norm(Bm, axis=1, keepdims=True)
        S = A @ Bm.T
        ida = lpdf["vid"].to_numpy()
        idb = rpdf["vid"].to_numpy()
        same_block = lpdf["p"].iat[0] == lpdf["q"].iat[0]
        if same_block:
            # identical row sets on both sides: upper triangle only
            mask = (S >= threshold) & (ida[:, None] < idb[None, :])
        else:
            mask = S >= threshold
        ii, jj = np.nonzero(mask)
        a_ids, b_ids, sims = ida[ii], idb[jj], S[ii, jj]
        lo = np.minimum(a_ids, b_ids)
        hi = np.maximum(a_ids, b_ids)
        # round half away from zero, matching Spark's F.round / DuckDB
        r = np.where(sims >= 0, np.floor(sims * 1e4 + 0.5),
                     np.ceil(sims * 1e4 - 0.5)) / 1e4
        return pd.DataFrame({"vec_a": lo, "vec_b": hi, "cos_sim": r})

    return (
        left.groupBy("p", "q")
        .cogroup(right.groupBy("p", "q"))
        .applyInPandas(score, "vec_a long, vec_b long, cos_sim double")
    )
