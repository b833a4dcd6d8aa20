"""Deduplication operators for large-scale corpus pipelines.

The reference only sketches dedup (a stable bloom filter wired but unused,
/root/reference/src/delta/mod.rs:70,81 — A4 in SURVEY.md §2.3, plus the
keyed last-write-wins buffer A3). This module provides the full family a
100 TB training-data pipeline needs, each as DataFrame-in/DataFrame-out:

- exact dedup           — canonical fingerprint + hash groupBy
- n-gram Jaccard        — exact pairwise similarity via inverted index
- MinHash + LSH         — near-dup candidates in O(n·bands), md5-based
                          (deterministic, cross-engine reproducible)
- SimHash               — 64-bit fingerprint, hamming-banded candidates

Scale notes: every operator is shuffle-on-key only; nothing collects to
the driver. Hot-shingle buckets are the classic skew hazard — Jaccard
uses a document-frequency cap (drop shingles appearing in > df_cap docs
from *candidate generation only*; exact verification joins full sets), and
AQE skew-join handles residual imbalance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rust_cdc_spark.functions import text as TX
from rust_cdc_spark.operators.ranks import pin


def _parallelize(df: DataFrame, parallelism: int | None) -> DataFrame:
    """Spread a narrow scan across the cluster before CPU-heavy text maps.
    Local parquet test files arrive as one partition — without this every
    shingle/hash runs on a single core. Conditional: when the incoming
    scan is already at (or above) target parallelism — the 100 TB case,
    where the scan is split by maxPartitionBytes — this is a no-op, so
    the raw text is never round-robin-shuffled just to be shuffled."""
    n = parallelism or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                parallelism: int | None = None) -> DataFrame:
    """Group documents by canonical md5 fingerprint. Returns
    (fp, canonical_id, n_copies). Map-side partial agg → the shuffle
    carries one row per distinct fingerprint."""
    docs = _parallelize(docs, parallelism)
    return (
        docs.select(TX.fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("n_copies"))
    )


def _canonical_reps(
    docs: DataFrame, text_col: str, id_col: str, parallelism: int | None
) -> tuple[DataFrame, DataFrame]:
    """Collapse byte-identical texts to one representative each.

    Returns (reps, members): reps carry (doc_id, <text_col>) for one
    canonical doc per distinct text; members map every doc to its group
    (``__fp``, doc_id). Pairwise similarity ops run on reps only and
    expand results back across members — identical texts have identical
    shingle sets/signatures, so the expansion is *exactly* equivalent to
    the naive all-pairs computation while staying linear in the
    duplication factor (the thing that explodes on real crawls: a corpus
    where every page has k copies costs k² under naive all-pairs).
    """
    docs = _parallelize(docs, parallelism)
    with_fp = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col),
        F.md5(F.col(text_col)).alias("__fp"),
    )
    # The (fp, id) projection is the diamond of every pair query: the
    # member-expansion joins, the intra-group join, and the rep-id
    # mapping all read it, and the r9 static plans showed ZERO exchange
    # reuse across those references — each one re-scanned the corpus
    # and re-hashed the text (36 scans in one recall-eval plan,
    # plans/r09/dedup_lsh_recall_eval_before.txt). A lazy
    # checkpoint materializes it once per query at ~40 B/doc
    # (md5 hex + id — ~0.04% of corpus bytes at 100 TB, spilling to
    # disk via the default storage level), guide §5's cache rule:
    # reused AND expensive to recompute. pin() registers the blocks
    # for release_pinned().
    members = pin(with_fp.select("__fp", "doc_id"), eager=False)
    # Hash aggregation over (fp, id) ONLY, then re-attach the text by
    # id. Carrying the text through the agg (any_value(text_col))
    # forces a SortAggregate fallback — a full corpus Sort per
    # reference (16 of them in dedup_containment_pairs' r9 before
    # plan). The id-keyed join shuffles the text once; group texts are
    # byte-identical so the representative's text is unchanged.
    rep_ids = members.groupBy("__fp").agg(F.min("doc_id").alias("doc_id"))
    reps = rep_ids.join(with_fp.select("doc_id", text_col), "doc_id")
    return reps, members


def _expand_rep_pairs(
    rep_pairs: DataFrame,  # (doc_a, doc_b, <score>) over rep doc ids
    reps: DataFrame,  # kept for signature stability; mapping comes from members
    members: DataFrame,
    score_col: str,
    identical_score,
) -> DataFrame:
    """Expand representative-level pairs to all member pairs, plus the
    intra-group pairs (identical texts → ``identical_score``).

    CONTRACT (ADVICE r9): ``rep_pairs``' ids MUST be the min-doc_id
    representative of each fingerprint group — the rule
    :func:`_canonical_reps` uses — because the rep-id ↔ fp mapping is
    re-derived HERE from ``members`` as ``min(doc_id) per __fp`` (the
    ``reps`` argument is kept only for signature stability; selecting
    from it would replay its text re-attach join, while the members
    agg is a 2-column hash aggregation). A caller passing
    ``reps_members`` built under any OTHER representative rule gets
    silently wrong pair expansion: always build the tuple with
    ``_canonical_reps`` (the only constructor in this module)."""
    rep_fp = members.groupBy("__fp").agg(
        F.min("doc_id").alias("__rep_id")
    )
    pairs_fp = (
        rep_pairs.join(rep_fp.withColumnsRenamed({"__rep_id": "doc_a", "__fp": "__fp_a"}), "doc_a")
        .join(rep_fp.withColumnsRenamed({"__rep_id": "doc_b", "__fp": "__fp_b"}), "doc_b")
        .select("__fp_a", "__fp_b", score_col)
    )
    ma = members.withColumnsRenamed({"__fp": "__fp_a", "doc_id": "__m_a"})
    mb = members.withColumnsRenamed({"__fp": "__fp_b", "doc_id": "__m_b"})
    inter = (
        pairs_fp.join(ma, "__fp_a")
        .join(mb, "__fp_b")
        .select(
            F.least("__m_a", "__m_b").alias("doc_a"),
            F.greatest("__m_a", "__m_b").alias("doc_b"),
            score_col,
        )
    )
    m1, m2 = members.alias("m1"), members.alias("m2")
    intra = (
        m1.join(m2, on="__fp")
        .filter(F.col("m1.doc_id") < F.col("m2.doc_id"))
        .select(
            F.col("m1.doc_id").alias("doc_a"),
            F.col("m2.doc_id").alias("doc_b"),
            F.lit(identical_score).alias(score_col),
        )
    )
    return inter.unionByName(intra)


def shingle_sets(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                 k: int = 3, parallelism: int | None = None) -> DataFrame:
    """(id, shingle_set, set_size) — the unit for Jaccard/MinHash."""
    docs = _parallelize(docs, parallelism)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(TX.shingles(text_col, k)).alias("shingle_set"),
    ).withColumn("set_size", F.size("shingle_set"))


def jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    parallelism: int | None = None,
    df_cap: int | None = None,
    reps_members: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index join.

    Never materializes the O(n²) cross product: only pairs sharing ≥1
    shingle are generated (sum over buckets of |bucket|²), then the
    Jaccard is computed from co-occurrence counts + set sizes — no second
    pass over the documents. Byte-identical texts are collapsed to one
    representative before the pairwise stage and expanded back after
    (intra-group pairs score exactly 1.0) — equivalent output, linear in
    the duplication factor. Returns (doc_a, doc_b, jaccard) with
    doc_a < doc_b and jaccard ≥ threshold.

    ``df_cap`` bounds the hot-shingle hazard at corpus scale: a stop
    shingle shared by millions of *distinct* documents (boilerplate
    sentences, " the ") makes its inverted-index bucket |bucket|² —
    the scale-killer a canonical-rep collapse can't touch. With a cap,
    shingles whose document frequency exceeds it are dropped from
    *candidate generation only*; each candidate's intersection count is
    then composed exactly as rare-shingle co-occurrences (the candidate
    join itself) plus hot-shingle co-occurrences (a candidate-keyed
    join against the hot-restricted index — pair-bounded, never
    |bucket|²), so reported jaccard values stay exact. A pair is missed
    only if *every* one of its shared shingles is hot — such pairs are
    boilerplate-only overlaps scoring far below any useful threshold.
    ``None`` (default) keeps the one-pass exact path. ``reps_members``
    lets a caller that runs several pair generators over the SAME
    corpus (the recall/estimate eval queries) pass one shared
    :func:`_canonical_reps` result instead of paying the collapse
    per generator. (Sharing one stage deeper — a precomputed
    shingle_sets frame fed to both eval generators — was tried in r10
    and reverted: neutral at sf0.1 and a ~3x-corpus-bytes pin at
    scale; see dedup_lsh_recall_eval.)
    """
    reps, members = reps_members or _canonical_reps(
        docs, text_col, id_col, parallelism
    )
    rep_pairs = _jaccard_pairs_direct(
        reps, text_col, "doc_id", k, threshold, df_cap=df_cap
    )
    return _expand_rep_pairs(rep_pairs, reps, members, "jaccard", 1.0).filter(
        F.col("jaccard") >= threshold
    )


def _hashed_inverted_index(sh: DataFrame) -> DataFrame:
    # Join on xxhash64(shingle), not the string: 8-byte shuffle keys cut
    # exchange volume several-fold. 64-bit collisions are ~zero even at
    # 10^9 distinct shingles, so intersection counts stay exact.
    return sh.select(
        "doc_id",
        "set_size",
        F.explode(
            F.transform(F.col("shingle_set"), lambda s: F.xxhash64(s))
        ).alias("shingle"),
    )


def _jaccard_score(n_common: Column, size_a: Column, size_b: Column) -> Column:
    return F.round(
        n_common / (size_a + size_b - n_common).cast("double"), 4
    )


def _pair_intersections(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    parallelism: int | None = None,
    df_cap: int | None = None,
) -> DataFrame:
    """Candidate pairs with exact intersection counts:
    (doc_a, doc_b, size_a, size_b, n_common), doc_a < doc_b, for every
    pair sharing ≥1 (rare, when capped) shingle. The shared engine under
    Jaccard and containment scoring — see :func:`jaccard_pairs` for the
    inverted-index / df_cap shape discussion."""
    sh = shingle_sets(docs, text_col, id_col, k, parallelism)
    inv = _hashed_inverted_index(sh)
    if df_cap is None:
        # One-pass exact path: the inverted-index join is both candidate
        # generation and intersection count.
        a, b = inv.alias("a"), inv.alias("b")
        return (
            a.join(b, on="shingle")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.set_size").alias("size_a"),
                F.col("b.set_size").alias("size_b"),
            )
            .agg(F.count("*").alias("n_common"))
        )
    # Capped path: candidates from rare shingles only (buckets bounded
    # at df_cap → ≤ df_cap² candidate rows per shingle). The rare join
    # doubles as the rare-intersection count — identical plan to the
    # one-pass path over the rare index — and the hot-shingle
    # contribution is recovered EXACTLY from per-doc hot-shingle
    # arrays: each doc carries its (few) hot shingles as a sorted
    # array, two doc-keyed left joins attach them to each candidate
    # pair, and array_intersect counts the hot co-occurrences in
    # codegen. The candidate subtree is consumed ONCE in a linear
    # pipeline (a pair-keyed recovery join would reference `cand`
    # twice and recompute the whole index join per use — measured 2.3×
    # at sf0.1). When nothing exceeds the cap, `hot` is empty and the
    # plan degenerates to the one-pass exact plan plus one df
    # aggregation.
    # df via a count window, not a separate agg + anti-join: the window
    # shuffles the index by shingle ONCE and both the rare filter and
    # the hot split are map-side slices of that same exchange — the
    # rare self-join below then reuses it (ReusedExchange) instead of
    # paying a second full-index shuffle (measured −25% at sf0.1).
    invdf = inv.withColumn(
        "df", F.count("*").over(Window.partitionBy("shingle"))
    )
    rare = invdf.filter(F.col("df") <= df_cap).drop("df")
    a, b = rare.alias("a"), rare.alias("b")
    cand = (
        a.join(b, on="shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.set_size").alias("size_a"),
            F.col("b.set_size").alias("size_b"),
        )
        .agg(F.count("*").alias("n_rare"))
    )
    hot_inv = invdf.filter(F.col("df") > df_cap)  # tiny: hot shingles only
    hot_arr = hot_inv.groupBy("doc_id").agg(
        F.collect_set("shingle").alias("hot_sh")
    )
    verified = (
        cand.join(
            hot_arr.select(
                F.col("doc_id").alias("doc_a"),
                F.col("hot_sh").alias("hot_a"),
            ),
            "doc_a",
            "left",
        )
        .join(
            hot_arr.select(
                F.col("doc_id").alias("doc_b"),
                F.col("hot_sh").alias("hot_b"),
            ),
            "doc_b",
            "left",
        )
        .withColumn(
            "n_hot",
            F.when(
                F.col("hot_a").isNotNull() & F.col("hot_b").isNotNull(),
                F.size(F.array_intersect("hot_a", "hot_b")),
            ).otherwise(F.lit(0)),
        )
        .withColumn("n_common", F.col("n_rare") + F.col("n_hot"))
    )
    return verified.select("doc_a", "doc_b", "size_a", "size_b", "n_common")


def _jaccard_pairs_direct(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    threshold: float,
    parallelism: int | None = None,
    df_cap: int | None = None,
) -> DataFrame:
    inter = _pair_intersections(docs, text_col, id_col, k, parallelism, df_cap)
    return (
        inter.withColumn(
            "jaccard",
            _jaccard_score(F.col("n_common"), F.col("size_a"), F.col("size_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    parallelism: int | None = None,
    df_cap: int | None = None,
) -> DataFrame:
    """Asymmetric near-containment pairs: |A∩B| / min(|A|,|B|) ≥ threshold.

    Catches quote/boilerplate *inclusion* that symmetric Jaccard misses —
    a short document wholly embedded in a long one has containment 1.0
    but Jaccard ≈ |A|/|B| (arbitrarily small), so a dedup pass keyed on
    Jaccard alone keeps both copies. Same inverted-index engine as
    :func:`jaccard_pairs` (canonical-rep collapse, hashed shingle join,
    exact df-capped intersection recovery), so cost and 100 TB shape are
    identical; only the score/filter differs. Returns
    (doc_a, doc_b, containment), doc_a < doc_b.
    """
    reps, members = _canonical_reps(docs, text_col, id_col, parallelism)
    inter = _pair_intersections(reps, text_col, "doc_id", k, None, df_cap)
    rep_pairs = (
        inter.withColumn(
            "containment",
            F.round(
                F.col("n_common")
                / F.least("size_a", "size_b").cast("double"),
                4,
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment")
    )
    return _expand_rep_pairs(
        rep_pairs, reps, members, "containment", 1.0
    ).filter(F.col("containment") >= threshold)


MINHASH_MOD = 2_147_483_647  # 2^31 − 1 (prime): a·h + b fits in BIGINT


def minhash_perm_consts(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (aᵢ, bᵢ) for the affine MinHash permutations
    hᵢ(x) = (aᵢ·x + bᵢ) mod M — the single source of truth shared by
    the Spark expressions and the DuckDB oracle replay (Knuth/xxhash
    odd multipliers reduced mod M; aᵢ ≠ 0 for every i < (M−1)/2)."""
    m = MINHASH_MOD
    return [
        (((2 * i + 1) * 2654435761) % m, (i * 2246822519 + 3266489917) % m)
        for i in range(num_hashes)
    ]


# DuckDB replay of the base-hash stage (first 8 md5 hex chars → BIGINT
# mod M) over a shingle-set column named `ss`; pairs with
# :func:`minhash_sig_sql` over the resulting `hs` column.
MINHASH_HS_SQL = (
    "list_transform(ss, s -> CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)"
    f" % {MINHASH_MOD})"
)


def minhash_sig_sql(num_hashes: int) -> str:
    """DuckDB expression for the signature array over a base-hash list
    column named `hs` — bit-identical to the Spark signature."""
    comps = ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MINHASH_MOD}))"
        for a, b in minhash_perm_consts(num_hashes)
    )
    return f"[{comps}]"


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    parallelism: int | None = None,
) -> DataFrame:
    """(doc_id, set_size, sig: array<bigint> of num_hashes minhashes).

    One md5 per shingle (first 8 hex chars → BIGINT mod 2³¹−1), then
    ``num_hashes`` affine permutations (aᵢ·h + bᵢ) mod M over the
    cached integer array — integer min-reductions instead of the
    previous per-seed md5 passes (16 string hashes per shingle → 1;
    measured ~0.9× → see SCALE.md). The base hashes are staged through
    their own projection so the md5 pass runs ONCE, not once per
    signature component (no CSE inside a single expression tree). All
    arithmetic is exact BIGINT, so the DuckDB oracle replays the exact
    signature (:data:`MINHASH_HS_SQL` + :func:`minhash_sig_sql`)."""
    sh = shingle_sets(docs, text_col, id_col, k, parallelism)
    hs = sh.select(
        "doc_id",
        "set_size",
        F.transform(
            F.col("shingle_set"),
            lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10)
            .cast("bigint")
            % MINHASH_MOD,
        ).alias("hs"),
    )
    return hs.select(
        "doc_id",
        "set_size",
        F.array(*[
            F.array_min(
                F.transform(
                    F.col("hs"),
                    lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_MOD,
                )
            )
            for a, b in minhash_perm_consts(num_hashes)
        ]).alias("sig"),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    parallelism: int | None = None,
    reps_members: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs.

    Signature of ``num_hashes`` md5-minhashes split into ``bands`` bands
    of ``num_hashes/bands`` rows; documents colliding on any band hash
    become a candidate pair. Returns (doc_a, doc_b, sim_est) where
    sim_est is the fraction of matching signature components — an
    unbiased Jaccard estimate.

    Scale shape: explode to (band_id, band_hash) — n·bands rows — then
    a self-join per band bucket. This is the linear-ish path that replaces
    the quadratic exact join at 100 TB; band-bucket skew is bounded
    because identical band hashes imply near-identical docs. As in
    :func:`jaccard_pairs`, byte-identical texts run the LSH stage once
    via a canonical representative and expand afterwards (identical
    signatures ⇒ sim_est exactly 1.0) — same output, duplication-proof.
    """
    reps, members = reps_members or _canonical_reps(
        docs, text_col, id_col, parallelism
    )
    rep_pairs = _minhash_lsh_direct(reps, text_col, "doc_id", k, num_hashes, bands)
    return _expand_rep_pairs(rep_pairs, reps, members, "sim_est", 1.0)


def _minhash_lsh_direct(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    num_hashes: int,
    bands: int,
    parallelism: int | None = None,
) -> DataFrame:
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands "
            f"({bands}): trailing signature components would silently "
            "drop out of the banding while still counting in sim_est"
        )
    r = num_hashes // bands
    sig = minhash_signatures(docs, text_col, id_col, k, num_hashes, parallelism)
    banded = sig.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.md5(F.concat_ws("|", *[F.col("sig")[b * r + j] for j in range(r)])).alias("band_hash"),
                )
                for b in range(bands)
            ])
        ).alias("band"),
    ).select("doc_id", "sig", "band.band_id", "band.band_hash")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, on=["band_id", "band_hash"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    match_frac = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                lambda m: m,
            )
        )
        / F.lit(float(num_hashes))
    )
    return pairs.select(
        "doc_a", "doc_b", F.round(match_frac, 4).alias("sim_est")
    )


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 32, parallelism: int | None = None) -> DataFrame:
    """SimHash fingerprint: per token, hash to ``bits`` bits (crc32 —
    deterministic JVM built-in); each bit votes +1/-1; the sign vector is
    the fingerprint. Returns (doc_id, simhash: long).

    Pure higher-order-function fold — no UDF: aggregates a vote vector
    array over tokens, then reassembles the bit string.
    """
    docs = _parallelize(docs, parallelism)
    toks = TX.tokens(F.col(text_col))
    # Bit i of crc32(token) extracted arithmetically ((crc div 2^i) % 2):
    # shiftright/shiftleft take literal ints only, but here the bit index
    # is a lambda variable. 2^i is exact in double for i < 53.
    bit_of = lambda crc, i: (  # noqa: E731
        (crc / F.pow(F.lit(2.0), i.cast("double"))).cast("long") % 2
    )
    votes = F.aggregate(
        toks,
        F.array_repeat(F.lit(0), bits),
        lambda acc, t: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(bits - 1)),
                lambda i: bit_of(F.crc32(t.cast("binary")), i),
            ),
            lambda a, bit: a + F.when(bit == 1, 1).otherwise(-1),
        ),
    )
    fingerprint = F.aggregate(
        F.zip_with(
            votes,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda v, i: F.when(v > 0, F.pow(F.lit(2.0), i.cast("double")).cast("long"))
            .otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return docs.select(F.col(id_col).alias("doc_id"), fingerprint.alias("simhash"))


def simhash_md5(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                bits: int = 32, parallelism: int | None = None) -> DataFrame:
    """SimHash over md5 token hashes (first ``bits/4`` hex chars → bits).

    Functionally identical to :func:`simhash` but built on md5, which is
    bit-exact in every engine — so the whole fingerprint (and the banded
    near-pair join on it) is DuckDB-oracle-checkable. Slightly more
    expensive than crc32; use :func:`simhash` when cross-engine
    reproducibility isn't needed.
    """
    docs = _parallelize(docs, parallelism)
    n_hex = bits // 4
    hashes = F.transform(TX.tokens(F.col(text_col)), lambda t: F.md5(t))
    # bit i of h = (hexdigit(i//4) >> (i%4)) & 1, all arithmetic (lambda
    # index → no literal-only shift functions).
    assert n_hex <= 32
    digit = lambda h, i: F.conv(  # noqa: E731
        h.substr(((i / 4).cast("int")) + 1, F.lit(1)), 16, 10
    ).cast("int")
    bit_of = lambda h, i: (  # noqa: E731
        (digit(h, i) / F.pow(F.lit(2.0), (i % 4).cast("double"))).cast("int") % 2
    )
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(F.sequence(F.lit(0), F.lit(bits - 1)), lambda i: bit_of(h, i)),
            lambda a, bit: a + F.when(bit == 1, 1).otherwise(-1),
        ),
    )
    fingerprint = F.aggregate(
        F.zip_with(
            votes,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda v, i: F.when(v > 0, F.pow(F.lit(2.0), i.cast("double")).cast("long"))
            .otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return docs.select(F.col(id_col).alias("doc_id"), fingerprint.alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    parallelism: int | None = None,
    use_md5: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming, found by
    banding the fingerprint into max_hamming+1 chunks (pigeonhole: any
    pair within the distance agrees on ≥1 whole chunk) — linear candidate
    generation, exact hamming verification via bit_count(xor).
    ``use_md5`` selects the oracle-reproducible fingerprint."""
    nbands = max_hamming + 1
    width = bits // nbands
    fp = simhash_md5 if use_md5 else simhash
    sh = fp(docs, text_col, id_col, bits, parallelism)
    banded = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band_id"),
                    F.shiftright(F.col("simhash"), i * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("chunk"),
                )
                for i in range(nbands)
            ])
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_id", "band.chunk")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, on=["band_id", "chunk"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over near-dup pairs → dedup clusters.

    Near-dup *pairs* aren't the end product of corpus dedup — clusters
    are (keep one canonical doc per component). This is the iterative-
    algorithm pattern: min-label propagation, each iteration a
    distributed join+agg, driver only checks the convergence counter.
    Converges in O(component diameter) iterations; near-dup components
    are shallow (cliques-ish), so typically 2-3 rounds.

    Per-iteration cost is exactly three keyed shuffles (neighbor join,
    min-agg, label left-join); convergence is detected from a ``moved``
    flag computed IN the label pass — no second old-vs-new join — and
    each round's labels are pinned (``ranks.pin``), so lineage stays
    O(1) deep (no i-deep join chain to recompute or re-optimize) and
    the convergence probe is a scan of materialized blocks. Every
    round's snapshot stays in executor storage until the caller's
    ``release_pinned()``: at most ``max_iter + 1`` label tables of two
    integer columns, ~16 B/doc each.

    Returns (node, cluster_id) with cluster_id = min doc id reachable.
    """
    edges = pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    labels = pin(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("cluster_id", F.col("node"))
    )
    for _ in range(max_iter):
        nb = (
            edges.join(
                labels.withColumnsRenamed({"node": "dst_node", "cluster_id": "dst_label"}),
                edges.dst == F.col("dst_node"),
            )
            .groupBy("src")
            .agg(F.min("dst_label").alias("nb_label"))
        )
        new_labels = pin(
            labels.join(nb, labels.node == nb.src, "left")
            .select(
                "node",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("nb_label"), F.col("cluster_id")),
                ).alias("new_id"),
                F.col("cluster_id").alias("old_id"),
            )
            .withColumn("moved", F.col("new_id") < F.col("old_id"))
            .select(F.col("node"), F.col("new_id").alias("cluster_id"), "moved")
        )
        changed = new_labels.filter("moved").limit(1).count()
        labels = new_labels.drop("moved")
        if changed == 0:
            break
    edges.unpersist()
    return labels


def dedup_clusters(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    parallelism: int | None = None,
) -> DataFrame:
    """End-to-end near-dup clustering: Jaccard pairs → connected
    components → (doc_id, cluster_id, is_canonical). Singleton documents
    (no near-dup) are their own cluster."""
    pairs = jaccard_pairs(docs, text_col, id_col, k, threshold, parallelism)
    comp = connected_components(pairs)
    all_docs = docs.select(F.col(id_col).alias("doc_id"))
    clustered = all_docs.join(
        comp.withColumnsRenamed({"node": "doc_id"}), "doc_id", "left"
    ).withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")))
    return clustered.withColumn(
        "is_canonical", F.col("doc_id") == F.col("cluster_id")
    )


def jaccard_pairs_prefix(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    parallelism: int | None = None,
    positional: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PPJoin-style prefix filtering
    (Xiao et al., WWW 2008) — same output as :func:`jaccard_pairs`,
    different candidate generator.

    Prefix-filter lemma: order every document's shingles by one global
    total order (ascending document frequency, ties by hash — rarest
    first); if J(x, y) ≥ t, then the first
    |x| − ⌈t·|x|⌉ + 1 shingles of x and the first
    |y| − ⌈t·|y|⌉ + 1 of y must share at least one element. Candidates
    therefore come from an inverted index over PREFIXES only — and
    because prefixes are df-ascending, the boilerplate shingles that
    make full-index buckets |bucket|² are exactly the ones prefixes
    push past the cut. Unlike ``df_cap`` (which bounds the same hazard
    but can miss pairs whose every shared shingle is hot), prefix
    filtering is lossless at any df skew: the guarantee is structural,
    not statistical. Verification recovers the EXACT intersection from
    the two docs' full hash arrays (codegen ``array_intersect``), so
    reported scores are identical to the naive all-pairs computation.

    Scale shape: one shingle-keyed df window (the same single-exchange
    trick as the capped path), one doc-keyed sort-collect, a prefix
    self-join whose bucket sizes are df-bounded *by construction*, and
    two doc-keyed verify joins. Candidate volume: measured vs the full
    inverted index in SCALE.md.

    ``positional`` (default on, r10) additionally applies PPJoin's
    positional filter before verification — a lossless candidate
    prune from the first prefix-match positions (derivation at the
    filter in :func:`_jaccard_prefix_direct`); ``positional=False``
    keeps the r9 prefix+size-ratio-only path, and
    tests/test_scale_operators.py asserts output equality between the
    two at two SFs (the Hilbert-style engine guard).
    """
    reps, members = _canonical_reps(docs, text_col, id_col, parallelism)
    rep_pairs = _jaccard_prefix_direct(
        reps, text_col, "doc_id", k, threshold, positional=positional
    )
    return _expand_rep_pairs(rep_pairs, reps, members, "jaccard", 1.0).filter(
        F.col("jaccard") >= threshold
    )


def _jaccard_prefix_direct(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    threshold: float,
    positional: bool = True,
) -> DataFrame:
    sh = shingle_sets(docs, text_col, id_col, k)
    inv = _hashed_inverted_index(sh)
    # Global order = (df asc, hash asc): ONE shingle-keyed window
    # exchange gives every index row its df; both the doc-side sort and
    # the prefix cut are derived map-side from it.
    invdf = inv.withColumn(
        "df", F.count("*").over(Window.partitionBy("shingle"))
    )
    arr = (
        invdf.groupBy("doc_id", "set_size")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("df", "shingle"))
            ).alias("__sorted")
        )
        .select(
            "doc_id",
            "set_size",
            F.transform(F.col("__sorted"), lambda x: x["shingle"]).alias(
                "hashes"
            ),
        )
        # The diamond: prefix index, verify-side A, verify-side B all
        # read this table. Materialize ONCE (it is the same volume as
        # the inverted-index exchange — 8 B hashes per shingle) instead
        # of rebuilding the window+sort-collect three times (static
        # plan showed zero ReusedExchange across the three branches;
        # measured 4.5 → 2.6 s at sf0.1). Pinned-ledger registered
        # (ADVICE r9).
    )
    arr = pin(arr)
    prefix_len = (
        F.col("set_size")
        - F.ceil(F.lit(threshold) * F.col("set_size")).cast("int")
        + 1
    )
    # posexplode: `pos` is the 0-based position of the prefix token in
    # the doc's FULL df-ascending hash array (the prefix is its head,
    # so slice positions are global positions) — the input to the
    # PPJoin positional filter below.
    pref = arr.select(
        "doc_id",
        "set_size",
        F.posexplode(F.slice(F.col("hashes"), F.lit(1), prefix_len)).alias(
            "pos", "token"
        ),
    )
    a, b = pref.alias("a"), pref.alias("b")
    # Size-ratio filter (the second PPJoin pruning rule): J ≥ t forces
    # |A∩B| ≥ t·max(|A|,|B|) while |A∩B| ≤ min(|A|,|B|), so any pair
    # with min < t·max cannot qualify — dropped BEFORE the expensive
    # array_intersect verification (one codegen predicate on two ints;
    # lossless by the same algebra as the prefix rule). Measured at
    # sf0.1: 408,647 → 309,604 candidates (−24% on this
    # length-homogeneous corpus; the rule's bite grows with length
    # spread, which is exactly the shape of a real crawl).
    #
    # Positional filter (the third PPJoin rule, r10 — VERDICT r9 #2):
    # both docs' arrays follow ONE global total order, so at a pair's
    # FIRST prefix match (the match minimizing pos_a — which also
    # minimizes pos_b: common elements appear in the same relative
    # order on both sides, and any common element ordered before the
    # first match would itself be a prefix match on both sides, by the
    # same argument as the prefix lemma), every other common element
    # lies strictly after it in BOTH arrays. Hence
    #   |A∩B| ≤ 1 + min(|A| − pos_a − 1, |B| − pos_b − 1)
    # at that first match, while J ≥ t needs
    #   |A∩B| ≥ α = ⌈t·(|A|+|B|)/(1+t)⌉.
    # Keeping a pair iff the bound reaches α is LOSSLESS (the bound is
    # exact algebra over the first match; the 1e-9 slack on α only
    # ever RELAXES the cut against float division error, and the
    # verify stage recomputes the exact jaccard anyway). The groupBy
    # replaces the former `.distinct()` — same single pair-keyed
    # exchange — and min(struct(pos_a, pos_b)) picks the first match.
    cand = (
        a.join(b, on="token")
        .filter(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.least(F.col("a.set_size"), F.col("b.set_size"))
                >= threshold
                * F.greatest(F.col("a.set_size"), F.col("b.set_size"))
            )
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.set_size").alias("psize_a"),
            F.col("b.set_size").alias("psize_b"),
        )
        .agg(
            F.min(
                F.struct(
                    F.col("a.pos").alias("pa"), F.col("b.pos").alias("pb")
                )
            ).alias("__fm")
        )
    )
    if positional:
        cand = cand.filter(
            F.lit(1)
            + F.least(
                F.col("psize_a") - F.col("__fm.pa") - 1,
                F.col("psize_b") - F.col("__fm.pb") - 1,
            )
            >= F.ceil(
                F.lit(threshold)
                * (F.col("psize_a") + F.col("psize_b"))
                / F.lit(1.0 + threshold)
                - F.lit(1e-9)
            )
        )
    cand = cand.select("doc_a", "doc_b")
    va = arr.select(
        F.col("doc_id").alias("doc_a"),
        F.col("set_size").alias("size_a"),
        F.col("hashes").alias("ha"),
    )
    vb = arr.select(
        F.col("doc_id").alias("doc_b"),
        F.col("set_size").alias("size_b"),
        F.col("hashes").alias("hb"),
    )
    verified = (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .withColumn(
            "n_common", F.size(F.array_intersect(F.col("ha"), F.col("hb")))
        )
    )
    return verified.select(
        "doc_a",
        "doc_b",
        _jaccard_score(
            F.col("n_common"), F.col("size_a"), F.col("size_b")
        ).alias("jaccard"),
    )


def minhash_probe_pairs(
    docs: DataFrame,
    is_new_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Incremental-ingest LSH probe: candidate pairs between a NEW
    batch and the EXISTING corpus only — never old×old (already
    deduped in earlier runs) and never new×new (the in-batch pass is a
    separate, batch-sized job). ``docs`` carries a boolean
    ``is_new_col``; returns (new_doc, old_doc, sim_est).

    This is the maintenance mode of :func:`minhash_lsh_pairs`: at
    100 TB the old side's (band_id, band_hash) rows come from the
    STORED signature index (computed once at ingest, bucketed on the
    band key), so a probe shuffles only the new batch's n_new·bands
    rows against the index partitioning — step cost scales with the
    BATCH, exactly like the exact-fingerprint path
    (``incremental_new_docs``). Here both sides are derived in-query
    so the DuckDB oracle can replay the whole thing bit-for-bit."""
    if num_hashes % bands:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands "
            f"({bands}): trailing signature components would silently "
            "drop out of the banding while still counting in sim_est"
        )
    r = num_hashes // bands
    sig = minhash_signatures(docs.select(id_col, text_col, is_new_col),
                             text_col, id_col, k, num_hashes)
    flags = docs.select(F.col(id_col).alias("doc_id"),
                        F.col(is_new_col).alias("__new"))
    banded = (
        sig.join(flags, "doc_id")
        .select(
            "doc_id",
            "sig",
            "__new",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.md5(F.concat_ws(
                            "|",
                            *[F.col("sig")[b * r + j] for j in range(r)],
                        )).alias("band_hash"),
                    )
                    for b in range(bands)
                ])
            ).alias("band"),
        )
        .select("doc_id", "sig", "__new", "band.band_id", "band.band_hash")
    )
    new_side = banded.filter(F.col("__new")).select(
        F.col("doc_id").alias("new_doc"),
        F.col("sig").alias("sig_a"),
        "band_id",
        "band_hash",
    )
    old_side = banded.filter(~F.col("__new")).select(
        F.col("doc_id").alias("old_doc"),
        F.col("sig").alias("sig_b"),
        "band_id",
        "band_hash",
    )
    pairs = (
        new_side.join(old_side, ["band_id", "band_hash"])
        .select("new_doc", "old_doc", "sig_a", "sig_b")
        .dropDuplicates(["new_doc", "old_doc"])
    )
    match_frac = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"),
                           lambda x, y: x == y),
                lambda m: m,
            )
        )
        / F.lit(float(num_hashes))
    )
    return pairs.select(
        "new_doc", "old_doc", F.round(match_frac, 4).alias("sim_est")
    )
