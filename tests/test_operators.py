"""Unit tests for the operator layer, modeled on the reference's test
strategy (SURVEY.md §5): the regex-matcher truth table mirrors
/root/reference/tests/test.rs:14-35; collapse/merge tests assert the
ValueBuffers add/remove semantics; LSH tests validate recall against the
exact baseline.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rust_cdc_spark.operators import similarity as SIM
from rust_cdc_spark.operators.collapse import collapse_last_image
from rust_cdc_spark.operators.merge import merge_upsert
from rust_cdc_spark.operators.router import compile_patterns, route
from tests.conftest import SF_SMOKE

import re


class TestRouterPatterns:
    """Truth table from the reference's matcher tests."""

    def test_star_short_circuits(self):
        assert compile_patterns(["*"], ["*"]) == ".*"
        assert compile_patterns([], []) == ".*"

    @pytest.mark.parametrize(
        "dbs,tables,name,expect",
        [
            (["db"], ["test"], "db.test", True),
            (["db"], ["test"], "db.test2", False),
            (["db"], ["test*"], "db.test2", True),
            (["db"], ["test*"], "db.atest", False),
            (["d*"], ["*"], "db.anything", True),
            (["d*"], ["*"], "xdb.anything", False),
            (["a", "b"], ["t1", "t2"], "b.t1", True),
            (["a", "b"], ["t1", "t2"], "c.t1", False),
        ],
    )
    def test_truth_table(self, dbs, tables, name, expect):
        pat = compile_patterns(dbs, tables)
        assert bool(re.match(pat, name)) == expect

    def test_dots_are_literal(self):
        # 'db.test' must not let the dot match any char
        pat = compile_patterns(["db"], ["test"])
        assert not re.match(pat, "dbxtest")

    def test_route_filters_rows(self, spark):
        df = spark.createDataFrame(
            [("app", "users"), ("app", "audit"), ("sys", "users")],
            ["database", "table"],
        )
        got = route(df, ["app"], ["users"]).collect()
        assert [(r.database, r.table) for r in got] == [("app", "users")]


class TestCollapseMerge:
    def _cdc(self, spark, rows):
        """rows: (log_pos, key, op, val). Build envelope-shaped frame."""
        df = spark.createDataFrame(rows, ["log_pos", "k", "op", "val"])
        img = F.struct(F.col("k").alias("k"), F.col("val").alias("val"))
        return df.select(
            "log_pos",
            "k",
            "op",
            F.when(F.col("op") == "D", img).alias("before"),
            F.when(F.col("op") != "D", img).alias("after"),
        )

    def test_last_write_wins(self, spark):
        cdc = self._cdc(
            spark,
            [(1, 1, "I", 10), (2, 1, "U", 20), (3, 2, "I", 30)],
        )
        got = {
            r.k: (r.op, r.after.val if r.after else None)
            for r in collapse_last_image(cdc, ["k"]).collect()
        }
        assert got == {1: ("U", 20), 2: ("I", 30)}

    def test_delete_tombstone_dropped_in_state(self, spark):
        cdc = self._cdc(
            spark, [(1, 1, "I", 10), (2, 1, "D", 10), (3, 2, "I", 30)]
        )
        got = collapse_last_image(cdc, ["k"], keep_deletes=False).collect()
        assert [r.k for r in got] == [2]

    def test_merge_upsert_semantics(self, spark):
        """Reference doc-comment semantics (delta/mod.rs:158-165):
        Add→add, Update→remove+add, Delete→remove."""
        target = spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], ["k", "val"]
        )
        changes = self._cdc(
            spark,
            [
                (10, 2, "U", 21),   # update key 2
                (11, 3, "D", 30),   # delete key 3
                (12, 4, "I", 40),   # insert key 4
                (13, 4, "U", 41),   # then update it — last write wins
            ],
        )
        got = {
            r.k: r.val for r in merge_upsert(target, changes, ["k"]).collect()
        }
        assert got == {1: 10, 2: 21, 4: 41}

    def _cdc_files(self, spark, rows):
        """rows: (log_file, log_pos, key, op, val) — envelope frame that
        spans binlog file rotations (log_pos restarts per file, as in a
        real binlog)."""
        df = spark.createDataFrame(
            rows, ["log_file", "log_pos", "k", "op", "val"]
        )
        img = F.struct(F.col("k").alias("k"), F.col("val").alias("val"))
        return df.select(
            "log_file",
            "log_pos",
            "k",
            "op",
            F.when(F.col("op") == "D", img).alias("before"),
            F.when(F.col("op") != "D", img).alias("after"),
        )

    def test_collapse_across_file_rotation(self, spark):
        """log_pos resets at every rotation: an event at pos 4 of file
        000002 is NEWER than pos 900 of file 000001. Ordering by pos alone
        would pick the older image — the rotation bug."""
        cdc = self._cdc_files(
            spark,
            [
                ("binlog.000001", 900, 1, "I", 10),
                ("binlog.000002", 4, 1, "U", 11),   # newer despite smaller pos
                ("binlog.000001", 850, 2, "U", 20),
                ("binlog.000002", 30, 2, "D", 20),  # final op: tombstone
            ],
        )
        got = {
            r.k: (r.op, r.after.val if r.after else None)
            for r in collapse_last_image(cdc, ["k"]).collect()
        }
        assert got == {1: ("U", 11), 2: ("D", None)}

    def test_merge_across_file_rotation(self, spark):
        target = spark.createDataFrame([(1, 10), (2, 20)], ["k", "val"])
        changes = self._cdc_files(
            spark,
            [
                ("binlog.000001", 900, 1, "U", 11),
                ("binlog.000002", 4, 1, "U", 12),  # rotation: this wins
            ],
        )
        got = {r.k: r.val for r in merge_upsert(target, changes, ["k"]).collect()}
        assert got == {1: 12, 2: 20}

    def test_single_column_order_still_supported(self, spark):
        cdc = self._cdc(spark, [(1, 1, "I", 10), (2, 1, "U", 20)])
        got = collapse_last_image(cdc, ["k"], order_by="log_pos").collect()
        assert got[0].after.val == 20

    def _cdc_both_images(self, spark, rows):
        """rows: (log_pos, op, bk, bval, ak, aval) — envelope with full
        before AND after images, so updates can change the key."""
        df = spark.createDataFrame(
            rows, ["log_pos", "op", "bk", "bval", "ak", "aval"]
        )
        before = F.when(
            F.col("bk").isNotNull(),
            F.struct(F.col("bk").alias("k"), F.col("bval").alias("val")),
        )
        after = F.when(
            F.col("ak").isNotNull(),
            F.struct(F.col("ak").alias("k"), F.col("aval").alias("val")),
        )
        return df.select(
            "log_pos", "op", before.alias("before"), after.alias("after")
        )

    def test_pk_changing_update_removes_old_key(self, spark):
        """ValueBuffers does remove(before-key) on every update
        (/root/reference/src/delta/value_buffer.rs:36-40): an update that
        changes the primary key must delete the OLD key's row, not leave
        a ghost."""
        target = spark.createDataFrame([(1, 10), (2, 20)], ["k", "val"])
        changes = self._cdc_both_images(
            spark, [(5, "U", 1, 10, 9, 99)]  # update moves key 1 → 9
        )
        got = {r.k: r.val for r in merge_upsert(target, changes, ["k"]).collect()}
        assert got == {9: 99, 2: 20}  # no ghost row under k=1

    def test_pk_change_then_reinsert_old_key(self, spark):
        """A later insert re-establishes the old key: the remove must not
        clobber the newer image."""
        target = spark.createDataFrame([(1, 10)], ["k", "val"])
        changes = self._cdc_both_images(
            spark,
            [
                (5, "U", 1, 10, 9, 99),      # key 1 → 9
                (6, "I", None, None, 1, 77),  # key 1 re-inserted after
            ],
        )
        got = {r.k: r.val for r in merge_upsert(target, changes, ["k"]).collect()}
        assert got == {9: 99, 1: 77}

    def test_merge_idempotent_replay(self, spark):
        """Replaying the same change set must not change the result —
        the exactly-once property the reference only approximates with
        its 5 s offset commit (SURVEY.md §4)."""
        target = spark.createDataFrame([(1, 10)], ["k", "val"])
        changes = self._cdc(spark, [(5, 1, "U", 11), (6, 2, "I", 20)])
        once = merge_upsert(target, changes, ["k"])
        twice = merge_upsert(once, changes, ["k"])
        assert sorted((r.k, r.val) for r in twice.collect()) == sorted(
            (r.k, r.val) for r in once.collect()
        )


class TestSimilarity:
    def test_lsh_recall_vs_brute_force(self, spark):
        from rust_cdc_spark.sources.tables import load_table

        emb = load_table(spark, "embeddings", SF_SMOKE)
        probes = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
        exact = SIM.brute_force_topk(emb, probes, k=5, exclude_self=True)
        approx = SIM.lsh_topk(
            emb, probes, dim=64, k=5, n_bits=4, n_tables=8
        ).filter(F.col("query_id") != F.col("vec_id"))
        exact_set = {(r.query_id, r.vec_id) for r in exact.collect()}
        approx_set = {(r.query_id, r.vec_id) for r in approx.collect()}
        recall = len(exact_set & approx_set) / len(exact_set)
        # 8 tables × 4 bits on 64-dim random data: recall should be high
        assert recall >= 0.5, f"LSH recall too low: {recall}"

    def test_ivf_recall_vs_brute_force(self, spark):
        from rust_cdc_spark.sources.tables import load_table

        emb = load_table(spark, "embeddings", SF_SMOKE)
        probes = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
        exact = SIM.brute_force_topk(emb, probes, k=5, exclude_self=True)
        approx = SIM.ivf_topk(
            emb, probes, dim=64, k=5, n_centroids=8, n_probe=4
        ).filter(F.col("query_id") != F.col("vec_id"))
        exact_set = {(r.query_id, r.vec_id) for r in exact.collect()}
        approx_set = {(r.query_id, r.vec_id) for r in approx.collect()}
        recall = len(exact_set & approx_set) / len(exact_set)
        # probing 4 of 8 cells: each probe's own cell is always probed,
        # so near neighbors (which cluster with the probe) mostly hit
        assert recall >= 0.5, f"IVF recall too low: {recall}"

    def test_ivf_centroids_deterministic(self, spark):
        from rust_cdc_spark.sources.tables import load_table

        emb = load_table(spark, "embeddings", SF_SMOKE)
        c1 = SIM.kmeans_centroids(emb, 4, 64, iters=1)
        c2 = SIM.kmeans_centroids(emb, 4, 64, iters=1)
        assert c1 == c2
        assert len(c1) == 4 and len(c1[0]) == 64

    def test_brute_force_self_is_best_when_included(self, spark):
        from rust_cdc_spark.sources.tables import load_table

        emb = load_table(spark, "embeddings", SF_SMOKE)
        probes = emb.filter(F.col("vec_id") == 7).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
        top = SIM.brute_force_topk(emb, probes, k=1).collect()
        assert top[0].vec_id == 7 and top[0].cos_sim == 1.0


class TestRangeJoin:
    def _data(self, spark):
        from rust_cdc_spark.sources.tables import load_table

        ev = load_table(spark, "events", SF_SMOKE)
        points = ev.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("pid"), F.col("ts").alias("pts")
        )
        intervals = ev.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("iid"),
            (F.col("ts") - F.expr("INTERVAL 30 MINUTES")).alias("istart"),
            F.col("ts").alias("iend"),
        )
        return points, intervals

    def test_matches_naive_theta_join(self, spark):
        from rust_cdc_spark.operators.rangejoin import range_join

        points, intervals = self._data(spark)
        binned = {
            (r.pid, r.iid)
            for r in range_join(
                points, intervals, "pts", "istart", "iend", bin_seconds=1800
            ).collect()
        }
        naive = {
            (r.pid, r.iid)
            for r in points.join(
                intervals,
                (F.col("pts") > F.col("istart")) & (F.col("pts") <= F.col("iend")),
            ).collect()
        }
        assert binned == naive and len(binned) > 0

    def test_bin_width_does_not_change_result(self, spark):
        from rust_cdc_spark.operators.rangejoin import range_join

        points, intervals = self._data(spark)
        a = {
            (r.pid, r.iid)
            for r in range_join(
                points, intervals, "pts", "istart", "iend", bin_seconds=600
            ).collect()
        }
        b = {
            (r.pid, r.iid)
            for r in range_join(
                points, intervals, "pts", "istart", "iend", bin_seconds=7200
            ).collect()
        }
        assert a == b

    def test_plan_is_hash_join_not_nested_loop(self, spark):
        from rust_cdc_spark.operators.rangejoin import range_join
        from rust_cdc_spark.plans import explain as X

        points, intervals = self._data(spark)
        txt = X.plan_text(
            range_join(points, intervals, "pts", "istart", "iend")
        )
        assert "NestedLoop" not in txt and "Cartesian" not in txt, txt

    def _mk(self, spark, points, intervals):
        """points: [(pid, sec)], intervals: [(iid, start_sec, end_sec)] —
        integer seconds cast to timestamps."""
        p = spark.createDataFrame(points, ["pid", "psec"]).select(
            "pid", F.timestamp_seconds("psec").alias("pts")
        )
        i = spark.createDataFrame(intervals, ["iid", "ssec", "esec"]).select(
            "iid",
            F.timestamp_seconds("ssec").alias("istart"),
            F.timestamp_seconds("esec").alias("iend"),
        )
        return p, i

    def test_boundary_semantics_right_closed(self, spark):
        from rust_cdc_spark.operators.rangejoin import range_join

        # interval (1000, 2000]: point at 1000 excluded, at 2000 included
        p, i = self._mk(
            spark,
            [(1, 1000), (2, 2000), (3, 1001), (4, 2001)],
            [(10, 1000, 2000)],
        )
        got = {
            r.pid
            for r in range_join(p, i, "pts", "istart", "iend", bin_seconds=600).collect()
        }
        assert got == {2, 3}

    def test_zero_length_interval(self, spark):
        from rust_cdc_spark.operators.rangejoin import range_join

        p, i = self._mk(spark, [(1, 500)], [(10, 500, 500)])
        right = range_join(p, i, "pts", "istart", "iend", closed="right").collect()
        both = range_join(p, i, "pts", "istart", "iend", closed="both").collect()
        assert right == [] and [r.pid for r in both] == [1]

    def test_points_and_edges_on_bin_boundaries(self, spark):
        from rust_cdc_spark.operators.rangejoin import range_join

        # bin_seconds=100; everything lands exactly on bin edges
        p, i = self._mk(
            spark,
            [(1, 100), (2, 200), (3, 300)],
            [(10, 100, 300), (11, 200, 200)],
        )
        got = sorted(
            (r.pid, r.iid)
            for r in range_join(p, i, "pts", "istart", "iend", bin_seconds=100).collect()
        )
        # (100,300] holds 200 and 300; (200,200] is empty under right-closed
        assert got == [(2, 10), (3, 10)]
        both = sorted(
            (r.pid, r.iid)
            for r in range_join(
                p, i, "pts", "istart", "iend", bin_seconds=100, closed="both"
            ).collect()
        )
        assert both == [(1, 10), (2, 10), (2, 11), (3, 10)]

    def test_property_binned_equals_python_oracle(self, spark):
        from hypothesis import given, settings, strategies as st

        from rust_cdc_spark.operators.rangejoin import range_join

        @settings(max_examples=12, deadline=None)
        @given(
            pts=st.lists(st.integers(0, 7200), min_size=1, max_size=12),
            ivs=st.lists(
                st.tuples(st.integers(0, 7200), st.integers(0, 3600)),
                min_size=1,
                max_size=8,
            ),
            bin_s=st.sampled_from([60, 600, 1800, 7200]),
        )
        def check(pts, ivs, bin_s):
            points = [(n, s) for n, s in enumerate(pts)]
            intervals = [(n, s, s + d) for n, (s, d) in enumerate(ivs)]
            p, i = self._mk(spark, points, intervals)
            got = {
                (r.pid, r.iid)
                for r in range_join(
                    p, i, "pts", "istart", "iend", bin_seconds=bin_s
                ).collect()
            }
            want = {
                (pid, iid)
                for pid, psec in points
                for iid, ssec, esec in intervals
                if ssec < psec <= esec
            }
            assert got == want

        check()


class TestMultimodalResize:
    def test_resize_updates_payload_and_meta(self, spark):
        from rust_cdc_spark.operators import multimodal as MM
        from rust_cdc_spark.sources.tables import load_table

        docs = load_table(spark, "documents", SF_SMOKE).limit(20)
        media = MM.documents_as_media(docs)
        out = MM.resize_images(media, width=4, height=4).collect()
        assert len(out) == 20
        for r in out:
            assert len(r.payload) == 16
            assert r.meta.width == 4 and r.meta.height == 4
            assert r.meta.media_type == "image"

    def test_resize_is_deterministic_and_chains(self, spark):
        from rust_cdc_spark.operators import multimodal as MM
        from rust_cdc_spark.sources.tables import load_table

        docs = load_table(spark, "documents", SF_SMOKE).limit(5)
        media = MM.documents_as_media(docs)
        once = MM.resize_images(media, 8, 8)
        a = {r.media_id: bytes(r.payload) for r in once.collect()}
        b = {r.media_id: bytes(r.payload) for r in once.collect()}
        assert a == b
        # schema-identical output → a second resize composes
        twice = MM.resize_images(once, 2, 2).collect()
        assert all(len(r.payload) == 4 for r in twice)

    def test_fake_resize_pads_small_payloads(self):
        from rust_cdc_spark.operators.multimodal import fake_resize

        assert fake_resize(b"ab", 2, 2) == b"ab\x00\x00"
        assert fake_resize(None, 2, 2) == b"\x00\x00\x00\x00"
        assert len(fake_resize(bytes(range(256)), 3, 3)) == 9

    def test_documents_text_is_ascii(self, spark):
        """The multimodal DuckDB oracles equate byte i with
        unicode(substr(text, i, 1)) — valid only while the corpus is pure
        ASCII. If this ever fails, the oracles must switch to true
        byte-level access."""
        from rust_cdc_spark.sources.tables import load_table

        docs = load_table(spark, "documents", SF_SMOKE)
        n_bad = docs.filter(
            F.length(F.encode("text", "utf-8")) != F.length("text")
        ).count()
        assert n_bad == 0


class TestSampling:
    def test_stratified_quota_and_determinism(self, spark):
        from rust_cdc_spark.operators.sampling import stratified_sample
        from rust_cdc_spark.sources.tables import load_table

        docs = load_table(spark, "documents", SF_SMOKE).select("doc_id", "lang")
        s1 = stratified_sample(docs, ["lang"], 10, "doc_id")
        s2 = stratified_sample(docs, ["lang"], 10, "doc_id")
        a = sorted((r.lang, r.doc_id) for r in s1.collect())
        assert a == sorted((r.lang, r.doc_id) for r in s2.collect())
        per_group = {}
        for lang, _ in a:
            per_group[lang] = per_group.get(lang, 0) + 1
        assert all(n <= 10 for n in per_group.values()) and per_group

    def test_salt_draws_independent_sample(self, spark):
        from rust_cdc_spark.operators.sampling import stratified_sample
        from rust_cdc_spark.sources.tables import load_table

        docs = load_table(spark, "documents", SF_SMOKE).select("doc_id", "lang")
        a = {r.doc_id for r in stratified_sample(docs, ["lang"], 10, "doc_id").collect()}
        b = {r.doc_id for r in stratified_sample(docs, ["lang"], 10, "doc_id", salt="2").collect()}
        assert a != b  # different salt → different draw (w.h.p.)

    def test_bernoulli_fraction_and_subset_property(self, spark):
        from rust_cdc_spark.operators.sampling import bernoulli_sample
        from rust_cdc_spark.sources.tables import load_table

        docs = load_table(spark, "documents", SF_SMOKE).select("doc_id")
        n = docs.count()
        s10 = {r.doc_id for r in bernoulli_sample(docs, 0.1, "doc_id").collect()}
        s30 = {r.doc_id for r in bernoulli_sample(docs, 0.3, "doc_id").collect()}
        # fraction is approximate (binomial), bounded loosely
        assert 0.02 * n <= len(s10) <= 0.25 * n
        # threshold sampling nests: the 10% sample is inside the 30% one
        assert s10 <= s30

    def test_bernoulli_is_map_only(self, spark):
        from rust_cdc_spark.operators.sampling import bernoulli_sample
        from rust_cdc_spark.plans import explain as X
        from rust_cdc_spark.sources.tables import load_table

        docs = load_table(spark, "documents", SF_SMOKE).select("doc_id")
        assert X.count_exchanges(bernoulli_sample(docs, 0.1, "doc_id")) == 0


class TestByteBucketSums:
    def test_matches_python_reference(self, spark):
        from rust_cdc_spark.operators import multimodal as MM
        from rust_cdc_spark.sources.tables import load_table

        docs = load_table(spark, "documents", SF_SMOKE).limit(25)
        media = MM.documents_as_media(docs)
        got = {
            r.media_id: (r.n_bytes, list(r.bucket_sums))
            for r in MM.byte_bucket_sums(media, dim=8).collect()
        }
        for r in media.collect():
            b = bytes(r.payload)
            expect = [sum(b[j::8]) for j in range(8)]
            assert got[r.media_id] == (len(b), expect)

    def test_dim_parameter(self, spark):
        from rust_cdc_spark.operators import multimodal as MM

        media = spark.createDataFrame(
            [(1, bytes(range(10)))], "media_id long, payload binary"
        )
        row = MM.byte_bucket_sums(media, dim=3).first()
        # bytes 0..9: buckets mod 3 → [0+3+6+9, 1+4+7, 2+5+8]
        assert list(row.bucket_sums) == [18, 12, 15]


class TestNearDupScorers:
    """Engine-equality gate for the r10 Arrow pair scorer in
    embedding_near_dup_pairs: the numpy dims-loop accumulates the SAME
    left-to-right double addition chain per pair as the aggregate
    fold, so the full query output must be identical — pair set AND
    scores, no rounding slack — on the real corpus at two SFs."""

    def test_arrow_scorer_equals_sql_fold(self, spark):
        from rust_cdc_spark.sources.tables import load_table
        from tests.conftest import SF_CORRECT

        for sf in (SF_SMOKE, SF_CORRECT):
            emb = load_table(spark, "embeddings", sf)
            kw = dict(threshold=0.35, n_bits=4, n_tables=8)
            arrow = {
                (r.vec_a, r.vec_b): r.cos_sim
                for r in SIM.embedding_near_dup_pairs(
                    emb, scorer="arrow", **kw
                ).collect()
            }
            sql = {
                (r.vec_a, r.vec_b): r.cos_sim
                for r in SIM.embedding_near_dup_pairs(
                    emb, scorer="sql", **kw
                ).collect()
            }
            assert arrow == sql

    def test_arrow_scorer_string_ids(self, spark):
        """Non-long ids: block pairs that hold vectors but no candidate
        pair return an empty frame, which must carry the string id dtype
        of the output schema (an int64 empty frame fails Arrow
        conversion)."""
        from rust_cdc_spark.sources.tables import load_table

        # 12 vectors: few candidate pairs, so most of the 64 block pairs
        # take the empty branch
        emb = (
            load_table(spark, "embeddings", SF_SMOKE)
            .filter(F.col("vec_id") < 12)
            .select(F.format_string("v%05d", "vec_id").alias("doc"), "embedding")
        )
        kw = dict(threshold=-1.0, n_bits=4, n_tables=8, id_col="doc")
        arrow = {
            (r.vec_a, r.vec_b): r.cos_sim
            for r in SIM.embedding_near_dup_pairs(emb, scorer="arrow", **kw).collect()
        }
        sql = {
            (r.vec_a, r.vec_b): r.cos_sim
            for r in SIM.embedding_near_dup_pairs(emb, scorer="sql", **kw).collect()
        }
        assert arrow and all(isinstance(a, str) for a, _ in arrow)
        assert arrow == sql
