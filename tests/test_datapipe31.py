"""Planted gates for wave 33: merge-on-read equality deletes must
never touch a base byte and must sequence correctly; the bucketed join
must be physically exchange-free and numerically identical to the
plain join.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cassowary_spark import registry
from cassowary_spark.plancheck import formatted_plan, node_counts
from cassowary_spark.registry import QUERIES

registry.load_all()


class TestEqualityDeletes:
    def test_base_files_untouched_by_deletes(self, spark, sf_dir):
        from cassowary_spark.queries.datapipe31 import (
            _eqdel_dirs,
            ensure_eqdelete_lake,
        )

        base, d1, d2 = ensure_eqdelete_lake(spark, sf_dir)
        sig_before = {
            f: (os.path.getsize(os.path.join(base, f)),
                os.stat(os.path.join(base, f)).st_mtime_ns)
            for f in os.listdir(base)
            if f.endswith(".parquet")
        }
        # re-running the delete commits must not rewrite the base
        ensure_eqdelete_lake(spark, sf_dir)
        QUERIES["q_equality_deletes"](spark, sf_dir).collect()
        sig_after = {
            f: (os.path.getsize(os.path.join(base, f)),
                os.stat(os.path.join(base, f)).st_mtime_ns)
            for f in os.listdir(base)
            if f.endswith(".parquet")
        }
        assert sig_before == sig_after and len(sig_before) == 8
        # the delete files are key-granular sidecars, tiny vs the base
        for d in (d1, d2):
            assert sum(
                os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
            ) < sum(s for s, _ in sig_before.values())

    def test_sequencing_through_seq1(self, spark, sf_dir):
        from cassowary_spark.queries.datapipe31 import (
            _DEL_MOD_1,
            _DEL_MOD_2,
            eqdelete_read,
        )

        base_df = spark.read.parquet(
            __import__(
                "cassowary_spark.queries.datapipe31", fromlist=["_eqdel_dirs"]
            )._eqdel_dirs(sf_dir)[0]
        )
        n_total = base_df.count()
        n_m1 = base_df.filter(F.col("doc_id") % _DEL_MOD_1 == 0).count()
        n_either = base_df.filter(
            (F.col("doc_id") % _DEL_MOD_1 == 0)
            | (F.col("doc_id") % _DEL_MOD_2 == 0)
        ).count()
        # reading through sequence 1 shows ONLY the first commit's
        # deletions; through sequence 2 both
        assert eqdelete_read(spark, sf_dir, through_seq=1).count() == n_total - n_m1
        assert eqdelete_read(spark, sf_dir, through_seq=2).count() == n_total - n_either
        # no deleted key survives the full read
        got = (
            eqdelete_read(spark, sf_dir, through_seq=2)
            .filter(
                (F.col("doc_id") % _DEL_MOD_1 == 0)
                | (F.col("doc_id") % _DEL_MOD_2 == 0)
            )
            .count()
        )
        assert got == 0


class TestBucketJoin:
    def test_join_is_exchange_free_and_bucketed(self, spark, sf_dir):
        from cassowary_spark.queries.datapipe31 import bucketed_join

        j = bucketed_join(spark, sf_dir)
        plan = formatted_plan(j)
        counts = node_counts(j)
        assert counts["exchanges"] == 0, plan
        assert counts["broadcasts"] == 0, plan
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan

    def test_bucketed_files_stay_out_of_the_warehouse(self, spark, sf_dir):
        """The bucketed tables are external, over derived-fixture files:
        the session warehouse gains no ``*_bkt_*`` directory."""
        import glob

        from cassowary_spark.queries.datapipe31 import ensure_bucketed_tables

        from cassowary_spark import tables

        for name in ensure_bucketed_tables(spark, sf_dir):
            loc = (
                spark.sql(f"DESCRIBE TABLE EXTENDED {name}")
                .filter("col_name = 'Location'")
                .first()["data_type"]
            )
            assert loc.removeprefix("file:").startswith(tables.CACHE_ROOT), loc
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        assert not glob.glob(os.path.join(wh, "*_bkt_*"))

    def test_results_match_plain_join(self, spark, sf_dir):
        from cassowary_spark.queries.tpch import _cents as _tpch_cents
        from cassowary_spark.tables import load_table

        got = {
            r.priority: (r.n_items, r.cents_sum)
            for r in QUERIES["q_bucket_join"](spark, sf_dir).collect()
        }
        o = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        exp = {
            r.priority: (r.n_items, r.cents_sum)
            for r in (
                o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
                .groupBy(F.col("o_orderpriority").alias("priority"))
                .agg(
                    F.count("*").cast("long").alias("n_items"),
                    F.sum(_tpch_cents(F.col("l_extendedprice"))).alias(
                        "cents_sum"
                    ),
                )
                .collect()
            )
        }
        assert got == exp


class TestSourceJaccard:
    def _write_docs(self, tmp_path, rows):
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
                "source": pa.array([r[2] for r in rows], pa.string()),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "documents.parquet"))
        return str(tmp_path)

    def test_closed_form_two_sources(self, spark, tmp_path):
        # srcA's shingle set: {a b c, b c d} (from "a b c d")
        # srcB's: {b c d, c d e} (from "b c d e")
        # intersection {b c d} = 1, union = 3 → J = 1/3; containment
        # = 1/min(2,2) = 0.5
        sf = self._write_docs(
            tmp_path,
            [(1, "a b c d", "srcA"), (2, "b c d e", "srcB")],
        )
        rows = QUERIES["q_source_jaccard"](spark, sf).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r.source_a, r.source_b) == ("srcA", "srcB")
        assert r.n_inter == 1
        assert abs(r.jaccard - 1 / 3) < 1e-4
        assert abs(r.containment - 0.5) < 1e-9

    def test_duplicate_docs_dont_inflate_and_disjoint_absent(
        self, spark, tmp_path
    ):
        # srcA holds the same text twice — the DISTINCT (source,
        # shingle) collapse must make overlap a SET property, immune
        # to how many documents repeat a shingle; srcC shares nothing
        # and must produce no row
        sf = self._write_docs(
            tmp_path,
            [
                (1, "a b c d", "srcA"),
                (2, "a b c d", "srcA"),
                (3, "b c d e", "srcB"),
                (4, "x y z w", "srcC"),
            ],
        )
        rows = QUERIES["q_source_jaccard"](spark, sf).collect()
        assert {(r.source_a, r.source_b) for r in rows} == {("srcA", "srcB")}
        assert rows[0].n_inter == 1 and abs(rows[0].jaccard - 1 / 3) < 1e-4


class TestDeleteCompaction:
    def test_cold_files_untouched_and_hot_rewritten(self, spark, sf_dir):
        from cassowary_spark.queries.datapipe31 import (
            _COMPACT_THRESHOLD,
            _DEL_MOD_1,
            _DEL_MOD_2,
            compact_eqdeletes,
        )

        base, comp, man = compact_eqdeletes(spark, sf_dir)
        sig = {
            f: (os.path.getsize(os.path.join(base, f)),
                os.stat(os.path.join(base, f)).st_mtime_ns)
            for f in os.listdir(base)
            if f.endswith(".parquet")
        }
        # compaction is a new-dir write: EVERY base file survives on
        # disk byte-identical (time travel keeps working)
        compact_eqdeletes(spark, sf_dir)
        sig2 = {
            f: (os.path.getsize(os.path.join(base, f)),
                os.stat(os.path.join(base, f)).st_mtime_ns)
            for f in os.listdir(base)
            if f.endswith(".parquet")
        }
        assert sig == sig2
        # the manifest partitions files: cold base files + rewrites,
        # and no hot base file
        manifest = {r.file_name for r in spark.read.parquet(man).collect()}
        wf = spark.read.parquet(base).withColumn(
            "file_name", F.col("_metadata.file_name")
        )
        deleted = (F.col("doc_id") % _DEL_MOD_1 == 0) | (
            F.col("doc_id") % _DEL_MOD_2 == 0
        )
        fr = {
            r.file_name: r.frac
            for r in wf.groupBy("file_name")
            .agg(
                (
                    F.sum(F.when(deleted, 1).otherwise(0)).cast("double")
                    / F.count("*").cast("double")
                ).alias("frac")
            )
            .collect()
        }
        hot = {f for f, v in fr.items() if v > _COMPACT_THRESHOLD}
        cold = set(fr) - hot
        # partition-agnostic: whatever the hash deal made hot/cold,
        # the manifest must be exactly cold ∪ rewrites (the planted
        # all-deleted test below exercises the guaranteed-hot path)
        assert cold <= manifest and not (hot & manifest)
        # rewritten files hold zero deleted rows
        assert (
            spark.read.parquet(comp).filter(deleted).count() == 0
        )

    def test_compacted_read_equals_mor_read(self, spark, sf_dir):
        from cassowary_spark.queries.datapipe31 import eqdelete_read

        mor = {
            (r.source, r.n_live, r.chars_live)
            for r in eqdelete_read(spark, sf_dir, through_seq=2)
            .groupBy("source")
            .agg(
                F.count("*").cast("long").alias("n_live"),
                F.sum("n_chars").cast("long").alias("chars_live"),
            )
            .collect()
        }
        compacted = {
            (r.source, r.n_live, r.chars_live)
            for r in QUERIES["q_delete_compaction"](spark, sf_dir).collect()
        }
        assert mor == compacted


class TestAllDeletedSource:
    def _write_docs(self, tmp_path, rows):
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
                "source": pa.array([r[2] for r in rows], pa.string()),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        )
        pq.write_table(tbl, str(tmp_path / "documents.parquet"))
        return str(tmp_path)

    def test_all_deleted_source_reports_zero_and_hot_path(
        self, spark, tmp_path, tmp_fixture_cache
    ):
        from cassowary_spark.queries.datapipe31 import (
            _DEL_MOD_1,
            compact_eqdeletes,
        )

        # srcDead: every doc_id ≡ 0 (mod 53) → 100% deleted — every
        # file holding its rows is hot REGARDLESS of partition layout,
        # and the per-source report must still emit it with n_live=0
        # (an inner join from the live agg would drop it).
        # srcLive: no deletable ids.
        sf = self._write_docs(
            tmp_path,
            [(_DEL_MOD_1 * i, f"dead doc {i}", "srcDead") for i in range(1, 9)]
            + [(_DEL_MOD_1 * i + 1, f"live doc {i}", "srcLive") for i in range(1, 9)],
        )
        eq = {
            r.source: (r.n_live, r.deleted_frac)
            for r in QUERIES["q_equality_deletes"](spark, sf).collect()
        }
        assert eq["srcDead"] == (0, 1.0)
        assert eq["srcLive"][0] == 8 and eq["srcLive"][1] == 0.0
        comp_rows = {
            r.source: r.n_live
            for r in QUERIES["q_delete_compaction"](spark, sf).collect()
        }
        assert comp_rows == {"srcDead": 0, "srcLive": 8}
        # the guaranteed-hot path actually rewrote: rewritten files
        # contain no srcDead rows
        _, comp, _ = compact_eqdeletes(spark, sf)
        assert (
            spark.read.parquet(comp).filter(F.col("source") == "srcDead").count()
            == 0
        )


class TestSemanticDedup:
    def test_twins_dropped_survivors_original(self, spark, sf_dir):
        from cassowary_spark.queries.datapipe31 import _SEM_OFFSET

        rows = QUERIES["q_semantic_dedup"](spark, sf_dir).collect()
        n_vecs = (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
        )
        # exactly one (original, twin) pair per vector — full recall
        assert len(rows) == n_vecs
        for r in rows:
            assert r.dropped_id == r.survivor_id + _SEM_OFFSET
            assert abs(r.cos_sim - 1.0) < 1e-9
