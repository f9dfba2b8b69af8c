"""E10 table layer + E9 lineage/resume tests (SURVEY.md M6),
including the kill-and-resume scenario."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from georaster_spark.datagen import documents_df, geocode_cols
from georaster_spark.plans import lineage
from georaster_spark.sources import icetable


@pytest.fixture()
def docs(spark):
    d = documents_df(spark, 400)
    lon, lat = geocode_cols(F.col("doc_seq"))
    return (
        d.withColumn("lon", lon)
        .withColumn("lat", lat)
        .withColumn("part", F.pmod(F.col("doc_seq"), F.lit(8)).cast("long"))
    )


class TestIceTable:
    def test_snapshot_roundtrip(self, spark, docs, tmp_path):
        path = str(tmp_path / "t1")
        snap1 = icetable.write_table(docs.select("url", "part"), path)
        back = icetable.read_table(spark, path)
        assert back.count() == 400
        assert set(back.columns) == {"url", "part"}
        assert icetable.current_snapshot(path) == snap1

    def test_append_and_time_travel(self, spark, docs, tmp_path):
        path = str(tmp_path / "t2")
        half1 = docs.where(F.col("part") < 4).select("url", "part")
        half2 = docs.where(F.col("part") >= 4).select("url", "part")
        s1 = icetable.write_table(half1, path)
        s2 = icetable.write_table(half2, path, mode="append")
        assert icetable.read_table(spark, path).count() == 400
        assert icetable.read_table(spark, path, snapshot_id=s1).count() == half1.count()
        icetable.rollback(path, s1)
        assert icetable.read_table(spark, path).count() == half1.count()
        chain = icetable.committed_chain(path)
        assert [m["snapshot_id"] for m in chain] == [s1]
        icetable.rollback(path, s2)
        assert [m["snapshot_id"] for m in icetable.committed_chain(path)] == [s1, s2]

    def test_appended_snapshots_read_in_one_scan(self, spark, docs, tmp_path):
        """A table appended K=3 times reads the rows of all three
        writes through one FileScan, not one scan per snapshot."""
        path = str(tmp_path / "t3")
        d = docs.select("url", "part")
        writes = [d.where(F.col("part") % 3 == k) for k in range(3)]
        for k, w in enumerate(writes):
            icetable.write_table(w, path, mode="append" if k else "overwrite")
        back = icetable.read_table(spark, path)
        assert sorted(back.collect()) == sorted(r for w in writes for r in w.collect())
        plan = back._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan parquet") == 1 and "Union" not in plan

    def test_directory_partitioned_manifest_is_refused(self, spark, docs, tmp_path):
        """A manifest with partition columns keeps their values in
        directory names only, so a flat scan would read them as NULL:
        reading it, or appending onto it, raises instead."""
        import json

        path = str(tmp_path / "t4")
        snap = icetable.write_table(docs.select("url", "part"), path)
        m = icetable.read_manifest(path)
        m["partition_by"] = ["part"]
        with open(icetable._manifest_path(path, snap), "w") as f:
            json.dump(m, f)
        with pytest.raises(ValueError, match=r"directory-partitioned by \['part'\]"):
            icetable.read_table(spark, path)
        with pytest.raises(ValueError, match="directory-partitioned"):
            icetable.write_table(docs.select("url", "part"), path, mode="append")
        assert icetable.current_snapshot(path) == snap


class TestFileSkipping:
    def test_manifest_carries_footer_stats(self, spark, docs, tmp_path):
        path = str(tmp_path / "fs1")
        icetable.write_table(
            docs.select("doc_seq", "url", "lang"), path,
            cluster_by=["doc_seq"], n_files=4,
        )
        m = icetable.read_manifest(path)
        assert len(m["files"]) == 4
        for f in m["files"]:
            st = f["stats"]["doc_seq"]
            assert st["min"] is not None and st["min"] <= st["max"]
        # clustered layout => disjoint doc_seq ranges, union covers all
        lo = min(f["stats"]["doc_seq"]["min"] for f in m["files"])
        hi = max(f["stats"]["doc_seq"]["max"] for f in m["files"])
        assert (lo, hi) == (0, 399)

    def test_point_read_prunes_to_one_file(self, spark, docs, tmp_path):
        path = str(tmp_path / "fs2")
        icetable.write_table(
            docs.select("doc_seq", "url"), path, cluster_by=["doc_seq"], n_files=4
        )
        plan = icetable.plan_files(path, [("doc_seq", "=", 123)])
        assert plan["total"] == 4 and len(plan["kept"]) == 1
        got = icetable.read_table(spark, path, filters=[("doc_seq", "=", 123)])
        assert [r["doc_seq"] for r in got.collect()] == [123]

    def test_range_read_results_equal_unpruned(self, spark, docs, tmp_path):
        path = str(tmp_path / "fs3")
        icetable.write_table(
            docs.select("doc_seq", "url", "lang"), path,
            cluster_by=["doc_seq"], n_files=4,
        )
        filters = [("doc_seq", ">=", 90), ("doc_seq", "<", 210)]
        plan = icetable.plan_files(path, filters)
        assert 1 <= len(plan["kept"]) < plan["total"]
        pruned = icetable.read_table(spark, path, filters=filters)
        full = icetable.read_table(spark, path).where(
            (F.col("doc_seq") >= 90) & (F.col("doc_seq") < 210)
        )
        assert sorted(r["doc_seq"] for r in pruned.collect()) == sorted(
            r["doc_seq"] for r in full.collect()
        )

    def test_string_and_unknown_columns_never_lose_rows(self, spark, docs, tmp_path):
        path = str(tmp_path / "fs4")
        icetable.write_table(docs.select("doc_seq", "url", "lang"), path)
        # string stat pruning on an unclustered column: may keep all
        # files, must keep all matching rows
        want = docs.where(F.col("lang") == "en").count()
        got = icetable.read_table(spark, path, filters=[("lang", "=", "en")]).count()
        assert got == want
        # filter on a column with no stats entry: no-op prune
        plan = icetable.plan_files(path, [("nonexistent", ">", 5)])
        assert len(plan["kept"]) == plan["total"]

    def test_append_preserves_parent_stats(self, spark, docs, tmp_path):
        path = str(tmp_path / "fs5")
        icetable.write_table(
            docs.where(F.col("doc_seq") < 200).select("doc_seq", "url"),
            path, cluster_by=["doc_seq"], n_files=2,
        )
        icetable.write_table(
            docs.where(F.col("doc_seq") >= 200).select("doc_seq", "url"),
            path, cluster_by=["doc_seq"], n_files=2, mode="append",
        )
        m = icetable.read_manifest(path)
        assert len(m["files"]) == 4
        assert all(f["stats"].get("doc_seq", {}).get("min") is not None for f in m["files"])
        plan = icetable.plan_files(path, [("doc_seq", "<", 100)])
        assert len(plan["kept"]) == 1


class TestTwoLevelManifest:
    def test_group_pruning_skips_stat_reads(self, spark, docs, tmp_path):
        """manifest_group_size=2 over 8 clustered files → 4 groups
        with rollup stats; a narrow range read must open only the
        surviving groups (planning reads O(groups), not O(files)) and
        then still prune per-file inside them."""
        path = str(tmp_path / "tl1")
        icetable.write_table(
            docs.select("doc_seq", "url"), path,
            cluster_by=["doc_seq"], n_files=8, manifest_group_size=2,
        )
        m = icetable.read_manifest(path)
        assert "files" not in m and m["n_files"] == 8
        assert len(m["file_groups"]) == 4
        for g in m["file_groups"]:
            st = g["stats"]["doc_seq"]
            assert st["min"] is not None and st["min"] <= st["max"]
        plan = icetable.plan_files(path, [("doc_seq", "=", 123)])
        assert plan["groups_total"] == 4 and plan["groups_read"] == 1
        assert plan["total"] == 8 and len(plan["kept"]) == 1
        got = icetable.read_table(spark, path, filters=[("doc_seq", "=", 123)])
        assert [r["doc_seq"] for r in got.collect()] == [123]

    def test_grouped_results_equal_flat(self, spark, docs, tmp_path):
        flat, grouped = str(tmp_path / "flat"), str(tmp_path / "grp")
        for p, gs in ((flat, None), (grouped, 3)):
            icetable.write_table(
                docs.select("doc_seq", "url", "lang"), p,
                cluster_by=["doc_seq"], n_files=8, manifest_group_size=gs,
            )
        filters = [("doc_seq", ">=", 90), ("doc_seq", "<", 210)]
        a = sorted(
            r["doc_seq"]
            for r in icetable.read_table(spark, flat, filters=filters).collect()
        )
        b = sorted(
            r["doc_seq"]
            for r in icetable.read_table(spark, grouped, filters=filters).collect()
        )
        assert a == b and len(a) == 120

    def test_append_and_expire_with_groups(self, spark, docs, tmp_path):
        """Append reads the grouped parent's full file list; expiring
        the parent removes its group side files and keeps every file
        the live grouped manifest references."""
        import glob
        import os

        path = str(tmp_path / "tl3")
        icetable.write_table(
            docs.where(F.col("doc_seq") < 200).select("doc_seq", "url"),
            path, cluster_by=["doc_seq"], n_files=4, manifest_group_size=2,
        )
        icetable.write_table(
            docs.where(F.col("doc_seq") >= 200).select("doc_seq", "url"),
            path, cluster_by=["doc_seq"], n_files=4, mode="append",
            manifest_group_size=2,
        )
        m = icetable.read_manifest(path)
        assert m["n_files"] == 8 and len(m["file_groups"]) == 4
        assert icetable.read_table(spark, path).count() == 400
        out = icetable.expire_snapshots(path, keep_last=1)
        assert out["removed_manifests"] == 1 and out["removed_files"] == 0
        # the expired parent's filegroup side files are gone, the
        # live snapshot's remain readable
        live = icetable.current_snapshot(path)
        leftover = [
            os.path.basename(p)
            for p in glob.glob(os.path.join(path, "metadata", "filegroup-*.json"))
        ]
        assert leftover and all(live in n for n in leftover)
        assert icetable.read_table(spark, path).count() == 400


class TestLineageResume:
    @staticmethod
    def _xform(df):
        return df.withColumn("text_len", F.length("text")).select(
            "url", "text", "part", "text_len"
        )

    def test_stage_runs_and_records(self, spark, docs, tmp_path):
        out_path = str(tmp_path / "out")
        stats = lineage.run_stage(
            spark, "s1", docs, self._xform, "part", out_path, checksum_cols=["url", "text"]
        )
        assert stats == {"pending": 8, "done_before": 0}
        rows = lineage.lineage_rows(out_path, "s1")
        assert len(rows) == 8
        assert all(r["input_rows"] == r["output_rows"] == 50 for r in rows)

    def test_lineage_matches_committed_output(self, spark, docs, tmp_path):
        """Each lineage row's output_rows/checksum is the content
        checksum of the committed rows of its part; a part whose rows
        the transform drops records 0 rows and checksum 0."""
        out_path = str(tmp_path / "out")

        def drop_part3(df):
            return self._xform(df).where(F.col("part") != 3)

        lineage.run_stage(
            spark, "s1", docs, drop_part3, "part", out_path, checksum_cols=["url", "text"]
        )
        want = {
            r["part"]: (r["n_rows"], r["checksum"])
            for r in lineage.content_checksum(
                icetable.read_table(spark, out_path), "part", ["url", "text"]
            ).collect()
        }
        rows = {r["part"]: r for r in lineage.lineage_rows(out_path, "s1")}
        assert sorted(rows) == list(range(8)) and 3 not in want
        for p, r in rows.items():
            assert r["input_rows"] == 50
            assert (r["output_rows"], r["checksum"]) == want.get(p, (0, 0))

    def test_rerun_is_noop(self, spark, docs, tmp_path):
        out_path = str(tmp_path / "out")
        lineage.run_stage(spark, "s1", docs, self._xform, "part", out_path)
        stats = lineage.run_stage(spark, "s1", docs, self._xform, "part", out_path)
        assert stats == {"pending": 0, "done_before": 8}
        assert icetable.read_table(spark, out_path).count() == 400

    def test_kill_and_resume(self, spark, docs, tmp_path):
        """Kill-and-resume (SURVEY.md M6): first attempt only saw half
        the partitions (simulated crash after a partial commit);
        resume completes the rest without recomputing done parts, and
        the final table equals a one-shot run."""
        out_path = str(tmp_path / "out")
        first_half = docs.where(F.col("part") < 4)
        lineage.run_stage(spark, "s1", first_half, self._xform, "part", out_path)
        assert len(lineage.lineage_rows(out_path, "s1")) == 4

        stats = lineage.run_stage(spark, "s1", docs, self._xform, "part", out_path)
        assert stats == {"pending": 4, "done_before": 4}

        got = icetable.read_table(spark, out_path)
        want = self._xform(docs)
        assert got.count() == 400
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

    def test_crashed_uncommitted_snapshot_is_invisible(self, spark, docs, tmp_path):
        """A manifest written without the pointer swap (crash window)
        must not contribute data or lineage."""
        out_path = str(tmp_path / "out")
        lineage.run_stage(spark, "s1", docs, self._xform, "part", out_path)
        # simulate: orphan manifest from a crashed attempt
        import json

        orphan = dict(icetable.read_manifest(out_path))
        orphan["snapshot_id"] = "9999999999999-deadbeef"
        orphan["extra"] = {"stage": "s1", "lineage": [{"stage": "s1", "part": 99}]}
        with open(
            icetable._manifest_path(out_path, orphan["snapshot_id"]), "w"
        ) as f:
            json.dump(orphan, f)
        assert 99 not in lineage.done_partitions(out_path, "s1")

    def test_text_identity_audit(self, spark, docs, tmp_path):
        out_path = str(tmp_path / "out")
        lineage.run_stage(spark, "s1", docs, self._xform, "part", out_path)
        sink = icetable.read_table(spark, out_path)
        assert lineage.verify_text_identity(docs, sink, "part", ["url", "text"])
        corrupted = sink.withColumn(
            "text", F.when(F.col("part") == 2, F.lit("X")).otherwise(F.col("text"))
        )
        assert not lineage.verify_text_identity(docs, corrupted, "part", ["url", "text"])


def _jobs(spark, fn) -> int:
    """Spark jobs launched by ``fn()``, counted through a job group."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


class TestJobsPerCall:
    def test_write_table_is_one_job(self, spark, docs, tmp_path):
        """The write is the only job: footer stats are read on the
        driver, not in a second Spark job."""
        path = str(tmp_path / "one")
        assert _jobs(spark, lambda: icetable.write_table(docs.select("url", "part"), path)) == 1
        assert all(f["stats"] for f in icetable.read_manifest(path)["files"])

    def test_run_stage_writes_once_and_persists_nothing(self, spark, docs, tmp_path, monkeypatch):
        """One stage is a per-part input count, the write and a narrow
        read-back of the written files (5 jobs with adaptive
        execution), and no DataFrame is cached when the write starts."""
        persistent = spark.sparkContext._jsc.getPersistentRDDs
        before = persistent().size()
        seen = []
        write = icetable.write_table

        def watched(df, *args, **kwargs):
            seen.append(persistent().size())
            return write(df, *args, **kwargs)

        monkeypatch.setattr(icetable, "write_table", watched)
        out_path = str(tmp_path / "out")
        n = _jobs(
            spark,
            lambda: lineage.run_stage(
                spark, "s1", docs, TestLineageResume._xform, "part", out_path,
                checksum_cols=["url", "text"],
            ),
        )
        assert n <= 5
        assert seen == [before]


class TestExpireSnapshots:
    def test_expire_keeps_live_data_and_reclaims_the_rest(self, spark, docs, tmp_path):
        path = str(tmp_path / "t_gc")
        half1 = docs.where(F.col("part") < 4).select("url", "part")
        half2 = docs.where(F.col("part") >= 4).select("url", "part")
        s1 = icetable.write_table(half1, path)
        s2 = icetable.write_table(half2, path, mode="append")
        s3 = icetable.write_table(half1.limit(10), path)  # overwrite

        # crashed attempt: manifest + data written, pointer never swapped
        import json, os
        orphan_dir = os.path.join(path, "data", "snap-9999999999999-deadbeef")
        os.makedirs(orphan_dir)
        open(os.path.join(orphan_dir, "junk.parquet"), "w").write("x")
        with open(os.path.join(path, "metadata", "manifest-9999999999999-deadbeef.json"), "w") as f:
            json.dump({"snapshot_id": "9999999999999-deadbeef", "parent_snapshot_id": s2,
                       "committed_at": 9e12, "schema": {}, "partition_by": [], "mode": "append",
                       "files": [{"path": "data/snap-9999999999999-deadbeef/junk.parquet", "bytes": 1}],
                       "extra": {}}, f)

        stats = icetable.expire_snapshots(path, keep_last=1)
        assert stats["removed_manifests"] == 3  # s1, s2, crashed orphan
        assert stats["removed_files"] > 0
        # live snapshot unchanged and fully readable
        assert icetable.current_snapshot(path) == s3
        assert icetable.read_table(spark, path).count() == 10
        assert icetable.committed_chain(path)[0]["parent_snapshot_id"] is None
        # expired history is gone: manifests deleted, orphan dir reclaimed
        with pytest.raises(FileNotFoundError):
            icetable.read_manifest(path, s1)
        assert not os.path.exists(orphan_dir)

    def test_expire_keep_two_preserves_time_travel_window(self, spark, docs, tmp_path):
        path = str(tmp_path / "t_gc2")
        half1 = docs.where(F.col("part") < 4).select("url", "part")
        s1 = icetable.write_table(half1, path)
        s2 = icetable.write_table(docs.select("url", "part"), path)
        s3 = icetable.write_table(half1.limit(5), path)
        icetable.expire_snapshots(path, keep_last=2)
        # s2 (parent of live) still time-travelable; s1 expired
        assert icetable.read_table(spark, path, snapshot_id=s2).count() == 400
        assert icetable.read_table(spark, path).count() == 5
        with pytest.raises(FileNotFoundError):
            icetable.read_manifest(path, s1)


class TestClusteredLayout:
    def test_cluster_by_yields_disjoint_file_ranges(self, spark, docs, tmp_path):
        """cluster_by range-partitions + sorts, so each parquet file
        covers a disjoint key range — the property that makes footer
        min/max stats prune point reads to ~one file. Verified from
        the actual parquet footers."""
        import pyarrow.parquet as pq

        from georaster_spark.cells import cell_encode_cols, morton_key_cols

        d = docs.withColumn(
            "cell", cell_encode_cols(F.col("lon"), F.col("lat"), 11)
        ).withColumn("mkey", morton_key_cols(F.col("cell")))

        clustered = str(tmp_path / "clustered")
        icetable.write_table(d, clustered, cluster_by=["mkey"], n_files=8)

        def file_ranges(table_path):
            m = icetable.read_manifest(table_path)
            ranges = []
            for f in m["files"]:
                md = pq.read_metadata(os.path.join(table_path, f["path"]))
                idx = md.schema.names.index("mkey")
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    mins.append(st.min); maxs.append(st.max)
                ranges.append((min(mins), max(maxs)))
            return sorted(ranges)

        ranges = file_ranges(clustered)
        assert len(ranges) >= 4
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2, "clustered files must cover disjoint key ranges"

        # unclustered baseline: every file spans ~the whole key space
        baseline = str(tmp_path / "unclustered")
        icetable.write_table(d.repartition(8), baseline)
        b_ranges = file_ranges(baseline)
        overlaps = sum(
            1 for (lo1, hi1), (lo2, hi2) in zip(b_ranges, b_ranges[1:]) if hi1 > lo2
        )
        assert overlaps > 0, "baseline should overlap (else the test proves nothing)"

        # pruning consequence: a point key hits exactly one clustered file
        probe = ranges[3][0]
        hits = [1 for lo, hi in ranges if lo <= probe <= hi]
        assert sum(hits) == 1


class TestCompaction:
    def test_compact_shrinks_files_keeps_rows_and_history(self, spark, docs, tmp_path):
        path = str(tmp_path / "t_compact")
        d = docs.select("url", "part")
        # 5 small append snapshots -> many small files
        pre = None
        for p in range(5):
            pre = icetable.write_table(
                d.where(F.col("part") == p).repartition(4), path,
                mode="append" if p else "overwrite",
            )
        n_rows = icetable.read_table(spark, path).count()
        n_files_before = len(icetable.read_manifest(path)["files"])
        assert n_files_before >= 15

        snap = icetable.compact(spark, path, target_files=2)
        m = icetable.read_manifest(path)
        assert m["snapshot_id"] == snap and m["extra"]["compaction"] is True
        assert len(m["files"]) <= 2
        assert icetable.read_table(spark, path).count() == n_rows
        # pre-compaction state still time-travelable
        assert icetable.read_table(spark, path, snapshot_id=pre).count() == n_rows


class TestMerge:
    def test_upsert_replaces_and_inserts(self, spark, docs, tmp_path):
        path = str(tmp_path / "t_merge")
        d = docs.select("url", "part", F.lit("v1").alias("ver"))
        pre = icetable.write_table(d, path)
        updates = (
            docs.where(F.col("part") == 2)
            .select("url", "part", F.lit("v2").alias("ver"))
            .unionByName(
                spark.createDataFrame([("https://new.example/x", 99, "v2")],
                                      "url string, part long, ver string")
            )
        )
        icetable.merge_table(spark, path, updates, key_cols=["url"])
        t = icetable.read_table(spark, path)
        assert t.count() == 401  # 400 originals (50 replaced) + 1 insert
        assert t.where(F.col("ver") == "v2").count() == 51
        assert t.where((F.col("part") == 2) & (F.col("ver") == "v1")).count() == 0
        # pre-merge state still time-travelable
        assert icetable.read_table(spark, path, snapshot_id=pre).where(
            F.col("ver") == "v2"
        ).count() == 0

    def test_upsert_rejects_duplicate_update_keys(self, spark, docs, tmp_path):
        path = str(tmp_path / "t_dup")
        pre = icetable.write_table(docs.select("url", "part"), path)
        row = docs.select("url", "part").limit(1)
        with pytest.raises(ValueError, match="duplicate update key"):
            icetable.merge_table(spark, path, row.unionByName(row), key_cols=["url"])
        # nothing committed: the live snapshot and its rows are unchanged
        assert icetable.read_manifest(path)["snapshot_id"] == pre
        assert icetable.read_table(spark, path).count() == 400

    def test_delete_removes_keys(self, spark, docs, tmp_path):
        path = str(tmp_path / "t_del")
        icetable.write_table(docs.select("url", "part"), path)
        victims = docs.where(F.col("part") < 2).select("url")
        icetable.merge_table(spark, path, victims, key_cols=["url"], delete=True)
        t = icetable.read_table(spark, path)
        assert t.count() == 300
        assert t.where(F.col("part") < 2).count() == 0


class TestOptimisticCommit:
    def test_stale_basis_raises_commit_conflict(self, spark, docs, tmp_path):
        """A committer whose basis snapshot is no longer current must
        get CommitConflict instead of silently clobbering the racing
        winner (lost update) — Iceberg's commit contract."""
        import pytest as _pytest

        path = str(tmp_path / "t")
        s1 = icetable.write_table(docs, path)
        basis = icetable.current_snapshot(path)
        assert basis == s1
        # a racing committer wins in between
        s2 = icetable.write_table(docs.limit(3), path)
        assert icetable.current_snapshot(path) == s2
        # our commit, based on the now-stale s1, must conflict
        with _pytest.raises(icetable.CommitConflict):
            icetable.write_table(docs.limit(1), path, expected_parent=basis)
        # the winner's state is intact, and its lineage is unbroken
        assert icetable.current_snapshot(path) == s2
        assert icetable.read_table(spark, path).count() == 3
        chain = icetable.committed_chain(path)
        assert [c["snapshot_id"] for c in chain] == [s1, s2]

    @staticmethod
    def _race_after_read(monkeypatch, path, docs):
        """Make the first ``icetable.read_table`` call commit a
        competing append right after it returns; the competitor's
        snapshot id lands in the returned list."""
        read, won = icetable.read_table, []

        def racing_read(*args, **kwargs):
            df = read(*args, **kwargs)
            if not won:
                won.append(icetable.write_table(docs.select("url", "part").limit(3), path, mode="append"))
            return df

        monkeypatch.setattr(icetable, "read_table", racing_read)
        return won

    def test_merge_conflicts_with_a_commit_after_its_read(self, spark, docs, tmp_path, monkeypatch):
        path = str(tmp_path / "t_merge_race")
        icetable.write_table(docs.select("url", "part"), path)
        won = self._race_after_read(monkeypatch, path, docs)
        updates = docs.where(F.col("part") == 2).select("url", "part")
        with pytest.raises(icetable.CommitConflict):
            icetable.merge_table(spark, path, updates, key_cols=["url"])
        monkeypatch.undo()
        assert icetable.current_snapshot(path) == won[0]
        assert icetable.read_table(spark, path).count() == 403

    def test_compact_conflicts_with_a_commit_after_its_read(self, spark, docs, tmp_path, monkeypatch):
        path = str(tmp_path / "t_compact_race")
        icetable.write_table(docs.select("url", "part"), path)
        won = self._race_after_read(monkeypatch, path, docs)
        with pytest.raises(icetable.CommitConflict):
            icetable.compact(spark, path, target_files=2)
        monkeypatch.undo()
        assert icetable.current_snapshot(path) == won[0]
        assert icetable.read_table(spark, path).count() == 403

    def test_run_stage_conflicts_with_a_concurrent_run(self, spark, docs, tmp_path):
        """A second run of the same stage commits the pending parts
        while the first is transforming them: the first must conflict,
        not commit those parts (and their lineage rows) a second time."""
        out_path = str(tmp_path / "out")
        xform = TestLineageResume._xform
        lineage.run_stage(spark, "s1", docs.where(F.col("part") < 4), xform, "part", out_path)
        won = []

        def racing(df):
            if not won:
                won.append(None)
                lineage.run_stage(spark, "s1", docs, xform, "part", out_path)
                won[0] = icetable.current_snapshot(out_path)
            return xform(df)

        with pytest.raises(icetable.CommitConflict):
            lineage.run_stage(spark, "s1", docs, racing, "part", out_path)
        assert icetable.current_snapshot(out_path) == won[0]
        assert sorted(r["part"] for r in lineage.lineage_rows(out_path, "s1")) == list(range(8))
        assert icetable.read_table(spark, out_path).count() == 400

    def test_auto_basis_sequential_commits_still_chain(self, spark, docs, tmp_path):
        path = str(tmp_path / "t2")
        s1 = icetable.write_table(docs, path)
        s2 = icetable.write_table(docs.limit(2), path, mode="append")
        assert icetable.current_snapshot(path) == s2
        m = icetable.read_manifest(path)
        assert m["parent_snapshot_id"] == s1

    def test_commit_lock_is_released_after_conflict(self, spark, docs, tmp_path):
        import os

        import pytest as _pytest

        path = str(tmp_path / "t3")
        icetable.write_table(docs.limit(2), path)
        with _pytest.raises(icetable.CommitConflict):
            icetable.write_table(docs.limit(1), path, expected_parent="bogus")
        # the flock must be RELEASED after the conflict (the lock file
        # itself is permanent by design — unlink-after-release is the
        # classic flock race): it must be immediately re-acquirable
        with icetable._commit_lock(path, timeout_s=0.5):
            pass
        # and a fresh auto-basis commit still succeeds afterwards
        s = icetable.write_table(docs.limit(1), path)
        assert icetable.current_snapshot(path) == s

    def test_commit_lock_mutual_exclusion_and_timeout(self, spark, docs, tmp_path):
        """A held flock blocks a second acquirer (TimeoutError), and
        release makes it immediately available — the release is the
        kernel's, not a check-then-unlink."""
        import pytest as _pytest

        path = str(tmp_path / "t4")
        icetable.write_table(docs.limit(1), path)
        outer = icetable._commit_lock(path, timeout_s=0.3)
        with outer:
            # NB: flock is per-fd, so a second _commit_lock in the
            # same process genuinely contends (unlike POSIX lockf)
            with _pytest.raises(TimeoutError):
                with icetable._commit_lock(path, timeout_s=0.3):
                    pass
        with icetable._commit_lock(path, timeout_s=0.3):
            pass


class TestSchemaEvolution:
    """Iceberg-style add/drop-column semantics: the append's schema
    becomes the live schema; pre-evolution files read the added
    column as NULL; time travel sees each snapshot's own schema;
    type changes are refused."""

    def test_add_column_reads_null_for_old_files(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from georaster_spark.sources import icetable

        path = str(tmp_path / "tbl")
        base = spark.range(10).select(
            F.col("id").alias("doc_id"), (F.col("id") % 3).alias("lang_id")
        )
        snap1 = icetable.write_table(base, path)
        evolved = spark.range(10, 15).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 3).alias("lang_id"),
            (F.col("id") / 100.0).alias("conf"),
        )
        icetable.write_table(evolved, path, mode="append")
        live = icetable.read_table(spark, path)
        assert set(live.columns) == {"doc_id", "lang_id", "conf"}
        assert live.count() == 15
        assert live.where(F.col("conf").isNull()).count() == 10
        assert live.where("doc_id = 12").collect()[0]["conf"] == 0.12
        # filters on the added column keep (not prune) old files
        assert icetable.read_table(spark, path, filters=[("conf", ">=", 0.0)]).count() == 5
        # time travel: the parent snapshot keeps its own schema
        old = icetable.read_table(spark, path, snapshot_id=snap1)
        assert set(old.columns) == {"doc_id", "lang_id"} and old.count() == 10

    def test_read_uses_manifest_schema_and_column_order(self, spark, tmp_path):
        """Columns read back in the manifest's order and with their
        declared types: a zero-padded string stays a string and a long
        stays a long."""
        from pyspark.sql import functions as F

        from georaster_spark.sources import icetable

        path = str(tmp_path / "tbl")
        df = spark.range(12).select(
            F.col("id").alias("doc_id"),
            F.format_string("%02d", F.col("id") % 3).alias("zone"),
            (F.col("id") % 2).alias("part"),
            (F.col("id") / 4.0).alias("score"),
        )
        icetable.write_table(df, path)
        manifest = [(f["name"], f["type"]) for f in icetable.read_manifest(path)["schema"]["fields"]]
        back = icetable.read_table(spark, path)
        assert [(f.name, f.dataType.typeName()) for f in back.schema] == manifest
        assert manifest == [
            ("doc_id", "long"), ("zone", "string"), ("part", "long"), ("score", "double")
        ]
        assert sorted(back.collect()) == sorted(df.collect())

    def test_drop_column_and_time_travel(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from georaster_spark.sources import icetable

        path = str(tmp_path / "tbl")
        base = spark.range(6).select(
            F.col("id").alias("doc_id"), F.lit("x").alias("legacy")
        )
        snap1 = icetable.write_table(base, path)
        slim = spark.range(6, 9).select(F.col("id").alias("doc_id"))
        icetable.write_table(slim, path, mode="append")
        live = icetable.read_table(spark, path)
        assert live.columns == ["doc_id"] and live.count() == 9
        old = icetable.read_table(spark, path, snapshot_id=snap1)
        assert set(old.columns) == {"doc_id", "legacy"}

    def test_type_change_refused(self, spark, tmp_path):
        import pytest
        from pyspark.sql import functions as F

        from georaster_spark.sources import icetable

        path = str(tmp_path / "tbl")
        icetable.write_table(
            spark.range(3).select(F.col("id").alias("doc_id")), path
        )
        bad = spark.range(3).select(F.col("id").cast("string").alias("doc_id"))
        with pytest.raises(ValueError, match="cannot change column type"):
            icetable.write_table(bad, path, mode="append")
