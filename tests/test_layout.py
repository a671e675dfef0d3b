"""Storage-layout tests: partition pruning, clustering, compaction,
upserts and deletes, asserted on the PHYSICAL PLAN and the files
written (the 100 TB posture, not just results)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bloomy_etl_spark.plans.explain import plan_string
from bloomy_etl_spark.sinks.layout import write_date_partitioned
from bloomy_etl_spark.sources.tables import load_table

from tests.conftest import SF_SMOKE


def _date_range(spark, path, start, end):
    """A date-range read of a ``write_date_partitioned`` table: the
    bounds bind to the ``p_date`` partition column."""
    return spark.read.parquet(path).filter(
        F.col("p_date").between(F.lit(start).cast("date"),
                                F.lit(end).cast("date")))


@pytest.fixture(scope="module")
def part_path(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("events_part"))
    write_date_partitioned(load_table(spark, SF_SMOKE, "events"), out)
    return out


class TestDatePartitioning:
    def test_roundtrip_and_partition_dirs(self, spark, part_path):
        import os

        dirs = [d for d in os.listdir(part_path) if d.startswith("p_date=")]
        assert len(dirs) > 1, "expected one directory per date"
        got = spark.read.parquet(part_path)
        want = load_table(spark, SF_SMOKE, "events")
        assert got.count() == want.count()

    def test_range_filter_becomes_partition_filter(self, spark, part_path):
        df = _date_range(spark, part_path, "2024-01-10", "2024-01-12")
        plan = plan_string(df)
        assert "PartitionFilters" in plan
        # the date bounds must appear in PartitionFilters, and the scan's
        # data-filter list must NOT re-apply them (pruning, not filtering)
        pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
        assert any("p_date" in ln for ln in pf_lines), pf_lines
        # row correctness vs the unpartitioned source
        want = (
            load_table(spark, SF_SMOKE, "events")
            .filter(F.to_date("ts").between("2024-01-10", "2024-01-12"))
            .count()
        )
        assert df.count() == want

    def test_pruned_scan_reads_fewer_files(self, spark, part_path):
        """Check the EXECUTED scan's numFiles metric — inputFiles() lists
        the unpruned FileIndex and would not show pruning."""

        def files_read(df):
            df.collect()
            leaf = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
            return leaf.metrics().apply("numFiles").value()

        allf = files_read(spark.read.parquet(part_path))
        pruned = files_read(
            _date_range(spark, part_path, "2024-01-10", "2024-01-12")
        )
        assert 0 < pruned < allf, f"no pruning: {pruned} vs {allf}"


class TestZOrder:
    def test_zorder_tightens_file_stats(self, spark, tmp_path_factory):
        """Z-ordered files cover small rectangles of (a,b) space, so a
        range predicate on EITHER column overlaps fewer files' min/max
        envelopes than a layout clustered on neither (hash-shuffled)."""
        import pyarrow.parquet as pq
        import glob, os

        from bloomy_etl_spark.sinks.layout import write_zordered

        ev = load_table(spark, SF_SMOKE, "events")
        base = tmp_path_factory.mktemp("zorder")
        zpath, rpath = str(base / "z"), str(base / "r")
        write_zordered(ev, zpath, "user_id", "value", n_files=8)
        # control: same file count, random (round-robin) placement
        ev.repartition(8).write.mode("overwrite").parquet(rpath)

        def overlapping(path, col, lo, hi):
            n = 0
            for f in glob.glob(os.path.join(path, "*.parquet")):
                md = pq.read_metadata(f)
                idx = md.schema.names.index(col)
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    mins.append(st.min); maxs.append(st.max)
                if min(mins) <= hi and max(maxs) >= lo:
                    n += 1
            return n

        # point-ish range on each z-ordered column
        z_hits = overlapping(zpath, "user_id", 3, 4)
        r_hits = overlapping(rpath, "user_id", 3, 4)
        assert z_hits < r_hits, (z_hits, r_hits)
        lo, hi = 10.0, 12.0
        assert overlapping(zpath, "value", lo, hi) < overlapping(rpath, "value", lo, hi)
        # and the data survives intact
        assert spark.read.parquet(zpath).count() == ev.count()

    def test_range_sorted_files_are_disjoint_intervals(self, spark, tmp_path_factory):
        """write_range_sorted: every file covers a disjoint sort_col
        interval, so a point/range predicate overlaps ~1 file's min/max
        envelope (vs most files under round-robin placement)."""
        import glob
        import os

        import pyarrow.parquet as pq

        from bloomy_etl_spark.sinks.layout import write_range_sorted

        ev = load_table(spark, SF_SMOKE, "events")
        base = tmp_path_factory.mktemp("rangesort")
        spath, rpath = str(base / "s"), str(base / "r")
        write_range_sorted(ev, spath, "event_id", n_files=8)
        ev.repartition(8).write.mode("overwrite").parquet(rpath)

        def envelopes(path):
            envs = []
            for f in glob.glob(os.path.join(path, "*.parquet")):
                md = pq.read_metadata(f)
                idx = md.schema.names.index("event_id")
                sts = [
                    md.row_group(rg).column(idx).statistics
                    for rg in range(md.num_row_groups)
                ]
                envs.append((min(s.min for s in sts), max(s.max for s in sts)))
            return sorted(envs)

        s_envs = envelopes(spath)
        # disjoint: each file's min exceeds the previous file's max
        assert all(b[0] > a[1] for a, b in zip(s_envs, s_envs[1:]))
        # a point lookup touches exactly one sorted file but most random ones
        point = s_envs[3][0]
        r_hits = sum(1 for lo, hi in envelopes(rpath) if lo <= point <= hi)
        s_hits = sum(1 for lo, hi in s_envs if lo <= point <= hi)
        assert s_hits == 1 and r_hits > 1
        assert spark.read.parquet(spath).count() == ev.count()

    def test_morton_key_interleaves(self, spark):
        from bloomy_etl_spark.sinks.layout import morton_key

        df = spark.range(1).select(
            morton_key(F.lit(0b101), F.lit(0b011), bits=3).alias("z")
        )
        # a=101, b=011 -> bits (b2 a2 b1 a1 b0 a0) = 0 1 1 0 1 1
        assert df.first()["z"] == 0b011011


class TestCompaction:
    def test_compact_reduces_file_count(self, spark, tmp_path_factory):
        import glob, os

        from bloomy_etl_spark.sinks.layout import compact

        base = tmp_path_factory.mktemp("compact")
        frag, out = str(base / "frag"), str(base / "out")
        ev = load_table(spark, SF_SMOKE, "events")
        ev.repartition(40).write.mode("overwrite").parquet(frag)
        assert len(glob.glob(os.path.join(frag, "*.parquet"))) == 40
        n = compact(spark, frag, out, target_file_bytes=1 << 20)
        got = glob.glob(os.path.join(out, "*.parquet"))
        assert len(got) == n and n < 40
        assert spark.read.parquet(out).count() == ev.count()


class TestUpsert:
    def test_latest_wins_and_partition_scope(self, spark, tmp_path_factory):
        import datetime as dt
        import glob, os

        from bloomy_etl_spark.sinks.layout import upsert_partitioned

        base = tmp_path_factory.mktemp("upsert")
        path = str(base / "t")
        rows = [
            (1, dt.datetime(2024, 1, 1, 10), 1.0),
            (2, dt.datetime(2024, 1, 1, 11), 2.0),
            (3, dt.datetime(2024, 1, 2, 9), 3.0),
            (4, dt.datetime(2024, 1, 3, 8), 4.0),
        ]
        df = spark.createDataFrame(rows, "k long, ts timestamp, v double")
        write_date_partitioned(df, path)
        untouched = sorted(glob.glob(os.path.join(path, "p_date=2024-01-03", "*.parquet")))
        mtimes = [os.path.getmtime(f) for f in untouched]

        updates = spark.createDataFrame(
            [
                (1, dt.datetime(2024, 1, 1, 12), 10.0),   # newer -> wins
                (2, dt.datetime(2024, 1, 1, 10), 99.0),   # older -> loses
                (9, dt.datetime(2024, 1, 2, 15), 9.0),    # new key -> insert
            ],
            "k long, ts timestamp, v double",
        )
        days = upsert_partitioned(spark, path, updates, key_cols=["k"], ts_col="ts")
        assert sorted(days) == ["2024-01-01", "2024-01-02"]

        got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
        assert got == {1: 10.0, 2: 2.0, 3: 3.0, 4: 4.0, 9: 9.0}
        # the untouched partition's files were not rewritten
        after = sorted(glob.glob(os.path.join(path, "p_date=2024-01-03", "*.parquet")))
        assert after == untouched
        assert [os.path.getmtime(f) for f in after] == mtimes


class TestUpsertTies:
    def test_equal_ts_update_wins(self, spark, tmp_path_factory):
        """A re-sent correction with an unchanged timestamp must apply
        deterministically — the update side wins exact-ts ties."""
        import datetime as dt

        from bloomy_etl_spark.sinks.layout import upsert_partitioned

        base = tmp_path_factory.mktemp("upsert_tie")
        path = str(base / "t")
        ts = dt.datetime(2024, 1, 1, 10)
        df = spark.createDataFrame([(1, ts, 1.0)], "k long, ts timestamp, v double")
        write_date_partitioned(df, path)
        updates = spark.createDataFrame(
            [(1, ts, 10.0)], "k long, ts timestamp, v double"
        )
        for _ in range(3):  # repeat: ties must not flip with shuffle order
            upsert_partitioned(spark, path, updates, key_cols=["k"], ts_col="ts")
            got = spark.read.parquet(path).collect()
            assert len(got) == 1 and got[0]["v"] == 10.0


class TestPropagateDeletes:
    """Right-to-be-forgotten propagation (layout.propagate_deletes)."""

    def _table(self, spark, tmp_path):
        from bloomy_etl_spark.sinks.layout import write_date_partitioned

        rows = [
            (i, 100 + (i % 5), f"2024-01-{(i % 3) + 1:02d} 00:00:00", float(i))
            for i in range(60)
        ]
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts string, value double"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        path = str(tmp_path / "tbl")
        write_date_partitioned(df, path)
        return path

    def test_deletes_only_requested_ids_and_touched_partitions(
        self, spark, tmp_path
    ):
        import os

        from bloomy_etl_spark.sinks.layout import propagate_deletes

        path = self._table(spark, tmp_path)
        before = spark.read.parquet(path)
        n_before = before.count()
        n_victim = before.filter(F.col("user_id") == 102).count()
        ids = spark.createDataFrame([(102,)], "user_id long")
        days = propagate_deletes(
            spark, path, ids, "user_id",
            tombstone_dir=str(tmp_path / "tomb"), requested_at="2024-02-01",
        )
        after = spark.read.parquet(path)
        assert after.filter(F.col("user_id") == 102).count() == 0
        assert after.count() == n_before - n_victim
        # user 102 hits all three days in this fixture
        assert days == ["2024-01-01", "2024-01-02", "2024-01-03"]
        tomb = spark.read.parquet(str(tmp_path / "tomb"))
        assert tomb.filter(F.col("user_id") == 102).count() == 3
        assert {r["requested_at"] for r in tomb.collect()} == {"2024-02-01"}
        assert os.path.isdir(path)

    def test_replay_is_noop_and_absent_ids_touch_nothing(self, spark, tmp_path):
        from bloomy_etl_spark.sinks.layout import propagate_deletes

        path = self._table(spark, tmp_path)
        ids = spark.createDataFrame([(101,)], "user_id long")
        first = propagate_deletes(spark, path, ids, "user_id")
        assert first  # something was deleted
        snapshot = {tuple(r) for r in spark.read.parquet(path).collect()}
        # replay: the anti-join finds nothing — no partitions rewritten
        again = propagate_deletes(spark, path, ids, "user_id")
        assert again == []
        assert {tuple(r) for r in spark.read.parquet(path).collect()} == snapshot
        # an id that never existed touches nothing
        ghost = spark.createDataFrame([(999,)], "user_id long")
        assert propagate_deletes(spark, path, ghost, "user_id") == []

    def test_untouched_partitions_not_rewritten(self, spark, tmp_path):
        """A victim confined to one day must leave the other partition
        directories' files byte-identical (mtime+size fingerprints)."""
        import os

        from bloomy_etl_spark.sinks.layout import (
            propagate_deletes,
            write_date_partitioned,
        )

        rows = [(1, 500, "2024-01-01 00:00:00", 1.0),
                (2, 501, "2024-01-02 00:00:00", 2.0),
                (3, 502, "2024-01-03 00:00:00", 3.0)]
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts string, value double"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        path = str(tmp_path / "tbl2")
        write_date_partitioned(df, path)

        def fingerprints(day):
            d = os.path.join(path, f"p_date={day}")
            return {
                f: (os.path.getmtime(os.path.join(d, f)),
                    os.path.getsize(os.path.join(d, f)))
                for f in os.listdir(d) if f.endswith(".parquet")
            }

        fp2 = fingerprints("2024-01-02")
        fp3 = fingerprints("2024-01-03")
        ids = spark.createDataFrame([(500,)], "user_id long")
        days = propagate_deletes(spark, path, ids, "user_id")
        assert days == ["2024-01-01"]
        assert fingerprints("2024-01-02") == fp2
        assert fingerprints("2024-01-03") == fp3
        # user 500 was the ONLY row in 2024-01-01: the delete must not
        # leave the emptied partition's old files behind (dynamic
        # overwrite writes nothing for a day with no survivors, so the
        # directory needs an explicit removal — the GDPR failure mode).
        after = spark.read.parquet(path)
        assert after.filter(F.col("user_id") == 500).count() == 0
        assert after.count() == 2
        assert not os.path.isdir(os.path.join(path, "p_date=2024-01-01"))


class TestApplyTombstones:
    def test_derived_store_deletion_and_idempotence(self, spark, tmp_path):
        from bloomy_etl_spark.sinks.layout import apply_tombstones

        store = str(tmp_path / "store")
        spark.createDataFrame(
            [(u, u * 10) for u in range(20)], "user_id long, sig long"
        ).write.parquet(store)
        tomb = str(tmp_path / "tomb")
        spark.createDataFrame(
            [(3, "2024-02-01"), (7, "2024-02-01")],
            "user_id long, requested_at string",
        ).write.parquet(tomb)
        removed = apply_tombstones(spark, store, tomb, "user_id")
        assert removed == 2
        left = spark.read.parquet(store)
        assert left.count() == 18
        assert left.filter(F.col("user_id").isin(3, 7)).count() == 0
        # idempotent: second application removes nothing
        assert apply_tombstones(spark, store, tomb, "user_id") == 0

    def test_out_dir_mode_leaves_source_untouched(self, spark, tmp_path):
        from bloomy_etl_spark.sinks.layout import apply_tombstones

        store = str(tmp_path / "store2")
        spark.createDataFrame(
            [(u, float(u)) for u in range(10)], "user_id long, v double"
        ).write.parquet(store)
        tomb = str(tmp_path / "tomb2")
        spark.createDataFrame([(1,)], "user_id long").write.parquet(tomb)
        out = str(tmp_path / "clean")
        removed = apply_tombstones(spark, store, tomb, "user_id", out_dir=out)
        assert removed == 1
        assert spark.read.parquet(store).count() == 10  # untouched
        assert spark.read.parquet(out).count() == 9


class TestPropagateDeletesEmptySet:
    def test_no_match_request_still_materializes_the_log(
        self, spark, tmp_path
    ):
        """A deletion request that matches nothing must still leave a
        READABLE 0-row tombstone log (schema and all): downstream
        apply_tombstones/audits read the log unconditionally and must
        not crash on PATH_NOT_FOUND just because the first request was
        a no-op."""
        from bloomy_etl_spark.sinks.layout import (
            apply_tombstones,
            propagate_deletes,
            write_date_partitioned,
        )

        rows = [(1, 10, "2024-01-01 00:00:00", 1.0),
                (2, 11, "2024-01-02 00:00:00", 2.0)]
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts string, value double"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        path = str(tmp_path / "tbl")
        write_date_partitioned(df, path)
        tomb = str(tmp_path / "tomb")
        ghost = spark.createDataFrame([(999,)], "user_id long")
        assert propagate_deletes(
            spark, path, ghost, "user_id",
            tombstone_dir=tomb, requested_at="2024-02-01",
        ) == []
        log = spark.read.parquet(tomb)  # readable, right schema, 0 rows
        assert log.count() == 0
        assert set(log.columns) == {"user_id", "p_date", "requested_at"}
        # and the downstream half consumes the empty log without error
        store = str(tmp_path / "store")
        spark.createDataFrame(
            [(10, 1), (11, 1)], "user_id long, n long"
        ).write.parquet(store)
        assert apply_tombstones(spark, store, tomb, "user_id") == 0
        assert spark.read.parquet(path).count() == 2  # table untouched
