"""Versioned-table transaction log (sinks/txlog.py): atomic commits,
snapshot isolation, time travel, rollback, idempotent txns, vacuum."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from bloomy_etl_spark.sinks.txlog import (
    ConcurrentCommitError,
    commit,
    history,
    read_table,
    rollback,
    vacuum,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestTxlog:
    def test_append_overwrite_and_time_travel(self, spark, tmp_path):
        d = str(tmp_path / "t")
        assert commit(_df(spark, 0, 5), d) == 0
        assert commit(_df(spark, 5, 10), d) == 1              # append
        assert commit(_df(spark, 100, 103), d, mode="overwrite") == 2
        assert _rows(read_table(spark, d)) == _rows(_df(spark, 100, 103))
        assert _rows(read_table(spark, d, version=1)) == _rows(_df(spark, 0, 10))
        assert _rows(read_table(spark, d, version=0)) == _rows(_df(spark, 0, 5))

    def test_commit_is_atomic_compare_and_swap(self, spark, tmp_path):
        """Two writers that both resolved 'next version = 1' before
        either committed: exactly one exclusive-create wins."""
        from bloomy_etl_spark.sinks.txlog import _atomic_create

        d = str(tmp_path / "t")
        commit(_df(spark, 0, 3), d)
        entry = json.load(open(os.path.join(d, "_txlog", f"{0:020d}.json")))
        entry["version"] = 1
        _atomic_create(d, 1, entry)  # writer A lands version 1
        with pytest.raises(ConcurrentCommitError):
            _atomic_create(d, 1, entry)  # writer B loses the CAS
        # B's retry re-lists the log and lands on the next version
        assert commit(_df(spark, 3, 6), d) == 2

    def test_crashed_writer_invisible_to_readers(self, spark, tmp_path):
        """Data files without a committed log entry (writer died before
        the commit point) must not appear in any snapshot."""
        d = str(tmp_path / "t")
        commit(_df(spark, 0, 4), d)
        orphan_dir = os.path.join(d, "data", "v99")
        _df(spark, 900, 910).write.parquet(orphan_dir)
        assert _rows(read_table(spark, d)) == _rows(_df(spark, 0, 4))

    def test_rollback_is_a_restore_commit(self, spark, tmp_path):
        d = str(tmp_path / "t")
        commit(_df(spark, 0, 4), d)
        commit(_df(spark, 50, 60), d, mode="overwrite")       # the bad write
        v = rollback(spark, d, to_version=0)
        assert v == 2
        assert _rows(read_table(spark, d)) == _rows(_df(spark, 0, 4))
        # history immutable: the bad version still readable
        assert _rows(read_table(spark, d, version=1)) == _rows(_df(spark, 50, 60))
        ops = [h["operation"] for h in history(d)]
        assert ops == ["write", "write", "rollback(to=0)"]

    def test_txn_id_idempotent_replay(self, spark, tmp_path):
        d = str(tmp_path / "t")
        commit(_df(spark, 0, 4), d, txn_id="batch-0")
        v = commit(_df(spark, 0, 4), d, txn_id="batch-0")     # replay
        assert v == 0
        assert len(history(d)) == 1
        assert read_table(spark, d).count() == 4

    def test_checkpoint_replay_many_commits(self, spark, tmp_path):
        """> checkpoint_every commits: snapshot resolution crosses a
        checkpoint boundary and still reproduces every version."""
        d = str(tmp_path / "t")
        for i in range(13):
            commit(_df(spark, i * 10, i * 10 + 10), d, checkpoint_every=5)
        assert read_table(spark, d).count() == 130
        assert read_table(spark, d, version=7).count() == 80

    def test_vacuum_reclaims_only_unreferenced(self, spark, tmp_path):
        d = str(tmp_path / "t")
        commit(_df(spark, 0, 4), d)
        commit(_df(spark, 10, 14), d, mode="overwrite")
        orphan_dir = os.path.join(d, "data", "v99")
        _df(spark, 900, 910).write.parquet(orphan_dir)
        deleted = vacuum(d, keep_versions=1)
        assert deleted  # v0's files + the orphan are gone
        assert all("v1/" not in f for f in deleted)
        assert _rows(read_table(spark, d)) == _rows(_df(spark, 10, 14))

    def test_empty_snapshot_keeps_schema(self, spark, tmp_path):
        d = str(tmp_path / "t")
        commit(_df(spark, 0, 4), d)
        commit(_df(spark, 0, 0), d, mode="overwrite")
        out = read_table(spark, d)
        assert out.count() == 0
        assert out.columns == ["id", "v"]

    def test_bad_args(self, spark, tmp_path):
        d = str(tmp_path / "t")
        with pytest.raises(ValueError):
            commit(_df(spark, 0, 1), d, mode="merge")
        with pytest.raises(ValueError):
            read_table(spark, d)
