"""WebDataset tar-shard + JSONL ingestion (sources/shards.py)."""

from __future__ import annotations

import gzip
import io
import json
import tarfile

import pytest
from pyspark.sql import functions as F

from bloomy_etl_spark.sources.shards import (
    group_samples,
    read_jsonl_corpus,
    read_webdataset,
)


def _write_shard(path, samples):
    """samples: list of (member_name, payload bytes)."""
    with tarfile.open(path, "w") as tf:
        for name, payload in samples:
            info = tarfile.TarInfo(name=name)
            info.size = len(payload)
            tf.addfile(info, io.BytesIO(payload))


@pytest.fixture(scope="module")
def shard_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("wds")
    _write_shard(
        d / "shard-000.tar",
        [
            ("0001.jpg", b"\xff\xd8fakejpeg"),
            ("0001.txt", b"a cat photo"),
            ("0001.json", json.dumps({"w": 64}).encode()),
            ("0002.jpg", b"\x89PNGfake"),
            ("0002.txt", b"a dog photo"),
        ],
    )
    _write_shard(
        d / "shard-001.tar",
        [
            ("sub/0003.seg.png", b"segmask"),
            ("sub/0003.txt", b"nested sample"),
        ],
    )
    return str(d)


class TestWebdataset:
    def test_members_and_grouping_rule(self, spark, shard_dir):
        m = read_webdataset(spark, shard_dir + "/*.tar")
        rows = m.collect()
        assert len(rows) == 7
        by_key = {}
        for r in rows:
            by_key.setdefault(r["sample_key"], []).append(r["ext"])
        assert sorted(by_key["0001"]) == ["jpg", "json", "txt"]
        assert sorted(by_key["0002"]) == ["jpg", "txt"]
        # first-dot rule + directory prefix preserved
        assert sorted(by_key["sub/0003"]) == ["seg.png", "txt"]
        # payload fidelity
        px = {(r["sample_key"], r["ext"]): bytes(r["payload"]) for r in rows}
        assert px[("0001", "txt")] == b"a cat photo"
        assert px[("sub/0003", "seg.png")] == b"segmask"

    def test_suffix_filter_prunes_in_task(self, spark, shard_dir):
        m = read_webdataset(spark, shard_dir + "/*.tar", suffix_filter=("txt",))
        assert sorted(r["ext"] for r in m.collect()) == ["txt", "txt", "txt"]

    def test_group_samples(self, spark, shard_dir):
        s = group_samples(read_webdataset(spark, shard_dir + "/*.tar"))
        got = {r["sample_key"]: r for r in s.collect()}
        assert got["0001"]["n_members"] == 3
        assert bytes(got["0001"]["parts"]["txt"]) == b"a cat photo"
        assert set(got["0002"]["parts"].keys()) == {"jpg", "txt"}


class TestCorruptShards:
    """The on_error contract under the REALISTIC corruption modes: a
    truncated tar usually opens fine and fails mid-iteration (ADVICE r4),
    and a malformed shard can repeat a (sample_key, ext)."""

    @pytest.fixture(scope="class")
    def truncated_dir(self, tmp_path_factory):
        d = tmp_path_factory.mktemp("wds_trunc")
        _write_shard(
            d / "good.tar",
            [("0001.txt", b"x" * 100), ("0002.txt", b"y" * 100)],
        )
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tf:
            for name, payload in [
                ("1001.txt", b"a" * 2000),
                ("1002.txt", b"b" * 2000),
                ("1003.txt", b"c" * 2000),
            ]:
                info = tarfile.TarInfo(name=name)
                info.size = len(payload)
                tf.addfile(info, io.BytesIO(payload))
        data = buf.getvalue()
        # cut inside member 2's PAYLOAD (m1: header 0-511 + padded
        # payload 512-2559; m2: header 2560-3071, payload from 3072):
        # open() and member 1 fully succeed, extractfile(m2).read()
        # raises ReadError mid-iteration — and member 1's
        # already-extracted rows must NOT leak out. (A truncated header
        # reads as clean EOF in stdlib tarfile, so payload truncation is
        # the mode that exercises the mid-iteration handler.)
        (d / "trunc.tar").write_bytes(data[:4000])
        return str(d)

    def test_skip_quarantines_midstream_truncation(self, spark, truncated_dir):
        m = read_webdataset(spark, truncated_dir + "/*.tar", on_error="skip")
        rows = m.collect()
        corrupt = [r for r in rows if r["ext"] == "__corrupt__"]
        ok = [r for r in rows if r["ext"] != "__corrupt__"]
        assert len(corrupt) == 1 and "trunc.tar" in corrupt[0]["shard"]
        # no partial rows leak from the truncated shard
        assert all("good.tar" in r["shard"] for r in ok)
        assert sorted(r["sample_key"] for r in ok) == ["0001", "0002"]

    def test_fail_propagates_midstream_truncation(self, spark, truncated_dir):
        with pytest.raises(Exception):
            read_webdataset(spark, truncated_dir + "/trunc.tar").collect()

    def test_duplicate_ext_degrades_not_fails(self, spark, tmp_path):
        p = tmp_path / "dup.tar"
        _write_shard(
            p,
            [
                ("0001.txt", b"zz-second"),
                ("0001.txt", b"aa-first"),
                ("0001.jpg", b"img"),
            ],
        )
        s = group_samples(read_webdataset(spark, str(p)))
        got = {r["sample_key"]: r for r in s.collect()}
        row = got["0001"]
        # raw member count preserved so the dupe stays detectable
        assert row["n_members"] == 3
        assert len(row["parts"]) == 2
        # deterministic first-per-ext: smallest payload for the dup ext
        assert bytes(row["parts"]["txt"]) == b"aa-first"
        assert bytes(row["parts"]["jpg"]) == b"img"


class TestJsonl:
    def test_read_with_quarantine(self, spark, tmp_path):
        p = tmp_path / "docs.jsonl.gz"
        lines = [
            json.dumps({"doc_id": 1, "text": "hello", "lang": "en", "source": "s0"}),
            "{ not json",
            json.dumps({"doc_id": 2, "text": "welt", "lang": "de", "source": "s1"}),
        ]
        with gzip.open(p, "wt") as f:
            f.write("\n".join(lines))
        df = read_jsonl_corpus(spark, str(p))
        # full-row collect: Spark refuses corrupt-record-ONLY queries over
        # raw JSON (the column exists only during parsing) — the loader
        # docstring pins this caveat
        rows = df.collect()
        good = [r for r in rows if r["_corrupt_record"] is None]
        bad = [r for r in rows if r["_corrupt_record"] is not None]
        assert {r["doc_id"] for r in good} == {1, 2}
        assert len(bad) == 1
        # failfast path raises on the corrupt line
        with pytest.raises(Exception):
            read_jsonl_corpus(spark, str(p), quarantine=False).collect()


class TestGroupInTask:
    def test_equivalent_to_shuffle_mode(self, spark, shard_dir):
        m = read_webdataset(spark, shard_dir + "/*.tar")
        a = sorted(
            (r["shard"], r["sample_key"], r["n_members"],
             tuple(sorted((k, bytes(v)) for k, v in r["parts"].items())))
            for r in group_samples(m, group_in_task=False).collect()
        )
        b = sorted(
            (r["shard"], r["sample_key"], r["n_members"],
             tuple(sorted((k, bytes(v)) for k, v in r["parts"].items())))
            for r in group_samples(m, group_in_task=True).collect()
        )
        assert a == b and len(a) == 3

    def test_no_exchange_in_plan(self, spark, shard_dir):
        m = read_webdataset(spark, shard_dir + "/*.tar")
        plan = (
            group_samples(m, group_in_task=True)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan

    def test_duplicate_ext_same_first_per_ext_rule(self, spark, tmp_path):
        p = tmp_path / "dup.tar"
        _write_shard(
            p,
            [
                ("0001.txt", b"bbb"),
                ("0001.txt", b"aaa"),  # duplicate ext: smallest payload wins
                ("0001.jpg", b"img"),
            ],
        )
        m = read_webdataset(spark, str(p))
        row = group_samples(m, group_in_task=True).collect()[0]
        assert row["n_members"] == 3
        assert bytes(row["parts"]["txt"]) == b"aaa"

    def test_sample_split_across_arrow_batches(self, spark, tmp_path):
        """A sample whose members straddle an Arrow batch boundary must
        fold into ONE row — force 1-row batches to hit every boundary."""
        p = tmp_path / "spanning.tar"
        _write_shard(
            p,
            [(f"{i:04d}.{ext}", f"{i}-{ext}".encode())
             for i in range(1, 4) for ext in ("jpg", "txt")],
        )
        m = read_webdataset(spark, str(p))
        saved = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
        try:
            rows = group_samples(m, group_in_task=True).collect()
        finally:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", saved)
        assert sorted(r["sample_key"] for r in rows) == ["0001", "0002", "0003"]
        assert all(r["n_members"] == 2 for r in rows)
