"""Training-data shard ingestion: WebDataset tar shards and JSONL.

The two de-facto container formats of LLM/multimodal training corpora:

* **WebDataset tar shards** — samples are groups of files sharing a
  basename inside plain ``.tar`` archives (``000123.jpg`` +
  ``000123.txt`` + ``000123.json`` = one sample), sharded into many
  tars for parallel IO. The reader maps each shard to one task
  (``binaryFile`` source → Arrow-batched ``mapInPandas`` with stdlib
  ``tarfile``), emits one row per member, and ``group_samples`` pivots
  members into one row per sample with an ``ext → payload`` map. No
  external library: the tar format is stdlib, the payloads stay opaque
  binary for the multimodal operators (``operators/multimodal.py``).

* **JSONL** — one JSON document per line, the interchange format of
  text-corpus releases. Spark's native json reader handles it
  (including ``.gz``) — the loader just pins the schema contract and
  normalization (explicit schema = no inference scan; corrupt lines
  quarantined to a column instead of failing the job).

Scale: shards are the parallelism unit — 100k tar files = 100k
independent tasks, no shuffle until ``group_samples`` (one hash
aggregate keyed by sample). Payload bytes move once, inside Arrow
batches. At 100 TB, set ``spark.sql.files.maxPartitionBytes`` so
multiple small shards coalesce into one task, and prefer
``group_in_task=True`` (samples grouped inside each shard's task —
WebDataset guarantees members of a sample are adjacent in the tar, so
no shuffle is needed at all).
"""

from __future__ import annotations

import io
import tarfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MEMBER_SCHEMA = (
    "shard string, sample_key string, ext string, n_bytes long, payload binary"
)


def read_webdataset(spark: SparkSession, path: str,
                    suffix_filter: tuple[str, ...] | None = None,
                    on_error: str = "fail") -> DataFrame:
    """One row per tar member across all shards matching ``path``
    (glob OK): (shard, sample_key, ext, n_bytes, payload).

    ``sample_key`` = member basename up to the FIRST dot, ``ext`` =
    everything after it (WebDataset's grouping rule — ``a/b/0001.seg.png``
    → key ``a/b/0001``, ext ``seg.png``). ``suffix_filter`` prunes
    members by ext before they leave the task (e.g. ``("txt", "json")``
    to skip image payloads in a text-only pass).

    ``on_error``: ``"fail"`` (default) propagates a corrupt shard as a
    task failure; ``"skip"`` drops the shard and emits a sentinel row
    ``(shard, sample_key="", ext="__corrupt__", n_bytes, payload=b"")``
    instead — at 100k-shard scale one truncated tar must not kill the
    job, and the sentinel keeps the loss countable (same quarantine
    posture as ``read_jsonl_corpus``).
    """
    if on_error not in ("fail", "skip"):
        raise ValueError(f"on_error must be 'fail' or 'skip', got {on_error!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for shard_path, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                # A truncated tar usually OPENS fine (the header block is
                # intact) and only fails during member iteration or
                # extractfile().read() — so the whole walk sits inside one
                # handler, and a mid-shard failure discards that shard's
                # partial rows before emitting the sentinel (a half-read
                # sample must not masquerade as a complete one).
                rows: list[dict] = []
                try:
                    with tarfile.open(fileobj=io.BytesIO(data)) as tf:
                        for m in tf:
                            if not m.isfile():
                                continue
                            name = m.name
                            base = name.rsplit("/", 1)[-1]
                            if "." in base:
                                stem, ext = base.split(".", 1)
                            else:
                                stem, ext = base, ""
                            if suffix_filter is not None and ext not in suffix_filter:
                                continue
                            key = (
                                name[: len(name) - len(base)] + stem
                                if "/" in name
                                else stem
                            )
                            payload = tf.extractfile(m).read()
                            rows.append(
                                {
                                    "shard": shard_path,
                                    "sample_key": key,
                                    "ext": ext,
                                    "n_bytes": len(payload),
                                    "payload": payload,
                                }
                            )
                except (tarfile.TarError, EOFError):
                    if on_error == "fail":
                        raise
                    rows = [
                        {
                            "shard": shard_path,
                            "sample_key": "",
                            "ext": "__corrupt__",
                            "n_bytes": len(data),
                            "payload": b"",
                        }
                    ]
                out.extend(rows)
            yield pd.DataFrame(
                out,
                columns=["shard", "sample_key", "ext", "n_bytes", "payload"],
            )

    raw = spark.read.format("binaryFile").load(path)
    return raw.select("path", "content").mapInPandas(run, schema=MEMBER_SCHEMA)


_SAMPLE_SCHEMA = (
    "shard string, sample_key string, n_members long, "
    "parts map<string, binary>"
)


def group_samples(members: DataFrame, group_in_task: bool = False) -> DataFrame:
    """Pivot members into one row per sample:
    (shard, sample_key, n_members, parts: map<ext, payload>).

    ``group_in_task=False``: a hash aggregate keyed by (shard,
    sample_key) — correct even if a sample's members were split across
    reads. ``group_in_task=True`` exploits WebDataset's adjacency
    guarantee (one shard = one task holds all members of each sample,
    consecutively) and folds groups inside each task with ZERO
    exchange — payload bytes never move again after the tar read, the
    scale point of the format. Only valid straight off
    :func:`read_webdataset` (any intervening repartition voids the
    adjacency — the equivalence and no-Exchange plan tests pin both
    modes).

    A malformed shard can repeat the same (sample_key, ext) — both
    modes dedupe FIRST-per-ext deterministically (entries sorted by
    (ext, payload), keep each ext's smallest payload) so one bad shard
    degrades to a quarantinable row instead of a DUPLICATED_MAP_KEY job
    failure (spark.sql.mapKeyDedupPolicy defaults to EXCEPTION);
    ``n_members`` still counts raw members, so dupes stay detectable
    (n_members > size(parts)).
    """
    if group_in_task:
        return _group_in_task(members)
    agg = members.groupBy("shard", "sample_key").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.array_sort(F.collect_list(F.struct("ext", "payload"))).alias("_entries"),
    )
    return agg.select(
        "shard",
        "sample_key",
        "n_members",
        F.map_from_entries(
            F.expr("filter(_entries, (x, i) -> i = 0 OR x.ext != _entries[i-1].ext)")
        ).alias("parts"),
    )


def _group_in_task(members: DataFrame) -> DataFrame:
    """Task-local sample fold: consecutive rows sharing (shard,
    sample_key) become one sample row, streamed across Arrow batch
    boundaries (a sample split over two batches of the same task is
    carried, never emitted twice). Semantics identical to the shuffle
    mode: first-per-ext under (ext, payload) order, raw n_members."""

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur_key: tuple | None = None
        cur_rows: list[tuple] = []  # (ext, payload)

        def emit(out: list[dict]) -> None:
            if cur_key is None:
                return
            entries = sorted(
                cur_rows, key=lambda t: (t[0], t[1] if t[1] is not None else b"")
            )
            parts: dict[str, bytes] = {}
            for ext, payload in entries:
                if ext not in parts:
                    parts[ext] = payload
            out.append(
                {
                    "shard": cur_key[0],
                    "sample_key": cur_key[1],
                    "n_members": len(cur_rows),
                    "parts": parts,
                }
            )

        for pdf in batches:
            out: list[dict] = []
            for shard, key, ext, payload in zip(
                pdf["shard"], pdf["sample_key"], pdf["ext"], pdf["payload"]
            ):
                k = (shard, key)
                if k != cur_key:
                    emit(out)
                    cur_key, cur_rows = k, []
                cur_rows.append((ext, bytes(payload) if payload is not None
                                 else None))
            yield pd.DataFrame(
                out, columns=["shard", "sample_key", "n_members", "parts"]
            )
        tail: list[dict] = []
        emit(tail)
        if tail:
            yield pd.DataFrame(
                tail, columns=["shard", "sample_key", "n_members", "parts"]
            )

    return members.select("shard", "sample_key", "ext", "payload").mapInPandas(
        fold, schema=_SAMPLE_SCHEMA
    )


def read_jsonl_corpus(spark: SparkSession, path: str,
                      schema: str = "doc_id long, text string, lang string, source string",
                      quarantine: bool = True) -> DataFrame:
    """JSONL (one JSON doc per line, optionally .gz) → documents table.

    Explicit schema: no inference pass over 100 TB, stable types across
    shards. With ``quarantine`` the malformed lines land in
    ``_corrupt_record`` instead of failing the job — count them, alert,
    move on (the standard big-corpus posture: a crawler's bad line must
    not kill a week-long job). Caveat: Spark refuses queries that read
    ONLY ``_corrupt_record`` from raw JSON — cache or select a data
    column alongside it when auditing the quarantine."""
    reader = spark.read.schema(
        schema + (", _corrupt_record string" if quarantine else "")
    )
    if quarantine:
        reader = reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", "_corrupt_record"
        )
    else:
        reader = reader.option("mode", "FAILFAST")
    return reader.json(path)
