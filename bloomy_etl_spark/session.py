"""SparkSession factory.

Defaults are chosen for correctness-critical semantics first (UTC session
timezone, ANSI off to match the reference's permissive arithmetic) and
scale second (AQE on, partition coalescing, Arrow transfers for the
pandas-UDF path).

On a real cluster the same factory applies — only ``master`` and memory
sizing change. Shuffle partitions default to a small local-friendly value
but AQE coalescing makes the setting soft: at 100 TB you would raise
``spark.sql.shuffle.partitions`` (or set
``spark.sql.adaptive.coalescePartitions.initialPartitionNum``) and let AQE
shrink per-stage.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import SparkSession

_DEFAULTS: dict[str, str] = {
    # --- correctness-critical ---
    "spark.sql.session.timeZone": "UTC",
    # The reference's arithmetic is NumPy-permissive (no overflow errors,
    # silent NULL on bad casts); ANSI mode would change division/cast
    # semantics mid-query.
    "spark.sql.ansi.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.parquet.filterPushdown": "true",
    # The events fixture stores TIMESTAMP(NANOS); Spark rejects it unless
    # read as raw int64 ns — sources/tables.py converts ns → µs timestamp.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # NOTE deliberately ABSENT: spark.sql.files.minPartitionNum. The
    # fixtures are single-row-group parquet, which cannot split — a
    # minPartitionNum floor only adds empty scan tasks (measured A/B at
    # sf0.1: -33% corpus time on removal, every query faster, none
    # slower). Compute-heavy scans that need width get it from
    # load_table(fan_out=True)'s explicit repartition instead.
    "spark.ui.enabled": "false",
    "spark.driver.memory": "48g",
}

# Deployment sizing profiles. The plans this engine builds are identical
# under either profile — only runtime scheduling knobs differ.
#
# CLUSTER (any non-local master): AQE on — runtime coalescing, skew-join
# splitting, and plan re-optimization pay for themselves when a shuffle
# partition is hundreds of MB and a straggler costs minutes. Shuffle
# partitions sized generously and AQE shrinks per-stage.
_CLUSTER_PROFILE: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.shuffle.partitions": "2048",
}
# LOCAL (local[N] master — tests and the sf0.1 bench): AQE OFF. Its
# per-stage re-planning round-trips the driver between every shuffle
# stage; with single-digit-MB shuffles and many short stages that
# overhead was measured at 30-40% of corpus wall-clock (interleaved
# min-of-3 A/B at sf0.1: AQE on 28.3s vs off/sp=8 17.0s), while the
# benefits AQE exists for (coalescing oversized stages, splitting
# hundred-MB skew) have nothing to act on. Skew that is ALGORITHMIC
# (hot LSH buckets) is handled explicitly in the operators
# (dedup.bucket_pairs), not left to AQE, so this profile loses no
# correctness or robustness. Shuffle partitions sized to the data, not
# the core count: ~MB-scale shuffle stages are scheduling-bound, so
# fewer/fatter partitions win until compute-bound stages (posting-list
# pair expansion, LSH re-rank) run out of width. Interleaved full-corpus
# A/B at sf0.1 (58 queries, min-of-2): sp=8 18.4s, sp=16 20.6s,
# sp=4 21.3s (q36/q42/q31 starve below 8) — 8 is the measured optimum.
_LOCAL_PROFILE: dict[str, str] = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "8",
    # Catalyst's constraint propagation is DRIVER planning time — it
    # re-derives the constraint set per plan node and every .write
    # re-runs the optimizer, so on a sub-second-query corpus it is pure
    # per-query overhead (interleaved A/B at sf0.1, 6 cheapest queries,
    # min-of-3 ×2: base 3.05s vs off 2.36s — 23% of the fixed cost).
    # Semantics are unchanged (constraints only ENABLE extra rewrites);
    # the CLUSTER profile keeps it on, where an inferred IsNotNull or
    # join-key constraint pushed into a 100 TB scan pays for any
    # planning time thousandfold.
    "spark.sql.constraintPropagation.enabled": "false",
    # Shuffle compression trades CPU for network/disk bytes. Local-mode
    # shuffles are MB-scale writes to page cache with zero network, so
    # the lz4 codec setup per map/reduce task is pure overhead
    # (interleaved A/B ×2 on the 12 most overhead-bound queries at
    # sf0.1: off 5.21/5.52s vs on 6.56/5.84s, ~10%). On a cluster the
    # CLUSTER profile keeps Spark's default (compressed): there a
    # shuffle crosses the network and compression pays for itself
    # immediately.
    "spark.shuffle.compress": "false",
    "spark.shuffle.spill.compress": "false",
}


def get_spark(app_name: str = "bloomy_etl_spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores). ``extra_conf`` overrides any default.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf.update(_LOCAL_PROFILE if master.startswith("local") else _CLUSTER_PROFILE)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin(df, eager: bool = True):
    """Pin a DataFrame's physical contents for reuse across jobs.

    Every branch is a CHECKPOINT (never ``persist``): callers rely on
    the pinned contents being NON-RECOMPUTABLE-from-lineage — range-id
    numbering reads the same physical partitions twice, ``__rid``
    stamps must never be reassigned, and matview compaction overwrites
    the path its own input was read from. A recomputable ``persist``
    would silently violate all three on a lost block, and persisted
    plans also accumulate in the session CacheManager for iterative
    callers (k-means/CC/pagerank rounds, streaming microbatches) with
    no reclamation — checkpoint blocks are reclaimed by the
    ContextCleaner once the caller drops the result.

    Deployment gate:

    * **local master** — ``localCheckpoint``: blocks live on the one
      executor that also runs the driver; no extra failure domain.
    * **cluster WITH a configured checkpoint dir** — reliable
      ``checkpoint``: non-recomputable AND survives executor loss /
      dynamic-allocation decommission (enable
      ``spark.cleaner.referenceTracking.cleanCheckpoints`` to reclaim
      the files automatically).
    * **cluster without one** — ``localCheckpoint``, with the
      documented restriction that losing an executor holding blocks
      fails the job (Spark re-runs it); set a checkpoint dir to remove
      the restriction.

    ``eager=True`` materializes before returning (callers that need the
    pinned contents physically identical across later jobs);
    ``eager=False`` just cuts lineage, materializing on first use.
    """
    sc = df.sparkSession.sparkContext
    if not sc.master.startswith("local") and sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


_ARTIFACT_ROOT: str | None = None


def artifact(key: tuple, build: Callable[[str], object]) -> str:
    """Build-once directory for ``key``: run ``build(path)`` the first
    time, hand back the same ``path`` afterwards.

    ``key`` is a tuple whose first element names the artifact (``"q144"``,
    ``"ivfpq"``); it must carry everything the contents depend on (the
    fixture's mtime, the session's ``id``), since a changed key is the
    only thing that triggers a rebuild. The path is a pure function of
    the key, so the marker at that path is the whole lookup. Directories
    live under one process-private root (``mkdtemp``), removed as a
    whole at exit, so no process ever reads another's half-written or
    reaped directory and a build that raised leaves nothing behind
    either.

    Liveness is re-validated on every call: if a /tmp cleaner removed the
    directory — or aged out individual part files inside it — mid-session,
    rebuild instead of handing out a dangling or TRUNCATED path. The
    ``_BUILD_OK`` marker is written only after ``build`` returns, so a
    directory whose contents were partially reaped (file-at-a-time
    cleaners age the marker like any other file) or whose build crashed
    half-way fails the check and rebuilds; a bare ``isdir`` would
    silently read a partial artifact. Every (re)build starts from an
    empty directory."""
    global _ARTIFACT_ROOT
    if _ARTIFACT_ROOT is None:
        _ARTIFACT_ROOT = tempfile.mkdtemp(prefix="bloomy-artifacts-")
        atexit.register(shutil.rmtree, _ARTIFACT_ROOT, ignore_errors=True)
    path = os.path.join(
        _ARTIFACT_ROOT,
        f"{key[0]}-" + hashlib.md5(repr(key).encode()).hexdigest()[:12],
    )
    if os.path.isfile(os.path.join(path, "_BUILD_OK")):
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    build(path)
    with open(os.path.join(path, "_BUILD_OK"), "w") as f:
        f.write("ok")
    return path
