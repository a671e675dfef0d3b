"""Storage layout for cluster-scale tables, decided at WRITE time.

At 100 TB the single-file fixture model becomes a partitioned lakehouse
table, and layout dominates query cost:

* **Date partitioning** (`partitionBy(date)`): time-range predicates
  become partition PRUNING — the scan never lists, opens, or reads
  out-of-range files. Every time-sliced query in the corpus (absolute
  timestamp filters F14, event-window queries, day merges) turns from
  full-scan + filter into touching only matching directories.
* **Clustering** (Z-order, range-sorted writes): files cover narrow
  value ranges, so parquet min/max statistics skip files.
* **Maintenance**: compaction, partition-scoped upsert, SCD2 history
  and deletion propagation rewrite only the partitions they touch.

The reference keeps its cache as one NetCDF per AOI-year
(`/root/reference/core/pipeline.py:163-177` writes a single file); this
module is the distributed replacement for that layout decision.
``maxRecordsPerFile`` bounds file size under skewed partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_date_partitioned(df: DataFrame, path: str, ts_col: str = "ts",
                           max_records_per_file: int = 5_000_000) -> None:
    """Write ``df`` date-partitioned on ``to_date(ts_col)``.

    The partition column is materialized as ``p_date`` (kept separate
    from the full-precision timestamp, which stays in the data files).
    """
    (
        df.withColumn("p_date", F.to_date(F.col(ts_col)))
        .repartition("p_date")  # one task-group per partition dir, no tiny files
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy("p_date")
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# Z-order clustering (multi-column data skipping)
# ---------------------------------------------------------------------------


def morton_key(a, b, bits: int = 16):
    """Interleave the low ``bits`` bits of two non-negative ints into one
    Morton (Z-order) key: bit ``k`` of each input lands at positions
    ``2k`` / ``2k+1``. Locality on the key ⇒ locality on BOTH inputs,
    which is what makes per-file min/max stats tight on both columns at
    once. Pure shift/or expressions — whole-stage-codegen friendly."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    key = F.lit(0).cast("long")
    for k in range(bits):
        key = key.bitwiseOR(
            F.shiftleft(F.shiftright(a.cast("long"), k).bitwiseAND(1), 2 * k)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b.cast("long"), k).bitwiseAND(1), 2 * k + 1)
        )
    return key


def write_zordered(df: DataFrame, path: str, col_a: str, col_b: str,
                   n_files: int = 16, bits: int = 16) -> None:
    """Write ``df`` clustered on the Z-order curve of two numeric columns.

    Each column is min-max scaled onto ``[0, 2^bits)`` (one tiny
    4-number aggregate), Morton-interleaved, then range-partitioned and
    sorted on the key. The payoff is DATA SKIPPING on both columns
    without choosing one sort leader: every parquet file (and row group)
    covers a small rectangle of (a, b) space, so its min/max stats
    exclude it from most point/range scans on EITHER column — the
    standard lakehouse answer when two filter columns compete for the
    sort order. Predicates still reach the scan as ordinary pushed
    filters; the clustering is what makes the stats selective.

    Scale: the min/max aggregate is one reduction; the write is one
    range shuffle (same cost as any global sort-write). Re-cluster only
    when enough new data accumulates — this is a compaction-time layout,
    not a per-ingest one.
    """
    stats = df.agg(
        F.min(col_a).alias("a0"), F.max(col_a).alias("a1"),
        F.min(col_b).alias("b0"), F.max(col_b).alias("b1"),
    ).first()
    if stats["a0"] is None or stats["b0"] is None:
        # empty input (or all-NULL cluster columns): there is nothing to
        # cluster — fail loudly rather than crash opaquely on None-float
        # arithmetic below
        raise ValueError(
            f"write_zordered: no non-NULL values in ({col_a!r}, {col_b!r}) "
            "— empty input cannot be Z-order clustered"
        )
    top = (1 << bits) - 1
    scale = lambda c, lo, hi: (
        ((F.col(c).cast("double") - lo) / ((hi - lo) or 1) * top).cast("long")
    )
    keyed = df.withColumn(
        "_z",
        morton_key(scale(col_a, stats["a0"], stats["a1"]),
                   scale(col_b, stats["b0"], stats["b1"]), bits),
    )
    (
        keyed.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# compaction (small-file management)
# ---------------------------------------------------------------------------


def compact(spark: SparkSession, path: str, out_path: str,
            target_file_bytes: int = 128 << 20) -> int:
    """Rewrite a parquet directory into ``ceil(total_bytes /
    target_file_bytes)`` files. Small-file proliferation is the chronic
    disease of streaming/incremental ingest (every micro-batch leaves a
    file); unchecked, the NameNode/listing cost and per-file open
    overhead dominate scans. Returns the output file count.

    Uses ``coalesce`` — a NARROW dependency, so compaction reads and
    rewrites without a shuffle (tasks concatenate input partitions).
    Sizes come from the filesystem via Hadoop's FileSystem API, so the
    same code handles local, HDFS, or object-store paths.
    """
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)
    total = fs.getContentSummary(jpath).getLength()
    src = spark.read.parquet(path)
    # coalesce can only REDUCE partition count — cap at the source's so
    # the returned figure matches the files actually written
    n = min(max(1, -(-total // target_file_bytes)), src.rdd.getNumPartitions() or 1)
    src.coalesce(int(n)).write.mode("overwrite").parquet(out_path)
    return int(n)


# ---------------------------------------------------------------------------
# upsert (latest-wins merge into a date-partitioned table)
# ---------------------------------------------------------------------------


def latest_by_key(df: DataFrame, key_cols: list[str], ts_col: str,
                  tiebreak_col: str | None = None) -> DataFrame:
    """Keep each key's most recent row (latest ``ts_col``; optional
    deterministic tiebreak). One window shuffle on the key."""
    from pyspark.sql import Window

    order = [F.col(ts_col).desc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).desc())
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def upsert_partitioned(spark: SparkSession, path: str, updates: DataFrame,
                       key_cols: list[str], ts_col: str = "ts") -> list[str]:
    """Latest-wins upsert of ``updates`` into a date-partitioned table
    (layout of :func:`write_date_partitioned`) WITHOUT rewriting the
    whole table — the merge-into primitive for daily corrections and
    late-arriving data when the table format is plain parquet.

    Steps: (1) the updates' distinct ``p_date`` set (tiny — one value per
    touched day) is collected; (2) only those partitions are read back,
    unioned with the updates, and resolved latest-wins per key; (3) the
    result overwrites ONLY the touched partition directories via dynamic
    partition overwrite. Untouched partitions are never read or written.
    Returns the list of rewritten partition values.

    Scale: cost is proportional to the touched days, not the table. The
    merge itself is one window shuffle on the key within those days.
    Writer concurrency caveat: dynamic overwrite is atomic per partition
    directory but not transactional across them — pair with a manifest
    or table-format layer if concurrent writers touch the same days.
    """
    up = updates.withColumn("p_date", F.to_date(F.col(ts_col)))
    days = [r["p_date"] for r in up.select("p_date").distinct().collect()]
    existing = spark.read.parquet(path).filter(F.col("p_date").isin(days))
    # On an exact ts tie the UPDATE side wins (a re-sent correction with
    # an unchanged timestamp must apply deterministically, not by shuffle
    # order): priority 1 beats the stored row's 0 via the tiebreak.
    merged = latest_by_key(
        existing.withColumn("_prio", F.lit(0)).unionByName(
            up.withColumn("_prio", F.lit(1))
        ),
        key_cols,
        ts_col,
        tiebreak_col="_prio",
    ).drop("_prio")
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            merged.repartition("p_date")
            .write.mode("overwrite")
            .partitionBy("p_date")
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return [str(d) for d in days]


# ---------------------------------------------------------------------------
# SCD2: full-history dimension maintenance (validity intervals)
# ---------------------------------------------------------------------------


def scd2_apply(dim: DataFrame, updates: DataFrame, key_cols: list[str],
               attr_cols: list[str], eff_col: str = "eff_ts",
               end_col: str = "end_ts", current_col: str = "is_current") -> DataFrame:
    """Slowly-changing-dimension type 2 merge: fold a batch of attribute
    updates into a history table where every key holds a CHAIN of
    versions ``[eff_ts, end_ts)`` with exactly one open (``end_ts`` NULL,
    ``is_current`` true) version per key.

    ``latest_by_key``/``upsert_partitioned`` above keep only the latest
    row (SCD1); this keeps the full history — the audit/traceability
    posture for dimensions that training-data provenance needs (which
    license/quality label did this source carry WHEN the doc was
    ingested?).

    Semantics (deterministic, order-independent):
      * inputs: ``dim`` = existing SCD2 table (may be empty/None-shaped:
        same columns), ``updates`` = (key…, attr…, eff_ts) observations,
        possibly several per key in one batch;
      * consecutive observations of a key are change-detected: an
        observation equal (null-safe) to the attributes in force at its
        ``eff_ts`` is dropped (no spurious version);
      * surviving versions are re-chained: each version's ``end_ts`` is
        the next version's ``eff_ts``; the last is open.

    Implemented as: union closed+open history with updates → per-key
    window (ONE shuffle on the key) → null-safe change-compare against
    ``lag`` → re-chain with ``lead``. The whole merge is 2 window passes
    over (history + batch) rows of touched keys; untouched keys pass
    through unchanged. Verified value-exact against a DuckDB
    window-replay oracle (t2:q75) plus idempotence/no-op-update units.
    """
    from pyspark.sql import Window

    cols = [*key_cols, *attr_cols, eff_col]
    base = dim.select(*cols)
    up = updates.select(*cols)
    u = base.unionByName(up).dropDuplicates(cols)
    # attrs in the sort make same-eff_ts observations totally ordered →
    # deterministic output even on conflicting same-instant updates
    order = [F.col(eff_col).asc(), *[F.col(a).asc_nulls_first() for a in attr_cols]]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    # change-detect: keep a row only if any attribute differs (null-safe)
    # from the previous surviving row. lag over ALL rows first, then a
    # second pass cannot be avoided in one window — instead compare to the
    # previous ROW and drop equal-adjacent duplicates; equal runs collapse
    # to their first element, which is exactly the change point.
    changed = F.lit(False)
    for a in attr_cols:
        changed = changed | ~F.col(a).eqNullSafe(F.lag(a).over(w))
    first = F.row_number().over(w) == 1
    kept = (
        u.withColumn("_keep", first | changed)
        .filter(F.col("_keep"))
        .drop("_keep")
    )
    w2 = Window.partitionBy(*key_cols).orderBy(*order)
    return kept.select(
        *key_cols,
        *attr_cols,
        F.col(eff_col),
        F.lead(eff_col).over(w2).alias(end_col),
        F.lead(eff_col).over(w2).isNull().alias(current_col),
    )


def write_range_sorted(df: DataFrame, path: str, sort_col: str,
                       n_files: int = 16) -> None:
    """Write ``df`` globally range-clustered on one column: a range
    shuffle (sampled split points) + in-partition sort, so every parquet
    file and row group covers a disjoint ``sort_col`` interval.

    This is the single-leader counterpart of :func:`write_zordered`:
    when ONE column dominates the filter workload (event time, doc_id),
    plain range clustering beats the Z-curve — min/max stats exclude all
    but the touched interval, and merge-joins/as-of scans read the table
    in key order. One shuffle, same cost class as any global sort-write;
    a compaction-time layout like Z-order, not per-ingest.
    """
    (
        df.repartitionByRange(n_files, F.col(sort_col))
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def propagate_deletes(spark: SparkSession, path: str, ids: DataFrame,
                      id_col: str, tombstone_dir: str | None = None,
                      requested_at: str | None = None) -> list[str]:
    """Right-to-be-forgotten delete propagation over a date-partitioned
    table (layout of :func:`write_date_partitioned`): remove every row
    whose ``id_col`` appears in ``ids``, rewriting ONLY the partitions
    that actually contain those ids, and append the deleted keys to a
    durable tombstone log so downstream consumers (caches, derived
    tables, late replays) can apply the same deletion.

    Steps: (1) probe — one pruned-column scan joined against the
    broadcast id set finds the touched ``p_date`` values (tiny:
    distinct days per deleted user); (2) rewrite — only those
    partitions are read back, anti-joined, and dynamically overwritten;
    untouched partitions are never read or written; (3) tombstone —
    ``(id, p_date, requested_at)`` rows append to ``tombstone_dir``.
    Replaying a tombstone batch is a NO-OP by construction (the
    anti-join finds nothing the second time), so at-least-once
    execution is safe. Returns the rewritten partition values.

    ``requested_at`` is the caller's audit timestamp (ISO string);
    deliberately an argument, not a clock read — deletion runs must be
    replayable.

    Scale: the probe reads two columns under partition-pruned parquet;
    rewrite cost is proportional to the touched days, not the table —
    the same contract as :func:`upsert_partitioned`. The id set
    broadcasts (deletion requests are human-scale).
    """
    idset = ids.select(F.col(id_col)).distinct()
    # MATERIALIZE the touched (id, day) set before any rewrite: the
    # lazy plan reads the very files the overwrite replaces, so
    # evaluating it afterwards throws FILE_NOT_EXIST (and would be
    # wrong anyway — the rows are gone). Deletion requests are
    # human-scale, so the probe result is a driver-safe collect.
    probe = (
        spark.read.parquet(path)
        .select(id_col, "p_date")
        .join(F.broadcast(idset), id_col)
        .distinct()
    )
    probe_schema = probe.schema  # keeps the table's id type (int/str/…)
    touched = probe.collect()
    # tombstone FIRST: if the rewrite crashes midway, replaying the
    # tombstone re-applies the deletion (idempotent — the anti-join
    # finds nothing on rows already gone); the reverse order could
    # lose the audit record of a partially-applied deletion. A no-op
    # request still writes a 0-row frame so the log directory always
    # exists with its schema — downstream consumers (apply_tombstones,
    # audits) must be able to read the log unconditionally, not crash
    # on PATH_NOT_FOUND because the first request matched nothing.
    if tombstone_dir is not None:
        spark.createDataFrame(
            touched, probe_schema
        ).coalesce(1).withColumn(
            "requested_at", F.lit(requested_at).cast("string")
        ).write.mode("append").parquet(tombstone_dir)
    if not touched:
        return []
    days = sorted({r["p_date"] for r in touched})
    from bloomy_etl_spark.session import pin

    existing = spark.read.parquet(path).filter(F.col("p_date").isin(days))
    # pin: the kept set feeds TWO consumers (the surviving-day probe and
    # the rewrite) — materializing once halves the touched-partition
    # read+anti-join, and breaks lineage off the files the overwrite is
    # about to replace
    kept = pin(
        existing.join(F.broadcast(idset), id_col, "left_anti"), eager=True
    )
    # Dynamic overwrite only replaces partitions PRESENT in the output:
    # a day whose every row is deleted produces no output partition, so
    # its old files would survive — the delete would silently fail.
    # Find the surviving days first, then hard-delete the emptied
    # partition directories after the rewrite. Bounded: ≤ len(days).
    survivors = {
        r["p_date"] for r in kept.select("p_date").distinct().collect()
    }
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            kept.repartition("p_date")
            .write.mode("overwrite")
            .partitionBy("p_date")
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    emptied = [d for d in days if d not in survivors]
    if emptied:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        for d in emptied:
            pdir = jvm.org.apache.hadoop.fs.Path(f"{path}/p_date={d}")
            fs = pdir.getFileSystem(hconf)
            fs.delete(pdir, True)
    return [str(d) for d in days]


def apply_tombstones(spark: SparkSession, table_dir: str,
                     tombstone_dir: str, id_col: str,
                     out_dir: str | None = None) -> int:
    """Propagate a :func:`propagate_deletes` tombstone log into a
    DERIVED table (DSIR score store, feature cache …): anti-join the
    table against the distinct tombstoned ids and rewrite. Returns the
    number of rows removed.

    Idempotent (a second application removes 0 rows) and at-least-once
    safe — exactly the property the tombstone-first crash protocol in
    :func:`propagate_deletes` relies on downstream. Derived stores are
    usually not date-partitioned, so this is a full rewrite of
    ``table_dir`` (or a fresh write to ``out_dir`` when the store is
    consumed elsewhere mid-rewrite); partition-pruned stores should
    use :func:`propagate_deletes` directly.
    """
    from bloomy_etl_spark.session import pin

    ids = spark.read.parquet(tombstone_dir).select(id_col).distinct()
    table = spark.read.parquet(table_dir)
    kept = table.join(F.broadcast(ids), id_col, "left_anti")
    n_before = table.count()
    if out_dir is None:
        # break lineage off the source files before overwriting them
        # (an eager pin materializes to executor/checkpoint storage —
        # never a driver collect; derived stores can be corpus-scale)
        kept = pin(kept)
        kept.write.mode("overwrite").parquet(table_dir)
        return n_before - spark.read.parquet(table_dir).count()
    kept.write.mode("overwrite").parquet(out_dir)
    return n_before - spark.read.parquet(out_dir).count()
