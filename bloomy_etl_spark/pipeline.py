"""End-to-end pipeline orchestrator: one call from raw pixels to cube +
events + sinks.

Reference parity: ``HLSPipeline.execute`` + ``run_pipeline``
(``/root/reference/core/pipeline.py:93-183``) wires
search → per-granule process (decode, mask, indices, granule gates) →
timestamp quality filter → two-stage merge → event detection → sinks.
Every stage already exists in this package as a tested operator; this
module is the composition — the Spark analogue of the reference's
imperative driver loop, expressed as ONE lazy DataFrame DAG.

Where the reference batches granules 10-at-a-time through asyncio
(pipeline.py:99-126) to bound download concurrency, the Spark plan has no
driver loop at all: granule parallelism is task parallelism, and the
"batch size" is the scheduler's executor-slot count. The stage boundaries
the reference enforces with ``await gather`` are shuffle boundaries here,
and everything up to the first aggregate is pipelined per partition.

Scale: the DAG is pixels → mask/indices (narrow, whole-stage codegen) →
granule stats (hash agg on (tile_id, time) — the storage partitioning of
raster data, so mostly partition-local) → gates + timestamp filter (on
the per-granule STATS table, tiny at any scale) → semi-join back to
pixels (broadcast: the kept-granule list is small) → merge (two hash
aggs) → events (window over the per-day series). No collect touches
pixel data; sinks write distributed.

Materialization: the merged cube is pinned once (a lazy checkpoint, see
``session.pin``), so ``series``, ``events``, every sink in
``write_outputs`` and any later action read ONE materialization instead
of each re-running scan → masks → stats → semi-join → merge (the
reference likewise builds one cube object and writes it, its events and
its index from that object, ``core/pipeline.py:166-176``). It also makes
the sinks agree by construction: the float sums behind the cube, the
index and the events come from one execution. The cube is bounded by
(pixel grid × days), already collapsed over granules; the raw pixel table
is not pinned (see the stats pin below).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from bloomy_etl_spark.session import pin

from bloomy_etl_spark.functions.indices import DEFAULT_QUALITY, QualityThresholds
from bloomy_etl_spark.functions.indices import with_indices, with_masks
from bloomy_etl_spark.operators.events import detect_events, ndvi_series
from bloomy_etl_spark.operators.merge import merge_all
from bloomy_etl_spark.operators.quality import (
    apply_granule_gates,
    filter_timestamps,
    granule_stats,
)


@dataclass
class PipelineResult:
    """Lazy handles to every stage output (nothing is computed until a
    sink or action touches it — the whole pipeline is one DAG)."""

    pixels: DataFrame          # mask/index-annotated pixel table
    stats: DataFrame           # per-granule stats (A1/A2)
    kept_stats: DataFrame      # after gates F12/F13 + timestamp filter F14/F15
    cube: DataFrame            # merged spatio-temporal cube (J2/A3/A4)
    series: DataFrame          # per-timestamp spatial-mean NDVI
    events: DataFrame          # detected events (W1-W3)


def run_pipeline(
    raw_pixels: DataFrame,
    q: QualityThresholds = DEFAULT_QUALITY,
    disable_quality_filter: bool = False,
    merge_same_day: bool = True,
    detect: bool = True,
    carry_kept_day_count: bool = False,
) -> PipelineResult:
    """Compose the full reference chain over a raw pixel table
    (tile_id, time, y, x, red, nir, blue, fmask).

    Mirrors ``HLSPipeline.execute`` (pipeline.py:128-183): per-granule
    processing with gates, the optional timestamp filter
    (``disable_quality_filter`` = the reference's flag), merge, then
    detection. Flags keep the reference's CLI semantics
    (``main.py:39-55``).

    ``carry_kept_day_count=True`` annotates every cube row with
    ``n_kept_granules`` (surviving granules of that row's day). The count
    rides the kept list INTO the broadcast join and through the merge
    aggregates — consuming ``kept_stats`` in a second subtree instead
    would re-execute the whole scan→stats chain, because column pruning
    projects each consumer differently and defeats exchange reuse.
    """
    time_type = raw_pixels.schema["time"].dataType
    if not isinstance(time_type, TimestampType):
        # TIMESTAMP_NTZ would otherwise fail deep inside merge_all
        # (unix_micros over a lambda variable), far from the cause
        raise TypeError(
            f"run_pipeline: pixel column 'time' has type "
            f"{time_type.simpleString()}; expected TIMESTAMP (a UTC instant)"
        )
    px = with_indices(with_masks(raw_pixels))
    # The per-granule stats table is bounded by granule COUNT (one row
    # per (tile, timestamp)) — tiny at any raster scale. The gate +
    # timestamp-filter chain references it in several differently-pruned
    # subtrees (flag windows, kept list, broadcast build), and each
    # un-reused reference re-runs the pixel scan + hash-agg underneath
    # it (measured: 4 source scans on the q38 plan, 0 reused). A LAZY
    # localCheckpoint truncates every reference to the materialized
    # stats table. The merged cube below is pinned the same way, so every
    # downstream consumer reads it once. The full-size pixel table is
    # deliberately NOT checkpointed: at 100 TB re-scanning pushed-down
    # parquet is cheaper than caching it, and with both pins in place it
    # is scanned twice per run (under this table and under the merge),
    # however many sinks read the outputs.
    stats = pin(granule_stats(px), eager=False)

    # Granule gates: the reference's per-granule early return
    # (processor.py:280-292). Then the timestamp filter runs over the
    # SURVIVING granules' series, as the reference filters the processed
    # dataset list (pipeline.py:155-161).
    gated = apply_granule_gates(stats, q)
    if disable_quality_filter:
        kept = gated
    else:
        flagged = filter_timestamps(gated, q)
        kept = flagged.filter(~F.col("rejected")).drop("rejected")

    # Broadcast semi-join: pixels of kept granules only. The kept list is
    # one row per granule — broadcastable at any raster scale.
    carry: tuple[str, ...] = ()
    kept_sel = kept.select("tile_id", "time")
    if carry_kept_day_count:
        from pyspark.sql import Window

        kept_sel = kept_sel.withColumn(
            "n_kept_granules",
            F.count(F.lit(1)).over(Window.partitionBy(F.to_date("time"))),
        )
        carry = ("n_kept_granules",)
    # kept is one row per granule (distinct keys), so the inner join that
    # carries the annotation has exactly the left_semi cardinality
    good_px = px.filter(~F.col("mask")).join(
        F.broadcast(kept_sel), ["tile_id", "time"], "inner" if carry else "left_semi"
    )
    # Every consumer (series → events, the three sinks, follow-up counts)
    # reads the cube; unpinned, each one re-executes the whole chain above
    # (measured: 5 pixel scans and 3× the merge shuffles per write_outputs).
    # Building the lazy checkpoint's RDD prepares the kept-list broadcast,
    # so the stats scan and the gates already run here, at construction
    # (under AQE the merge's shuffle stages do too); the rest of the merge
    # runs on the first action.
    cube = pin(
        merge_all(
            good_px.select("tile_id", "time", "y", "x", "ndvi", "evi", *carry),
            merge_same_day=merge_same_day,
            carry=carry,
        ),
        eager=False,
    )
    series = ndvi_series(cube)
    events = (
        detect_events(series, q) if detect else series.limit(0).select(
            F.lit("none").alias("event_kind")
        )
    )
    return PipelineResult(px, stats, kept, cube, series, events)


def write_outputs(result: PipelineResult, out_dir: str) -> dict[str, str]:
    """Persist the pipeline outputs the way the reference does
    (pipeline.py:167-177: events JSON next to the cube file): the cube as
    the main sink, events as JSON, plus the granule-stats index. Returns
    the written paths."""
    from bloomy_etl_spark.sinks.writers import (
        write_cube,
        write_events_json,
        write_index_json,
    )

    cube_path = f"{out_dir}/cube"
    events_path = f"{out_dir}/events"
    write_cube(result.cube, cube_path)
    write_events_json(result.events, events_path)
    index_path = write_index_json(result.cube, f"{out_dir}/index.json")
    return {"cube": cube_path, "events": events_path, "index": index_path}
