"""Workload definitions shared by the orchestrator (run.py) and the worker.

Sizes are fixed per workload; ``--seed`` only changes the generated values
and the per-pass query order. ``TINY`` shrinks every input for the fast
self-test.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    # Driver-side construction dominates: eager pins, per-round jobs and
    # thousands of py4j round trips while the DataFrame is being built.
    "iterative_construct": {
        "kind": "queries",
        "sf": 0.01,
        "queries": (
            "q154_bradley_terry",
            "q82_supplier_pagerank",
            "q32_simhash_neardups",
            "q91_centroid_label_audit",
        ),
    },
    # The paper's batch job: pixels -> masks/indices -> granule gates ->
    # timestamp filter -> merge -> events -> cube/events/index sinks.
    "raster_etl": {"kind": "raster", "tiles": 4, "days": 30, "grid": 64},
}

TINY = {"sf": 0.001, "tiles": 2, "days": 8, "grid": 8}


def query_key(name: str) -> str:
    """Metric prefix for a query: its ``qNN`` token."""
    return name.split("_", 1)[0]
