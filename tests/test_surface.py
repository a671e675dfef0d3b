"""The supported surface (README "Supported surface") and a guard
against package code that nothing on it reaches.

A name-level walk over top-level definitions: starting from the roots
below, a reached definition reaches every top-level definition, in any
package module, whose name appears in its body as a name, an attribute,
an imported name or an f-string expression. Docstrings, comments and
plain strings reach nothing. A module-level ``import x as y`` makes
``y`` reach ``x``; an ``X[k] = v`` statement belongs to ``X``;
``__all__`` lists reach nothing. Module-level statements that are not
definitions or imports (registrations, ``if`` blocks) run on import and
count as roots.

Matching is by bare name, so two definitions that share a name are
reached together; the walk can only over-report reach, never miss it.
"""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "bloomy_etl_spark"

# Scripts whose every reference is a root: the driver contract
# (ALL_QUERIES, oracle_sql), the bench harnesses and the round tools.
ROOT_FILES = ("__spark_entry__.py", "bench.py", "perfbench/*.py",
              "tools_r*.py")
# Package modules whose every definition is a root: the CLI
# (``python -m bloomy_etl_spark`` → run_pipeline), the diagnostics
# (profile, skew, stats, viewer, gif) and the plan checks tests use.
ROOT_MODULES = ("bloomy_etl_spark.__main__", "bloomy_etl_spark.tools.*",
                "bloomy_etl_spark.plans.explain")

_REPLAY = ("stream-replay fixture: writes the documents table as "
           "ordered micro-batches for the DSIR stream-ingest tests")
_STREAMING = ("re-exported by bloomy_etl_spark.streaming (README "
              "'Supported surface': streaming API)")
_SINKS = ("re-exported by bloomy_etl_spark.sinks (README 'Supported "
          "surface': sinks API)")
_LAYOUT = ("lakehouse layout primitive (README 'Supported surface': "
           "layout and table-log API)")
_READER = ("reader for a format the package writes; tests verify the "
           "writer's bytes through it")
_LIBRARY = ("library operator outside the query corpus (README 'Supported "
            "surface': library API)")
_SCHEMA = ("input schema of a query operator; callers and tests build its "
           "input with it")

# Definitions kept although no root reaches them, each with its reason.
# A KEEP entry is itself a root for what it calls.
KEEP: dict[str, str] = {
    "bloomy_etl_spark.__init__.__version__": "package version attribute",
    "bloomy_etl_spark.streaming.sources.replay_docs_dir": _REPLAY,
    "bloomy_etl_spark.streaming.ingest.streaming_dsir_ingest": (
        "streaming form of q121's dsir_score (README 'Supported surface': "
        "streaming API)"),
    "bloomy_etl_spark.streaming.ingest.read_dsir_store": (
        "reader of streaming_dsir_ingest's store"),
    "bloomy_etl_spark.streaming.ingest.compaction_candidates": (
        "OPTIMIZE trigger over the zone-map store q161 maintains (README "
        "'Supported surface': streaming API)"),
    "bloomy_etl_spark.streaming.sources.read_events_stream": _STREAMING,
    "bloomy_etl_spark.streaming.windows.windowed_event_stats": _STREAMING,
    "bloomy_etl_spark.streaming.windows.sessionized_user_activity":
        _STREAMING,
    "bloomy_etl_spark.streaming.windows.stream_dedup": _STREAMING,
    "bloomy_etl_spark.streaming.stateful.streaming_detect_events":
        _STREAMING,
    "bloomy_etl_spark.streaming.stateful.streaming_trailing_range":
        _STREAMING,
    "bloomy_etl_spark.streaming.stateful.streaming_trailing_range_tws":
        _STREAMING,
    "bloomy_etl_spark.sinks.writers.write_style_json": _SINKS,
    "bloomy_etl_spark.sinks.netcdf.read_netcdf_cube": _SINKS,
    "bloomy_etl_spark.sinks.tiff.read_geotiff": _READER,
    "bloomy_etl_spark.sources.tables.load_tables": (
        "fixture loader for notebooks and tests (README 'Supported "
        "surface': sources API)"),
    "bloomy_etl_spark.sources.tables.register_views": (
        "registers the fixtures as SQL views (README 'Supported surface': "
        "sources API)"),
    "bloomy_etl_spark.sinks.layout.write_zordered": _LAYOUT,
    "bloomy_etl_spark.sinks.layout.write_range_sorted": _LAYOUT,
    "bloomy_etl_spark.sinks.layout.upsert_partitioned": _LAYOUT,
    "bloomy_etl_spark.sinks.txlog.commit": _LAYOUT,
    "bloomy_etl_spark.sinks.txlog.read_table": _LAYOUT,
    "bloomy_etl_spark.sinks.txlog.history": _LAYOUT,
    "bloomy_etl_spark.sinks.txlog.rollback": _LAYOUT,
    "bloomy_etl_spark.sinks.txlog.vacuum": _LAYOUT,
    "bloomy_etl_spark.sources.shards.read_webdataset": _LIBRARY,
    "bloomy_etl_spark.sources.shards.group_samples": _LIBRARY,
    "bloomy_etl_spark.sources.shards.read_jsonl_corpus": _LIBRARY,
    "bloomy_etl_spark.sources.resilient.read_parquet_resilient": _LIBRARY,
    "bloomy_etl_spark.sources.resilient.corrupt_parquet_census": _LIBRARY,
    "bloomy_etl_spark.functions.vectors.cosine": _LIBRARY,
    "bloomy_etl_spark.operators.checks.subset_of": _LIBRARY,
    "bloomy_etl_spark.operators.corpus.bm25_score": _LIBRARY,
    "bloomy_etl_spark.operators.dedup.incremental_near_dups": _LIBRARY,
    "bloomy_etl_spark.operators.dedup.simhash_near_dups": _LIBRARY,
    "bloomy_etl_spark.operators.incremental.incremental_store": _LIBRARY,
    "bloomy_etl_spark.operators.linalg.moments": _LIBRARY,
    "bloomy_etl_spark.operators.linalg.pca_fit": _LIBRARY,
    "bloomy_etl_spark.operators.linalg.pca_project": _LIBRARY,
    "bloomy_etl_spark.operators.linalg.whiten": _LIBRARY,
    "bloomy_etl_spark.operators.pq.pq_search": _LIBRARY,
    "bloomy_etl_spark.operators.semdedup.semantic_dup_pairs": _LIBRARY,
    "bloomy_etl_spark.operators.similarity.build_ivf_index": _LIBRARY,
    "bloomy_etl_spark.operators.similarity.search_ivf_index": _LIBRARY,
    "bloomy_etl_spark.operators.sketches.hll_registers_estimate": _LIBRARY,
    "bloomy_etl_spark.operators.timeseries.time_bucket": _LIBRARY,
    "bloomy_etl_spark.operators.multimodal.MEDIA_SCHEMA": _SCHEMA,
    "bloomy_etl_spark.operators.raster.TILE_SCHEMA": _SCHEMA,
}


def _refs(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _module_defs(mod: str, src: str):
    """(qualified name → reference sets, module-level root references)."""
    defs: dict[str, list[set[str]]] = {}
    loose: set[str] = set()
    for node in ast.parse(src).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            owned = [(node.name, _refs(node))]
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            names = [n.id for t in targets for n in ast.walk(t)
                     if isinstance(n, ast.Name)]
            owned = [(nm, _refs(node)) for nm in names if nm != "__all__"]
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            owned = [(a.asname, {a.name.rsplit(".", 1)[-1]})
                     for a in node.names if a.asname]
        else:
            loose |= _refs(node)
            continue
        for nm, refs in owned:
            defs.setdefault(f"{mod}.{nm}", []).append(refs)
    return defs, loose


def _matches(mod: str, patterns) -> bool:
    return any(mod == p or (p.endswith(".*") and mod.startswith(p[:-1]))
               for p in patterns)


def unreached(modules: dict[str, str], root_srcs: list[str],
              keep=()) -> list[str]:
    """Definitions in ``modules`` (dotted name → source) that neither the
    root sources, the root modules nor ``keep`` reach."""
    defs: dict[str, list[set[str]]] = {}
    frontier: list[str] = []
    roots: set[str] = set()
    for src in root_srcs:
        roots |= _refs(ast.parse(src))
    for mod, src in modules.items():
        mod_defs, loose = _module_defs(mod, src)
        defs.update(mod_defs)
        roots |= loose
        if _matches(mod, ROOT_MODULES):
            frontier += mod_defs
    frontier += [q for q in keep if q in defs]
    by_name: dict[str, list[str]] = {}
    for q in defs:
        by_name.setdefault(q.rsplit(".", 1)[1], []).append(q)
    reached = set(frontier)

    def mark(names: set[str]) -> None:
        for q in (q for nm in names for q in by_name.get(nm, ())):
            if q not in reached:
                reached.add(q)
                frontier.append(q)

    mark(roots)
    while frontier:
        for refs in defs[frontier.pop()]:
            mark(refs)
    return sorted(set(defs) - reached)


def _package() -> dict[str, str]:
    return {
        ".".join(p.relative_to(REPO).with_suffix("").parts): p.read_text()
        for p in sorted(PKG.rglob("*.py"))
    }


def _root_sources() -> list[str]:
    return [p.read_text() for pat in ROOT_FILES
            for p in sorted(REPO.glob(pat))]


def test_every_definition_is_on_the_surface_or_kept():
    left = unreached(_package(), _root_sources(), KEEP)
    assert not left, (
        "no query, CLI, bench or diagnostic reaches these; delete them "
        f"(with their tests) or add a KEEP entry with the reason: {left}"
    )


def test_keep_entries_exist_and_are_needed():
    modules = _package()
    defined = {q for mod, src in modules.items()
               for q in _module_defs(mod, src)[0]}
    assert not KEEP.keys() - defined, (
        f"KEEP names no definition: {sorted(KEEP.keys() - defined)}")
    stale = sorted(KEEP.keys() - set(unreached(modules, _root_sources())))
    assert not stale, f"the surface reaches these; drop their KEEP entry: {stale}"


def test_guard_flags_a_planted_orphan():
    mods = {
        "bloomy_etl_spark.tools.diag": "def report():\n    return helper()\n",
        "bloomy_etl_spark.ops": (
            "import math as _m\n"
            "QUERIES = {}\n"
            "def helper():\n    return _m.pi\n"
            "def used_by_query():\n    return 1\n"
            "def q1(spark):\n    return f'{used_by_query()}'\n"
            "QUERIES['q1'] = q1\n"
            "def orphan():\n    '''mentions helper and q1'''\n"
            "    return 'used_by_query'\n"
            "def kept():\n    return 2\n"
        ),
    }
    entry = "ALL = {**QUERIES}\n"
    assert unreached(mods, [entry]) == ["bloomy_etl_spark.ops.kept",
                                        "bloomy_etl_spark.ops.orphan"]
    assert unreached(mods, [entry], ["bloomy_etl_spark.ops.kept"]) == [
        "bloomy_etl_spark.ops.orphan"]
