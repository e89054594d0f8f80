"""Plan-lint gate over the driver-graded query surface (r11, r10 VERDICT
item 4).

Every driver-graded query must build a physical plan free of the
linter's error-severity scale hazards (non-scalar nested-loop joins,
data-sized single-partition exchanges) except the explicitly waived
brute-force rungs in tests/lint_waivers.py.  The DEMOTED rows get the
identical check inside tests/test_demoted_oracles.py, on the DataFrame
that gate already constructs — splitting this way lints all 158+ rows
while constructing each query exactly once per suite run.

The gate fails BOTH ways (see lint_waivers.check_lint): a new un-waived
hazard fails, and a stale waiver fails.

The same module holds the reachability guard: every top-level package
definition must be reached from the engine's own callers (tools,
perfbench, bench.py, the driver entry, registered queries, import-time
code) or carry a recorded reason in ``KEEP``.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from lint_waivers import WAIVERS, check_lint

from msgraphdatapipelines_spark.queries import DEMOTED, REGISTRY, _ensure_loaded

_ensure_loaded()


def test_waiver_names_resolve():
    rows = set(REGISTRY) | set(DEMOTED)
    unknown = [n for n in WAIVERS if n not in rows]
    assert not unknown, f"waivers for unregistered queries: {unknown}"


def test_every_graded_query_plan_passes_lint(spark, sf_dir):
    for name in sorted(REGISTRY):
        q = REGISTRY[name]
        if "streaming" in q.fn.__module__:
            continue  # construction executes a stream; plans are memory-sink scans
        check_lint(name, q.fn(spark, sf_dir))


def test_doc_surface_counts_match_runtime_registry():
    """r12 (the recurring doc-drift item, now machine-enforced): every
    count README/COVERAGE state for the query surface must equal the
    runtime registry — the stale-count class of finding (r10 README:453,
    r11 158-vs-160) can no longer recur silently."""
    from msgraphdatapipelines_spark.queries import DEMOTED, REGISTRY

    from pathlib import Path

    n_reg, n_dem = len(REGISTRY), len(DEMOTED)
    total = n_reg + n_dem
    root = Path(__file__).resolve().parents[1]  # cwd-independent (par runner)
    for path in (root / "README.md", root / "COVERAGE.md"):
        text = path.read_text(encoding="utf-8")
        claim = f"{total} oracle-checked queries"
        assert claim in text, (
            f"{path} does not state '{claim}' (registry: {n_reg} graded "
            f"+ {n_dem} demoted) — update the doc or the registry"
        )
        assert f"{n_reg} driver-graded" in text


# --- reachability guard -----------------------------------------------------

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "msgraphdatapipelines_spark"

# "module:name" -> why a definition that no root reaches stays.  A reason is
# a SURVEY.md §2 op id, a maintenance API, an observability direction, the
# reference a test compares against, or "pending: direction 4" (ROADMAP:
# decided by the next deletion round).  Everything these reach hangs off
# them; an entry that another root already reaches is stale.
KEEP: dict[str, str] = {
    "sources.rest:TokenProvider": "S6 auth token acquisition",
    "sources.rest:http_fetcher": "S1/S4 live GET with the 429 signal",
    "sources.rest:read_odata": "S1/S2 paged OData scan with P1-P3 query options",
    "sources.files:read_parquet": "S7 file scan",
    "sources.files:read_csv": "S7 file scan",
    "sources.files:read_json": "S7 file scan",
    "sources.files:read_orc": "S7 file scan",
    "sources.files:write_csv": "S7/L8 file sink",
    "sources.files:write_json": "S7/L8 file sink",
    "sources.files:write_orc": "S7/L8 file sink",
    "sinks:read_jdbc": "S7 table scan",
    "sinks:write_jdbc": "L1 bulk table insert",
    "sinks:write_full_refresh": "L2 truncate-and-load",
    "sinks:write_append_with_retention": "L3 retention-window refresh",
    "sinks:write_bucketed": "L6 business-key layout",
    "sinks:row_count": "L7 row-count feedback",
    "sinks:write_rest_batched": "L8 batched REST sink",
    "sinks:vacuum_snapshots": "maintenance API",
    "sinks:vacuum_standing_artifacts": "maintenance API",
    "sinks:compact_snapshot": "maintenance API",
    "cache:result_cache_forget": "maintenance API",
    "plans:metrics_summary": "direction 5: per-run decision record",
    "plans:lint": "test reference: the plan-lint gate in this module",
    "plans:pushed_filters": "test reference: plan assertion helper",
    "plans:scan_columns": "test reference: plan assertion helper",
    "plans:num_broadcasts": "test reference: plan assertion helper",
    "queries.similarity:_indexed_models": "test reference: the IVF test's model source",
    "operators.dedup:set_similarity_join": "test reference: unserved twin of the prefix-index serve",
    "operators.multimodal:MEDIA_SCHEMA": "test reference: media frame contract of decode_image_meta",
    "operators.dedup:set_similarity_candidates_prefix": "pending: direction 4",
    "operators.diff:diff_snapshots": "pending: direction 4",
    "operators.fuzzy:fuzzy_join_blocked": "pending: direction 4",
    "operators.similarity:ivf_incremental_append": "pending: direction 4",
    "operators.similarity:probed_cent_values": "pending: direction 4",
    "sinks:append_zonemap": "pending: direction 4",
    "sinks:read_snapshot_pruned": "pending: direction 4",
    "sinks:read_snapshot_bloom_pruned": "pending: direction 4",
    "sinks:refresh_bloom_manifest": "pending: direction 4",
    "sources.rest:read_odata_page_stream": "pending: direction 4",
    "streaming:enrich_stream_refreshed_dim": "pending: direction 4",
    "streaming.ann_stream:ann_index_stream": "pending: direction 4",
    "streaming.ann_stream:cm_rollup_stream": "pending: direction 4",
    "streaming.curation:curation_pipeline_stream": "pending: direction 4",
    "streaming.delta:delta_sync_stream": "pending: direction 4",
}


def _docstrings(tree: ast.AST) -> set[int]:
    """ids of the bare string statements (docstrings) in ``tree``."""
    return {
        id(st.value)
        for n in ast.walk(tree)
        if isinstance(getattr(n, "body", None), list)
        for st in n.body
        if isinstance(st, ast.Expr) and isinstance(st.value, ast.Constant)
    }


def _refs(node: ast.AST, docs: set[int]) -> set[str]:
    """Names ``node`` can reach: Name ids, Attribute attrs, import aliases
    and identifier-valued string constants outside ``docs``."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and n.value.isidentifier()
            and id(n) not in docs
        ):
            out.add(n.value)
    return out


def _package_defs() -> tuple[dict[str, tuple[int, set[str]]], set[str]]:
    """``("module:name" -> (lines, refs))`` for every top-level definition,
    plus the names that import-time code and registered queries reach."""
    defs: dict[str, tuple[int, set[str]]] = {}
    roots: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        parts = path.relative_to(PKG).with_suffix("").parts
        mod = ".".join(parts[:-1] if parts[-1] == "__init__" else parts)
        tree = ast.parse(path.read_text(encoding="utf-8"))
        docs = _docstrings(tree)
        for st in tree.body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names, start = [st.name], min([st.lineno] + [d.lineno for d in st.decorator_list])
                for d in st.decorator_list:  # decorators run at import
                    roots |= _refs(d, docs)
                    if isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register":
                        roots.add(st.name)
                body = [n for n in ast.iter_child_nodes(st) if n not in st.decorator_list]
            elif isinstance(st, (ast.Assign, ast.AnnAssign)) and st.value is not None:
                targets = st.targets if isinstance(st, ast.Assign) else [st.target]
                names = [t.id for t in targets if isinstance(t, ast.Name)]
                start, body = st.lineno, [st.value]
            else:
                names = []
            if not names:
                roots |= _refs(st, docs)
                continue
            refs = set().union(*(_refs(n, docs) for n in body))
            for name in names:
                defs[f"{mod}:{name}"] = (st.end_lineno - start + 1, refs)
    callers = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    callers += sorted((ROOT / "tools").glob("*.py"))
    callers += [p for p in sorted((ROOT / "perfbench").rglob("*.py")) if "tests" not in p.parts]
    for path in callers:
        tree = ast.parse(path.read_text(encoding="utf-8"))
        roots |= _refs(tree, _docstrings(tree))
    return defs, roots


def _closure(defs: dict[str, tuple[int, set[str]]], names: set[str]) -> set[str]:
    by_name: dict[str, set[str]] = {}
    for key, (_, refs) in defs.items():
        by_name.setdefault(key.split(":")[1], set()).update(refs)
    reached, todo = set(), list(names)
    while todo:
        n = todo.pop()
        if n not in reached:
            reached.add(n)
            todo.extend(by_name.get(n, ()))
    return reached


@pytest.mark.quick
def test_no_unreached_package_definitions():
    """Every top-level package definition is reached from a root, or has a
    ``KEEP`` reason.  A KEEP entry that no longer exists, or that the other
    roots reach anyway, fails as stale (the lint_waivers rule)."""
    defs, roots = _package_defs()
    name = lambda key: key.split(":")[1]  # noqa: E731
    reached = _closure(defs, roots | {name(k) for k in KEEP})
    unreached = sorted(k for k in defs if name(k) not in reached)
    missing = sorted(k for k in KEEP if k not in defs)
    redundant = sorted(
        k
        for k in KEEP
        if k in defs and name(k) in _closure(defs, roots | {name(o) for o in KEEP if o != k})
    )
    report = [f"  {k} ({defs[k][0]} lines)" for k in unreached]
    assert not unreached, (
        f"{len(unreached)} definitions ({sum(defs[k][0] for k in unreached)} lines) "
        "are reached by no query, pipeline, tool or benchmark; delete them or "
        "give each a KEEP reason:\n" + "\n".join(report)
    )
    assert not missing, f"stale KEEP entries (definition gone): {missing}"
    assert not redundant, f"stale KEEP entries (another root reaches them): {redundant}"
