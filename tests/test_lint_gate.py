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
code) or carry a recorded reason in ``KEEP``; and no package module
imports a name at module level that it never uses.
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
# reference a test compares against, or package metadata; a reason that
# defers the decision ("pending") fails.  Everything these reach hangs off
# them; an entry that another root already reaches is stale.
KEEP: dict[str, str] = {
    ":__version__": "package metadata",
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


def _refs(node: ast.AST, docs: set[int]) -> set[tuple[str, ...]]:
    """References in ``node``: ``("n", id)`` for a Name, ``("a", base, attr)``
    for ``base.attr`` on a Name, ``("s", text)`` for any other attribute and
    for identifier-valued string constants outside ``docs``.  Imports bind
    names (``_bindings``); they reference nothing."""
    out: set[tuple[str, ...]] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(("n", n.id))
        elif isinstance(n, ast.Attribute):
            base = n.value
            out.add(("a", base.id, n.attr) if isinstance(base, ast.Name) else ("s", n.attr))
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and n.value.isidentifier()
            and id(n) not in docs
        ):
            out.add(("s", n.value))
    return out


def _module_of(path: Path) -> tuple[str, bool]:
    parts = path.relative_to(PKG).with_suffix("").parts
    is_pkg = parts[-1] == "__init__"
    return ".".join(parts[:-1] if is_pkg else parts), is_pkg


def _bindings(tree: ast.AST, mod: str | None, is_pkg: bool, modules: set[str]) -> dict:
    """alias -> targets of every import in ``tree`` (function-local ones
    too): ``("mod", m)`` for a package module, ``("name", m, n)`` for a name
    in one, ``("ext",)`` for anything outside the package."""
    binds: dict[str, set[tuple[str, ...]]] = {}

    def pkg_mod(dotted: str) -> str | None:
        if dotted == PKG.name:
            return ""
        return dotted[len(PKG.name) + 1 :] if dotted.startswith(PKG.name + ".") else None

    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            for a in n.names:
                name = a.asname or a.name.split(".")[0]  # ``import a.b`` binds ``a``
                m = pkg_mod(a.name if a.asname else name)
                binds.setdefault(name, set()).add(("mod", m) if m is not None else ("ext",))
        elif isinstance(n, ast.ImportFrom):
            if n.level and mod is not None:
                base = mod.split(".") if mod else []
                if not is_pkg:
                    base = base[:-1]
                base = base[: len(base) - (n.level - 1)]
                src = ".".join(base + ([n.module] if n.module else []))
            else:
                src = pkg_mod(n.module or "")
            for a in n.names:
                name = a.asname or a.name
                if src is None:
                    target = ("ext",)
                else:
                    sub = f"{src}.{a.name}" if src else a.name
                    target = ("mod", sub) if sub in modules else ("name", src, a.name)
                binds.setdefault(name, set()).add(target)
    return binds


def _package_graph() -> tuple[dict[str, int], dict[str, set[str]], set[str]]:
    """``("module:name" -> lines)`` for every top-level definition, each
    definition's outgoing edges, and the definitions that import-time code,
    registered queries and the engine's callers reach.  A reference
    resolves through its module's own definitions and imports first and
    falls back to every definition of that bare name only when neither
    binds it."""
    paths = sorted(PKG.rglob("*.py"))
    modules = {_module_of(p)[0] for p in paths}
    lines: dict[str, int] = {}
    refs: dict[str, tuple[str, set]] = {}
    scopes: list[tuple[str | None, set]] = []  # (module, refs) that are roots
    binds: dict[str | None, dict] = {}
    for path in paths:
        mod, is_pkg = _module_of(path)
        tree = ast.parse(path.read_text(encoding="utf-8"))
        docs = _docstrings(tree)
        binds[mod] = _bindings(tree, mod, is_pkg, modules)
        for st in tree.body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names, start = [st.name], min([st.lineno] + [d.lineno for d in st.decorator_list])
                for d in st.decorator_list:  # decorators run at import
                    scopes.append((mod, _refs(d, docs)))
                    if isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register":
                        scopes.append((mod, {("n", st.name)}))
                body = [n for n in ast.iter_child_nodes(st) if n not in st.decorator_list]
            elif isinstance(st, (ast.Assign, ast.AnnAssign)) and st.value is not None:
                targets = st.targets if isinstance(st, ast.Assign) else [st.target]
                names = [t.id for t in targets if isinstance(t, ast.Name)]
                start, body = st.lineno, [st.value]
            elif isinstance(st, (ast.Import, ast.ImportFrom)):
                continue  # binds names; makes none of them a root
            else:
                names = []
            if not names:
                scopes.append((mod, _refs(st, docs)))
                continue
            r = set().union(*(_refs(n, docs) for n in body))
            for name in names:
                lines[f"{mod}:{name}"] = st.end_lineno - start + 1
                refs[f"{mod}:{name}"] = (mod, r)
    callers = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    callers += sorted((ROOT / "tools").glob("*.py"))
    callers += [p for p in sorted((ROOT / "perfbench").rglob("*.py")) if "tests" not in p.parts]
    for i, path in enumerate(callers):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        binds[f"<{i}>"] = _bindings(tree, None, False, modules)
        scopes.append((f"<{i}>", _refs(tree, _docstrings(tree))))

    by_name: dict[str, set[str]] = {}
    for key in lines:
        by_name.setdefault(key.split(":")[1], set()).add(key)

    def name_in(mod: str, name: str, seen: frozenset = frozenset()) -> set[str] | None:
        """Definitions ``name`` means inside ``mod``; None when unbound."""
        if f"{mod}:{name}" in lines:
            return {f"{mod}:{name}"}
        if name not in binds.get(mod, {}) or (mod, name) in seen:
            return None
        out: set[str] = set()
        for t in binds[mod][name]:
            if t[0] == "name" and t[1] in binds:
                out |= name_in(t[1], t[2], seen | {(mod, name)}) or set()
        return out

    def resolve(mod: str, ref: tuple[str, ...]) -> set[str]:
        if ref[0] == "n":
            got = name_in(mod, ref[1])
            return by_name.get(ref[1], set()) if got is None else got
        if ref[0] == "a" and ref[1] in binds.get(mod, {}):
            out: set[str] = set()
            for t in binds[mod][ref[1]]:
                if t[0] == "mod":
                    out |= name_in(t[1], ref[2]) or set()
                elif t[0] == "name":  # a class or object: unknown member
                    out |= by_name.get(ref[2], set())
            return out
        return by_name.get(ref[-1], set())

    edges = {k: set().union(*(resolve(m, r) for r in rs)) for k, (m, rs) in refs.items()}
    roots = set().union(*(resolve(m, r) for m, rs in scopes for r in rs))
    return lines, edges, roots


def _closure(edges: dict[str, set[str]], keys: set[str]) -> set[str]:
    reached, todo = set(), list(keys)
    while todo:
        k = todo.pop()
        if k not in reached:
            reached.add(k)
            todo.extend(edges.get(k, ()))
    return reached


@pytest.mark.quick
def test_no_unreached_package_definitions():
    """Every top-level package definition is reached from a root, or has a
    ``KEEP`` reason.  A KEEP entry that no longer exists, or that the other
    roots reach anyway, fails as stale (the lint_waivers rule), and so does
    one whose reason defers the decision ("pending")."""
    lines, edges, roots = _package_graph()
    reached = _closure(edges, roots | set(KEEP))
    unreached = sorted(k for k in lines if k not in reached)
    missing = sorted(k for k in KEEP if k not in lines)
    redundant = sorted(
        k for k in KEEP if k in lines and k in _closure(edges, roots | (set(KEEP) - {k}))
    )
    pending = sorted(k for k, why in KEEP.items() if why.startswith("pending"))
    report = [f"  {k} ({lines[k]} lines)" for k in unreached]
    assert not unreached, (
        f"{len(unreached)} definitions ({sum(lines[k] for k in unreached)} lines) "
        "are reached by no query, pipeline, tool or benchmark; delete them or "
        "give each a KEEP reason:\n" + "\n".join(report)
    )
    assert not missing, f"stale KEEP entries (definition gone): {missing}"
    assert not redundant, f"stale KEEP entries (another root reaches them): {redundant}"
    assert not pending, f"KEEP entries with no lasting reason: {pending}"


@pytest.mark.quick
def test_no_unused_module_imports():
    """Every name a package module imports at module level is used in
    that module (``__future__`` imports aside)."""
    unused = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for st in tree.body:
            if isinstance(st, ast.ImportFrom) and st.module == "__future__":
                continue
            if isinstance(st, (ast.Import, ast.ImportFrom)):
                names = [a.asname or a.name.split(".")[0] for a in st.names]
                where = f"{path.relative_to(ROOT)}:{st.lineno}"
                unused += [f"{where} {n}" for n in names if n not in used]
    assert not unused, "unused module-level imports:\n  " + "\n  ".join(unused)
