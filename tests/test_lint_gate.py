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
from types import SimpleNamespace

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


def _package_index(pkg: dict[str, tuple[bool, str]], callers: list[str]) -> SimpleNamespace:
    """Parse the package (``module -> (is_pkg, source)``) and the engine's
    callers, and bind their names.  ``resolve(scope, ref)`` maps a
    ``_refs`` reference made in a module or caller scope (``"<i>"``) to the
    top-level definitions it means: through the scope's own definitions and
    imports first, and to every definition of that bare name only when
    neither binds it."""
    modules = set(pkg)
    ix = SimpleNamespace(defs={}, lines={}, refs={}, scopes=[], binds={}, trees={})
    for mod, (is_pkg, src) in sorted(pkg.items()):
        tree = ix.trees[mod] = ast.parse(src)
        docs = _docstrings(tree)
        ix.binds[mod] = _bindings(tree, mod, is_pkg, modules)
        for st in tree.body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names, start = [st.name], min([st.lineno] + [d.lineno for d in st.decorator_list])
                for d in st.decorator_list:  # decorators run at import
                    ix.scopes.append((mod, _refs(d, docs)))
                    if isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register":
                        ix.scopes.append((mod, {("n", st.name)}))
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
                ix.scopes.append((mod, _refs(st, docs)))
                continue
            r = set().union(*(_refs(n, docs) for n in body))
            for name in names:
                ix.defs[f"{mod}:{name}"] = st
                ix.lines[f"{mod}:{name}"] = st.end_lineno - start + 1
                ix.refs[f"{mod}:{name}"] = (mod, r)
    for i, src in enumerate(callers):
        tree = ix.trees[f"<{i}>"] = ast.parse(src)
        ix.binds[f"<{i}>"] = _bindings(tree, None, False, modules)
        ix.scopes.append((f"<{i}>", _refs(tree, _docstrings(tree))))

    by_name: dict[str, set[str]] = {}
    for key in ix.lines:
        by_name.setdefault(key.split(":")[1], set()).add(key)

    def name_in(mod: str, name: str, seen: frozenset = frozenset()) -> set[str] | None:
        """Definitions ``name`` means inside ``mod``; None when unbound."""
        if f"{mod}:{name}" in ix.lines:
            return {f"{mod}:{name}"}
        if name not in ix.binds.get(mod, {}) or (mod, name) in seen:
            return None
        out: set[str] = set()
        for t in ix.binds[mod][name]:
            if t[0] == "name" and t[1] in ix.binds:
                out |= name_in(t[1], t[2], seen | {(mod, name)}) or set()
        return out

    def resolve(mod: str, ref: tuple[str, ...]) -> set[str]:
        if ref[0] == "n":
            got = name_in(mod, ref[1])
            return by_name.get(ref[1], set()) if got is None else got
        if ref[0] == "a" and ref[1] in ix.binds.get(mod, {}):
            out: set[str] = set()
            for t in ix.binds[mod][ref[1]]:
                if t[0] == "mod":
                    out |= name_in(t[1], ref[2]) or set()
                elif t[0] == "name":  # a class or object: unknown member
                    out |= by_name.get(ref[2], set())
            return out
        return by_name.get(ref[-1], set())

    ix.resolve = resolve
    return ix


def _engine_sources() -> tuple[dict[str, tuple[bool, str]], list[str]]:
    """The package's modules and the engine's callers: ``tools/``,
    ``perfbench/`` (not its tests), ``bench.py`` and ``__spark_entry__.py``."""
    pkg = {}
    for path in sorted(PKG.rglob("*.py")):
        mod, is_pkg = _module_of(path)
        pkg[mod] = (is_pkg, path.read_text(encoding="utf-8"))
    callers = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    callers += sorted((ROOT / "tools").glob("*.py"))
    callers += [p for p in sorted((ROOT / "perfbench").rglob("*.py")) if "tests" not in p.parts]
    return pkg, [p.read_text(encoding="utf-8") for p in callers]


def _package_graph() -> tuple[dict[str, int], dict[str, set[str]], set[str]]:
    """``("module:name" -> lines)`` for every top-level definition, each
    definition's outgoing edges, and the definitions that import-time code,
    registered queries and the engine's callers reach."""
    ix = _package_index(*_engine_sources())
    edges = {k: set().union(*(ix.resolve(m, r) for r in rs)) for k, (m, rs) in ix.refs.items()}
    roots = set().union(*(ix.resolve(m, r) for m, rs in ix.scopes for r in rs))
    return ix.lines, edges, roots


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


# --- option guard -----------------------------------------------------------

# "module:func(param)" -> why a defaulted parameter that no engine caller
# sets stays an option: a fake that tests inject, a deployment setting
# (credentials, timeouts, paths) or a SURVEY.md §2 op id.  A reason that
# defers the decision ("pending") fails, and so does an entry whose option
# is gone or that a root already sets.
KEEP_OPTIONS: dict[str, str] = {
    "cache:serve_cached(base_dir)": "deployment setting: the result-cache directory",
    "operators.dedup:lsh_dedup_clusters(checkpoint)": "deployment setting: 'reliable' pins survive executor loss",
    "operators.graph:transitive_reachability(checkpoint)": "deployment setting: 'reliable' pins survive executor loss",
    "operators.profile:profile_columns(exact_distinct)": "deployment setting: HLL counts where exact distinct counts cannot fit",
    "operators.project:conform(strict)": "T7 input validation: the NOT NULL id of Prepare-SQLDatabase.sql:9",
    "pipelines:Pipeline(constraints)": "input validation: the quarantine gate between transform and sink",
    "pipelines:Pipeline(fk_broadcast_threshold_rows)": "deployment setting: sized to executor memory",
    "queries.dedup:prefix_index_compact(_test_hook_after_list)": "fake: tests publish a straggler batch here",
    "queries.dedup:prefix_index_compact(_test_hook_before_commit)": "fake: tests crash or stall the compact here",
    "queries.text:lexicon_compact(_test_hook_before_commit)": "fake: tests stall the compact here",
    "sinks:write_bucketed(path)": "L6 business-key layout: external table location",
    "sinks:write_bucketed(sort_col)": "L6 business-key layout: sorted buckets",
    "sources.files:write_csv(mode)": "L2/L3 file sink: truncate-and-load or append",
    "sources.files:write_json(mode)": "L2/L3 file sink: truncate-and-load or append",
    "sources.files:write_orc(mode)": "L2/L3 file sink: truncate-and-load or append",
    "sources.rest:_fence_raise(now)": "fake: tests inject the clock",
    "sources.rest:_fence_wait(now)": "fake: tests inject the clock",
    "sources.rest:fetch_with_shared_throttle(fetcher)": "fake: tests inject the fetcher",
    "sources.rest:fetch_with_shared_throttle(retry)": "fake: tests inject the retry budget",
    "sources.rest:fetch_with_shared_throttle(sleeper)": "fake: tests inject the sleep clock",
    "sources.rest:http_fetcher(timeout)": "deployment setting: HTTP timeout",
    "sources.rest:http_fetcher(token)": "deployment setting: S6 bearer credential",
    "sources.rest:read_odata(fetcher)": "deployment setting: S1 live GET (http_fetcher)",
    "sources.rest:read_odata(retry)": "deployment setting: S4 retry budget",
    "sources.rest:read_odata(sleeper)": "S4 retry clock",
    "sources.rest:read_odata_delta(fetcher)": "fake: tests inject failing and remote fetchers",
    "sources.rest:read_odata_delta(retry)": "deployment setting: S4 retry budget",
    "sources.rest:read_odata_delta(sleeper)": "S4 retry clock",
}


def _is_dataclass(st: ast.AST) -> bool:
    return isinstance(st, ast.ClassDef) and any(
        getattr(d, "id", None) == "dataclass" or getattr(getattr(d, "func", None), "id", None) == "dataclass"
        for d in st.decorator_list
    )


def _params(st: ast.AST) -> tuple[list[str], list[str], list[str]]:
    """A function's or dataclass's parameters: positional order, every
    name a keyword can pass, and the defaulted ones (the options)."""
    if _is_dataclass(st):
        fields = [f for f in st.body if isinstance(f, ast.AnnAssign) and isinstance(f.target, ast.Name)]
        names = [f.target.id for f in fields]
        return names, names, [f.target.id for f in fields if f.value is not None]
    if not isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)):
        return [], [], []
    a = st.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    kw = [p.arg for p in a.args + a.kwonlyargs]
    opts = pos[len(pos) - len(a.defaults) :]
    opts += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return pos, kw, opts


def _set_by(ix: SimpleNamespace, scope: str, tree: ast.AST) -> set[str]:
    """Options that the calls in ``tree`` set: by keyword, by position, or
    by forwarding ``*args``/``**kwargs``.  A call resolves by name through
    ``scope``'s bindings, or as ``module.func`` through a module alias."""
    out: set[str] = set()
    for call in ast.walk(tree):
        if not isinstance(call, ast.Call):
            continue
        f = call.func
        if isinstance(f, ast.Name):
            keys = ix.resolve(scope, ("n", f.id))
        elif isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
            mods = [t for t in ix.binds.get(scope, {}).get(f.value.id, ()) if t[0] == "mod"]
            keys = ix.resolve(scope, ("a", f.value.id, f.attr)) if mods else set()
        else:
            continue
        for key in keys:
            pos, kw, _ = _params(ix.defs[key])
            passed: set[str] = set()
            for i, arg in enumerate(call.args):
                if isinstance(arg, ast.Starred):
                    passed |= set(pos[i:])
                    break
                passed |= set(pos[i : i + 1])
            for k in call.keywords:
                passed |= set(kw) if k.arg is None else {k.arg}
            out |= {f"{key}({p})" for p in passed}
    return out


def _option_census(
    pkg: dict[str, tuple[bool, str]], callers: list[str], tests: list[str], keep: set[str]
) -> tuple[set[str], set[str]]:
    """Every option of the package, and those a root sets: a call from
    package code or an engine caller, or a test call to a ``keep`` API."""
    ix = _package_index(pkg, callers)
    options = {f"{k}({p})" for k, st in ix.defs.items() for p in _params(st)[2]}
    done = set().union(*(_set_by(ix, s, ix.trees[s]) for s in ix.trees))
    modules = set(pkg)
    for i, src in enumerate(tests):
        tree = ast.parse(src)
        ix.binds[f"<t{i}>"] = _bindings(tree, None, False, modules)
        done |= {o for o in _set_by(ix, f"<t{i}>", tree) if o.split("(")[0] in keep}
    return options, done & options


@pytest.mark.quick
def test_no_unset_options():
    """Every defaulted parameter of a top-level package definition (and
    every defaulted dataclass field) is set by some engine caller, or has a
    ``KEEP_OPTIONS`` reason.  An option nothing sets is a constant: inline
    it, with the branches only its other values selected."""
    tests = [p.read_text(encoding="utf-8") for p in sorted((ROOT / "tests").glob("*.py"))]
    options, done = _option_census(*_engine_sources(), tests, set(KEEP))
    unset = sorted(options - done - set(KEEP_OPTIONS))
    stale = sorted(k for k in KEEP_OPTIONS if k not in options or k in done)
    pending = sorted(k for k, why in KEEP_OPTIONS.items() if why.startswith("pending"))
    assert not unset, (
        f"{len(unset)} options are set by no query, pipeline, tool or benchmark; "
        "make each a constant or give it a KEEP_OPTIONS reason:\n  " + "\n  ".join(unset)
    )
    assert not stale, f"stale KEEP_OPTIONS entries (option gone or set by a root): {stale}"
    assert not pending, f"KEEP_OPTIONS entries with no lasting reason: {pending}"


_SNIPPET = '''
def f(a, k=1, *, j=2):
    return a
'''


@pytest.mark.quick
@pytest.mark.parametrize(
    "pkg_extra, caller, test, keep, expect",
    [
        ("", "from msgraphdatapipelines_spark.m import f\nf(0, k=3)", "", set(), {"k"}),
        ("", "from msgraphdatapipelines_spark.m import f\nf(0, 3)", "", set(), {"k"}),
        ("def g(*a, **kw):\n    return f(*a, **kw)\n", "", "", set(), {"k", "j"}),
        ("", "from msgraphdatapipelines_spark import m as mm\nmm.f(0, j=1)", "", set(), {"j"}),
        ("", "from msgraphdatapipelines_spark.m import f as ff\nff(0, j=1)", "", set(), {"j"}),
        ("", "", "from msgraphdatapipelines_spark.m import f\nf(0, k=1)", set(), set()),
        ("", "", "from msgraphdatapipelines_spark.m import f\nf(0, k=1)", {"m:f"}, {"k"}),
    ],
    ids=["keyword", "positional", "kwargs-forward", "module-alias", "import-alias", "test-only", "test-keep"],
)
def test_option_census_resolution(pkg_extra, caller, test, keep, expect):
    pkg = {"": (True, ""), "m": (False, _SNIPPET + pkg_extra)}
    options, done = _option_census(pkg, [caller], [test], keep)
    assert options == {"m:f(k)", "m:f(j)"}
    assert done == {f"m:f({p})" for p in expect}
