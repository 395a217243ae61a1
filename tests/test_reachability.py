"""Every top-level definition and every option in the package earns
its place.

A definition is reached when a name walk from the roots finds it:

- every ``@query``-registered function;
- the whole of ``__main__.py`` and of ``__spark_entry__.py``;
- each entry of ``ALLOWLIST``.

The walk follows the names a reached definition's body uses, through
the imports of its module and of the function itself. A module-level
import alone is not a use. Anything the walk does not reach is dead
code: delete it, or put it on ``ALLOWLIST`` with one of three reasons.

Every defaulted parameter of a definition the real roots reach is an
option; one that no real caller sets, or that every real caller sets
to the same constant, is folded into a constant, or put on
``OPTION_ALLOWLIST`` with one of three reasons.

Pure AST: nothing is imported from the package and no Spark session
is started.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "prueba_tecnica_analista_etl_spark"

# (a) a SURVEY.md capability row that names the def (or its module)
SURVEY = "survey"
# (b) it reproduces a reference output test_reference_goldens.py checks
GOLDEN = "golden"
# (c) a test's reference or hook for a reached operator
TEST_REF = "test-ref"

# Qualified name (relative to the package) -> (reason kind, detail).
# A module name allowlists every def in that module.
ALLOWLIST = {
    "sources.jdbc.read_jdbc": (SURVEY, "S7"),
    "sources.jdbc.write_jdbc": (SURVEY, "S8"),
    "sources.kafka.kafka_source": (SURVEY, "S11"),
    "sources.kafka.parse_json_values": (SURVEY, "S11"),
    "sources.files.read_json": (SURVEY, "S12"),
    "sources.files.write_json": (SURVEY, "S12"),
    "sources.files.read_orc": (SURVEY, "S12"),
    "sources.files.write_orc": (SURVEY, "S12"),
    "sources.files.compact_parquet": (SURVEY, "S13"),
    "sources.files.compact_partitioned": (SURVEY, "S13"),
    "sources.files.zorder_write": (SURVEY, "S14"),
    "sources.files.zvalue": (SURVEY, "S14"),
    "sources.versioned": (SURVEY, "S16"),
    "sources.bucketed.write_bucketed": (SURVEY, "S17"),
    "sources.bucketed.bucketed_join": (SURVEY, "S17"),
    "operators.upsert.bucketed_upsert": (SURVEY, "S17"),
    "operators.upsert.recover_upsert_swap": (SURVEY, "S17"),
    "operators.dedupe.approx_distinct_count_audit": (SURVEY, "A12"),
    "streaming.late_dlq.late_dlq_sink": (SURVEY, "T6"),
    "streaming.late_dlq.read_routed": (SURVEY, "T6"),
    "streaming.joins.join_event_streams": (SURVEY, "T9"),
    "streaming.joins.enrich_with_dim": (SURVEY, "T11"),
    "pipelines.incremental.incremental_etl": (SURVEY, "T8"),
    "pipelines.incremental.target_frame": (SURVEY, "T8"),
    "pipelines.flights.flights_pipeline": (GOLDEN, "the §3 flights clean"),
    "functions.cleanse.try_double_or_zero": (GOLDEN, "Col_10 cast"),
    "operators.pivot.count_sum_pivot": (GOLDEN, "Col_2 pivot"),
    "operators.pivot.count_sum_rollup": (GOLDEN, "Col_2 rollup"),
    "operators.upsert.upsert_with_metrics": (GOLDEN, "procedure counters"),
    "operators.sketch.frequent_items": (
        TEST_REF,
        "batch reference for the Misra-Gries stream test",
    ),
    "operators.similarity.cosine_topk": (
        TEST_REF,
        "brute-force reference for the IVF index",
    ),
    "stages.vectors.semdedup_purge_census": (
        TEST_REF,
        "census the SemDeDup tests compare q_semdedup against",
    ),
    "artifacts.clear_artifacts": (
        TEST_REF,
        "the tests' invalidation hook for a memoized artifact",
    ),
    "sources.tables.TABLES": (
        TEST_REF,
        "the table list the DuckDB oracle harness registers",
    ),
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _load(files) -> dict[str, tuple[Path, ast.Module]]:
    return {_module_name(p): (p, ast.parse(p.read_text())) for p in files}


# The package plus the driver entry, and the scripts outside it whose
# calls count as real callers of an option.
MODULES = _load(sorted((REPO / PKG).rglob("*.py")) + [REPO / "__spark_entry__.py"])
SCRIPTS = _load(
    [REPO / "bench.py"]
    + [p for p in sorted((REPO / "perfbench").glob("*.py")) if "test" not in p.name]
    + sorted((REPO / "tools").glob("*.py"))
)
MODULES.update(SCRIPTS)


def _names(target: ast.expr) -> list[str]:
    if isinstance(target, ast.Name):
        return [target.id]
    if isinstance(target, (ast.Tuple, ast.List)):
        return [n for e in target.elts for n in _names(e)]
    return []


def _top_level_defs() -> dict[tuple[str, str], ast.stmt]:
    """(module, name) -> node for every def, class and assignment."""
    out = {}
    for mod, (_, tree) in MODULES.items():
        for node in tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                out[(mod, node.name)] = node
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = (
                    node.targets if isinstance(node, ast.Assign) else [node.target]
                )
                for name in (n for t in targets for n in _names(t)):
                    if not name.startswith("__"):
                        out[(mod, name)] = node
    return out


DEFS = _top_level_defs()


def _imports(mod: str, stmts) -> dict[str, tuple]:
    """Local name -> ("mod", module) or ("obj", module, name)."""
    is_pkg = MODULES[mod][0].name == "__init__.py"
    out = {}
    for node in stmts:
        if isinstance(node, ast.ImportFrom):
            src = node.module
            if node.level:
                base = mod.split(".") if is_pkg else mod.split(".")[:-1]
                base = base[: len(base) - node.level + 1]
                src = ".".join(base + ([node.module] if node.module else []))
            for a in node.names:
                sub = f"{src}.{a.name}"
                out[a.asname or a.name] = (
                    ("mod", sub) if sub in MODULES else ("obj", src, a.name)
                )
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    out[a.asname] = ("mod", a.name)
                else:
                    head = a.name.split(".")[0]
                    out[head] = ("mod", head)
    return out


MODULE_IMPORTS = {m: _imports(m, tree.body) for m, (_, tree) in MODULES.items()}


def _follow(mod: str, name: str):
    """Chase re-exports to the module that defines ``name``."""
    seen = set()
    while (mod, name) not in DEFS and mod in MODULES and (mod, name) not in seen:
        seen.add((mod, name))
        hit = MODULE_IMPORTS[mod].get(name)
        if hit is None:
            return None
        if hit[0] == "mod":
            return ("mod", hit[1])
        mod, name = hit[1], hit[2]
    return ("def", mod, name)


def _resolve(mod: str, name: str, local: dict):
    hit = local.get(name) or MODULE_IMPORTS[mod].get(name)
    if hit is None:
        return ("def", mod, name)
    if hit[0] == "mod":
        return hit
    return _follow(hit[1], hit[2])


def _target(mod: str, expr: ast.expr, local: dict):
    """The top-level def a name or a dotted module path refers to."""
    chain = []
    while isinstance(expr, ast.Attribute):
        chain.append(expr.attr)
        expr = expr.value
    if not isinstance(expr, ast.Name):
        return None
    hit = _resolve(mod, expr.id, local)
    for attr in reversed(chain):
        if hit is None or hit[0] != "mod":
            return None
        sub = f"{hit[1]}.{attr}"
        hit = ("mod", sub) if sub in MODULES else _follow(hit[1], attr)
    if hit is None or hit[0] != "def" or hit[1:] not in DEFS:
        return None
    return hit[1:]


def _local_imports(mod: str, node: ast.AST) -> dict:
    return _imports(
        mod,
        [n for n in ast.walk(node) if isinstance(n, (ast.Import, ast.ImportFrom))],
    )


def _uses(mod: str, node: ast.AST) -> set[tuple[str, str]]:
    """Top-level defs that the names used under ``node`` refer to."""
    local = _local_imports(mod, node)
    out = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Attribute) or (
            isinstance(sub, ast.Name) and not isinstance(sub.ctx, ast.Store)
        ):
            key = _target(mod, sub, local)
            if key is not None:
                out.add(key)
    return out


def _is_query(node: ast.stmt) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in getattr(node, "decorator_list", ())
    )


def _real_roots() -> tuple[set, list]:
    """Root defs, plus the module-level statements run as entry points."""
    whole = (f"{PKG}.__main__", "__spark_entry__")
    roots = {
        (mod, name)
        for (mod, name), node in DEFS.items()
        if _is_query(node) or mod in whole
    }
    stmts = [(mod, node) for mod in whole for node in MODULES[mod][1].body]
    return roots, stmts


def _allowlisted_defs(entry: str) -> set[tuple[str, str]]:
    qual = f"{PKG}.{entry}"
    if qual in MODULES:
        return {k for k in DEFS if k[0] == qual}
    mod, _, name = qual.rpartition(".")
    return {(mod, name)} & DEFS.keys()


def _reach(roots: set, stmts: list) -> set[tuple[str, str]]:
    todo = list(roots)
    for mod, node in stmts:
        todo.extend(_uses(mod, node))
    seen = set()
    while todo:
        key = todo.pop()
        if key not in seen:
            seen.add(key)
            todo.extend(_uses(key[0], DEFS[key]))
    return seen


def _where(key: tuple[str, str]) -> str:
    path = MODULES[key[0]][0].relative_to(REPO)
    return f"{path}:{DEFS[key].lineno} {key[1]}"


def test_every_top_level_def_is_reached():
    roots, stmts = _real_roots()
    for entry in ALLOWLIST:
        roots |= _allowlisted_defs(entry)
    reached = _reach(roots, stmts)
    dead = sorted(k for k in DEFS if k[0].startswith(PKG) and k not in reached)
    assert not dead, "unreached definitions (delete or allowlist):\n" + "\n".join(
        _where(k) for k in dead
    )


def test_allowlist_entries_are_live_and_not_reached():
    reached = _reach(*_real_roots())
    for entry in ALLOWLIST:
        defs = _allowlisted_defs(entry)
        assert defs, f"{entry}: no such definition or module"
        assert not defs <= reached, f"{entry}: reached from a real root"


def _survey_row(row_id: str) -> str | None:
    text = (REPO / "SURVEY.md").read_text()
    m = re.search(rf"^\| {re.escape(row_id)} \|.*$", text, re.M)
    return m.group(0) if m else None


def test_allowlist_reasons():
    goldens = (REPO / "tests" / "test_reference_goldens.py").read_text()
    tests = "\n".join(
        p.read_text()
        for p in (REPO / "tests").glob("test_*.py")
        if p.name != Path(__file__).name
    )
    for entry, (kind, detail) in ALLOWLIST.items():
        name = entry.rpartition(".")[2]
        if kind == SURVEY:
            row = _survey_row(detail)
            assert row, f"{entry}: SURVEY.md has no row {detail}"
            module = entry if f"{PKG}.{entry}" in MODULES else entry.rpartition(".")[0]
            assert re.search(rf"\b{name}\b", row) or (
                module.replace(".", "/") + ".py" in row
            ), f"{entry}: SURVEY row {detail} does not name it or its module"
        elif kind == GOLDEN:
            assert re.search(rf"\b{name}\b", goldens), (
                f"{entry}: test_reference_goldens.py does not use it"
            )
        elif kind == TEST_REF:
            assert detail and re.search(rf"\b{name}\b", tests), (
                f"{entry}: no test uses it"
            )
        else:
            raise AssertionError(f"{entry}: unknown reason kind {kind!r}")


# --- options -----------------------------------------------------------
#
# Every defaulted parameter of a reached definition is an option a
# caller can set. An option no real caller sets, or one every real
# caller sets to the same constant, is a constant in disguise: fold it
# into the body, or put it on OPTION_ALLOWLIST with one of three
# reasons. Real callers are the package, the driver entry,
# bench.py, perfbench's scripts and tools/; tests are not.

# (b) a deployment setting: a path, address, credential or connection
DEPLOY = "deploy"
# (c) a seam a test injects through; the detail names that test
SEAM = "seam"

# "module.def(param)" relative to the package ("module.Class(param)"
# for a constructor) -> (reason kind, detail).
OPTION_ALLOWLIST = {
    "__main__.main(argv)": (SEAM, "tests/test_operators.py::test_cli_surface"),
    "__main__.main(spark)": (SEAM, "tests/test_operators.py::test_cli_surface"),
    "operators.sketch.MGStreamAccumulator(ledger_dir)": (
        DEPLOY,
        "where a restarted stream finds its sketch state",
    ),
    "streaming.replay.write_replay_files(base_dir)": (
        DEPLOY,
        "a landing directory outside the artifact store",
    ),
    "streaming.replay.write_replay_files(arrival_order)": (SURVEY, "T6"),
    "streaming.windows.tumbling_counts(watermark)": (SURVEY, "T1"),
}

_DEPLOY_NAME = re.compile(r"dir|path|url|host|port|user|password|conn")


def _options():
    """(name, def key, callee, positional index or None, parameter)
    per defaulted parameter of a package function or of a method of a
    package class. ``callee`` is the def key for functions and
    constructors, the method name for other methods (matched by name
    at ``x.meth(...)`` call sites); positional indexes skip ``self``."""
    for key, node in DEFS.items():
        if not key[0].startswith(PKG):
            continue
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fns = [(None, node)]
        elif isinstance(node, ast.ClassDef):
            fns = [
                (sub.name, sub)
                for sub in node.body
                if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
        else:
            continue
        for method, fn in fns:
            a = fn.args
            pos = a.posonlyargs + a.args
            skip = 0 if method is None or _is_static(fn) else 1
            first = len(pos) - len(a.defaults)
            params = [(i - skip, p.arg) for i, p in enumerate(pos) if i >= first]
            params += [
                (None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d
            ]
            label = key[1] if method in (None, "__init__") else f"{key[1]}.{method}"
            callee = key if method in (None, "__init__") else method
            for index, param in params:
                name = f"{key[0][len(PKG) + 1 :]}.{label}({param})"
                yield name, key, callee, index, param


def _is_static(fn) -> bool:
    return any(getattr(d, "id", None) == "staticmethod" for d in fn.decorator_list)


def _calls(modules):
    """(callee, call, value) for every call in ``modules``: the def key
    a name resolves to, else the attribute name of ``x.meth(...)``;
    ``value(expr)`` names what an argument of the call evaluates to.
    ``partial(f, ...)`` counts as a call of ``f``."""
    for mod, (_, tree) in modules.items():
        for top in tree.body:
            local = _local_imports(mod, top)

            def value(expr, mod=mod, local=local):
                return _constant(mod, expr, local)

            for call in (n for n in ast.walk(top) if isinstance(n, ast.Call)):
                func = call.func
                if getattr(func, "id", getattr(func, "attr", None)) == "partial":
                    if not call.args:
                        continue
                    func = call.args[0]
                    call = ast.Call(func, call.args[1:], call.keywords)
                key = _target(mod, func, local)
                if key is not None:
                    yield key, call, value
                elif isinstance(func, ast.Attribute):
                    yield func.attr, call, value


def _constant(mod: str, expr: ast.expr, local: dict):
    """What ``expr`` always evaluates to: a literal, or the module-level
    name it refers to; None when it can vary."""
    try:
        return ("literal", repr(ast.literal_eval(expr)))
    except ValueError:
        key = _target(mod, expr, local)
        return None if key is None else ("name", key)


def _arg(call: ast.Call, index: int | None, param: str):
    """The argument ``call`` passes for the parameter: its expression,
    ``...`` when it is forwarded through ``*args``/``**kwargs``, or
    None when it is not passed."""
    for kw in call.keywords:
        if kw.arg == param:
            return kw.value
        if kw.arg is None:
            return ...
    if index is None:
        return None
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            return ...
        if i == index:
            return arg
    return None


def _sets(call: ast.Call, index: int | None, param: str) -> bool:
    """Whether ``call`` sets the parameter: by keyword, by position, or
    through ``*args``/``**kwargs`` forwarding."""
    return _arg(call, index, param) is not None


def _unset_options() -> dict[str, str]:
    """Option name -> where, for every option of a reached def that no
    real call sets, or that every real call sets to the same literal
    or to the same name defined in the def's own module (a constant
    the def can read itself). A constant of another module stays an
    option: it is that caller's setting, passed across a layer (an
    operator does not import the plan whose oracle shares it)."""
    reached = _reach(*_real_roots())
    calls: dict = {}
    for callee, call, value in _calls(MODULES):
        calls.setdefault(callee, []).append((call, value))
    out = {}
    for name, key, callee, index, param in _options():
        if key not in reached:
            continue
        values = set()
        for call, value in calls.get(callee, ()):
            arg = _arg(call, index, param)
            if arg is not None and arg is not ...:
                arg = value(arg)
                if arg is None or arg[0] == "name" and arg[1][0] != key[0]:
                    arg = ...
            values.add(arg)
        if not values - {None} or (len(values) == 1 and ... not in values):
            out[name] = f"{MODULES[key[0]][0].relative_to(REPO)}:{DEFS[key].lineno}"
    return out


def test_every_option_is_set_by_a_caller():
    unset = _unset_options()
    missing = sorted(set(unset) - OPTION_ALLOWLIST.keys())
    assert not missing, (
        f"{len(missing)} options no real caller varies (fold into a "
        "constant, or allowlist):\n"
        + "\n".join(f"{unset[o]} {o}" for o in missing)
    )


def test_option_allowlist_entries_are_live_and_reasoned():
    unset = _unset_options()
    options = {
        name: (callee, index, param)
        for name, _, callee, index, param in _options()
    }
    for entry, (kind, detail) in OPTION_ALLOWLIST.items():
        assert entry in options, f"{entry}: no such option"
        assert entry in unset, (
            f"{entry}: a real caller varies it, or its def is unreached"
        )
        callee, index, param = options[entry]
        if kind == SURVEY:
            row = _survey_row(detail)
            assert row, f"{entry}: SURVEY.md has no row {detail}"
            assert re.search(rf"\b{param}\b", row), (
                f"{entry}: SURVEY row {detail} does not name {param}"
            )
        elif kind == DEPLOY:
            assert _DEPLOY_NAME.search(param), (
                f"{entry}: {param} is not a path, address or credential"
            )
        elif kind == SEAM:
            path, _, test = detail.partition("::")
            tree = ast.parse((REPO / path).read_text())
            fn = next(
                (n for n in tree.body if getattr(n, "name", None) == test), None
            )
            assert fn is not None, f"{entry}: no test {detail}"
            name = callee[1] if isinstance(callee, tuple) else callee
            assert any(
                isinstance(c, ast.Call)
                and getattr(c.func, "id", getattr(c.func, "attr", None)) == name
                and _sets(c, index, param)
                for c in ast.walk(fn)
            ), f"{entry}: {detail} does not set {param}"
        else:
            raise AssertionError(f"{entry}: unknown reason kind {kind!r}")


# --- layers ------------------------------------------------------------
#
# Each top-level package module sits in one layer, lowest first. A module
# imports only from its own layer or a lower one, and only at module
# level: an import hidden inside a function is how an upward edge used
# to dodge the import cycle it would close.

LAYERS = (
    ("session", "artifacts", "functions", "multimodal"),
    ("sources",),
    ("operators",),
    ("stages",),
    ("streaming",),
    ("pipelines",),
    ("plans",),
    ("__main__",),
)
RANK = {name: i for i, names in enumerate(LAYERS) for name in names}


def _top(mod: str) -> str:
    return mod[len(PKG) + 1 :].split(".")[0]


def _package_imports(mod: str, tree: ast.Module):
    """(import node, imported top-level package name, function-local)
    for every import of a package module in ``tree``."""
    is_pkg = MODULES[mod][0].name == "__init__.py"

    def visit(node, local):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ImportFrom):
                src = child.module or ""
                if child.level:
                    base = mod.split(".") if is_pkg else mod.split(".")[:-1]
                    base = base[: len(base) - child.level + 1]
                    src = ".".join(base + ([src] if src else []))
                targets = [src]
            elif isinstance(child, ast.Import):
                targets = [a.name for a in child.names]
            else:
                yield from visit(
                    child,
                    local
                    or isinstance(
                        child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)
                    ),
                )
                continue
            for src in targets:
                if src.startswith(PKG + "."):
                    yield child, _top(src), local

    yield from visit(tree, False)


def _layer_faults() -> list[str]:
    faults = []
    for mod, (path, tree) in MODULES.items():
        if not mod.startswith(PKG + "."):
            continue  # the package root only re-exports get_spark
        top = _top(mod)
        assert top in RANK, f"{mod}: not in LAYERS"
        where = path.relative_to(REPO / PKG)
        for node, target, local in _package_imports(mod, tree):
            if local and top != "__main__":
                faults.append(f"{where}:{node.lineno} imports {target} in a function")
            if RANK[target] > RANK[top]:
                faults.append(f"{where}:{node.lineno} → {target}")
    return faults


def test_imports_follow_the_layer_order():
    faults = _layer_faults()
    assert not faults, "imports that break the layer order:\n" + "\n".join(faults)
