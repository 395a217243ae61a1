"""Every top-level definition in the package earns its place.

A definition is reached when a name walk from the roots finds it:

- every ``@query``-registered function;
- every public def in ``pipelines/*.py``;
- the whole of ``__main__.py`` and of ``__spark_entry__.py``;
- each entry of ``ALLOWLIST``.

The walk follows the names a reached definition's body uses, through
the imports of its module and of the function itself. A module-level
import alone is not a use. Anything the walk does not reach is dead
code: delete it, or put it on ``ALLOWLIST`` with one of three reasons.

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
    "plans.extensions_scale.semdedup_purge_census": (
        TEST_REF,
        "census the SemDeDup tests compare q_semdedup against",
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


def _load() -> dict[str, tuple[Path, ast.Module]]:
    files = sorted((REPO / PKG).rglob("*.py")) + [REPO / "__spark_entry__.py"]
    return {_module_name(p): (p, ast.parse(p.read_text())) for p in files}


MODULES = _load()


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


def _uses(mod: str, node: ast.AST) -> set[tuple[str, str]]:
    """Top-level defs that the names used under ``node`` refer to."""
    local = _imports(
        mod,
        [n for n in ast.walk(node) if isinstance(n, (ast.Import, ast.ImportFrom))],
    )
    out = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Attribute):
            chain = []
            cur = sub
            while isinstance(cur, ast.Attribute):
                chain.append(cur.attr)
                cur = cur.value
            if not isinstance(cur, ast.Name):
                continue
            hit = _resolve(mod, cur.id, local)
            if hit is None or hit[0] != "mod":
                continue
            target = hit[1]
            for attr in reversed(chain):
                if f"{target}.{attr}" in MODULES:
                    target = f"{target}.{attr}"
                    continue
                hit = _follow(target, attr)
                if hit is not None and hit[0] == "def":
                    out.add(hit[1:])
                break
        elif isinstance(sub, ast.Name) and not isinstance(sub.ctx, ast.Store):
            hit = _resolve(mod, sub.id, local)
            if hit is not None and hit[0] == "def":
                out.add(hit[1:])
    return out & DEFS.keys()


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
        if _is_query(node)
        or mod in whole
        or (mod.startswith(f"{PKG}.pipelines.") and not name.startswith("_"))
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
