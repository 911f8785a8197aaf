"""Every package def and constant has a product caller, or a stated reason to stay.

A top-level function or class of `makerdao_dw_spark/` is *reached* when
product code refers to it: the package itself, `tools/`, `perfbench/`,
`bench.py` or `__spark_entry__.py`, never `tests/`. A reference is an
`ast.Name`, an `ast.Attribute` or an import alias, matched by name,
outside the def's own body. `@query`-registered functions are reached
by the registry. References made inside an unreached def do not count,
so the scan iterates to a fixpoint: a cluster of defs that only call
each other is caught as a whole.

Code that only tests reach is a second copy of some product path or
dead weight; delete it with its tests. The defs kept on purpose are
listed below, each with its reason. What a kept def uses counts as
reached, and a kept def that gains a product caller leaves the list.

A top-level constant (an assignment target) of the package is *loaded*
when product code reads its name: an `ast.Name` in load context, an
`ast.Attribute` or an import alias. A constant nothing loads is dead;
test-only values belong in the tests.

A defaulted parameter of a top-level function is *set* when some call
in product code or in `tests/` passes it: by keyword, by position, or
through `*args`/`**kwargs`. Calls are matched by name, like the
references above. A default no caller sets is a constant dressed as
an option; make it a constant. The defs in KEEP are exempt, and any
other exemption goes in UNSET_DEFAULTS with its reason.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "makerdao_dw_spark"

KEEP = {
    ("io/jdbc.py", "JdbcConfig"): "config of the batched JDBC sink, the "
    "counterpart of the reference's PostgreSQL/Snowflake INSERT sink",
    ("io/jdbc.py", "write_jdbc"): "the batched JDBC sink, the counterpart "
    "of the reference's PostgreSQL/Snowflake INSERT sink",
    ("decode/decoders.py", "redispatch_proxy_calls"): "reference stage A8 "
    "(proxy re-dispatch); wiring it into demux_and_write needs a proxy "
    "fixture chain",
    ("io/maintenance.py", "compact_table"): "small-file compaction (ROADMAP "
    "D7); the swap crash tests drive it",
    ("io/maintenance.py", "table_layout_stats"): "file-count/size probe that "
    "compaction is judged by (ROADMAP D7)",
    ("io/formats.py", "read_evolved"): "merged-schema read for ABI upgrades (ROADMAP D11)",
    ("operators/kmeans.py", "_dist2"): "the scalar reference for dists_arr",
    ("operators/ann_eval.py", "recall_table"): "recall@k of the registered "
    "ANN indexes against exact top-k; the recall floors rest on it",
}

# (module path under the package, def, parameter) -> why its default
# stays a parameter although no caller sets it
UNSET_DEFAULTS: dict[tuple[str, str, str], str] = {}


def _product_files() -> list[str]:
    files = glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True)
    files += glob.glob(os.path.join(ROOT, "tools", "**", "*.py"), recursive=True)
    files += glob.glob(os.path.join(ROOT, "perfbench", "**", "*.py"), recursive=True)
    files += [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]
    return sorted(f for f in files if os.path.exists(f))


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _registered(node: ast.AST) -> bool:
    for d in getattr(node, "decorator_list", ()):
        target = d.func if isinstance(d, ast.Call) else d
        if isinstance(target, ast.Name) and target.id == "query":
            return True
    return False


def unreached(keep=()) -> list[tuple[str, str]]:
    """(module path under the package, name) of every top-level def that
    no product code reaches; the bodies of the `keep` defs count as
    product code."""
    pkg = os.path.join(ROOT, PACKAGE) + os.sep
    defs: dict[tuple[str, str], set[str]] = {}  # def -> names its body refers to
    live: set[str] = set()  # names referred to from outside any candidate def
    for path in _product_files():
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        rel = path[len(pkg):] if path.startswith(pkg) else None
        for stmt in tree.body:
            is_def = isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            if rel is not None and is_def and not _registered(stmt):
                defs[(rel, stmt.name)] = _names(stmt) - {stmt.name}
            else:
                live |= _names(stmt)
    for key in keep:
        assert key in defs, f"KEEP names {key}, which is no top-level def of the package"
        live |= defs[key]
    reached: set[tuple[str, str]] = set()
    grew = True
    while grew:
        grew = False
        for key, refs in defs.items():
            if key not in reached and key[1] in live:
                reached.add(key)
                live |= refs
                grew = True
    return sorted(set(defs) - reached)


def test_every_package_def_has_a_product_caller():
    extra = [d for d in unreached(KEEP) if d not in KEEP]
    assert not extra, f"reached only from tests; delete them or keep them with a reason: {extra}"


def test_kept_defs_have_no_product_caller():
    called = [k for k in sorted(KEEP) if k not in unreached()]
    assert not called, f"kept defs that product code now reaches; drop them from KEEP: {called}"


def unloaded_constants() -> list[tuple[str, str]]:
    """(module path under the package, name) of every top-level assigned
    name of the package that no product file loads."""
    pkg = os.path.join(ROOT, PACKAGE) + os.sep
    consts: set[tuple[str, str]] = set()
    loaded: set[str] = set()
    for path in _product_files():
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        if path.startswith(pkg):
            for stmt in tree.body:
                targets = stmt.targets if isinstance(stmt, ast.Assign) else [getattr(stmt, "target", None)]
                for t in targets:
                    if isinstance(t, ast.Name) and not t.id.startswith("__"):
                        consts.add((path[len(pkg):], t.id))
        for n in ast.walk(tree):
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                loaded.add(n.id)
            elif isinstance(n, ast.Attribute):
                loaded.add(n.attr)
            elif isinstance(n, ast.alias):
                loaded.add(n.name.rsplit(".", 1)[-1])
    return sorted(c for c in consts if c[1] not in loaded)


def test_every_package_constant_is_loaded():
    dead = unloaded_constants()
    assert not dead, f"constants no product code loads; delete them or move them into the tests: {dead}"


def unset_defaults() -> list[tuple[str, str, str]]:
    """(module path under the package, def, parameter) of every
    defaulted parameter of a top-level package function that no call in
    product code or in `tests/` sets."""
    pkg = os.path.join(ROOT, PACKAGE) + os.sep
    tests = sorted(glob.glob(os.path.join(ROOT, "tests", "**", "*.py"), recursive=True))
    set_by: dict[str, set[str | int]] = {}  # called name -> the keywords and positions it is passed
    defaulted: list[tuple[str, str, str, int | None]] = []
    for path in _product_files() + tests:
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            f = n.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            passed = set_by.setdefault(name, set())
            passed |= {k.arg or "**" for k in n.keywords}
            passed |= {"*" if isinstance(a, ast.Starred) else i for i, a in enumerate(n.args)}
        if not path.startswith(pkg):
            continue
        for stmt in tree.body:
            if not isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = stmt.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            for i, arg in enumerate(pos[first:], first):
                defaulted.append((path[len(pkg):], stmt.name, arg.arg, i))
            for arg, d in zip(a.kwonlyargs, a.kw_defaults):
                if d is not None:
                    defaulted.append((path[len(pkg):], stmt.name, arg.arg, None))
    out = []
    for rel, fn, param, i in defaulted:
        passed = set_by.get(fn, set())
        if {param, i, "*", "**"} & passed or (rel, fn) in KEEP:
            continue
        out.append((rel, fn, param))
    return sorted(out)


def test_every_default_is_set_by_some_caller():
    unset = [d for d in unset_defaults() if d not in UNSET_DEFAULTS]
    assert not unset, f"defaults no caller sets; make them constants or give a reason in UNSET_DEFAULTS: {unset}"
