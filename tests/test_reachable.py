"""Reachability lock: every engine module is imported, directly or
transitively, by a program entry — the `__spark_entry__.py` query
registry, a spark-submit job, a bench leaf, a tool or the benchmark
harness. Engine code that only its own tests import fails here, so
test-only code cannot grow back into `theoremsearch_spark/`. Static
`import` statements are walked with `ast`; nothing is imported or
run."""

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "theoremsearch_spark"

ENTRIES = ["__spark_entry__.py", "jobs/*.py", "bench.py", "bench_extra.py",
           "tools/*.py", "perfbench/*.py"]

# Modules no program entry imports, each with its reason.
EXEMPT = {
    # test support: the physical-plan assertions (pushdown, broadcast,
    # exchange counts) the plan tests make; the engine never inspects
    # its own plans
    f"{PKG}.plans": "package of plans.inspect",
    f"{PKG}.plans.inspect": "test-support plan inspection",
}


def _module_file(mod: str) -> str | None:
    base = os.path.join(ROOT, *mod.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _imported(path: str) -> set[str]:
    """Every `theoremsearch_spark` module a file imports: each dotted
    prefix of an imported name (its packages run too), plus the names
    a `from pkg import name` pulls in that are themselves modules."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    names = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            names.append(node.module)
            names += [f"{node.module}.{a.name}" for a in node.names]
    out = set()
    for name in names:
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            mod = ".".join(parts[:i])
            if parts[0] == PKG and _module_file(mod):
                out.add(mod)
    return out


def _all_modules() -> set[str]:
    mods = set()
    for path in glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
        mods.add(".".join(rel[:-1] if rel[-1] == "__init__" else rel))
    return mods


def test_every_engine_module_is_reached_from_an_entry():
    entries = [p for pat in ENTRIES for p in glob.glob(os.path.join(ROOT, pat))]
    assert entries, "no program entries found"
    reached, todo = set(), set()
    for path in entries:
        todo |= _imported(path)
    while todo:
        mod = todo.pop()
        if mod not in reached:
            reached.add(mod)
            todo |= _imported(_module_file(mod)) - reached
    unreached = _all_modules() - reached - set(EXEMPT)
    assert not unreached, (
        "engine modules no entry imports (only tests do): "
        f"{sorted(unreached)}"
    )
    assert set(EXEMPT) <= _all_modules(), "stale EXEMPT entry"
