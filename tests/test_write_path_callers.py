"""Dead-code guard for the package (no Spark).

Every package module must be imported, directly or through other
package modules, from an entry point: the CLI, the driver entry point,
the bench and audit scripts or the benchmark. A module that only tests
import is a second implementation of a behaviour the product runs
another way, or of one it does not run at all: delete it, or name it
in ``TEST_ONLY_MODULES`` with the reason it stays.

Every public module-level function of the package must be referenced
from some file of the package, the tests, the benchmark or the driver
entry point; a use inside its own module counts. A function whose only
mention is its own definition is dead code: delete it rather than keep
a second, untested implementation of a behaviour next to the one that
runs. The write-path modules are held to more: a caller outside the
module itself.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "dht11_data_pipeline_spark"

ENTRY_POINTS = [
    PKG / "__main__.py",
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    ROOT / "scale_audit.py",
    ROOT / "scaling_audit.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
]

TEST_ONLY_MODULES = {
    "dht11_data_pipeline_spark.sources.jdbc":
        "the reference's Oracle read (SURVEY S3): plans stripe predicates "
        "for a partitioned JDBC scan",
    "dht11_data_pipeline_spark.streaming.jdbc_sink":
        "the reference's Oracle write (SURVEY S5/S6): delete-then-insert "
        "per batch_id makes a replayed micro-batch idempotent",
    "dht11_data_pipeline_spark.sources.user_docs":
        "the reference's Firestore users source (SURVEY S2)",
    "dht11_data_pipeline_spark.streaming.monitor":
        "the per-micro-batch stream audit table of the observability goal",
}

WRITE_PATH_MODULES = [
    PKG / "pipeline.py",
    PKG / "operators" / "scd2.py",
    PKG / "operators" / "scd2_partitioned.py",
    PKG / "operators" / "txlog.py",
    PKG / "streaming" / "historize.py",
]


def _module_name(path: Path) -> str:
    return ".".join(path.relative_to(ROOT).with_suffix("").parts) \
        .removesuffix(".__init__")


def _imported_modules(path: Path, modules: set[str]) -> set[str]:
    """Package modules that ``path`` imports anywhere in its body,
    function-local imports included, with the packages above each."""
    here = (_module_name(path).split(".")
            if path.is_relative_to(PKG) else [])
    if here and path.name != "__init__.py":
        here = here[:-1]
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parent = here[:len(here) - node.level + 1]
                base = ".".join(parent + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    found = set()
    for name in names:
        while name:
            if name in modules:
                found.add(name)
            name = name.rpartition(".")[0]
    return found


def _reached_modules() -> set[str]:
    modules = {_module_name(p): p for p in PKG.rglob("*.py")}
    todo = [m for root in ENTRY_POINTS
            for m in _imported_modules(root, set(modules))]
    todo += [_module_name(p) for p in ENTRY_POINTS
             if p.is_relative_to(PKG)]
    reached = set()
    while todo:
        mod = todo.pop()
        if mod not in reached:
            reached.add(mod)
            todo += _imported_modules(modules[mod], set(modules))
    return reached


def test_every_package_module_is_reached_from_an_entry_point():
    modules = {_module_name(p) for p in PKG.rglob("*.py")}
    reached = _reached_modules()
    unreached = sorted(modules - reached - set(TEST_ONLY_MODULES))
    assert not unreached, (
        f"package modules that no entry point imports: {unreached}; "
        f"delete them, or name each in TEST_ONLY_MODULES with a reason")
    stale = sorted(set(TEST_ONLY_MODULES) & reached)
    assert not stale, f"TEST_ONLY_MODULES names reached modules: {stale}"
    gone = sorted(set(TEST_ONLY_MODULES) - modules)
    assert not gone, f"TEST_ONLY_MODULES names missing modules: {gone}"


def _caller_files() -> list[Path]:
    files = [p for d in (PKG, ROOT / "tests", ROOT / "perfbench")
             for p in d.rglob("*.py")]
    return files + [ROOT / "__spark_entry__.py"]


def _referenced_names(path: Path) -> set[str]:
    """Identifiers a file uses: names, attribute names, imported names
    and whole string constants (registries that patch or look up a
    function by its name)."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.alias):
            names.add(node.name.rsplit(".", 1)[-1])
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            names.add(node.value)
    return names


def _public_functions(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), str(path))
    return [n.name for n in tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            and not n.name.startswith("_")]


@pytest.fixture(scope="module")
def references() -> dict[Path, set[str]]:
    return {p.resolve(): _referenced_names(p) for p in _caller_files()}


@pytest.mark.parametrize("module", WRITE_PATH_MODULES,
                         ids=lambda p: p.relative_to(PKG).as_posix())
def test_public_write_path_functions_have_callers(module, references):
    funcs = _public_functions(module)
    assert funcs, f"no public functions found in {module}"
    dead = [f for f in funcs
            if not any(f in names for p, names in references.items()
                       if p != module.resolve())]
    assert not dead, (
        f"{module.relative_to(ROOT)}: public functions with no caller "
        f"outside their own module: {dead}")


@pytest.mark.parametrize("module", sorted(PKG.rglob("*.py")),
                         ids=lambda p: p.relative_to(PKG).as_posix())
def test_public_package_functions_have_callers(module, references):
    dead = [f for f in _public_functions(module)
            if not any(f in names for names in references.values())]
    assert not dead, (
        f"{module.relative_to(ROOT)}: public functions that nothing "
        f"calls: {dead}")
