"""Dead-code guard for the package (no Spark).

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

WRITE_PATH_MODULES = [
    PKG / "pipeline.py",
    PKG / "operators" / "scd2.py",
    PKG / "operators" / "scd2_partitioned.py",
    PKG / "operators" / "txlog.py",
    PKG / "streaming" / "historize.py",
]


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
