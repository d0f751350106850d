"""Dead-code guard for the package (no Spark).

Every package module must be imported, directly or through other
package modules, from an entry point: the CLI, the driver entry point,
the bench and audit scripts or the benchmark. A module that only tests
import is a second implementation of a behaviour the product runs
another way, or of one it does not run at all: delete it, or name it
in ``TEST_ONLY_MODULES`` with the reason it stays.

Every top-level function and class of the package must be reached the
same way, at function grain: from the code of the non-package entry
points and the module-level statements of the package, through the
bodies of what they reach. A function that only tests call is dead
code: delete it, or name it in ``TEST_ONLY_FUNCTIONS`` with the reason
it stays. The match is by name: a dead function that shares its name
with a live one passes. The same walk also answers per module, and
there a ``TEST_ONLY_FUNCTIONS`` entry must still have a test caller.

The write-path modules are held to one more rule: every public
function has a caller outside the module itself.
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

TEST_ONLY_FUNCTIONS = {
    "dht11_data_pipeline_spark.operators.pq:encode_pq":
        "the two-pass reference the fused encode+ADC pass is pinned "
        "against",
    "dht11_data_pipeline_spark.operators.similarity:"
    "embedding_near_duplicates":
        "exhaustive ground truth for the ANN recall tests",
    "dht11_data_pipeline_spark.functions.vectors:cosine":
        "the per-pair reference for the side-projected norms",
    "dht11_data_pipeline_spark.operators.sequence:_hw_fold_py":
        "the arbitrary-precision twin of the numpy fold",
    "dht11_data_pipeline_spark.streaming.historize:scd2_logged_batch_writer":
        "becomes the only SCD2 sink once the benchmark reads a txlog "
        "stream target (ROADMAP 1(c))",
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


def _names(*nodes: ast.AST) -> set[str]:
    """Identifiers the code under ``nodes`` uses: names, attribute
    names, imported names and whole string constants (registries that
    patch or look up a function by its name)."""
    names = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rsplit(".", 1)[-1])
            elif (isinstance(node, ast.Constant)
                  and isinstance(node.value, str)):
                names.add(node.value)
    return names


def _referenced_names(path: Path) -> set[str]:
    return _names(ast.parse(path.read_text(), str(path)))


def _test_names() -> set[str]:
    return set().union(*(_referenced_names(p)
                         for p in (ROOT / "tests").rglob("*.py")))


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _package_defs() -> dict[str, ast.AST]:
    """``module:name`` -> node of every top-level function and class."""
    return {f"{_module_name(p)}:{n.name}": n
            for p in sorted(PKG.rglob("*.py"))
            for n in ast.parse(p.read_text(), str(p)).body
            if isinstance(n, _DEFS)}


def _reached_functions(defs: dict[str, ast.AST]) -> set[str]:
    """Fixed point of the name walk. The roots are the non-package
    entry points, the module-level statements of every package module
    and the bodies of ``TEST_ONLY_FUNCTIONS``. A definition is reached
    when its name is live, and its body's names then become live.

    A function of a ``TEST_ONLY_MODULES`` module is reached only
    through the names the tests use, its module's own statements and
    the bodies of the test-only-module functions reached so far, so an
    unreferenced function there still fails."""
    live = set().union(*(_referenced_names(p) for p in ENTRY_POINTS
                         if not p.is_relative_to(PKG)))
    test_live = _test_names()
    for path in PKG.rglob("*.py"):
        top = _names(*(n for n in ast.parse(path.read_text(), str(path)).body
                       if not isinstance(n, _DEFS)))
        live |= top
        if _module_name(path) in TEST_ONLY_MODULES:
            test_live |= top
    live |= _names(*(defs[k] for k in TEST_ONLY_FUNCTIONS if k in defs))
    reached = set()
    grew = True
    while grew:
        grew = False
        for key, node in defs.items():
            test_only = key.partition(":")[0] in TEST_ONLY_MODULES
            if key in reached or node.name not in (
                    test_live if test_only else live):
                continue
            reached.add(key)
            body = _names(node)
            live |= body
            if test_only:
                test_live |= body
            grew = True
    return reached


@pytest.fixture(scope="module")
def walk() -> tuple[dict[str, ast.AST], set[str]]:
    defs = _package_defs()
    return defs, _reached_functions(defs)


@pytest.fixture(scope="module")
def tested() -> set[str]:
    return _test_names()


def test_every_package_function_is_reached_from_an_entry_point(walk):
    defs, reached = walk
    unreached = sorted(set(defs) - reached - set(TEST_ONLY_FUNCTIONS))
    assert not unreached, (
        f"package functions and classes that no entry point reaches: "
        f"{unreached}; delete them, or name each in TEST_ONLY_FUNCTIONS "
        f"with a reason")
    stale = sorted(set(TEST_ONLY_FUNCTIONS) & reached)
    assert not stale, f"TEST_ONLY_FUNCTIONS names reached functions: {stale}"
    gone = sorted(set(TEST_ONLY_FUNCTIONS) - set(defs))
    assert not gone, f"TEST_ONLY_FUNCTIONS names missing functions: {gone}"

@pytest.mark.parametrize("module", sorted(PKG.rglob("*.py")),
                         ids=lambda p: p.relative_to(PKG).as_posix())
def test_public_package_functions_have_callers(module, walk, tested):
    """The walk's answer for one module: every top-level function and
    class is reached from an entry point, and every one it names in
    ``TEST_ONLY_FUNCTIONS`` is still called from a test."""
    defs, reached = walk
    here = _module_name(module)
    keys = [k for k in defs if k.partition(":")[0] == here]
    dead = [k for k in keys
            if k not in reached and k not in TEST_ONLY_FUNCTIONS]
    assert not dead, (
        f"{module.relative_to(ROOT)}: functions and classes that no "
        f"entry point reaches: {dead}")
    untested = [k for k in keys if k in TEST_ONLY_FUNCTIONS
                and defs[k].name not in tested]
    assert not untested, (
        f"{module.relative_to(ROOT)}: TEST_ONLY_FUNCTIONS entries that "
        f"no test calls: {untested}")


def _caller_files() -> list[Path]:
    files = [p for d in (PKG, ROOT / "tests", ROOT / "perfbench")
             for p in d.rglob("*.py")]
    return files + [ROOT / "__spark_entry__.py"]


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

