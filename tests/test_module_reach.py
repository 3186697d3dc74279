"""Static guards (no Spark session).

Keep rule: every ``ballet_spark`` module must be imported, directly or
transitively, by the entry module, the benchmarks or a script — or be
named on the allowlist below with the SURVEY row that keeps it. A
module that only tests import is dead weight: delete it with its tests.

Boundary rule: the kernel modules cross into Python as Arrow only, so
they never import pandas or call a pandas boundary."""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "ballet_spark"

ROOTS = [
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    REPO / "bench_extra.py",
    *sorted((REPO / "perfbench").glob("*.py")),
    *sorted((REPO / "scripts").glob("*.py")),
]

# modules no root imports, each kept by a SURVEY row
ALLOWLIST = {
    "ballet_spark.mlprimitives": "C9 / entry point B",
    "ballet_spark.operators.projections": "§2.3 sklearn projections and scalers",
    "ballet_spark.registry": "S3",
    "ballet_spark.validation.checks": "V11",
    "ballet_spark.validation.discovery": "V13",
}


def _modules() -> dict[str, Path]:
    """Dotted name -> file for every module of the package
    (``__init__`` files map to their package's name)."""
    out = {}
    for path in (REPO / PKG).rglob("*.py"):
        parts = path.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = path
    return out


def _imported(path: Path, modules: dict[str, Path]) -> set[str]:
    """Package modules ``path`` imports anywhere in its body, plus the
    parent packages whose ``__init__`` each import runs."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    out = set()
    for name in names:
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            if ".".join(parts[:i]) in modules:
                out.add(".".join(parts[:i]))
    return out


def _reached(modules: dict[str, Path]) -> set[str]:
    seen: set[str] = set()
    todo = set().union(*(_imported(p, modules) for p in ROOTS))
    while todo:
        mod = todo.pop()
        if mod not in seen:
            seen.add(mod)
            todo |= _imported(modules[mod], modules) - seen
    return seen


def test_every_module_reached_or_allowlisted():
    modules = _modules()
    leaves = {m for m, p in modules.items() if p.name != "__init__.py"}
    reached = _reached(modules)
    assert set(ALLOWLIST) <= leaves, "allowlist names a missing module"
    assert not set(ALLOWLIST) & reached, (
        "allowlisted module is now reached; drop it from the allowlist"
    )
    unreached = sorted(leaves - reached - set(ALLOWLIST))
    assert not unreached, (
        f"modules no query, benchmark or script imports: {unreached}"
    )


# modules whose kernels cross into Python as Arrow only
ARROW_ONLY = [
    "ballet_spark/functions/text.py",
    "ballet_spark/functions/lm.py",
    "ballet_spark/functions/classifier.py",
    "ballet_spark/operators/dedup.py",
]
PANDAS_BOUNDARIES = {"pandas_udf", "mapInPandas", "applyInPandas", "toPandas"}


def test_kernel_modules_never_import_pandas():
    for rel in ARROW_ONLY:
        path = REPO / rel
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""]
            elif isinstance(node, ast.Attribute):
                assert node.attr not in PANDAS_BOUNDARIES, (rel, node.lineno)
                continue
            else:
                continue
            assert not any(n.split(".")[0] == "pandas" for n in names), (
                rel, node.lineno
            )
