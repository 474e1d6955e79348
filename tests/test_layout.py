"""Package layout guard (no Spark needed): every ``pignlproc_spark``
module must be reachable from a job (``jobs/*.py``) or a benchmark
workload (``perfbench/*.py``), or be listed below with the reason it
stays. The list holds only paper analogues not yet wired into a job;
a module that only tests or the driver contract use does not belong
on it.

Reachability is an AST import walk that follows every import, lazy
in-function ones included, and a package's ``__init__`` whenever one
of its submodules is imported. It does not follow ``__spark_entry__``:
code whose only caller is the driver contract counts as unreached, so
new driver-only modules fail here instead of accumulating."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "pignlproc_spark"

ALLOWED_UNREACHED = {
    "pignlproc_spark.operators.corpus": "pignlproc's ner-corpus and topic-corpus scripts",
    "pignlproc_spark.operators.mentions": "pignlproc J7 ParagraphsWithLink (paragraph link contexts)",
    "pignlproc_spark.sources.wikidump": "the paper's J1/J2 dump split, to be wired into build_kg",
    "pignlproc_spark.sources.ntriples": "the paper's J4 NTriples reader, to be wired into build_kg",
}


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imported_names(path: Path) -> set[str]:
    """Dotted names a file may import: for ``from a import b`` both
    ``a`` and ``a.b`` (``b`` may be a submodule or an attribute)."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and node.level == 0:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return names


def unreached_modules() -> set[str]:
    mods = _package_modules()
    reached: set[str] = set()
    todo = sorted((ROOT / "jobs").glob("*.py")) + sorted((ROOT / "perfbench").glob("*.py"))
    while todo:
        for name in _imported_names(todo.pop()):
            parts = name.split(".")
            # importing a.b.c runs a/__init__ and a/b/__init__ first
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in mods and mod not in reached:
                    reached.add(mod)
                    todo.append(mods[mod])
    return set(mods) - reached


def test_every_module_is_reached_or_allowlisted():
    unreached = unreached_modules()
    assert unreached == set(ALLOWED_UNREACHED), (
        "modules no job or workload imports (delete them, or allowlist one "
        f"with its reason): {sorted(unreached - set(ALLOWED_UNREACHED))}; "
        f"allowlisted but now reached or gone: {sorted(set(ALLOWED_UNREACHED) - unreached)}"
    )
