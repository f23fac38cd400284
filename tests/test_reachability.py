"""Every engine module is reached from an entry point: the driver queries
(``__spark_entry__.py``), ``bench.py``, the jobs, the tools and the
benchmark harness. The walk follows imports statically (module level and
inside functions); importing ``a.b.c`` also runs ``a`` and ``a.b``.

Below module level, every top-level function and class of the package is
named by some file outside ``tests/``; a re-export in an ``__init__.py``
is not a use. The check is textual, so it is a lower bound on dead code."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "article_extraction_spark"

# modules no entry point reaches
PENDING: set[str] = set()

# reference twins and fixtures that only tests call: the tests compare the
# engine against them or build their data with them
KEPT_DEFINITIONS = {
    "eval_metrics.per_turn_equality",
    "fixtures.synth.golden_df",
    "fixtures.synth.transcripts_df",
    "functions.codecs.encode_wav",
    "operators.dedup._simhash64_scalar",
    "operators.joins.match_country",
    "operators.joins.match_hardware",
    "operators.split.reference_exact_split",
}


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _package_modules() -> dict[str, Path]:
    return {_module_name(p): p for p in (ROOT / PKG).rglob("*.py")}


def _imports(path: Path, name: str, modules: dict[str, Path]) -> set[str]:
    """Engine modules ``path`` imports, with their parent packages."""
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    targets = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            targets.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.split(".")[: len(package.split(".")) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            targets.add(base)
            # ``from pkg import sub`` imports the submodule ``pkg.sub``
            targets.update(f"{base}.{a.name}" for a in node.names)
    out = set()
    for t in targets:
        parts = t.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out & modules.keys()


def _unreached() -> set[str]:
    modules = _package_modules()
    entries = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for d in ("jobs", "tools", "benchmark"):
        entries += [p for p in (ROOT / d).rglob("*.py") if "tests" not in p.parts]
    seen: set[str] = set()
    todo = set().union(*(_imports(p, "", modules) for p in entries))
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo |= _imports(modules[name], name, modules) - seen
    return {m.removeprefix(PKG + ".") for m in modules.keys() - seen}


def test_every_engine_module_is_reached_from_an_entry_point():
    unreached = _unreached()
    assert unreached == PENDING, (
        f"unreached modules {sorted(unreached - PENDING)}, newly reached or "
        f"deleted {sorted(PENDING - unreached)}; wire each unreached module "
        "to the entry point that owns its capability, or delete it"
    )


def _identifiers(path: Path) -> Counter:
    """How often each identifier occurs in ``path``; the import lines of an
    ``__init__.py`` (re-exports) are left out."""
    text = path.read_text()
    if path.name == "__init__.py":
        lines = text.splitlines()
        imports = {
            i
            for node in ast.parse(text).body
            if isinstance(node, (ast.Import, ast.ImportFrom))
            for i in range(node.lineno - 1, node.end_lineno)
        }
        text = "\n".join(line for i, line in enumerate(lines) if i not in imports)
    return Counter(re.findall(r"\w+", text))


def _definitions() -> set[str]:
    """Top-level functions and classes of the package, as ``module.name``
    without the package prefix."""
    return {
        f"{_module_name(path).removeprefix(PKG + '.')}.{node.name}"
        for path in (ROOT / PKG).rglob("*.py")
        for node in ast.parse(path.read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    }


def _unnamed_definitions() -> set[str]:
    """Definitions that no file outside ``tests/`` names."""
    uses: Counter = Counter()
    for path in ROOT.rglob("*.py"):
        parts = path.relative_to(ROOT).parts
        if "tests" not in parts and not any(p.startswith(".") for p in parts):
            uses += _identifiers(path)
    # the definition itself is one occurrence
    return {d for d in _definitions() if uses[d.rpartition(".")[2]] <= 1}


def test_every_engine_definition_is_named_outside_tests():
    unnamed = _unnamed_definitions()
    assert unnamed <= KEPT_DEFINITIONS, (
        f"definitions only tests name: {sorted(unnamed - KEPT_DEFINITIONS)}; "
        "wire each to the entry point that owns its capability, or delete "
        "it with its tests"
    )
    assert KEPT_DEFINITIONS <= _definitions(), "a kept definition is gone"
