"""Every engine module is reached from an entry point: the driver queries
(``__spark_entry__.py``), ``bench.py``, the jobs, the tools and the
benchmark harness. The walk follows imports statically (module level and
inside functions); importing ``a.b.c`` also runs ``a`` and ``a.b``."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "article_extraction_spark"

# Not wired to any entry point yet; whether to route them through
# extraction/registry.py or delete them is ROADMAP direction 3.
PENDING = {
    "extraction.hf_encode",
    "extraction.hf_llm",
    "extraction.hf_qa",
    "extraction.prompts",
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
        f"deleted {sorted(PENDING - unreached)}; the HF modules are pending "
        "the ROADMAP direction 3 decision (wire or delete) — update PENDING "
        "with that change, and wire or delete any other unreached module"
    )
