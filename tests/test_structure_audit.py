"""Structural audits that catch definition and dead-code rot statically.

1. No module in the package may define the same top-level name twice (the
   later def silently shadows the earlier one at import).
2. No dict literal in the CLI entry module, or in any module of the
   package, may repeat a string key (the duplicate silently wins).
3. Every package module must be reachable by imports from an entry point:
   the package root, the CLI (``__main__``), the streaming jobs and the
   reference extractor. A module nothing imports is dead code. The
   operator modules in ``RETAINED_UNREACHED`` are the known exceptions:
   no entry point imports them, but their own tests still pin them, so
   they stay until those tests go.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "nebula_importer_spark"

ENTRY_POINTS = [
    "nebula_importer_spark",
    "nebula_importer_spark.__main__",
    "nebula_importer_spark.streaming",
    "nebula_importer_spark.streaming.transcripts",
    "nebula_importer_spark.transcripts.reference",
]

# Unreached from every entry point, imported only by their own tests (and
# by each other). Shrink this set as modules are deleted; never grow it.
RETAINED_UNREACHED = {
    f"nebula_importer_spark.{name}"
    for name in [
        "operators.behavior",
        "operators.blocklist",
        "operators.bpe",
        "operators.cdc",
        "operators.classify",
        "operators.decontaminate",
        "operators.dedup",
        "operators.dq",
        "operators.dsir",
        "operators.jpeg",
        "operators.layout",
        "operators.metrics",
        "operators.multimodal",
        "operators.packing",
        "operators.privacy",
        "operators.sampling",
        "operators.search",
        "operators.selection",
        "operators.similarity",
        "operators.temporal",
        "operators.web",
        "plans.audit",
        "streaming.conversations",
        "streaming.corpus",
        "streaming.sketches",
        "transcripts.analytics",
        "transcripts.coref",
        "transcripts.entities",
        "transcripts.schema",
    ]
}


def duplicate_toplevel_defs(source: str) -> list[str]:
    """Names bound by more than one direct module-body def/class.

    Only direct children of the module body count — conditional
    fallbacks (``try: import fast / except: def slow()``) live inside
    Try/If nodes and are legitimate. ``@overload`` stubs would be too,
    but the package doesn't use them; if it ever does, whitelist here.
    """
    seen: dict[str, int] = {}
    dupes = []
    for node in ast.parse(source).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if node.name in seen:
                dupes.append(f"{node.name} (lines {seen[node.name]} and {node.lineno})")
            else:
                seen[node.name] = node.lineno
    return dupes


def duplicate_dict_keys(source: str) -> list[str]:
    """String keys repeated inside any dict literal (last wins silently)."""
    dupes = []
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, ast.Dict):
            continue
        seen: dict[str, int] = {}
        for key in node.keys:
            if isinstance(key, ast.Constant) and isinstance(key.value, str):
                if key.value in seen:
                    dupes.append(
                        f"{key.value!r} (lines {seen[key.value]} and {key.lineno})"
                    )
                else:
                    seen[key.value] = key.lineno
    return dupes


def package_modules(package: Path = PACKAGE) -> dict[str, Path]:
    """Dotted module name → file, for every ``.py`` under ``package``."""
    out = {}
    for path in package.rglob("*.py"):
        parts = list(path.relative_to(package.parent).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        out[".".join(parts)] = path
    return out


def imported_modules(name: str, path: Path, modules: dict[str, Path]) -> set[str]:
    """Package modules that ``name`` imports anywhere in its body (function
    scope included), resolving relative imports. ``from pkg import x``
    counts ``pkg.x`` when that is a module."""
    base = name.split(".") if path.name == "__init__.py" else name.split(".")[:-1]
    targets: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            targets.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            parent = node.module or ""
            if node.level:
                anchor = base[: len(base) - node.level + 1]
                parent = ".".join(anchor + ([parent] if parent else []))
            targets.add(parent)
            targets.update(f"{parent}.{a.name}" for a in node.names)
    return targets & modules.keys()


def reachable_modules(roots: list[str], modules: dict[str, Path]) -> set[str]:
    """Modules reached from ``roots``; reaching ``a.b.c`` also runs the
    ``__init__`` of ``a`` and ``a.b``."""
    seen: set[str] = set()
    stack = list(roots)
    while stack:
        name = stack.pop()
        if name in seen:
            continue
        seen.add(name)
        parts = name.split(".")
        stack.extend(".".join(parts[:i]) for i in range(1, len(parts)))
        stack.extend(imported_modules(name, modules[name], modules) - seen)
    return seen


def test_no_duplicate_toplevel_definitions():
    offenders = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        dupes = duplicate_toplevel_defs(path.read_text())
        if dupes:
            offenders[str(path.relative_to(REPO))] = dupes
    assert not offenders, (
        "duplicate top-level definitions (later one shadows the earlier "
        f"at import): {offenders}"
    )


def test_no_duplicate_dict_keys_in_entry_module():
    offenders = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        dupes = duplicate_dict_keys(path.read_text())
        if dupes:
            offenders[str(path.relative_to(REPO))] = dupes
    assert not offenders, f"duplicate dict keys: {offenders}"


def test_synthetic_duplicates_are_detected():
    """The audits themselves must flag a planted duplicate."""
    assert duplicate_toplevel_defs(
        "def f():\n    pass\n\nx = 1\n\ndef f():\n    pass\n"
    ) == ["f (lines 1 and 6)"]
    # nested / conditional defs are NOT flagged
    assert duplicate_toplevel_defs(
        "try:\n    def f():\n        pass\nexcept ImportError:\n"
        "    def f():\n        pass\n"
    ) == []
    assert duplicate_dict_keys("d = {'a': 1, 'b': 2, 'a': 3}") == [
        "'a' (lines 1 and 1)"
    ]


def test_every_module_is_reachable_from_an_entry_point():
    modules = package_modules()
    reached = reachable_modules(ENTRY_POINTS, modules)
    unreached = sorted(set(modules) - reached - RETAINED_UNREACHED)
    assert not unreached, (
        f"{len(unreached)} package module(s) no entry point imports: "
        f"{unreached}"
    )
    # the exception list must stay exact: a deleted or newly reached
    # module leaves it
    stale = sorted(RETAINED_UNREACHED - (set(modules) - reached))
    assert not stale, f"RETAINED_UNREACHED lists reached or missing modules: {stale}"


def test_reachability_walk_follows_every_import_form(tmp_path):
    """The walk must follow absolute, relative, function-scope and
    ``from pkg import module`` imports plus parent ``__init__``s, and must
    report a module nothing imports."""
    pkg = tmp_path / "pkg"
    files = {
        "__init__.py": "from pkg.a import f\n",
        "a.py": "def f():\n    from . import b\n",
        "b.py": "import pkg.sub.c\n",
        "sub/__init__.py": "from .d import g\n",
        "sub/c.py": "",
        "sub/d.py": "from .. import e\n",
        "e.py": "",
        "orphan.py": "import pkg.a\n",
    }
    for rel, text in files.items():
        (pkg / rel).parent.mkdir(parents=True, exist_ok=True)
        (pkg / rel).write_text(text)
    modules = package_modules(pkg)
    reached = reachable_modules(["pkg"], modules)
    assert set(modules) - reached == {"pkg.orphan"}
