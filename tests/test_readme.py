"""README names only what the package defines.

Every backticked ``dir/module.name`` or ``module.name`` span whose module
part is a package module must name a top-level ``def`` or ``class`` of
that module, and every backticked ``dir/module.py`` path must be a file,
so a deletion or rename cannot leave the README pointing at code that no
longer exists.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "hrdp_variant_load_pipeline_spark"


def _top_level_names() -> dict[str, set[str]]:
    """Module key (``sources/store`` and bare ``store``) -> top-level
    def/class names; a bare key shared by two modules holds both sets."""
    out: dict[str, set[str]] = {}
    for f in PKG.rglob("*.py"):
        defs = {
            n.name
            for n in ast.parse(f.read_text()).body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        }
        rel = f.relative_to(PKG).with_suffix("")
        for key in {rel.as_posix(), rel.name}:
            out.setdefault(key, set()).update(defs)
    return out


def _readme_spans() -> list[str]:
    return re.findall(r"`([^`\n]+)`", (ROOT / "README.md").read_text())


def test_readme_module_names_resolve_to_package_defs():
    defs = _top_level_names()
    refs = [
        (m.group(0), m.group(1), m.group(2))
        for span in _readme_spans()
        if (m := re.fullmatch(r"((?:\w+/)?\w+)\.(\w+)", span))
        and m.group(1) in defs
        and m.group(2) != "py"
    ]
    assert refs, "no module.name span found: the README pattern changed"
    dangling = [span for span, mod, name in refs if name not in defs[mod]]
    assert not dangling, f"README names undefined package code: {dangling}"


def test_readme_module_paths_resolve_to_files():
    """A ``dir/module.py`` span (optionally ``:name``) is a package file,
    or a repository file for top-level directories such as ``tests/``; a
    ``:name`` suffix must be one of that module's top-level defs. The
    module of a ``subpackage/module.name`` span must exist too (the test
    above skips spans whose module it does not know)."""
    defs = _top_level_names()
    subpackages = {p.parent.name for p in PKG.glob("*/__init__.py")}
    refs = []
    for span in _readme_spans():
        if m := re.fullmatch(r"((?:\w+/)+\w+)\.py(?::(\w+))?", span):
            refs.append(m.groups())
        elif (m := re.fullmatch(r"((\w+)/\w+)\.\w+", span)) and m.group(2) in subpackages:
            refs.append((m.group(1), None))
    assert refs, "no dir/module.py span found: the README pattern changed"
    missing = [
        f"{mod}.py"
        for mod, _name in refs
        if not (PKG / f"{mod}.py").is_file() and not (ROOT / f"{mod}.py").is_file()
    ]
    assert not missing, f"README names missing files: {missing}"
    dangling = [
        f"{mod}.py:{name}"
        for mod, name in refs
        if name and mod in defs and name not in defs[mod]
    ]
    assert not dangling, f"README names undefined package code: {dangling}"
