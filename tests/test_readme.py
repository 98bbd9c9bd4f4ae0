"""README names only what the package defines.

Every backticked ``dir/module.name`` or ``module.name`` span whose module
part is a package module must name a top-level ``def`` or ``class`` of
that module, so a deletion or rename cannot leave the README pointing at
code that no longer exists.
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


def test_readme_module_names_resolve_to_package_defs():
    defs = _top_level_names()
    refs = [
        (m.group(0), m.group(1), m.group(2))
        for span in re.findall(r"`([^`\n]+)`", (ROOT / "README.md").read_text())
        if (m := re.fullmatch(r"((?:\w+/)?\w+)\.(\w+)", span))
        and m.group(1) in defs
        and m.group(2) != "py"
    ]
    assert refs, "no module.name span found: the README pattern changed"
    dangling = [span for span, mod, name in refs if name not in defs[mod]]
    assert not dangling, f"README names undefined package code: {dangling}"
