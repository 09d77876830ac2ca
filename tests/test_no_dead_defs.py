"""No dead code in the package: every module-level def or class under
``s2geometry_spark/`` must be named somewhere besides its own
definition — in the package, the tests, ``jobs/``, ``bench.py``,
``__spark_entry__.py``, ``API.md`` or ``perfbench/``.  A name is
matched as a whole identifier anywhere in those files (code, strings,
docs), so the check errs toward keeping code, never toward flagging
live code."""

from __future__ import annotations

import ast
import collections
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "s2geometry_spark"
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _sources() -> list[Path]:
    files = [*PACKAGE.rglob("*.py"), *(ROOT / "tests").rglob("*.py")]
    files += [*(ROOT / "jobs").rglob("*.py"), *(ROOT / "perfbench").rglob("*.py")]
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py", ROOT / "API.md"]
    return [f for f in files if f.is_file()]


def _module_level_defs() -> list[tuple[str, str]]:
    defs = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs.append((str(path.relative_to(ROOT)), node.name))
    return defs


def dead_defs() -> list[str]:
    """``path:name`` of every module-level def or class whose name
    occurs in the sources only as often as it is defined there."""
    uses = collections.Counter()
    for f in _sources():
        uses.update(_IDENT.findall(f.read_text()))
    defs = _module_level_defs()
    n_defs = collections.Counter(name for _, name in defs)
    return [
        f"{path}:{name}" for path, name in defs if uses[name] <= n_defs[name]
    ]


def test_every_module_level_def_is_referenced():
    assert dead_defs() == []
