"""Every script under scripts/ still finds what it imports from the
package and from bench.py, so deleting or renaming a name cannot strand
a script. Static (ast) walk plus a plain import; no Spark session.
Likewise every slow-tier entry in conftest names a test file that
exists, so deleting or renaming a test file cannot leave a stale name."""

from __future__ import annotations

import ast
import importlib
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = os.path.join(REPO, "scripts")
ROOTS = ("event_data_etl_gcs_spark", "bench")


def _project_imports(path: str) -> list[tuple[str, str | None]]:
    """(module, name) for each project import in a script; name is None
    for a plain ``import module``."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module.split(".")[0] in ROOTS:
                out += [(node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [(a.name, None) for a in node.names if a.name.split(".")[0] in ROOTS]
    return out


def _resolves(module: str, name: str | None) -> bool:
    mod = importlib.import_module(module)
    if name is None or hasattr(mod, name):
        return True
    try:  # `from package import submodule`
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return False
    return True


SCRIPT_FILES = sorted(f for f in os.listdir(SCRIPTS) if f.endswith(".py"))


@pytest.mark.parametrize("script", SCRIPT_FILES)
def test_script_imports_resolve(script):
    imports = _project_imports(os.path.join(SCRIPTS, script))
    missing = [f"{m}:{n}" for m, n in imports if not _resolves(m, n)]
    assert not missing, f"scripts/{script} imports names that no longer exist: {missing}"


def test_walk_sees_project_imports():
    found = {m for f in SCRIPT_FILES for m, _ in _project_imports(os.path.join(SCRIPTS, f))}
    assert {"bench", "event_data_etl_gcs_spark.queries"} <= found


def test_slow_tier_files_exist():
    from .conftest import SLOW_TIER_FILES

    tests_dir = os.path.join(REPO, "tests")
    missing = sorted(f for f in SLOW_TIER_FILES if not os.path.isfile(os.path.join(tests_dir, f)))
    assert not missing, f"SLOW_TIER_FILES names files not in tests/: {missing}"
