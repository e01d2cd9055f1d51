"""The repo's runnable scripts (bench.py, scale_slope.py, the banked A/B
and decomposition scripts under plans/) call package helpers that no
test imports.  Parse them with ast and check every name they import from
fifteenmc_spark, and every attribute they read off an imported
fifteenmc_spark module, still exists — so a helper rename fails here
instead of silently breaking a script the next time someone runs it."""

from __future__ import annotations

import ast
import importlib
import inspect
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
SCRIPTS = [ROOT / "bench.py", ROOT / "scale_slope.py", *sorted((ROOT / "plans").rglob("*.py"))]
PKG = "fifteenmc_spark"


def _is_pkg(module: str | None) -> bool:
    return module is not None and (module == PKG or module.startswith(PKG + "."))


def _bound_modules(tree: ast.AST) -> dict:
    """Local name -> module object for every fifteenmc_spark module the
    script binds (import x.y [as z], from x import submodule [as z])."""
    bound = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if _is_pkg(a.name):
                    importlib.import_module(a.name)
                    top = a.asname or a.name.split(".")[0]
                    bound[top] = importlib.import_module(a.name if a.asname else top)
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and _is_pkg(node.module):
            mod = importlib.import_module(node.module)
            for a in node.names:
                obj = getattr(mod, a.name, None)
                if inspect.ismodule(obj):
                    bound[a.asname or a.name] = obj
    return bound


def _missing(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and _is_pkg(node.module):
            mod = importlib.import_module(node.module)
            for a in node.names:
                if a.name != "*" and not hasattr(mod, a.name):
                    try:
                        importlib.import_module(f"{node.module}.{a.name}")
                    except ModuleNotFoundError:
                        out.append(f"{path.name}:{node.lineno}: {node.module}.{a.name}")
    bound = _bound_modules(tree)
    for node in ast.walk(tree):
        if not isinstance(node, ast.Attribute):
            continue
        chain, root = [], node
        while isinstance(root, ast.Attribute):
            chain.append(root.attr)
            root = root.value
        if not isinstance(root, ast.Name) or root.id not in bound:
            continue
        obj = bound[root.id]
        for attr in reversed(chain):
            if not inspect.ismodule(obj):
                break  # only attributes read off modules are checked
            if not hasattr(obj, attr):
                out.append(f"{path.name}:{node.lineno}: {obj.__name__}.{attr}")
                break
            obj = getattr(obj, attr)
    return sorted(set(out))


def test_scripts_are_found():
    assert ROOT / "bench.py" in SCRIPTS and ROOT / "scale_slope.py" in SCRIPTS
    assert any(p.parent.parent.name == "plans" for p in SCRIPTS)


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: str(p.relative_to(ROOT)))
def test_script_package_references_exist(path):
    assert _missing(path) == []


def test_checker_catches_a_renamed_helper(tmp_path):
    script = tmp_path / "ab_script.py"
    script.write_text(
        "from fifteenmc_spark.operators import similarity as S\n"
        "from fifteenmc_spark.operators.similarity import _no_such_helper\n"
        "def run(spark):\n"
        "    return S._ivf_cells_probes(spark), S._tivf_cells_probes\n"
    )
    assert _missing(script) == [
        "ab_script.py:2: fifteenmc_spark.operators.similarity._no_such_helper",
        "ab_script.py:4: fifteenmc_spark.operators.similarity._ivf_cells_probes",
    ]
