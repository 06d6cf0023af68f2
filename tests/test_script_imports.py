"""Every name the scripts in ``tools/`` and ``examples/`` import from the
package still exists there. Resolved with ``ast`` and ``importlib``; no
Spark session is started."""

import ast
import importlib
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = "streaming_feature_store_spark"
SCRIPTS = sorted([*ROOT.glob("tools/*.py"), *ROOT.glob("examples/*.py")])


def _package_imports(path):
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PACKAGE):
            yield from ((node.module, a.name) for a in node.names)
        elif isinstance(node, ast.Import):
            yield from ((a.name, None) for a in node.names if a.name.startswith(PACKAGE))


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: f"{p.parent.name}/{p.name}")
def test_script_imports_resolve(path):
    missing = []
    for module, name in _package_imports(path):
        mod = importlib.import_module(module)
        if name is None or hasattr(mod, name):
            continue
        try:
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            missing.append(f"{module}.{name}")
    assert not missing
