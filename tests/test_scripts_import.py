"""The measuring scripts import only package names that exist.

Scripts are not imported by any other test, so a helper deleted from the
package would otherwise surface only when someone next runs the script.
Every ``from binance_data_ingestor_spark... import X`` in ``bench.py`` and
``scripts/*.py``, including imports inside functions, must resolve. No
Spark session is started.
"""

from __future__ import annotations

import ast
import glob
import importlib
import os

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SCRIPTS = [os.path.join(_REPO, "bench.py")] + sorted(
    glob.glob(os.path.join(_REPO, "scripts", "*.py"))
)


def _package_imports(path: str) -> list[tuple[str, str]]:
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    return [
        (node.module, alias.name)
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and node.level == 0
        and node.module.split(".")[0] == "binance_data_ingestor_spark"
        for alias in node.names
    ]


@pytest.mark.parametrize("path", _SCRIPTS, ids=os.path.basename)
def test_script_package_imports_resolve(path):
    missing = []
    for module, name in _package_imports(path):
        mod = importlib.import_module(module)
        if not hasattr(mod, name):
            try:
                importlib.import_module(f"{module}.{name}")
            except ModuleNotFoundError:
                missing.append(f"{module}.{name}")
    assert not missing, f"{os.path.basename(path)} imports names that do not exist: {missing}"

