"""The measuring scripts call the package only through names and
parameters that exist.

Scripts are not imported by any other test, so a helper deleted from the
package, or a parameter removed from one, would otherwise surface only
when someone next runs the script. For ``bench.py``, ``scripts/*.py``
and ``perfbench/*.py``, every ``from binance_data_ingestor_spark...
import X``, including imports inside functions, must resolve, and every
call to such a name (or to a function of such a module) must bind to
its signature: each keyword argument names a parameter, and there are
no more positional arguments than it takes. No Spark session is started.
"""

from __future__ import annotations

import ast
import glob
import importlib
import inspect
import os

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SCRIPTS = (
    [os.path.join(_REPO, "bench.py")]
    + sorted(glob.glob(os.path.join(_REPO, "scripts", "*.py")))
    + sorted(glob.glob(os.path.join(_REPO, "perfbench", "*.py")))
)


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), filename=path)


def _package_imports(tree: ast.Module) -> dict[str, tuple[str, str]]:
    """Local name → (module, imported name) for every package import."""
    return {
        alias.asname or alias.name: (node.module, alias.name)
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and node.level == 0
        and node.module.split(".")[0] == "binance_data_ingestor_spark"
        for alias in node.names
    }


def _resolve(module: str, name: str):
    """The imported object, or None when the name does not exist."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    try:
        return importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return None


@pytest.mark.parametrize("path", _SCRIPTS, ids=os.path.basename)
def test_script_package_imports_resolve(path):
    missing = [
        f"{module}.{name}"
        for module, name in _package_imports(_parse(path)).values()
        if _resolve(module, name) is None
    ]
    assert not missing, f"{os.path.basename(path)} imports names that do not exist: {missing}"


@pytest.mark.parametrize("path", _SCRIPTS, ids=os.path.basename)
def test_script_package_calls_bind(path):
    tree = _parse(path)
    imported = {
        local: _resolve(module, name)
        for local, (module, name) in _package_imports(tree).items()
    }
    bad = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Name) and f.id in imported:
            target, label = imported[f.id], f.id
        elif (
            isinstance(f, ast.Attribute)
            and isinstance(f.value, ast.Name)
            and inspect.ismodule(imported.get(f.value.id))
        ):
            target = getattr(imported[f.value.id], f.attr, None)
            label = f"{f.value.id}.{f.attr}"
        else:
            continue
        if not callable(target):
            continue
        # a starred argument's length is unknown: check keywords only
        n_pos = 0 if any(isinstance(a, ast.Starred) for a in node.args) else len(node.args)
        keywords = {k.arg: None for k in node.keywords if k.arg is not None}
        try:
            inspect.signature(target).bind_partial(*[None] * n_pos, **keywords)
        except TypeError as e:
            bad.append(f"line {node.lineno}: {label}(…): {e}")
    assert not bad, f"{os.path.basename(path)} calls the package with arguments it does not take: {bad}"
