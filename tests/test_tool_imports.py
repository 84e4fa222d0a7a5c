"""bench.py and tools/*.py import only names that exist.

The scripts import most engine names lazily, inside functions, so a
pinned child process can set its environment first. A name deleted from
the engine or from bench.py would then only fail when someone runs the
tool. This test parses each script with ast and resolves every
`from bench import X` and `from modelardb_dynamic_spark... import X`,
wherever in the file it appears."""

from __future__ import annotations

import ast
import glob
import importlib
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = [os.path.join(REPO, "bench.py")] + sorted(
    glob.glob(os.path.join(REPO, "tools", "*.py"))
)


def _project_imports(path: str) -> list[tuple[str, str | None]]:
    """(module, name) per imported name; name None for `import module`."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    out: list[tuple[str, str | None]] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module == "bench" or node.module.split(".")[0] == (
                "modelardb_dynamic_spark"
            ):
                out += [(node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [
                (a.name, None) for a in node.names
                if a.name.split(".")[0] == "modelardb_dynamic_spark"
            ]
    return out


@pytest.mark.parametrize(
    "script", SCRIPTS, ids=[os.path.relpath(s, REPO) for s in SCRIPTS]
)
def test_script_imports_resolve(script, monkeypatch):
    monkeypatch.syspath_prepend(REPO)
    missing = []
    for module, name in _project_imports(script):
        try:
            mod = importlib.import_module(module)
        except ModuleNotFoundError:
            missing.append(module)
            continue
        if name is None or hasattr(mod, name):
            continue
        try:  # `from package import submodule`
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            missing.append(f"{module}.{name}")
    assert not missing, f"{os.path.relpath(script, REPO)} imports {missing}"


def test_scripts_found():
    assert os.path.join(REPO, "bench.py") in SCRIPTS
    assert any(s.endswith("scaling_bench.py") for s in SCRIPTS)
