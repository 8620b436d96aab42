"""Every first-party import in the repo resolves.

A script's imports run only when the script does, and many sit inside
``main()`` or a worker function, so a name removed from one module can
leave a dangling import elsewhere that no other test executes. This
test reads each file's imports with ``ast`` (function-local ones
included) and checks that each first-party module imports and has
every name taken from it.
"""

from __future__ import annotations

import ast
import glob
import importlib
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIRST_PARTY = {"zensearch_spark", "jobs", "tests", "bench", "__spark_entry__"}
SOURCES = sorted(
    os.path.relpath(p, REPO)
    for pattern in ("*.py", "jobs/**/*.py", "zensearch_spark/**/*.py",
                    "tests/**/*.py", "perfbench/**/*.py")
    for p in glob.glob(os.path.join(REPO, pattern), recursive=True)
)


def _first_party_imports(path: str) -> list[tuple[int, str, list[str]]]:
    """(line, module, names taken from it) for each first-party import."""
    with open(os.path.join(REPO, path)) as f:
        tree = ast.parse(f.read(), path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out += [(node.lineno, a.name, []) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            out.append((node.lineno, node.module, [a.name for a in node.names]))
    return [i for i in out if i[1].split(".")[0] in FIRST_PARTY]


def test_sources_found():
    assert {"bench.py", "__spark_entry__.py", "jobs/verify_oracle.py",
            "zensearch_spark/session.py", "perfbench/run.py"} <= set(SOURCES)


@pytest.mark.parametrize("path", SOURCES)
def test_first_party_imports_resolve(path):
    missing = []
    for line, module, names in _first_party_imports(path):
        try:
            mod = importlib.import_module(module)
        except ImportError as e:
            missing.append(f"{path}:{line}: {module} ({e})")
            continue
        for name in names:
            if name == "*" or hasattr(mod, name):
                continue
            try:
                importlib.import_module(f"{module}.{name}")
            except ImportError:
                missing.append(f"{path}:{line}: {module} has no {name}")
    assert not missing, "\n".join(missing)
