"""The package reads the environment in one place: ``session.py`` reads
the two deployment settings, ``SPARK_GRAFT_CPUS`` and
``SPARK_GRAFT_DRIVER_MEM``. Every other choice is a constant or is
derived from what the code observes, so no environment variable can
change a plan behind the caller's back."""

from __future__ import annotations

import ast
import pathlib

import big_data_streaming_spark


def _env_reads(tree: ast.AST):
    """(variable name or None) for each ``os.environ`` / ``os.getenv``
    use; the name is known for ``.get("X")``, ``getenv("X")`` and
    ``environ["X"]`` with a constant key."""
    parents = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "os":
            for alias in node.names:
                if alias.name in ("environ", "getenv"):
                    yield None
        if not (
            isinstance(node, ast.Attribute)
            and node.attr in ("environ", "getenv")
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        ):
            continue
        up = parents.get(node)
        call = None
        if node.attr == "getenv" and isinstance(up, ast.Call) and up.func is node:
            call = up
        elif isinstance(up, ast.Attribute) and up.attr == "get":
            grand = parents.get(up)
            if isinstance(grand, ast.Call) and grand.func is up:
                call = grand
        elif isinstance(up, ast.Subscript) and isinstance(up.slice, ast.Constant):
            yield up.slice.value
            continue
        if call and call.args and isinstance(call.args[0], ast.Constant):
            yield call.args[0].value
        else:
            yield None


def test_only_session_reads_the_environment():
    root = pathlib.Path(big_data_streaming_spark.__file__).parent
    sites = {
        (path.relative_to(root).as_posix(), name)
        for path in sorted(root.rglob("*.py"))
        for name in _env_reads(ast.parse(path.read_text()))
    }
    assert sites == {
        ("session.py", "SPARK_GRAFT_CPUS"),
        ("session.py", "SPARK_GRAFT_DRIVER_MEM"),
    }


def test_env_reads_finds_every_form():
    src = (
        "import os\nfrom os import getenv\n"
        "os.environ.get('A')\nos.getenv('B')\nos.environ['C']\n"
        "os.environ.setdefault('D', '1')\nx = os.environ\n"
    )
    assert sorted(map(str, _env_reads(ast.parse(src)))) == [
        "A", "B", "C", "None", "None", "None",
    ]
