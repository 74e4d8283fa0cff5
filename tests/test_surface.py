"""The library's public surface is what its callers use.

For every public top-level function of the package outside
``workload/``:

* something other than its own ``def`` references it, searching the
  package, ``bench.py``, ``__spark_entry__.py``, ``scripts/``,
  ``perfbench/`` and ``tests/``;
* every defaulted parameter is set by at least one call — by keyword,
  by position, or through ``*``/``**`` forwarding. A test call counts:
  it pins that behaviour.

An option nothing sets is a configuration nothing runs, so it is a
constant instead. Calls and references are matched by the bare function
name (``mod.f`` and ``from mod import f as g`` both resolve to ``f``),
so a name shared with some other callable can only make this check more
lenient, never fail it.
"""

from __future__ import annotations

import ast
import pathlib
from dataclasses import dataclass, field

import big_data_streaming_spark

PKG = pathlib.Path(big_data_streaming_spark.__file__).parent
REPO = PKG.parent

# kafka_stream is the production source: its settings belong to the
# deployment, and it cannot run here without the spark-sql-kafka jar, so
# no call in this repository sets them.
EXEMPT = {
    "kafka_stream": {
        "starting_offsets",
        "fail_on_data_loss",
        "max_offsets_per_trigger",
        "keep_envelope",
    }
}


@dataclass
class Uses:
    """Everything the callers do with one bare name."""

    refs: int = 0
    max_positional: int = 0
    keywords: set[str] = field(default_factory=set)
    star: bool = False  # some call forwards *args
    double_star: bool = False  # some call forwards **kwargs


def library_files() -> list[pathlib.Path]:
    return [
        p
        for p in sorted(PKG.rglob("*.py"))
        if p.relative_to(PKG).parts[0] != "workload"
    ]


def caller_files() -> list[pathlib.Path]:
    files = sorted(PKG.rglob("*.py"))
    files += [REPO / "bench.py", REPO / "__spark_entry__.py"]
    for d in ("scripts", "perfbench", "tests"):
        files += sorted((REPO / d).rglob("*.py"))
    return files


def public_functions(tree: ast.Module):
    """(def node, positional names, defaulted names) per public
    top-level function."""
    for node in tree.body:
        if not isinstance(node, ast.FunctionDef) or node.name.startswith("_"):
            continue
        a = node.args
        positional = [x.arg for x in a.posonlyargs + a.args]
        defaulted = positional[len(positional) - len(a.defaults):]
        defaulted += [
            k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
        ]
        yield node, positional, defaulted


def collect_uses(tree: ast.AST, uses: dict[str, Uses]) -> None:
    """Fold one module's references and calls into ``uses``. A public
    function's references inside its own ``def`` are not counted."""
    aliases = {
        a.asname: a.name
        for n in ast.walk(tree)
        if isinstance(n, ast.ImportFrom)
        for a in n.names
        if a.asname
    }

    def names(node: ast.AST) -> set[str]:
        if isinstance(node, ast.Name):
            return {node.id, aliases.get(node.id, node.id)}
        if isinstance(node, ast.Attribute):
            return {node.attr}
        return set()

    own: dict[int, str] = {}
    if isinstance(tree, ast.Module):
        for fn, _, _ in public_functions(tree):
            for n in ast.walk(fn):
                own[id(n)] = fn.name

    for node in ast.walk(tree):
        for name in names(node) - {own.get(id(node))}:
            uses.setdefault(name, Uses()).refs += 1
        if not isinstance(node, ast.Call):
            continue
        for name in names(node.func):
            u = uses.setdefault(name, Uses())
            u.max_positional = max(
                u.max_positional,
                sum(not isinstance(x, ast.Starred) for x in node.args),
            )
            u.star |= any(isinstance(x, ast.Starred) for x in node.args)
            u.keywords |= {k.arg for k in node.keywords if k.arg}
            u.double_star |= any(k.arg is None for k in node.keywords)


def unset_defaults(positional, defaulted, u: Uses) -> list[str]:
    return [
        p
        for p in defaulted
        if not (
            p in u.keywords
            or u.double_star
            or (p in positional and (u.star or positional.index(p) < u.max_positional))
        )
    ]


def surface():
    """(public functions, callers' uses) over the repository."""
    uses: dict[str, Uses] = {}
    for path in caller_files():
        collect_uses(ast.parse(path.read_text()), uses)
    functions = [
        (path.relative_to(PKG).as_posix(), *f)
        for path in library_files()
        for f in public_functions(ast.parse(path.read_text()))
    ]
    return functions, uses


def test_every_public_function_is_referenced():
    functions, uses = surface()
    dead = [
        f"{where}:{node.name}"
        for where, node, _, _ in functions
        if uses.get(node.name, Uses()).refs == 0
    ]
    assert not dead, f"public functions nothing references: {dead}"


def test_every_defaulted_parameter_is_set_by_a_call():
    functions, uses = surface()
    unset = [
        f"{where}:{node.name}({p})"
        for where, node, positional, defaulted in functions
        for p in unset_defaults(positional, defaulted, uses.get(node.name, Uses()))
        if p not in EXEMPT.get(node.name, ())
    ]
    assert not unset, (
        "defaulted parameters no call sets (make each the constant it "
        f"defaults to): {unset}"
    )


def test_collect_uses_counts_every_form():
    src = (
        "from lib import f as g\n"
        "def f(a, b=1, *, c=2):\n    return f(a)\n"
        "def h(a, b=1, c=2, *, d=3, e=4):\n    pass\n"
        "g(1, 2)\nm.h(1, *rest)\nh(1, **kw)\nk(1, c=3)\n"
    )
    tree = ast.parse(src)
    uses: dict[str, Uses] = {}
    collect_uses(tree, uses)
    defs = {n.name: (pos, d) for n, pos, d in public_functions(tree)}
    # f: set by position through the alias; its own recursive call is
    # not a reference, and ``c`` is set by no call of ``f``.
    assert uses["f"].refs == 1
    assert unset_defaults(*defs["f"], uses["f"]) == ["c"]
    # h: *args covers b and c, **kw covers d and e.
    assert unset_defaults(*defs["h"], uses["h"]) == []
    assert unset_defaults(["a", "b"], ["b"], Uses(max_positional=1)) == ["b"]
