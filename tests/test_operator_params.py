"""Every defaulted parameter of an operator is passed by some call.

The census: each defaulted parameter of a top-level ``def`` in
``kafka_streams_common_spark/operators/*.py`` must be set, by keyword or by
position, by at least one call in the package, ``tests/``, ``scripts/``,
``perfbench/``, ``examples/``, ``bench.py`` or ``__spark_entry__.py``. A
parameter that no call sets is a knob with one value in use; it belongs
inline at its one value. A call through ``functools.partial`` counts, and a
``*args`` / ``**kwargs`` call counts as setting every parameter it could
reach. No Spark session.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OPERATORS = ROOT / "kafka_streams_common_spark" / "operators"
CALLER_TREES = ("kafka_streams_common_spark", "tests", "scripts", "perfbench", "examples")
CALLER_FILES = ("bench.py", "__spark_entry__.py")


def _caller_sources():
    for tree in CALLER_TREES:
        yield from sorted((ROOT / tree).rglob("*.py"))
    for name in CALLER_FILES:
        yield ROOT / name


def _defaulted(fn: ast.FunctionDef):
    """(index or None, name, line) of each defaulted parameter; the index is
    the positional slot, None for keyword-only parameters."""
    a = fn.args
    positional = a.posonlyargs + a.args
    for i, arg in enumerate(positional[len(positional) - len(a.defaults):],
                            start=len(positional) - len(a.defaults)):
        yield i, arg.arg, arg.lineno
    for arg, default in zip(a.kwonlyargs, a.kw_defaults):
        if default is not None:
            yield None, arg.arg, arg.lineno


def _callee_name(func: ast.expr) -> str | None:
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _passed(sources) -> dict[str, tuple[set[str], int, bool]]:
    """Function name -> (keywords set, most positional args, any ``**``)."""
    seen: dict[str, tuple[set[str], int, bool]] = {}

    def note(name, args, keywords):
        kws, npos, star = seen.get(name, (set(), 0, False))
        if any(isinstance(x, ast.Starred) for x in args):
            npos = 10**6
        npos = max(npos, len(args))
        for kw in keywords:
            if kw.arg is None:
                star = True
            else:
                kws.add(kw.arg)
        seen[name] = (kws, npos, star)

    for path in sources:
        tree = ast.parse(path.read_text(), filename=str(path))
        aliases = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                for a in node.names:
                    if a.asname:
                        aliases[a.asname] = a.name
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            name = _callee_name(node.func)
            if name == "partial" and node.args:
                inner = _callee_name(node.args[0])
                if inner:
                    note(aliases.get(inner, inner), node.args[1:], node.keywords)
            elif name:
                note(aliases.get(name, name), node.args, node.keywords)
    return seen


def never_passed() -> list[str]:
    seen = _passed(_caller_sources())
    out = []
    for path in sorted(OPERATORS.glob("*.py")):
        for fn in ast.parse(path.read_text()).body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            kws, npos, star = seen.get(fn.name, (set(), 0, False))
            for index, name, line in _defaulted(fn):
                by_position = index is not None and index < npos
                if not (star or name in kws or by_position):
                    out.append(f"{path.name}:{line} {fn.name} {name}")
    return out


def test_every_operator_parameter_is_passed_by_some_call():
    missing = never_passed()
    assert not missing, (
        f"{len(missing)} operator parameter(s) that no call sets; inline "
        "each at its one value:\n" + "\n".join(missing))


def test_census_sees_a_parameter_that_no_call_sets(tmp_path):
    # The census finds an unused default and is satisfied by a keyword, a
    # position or a partial.
    src = tmp_path / "m.py"
    src.write_text("def f(a, b=1, c=2, *, d=3):\n    pass\n"
                   "f(0, 1)\nf(0, d=4)\n")
    seen = _passed([src])
    fn = ast.parse(src.read_text()).body[0]
    kws, npos, star = seen["f"]
    unset = [n for i, n, _ in _defaulted(fn)
             if not (star or n in kws or (i is not None and i < npos))]
    assert unset == ["c"]
