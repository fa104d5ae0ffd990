"""Every top-level function and class in the engine is reachable from
something that runs outside the test suite.

Pure ``ast``, no Spark. The roots are the ``@register``-ed query builders
and all module-level code of the non-test ``.py`` files of the checkout
(the engine, ``scripts/``, ``perfbench/``, ``bench.py`` and
``__spark_entry__.py``). A top-level ``def``/``class`` of
``etl_backend_spark/`` is reached when reached code names it: a ``Name``,
an ``Attribute``, an import alias or an exact string constant. Its own
body then counts as reached code, and the scan repeats to a fixpoint, so
a helper that only dead code calls is dead too. Names in comments and
docstrings do not count, and a test does not keep code alive.
"""

from __future__ import annotations

import ast
import functools
import os
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
ENGINE = "etl_backend_spark"

# Code that only tests reach but that stays, each with the live code it
# checks. At most 5 entries.
ALLOWED = {
    "parse_webp_header": (
        "tests/test_media_auth.py reads the live encoder's "
        "(encode_webp_lossless) output with it, and checks that the live "
        "decoder's VP8X unwrap sees the same image size"
    ),
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _source_files():
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = sorted(x for x in dirs if not x.startswith(".")
                         and x not in ("tests", "__pycache__"))
        for f in sorted(files):
            if f.endswith(".py"):
                yield pathlib.Path(d, f)


def _names(node) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
            if n.asname:
                out.add(n.asname)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.add(n.value)
    return out


def _registered(node) -> bool:
    for dec in node.decorator_list:
        f = dec.func if isinstance(dec, ast.Call) else dec
        if getattr(f, "id", None) == "register" or \
                getattr(f, "attr", None) == "register":
            return True
    return False


@functools.cache
def unreached() -> dict[str, str]:
    """``{name: "path:line"}`` of every engine top-level def/class that no
    root reaches."""
    candidates = {}  # (path, name) -> node
    seen: set[str] = set()
    for path in _source_files():
        rel = path.relative_to(ROOT).as_posix()
        tree = ast.parse(path.read_text(), filename=rel)
        in_engine = rel.startswith(ENGINE + "/")
        for stmt in tree.body:
            if in_engine and isinstance(stmt, _DEFS) and not _registered(stmt):
                candidates[(rel, stmt.name)] = stmt
            else:
                seen |= _names(stmt)
    reached: set[tuple[str, str]] = set()
    grew = True
    while grew:
        grew = False
        for key, node in candidates.items():
            if key not in reached and key[1] in seen:
                reached.add(key)
                seen |= _names(node)
                grew = True
    return {
        name: f"{rel}:{node.lineno}"
        for (rel, name), node in sorted(candidates.items())
        if (rel, name) not in reached
    }


def test_engine_code_is_reachable():
    dead = {n: where for n, where in unreached().items() if n not in ALLOWED}
    assert not dead, (
        "engine code that no query, route, workload or script reaches "
        f"(delete it, or allow-list it with a reason): {dead}"
    )


def test_allow_list_is_short_and_current():
    assert len(ALLOWED) <= 5
    assert all(reason.strip() for reason in ALLOWED.values())
    # an entry whose code is gone or became reachable must go
    assert set(ALLOWED) <= set(unreached()), set(ALLOWED) - set(unreached())
