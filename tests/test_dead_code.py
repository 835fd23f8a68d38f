"""Dead-code guard: every top-level function and module-level constant in
``timberline_spark/`` must be reachable from a product entry point, or be
allowlisted with a reason.

A constant is a module-level assignment to plain names (``X = ...``,
``A, B = ...``; dunder names aside). Reachability is by name over the AST,
so it over-approximates (two definitions sharing a name are both reached
when either name is used):

- roots are the package's other module-level code (the ``__main__``
  blocks, imports, class bodies, decorators and argument defaults) plus
  every line of ``bench.py``, ``run_pipeline.py``, ``__spark_entry__.py``,
  ``scripts/`` and ``perfbench/``;
- a reached function or constant reaches every name it mentions: ``Name``
  ids, attribute names and identifier-shaped string constants (a
  constant through its assigned value, e.g. a query registry through the
  functions it lists);
- ``getattr(obj, f"prefix{...}")`` reaches every function whose name
  starts with the literal prefix (``__spark_entry__.oracle_sql`` looks up
  ``sqlgen.q_<query>`` that way).

Tests are not roots: a function or constant only a test uses is dead code
unless the allowlist says why the test needs it.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "timberline_spark"

STREAMING = "streaming product surface: the continuous-ingest mode (COVERAGE.md S1)"
TEST_REF = "test reference: tests compare the shipped code against it"

# "<path relative to the repo>:<function or constant>" -> why it stays
# without a caller
ALLOWED = {
    "timberline_spark/streaming.py:_window_bounds": STREAMING,
    "timberline_spark/streaming.py:_classified_stream": STREAMING,
    "timberline_spark/streaming.py:stream_level_counts": STREAMING,
    "timberline_spark/streaming.py:run_available_now": STREAMING,
    "timberline_spark/streaming.py:run_append_windows": STREAMING,
    "timberline_spark/streaming.py:start_processing_time": STREAMING,
    "timberline_spark/streaming.py:_dedup_examples_fn": STREAMING,
    "timberline_spark/streaming.py:stream_dedup_examples": STREAMING,
    "timberline_spark/streaming.py:run_dedup_examples_available_now": STREAMING,
    "timberline_spark/streaming.py:_DEDUP_STATE_SCHEMA": STREAMING,
    "timberline_spark/streaming.py:_DEDUP_OUT_SCHEMA": STREAMING,
    "timberline_spark/streaming.py:batch_level_counts": TEST_REF,
    "timberline_spark/extras/xhash.py:py_mix32": TEST_REF,
    "timberline_spark/extras/xhash.py:py_shingle_hashes": TEST_REF,
}


def _mentions(node: ast.AST) -> tuple[set[str], set[str]]:
    """(names, getattr f-string prefixes) mentioned anywhere under node."""
    names, prefixes = set(), set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            names.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                names.add(n.value)
        elif (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Name)
            and n.func.id == "getattr"
            and len(n.args) >= 2
            and isinstance(n.args[1], ast.JoinedStr)
            and isinstance(n.args[1].values[0], ast.Constant)
        ):
            prefixes.add(n.args[1].values[0].value)
    return names, prefixes


def _constant_names(stmt: ast.stmt) -> list[str]:
    """The names a module-level constant assignment binds, else []."""
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
        targets = [stmt.target]
    else:
        return []
    names = []
    for t in targets:
        elts = t.elts if isinstance(t, ast.Tuple) else [t]
        if not all(isinstance(e, ast.Name) for e in elts):
            return []
        names += [e.id for e in elts]
    return [n for n in names if not n.startswith("__")]


def _unreachable() -> dict[str, ast.stmt]:
    defs: dict[str, ast.stmt] = {}
    roots: list[ast.AST] = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs[f"{rel}:{stmt.name}"] = stmt
                a = stmt.args
                roots += [*stmt.decorator_list, *a.defaults, *filter(None, a.kw_defaults)]
            elif bound := _constant_names(stmt):
                defs.update((f"{rel}:{n}", stmt) for n in bound)
            else:
                roots.append(stmt)
    entry = [ROOT / "bench.py", ROOT / "run_pipeline.py", ROOT / "__spark_entry__.py"]
    entry += sorted((ROOT / "scripts").glob("*.py"))
    entry += sorted((ROOT / "perfbench").glob("*.py"))
    roots += [ast.parse(p.read_text()) for p in entry]

    names, prefixes = set(), set()
    for node in roots:
        n, p = _mentions(node)
        names |= n
        prefixes |= p
    reached: set[str] = set()
    while True:
        new = [
            key
            for key in defs
            if key not in reached
            and (_name(key) in names or any(_name(key).startswith(p) for p in prefixes))
        ]
        if not new:
            return {k: v for k, v in defs.items() if k not in reached}
        for key in new:
            reached.add(key)
            n, p = _mentions(defs[key])
            names |= n
            prefixes |= p


def _name(key: str) -> str:
    return key.rsplit(":", 1)[1]


def test_every_package_function_is_reachable_or_allowlisted():
    dead = _unreachable()
    unexplained = sorted(
        f"{k} (line {node.lineno})" for k, node in dead.items() if k not in ALLOWED
    )
    assert not unexplained, (
        "unreachable top-level functions or constants; delete them, or "
        f"allowlist each with its reason: {unexplained}"
    )
    stale = sorted(k for k in ALLOWED if k not in dead)
    assert not stale, f"allowlisted but now reachable or gone: {stale}"
    here = Path(__file__)
    tests = " ".join(p.read_text() for p in here.parent.glob("test_*.py") if p != here)
    unused = sorted(
        k for k, why in ALLOWED.items()
        if why == TEST_REF and not re.search(rf"\b{_name(k)}\b", tests)
    )
    assert not unused, f"allowlisted as a test reference, but no test uses: {unused}"
