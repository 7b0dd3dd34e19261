"""The package's surface is what its callers use: the query contract
(``__spark_entry__.py``), ``bench.py``/``bench_extra.py``/``bench/``,
``scripts/`` and ``perfbench/``, plus the package's own modules.

Every top-level function and class in ``mysql_binlog_spark/`` must be
named somewhere outside its own definition and outside ``tests/``.  A
name that only a test reaches is code nobody runs: delete it with its
test, or list it in ``TEST_ONLY`` with the reason it stays."""

from __future__ import annotations

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "mysql_binlog_spark")
CALLERS = ["__spark_entry__.py", "bench.py", "bench_extra.py", "bench",
           "scripts", "perfbench"]

# Kept although only tests call them.
TEST_ONLY = {
    "apply_changelog": "pandas last-writer oracle the replay tests compare "
                       "the lake against",
    "_simhash48_py": "pure-Python reference the vectorized simhash kernel "
                     "is tested against",
    "to_json_events": "the reference's own JSON event output (K1), kept "
                      "as the documented sink",
}


def _py_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(path) for f in fs if f.endswith(".py")
    )


def _definitions() -> list[tuple[str, str, int, int]]:
    """(name, file, first line, last line) of every top-level def/class
    in the package; the span includes decorators."""
    out = []
    for path in _py_files(PACKAGE):
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                first = min([node.lineno]
                            + [d.lineno for d in node.decorator_list])
                out.append((node.name, path, first, node.end_lineno))
    return out


def _unreferenced() -> set[str]:
    texts = {}
    for p in [PACKAGE] + [os.path.join(ROOT, c) for c in CALLERS]:
        if os.path.exists(p):
            for path in _py_files(p):
                with open(path) as f:
                    texts[path] = f.read().splitlines()
    flagged = set()
    for name, path, first, last in _definitions():
        word = re.compile(rf"\b{re.escape(name)}\b")
        found = False
        for other, lines in texts.items():
            if other == path:
                lines = lines[: first - 1] + lines[last:]
            if any(word.search(ln) for ln in lines):
                found = True
                break
        if not found:
            flagged.add(name)
    return flagged


def test_every_package_definition_has_a_caller_outside_tests():
    flagged = _unreferenced()
    extra = sorted(flagged - set(TEST_ONLY))
    assert not extra, (
        f"only tests reach {extra}: delete them with their tests, or list "
        "them in TEST_ONLY with the reason they stay"
    )
    stale = sorted(set(TEST_ONLY) - flagged)
    assert not stale, f"TEST_ONLY entries now have callers or are gone: {stale}"


def test_chunks_are_selected_by_one_rule():
    """Chunk listings select through ``sources/binlog.CHUNK_GLOB``, not a
    hand-typed prefix test, and the package reads no file kept beside a
    chunk.  ``perfbench/`` is left out: its files change only with the
    benchmark."""
    hand_rolled = re.compile(r"""startswith\(\s*["']binlog\.""")
    offenders = []
    for c in ["mysql_binlog_spark", "bench.py", "bench_extra.py", "bench",
              "scripts"]:
        for path in _py_files(os.path.join(ROOT, c)):
            with open(path) as f:
                text = f.read()
            rel = os.path.relpath(path, ROOT)
            if hand_rolled.search(text):
                offenders.append(f"{rel}: hand-rolled chunk filter")
            if c == "mysql_binlog_spark" and "idx.json" in text:
                offenders.append(f"{rel}: names a chunk sidecar")
    assert not offenders, offenders
