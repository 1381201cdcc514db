"""Static guard against undefined globals: a function in the package
that reads a global its module neither defines, imports nor gets from
builtins raises NameError only when it runs, and the default test run
never builds most registered queries. Built on the stdlib symtable
module (no linter is installed); it reads every module in well under a
second."""

from __future__ import annotations

import builtins
import symtable
import time
from pathlib import Path

import fairy_spark

PKG = Path(fairy_spark.__file__).parent

# Names every module has without defining them.
_MODULE_NAMES = {"__file__", "__name__", "__doc__", "__spec__", "__loader__",
                 "__package__", "__path__", "__builtins__", "__annotations__"}


def _scopes(table: symtable.SymbolTable):
    for child in table.get_children():
        yield child
        yield from _scopes(child)


def undefined_globals(source: str, filename: str) -> list[tuple[str, str, int]]:
    """(name, function, line of the function) for each global read in a
    function scope of ``source`` that the module does not bind. A module
    with a star import is not checked: its names are not known."""
    top = symtable.symtable(source, filename, "exec")
    if any(s.get_name() == "*" for s in top.get_symbols()):
        return []
    functions = [t for t in _scopes(top) if t.get_type() == "function"]
    bound = {s.get_name() for s in top.get_symbols() if s.is_assigned() or s.is_imported()}
    bound |= {
        s.get_name()
        for t in functions
        for s in t.get_symbols()
        if s.is_declared_global() and s.is_assigned()
    }
    known = bound | _MODULE_NAMES | set(dir(builtins))
    return sorted(
        (s.get_name(), t.get_name(), t.get_lineno())
        for t in functions
        for s in t.get_symbols()
        if s.is_global() and s.is_referenced() and s.get_name() not in known
    )


def test_undefined_globals_are_caught():
    src = (
        "import os\n"
        "X = 1\n"
        "def f():\n"
        "    return os.sep, X, len, hamming_pairs([y for y in Y])\n"
        "def g():\n"
        "    global Z\n"
        "    Z = 2\n"
        "def h():\n"
        "    return Z, __name__\n"
    )
    assert undefined_globals(src, "probe.py") == [("Y", "f", 3), ("hamming_pairs", "f", 3)]


def test_no_function_reads_an_undefined_global():
    t0 = time.perf_counter()
    found = {
        path.relative_to(PKG).as_posix(): names
        for path in sorted(PKG.rglob("*.py"))
        if (names := undefined_globals(path.read_text(), str(path)))
    }
    elapsed = time.perf_counter() - t0
    assert not found, found
    assert elapsed < 1.0, elapsed
