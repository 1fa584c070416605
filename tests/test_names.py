"""Static name check, no Spark needed: every global name a module reads
is bound in it (assigned, defined or imported at module level, or under
a ``global`` statement) or is a builtin. A helper called but never
defined is otherwise a NameError only when a Spark run reaches its line.
Names a star import brings in are not seen."""

import builtins
import os
import symtable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MODULE_ATTRS = {"__file__", "__builtins__", "__path__"}
KNOWN = set(dir(builtins)) | MODULE_ATTRS


def _sources():
    for tree in ("rust_graph_db_spark", "scripts"):
        for d, _, files in os.walk(os.path.join(ROOT, tree)):
            yield from (os.path.join(d, f) for f in files if f.endswith(".py"))
    yield os.path.join(ROOT, "bench.py")
    yield os.path.join(ROOT, "__spark_entry__.py")


def undefined_globals(src: str, name: str = "<src>") -> set:
    """Global names ``src`` reads that nothing binds."""
    top = symtable.symtable(src, name, "exec")
    bound = {s.get_name() for s in top.get_symbols()
             if s.is_assigned() or s.is_imported()}
    read, todo = set(), [top]
    while todo:
        t = todo.pop()
        todo.extend(t.get_children())
        for s in t.get_symbols():
            if s.is_declared_global() and s.is_assigned():
                bound.add(s.get_name())
            if s.is_referenced() and s.is_global():
                read.add(s.get_name())
    return read - bound - KNOWN


def test_check_flags_an_undefined_helper():
    src = ("import os\n"
           "def f(s):\n"
           "    return _char_hist_packed(os.sep + s)\n")
    assert undefined_globals(src) == {"_char_hist_packed"}


def test_every_global_read_is_bound():
    found = {}
    for path in _sources():
        with open(path) as fh:
            names = undefined_globals(fh.read(), path)
        if names:
            found[os.path.relpath(path, ROOT)] = sorted(names)
    assert found == {}
