"""Local simulation of the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 through Spark AND its
``oracle_sql()`` through DuckDB, then compares row count, schema width,
and an order-insensitive value hash (columns sorted by name, rows sorted,
floats rendered by repr). Mirrors what CORRECTNESS_r{N}.json records.

CANONICALIZATION CONTRACT (r5 lesson — twice local green failed to
predict driver red): the driver compares **pandas DataFrames** — Spark
via ``toPandas()``, DuckDB via ``.df()`` — so every dtype coercion
pandas performs (DuckDB HUGEINT -> float64, nullable int -> float64,
Decimal -> object, …) is part of the comparison surface. The former
``fetchall()`` path kept DuckDB HUGEINTs as Python ints and so rendered
``0`` where the driver saw ``0.0`` (the c6 two-round red). This gate
now pulls BOTH sides through pandas before hashing, and REJECTS any
query whose Spark output schema contains an array/map/struct column
(the driver's canonicalizer crashes on unhashable cells — the e12 red).

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
       python scripts/check_oracle.py [sf_dir] --since <rev>

``--since <rev>`` runs exactly the registry keys whose query function
reaches a ``rust_graph_db_spark`` module changed since ``<rev>`` (see
:func:`keys_reaching`).
"""

from __future__ import annotations

import ast
import hashlib
import math
import os
import subprocess
import sys

import duckdb
import numpy as np
import pandas as pd

# measure the tree this script sits in, never an installed or other copy
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Oracles valid only below a vertex/scale bound, by design: g18's
# default flips to the Brandes-Pich SAMPLED estimator above 4096
# vertices (graph_algos size gate), while its oracle is the exact
# closed form — matching is the contract at the driver's sf0.01, not
# beyond. x7's integer-exact revenue stays order-independent only
# while the per-nation sum of ~1e9-sized integer products fits in
# 2^53 (~9e6 lineitems/nation ≈ SF 35; bounded at 10 with margin).
# Maps query -> max sf_dir suffix the oracle is exact at.
SF_BOUNDED = {"g18_betweenness": 0.01, "x7_revenue_by_nation": 10}


def _norm(v):
    """Render one pandas cell the way the value hash consumes it.

    Everything arriving here has already been through pandas, so numpy
    scalars are unwrapped first; a list/ndarray cell is a contract
    violation upstream (complex_cols) and only renders here for the
    sample-diff printout.
    """
    if isinstance(v, np.generic):
        v = v.item()
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # repr = shortest round-trip representation: bit-level strict,
        # at least as strict as the driver's canonicalizer. r3 (list
        # cells) and r4 (c6 midpoint at the 7th significant digit) both
        # slipped past the former "%.6g" while the driver caught them —
        # local green must PREDICT driver green, so over-strict beats
        # over-permissive.
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    # pandas NaT / pd.NA (scalar-missing sentinels outside float cols)
    if v is pd.NaT or v is pd.NA:
        return "NULL"
    return str(v)


def complex_cols(pdf):
    """Columns holding unhashable cells (list/ndarray/dict/set) — the
    shapes that crash the driver's pandas canonicalizer."""
    bad = []
    for c in pdf.columns:
        col = pdf[c]
        if col.dtype == object:
            # scan EVERY cell: a column whose first rows are NULL
            # (e.g. outer-join output) must not slip past the gate
            for v in col:
                if isinstance(v, (list, np.ndarray, dict, set)):
                    bad.append(c)
                    break
    return bad


def value_hash(pdf):
    """Order-insensitive hash of a pandas frame: columns sorted by
    name, each row rendered via _norm, rows sorted lexicographically."""
    cols = sorted(pdf.columns)
    body = pdf[cols]
    lines = sorted("|".join(_norm(v) for v in row)
                   for row in body.itertuples(index=False, name=None))
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


PKG = "rust_graph_db_spark"


def _package_modules() -> dict:
    """Dotted module name -> source path, for every module of PKG."""
    mods = {}
    for d, _, files in os.walk(os.path.join(ROOT, PKG)):
        for f in files:
            if f.endswith(".py"):
                rel = os.path.relpath(os.path.join(d, f), ROOT)[:-3]
                parts = rel.split(os.sep)
                if parts[-1] == "__init__":
                    parts.pop()
                mods[".".join(parts)] = os.path.join(d, f)
    return mods


def _imports(tree: ast.AST, here: str, mods: dict) -> set:
    """PKG modules imported anywhere in ``tree`` (function-level imports
    included); ``here`` is the importing module, for relative imports.
    ``from pkg import name`` reaches ``pkg.name`` when that is a module,
    else ``pkg`` itself."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names if a.name in mods)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = here.split(".")
                if not mods.get(here, "").endswith("__init__.py"):
                    pkg = pkg[:-1]
                pkg = pkg[:len(pkg) - node.level + 1]
                base = ".".join(pkg + ([base] if base else []))
            for a in node.names:
                sub = f"{base}.{a.name}"
                if sub in mods:
                    out.add(sub)
                elif base in mods:
                    out.add(base)
    return out


def keys_reaching(changed: set) -> dict:
    """Registry key -> the changed PKG modules its query function
    reaches, for every key that reaches one.

    Reach follows explicit import statements (module- and function-
    level) from the key's top-level function in ``__spark_entry__.py``,
    through the entry helpers it calls, then module to module inside
    PKG. The implicit import of a parent package's ``__init__`` is not
    followed: the root ``__init__`` reaches most of the package, so that
    edge would map every key to every change.
    """
    import __spark_entry__

    mods = _package_modules()
    graph = {}
    for name, path in mods.items():
        with open(path) as fh:
            graph[name] = _imports(ast.parse(fh.read()), name, mods)
    with open(os.path.join(ROOT, "__spark_entry__.py")) as fh:
        etree = ast.parse(fh.read())
    funcs = {n.name: n for n in etree.body if isinstance(n, ast.FunctionDef)}

    def reach(start: set, edges) -> set:
        seen, todo = set(), list(start)
        while todo:
            x = todo.pop()
            if x not in seen:
                seen.add(x)
                todo.extend(edges(x))
        return seen

    def entry_edges(fname):
        return {n.id for n in ast.walk(funcs[fname])
                if isinstance(n, ast.Name) and n.id in funcs}

    out = {}
    for key, fn in __spark_entry__.queries().items():
        top = getattr(fn, "__qualname__", "").split(".")[0]
        if top not in funcs:
            out[key] = sorted(changed)       # unknown shape: run it
            continue
        direct = set()
        for f in reach({top}, entry_edges):
            direct |= _imports(funcs[f], "", mods)
        hit = reach(direct, lambda m: graph.get(m, ())) & changed
        if hit:
            out[key] = sorted(hit)
    return out


def changed_modules(rev: str) -> set:
    """PKG modules changed (tracked or new) since ``rev``."""
    def git(*args):
        return subprocess.run(("git", "-C", ROOT) + args, check=True,
                              capture_output=True, text=True).stdout.split()
    paths = (git("diff", "--name-only", rev, "--", PKG)
             + git("ls-files", "--others", "--exclude-standard", PKG))
    mods = {os.path.normpath(p): m for m, p in
            ((m, os.path.relpath(p, ROOT))
             for m, p in _package_modules().items())}
    return {mods[p] for p in map(os.path.normpath, paths) if p in mods}


def main() -> None:
    args = sys.argv[1:]
    since = None
    if "--since" in args:
        i = args.index("--since")
        since = args[i + 1]
        del args[i:i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    if since is not None:
        changed = changed_modules(since)
        mapped = keys_reaching(changed)
        print(f"changed since {since}: {sorted(changed) or 'nothing'}")
        for k in sorted(mapped):
            print(f"  {k}: {', '.join(mapped[k])}")
        if not mapped:
            print("no registry key reaches a changed module")
            return
        only = set(mapped)

    import __spark_entry__ as entry
    from pyspark.sql import types as T

    from rust_graph_db_spark import get_spark
    spark = get_spark("check-oracle")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    import re as _re

    # Strict parse: the LAST path component must be exactly sf<number>
    # (e.g. /root/testdata/sf0.1). Anything else -> None + a visible
    # warning, so SF_BOUNDED never silently mis-fires on exotic paths.
    m = _re.fullmatch(r"sf(\d+(?:\.\d+)?)",
                      os.path.basename(sf_dir.rstrip("/")))
    sf_val = float(m.group(1)) if m else None
    if sf_val is None and SF_BOUNDED:
        print(f"WARNING: cannot parse scale factor from {sf_dir!r}; "
              f"SF_BOUNDED skips disabled — {sorted(SF_BOUNDED)} may "
              "report spurious mismatches above their bounds")
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if (name in SF_BOUNDED and sf_val is not None
                and sf_val > SF_BOUNDED[name]):
            print(f"skip {name}: oracle exact only at sf <= "
                  f"{SF_BOUNDED[name]} (see SF_BOUNDED)")
            continue
        try:
            df = fn(spark, sf_dir)
            # Pre-flight: the driver contract is scalar columns ONLY.
            # Catch it from the declared schema, before any pandas
            # conversion, so even an empty result can't sneak through.
            complex_fields = [
                f.name for f in df.schema.fields
                if isinstance(f.dataType,
                              (T.ArrayType, T.MapType, T.StructType))]
            if complex_fields:
                failures.append(name)
                print(f"FAIL {name}: non-scalar output column(s) "
                      f"{complex_fields} — the driver's pandas "
                      "canonicalizer crashes on array/map/struct cells "
                      "(r5 e12). Flatten to scalar columns.")
                continue
            pdf = df.toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {exc}")
            continue
        if name not in oracles:
            print(f"ok(rows-only) {name}: {len(pdf)} rows")
            continue
        try:
            opdf = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {exc}")
            continue
        problems = []
        obad = complex_cols(opdf)
        if obad:
            problems.append(f"oracle non-scalar column(s) {obad}")
        if len(pdf) != len(opdf):
            problems.append(f"rowcount {len(pdf)} vs {len(opdf)}")
        if sorted(pdf.columns) != sorted(opdf.columns):
            problems.append(
                f"cols {sorted(pdf.columns)} vs {sorted(opdf.columns)}")
        elif not problems:
            hs, ho = value_hash(pdf), value_hash(opdf)
            if hs != ho:
                problems.append(f"hash {hs} vs {ho}")
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)}")
            # sample diff: first rows present on only one side (each
            # side rendered in ITS OWN name-sorted column order)
            def _lines(frame):
                cs = sorted(frame.columns)
                return {"|".join(_norm(v) for v in row)
                        for row in frame[cs].itertuples(index=False,
                                                        name=None)}
            ss, oo = _lines(pdf), _lines(opdf)
            for side, only_rows in (("spark", ss - oo),
                                    ("oracle", oo - ss)):
                for ln in sorted(only_rows)[:3]:
                    print(f"  only-{side}: {ln}")
        else:
            print(f"ok {name}: {len(pdf)} rows")
    print(f"\n{len(failures)} failures" + (": " + ", ".join(failures)
                                           if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
