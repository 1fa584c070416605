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
"""

from __future__ import annotations

import hashlib
import math
import os
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


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "entry", os.path.join(ROOT, "__spark_entry__.py"))
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

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
