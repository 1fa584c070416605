"""The local oracle harness must be at least as strict as the driver.

Three rounds running the driver caught a difference the local gate
masked: r3 list cells, r4 c6 rounding midpoints (fixed by repr-strict
``_norm``), and r5's pair of dtype/shape divergences (DuckDB HUGEINT →
pandas float64 rendering ``0.0`` vs Spark's ``0``; array cells crashing
the driver's canonicalizer). Since r6 the gate therefore canonicalizes
BOTH engines through pandas — every coercion pandas performs is part of
the comparison surface — and rejects non-scalar output columns.
"""

import importlib.util
import os

SCRIPT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "scripts", "check_oracle.py")


def _load():
    spec = importlib.util.spec_from_file_location("check_oracle", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_norm_distinguishes_seventh_significant_digit():
    m = _load()
    # The r4 c6 failure class: a 3-digit mean differing at the 6th
    # decimal (7th+ significant digit). "%.6g" rendered both as
    # "749.163"; repr must split them.
    a, b = 749.162945, 749.162935
    assert f"{a:.6g}" == f"{b:.6g}"  # the old canonicalizer's blind spot
    assert m._norm(a) != m._norm(b)


def test_value_hash_flips_on_last_ulp():
    import math

    import pandas as pd

    m = _load()
    v = 0.1 + 0.2            # 0.30000000000000004
    w = 0.3
    assert v != w and math.isclose(v, w)
    h1 = m.value_hash(pd.DataFrame({"x": [v]}))
    h2 = m.value_hash(pd.DataFrame({"x": [w]}))
    assert h1 != h2


def test_value_hash_splits_hugeint_float64_from_int():
    """The r5 c6 failure class end-to-end: DuckDB sum(CASE…) arrives
    as float64 ``0.0`` through pandas while Spark's BIGINT arrives as
    int64 ``0`` — the gate must see different hashes (the fix is
    CAST AS BIGINT in the oracle, not leniency here)."""
    import duckdb
    import pandas as pd

    m = _load()
    uncast = duckdb.sql(
        "SELECT sum(CASE WHEN 1=0 THEN 1 ELSE 0 END) AS nulls").df()
    assert str(uncast["nulls"].dtype) == "float64"  # HUGEINT via pandas
    spark_side = pd.DataFrame({"nulls": pd.array([0], dtype="int64")})
    assert m.value_hash(uncast) != m.value_hash(spark_side)
    cast = duckdb.sql(
        "SELECT CAST(sum(CASE WHEN 1=0 THEN 1 ELSE 0 END) AS BIGINT) "
        "AS nulls").df()
    assert m.value_hash(cast) == m.value_hash(spark_side)


def test_complex_cols_flags_list_and_ndarray_cells():
    """The r5 e12 failure class: array cells are unhashable in the
    driver's canonicalizer; the gate must flag them pre-compare."""
    import numpy as np
    import pandas as pd

    m = _load()
    bad = pd.DataFrame({"id": [1], "proj": [[1.0, 2.0]]})
    assert m.complex_cols(bad) == ["proj"]
    bad2 = pd.DataFrame({"v": [np.array([1.0])]})
    assert m.complex_cols(bad2) == ["v"]
    ok = pd.DataFrame({"id": [1], "s": ["x"], "f": [1.5]})
    assert m.complex_cols(ok) == []


def test_value_hash_column_order_insensitive():
    import pandas as pd

    m = _load()
    a = pd.DataFrame({"b": [1, 2], "a": ["x", "y"]})
    b = pd.DataFrame({"a": ["y", "x"], "b": [2, 1]})
    assert m.value_hash(a) == m.value_hash(b)


def test_norm_stable_for_equal_values_and_specials():
    import numpy as np

    m = _load()
    assert m._norm(1.0) == m._norm(1.0)
    assert m._norm(float("nan")) == "nan"
    assert m._norm(None) == "NULL"
    assert m._norm(True) == "1"
    assert m._norm([1.5, None]) == "[" + repr(1.5) + ",NULL]"
    # numpy scalars unwrap to their python forms (the pandas surface)
    assert m._norm(np.int64(7)) == "7"
    assert m._norm(np.float64(0.0)) == "0.0" != m._norm(0)


def test_since_maps_changed_modules_to_reaching_keys():
    """``--since`` follows imports at any level: Cypher keys reach
    traversal through the compiler's function-level import, x5 through
    social's, g23 through graph_algos' module-level one."""
    m = _load()
    trav = m.keys_reaching({"rust_graph_db_spark.operators.traversal"})
    for key in ("g2_weighted_sssp", "g3_vle", "g5_k_hop", "g23_mis",
                "p17_shortest_path", "x5_network_analysis"):
        assert key in trav, key
    assert trav["g3_vle"] == ["rust_graph_db_spark.operators.traversal"]
    bpe = m.keys_reaching({"rust_graph_db_spark.operators.bpe"})
    assert "t11_bpe_merges" in bpe and "g3_vle" not in bpe
    assert m.keys_reaching(set()) == {}


def test_since_resolves_relative_imports():
    import ast

    m = _load()
    mods = m._package_modules()
    tree = ast.parse("def f():\n"
                     "    from ..operators.graph_algos import pagerank\n"
                     "from . import hashing\n")
    got = m._imports(tree, "rust_graph_db_spark.functions.procedures", mods)
    assert got == {"rust_graph_db_spark.operators.graph_algos",
                   "rust_graph_db_spark.functions.hashing"}
    pkg = m._imports(ast.parse("from .parser import parse_cypher\n"),
                     "rust_graph_db_spark.parser", mods)
    assert pkg == {"rust_graph_db_spark.parser.parser"}
