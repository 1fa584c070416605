import duckdb
import pytest

from rust_graph_db_spark import get_spark, probe
from rust_graph_db_spark.graphs import (
    KNOWS_EDGE_CTE, KNOWS_PERSON_CTE, knows_graph, tpch_graph,
)

SF_DIR = "/root/testdata/sf0.001"
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest")
    yield s


@pytest.fixture(scope="session")
def kg(spark):
    return knows_graph(spark, SF_DIR)


@pytest.fixture(scope="session")
def tg(spark):
    return tpch_graph(spark, SF_DIR)


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


KNOWS_PRE = f"WITH {KNOWS_PERSON_CTE.strip()}, {KNOWS_EDGE_CTE.strip()}"


@pytest.fixture(scope="session")
def oracle(duck):
    """Compare a Spark DataFrame against a DuckDB SQL result,
    order-insensitively, stringified (mirrors the driver's value-hash)."""

    def _cmp(df, sql, knows: bool = True):
        got = sorted(str(tuple(r)) for r in df.collect())
        q = (KNOWS_PRE + " " + sql) if knows else sql
        exp = sorted(str(tuple(r)) for r in duck.execute(q).fetchall())
        assert got == exp, f"\ngot ({len(got)}): {got[:5]}\nexp ({len(exp)}): {exp[:5]}"
        return len(got)

    return _cmp


@pytest.fixture
def pin_jobs(spark, monkeypatch):
    """``pin_jobs(module, fn)`` runs ``fn()`` and returns ``(result,
    jobs outside module.pin calls, number of module.pin calls)``: each
    pin call runs in a nested ``probe.jobs`` block of its own, so the
    count left in the outer block is exactly the Spark work done outside
    the pins."""
    def run(module, fn):
        real, calls = module.pin, []

        def counted(df, **aggs):
            calls.append(1)
            with probe.jobs(spark):
                return real(df, **aggs)

        with monkeypatch.context() as m:
            m.setattr(module, "pin", counted)
            with probe.jobs(spark) as outer:
                out = fn()
        return out, outer.n, len(calls)

    return run
