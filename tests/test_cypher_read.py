"""Cypher read surface vs DuckDB oracle on the knows_graph (F1 fixture).

Every case: our Cypher → DataFrame vs hand-written ANSI SQL over the same
deterministic graph (CTEs in graphs.py). Mirrors the reference's
executor/integration test corpus (SURVEY.md §5).
"""

import pytest

CASES = {
    "scan_filter": (
        "MATCH (p:Person) WHERE p.age > 60 RETURN p.name AS name, p.age AS age",
        "SELECT name, age FROM person WHERE age > 60"),
    "pattern_prop_eq": (
        "MATCH (p:Person {city: 'NYC', active: true}) RETURN p.name AS name",
        "SELECT name FROM person WHERE city='NYC' AND active"),
    "one_hop": (
        "MATCH (a:Person)-[r:KNOWS]->(b:Person) WHERE r.since = 2021 "
        "RETURN a.name AS an, b.name AS bn",
        "SELECT p1.name, p2.name FROM knows k JOIN person p1 ON k.src=p1.key "
        "JOIN person p2 ON k.dst=p2.key WHERE k.since=2021"),
    "two_hop": (
        "MATCH (a:Person)-[:KNOWS]->(b:Person)-[:KNOWS]->(c:Person) "
        "WHERE a.age = 25 RETURN a.name AS an, c.name AS cn",
        "SELECT p1.name, p3.name FROM knows k1 JOIN knows k2 ON k1.dst=k2.src "
        "JOIN person p1 ON k1.src=p1.key JOIN person p3 ON k2.dst=p3.key "
        "WHERE p1.age=25"),
    "three_hop": (  # generalizes past the reference's 2-hop cap (J2)
        "MATCH (a:Person)-[:KNOWS]->(b)-[:KNOWS]->(c)-[:KNOWS]->(d:Person) "
        "WHERE a.name = 'Person0' RETURN d.name AS dn",
        "SELECT p4.name FROM knows k1 JOIN knows k2 ON k1.dst=k2.src "
        "JOIN knows k3 ON k2.dst=k3.src JOIN person p1 ON k1.src=p1.key "
        "JOIN person p4 ON k3.dst=p4.key WHERE p1.name='Person0'"),
    "agg_group": (
        "MATCH (p:Person) RETURN p.city AS city, count(*) AS cnt, "
        "avg(p.age) AS avg_age ORDER BY city",
        "SELECT city, count(*), avg(age) FROM person GROUP BY city ORDER BY city"),
    "agg_global": (
        "MATCH (p:Person) WHERE p.active RETURN count(*) AS cnt, "
        "sum(p.age) AS total, min(p.name) AS mn, max(p.age) AS mx",
        "SELECT count(*), sum(age), min(name), max(age) FROM person WHERE active"),
    "count_null_skip": (
        "MATCH (p:Person) RETURN count(p.email) AS ce, count(*) AS ca",
        "SELECT count(email), count(*) FROM person"),
    "count_distinct": (
        "MATCH (p:Person) RETURN count(DISTINCT p.city) AS c",
        "SELECT count(DISTINCT city) FROM person"),
    "order_limit": (
        "MATCH (p:Person) RETURN p.name AS name, p.age AS age "
        "ORDER BY p.age DESC, p.name ASC LIMIT 7",
        "SELECT name, age FROM person ORDER BY age DESC, name LIMIT 7"),
    "skip_offset": (
        "MATCH (p:Person) RETURN p.name AS name ORDER BY p.name SKIP 5 LIMIT 3",
        "SELECT name FROM person ORDER BY name OFFSET 5 LIMIT 3"),
    "with_where": (
        "MATCH (p:Person) WITH p.city AS city, count(*) AS cnt WHERE cnt > 25 "
        "RETURN city, cnt ORDER BY cnt DESC, city",
        "SELECT * FROM (SELECT city, count(*) cnt FROM person GROUP BY city) "
        "WHERE cnt > 25 ORDER BY cnt DESC, city"),
    "with_pipeline": (
        "MATCH (p:Person) WITH p WHERE p.age > 70 RETURN p.city AS city, count(*) AS c",
        "SELECT city, count(*) FROM person WHERE age > 70 GROUP BY city"),
    "optional_match": (
        "MATCH (a:Person) OPTIONAL MATCH (a)-[r:KNOWS]->(b:Person) "
        "WHERE b.age > 75 RETURN a.name AS an, b.name AS bn",
        "SELECT p1.name, p2.name FROM person p1 LEFT JOIN "
        "(SELECT k.src s, p2.* FROM knows k JOIN person p2 ON k.dst=p2.key "
        "WHERE p2.age>75) p2 ON p1.key=p2.s"),
    "distinct": (
        "MATCH (a:Person)-[:KNOWS]->(b:Person) RETURN DISTINCT b.city AS city",
        "SELECT DISTINCT p2.city FROM knows k JOIN person p2 ON k.dst=p2.key"),
    "arith": (
        "MATCH (p:Person) WHERE p.age % 10 = 0 AND p.age / 2 >= 20 "
        "RETURN p.name AS name, p.age * 2 + 1 AS x",
        "SELECT name, age*2+1 FROM person WHERE age % 10 = 0 AND age // 2 >= 20"),
    "in_isnull": (
        "MATCH (p:Person) WHERE p.city IN ['NYC','LA'] AND p.email IS NOT NULL "
        "RETURN count(*) AS c",
        "SELECT count(*) FROM person WHERE city IN ('NYC','LA') AND email IS NOT NULL"),
    "both_direction": (
        "MATCH (a:Person {name: 'Person10'})-[r:KNOWS]-(b:Person) RETURN b.name AS bn",
        "SELECT p2.name FROM knows k JOIN person p1 ON k.src=p1.key "
        "JOIN person p2 ON k.dst=p2.key WHERE p1.name='Person10' "
        "UNION ALL SELECT p1.name FROM knows k JOIN person p1 ON k.src=p1.key "
        "JOIN person p2 ON k.dst=p2.key WHERE p2.name='Person10'"),
    "incoming": (
        "MATCH (a:Person {name:'Person5'})<-[r:KNOWS]-(b) RETURN b.name AS bn",
        "SELECT p1.name FROM knows k JOIN person p1 ON k.src=p1.key "
        "JOIN person p2 ON k.dst=p2.key WHERE p2.name='Person5'"),
    "multi_match": (
        "MATCH (a:Person)-[:KNOWS]->(b:Person) MATCH (b)-[:KNOWS]->(c:Person) "
        "WHERE a.age=30 RETURN c.name AS cn",
        "SELECT p3.name FROM knows k1 JOIN person p1 ON k1.src=p1.key "
        "JOIN knows k2 ON k2.src=k1.dst JOIN person p3 ON k2.dst=p3.key "
        "WHERE p1.age=30"),
    "comma_patterns": (
        "MATCH (a:Person), (b:Person) WHERE a.age = 79 AND b.age = 78 "
        "RETURN a.name AS an, b.name AS bn",
        "SELECT a.name, b.name FROM person a, person b WHERE a.age=79 AND b.age=78"),
    "scalar_funcs": (
        "MATCH (p:Person) WHERE p.age = 77 RETURN toupper(p.name) AS u, "
        "size(p.name) AS s, toString(p.age) AS ts, coalesce(p.email, 'none') AS em",
        "SELECT upper(name), length(name), CAST(age AS VARCHAR), "
        "coalesce(email,'none') FROM person WHERE age = 77"),
    "agg_arith": (
        "MATCH (p:Person) RETURN count(*) + 1 AS cp, sum(p.age) / count(*) AS mean_age",
        "SELECT count(*)+1, sum(age) // count(*) FROM person"),
    "var_length": (
        "MATCH (a:Person {name:'Person0'})-[r:KNOWS*1..3]->(b:Person) "
        "RETURN b.name AS bn, length(r) AS hops",
        "SELECT p.name, hops FROM (WITH RECURSIVE walk AS ("
        "SELECT src AS a, dst AS b, 1 AS hops, [src, dst] AS vp FROM knows "
        "UNION ALL SELECT w.a, k.dst, w.hops+1, list_append(w.vp, k.dst) "
        "FROM walk w JOIN knows k ON w.b = k.src "
        "WHERE w.hops < 3 AND NOT list_contains(w.vp, k.dst)) "
        "SELECT * FROM walk) t JOIN person p ON t.b = p.key "
        "JOIN person p0 ON t.a = p0.key WHERE p0.name='Person0'"),
    "xor": (
        "MATCH (p:Person) WHERE (p.active XOR p.age > 50) RETURN count(*) AS c",
        "SELECT count(*) FROM person WHERE active != (age > 50)"),
    "dotted_output_names": (  # un-aliased RETURN keys contain a literal dot
        "MATCH (p:Person) WHERE p.age > 75 RETURN p.name, p.age ORDER BY p.name",
        "SELECT name, age FROM person WHERE age > 75 ORDER BY name"),
    "dotted_agg_names": (
        "MATCH (p:Person) RETURN p.city, count(*) ORDER BY p.city",
        "SELECT city, count(*) FROM person GROUP BY city ORDER BY city"),
    "graph_funcs": (
        "MATCH (a:Person {name:'Person3'})-[r:KNOWS]->(b) "
        "RETURN type(r) AS t, labels(b)[0] AS lb, r.since AS s",
        "SELECT 'KNOWS', 'Person', since FROM knows k "
        "JOIN person p1 ON k.src=p1.key WHERE p1.name='Person3'"),
    "intersect": (
        "MATCH (p:Person) WHERE p.age > 40 RETURN p.city AS city "
        "INTERSECT MATCH (p:Person) WHERE p.active RETURN p.city AS city",
        "SELECT city FROM person WHERE age > 40 "
        "INTERSECT SELECT city FROM person WHERE active"),
    "except": (
        "MATCH (p:Person) RETURN p.city AS city "
        "EXCEPT MATCH (p:Person) WHERE p.age < 70 RETURN p.city AS city",
        "SELECT city FROM person "
        "EXCEPT SELECT city FROM person WHERE age < 70"),
    "intersect_all": (
        "MATCH (p:Person) WHERE p.age > 40 RETURN p.city AS city "
        "INTERSECT ALL MATCH (p:Person) WHERE p.active RETURN p.city AS city",
        "SELECT city FROM person WHERE age > 40 "
        "INTERSECT ALL SELECT city FROM person WHERE active"),
    "except_all": (
        "MATCH (p:Person) RETURN p.city AS city "
        "EXCEPT ALL MATCH (p:Person) WHERE p.age < 70 RETURN p.city AS city",
        "SELECT city FROM person "
        "EXCEPT ALL SELECT city FROM person WHERE age < 70"),
}


def test_mixed_set_ops_rejected(kg):
    import pytest as _pytest

    from rust_graph_db_spark.parser.parser import CypherSyntaxError

    with _pytest.raises(CypherSyntaxError):
        kg.cypher("MATCH (p:Person) RETURN p.name AS n "
                  "UNION MATCH (p:Person) RETURN p.name AS n "
                  "INTERSECT MATCH (p:Person) RETURN p.name AS n")


@pytest.mark.parametrize("name", list(CASES))
def test_oracle(kg, oracle, name):
    cy, sql = CASES[name]
    oracle(kg.cypher(cy), sql)


def test_entity_return(kg):
    rows = kg.cypher("MATCH (p:Person {name:'Person7'}) RETURN p").collect()
    assert len(rows) == 1
    assert rows[0]["p"]["name"] == "Person7" and rows[0]["p"]["age"] == 27


def test_tpch_graph_pattern(tg, oracle):
    df = tg.cypher(
        "MATCH (c:Customer)-[:IN_NATION]->(n:Nation)-[:IN_REGION]->(r:Region) "
        "WHERE r.name = 'ASIA' RETURN n.name AS nation, count(*) AS cnt "
        "ORDER BY nation")
    oracle(df,
           "SELECT n_name AS nation, count(*) AS cnt FROM customer "
           "JOIN nation ON c_nationkey=n_nationkey "
           "JOIN region ON n_regionkey=r_regionkey "
           "WHERE r_name='ASIA' GROUP BY n_name ORDER BY n_name",
           knows=False)


def test_entity_functions(kg):
    rows = kg.cypher(
        "MATCH (a:Person {name:'Person5'})-[r:KNOWS]->(b:Person) "
        "RETURN id(a) AS ida, array_join(labels(a), ',') AS la, "
        "startNode(r) AS sn, endNode(r) AS en, type(r) AS t").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["ida"] == (1 << 48) + 5 and r["sn"] == r["ida"]
    assert r["la"] == "Person" and r["t"] == "KNOWS"
    assert r["en"] == (1 << 48) + 6


def test_case_expressions(kg, oracle):
    oracle(kg.cypher(
        "MATCH (p:Person) WHERE p.age % 20 = 0 "
        "RETURN p.name AS name, "
        "CASE WHEN p.age >= 60 THEN 'senior' ELSE 'young' END AS b, "
        "CASE p.city WHEN 'NYC' THEN 1 ELSE 0 END AS nyc"),
        "SELECT name, CASE WHEN age >= 60 THEN 'senior' ELSE 'young' END AS b, "
        "CASE city WHEN 'NYC' THEN 1 ELSE 0 END AS nyc "
        "FROM person WHERE age % 20 = 0")


def test_case_without_else_is_null(kg):
    rows = kg.cypher(
        "MATCH (p:Person {name:'Person3'}) "
        "RETURN CASE WHEN p.age > 99 THEN 'x' END AS c").collect()
    assert rows[0]["c"] is None


def test_end_still_valid_variable(kg):
    rows = kg.cypher(
        "MATCH (end:Person {name:'Person3'}) RETURN end.age AS a").collect()
    assert rows[0]["a"] == 23


def test_literal_arg_functions_dispatch(kg):
    # sort_array / array_join route through F.call_function (their
    # pyspark wrappers demand Python literals — functions/scalar.py
    # _LITERAL_ARG_FUNCS); regexp_extract takes 3 Column args the same way
    rows = kg.cypher(
        "MATCH (p:Person {name:'Person3'}) "
        "RETURN sort_array([3, 1, 2]) AS s, "
        "array_join(['b', 'a'], '-') AS j, "
        "regexp_extract(p.name, '([0-9]+)', 1) AS d").collect()
    assert rows[0]["s"] == [1, 2, 3]
    assert rows[0]["j"] == "b-a"
    assert rows[0]["d"] == "3"


def test_unknown_labels_are_empty_matches(kg):
    """Unknown vertex/edge labels yield EMPTY matches, not errors —
    openCypher semantics, and the reference's behavior too (its
    label-prefix scan simply finds nothing, match_executor.rs:76-77).
    OPTIONAL MATCH against an unknown label yields null bindings."""
    assert kg.cypher("MATCH (p:NoSuchLabel) RETURN p.name AS n").count() == 0
    assert kg.cypher("MATCH (a:Person)-[r:NOSUCH]->(b:Person) "
                     "RETURN a.name AS an").count() == 0
    assert kg.cypher("MATCH (a:NoSuch)-[r:KNOWS]->(b:Person) "
                     "RETURN b.name AS bn").count() == 0
    assert kg.cypher("MATCH (a:Person)-[r:NOSUCH]-(b) "
                     "RETURN count(*) AS c").first().c == 0
    rows = kg.cypher(
        "MATCH (p:Person) OPTIONAL MATCH (p)-[r:NOSUCH]->(q:Person) "
        "RETURN p.name AS pn, q.name AS qn LIMIT 3").collect()
    assert len(rows) == 3 and all(r.qn is None for r in rows)
    # entity functions must compile against the empty fallback frame
    # too — type(r) once raised KeyError because the fallback lacked
    # the label column
    assert kg.cypher("MATCH (a)-[r:NOSUCH]->(b) "
                     "RETURN type(r) AS t, r.since AS s").count() == 0


def test_string_predicates(kg):
    """STARTS WITH / ENDS WITH / CONTAINS / =~ (openCypher string
    predicates; extensions — the reference grammar has none). =~ must
    match the WHOLE string (anchored), not search."""
    def c(q):
        return kg.cypher(q).first().c

    n_all = c("MATCH (p:Person) RETURN count(*) AS c")
    n_sw = c("MATCH (p:Person) WHERE p.name STARTS WITH 'Person1' "
             "RETURN count(*) AS c")
    assert n_sw == sum(1 for i in range(n_all)
                       if f"Person{i}".startswith("Person1"))
    assert c("MATCH (p:Person) WHERE p.name ENDS WITH '9' "
             "RETURN count(*) AS c") \
        == sum(1 for i in range(n_all) if f"Person{i}".endswith("9"))
    assert c("MATCH (p:Person) WHERE p.name CONTAINS 'son4' "
             "RETURN count(*) AS c") \
        == sum(1 for i in range(n_all) if "son4" in f"Person{i}")
    # =~ is whole-string: a pattern matching only a suffix hits nothing
    assert c("MATCH (p:Person) WHERE p.name =~ 'son1.' "
             "RETURN count(*) AS c") == 0
    assert c("MATCH (p:Person) WHERE p.name =~ 'Person1.' "
             "RETURN count(*) AS c") \
        == sum(1 for i in range(n_all) if len(f"Person{i}") == 8
               and f"Person{i}".startswith("Person1"))


def test_list_and_existence_functions(kg):
    """range/head/last/tail/exists/keys (openCypher list + existence
    functions; extensions — the reference executes only aggregates).
    Empty-list head/last are NULL, range is end-inclusive, keys() lists
    entity property names."""
    r = kg.cypher("UNWIND range(1, 5) AS x RETURN sum(x) AS s").first()
    assert r.s == 15
    assert kg.cypher("UNWIND range(0, 10, 2) AS x "
                     "RETURN count(*) AS c").first().c == 6
    row = kg.cypher("RETURN head([1,2,3]) AS h, last([1,2,3]) AS l, "
                    "tail([1,2,3]) AS t, head([]) AS h0, "
                    "tail([1]) AS t1").first()
    assert (row.h, row.l, row.t, row.h0, row.t1) == (1, 3, [2, 3], None, [])
    e = kg.cypher("MATCH (p:Person) RETURN exists(p.email) AS e, "
                  "exists(p.nosuch) AS n LIMIT 1").first()
    assert (e.e, e.n) == (True, False)
    k = kg.cypher("MATCH (a:Person)-[r:KNOWS]->(b) "
                  "RETURN keys(r) AS k LIMIT 1").first()
    assert "since" in k.k and "id" not in k.k


def test_list_comprehension_and_reduce(kg):
    """[x IN xs WHERE p | e] and reduce(acc = init, x IN xs | body) —
    openCypher list processing compiled to Catalyst higher-order
    functions (filter/transform/aggregate). Covers filter-only,
    map-only, both, nesting with variable shadowing, reduce over a
    comprehension, and comprehension inside WHERE ... IN."""
    def one(q):
        return kg.cypher(q).first()[0]

    assert one("RETURN [x IN range(1,5) WHERE x % 2 = 0 | x * 10] AS r") \
        == [20, 40]
    assert one("RETURN [x IN range(1,5) WHERE x > 3] AS r") == [4, 5]
    assert one("RETURN [x IN range(1,5) | x + 1] AS r") == [2, 3, 4, 5, 6]
    assert one("RETURN reduce(acc = 0, x IN range(1,5) | acc + x) AS s") == 15
    assert one("RETURN reduce(s = '', w IN ['a','b','c'] | concat(s, w)) "
               "AS cat") == "abc"
    assert one("RETURN [x IN range(1,3) | [y IN range(1,x) | y * x]] "
               "AS n") == [[1], [2, 4], [3, 6, 9]]
    assert one("RETURN reduce(acc = 0, "
               "x IN [v IN range(1,10) WHERE v % 3 = 0] | acc + x) AS s") == 18
    assert one("MATCH (p:Person) WHERE p.age IN [x IN range(20, 24)] "
               "RETURN count(*) AS c") > 0


def test_quantifiers(kg):
    """all/any/none/single(x IN xs WHERE p) — openCypher list-predicate
    quantifiers with 3-valued logic, compiled to forall/exists
    higher-order functions (single builds its indeterminacy from two
    filtered sizes). Reference grammar has none of these (engine
    extension); semantics follow the openCypher TCK."""
    def one(q):
        return kg.cypher(q).first()[0]

    # conclusive cases
    assert one("RETURN all(x IN [1,2,3] WHERE x > 0) AS r") is True
    assert one("RETURN all(x IN [1,-2,3] WHERE x > 0) AS r") is False
    assert one("RETURN any(x IN [1,2,3] WHERE x > 2) AS r") is True
    assert one("RETURN any(x IN [1,2,3] WHERE x > 9) AS r") is False
    assert one("RETURN none(x IN [1,2,3] WHERE x > 9) AS r") is True
    assert one("RETURN none(x IN [1,2,3] WHERE x > 2) AS r") is False
    assert one("RETURN single(x IN [1,2,3] WHERE x = 2) AS r") is True
    assert one("RETURN single(x IN [1,2,2] WHERE x = 2) AS r") is False
    assert one("RETURN single(x IN [1,3,5] WHERE x = 2) AS r") is False
    # empty list: all/none vacuously true, any/single false
    assert one("RETURN all(x IN [] WHERE x > 0) AS r") is True
    assert one("RETURN none(x IN [] WHERE x > 0) AS r") is True
    assert one("RETURN any(x IN [] WHERE x > 0) AS r") is False
    assert one("RETURN single(x IN [] WHERE x > 0) AS r") is False
    # 3VL: a NULL predicate is indeterminate unless another element
    # already decides the outcome
    assert one("RETURN all(x IN [1, null] WHERE x > 0) AS r") is None
    assert one("RETURN all(x IN [-1, null] WHERE x > 0) AS r") is False
    assert one("RETURN any(x IN [null, 5] WHERE x > 0) AS r") is True
    assert one("RETURN any(x IN [null, -5] WHERE x > 0) AS r") is None
    assert one("RETURN none(x IN [null, 5] WHERE x > 0) AS r") is False
    assert one("RETURN single(x IN [1, null, 3] WHERE x > 2) AS r") is None
    assert one("RETURN single(x IN [1, null, 3] WHERE x > 0) AS r") is False
    # NULL list -> NULL
    assert one("MATCH (p:Person) "
               "RETURN all(x IN p.nosuch WHERE x > 0) AS r LIMIT 1") is None
    # quantifier as a WHERE predicate over per-row data
    assert one("MATCH (p:Person) "
               "WHERE all(c IN split(p.name, '') WHERE c <> '@') "
               "RETURN count(*) AS c") > 0
    # nesting inside a comprehension
    assert one("RETURN [xs IN [[1,2],[3,-4]] | "
               "all(x IN xs WHERE x > 0)] AS r") == [True, False]


def test_null_list_and_range_edge_cases(kg):
    """Review-fix battery: list machinery over a MISSING property
    (typeless NULL literal) returns NULL instead of failing analysis;
    range() with an empty progression is [] per openCypher, not
    Spark sequence()'s auto-negated descent; keys(entity) reports
    per-row presence, not the binding's union schema."""
    r = kg.cypher(
        "MATCH (p:Person) RETURN "
        "head(p.nosuch) AS h, last(p.nosuch) AS l, tail(p.nosuch) AS t, "
        "[x IN p.nosuch | x] AS lc, "
        "[x IN p.nosuch WHERE x > 0] AS lf, "
        "reduce(acc = 0, x IN p.nosuch | acc + x) AS rd "
        "LIMIT 1").first()
    assert (r.h, r.l, r.t, r.lc, r.lf, r.rd) == (None,) * 6
    r2 = kg.cypher(
        "RETURN range(2, 1) AS r0, range(5, 1, 1) AS r1, "
        "range(5, 1, -2) AS r2, range(3, 3) AS r3").first()
    assert r2.r0 == [] and r2.r1 == []
    assert r2.r2 == [5, 3, 1] and r2.r3 == [3]
    # keys(): a property that is NULL on this row is absent from keys
    ks = kg.cypher("MATCH (p:Person) RETURN keys(p) AS k LIMIT 1").first().k
    assert "name" in ks and "nosuch" not in ks


def test_exists_subqueries(kg, oracle):
    """EXISTS { pattern [WHERE ...] } / NOT EXISTS — openCypher
    existential subqueries compiled to left-semi/anti joins on a
    pinned row id; correlation through shared variables is the normal
    equi-join path. Verified against DuckDB EXISTS on the same data."""
    oracle(
        kg.cypher(
            "MATCH (a:Person) WHERE EXISTS { (a)-[:KNOWS]->(b:Person) "
            "WHERE b.age > 75 } RETURN a.name AS name"),
        "SELECT p1.name FROM person p1 WHERE EXISTS ("
        "SELECT 1 FROM knows k JOIN person p2 ON k.dst = p2.key "
        "WHERE k.src = p1.key AND p2.age > 75)")
    oracle(
        kg.cypher(
            "MATCH (a:Person) WHERE a.active AND NOT EXISTS { "
            "MATCH (a)-[:KNOWS]->(b:Person) WHERE b.city = a.city } "
            "RETURN count(*) AS c"),
        "SELECT count(*) FROM person p1 WHERE p1.active AND NOT EXISTS ("
        "SELECT 1 FROM knows k JOIN person p2 ON k.dst = p2.key "
        "WHERE k.src = p1.key AND p2.city = p1.city)")
    # EXISTS combined with ordinary conjuncts; the function form
    # exists(prop) is unaffected by the subquery form
    oracle(
        kg.cypher(
            "MATCH (a:Person) WHERE a.age > 50 AND exists(a.email) "
            "AND EXISTS { (a)-[:KNOWS]->(:Person) } "
            "RETURN count(*) AS c"),
        "SELECT count(*) FROM person p1 WHERE p1.age > 50 "
        "AND p1.email IS NOT NULL AND EXISTS ("
        "SELECT 1 FROM knows k WHERE k.src = p1.key)")
    # unsupported positions fail with a clear message
    from rust_graph_db_spark.compiler import CypherCompileError
    with pytest.raises(CypherCompileError, match="EXISTS"):
        kg.cypher("MATCH (a:Person) "
                  "RETURN EXISTS { (a)-[:KNOWS]->() } AS e").collect()


def test_count_subqueries(kg, oracle):
    """COUNT { pattern [WHERE ...] } — per-row match-count subqueries
    materialized as columns (pinned row id, inner match, groupBy
    count, left join back with 0 for no-match), so they compose in
    WHERE comparisons, RETURN items, and even inside aggregates."""
    oracle(
        kg.cypher(
            "MATCH (a:Person) RETURN a.name AS name, "
            "COUNT { (a)-[:KNOWS]->(:Person) } AS deg"),
        "SELECT p1.name, (SELECT count(*) FROM knows k "
        "WHERE k.src = p1.key) FROM person p1")
    oracle(
        kg.cypher(
            "MATCH (a:Person) WHERE "
            "COUNT { (a)-[:KNOWS]->(b) WHERE b.age > 50 } >= 1 "
            "RETURN count(*) AS c"),
        "SELECT count(*) FROM person p1 WHERE (SELECT count(*) "
        "FROM knows k JOIN person p2 ON k.dst = p2.key "
        "WHERE k.src = p1.key AND p2.age > 50) >= 1")
    # COUNT {} under an aggregate: per-row counts grouped and summed
    oracle(
        kg.cypher(
            "MATCH (a:Person) RETURN a.city AS city, "
            "sum(COUNT { (a)-[:KNOWS]->() }) AS total_deg"),
        "SELECT p1.city, sum((SELECT count(*) FROM knows k "
        "WHERE k.src = p1.key)) FROM person p1 GROUP BY p1.city")


def test_pattern_comprehensions(kg, oracle):
    """[ (a)-[:R]->(b) WHERE p | expr ] — pattern comprehensions
    materialized per row (match, collect_list per pinned row id,
    left join back, [] for no matches; elements sorted since
    openCypher leaves order unspecified). Oracled against DuckDB
    correlated list() aggregates; '[(' still opens a plain list
    literal when no relationship pattern follows."""
    oracle(
        kg.cypher(
            "MATCH (a:Person) WHERE a.age >= 78 RETURN a.name AS name, "
            "[(a)-[:KNOWS]->(b:Person) | b.name] AS friends"),
        "SELECT p1.name, coalesce((SELECT list_sort(list(p2.name)) "
        "FROM knows k JOIN person p2 ON k.dst = p2.key "
        "WHERE k.src = p1.key), []) FROM person p1 WHERE p1.age >= 78")
    oracle(
        kg.cypher(
            "MATCH (a:Person) RETURN a.city AS city, "
            "sum(size([(a)-[:KNOWS]->(b) WHERE b.age > a.age | b.name])) "
            "AS older_links"),
        "SELECT p1.city, sum((SELECT count(*) FROM knows k "
        "JOIN person p2 ON k.dst = p2.key WHERE k.src = p1.key "
        "AND p2.age > p1.age)) FROM person p1 GROUP BY p1.city")
    # disambiguation: parenthesized first item stays a list literal
    assert kg.cypher("RETURN [(1+2), 3] AS l").first().l == [3, 3]


def test_named_paths(kg, oracle):
    """MATCH p = ... — GraphPath as data: nodes(p) (vertex ids in
    traversal order), relationships(p) (edge ids — tracked through
    varlength segments too since r3-s5), length(p) (hop count).
    Mirrors the reference's GraphPath invariants
    (src/types/path.rs:23-40): len(nodes) == length + 1, edge i
    connects node i -> i+1."""
    rows = kg.cypher(
        "MATCH p = (a:Person {name:'Person0'})-[:KNOWS]->(b)-[:KNOWS]->(c) "
        "RETURN length(p) AS hops, nodes(p) AS ns, "
        "relationships(p) AS rs").collect()
    assert rows
    for r in rows:
        assert r.hops == 2
        assert len(r.ns) == 3 and len(r.rs) == 2
    # oracle: 2-hop node-id lists with packed graphids (labid 1 << 48)
    oracle(
        kg.cypher(
            "MATCH p = (a:Person {name:'Person0'})-[:KNOWS]->(b)"
            "-[:KNOWS]->(c) RETURN nodes(p) AS ns"),
        "SELECT [281474976710656 + k1.src, 281474976710656 + k1.dst, "
        "281474976710656 + k2.dst] AS ns "
        "FROM knows k1 JOIN knows k2 ON k1.dst = k2.src "
        "JOIN person p1 ON k1.src = p1.key WHERE p1.name = 'Person0'")
    # varlength segment: nodes stitch through vpath, length sums hops,
    # and relationships(p) carries the traversed EDGE ids (one per hop,
    # all non-null, edge labid = 2 << 48 in the knows graph)
    vr = kg.cypher(
        "MATCH p = (a:Person {name:'Person0'})-[:KNOWS*1..3]->(b) "
        "RETURN length(p) AS hops, nodes(p) AS ns, "
        "relationships(p) AS rs").collect()
    assert {r.hops for r in vr} == {1, 2, 3}
    eids = {r["id"] for r in kg.edge_frame("KNOWS").select("id").collect()}
    for r in vr:
        assert len(r.ns) == r.hops + 1
        assert len(r.rs) == r.hops and set(r.rs) <= eids
    # mixed fixed + varlength segments concatenate their edge lists
    for r in kg.cypher(
            "MATCH p = (a:Person {name:'Person0'})-[:KNOWS]->(m)"
            "-[:KNOWS*1..2]->(b) RETURN length(p) AS hops, "
            "relationships(p) AS rs").collect():
        assert len(r.rs) == r.hops and set(r.rs) <= eids


def test_shortest_path_match(kg, oracle):
    """MATCH p = shortestPath((a)-[:R*lo..hi]->(b)) — min-length filter
    per endpoint pair over the variable-length expansion (reference G1,
    shortest_path.rs:77-141, as a window filter). allShortestPaths
    keeps every min-length path; shortestPath picks the deterministic
    lexicographically-smallest node list."""
    oracle(
        kg.cypher(
            "MATCH p = shortestPath((a:Person {name:'Person0'})"
            "-[:KNOWS*1..4]->(b:Person)) "
            "RETURN b.name AS bn, length(p) AS d"),
        "SELECT p2.name, d FROM (WITH RECURSIVE walk AS ("
        "SELECT src AS a, dst AS b, 1 AS hops, [src, dst] AS vp FROM knows "
        "UNION ALL SELECT w.a, k.dst, w.hops + 1, list_append(w.vp, k.dst) "
        "FROM walk w JOIN knows k ON w.b = k.src "
        "WHERE w.hops < 4 AND NOT list_contains(w.vp, k.dst)) "
        "SELECT a, b, min(hops) AS d FROM walk GROUP BY a, b) t "
        "JOIN person p1 ON t.a = p1.key JOIN person p2 ON t.b = p2.key "
        "WHERE p1.name = 'Person0'")
    # allShortestPaths returns >= as many rows; every one is min-length
    one = kg.cypher(
        "MATCH p = shortestPath((a:Person {age: 25})-[:KNOWS*1..3]->"
        "(b:Person)) RETURN a.name AS an, b.name AS bn, length(p) AS d")
    all_ = kg.cypher(
        "MATCH p = allShortestPaths((a:Person {age: 25})-[:KNOWS*1..3]->"
        "(b:Person)) RETURN a.name AS an, b.name AS bn, length(p) AS d")
    n1, na = one.count(), all_.count()
    assert n1 >= 1 and na >= n1
    assert one.groupBy("an", "bn").count().where("count > 1").count() == 0


def test_map_projections(kg, oracle):
    """n {.prop, .*, key: expr} — openCypher map projections compiled
    to struct columns; accessing the result through WITH keeps it an
    ordinary scalar (getItem path)."""
    r = kg.cypher(
        "MATCH (n:Person) WHERE n.age = 25 "
        "RETURN n {.name, .age, doubled: n.age * 2} AS m LIMIT 1").first()
    assert r.m.asDict() == {"name": r.m.name, "age": 25,
                            "doubled": 50}
    star = kg.cypher(
        "MATCH (n:Person) WHERE n.age = 30 RETURN n {.*} AS m LIMIT 1"
    ).first().m
    assert "name" in star.asDict() and "id" not in star.asDict()
    # through WITH, fields project back out as scalars — oracle-able
    oracle(
        kg.cypher(
            "MATCH (n:Person) WHERE n.age >= 78 "
            "WITH n {.name, half: n.age / 2} AS m "
            "RETURN m.name AS name, m.half AS half"),
        "SELECT name, age // 2 AS half FROM person WHERE age >= 78")


def test_call_subqueries(kg, oracle):
    """CALL { [WITH imports] ... RETURN ... } — correlated subqueries
    thread a pinned row id through every inner projection (making
    inner aggregation and DISTINCT per-outer-row for free) and join
    back; uncorrelated ones cross-join. An all-aggregate subquery
    yields one row per outer row even over zero matches (count = 0,
    other aggregates NULL) via a left join."""
    oracle(
        kg.cypher(
            "MATCH (a:Person) WHERE a.age >= 78 "
            "CALL { WITH a MATCH (a)-[:KNOWS]->(b:Person) "
            "RETURN count(*) AS deg, max(b.age) AS oldest } "
            "RETURN a.name AS name, deg, oldest"),
        "SELECT p1.name, "
        "(SELECT count(*) FROM knows k WHERE k.src = p1.key) AS deg, "
        "(SELECT max(p2.age) FROM knows k JOIN person p2 "
        "ON k.dst = p2.key WHERE k.src = p1.key) AS oldest "
        "FROM person p1 WHERE p1.age >= 78")
    # uncorrelated first clause + cross-join composition
    oracle(
        kg.cypher(
            "CALL { MATCH (p:Person) WHERE p.age > 78 "
            "RETURN p.city AS oc } "
            "RETURN oc, count(*) AS n"),
        "SELECT city, count(*) FROM person WHERE age > 78 GROUP BY city")
    # inner ORDER BY/LIMIT in a correlated subquery applies PER OUTER
    # ROW (lateral semantics via a rank window on the row id): top-1
    # friend per person means one output row per person-with-friends
    from rust_graph_db_spark.compiler import CypherCompileError
    n = kg.cypher(
        "MATCH (a:Person) CALL { WITH a MATCH (a)-[:KNOWS]->(b:Person) "
        "RETURN b.name AS bn, b.age AS ba ORDER BY b.age DESC LIMIT 1 } "
        "RETURN a.name AS an, bn, ba")
    n_outer = kg.cypher(
        "MATCH (a:Person) WHERE EXISTS { (a)-[:KNOWS]->(:Person) } "
        "RETURN count(*) AS c").first().c
    assert n.count() == n_outer
    # VALUE semantics of the lateral pick: the chosen ba IS the max
    # friend age per person, and bn is one of the max-age friends
    # (row_number ties on equal ages break arbitrarily, so bn is
    # checked for membership, ba for equality)
    flat = kg.cypher(
        "MATCH (a:Person)-[:KNOWS]->(b:Person) "
        "RETURN a.name AS an, b.name AS bn, b.age AS ba").collect()
    best_age: dict = {}
    for r in flat:
        if r.an not in best_age or r.ba > best_age[r.an]:
            best_age[r.an] = r.ba
    names_at_best = {(r.an, r.ba) for r in flat}
    got = n.collect()
    assert len(got) == len(best_age)
    for r in got:
        assert r.ba == best_age[r.an]
        assert (r.an, r.ba) in names_at_best and r.bn is not None
    # ORDER BY on a property OF A RETURNED ENTITY (RETURN b ORDER BY
    # b.age): b is a returned item, so the sort key resolves as
    # struct-field access on it — ASC picks the youngest friend
    youngest = kg.cypher(
        "MATCH (a:Person) CALL { WITH a MATCH (a)-[:KNOWS]->(b:Person) "
        "RETURN b ORDER BY b.age ASC LIMIT 1 } "
        "RETURN a.name AS an, b.age AS ba")
    worst_age = {an: min(r.ba for r in flat if r.an == an)
                 for an in best_age}
    for r in youngest.collect():
        assert r.ba == worst_age[r.an]
    # ORDER BY a key that is NOT returned (b.age, RETURN b.name): the
    # key threads through the projection as a hidden item compiled in
    # pre-projection scope — same winner ages as the explicit query
    hidden_key = kg.cypher(
        "MATCH (a:Person) CALL { WITH a MATCH (a)-[:KNOWS]->(b:Person) "
        "RETURN b.name AS bn ORDER BY b.age DESC LIMIT 1 } "
        "RETURN a.name AS an, bn")
    name_age = {(r.an, r.bn): r.ba for r in flat}
    for r in hidden_key.collect():
        assert name_age[(r.an, r.bn)] == best_age[r.an]
    # ORDER BY an alias of a returned item (ba)
    alias_ref = kg.cypher(
        "MATCH (a:Person) CALL { WITH a MATCH (a)-[:KNOWS]->(b:Person) "
        "RETURN b.age AS ba ORDER BY ba DESC LIMIT 1 } "
        "RETURN a.name AS an, ba")
    for r in alias_ref.collect():
        assert r.ba == best_age[r.an]
    # ...but an unreturned key under RETURN DISTINCT is a clear error
    with pytest.raises(CypherCompileError, match="DISTINCT"):
        kg.cypher(
            "MATCH (a:Person) CALL { WITH a MATCH (a)-[:KNOWS]->(b:Person) "
            "RETURN DISTINCT b.name AS bn ORDER BY b.age LIMIT 1 } "
            "RETURN a.name AS an, bn").collect()
    # intermediate-WITH lateral ordering: per-person top-2 friends by
    # age, then aggregate — count is min(2, degree), zero-match
    # persons still appear with 0 via the all-aggregate fill
    deg: dict = {}
    for r in flat:
        deg[r.an] = deg.get(r.an, 0) + 1
    top2 = kg.cypher(
        "MATCH (a:Person) CALL { WITH a MATCH (a)-[:KNOWS]->(b:Person) "
        "WITH b ORDER BY b.age DESC LIMIT 2 "
        "RETURN count(*) AS n2 } RETURN a.name AS an, n2")
    rows2 = {r.an: r.n2 for r in top2.collect()}
    assert all(v == min(2, deg.get(k, 0)) for k, v in rows2.items())
    # pre-projection sort key on an intermediate WITH (hidden item)
    assert kg.cypher(
        "MATCH (a:Person) CALL { WITH a MATCH (a)-[:KNOWS]->(b:Person) "
        "WITH b.name AS fn ORDER BY b.age DESC LIMIT 1 RETURN fn } "
        "RETURN a.name AS an, fn").count() == len(best_age)
    # ...and under WITH DISTINCT an unprojected key is a clear error
    with pytest.raises(CypherCompileError, match="DISTINCT"):
        kg.cypher(
            "MATCH (a:Person) CALL { WITH a MATCH (a)-[:KNOWS]->(b:Person) "
            "WITH DISTINCT b.name AS fn ORDER BY b.age LIMIT 1 RETURN fn } "
            "RETURN fn").collect()
    # all-aggregate subquery + lateral SKIP/LIMIT: the aggregate yields
    # EXACTLY one row per outer row, so SKIP 1 (or LIMIT 0) empties it
    # and the OUTER row is dropped too — no zero-fill resurrection
    assert kg.cypher(
        "MATCH (a:Person) CALL { WITH a MATCH (a)-[:KNOWS]->(b:Person) "
        "RETURN count(*) AS c SKIP 1 } RETURN a.name AS an, c"
    ).count() == 0
    assert kg.cypher(
        "MATCH (a:Person) CALL { WITH a MATCH (a)-[:KNOWS]->(b:Person) "
        "RETURN count(*) AS c LIMIT 0 } RETURN a.name AS an, c"
    ).count() == 0
    # ...while LIMIT 1 keeps every outer row (including zero-match
    # rows, whose fill row IS the one row LIMIT 1 keeps)
    n_people = kg.cypher("MATCH (a:Person) RETURN count(*) AS c").first().c
    assert kg.cypher(
        "MATCH (a:Person) CALL { WITH a MATCH (a)-[:KNOWS]->(b:Person) "
        "RETURN count(*) AS c LIMIT 1 } RETURN a.name AS an, c"
    ).count() == n_people
    # rejected: writes inside CALL
    with pytest.raises(CypherCompileError, match="write"):
        kg.cypher("MATCH (a:Person) CALL { CREATE (x:Person {name:'X'}) "
                  "RETURN 1 AS one } RETURN one").collect()


def test_subquery_review_fixes(kg):
    """Review-fix battery for the subquery/projection features."""
    from rust_graph_db_spark.compiler import CypherCompileError

    # CALL zero-match: aggregate EXPRESSIONS fold to their empty-group
    # value (count(*)+1 -> 1), not NULL
    r = kg.cypher(
        "MATCH (a:Person) WHERE a.age = 79 "
        "CALL { WITH a MATCH (a)-[:KNOWS]->(b) WHERE b.age > 200 "
        "RETURN count(*) + 1 AS cp, coalesce(max(b.age), -1) AS ma } "
        "RETURN cp, ma LIMIT 1").first()
    assert (r.cp, r.ma) == (1, -1)
    # projecting WITH inside an uncorrelated CALL parses
    assert kg.cypher("CALL { WITH 1 AS x RETURN x } RETURN x").first().x == 1
    # UNION inside an uncorrelated CALL compiles
    assert kg.cypher(
        "CALL { MATCH (p:Person) WHERE p.age > 78 RETURN p.name AS nm "
        "UNION MATCH (p:Person) WHERE p.age > 78 RETURN p.name AS nm } "
        "RETURN count(*) AS c").first().c > 0
    # correlated set-op subqueries run PER OUTER ROW (the threaded row
    # id joins the set op): union = out|in neighbors, dedup per row
    import pytest as _p
    u = kg.cypher(
        "MATCH (a:Person) WHERE a.age > 75 "
        "CALL { WITH a MATCH (a)-[:KNOWS]->(b:Person) RETURN b.name AS nb "
        "UNION MATCH (a)<-[:KNOWS]-(c:Person) RETURN c.name AS nb } "
        "RETURN a.name AS an, nb")
    outn = {(r.an, r.nb) for r in kg.cypher(
        "MATCH (a:Person)-[:KNOWS]->(b:Person) WHERE a.age > 75 "
        "RETURN a.name AS an, b.name AS nb").collect()}
    inn = {(r.an, r.nb) for r in kg.cypher(
        "MATCH (a:Person)<-[:KNOWS]-(c:Person) WHERE a.age > 75 "
        "RETURN a.name AS an, c.name AS nb").collect()}
    assert {(r.an, r.nb) for r in u.collect()} == (outn | inn)
    ex = kg.cypher(
        "MATCH (a:Person) WHERE a.age > 75 "
        "CALL { WITH a MATCH (a)-[:KNOWS]->(b:Person) RETURN b.name AS nb "
        "EXCEPT MATCH (a)<-[:KNOWS]-(c:Person) RETURN c.name AS nb } "
        "RETURN a.name AS an, nb")
    assert {(r.an, r.nb) for r in ex.collect()} == (outn - inn)
    # ...with aggregates or ordering inside the parts rejected clearly
    with _p.raises(CypherCompileError, match="set-op"):
        kg.cypher("MATCH (a:Person) CALL { WITH a "
                  "MATCH (a)-[:KNOWS]->(b) RETURN count(*) AS n "
                  "UNION MATCH (a)<-[:KNOWS]-(c) RETURN count(*) AS n } "
                  "RETURN n").collect()


def test_with_entity_group_key(kg, oracle):
    """WITH <entity>, <aggregate>: the entity groups on ALL its columns
    and stays a live binding afterwards (previously crashed — the
    post-aggregation select looked for one column named like the
    entity)."""
    oracle(
        kg.cypher("MATCH (a:Person)-[:KNOWS]->(b:Person) "
                  "WITH b, count(*) AS fanin "
                  "RETURN b.name AS n, fanin ORDER BY fanin DESC, n "
                  "LIMIT 5"),
        "SELECT p.name AS n, fanin FROM ("
        "SELECT dst, count(*) AS fanin FROM knows GROUP BY dst) t "
        "JOIN person p ON p.key = t.dst "
        "ORDER BY fanin DESC, n LIMIT 5")
    # ...and inside a correlated CALL with lateral ORDER BY count(*)
    r = kg.cypher(
        "MATCH (a:Person) WHERE a.age > 75 "
        "CALL { WITH a MATCH (a)-[:KNOWS]->(b:Person)-[:KNOWS]->(c) "
        "WITH b, count(*) AS fanout ORDER BY count(*) DESC, b.name "
        "LIMIT 1 RETURN b.name AS via, fanout } "
        "RETURN a.name AS an, via, fanout")
    assert r.count() > 0


def test_correlated_intersect_mutual_edges(spark):
    """Per-row INTERSECT: mutual followers only."""
    from rust_graph_db_spark import PropertyGraph

    g = PropertyGraph(spark)
    g.cypher("CREATE (a:P {name:'a'})-[:K]->(b:P {name:'b'})").collect()
    g.cypher("MATCH (a:P {name:'b'}), (b:P {name:'a'}) "
             "CREATE (a)-[:K]->(b)").collect()
    g.cypher("MATCH (a:P {name:'b'}), (c:P {name:'a'}) "
             "CREATE (a)-[:K]->(c)").collect()  # duplicate edge b->a
    df = g.cypher(
        "MATCH (a:P) CALL { WITH a "
        "MATCH (a)-[:K]->(b:P) RETURN b.name AS nb "
        "INTERSECT MATCH (a)<-[:K]-(c:P) RETURN c.name AS nb } "
        "RETURN a.name AS an, nb")
    assert sorted((r.an, r.nb) for r in df.collect()) == [
        ("a", "b"), ("b", "a")]


def test_subquery_review_fixes_2(kg):
    import pytest as _p

    from rust_graph_db_spark.compiler import CypherCompileError

    # named-path variable colliding with an outer variable is rejected
    with _p.raises(CypherCompileError, match="collides"):
        kg.cypher("MATCH (p:Person) MATCH p = (a:Person)-[:KNOWS]->(b) "
                  "RETURN 1 AS one").collect()
    # map projection of a NULL entity is NULL; postfix chains work
    row = kg.cypher(
        "MATCH (a:Person) WHERE a.age = 79 "
        "OPTIONAL MATCH (a)-[:NOPE]->(x:Person) "
        "RETURN x {.name} AS m, a {.name, .age}.age AS age LIMIT 1").first()
    assert row.m is None and row.age == 79
    # aggregate inside a map-projection value groups correctly
    r2 = kg.cypher(
        "MATCH (n:Person) RETURN n.city AS city, "
        "count(*) AS c ORDER BY city LIMIT 1").first()
    assert r2.c > 0


def test_stat_aggregates(kg, oracle):
    # stDev/stDevP/percentileCont/percentileDisc (openCypher inverse
    # distribution + dispersion aggregates; extension — the reference
    # executes only count/sum/avg/min/max, src/executor/mod.rs:686-853).
    # Floats rounded on both sides: Spark and DuckDB may differ in the
    # last ulp of a variance accumulation.
    oracle(
        kg.cypher(
            "MATCH (p:Person) RETURN p.city AS city, "
            "round(stDev(p.age), 6) AS sd, round(stDevP(p.age), 6) AS sdp, "
            "percentileCont(p.age, 0.25) AS q1, "
            "percentileDisc(p.age, 0.5) AS med "
            "ORDER BY city"),
        "SELECT city, round(stddev_samp(age), 6) AS sd, "
        "round(stddev_pop(age), 6) AS sdp, "
        "quantile_cont(age, 0.25) AS q1, "
        "(array_agg(age ORDER BY age))"
        "[greatest(CAST(ceil(0.5 * count(age)) AS INT), 1)] AS med "
        "FROM person GROUP BY city ORDER BY city")


def test_stat_aggregates_edge_cases(kg):
    # single-element group: stDev → NULL (sample), stDevP → 0.0;
    # percentileDisc(p=0) → min; global (ungrouped) form works
    r = kg.cypher(
        "MATCH (p:Person {name: 'Person7'}) "
        "RETURN stDev(p.age) AS sd, stDevP(p.age) AS sdp, "
        "percentileDisc(p.age, 0.0) AS lo").first()
    assert r.sd is None and r.sdp == 0.0 and r.lo == 27
    g = kg.cypher(
        "MATCH (p:Person) RETURN percentileCont(p.age, 0.5) AS med, "
        "percentileDisc(p.age, 1.0) AS hi").first()
    assert g.hi is not None and g.med is not None


def test_proc_call_surface(kg):
    # standalone trailing CALL returns its yield columns
    rows = kg.cypher("CALL db.labels()").collect()
    assert [r.label for r in rows] == ["Person"]
    # YIELD subset + rename + WHERE + downstream aggregation
    r = kg.cypher(
        "CALL algo.degrees('KNOWS') YIELD id, out_deg AS o "
        "WHERE o > 1 RETURN count(*) AS n").first()
    assert r.n > 0
    # pipeline continuation with ORDER BY/LIMIT
    top = kg.cypher(
        "CALL algo.pagerank('KNOWS', 5) YIELD id, rank "
        "RETURN id, rank ORDER BY rank DESC, id LIMIT 3").collect()
    assert len(top) == 3 and top[0].rank >= top[2].rank
    # mid-pipeline CALL = uncorrelated cross join
    r = kg.cypher(
        "WITH 2 AS two CALL algo.triangleCount('KNOWS') "
        "YIELD triangles RETURN two * triangles AS t2").first()
    assert r.t2 == 2 * kg.cypher(
        "CALL algo.triangleCount('KNOWS')").first().triangles


def test_proc_call_errors_and_registration(kg):
    import pytest as _p

    from rust_graph_db_spark.compiler import CypherCompileError
    from rust_graph_db_spark.functions import procedures

    with _p.raises(CypherCompileError, match="unknown procedure"):
        kg.cypher("CALL algo.nope() RETURN 1 AS one").collect()
    with _p.raises(CypherCompileError, match="does not yield"):
        kg.cypher("CALL db.labels() YIELD wat RETURN wat").collect()
    with _p.raises(CypherCompileError, match="literals"):
        kg.cypher("MATCH (p:Person) CALL algo.bfs(p.age) YIELD id "
                  "RETURN id").collect()

    def _const(graph, x):
        return graph.spark.createDataFrame([(int(x),)], "answer LONG")

    procedures.register("test.const", _const)
    assert kg.cypher("CALL test.const(42) YIELD answer "
                     "RETURN answer").first().answer == 42
    # negative literal args fold
    assert kg.cypher("CALL test.const(-7)").first().answer == -7


def test_star_projection(kg, oracle):
    # WITH * threads all bindings; RETURN * projects all variables
    oracle(
        kg.cypher(
            "MATCH (a:Person)-[r:KNOWS]->(b:Person) WHERE a.age = 25 "
            "WITH * RETURN a.name AS an, r.since AS s, b.name AS bn"),
        "SELECT 'Person' || k.src AS an, k.since AS s, "
        "'Person' || k.dst AS bn FROM knows k "
        "JOIN person p ON p.key = k.src WHERE p.age = 25")
    cols = kg.cypher(
        "MATCH (a:Person)-[r:KNOWS]->(b:Person) RETURN *").columns
    assert cols == ["a", "r", "b"]
    # star + extra item; explicit alias shadowing a bound name wins
    row = kg.cypher(
        "MATCH (p:Person {name: 'Person7'}) WITH *, p.age AS age "
        "RETURN p.name AS n, age").first()
    assert row.n == "Person7" and row.age == 27
    # DISTINCT composes with star
    n = kg.cypher(
        "MATCH (a:Person)-[:KNOWS]->(b:Person) WITH DISTINCT * "
        "RETURN count(*) AS c").first().c
    assert n > 0


def test_star_projection_errors(kg):
    import pytest as _p

    from rust_graph_db_spark.compiler import CypherCompileError

    with _p.raises(CypherCompileError, match="no variables"):
        kg.cypher("RETURN *").collect()


def test_power_operator(kg, oracle):
    r = kg.cypher("RETURN 2 ^ 10 AS p, -2 ^ 2 AS neg, 2 ^ 3 ^ 2 AS ra").first()
    # binds tighter than unary minus; right-associative; float result
    assert (r.p, r.neg, r.ra) == (1024.0, -4.0, 512.0)
    oracle(
        kg.cypher("MATCH (p:Person) WHERE p.age % 25 = 0 "
                  "RETURN p.name AS n, p.age ^ 2 AS sq"),
        "SELECT name AS n, CAST(age AS DOUBLE) ** 2 AS sq "
        "FROM person WHERE age % 25 = 0")


def test_explain_prefix(kg):
    plan = kg.cypher(
        "EXPLAIN MATCH (p:Person) WHERE p.age > 30 RETURN p.name AS n")
    lines = [r.plan for r in plan.collect()]
    assert len(lines) > 5 and any("Scan" in ln for ln in lines)
    # pushdown is visible in the formatted plan
    assert any("PushedFilters" in ln for ln in lines)
    ext = kg.cypher("EXPLAIN EXTENDED MATCH (p:Person) RETURN p.name AS n")
    assert any("Physical Plan" in r.plan for r in ext.collect())


def test_query_parameters(kg, oracle):
    # $scalar in WHERE and pattern property maps
    oracle(
        kg.cypher("MATCH (p:Person) WHERE p.age > $min AND p.city = $city "
                  "RETURN p.name AS name",
                  params={"min": 30, "city": "NYC"}),
        "SELECT name FROM person WHERE age > 30 AND city = 'NYC'")
    r = kg.cypher("MATCH (p:Person {name: $n}) RETURN p.age AS a",
                  params={"n": "Person7"}).first()
    assert r.a == 27
    # list + map params: subscript, size, IN, UNWIND
    row = kg.cypher(
        "RETURN $xs[1] AS second, size($xs) AS n, $m.k AS mk",
        params={"xs": [10, 20, 30], "m": {"k": "v"}}).first()
    assert (row.second, row.n, row.mk) == (20, 3, "v")
    s = kg.cypher("UNWIND $xs AS x RETURN sum(x) AS s",
                  params={"xs": [1, 2, 3]}).first().s
    assert s == 6
    c = kg.cypher("MATCH (p:Person) WHERE p.name IN $names "
                  "RETURN count(*) AS c",
                  params={"names": ["Person1", "Person2"]}).first().c
    assert c == 2
    # params flow into CALL {} subqueries
    row = kg.cypher(
        "MATCH (a:Person) WHERE a.name = $n "
        "CALL { WITH a MATCH (a)-[:KNOWS]->(b:Person) "
        "RETURN count(*) AS deg } RETURN deg",
        params={"n": "Person0"}).first()
    assert row.deg >= 1


def test_query_parameters_missing(kg):
    import pytest as _p

    from rust_graph_db_spark.compiler import CypherCompileError

    with _p.raises(CypherCompileError, match="missing query parameter"):
        kg.cypher("RETURN $nope AS x").collect()


def test_pattern_expression_in_where(kg, oracle):
    # bare pattern as a predicate (openCypher sugar for EXISTS)
    oracle(
        kg.cypher(
            "MATCH (a:Person) WHERE a.age > 70 "
            "AND (a)-[:KNOWS]->(:Person {city: 'NYC'}) "
            "RETURN a.name AS name"),
        "SELECT p1.name FROM person p1 WHERE p1.age > 70 AND EXISTS ("
        "SELECT 1 FROM knows k JOIN person p2 ON k.dst = p2.key "
        "WHERE k.src = p1.key AND p2.city = 'NYC')")
    # negated pattern
    oracle(
        kg.cypher(
            "MATCH (a:Person) WHERE a.age < 25 "
            "AND NOT (a)-[:KNOWS]->(:Person {active: true}) "
            "RETURN a.name AS name"),
        "SELECT p1.name FROM person p1 WHERE p1.age < 25 AND NOT EXISTS ("
        "SELECT 1 FROM knows k JOIN person p2 ON k.dst = p2.key "
        "WHERE k.src = p1.key AND p2.active)")
    # parenthesized expressions still parse as expressions
    assert kg.cypher("RETURN (1 + 2) * 3 AS x").first().x == 9


def test_timestamp_and_uuid_functions(kg):
    r = kg.cypher("RETURN timestamp() AS t, randomUUID() AS u").first()
    assert r.t > 1_700_000_000_000          # epoch milliseconds
    assert len(r.u) == 36 and r.u.count("-") == 4


def test_proc_sssp_modularity_propkeys(kg):
    # weighted SSSP from Person0's packed id over KNOWS.weight
    start = (1 << 48) | 0
    rows = kg.cypher(
        f"CALL algo.sssp({start}, 'KNOWS', 'weight') YIELD id, dist "
        "RETURN count(*) AS n, min(dist) AS mn").first()
    assert rows.n > 1 and rows.mn == 0.0
    # LPA communities + modularity in one call: one row, sane range
    q = kg.cypher("CALL algo.modularity('KNOWS', 3)").first().modularity
    assert -0.5 <= q <= 1.0
    keys = [r.propertyKey for r in kg.cypher("CALL db.propertyKeys()").collect()]
    assert "name" in keys and "since" in keys


def test_proc_harmonic_closeness(kg):
    # both centralities surface through CALL; scores are finite and the
    # best-connected vertices rank > 0
    h = kg.cypher(
        "CALL algo.harmonic('KNOWS') YIELD id, harmonic "
        "RETURN count(*) AS n, max(harmonic) AS mx").first()
    assert h.n > 1 and h.mx > 0.0
    c = kg.cypher(
        "CALL algo.closeness('KNOWS') YIELD id, closeness "
        "RETURN count(*) AS n, max(closeness) AS mx").first()
    assert c.n == h.n and 0.0 < c.mx <= 1.0


def test_proc_mis_and_graph_profile(kg):
    """r4: algo.mis yields a valid in_mis flag per vertex (some in,
    some out on the ring graph); algo.graphProfile yields the one-row
    summary with sane ranges, both composable with downstream Cypher."""
    m = kg.cypher(
        "CALL algo.mis('KNOWS', 3) YIELD id, in_mis "
        "RETURN count(*) AS n, "
        "sum(CASE WHEN in_mis THEN 1 ELSE 0 END) AS kept").first()
    assert 0 < m.kept < m.n
    p = kg.cypher("CALL algo.graphProfile('KNOWS')").first()
    assert p.n_vertices > 0 and p.n_edges > 0
    assert 0.0 <= p.density <= 1.0
    assert 0.0 <= p.reciprocity <= 1.0
    assert p.triangles == 0          # ring+chords is triangle-free


def test_proc_betweenness_exact_flag(kg, monkeypatch):
    """r5 ADVICE: the Cypher surface can force exact betweenness —
    CALL algo.betweenness(rel, sample, seed, exact) maps exact=true to
    auto_sample_threshold=None (no silent estimator switch)."""
    from rust_graph_db_spark.functions import procedures

    seen = {}
    import rust_graph_db_spark.operators.graph_algos as ga
    real = ga.betweenness_centrality

    def spy(edges, **kw):
        seen.update(kw)
        return real(edges, **kw)

    monkeypatch.setattr(ga, "betweenness_centrality", spy)
    kg.cypher("CALL algo.betweenness('KNOWS', 4, 0, true) "
              "YIELD id RETURN count(*) AS n").first()
    assert seen["auto_sample_threshold"] is None and seen["sample"] == 4
    seen.clear()
    kg.cypher("CALL algo.betweenness('KNOWS', 4) "
              "YIELD id RETURN count(*) AS n").first()
    assert seen["auto_sample_threshold"] == 4096


def test_proc_ktruss(kg):
    """r5: algo.ktruss is callable from Cypher; the knows ring+chords
    graph is triangle-free, so every truss above k=3 is empty while
    k=2 (support >= 0) keeps every edge."""
    t4 = kg.cypher(
        "CALL algo.ktruss('KNOWS', 4) YIELD u, v, support "
        "RETURN count(*) AS n").first()
    assert t4.n == 0
    t2 = kg.cypher(
        "CALL algo.ktruss('KNOWS', 2) YIELD u, v, support "
        "RETURN count(*) AS n, max(support) AS mx").first()
    assert t2.n > 0 and t2.mx == 0


def test_proc_link_predict(kg):
    """r5: algo.linkPredict from Cypher — the ring+chords graph has
    non-adjacent pairs with shared neighbors (i and i+2 share i+1);
    scores are sane and no existing edge is predicted."""
    r = kg.cypher(
        "CALL algo.linkPredict('KNOWS') YIELD u, v, cn, jac, pa "
        "RETURN count(*) AS n, min(cn) AS mncn, max(jac) AS mxj").first()
    assert r.n > 0 and r.mncn >= 1 and 0.0 < r.mxj <= 1.0


# ---------------------------------------------------- seeded var-length


def _walk_sql(lo: int, hi: int, direction: str) -> str:
    """DuckDB subquery ``(a, b, hops)`` over every simple ``*lo..hi``
    walk of the knows graph, traversing edges out, in or both ways."""
    out = "SELECT src AS s, dst AS d FROM knows"
    inn = "SELECT dst AS s, src AS d FROM knows"
    e = {"out": out, "in": inn, "both": f"{out} UNION ALL {inn}"}[direction]
    return (
        f"(WITH RECURSIVE e AS ({e}), walk AS ("
        "SELECT s AS a, d AS b, 1 AS hops, [s, d] AS vp FROM e WHERE s <> d "
        "UNION ALL SELECT w.a, e.d, w.hops + 1, list_append(w.vp, e.d) "
        "FROM walk w JOIN e ON w.b = e.s "
        f"WHERE w.hops < {hi} AND NOT list_contains(w.vp, e.d)) "
        f"SELECT a, b, hops FROM walk WHERE hops >= {lo})")


@pytest.mark.parametrize("arrow,direction,lo,hi", [
    ("-[r:KNOWS*1..2]->", "out", 1, 2),
    ("<-[r:KNOWS*1..2]-", "in", 1, 2),
    ("-[r:KNOWS*1..2]-", "both", 1, 2),
    ("-[r:KNOWS*2..3]->", "out", 2, 3),
])
def test_vle_seeded_directions(kg, oracle, arrow, direction, lo, hi):
    """The expansion starts from the inline-filtered start vertices; every
    direction and a min_hops > 1 range keep the full-walk semantics."""
    oracle(
        kg.cypher(f"MATCH (a:Person {{age: 25}}){arrow}(b:Person) "
                  "RETURN a.name AS an, b.name AS bn, length(r) AS h"),
        f"SELECT p1.name, p2.name, t.hops FROM {_walk_sql(lo, hi, direction)}"
        " t JOIN person p1 ON t.a = p1.key JOIN person p2 ON t.b = p2.key "
        "WHERE p1.age = 25")


def test_vle_start_bound_by_earlier_match(kg, oracle):
    """A start bound by an earlier clause, plain or behind LIMIT, keeps
    the full-walk semantics of the expansion."""
    walk = _walk_sql(1, 2, "out")
    oracle(
        kg.cypher("MATCH (a:Person) WHERE a.age = 25 "
                  "MATCH (a)-[r:KNOWS*1..2]->(b:Person) "
                  "RETURN a.name AS an, b.name AS bn, length(r) AS h"),
        f"SELECT p1.name, p2.name, t.hops FROM {walk} t "
        "JOIN person p1 ON t.a = p1.key JOIN person p2 ON t.b = p2.key "
        "WHERE p1.age = 25")
    oracle(
        kg.cypher("MATCH (a:Person) WITH a ORDER BY a.name LIMIT 3 "
                  "MATCH (a)-[:KNOWS*1..2]->(b:Person) "
                  "RETURN a.name AS an, b.name AS bn"),
        f"SELECT p1.name, p2.name FROM {walk} t "
        "JOIN (SELECT * FROM person ORDER BY name LIMIT 3) p1 "
        "ON t.a = p1.key JOIN person p2 ON t.b = p2.key")


def test_vle_seeds_only_an_anchored_start(kg):
    """An inline {props} filter on the path so far seeds the expansion (a
    left-semi join of the edges); a bare label scan does not, since its
    ids are the whole label and the seed would only cost a join."""
    def plan(q):
        return kg.cypher(q)._jdf.queryExecution().optimizedPlan().toString()

    assert "LeftSemi" in plan(
        "MATCH (a:Person {age: 25})-[:KNOWS*1..1]->(b) RETURN b.name")
    assert "LeftSemi" in plan(
        "MATCH (a:Person {age: 25})-[:KNOWS]->(m)-[:KNOWS*1..1]->(b) "
        "RETURN b.name")
    assert "LeftSemi" not in plan(
        "MATCH (a:Person)-[:KNOWS*1..1]->(b) RETURN b.name")
    assert "LeftSemi" not in plan(
        "MATCH (a:Person) WHERE a.age = 25 "
        "MATCH (a)-[:KNOWS*1..1]->(b) RETURN b.name")


@pytest.fixture(scope="module")
def dag_graph(spark):
    """A→B, A→C, B→D, B→E, C→E: A has no in-edges, D and E no out-edges."""
    from rust_graph_db_spark import PropertyGraph

    g = PropertyGraph(spark)
    g.cypher("CREATE (a:P {name:'A'})-[:K]->(b:P {name:'B'}), "
             "(a)-[:K]->(c:P {name:'C'}), (b)-[:K]->(d:P {name:'D'}), "
             "(b)-[:K]->(e:P {name:'E'}), (c)-[:K]->(e)").collect()
    return g


def test_optional_match_unmatched_entity_is_null(dag_graph):
    """An unmatched OPTIONAL MATCH variable is NULL, not a struct of
    nulls: count(b) skips it and b IS NULL holds."""
    r = dag_graph.cypher(
        "MATCH (a:P {name:'A'}) OPTIONAL MATCH (a)<-[:K]-(b:P) "
        "RETURN count(b) AS c, b IS NULL AS isnull, b AS b").first()
    assert (r.c, r.isnull, r.b) == (0, True, None)
    r = dag_graph.cypher(
        "MATCH (a:P {name:'B'}) OPTIONAL MATCH (a)<-[:K]-(b:P) "
        "RETURN count(b) AS c, b IS NULL AS isnull").first()
    assert (r.c, r.isnull) == (1, False)


def test_optional_match_vle_without_match(dag_graph):
    """A seeded expansion that finds nothing leaves the OPTIONAL row with
    NULL bindings for the segment and its far end."""
    rows = dag_graph.cypher(
        "MATCH (a:P) WHERE a.name IN ['B', 'D'] "
        "OPTIONAL MATCH (a)-[r:K*1..2]->(b:P) "
        "RETURN a.name AS an, count(b) AS cb, count(r) AS cr "
        "ORDER BY an").collect()
    assert [tuple(x) for x in rows] == [("B", 2, 2), ("D", 0, 0)]
    r = dag_graph.cypher(
        "MATCH (a:P {name:'E'}) OPTIONAL MATCH (a)-[r:K*2..3]-(b:P) "
        "WHERE b.name = 'nobody' RETURN a.name AS an, b IS NULL AS bn, "
        "r IS NULL AS rn").first()
    assert (r.an, r.bn, r.rn) == ("E", True, True)


def test_named_and_shortest_path_over_seeded_segment(kg, oracle):
    """Named paths and shortestPath read vpath/epath of a seeded
    segment; a start bound by an earlier MATCH gives the same paths as
    the inline-filtered start."""
    def paths(q):
        return sorted((tuple(r.ns), tuple(r.rs)) for r in kg.cypher(q).collect())

    inline = paths("MATCH p = (a:Person {name:'Person0'})-[:KNOWS*1..3]->(b) "
                   "RETURN nodes(p) AS ns, relationships(p) AS rs")
    bound = paths("MATCH (a:Person {name:'Person0'}) "
                  "MATCH p = (a)-[:KNOWS*1..3]->(b) "
                  "RETURN nodes(p) AS ns, relationships(p) AS rs")
    assert inline and bound == inline
    assert all(len(ns) == len(rs) + 1 for ns, rs in bound)
    walk = _walk_sql(1, 4, "out")
    oracle(
        kg.cypher("MATCH (a:Person {name:'Person0'}) "
                  "MATCH p = shortestPath((a)-[:KNOWS*1..4]->(b:Person)) "
                  "RETURN b.name AS bn, length(p) AS d"),
        f"SELECT p2.name, min(t.hops) FROM {walk} t "
        "JOIN person p1 ON t.a = p1.key JOIN person p2 ON t.b = p2.key "
        "WHERE p1.name = 'Person0' GROUP BY p2.name")
