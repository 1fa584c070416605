"""Cypher AST -> lazy DataFrame compiler.

The reference interprets its AST row-at-a-time over ``Vec<Row>``
(SURVEY.md §3.1); here every clause maps to declarative DataFrame
operations so Catalyst supplies predicate pushdown, column pruning,
join strategy selection, and AQE for free:

  MATCH pattern      -> per-label scans + equi-joins (V ⋈ E ⋈ V)
  multi-MATCH        -> equi-join on shared variables (standard
                        openCypher; the reference's cross-product quirk
                        §2.12-1 is deliberately NOT copied)
  OPTIONAL MATCH     -> left join on shared variables
  WHERE              -> df.filter (SQL 3-valued logic, not the
                        reference's drop-on-error quirk §2.12-2)
  WITH / RETURN      -> select / groupBy().agg() with proper implicit
                        grouping keys (quirk §2.12-4 not copied)
  ORDER/SKIP/LIMIT   -> orderBy(nulls last, §2.12-5 == DuckDB default) /
                        offset / limit
  CREATE/SET/DELETE  -> DataFrame appends / rebuilds on the PropertyGraph
                        (micro-batched MERGE analog; Delta MERGE at scale)

Variable binding model: each Cypher variable ``v`` owns a set of flat
columns ``v__<prop>`` (plus ``v__id``/``v__src``/``v__dst``/``v__label``)
so self-joins never collide and Catalyst sees plain column references.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rust_graph_db_spark.functions.scalar import compile_scalar_call
from rust_graph_db_spark.parser.ast_nodes import (
    AGGREGATE_FUNCS, Binary, CallSubquery, CaseExpr, CountSubquery, ProcCall,
    Create, Delete,
    ExistsSubquery, Foreach, FuncCall, InList, PatternComp,
    IsNull, ListComp, ListLit, Literal, MapLit, MapProj, Match, Merge,
    Param,
    NodePattern,
    OrderItem, PathPattern, Prop, Quantifier, Query, ReduceExpr, RelPattern,
    Return,
    ReturnItem, SetClause, SetItem, Subscript, Unary, UnionQuery, Unwind,
    Var, With, contains_aggregate,
)

SEP = "__"


class CypherCompileError(ValueError):
    pass


@dataclass
class Binding:
    kind: str  # 'vertex' | 'edge' | 'scalar' | 'varlength'
    label: Optional[str] = None
    cols: dict = field(default_factory=dict)  # prop -> flat column name


def _flat(var: str, col: str) -> str:
    return f"{var}{SEP}{col}"


def _qcol(name: str) -> Column:
    """Column ref for a literal output name; backtick-quote names that
    contain dots (e.g. the default RETURN key ``a.name``) so Spark does
    not parse them as struct-field access."""
    return F.col(f"`{name}`" if "." in name else name)


class _Ctx:
    """Mutable compile state: current DataFrame + variable environment."""

    def __init__(self, graph):
        self.graph = graph
        self.spark = graph.spark
        self.df: Optional[DataFrame] = None
        self.env: dict[str, Binding] = {}
        self.params: dict = {}
        # lambda-scoped variables (list comprehensions / reduce) — a
        # stack of name -> Column bindings consulted BEFORE env
        self.lambda_vars: dict[str, Column] = {}
        self._gensym = itertools.count()
        self.write_stats: dict[str, int] = {}

    def sym(self, prefix: str = "_a") -> str:
        return f"{prefix}{next(self._gensym)}"


# ------------------------------------------------------------------ type utils

def _dtype_of(df: DataFrame, name: str) -> Optional[T.DataType]:
    for f_ in df.schema.fields:
        if f_.name == name:
            return f_.dataType
    return None


def _is_string(dt) -> bool:
    return isinstance(dt, T.StringType)


def _is_integral(dt) -> bool:
    return isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))


# ------------------------------------------------------------ expression compile

def _lambda_body(ctx: _Ctx, binds: dict, body, df) -> Column:
    """Compile ``body`` with lambda variables bound — save/restore so
    nested comprehensions and shadowing behave lexically."""
    saved = {k: ctx.lambda_vars.get(k, _UNSET) for k in binds}
    ctx.lambda_vars.update(binds)
    try:
        c, _ = compile_expr(ctx, body, df)
        return c
    finally:
        for k, v in saved.items():
            if v is _UNSET:
                ctx.lambda_vars.pop(k, None)
            else:
                ctx.lambda_vars[k] = v


_UNSET = object()


def _param_lit(v):
    """Python parameter value -> (Column, DataType|None). Scalars map
    to typed literals; lists to array literals; dicts to map literals
    (string keys)."""
    if v is None:
        return F.lit(None), T.NullType()
    if isinstance(v, bool):
        return F.lit(v), T.BooleanType()
    if isinstance(v, int):
        return F.lit(v).cast("long"), T.LongType()
    if isinstance(v, float):
        return F.lit(v), T.DoubleType()
    if isinstance(v, str):
        return F.lit(v), T.StringType()
    if isinstance(v, (list, tuple)):
        if not v:
            return (F.array().cast("array<string>"),
                    T.ArrayType(T.StringType()))
        parts = [_param_lit(x) for x in v]
        et = parts[0][1]
        return (F.array(*[c for c, _ in parts]),
                T.ArrayType(et) if et is not None else None)
    if isinstance(v, dict):
        kv = []
        vt = None
        for k, x in v.items():
            kv.append(F.lit(str(k)))
            c, t = _param_lit(x)
            kv.append(c)
            vt = vt or t
        return (F.create_map(*kv),
                T.MapType(T.StringType(), vt) if vt is not None else None)
    raise CypherCompileError(
        f"unsupported parameter value type {type(v).__name__}")


def compile_expr(ctx: _Ctx, e, df: Optional[DataFrame] = None):
    """Compile an AST expression -> (Column, DataType|None)."""
    df = df if df is not None else ctx.df

    if isinstance(e, Literal):
        v = e.value
        if v is None:
            return F.lit(None), T.NullType()
        if isinstance(v, bool):
            return F.lit(v), T.BooleanType()
        if isinstance(v, int):
            return F.lit(v).cast("long"), T.LongType()
        if isinstance(v, float):
            return F.lit(v), T.DoubleType()
        return F.lit(v), T.StringType()

    if isinstance(e, Param):
        if e.name not in ctx.params:
            raise CypherCompileError(
                f"missing query parameter ${e.name} — pass it via "
                "cypher(query, params={...})")
        return _param_lit(ctx.params[e.name])

    if isinstance(e, Var):
        if e.name in ctx.lambda_vars:
            return ctx.lambda_vars[e.name], None
        b = ctx.env.get(e.name)
        if b is None:
            raise CypherCompileError(f"unbound variable: {e.name}")
        if b.kind == "scalar":
            name = b.cols["_value"]
            return _qcol(name), _dtype_of(df, name) if df is not None else None
        return _entity_struct(b), None

    if isinstance(e, Prop):
        if e.base in ctx.lambda_vars:
            c = ctx.lambda_vars[e.base]
            for pth in e.path:
                c = c.getItem(pth)
            return c, None
        b = ctx.env.get(e.base)
        if b is None:
            raise CypherCompileError(f"unbound variable: {e.base}")
        if b.kind == "scalar":
            # property access on a scalar (e.g. map/struct column)
            c = F.col(b.cols["_value"])
            for p in e.path:
                c = c.getItem(p)
            return c, None
        head = e.path[0]
        flat = b.cols.get(head)
        if flat is None:
            # missing property -> NULL (openCypher; also OPTIONAL MATCH rows)
            return F.lit(None), T.NullType()
        c = F.col(flat)
        dt = _dtype_of(df, flat) if df is not None else None
        for p in e.path[1:]:
            c = c.getItem(p)
            if isinstance(dt, T.StructType) and p in dt.fieldNames():
                dt = dt[p].dataType
            elif isinstance(dt, T.MapType):
                dt = dt.valueType
            else:
                dt = None
        return c, dt

    if isinstance(e, ListComp):
        src_c, src_t = compile_expr(ctx, e.source, df)
        if isinstance(src_t, T.NullType):
            # missing property → typeless NULL literal, which the array
            # HOFs reject at analysis; a comprehension over NULL is NULL
            return F.lit(None), T.NullType()
        col = src_c
        if e.where is not None:
            col = F.filter(col, lambda x: _lambda_body(
                ctx, {e.var: x}, e.where, df).cast("boolean"))
        if e.proj is not None:
            col = F.transform(col, lambda x: _lambda_body(
                ctx, {e.var: x}, e.proj, df))
        return col, None

    if isinstance(e, ReduceExpr):
        src_c, src_t = compile_expr(ctx, e.source, df)
        if isinstance(src_t, T.NullType):
            return F.lit(None), T.NullType()
        init_c, _ = compile_expr(ctx, e.init, df)
        return F.aggregate(
            src_c, init_c,
            lambda acc, x: _lambda_body(
                ctx, {e.acc: acc, e.var: x}, e.body, df)), None

    if isinstance(e, MapProj):
        b = ctx.env.get(e.base)
        if b is None:
            raise CypherCompileError(f"unbound variable: {e.base}")
        fields: list[tuple] = []      # (key, Column)
        structural = ("id", "src", "dst", "label") if b.kind == "edge" \
            else ("id", "label")
        for item in e.items:
            if item[0] == "all":
                if b.kind not in ("vertex", "edge"):
                    raise CypherCompileError(
                        ".* map projection requires an entity variable")
                for p in sorted(b.cols):
                    if p not in structural:
                        fields.append((p, F.col(b.cols[p])))
            elif item[0] == "prop":
                key = item[1]
                if b.kind == "scalar":
                    fields.append(
                        (key, F.col(b.cols["_value"]).getItem(key)))
                else:
                    flat = b.cols.get(key)
                    fields.append(
                        (key, F.col(flat) if flat is not None
                         else F.lit(None)))
            else:
                _, key, sub = item
                c, _ = compile_expr(ctx, sub, df)
                fields.append((key, c))
        seen: dict = {}
        for k, c in fields:           # later occurrence wins, order kept
            seen[k] = c
        struct = F.struct(*[c.alias(k) for k, c in seen.items()])
        if b.kind in ("vertex", "edge"):
            # openCypher: a map projection of a NULL entity (OPTIONAL
            # MATCH miss) is NULL, not a struct of NULL fields
            struct = F.when(F.col(b.cols["id"]).isNotNull(), struct)
        return struct, None

    if isinstance(e, ExistsSubquery):
        raise CypherCompileError(
            "EXISTS { pattern } is supported as a top-level WHERE "
            "conjunct (optionally under NOT); it cannot appear nested "
            "in other expressions or in RETURN/WITH items")

    if isinstance(e, (CountSubquery, PatternComp)):
        raise CypherCompileError(
            "COUNT { pattern } and pattern comprehensions are supported "
            "in MATCH ... WHERE and in RETURN/WITH items, not in this "
            "position")

    if isinstance(e, Quantifier):
        # all/any/none/single(x IN xs WHERE p) with openCypher 3VL.
        # Spark's exists/forall HOFs already implement the right
        # three-valued semantics (exists: true > null > false;
        # forall is the dual), so only `single` needs hand-built
        # indeterminacy: one TRUE is conclusive only when no element
        # evaluated to NULL, and >1 TRUE is conclusively false.
        src_c, src_t = compile_expr(ctx, e.source, df)
        if isinstance(src_t, T.NullType):
            # missing property compiled to a typeless NULL literal —
            # every quantifier over a NULL list is NULL
            return F.lit(None).cast("boolean"), T.BooleanType()
        pred = lambda x: _lambda_body(  # noqa: E731
            ctx, {e.var: x}, e.where, df).cast("boolean")
        if e.kind == "all":
            return F.forall(src_c, pred), T.BooleanType()
        if e.kind == "any":
            return F.exists(src_c, pred), T.BooleanType()
        if e.kind == "none":
            return ~F.exists(src_c, pred), T.BooleanType()
        ntrue = F.size(F.filter(src_c, pred))
        nnull = F.size(F.filter(src_c, lambda x: pred(x).isNull()))
        return (
            F.when(src_c.isNull(), F.lit(None).cast("boolean"))
            .when(ntrue > 1, F.lit(False))
            .when(nnull > 0, F.lit(None).cast("boolean"))
            .otherwise(ntrue == 1)), T.BooleanType()

    if isinstance(e, Unary):
        c, dt = compile_expr(ctx, e.operand, df)
        if e.op == "NOT":
            return ~c.cast("boolean"), T.BooleanType()
        if e.op == "-":
            return -c, dt
        return c, dt

    if isinstance(e, Binary):
        lc, lt = compile_expr(ctx, e.left, df)
        rc, rt = compile_expr(ctx, e.right, df)
        op = e.op
        if op == "AND":
            return lc & rc, T.BooleanType()
        if op == "OR":
            return lc | rc, T.BooleanType()
        if op == "XOR":
            return lc.cast("boolean") != rc.cast("boolean"), T.BooleanType()
        if op == "=":
            return lc == rc, T.BooleanType()
        if op == "<>":
            return lc != rc, T.BooleanType()
        if op == "<":
            return lc < rc, T.BooleanType()
        if op == ">":
            return lc > rc, T.BooleanType()
        if op == "<=":
            return lc <= rc, T.BooleanType()
        if op == ">=":
            return lc >= rc, T.BooleanType()
        if op == "+":
            if (lt and _is_string(lt)) or (rt and _is_string(rt)):
                return F.concat(lc.cast("string"), rc.cast("string")), T.StringType()
            if isinstance(lt, T.ArrayType) or isinstance(rt, T.ArrayType):
                return F.concat(lc, rc), lt or rt
            return lc + rc, _num_result(lt, rt)
        if op == "-":
            return lc - rc, _num_result(lt, rt)
        if op == "*":
            return lc * rc, _num_result(lt, rt)
        if op == "/":
            if lt is not None and rt is not None and _is_integral(lt) and _is_integral(rt):
                # Cypher/Rust integer division truncates toward zero
                return (lc / rc).cast("long"), T.LongType()
            return lc / rc, T.DoubleType()
        if op == "%":
            return lc % rc, _num_result(lt, rt)
        if op == "^":
            # openCypher exponentiation always yields a float
            return F.pow(lc, rc), T.DoubleType()
        # openCypher string predicates (extensions over the reference,
        # which has none in its grammar — cypher.pest:212-223)
        if op == "STARTS WITH":
            return lc.startswith(rc), T.BooleanType()
        if op == "ENDS WITH":
            return lc.endswith(rc), T.BooleanType()
        if op == "CONTAINS":
            return lc.contains(rc), T.BooleanType()
        if op == "=~":
            # openCypher =~ matches the WHOLE string; regexp_like is an
            # unanchored search, so anchor the pattern in a group
            return (F.regexp_like(
                lc, F.concat(F.lit("^(?:"), rc, F.lit(")$"))),
                T.BooleanType())
        raise CypherCompileError(f"unsupported operator {op}")

    if isinstance(e, IsNull):
        c, _ = compile_expr(ctx, e.operand, df)
        return (c.isNotNull() if e.negated else c.isNull()), T.BooleanType()

    if isinstance(e, InList):
        nc, _ = compile_expr(ctx, e.needle, df)
        if isinstance(e.haystack, ListLit) and all(
            isinstance(i, Literal) for i in e.haystack.items
        ):
            return nc.isin([i.value for i in e.haystack.items]), T.BooleanType()
        hc, _ = compile_expr(ctx, e.haystack, df)
        return F.array_contains(hc, nc), T.BooleanType()

    if isinstance(e, ListLit):
        cols = [compile_expr(ctx, i, df)[0] for i in e.items]
        return F.array(*cols), None

    if isinstance(e, MapLit):
        kv = []
        for k, v in e.pairs:
            kv.append(F.lit(k))
            kv.append(compile_expr(ctx, v, df)[0])
        return F.create_map(*kv), None

    if isinstance(e, Subscript):
        bc, bt = compile_expr(ctx, e.base, df)
        if isinstance(e.index, Literal) and isinstance(e.index.value, str):
            # string key: map lookup or struct-field access (getItem
            # covers both; element_at would reject structs)
            key = e.index.value
            if isinstance(bt, T.MapType):
                return bc.getItem(key), bt.valueType
            if isinstance(bt, T.StructType) and key in bt.fieldNames():
                return bc.getItem(key), bt[key].dataType
            return bc.getItem(key), None
        ic, _ = compile_expr(ctx, e.index, df)
        if isinstance(e.index, Literal) and isinstance(e.index.value, int):
            # openCypher lists are 0-based; element_at is 1-based
            return F.element_at(bc, e.index.value + 1), (
                bt.elementType if isinstance(bt, T.ArrayType) else None)
        return F.element_at(bc, ic + F.lit(1)), None

    if isinstance(e, CaseExpr):
        op = None
        if e.operand is not None:
            op, _ = compile_expr(ctx, e.operand, df)
        col = None
        rt = None
        for cond, val in e.whens:
            cc, _ = compile_expr(ctx, cond, df)
            if op is not None:
                cc = op == cc
            vc, vt = compile_expr(ctx, val, df)
            rt = rt or vt
            col = F.when(cc, vc) if col is None else col.when(cc, vc)
        if e.else_ is not None:
            ec, et = compile_expr(ctx, e.else_, df)
            rt = rt or et
            col = col.otherwise(ec)
        return col, rt

    if isinstance(e, FuncCall):
        return _compile_func(ctx, e, df)

    raise CypherCompileError(f"cannot compile expression {e!r}")


def _num_result(lt, rt):
    if isinstance(lt, T.DoubleType) or isinstance(rt, T.DoubleType):
        return T.DoubleType()
    if lt is not None and rt is not None and _is_integral(lt) and _is_integral(rt):
        return T.LongType()
    return None


def _entity_struct(b: Binding) -> Column:
    """The entity as one struct value; NULL where its key column is NULL
    (an unmatched OPTIONAL MATCH binding), so ``count(b)``, ``b IS NULL``
    and ``RETURN b`` see a null entity, not a struct of nulls."""
    return F.when(
        F.col(_key_col(b)).isNotNull(),
        F.struct(*[F.col(c).alias(p) for p, c in sorted(b.cols.items())]))


def _compile_func(ctx: _Ctx, e: FuncCall, df):
    name = e.name
    if name in AGGREGATE_FUNCS:
        raise CypherCompileError(
            f"aggregate {name}() only allowed in RETURN/WITH items")
    # graph-aware functions need the binding, not the compiled arg
    if (name == "keys" and len(e.args) == 1 and isinstance(e.args[0], Var)
            and (b := ctx.env.get(e.args[0].name)) is not None
            and b.kind in ("vertex", "edge")):
        # keys(entity): candidate names come from the binding schema,
        # but presence is PER ROW (openCypher: only properties with
        # non-null values) — essential on unlabeled matches, whose
        # union schema carries every label's columns. src/dst are
        # structural only on edges; a vertex property legitimately
        # named src or dst is a real key. Sorted for determinism
        # (openCypher leaves order unspecified).
        structural = ("id", "src", "dst", "label") if b.kind == "edge" \
            else ("id", "label")
        props = sorted(p for p in b.cols if p not in structural)
        if not props:
            return (F.array().cast("array<string>"),
                    T.ArrayType(T.StringType()))
        present = F.array(*[
            F.when(F.col(b.cols[p]).isNotNull(), F.lit(p)) for p in props])
        return (F.filter(present, lambda x: x.isNotNull()),
                T.ArrayType(T.StringType()))
    if name in ("type", "id", "labels", "properties", "startnode", "endnode", "degree"):
        if len(e.args) != 1 or not isinstance(e.args[0], Var):
            raise CypherCompileError(f"{name}() expects a single variable")
        b = ctx.env.get(e.args[0].name)
        if b is None:
            raise CypherCompileError(f"unbound variable: {e.args[0].name}")
        if name == "type":
            return F.col(b.cols["label"]), T.StringType()
        if name == "id":
            return F.col(b.cols["id"]), T.LongType()
        if name == "labels":
            return F.array(F.col(b.cols["label"])), T.ArrayType(T.StringType())
        if name == "properties":
            props = {p: c for p, c in b.cols.items()
                     if p not in ("id", "src", "dst", "label")}
            return F.struct(*[F.col(c).alias(p) for p, c in sorted(props.items())]), None
        if name == "startnode":
            return F.col(b.cols["src"]), T.LongType()
        if name == "endnode":
            return F.col(b.cols["dst"]), T.LongType()
    if name in ("length", "size") and len(e.args) == 1 and isinstance(e.args[0], Var):
        b = ctx.env.get(e.args[0].name)
        if b is not None and b.kind == "varlength":
            return F.col(b.cols["hops"]), T.IntegerType()
        if b is not None and b.kind == "path":
            return F.col(b.cols["length"]), T.LongType()
    if (name in ("nodes", "relationships") and len(e.args) == 1
            and isinstance(e.args[0], Var)
            and (b := ctx.env.get(e.args[0].name)) is not None
            and b.kind == "path"):
        if name == "nodes":
            return F.col(b.cols["nodes"]), T.ArrayType(T.LongType())
        if "rels" not in b.cols:
            raise CypherCompileError(
                "relationships(p) is unavailable on a path containing a "
                "variable-length segment (edge ids are not tracked there; "
                "use nodes(p)/length(p))")
        return F.col(b.cols["rels"]), T.ArrayType(T.LongType())
    args, dts = [], []
    for a in e.args:
        c, dt = compile_expr(ctx, a, df)
        args.append(c)
        dts.append(dt.simpleString() if dt is not None else None)
    return compile_scalar_call(name, args, dts), None


# --------------------------------------------------------------- pattern compile

def _vertex_df(ctx: _Ctx, var: str, label: Optional[str]) -> tuple:
    g = ctx.graph
    if label is not None:
        try:
            vf = g.vertex_frame(label).withColumn("label", F.lit(label))
        except KeyError:
            # unknown label: openCypher — and the reference, whose
            # label-prefix scan simply finds nothing
            # (src/executor/match_executor.rs:76-77 over
            # rocksdb_store scan_vertices) — yield an EMPTY match,
            # not an error; property accesses on the binding resolve
            # to NULL via the missing-property path
            vf = (g.spark.createDataFrame([], "id LONG")
                  .withColumn("label", F.lit(label)))
    else:
        vf = g.vertices()
    cols = {c: _flat(var, c) for c in vf.columns}
    out = vf.select(*[F.col(c).alias(fc) for c, fc in cols.items()])
    return out, Binding("vertex", label, cols)


def _edge_df(ctx: _Ctx, var: str, label: Optional[str], direction: str) -> tuple:
    """Edge frame with normalized __FROM/__TO join columns.

    out:  FROM=src TO=dst;  in: FROM=dst TO=src;  both: union of the two
    (reference 'Both' = either-endpoint resolution,
    match_executor.rs:168-178).

    Each variant reads the edge copy CO-LOCATED on its join column
    (``join_key``): off a bucketed durable snapshot the outgoing expand
    joins the src-bucketed primary and the incoming expand joins the
    dst-bucketed duplicate, so neither direction shuffles — the dual
    ``o:``/``i:`` adjacency-index access paths of the reference
    (rocksdb_store.rs:652-712) as storage-partitioned joins.
    """
    g = ctx.graph
    variants = []
    try:
        out_ef = g.edges(label) if label is not None else g.edges()
        in_ef = (lambda: g.edges(label, join_key="dst") if label is not None
                 else g.edges(join_key="dst"))
    except KeyError:
        # unknown edge label: empty match (openCypher + reference
        # semantics, same as the vertex case above); the label column
        # must exist so type(r) compiles against the empty frame
        out_ef = g.spark.createDataFrame(
            [], "id LONG, src LONG, dst LONG, label STRING")
        in_ef = lambda: out_ef  # noqa: E731
    if direction in ("out", "both"):
        variants.append(out_ef.withColumn("_FROM", F.col("src"))
                        .withColumn("_TO", F.col("dst")))
    if direction in ("in", "both"):
        efd = in_ef()
        variants.append(efd.withColumn("_FROM", F.col("dst"))
                        .withColumn("_TO", F.col("src")))
    u = variants[0]
    for v in variants[1:]:
        u = u.unionByName(v)
    cols = {c: _flat(var, c) for c in variants[0].drop("_FROM", "_TO").columns}
    sel = [F.col(c).alias(fc) for c, fc in cols.items()]
    sel += [F.col("_FROM").alias(_flat(var, "_FROM")), F.col("_TO").alias(_flat(var, "_TO"))]
    return u.select(*sel), Binding("edge", label, cols)


def _inline_filter(ctx: _Ctx, df: DataFrame, binding: Binding, props: Optional[MapLit]):
    if props is None:
        return df
    for k, vexpr in props.pairs:
        flat = binding.cols.get(k)
        if flat is None:
            # pattern asks for a property the label never has -> no match
            return df.where(F.lit(False))
        val, _ = compile_expr(ctx, vexpr, df)
        df = df.where(F.col(flat) == val)
    return df


def _compile_path(ctx: _Ctx, pat: PathPattern, hint: dict) -> tuple:
    """Compile one path pattern to (df, env_additions)."""
    items = pat.items
    env_add: dict[str, Binding] = {}

    def node_frame(np: NodePattern):
        var = np.var or ctx.sym()
        label = np.label
        if label is None:
            hb = hint.get(var) or env_add.get(var)
            if hb is not None and hb.label is not None:
                label = hb.label
        vdf, b = _vertex_df(ctx, var, label)
        vdf = _inline_filter(ctx, vdf, b, np.props)
        return var, vdf, b

    var0, df, b0 = node_frame(items[0])
    if var0 in env_add:
        raise CypherCompileError(f"duplicate node variable {var0} in one path")
    env_add[var0] = b0
    prev = var0
    node_vars = [var0]            # traversal order, for named paths
    rel_info: list[tuple] = []    # (rvar, is_varlength)
    # an inline {props} filter so far narrows the frame's ids; without
    # one they are a whole label (or every vertex), and seeding from them
    # would only add a semi-join of the full edge set
    anchored = items[0].props is not None

    for i in range(1, len(items), 2):
        rel: RelPattern = items[i]
        node: NodePattern = items[i + 1]
        rvar = rel.var or ctx.sym("_r")

        if rel.var_length is not None:
            lo, hi = rel.var_length
            hi = hi if hi is not None else max(lo, ctx.graph.max_var_length)
            from rust_graph_db_spark.operators.traversal import expand_paths

            edges = ctx.graph.edge_frame(rel.label) if rel.label else ctx.graph.edges()
            # seed with the left end's ids: the join below keeps only
            # those starts, so expanding from any other vertex is waste
            seed = df.select(_flat(prev, "id")) if anchored else None
            pairs = expand_paths(edges, seed, lo, hi, direction=rel.direction)
            pdf = pairs.select(
                F.col("a").alias(_flat(rvar, "_FROM")),
                F.col("b").alias(_flat(rvar, "_TO")),
                F.col("hops").alias(_flat(rvar, "hops")),
                F.col("vpath").alias(_flat(rvar, "vpath")),
                F.col("epath").alias(_flat(rvar, "epath")),
            )
            rb = Binding("varlength", rel.label,
                         {"hops": _flat(rvar, "hops"),
                          "vpath": _flat(rvar, "vpath"),
                          "epath": _flat(rvar, "epath")})
            df = df.join(pdf, F.col(_flat(prev, "id")) == F.col(_flat(rvar, "_FROM")))
        else:
            pdf, rb = _edge_df(ctx, rvar, rel.label, rel.direction)
            pdf = _inline_filter(ctx, pdf, rb, rel.props)
            df = df.join(pdf, F.col(_flat(prev, "id")) == F.col(_flat(rvar, "_FROM")))
            anchored = anchored or rel.props is not None
        env_add[rvar] = rb
        rel_info.append((rvar, rel.var_length is not None))

        nvar = node.var or ctx.sym()
        if nvar in env_add:
            # revisiting a vertex bound earlier in THIS path (cycle pattern
            # like (a)-[]->(b)-[]->(a)): close the cycle with a filter
            # instead of a second scan
            df = df.where(F.col(_flat(rvar, "_TO")) == F.col(env_add[nvar].cols["id"]))
        else:
            # fresh frame even if bound in an outer clause — the caller's
            # shared-column equi-join reconciles the two occurrences
            nvar, ndf, nb = node_frame(node)
            df = df.join(ndf, F.col(_flat(rvar, "_TO")) == F.col(_flat(nvar, "id")))
            env_add[nvar] = nb
            anchored = anchored or node.props is not None
        prev = nvar
        node_vars.append(nvar)

    # internal join columns stay in the frame but out of bindings; drop the
    # _FROM/_TO helpers now that joins are done
    helper = [c for c in df.columns if c.endswith(f"{SEP}_FROM") or c.endswith(f"{SEP}_TO")]
    if helper:
        df = df.drop(*helper)

    if pat.var is not None or pat.shortest is not None:
        # Named path p = ...: materialize the GraphPath as columns —
        # nodes (vertex-id array in traversal order), length (hop
        # count), rels (edge-id array; NULL-omitted when a varlength
        # segment rides the path, since expand_paths tracks vertex ids
        # only). The reference's GraphPath (src/types/path.rs:23-40)
        # as data, not a runtime object.
        pvar = pat.var or ctx.sym("_p")
        if pvar in env_add or pvar in hint:
            # openCypher: 'p already declared' — silently merging would
            # equi-join the outer binding's key against the path length
            raise CypherCompileError(
                f"path variable {pvar} collides with an existing "
                "variable")
        nodes = F.array(F.col(_flat(node_vars[0], "id")))
        length = F.lit(0).cast("long")
        rel_segs = []          # per-segment ARRAY<LONG> of edge ids
        for (rvar, vl), nvar in zip(rel_info, node_vars[1:]):
            if vl:
                vp = F.col(_flat(rvar, "vpath"))
                # vpath is [prev .. nvar] inclusive; skip its head,
                # which `nodes` already ends with
                nodes = F.concat(nodes, F.slice(
                    vp, F.lit(2), F.greatest(F.size(vp) - 1, F.lit(0))))
                length = length + F.col(_flat(rvar, "hops"))
                # expand_paths tracks edge ids since r3-s5 (the
                # reference GraphPath's edge list, path.rs:23-40)
                rel_segs.append(F.col(_flat(rvar, "epath")))
            else:
                nodes = F.concat(
                    nodes, F.array(F.col(_flat(nvar, "id"))))
                length = length + F.lit(1)
                rel_segs.append(F.array(F.col(_flat(rvar, "id"))))
        pcols = {"length": _flat(pvar, "length"),
                 "nodes": _flat(pvar, "nodes"),
                 "rels": _flat(pvar, "rels")}
        df = df.withColumn(pcols["length"], length) \
               .withColumn(pcols["nodes"], nodes) \
               .withColumn(pcols["rels"],
                           F.concat(*rel_segs) if rel_segs
                           else F.array().cast("array<long>"))
        if pat.shortest is not None:
            # shortestPath()/allShortestPaths(): keep only min-length
            # rows PER ENDPOINT PAIR — the expansion already enumerated
            # candidate paths, so shortest-ness is a window filter
            # partitioned on (start id, end id). "one" additionally
            # picks the lexicographically-smallest node list so the
            # survivor is deterministic (openCypher leaves the choice
            # unspecified). Scale: the window shuffles on the endpoint
            # pair — the same key the expansion already produced.
            from pyspark.sql import Window as W

            a_id = F.col(_flat(node_vars[0], "id"))
            b_id = F.col(_flat(node_vars[-1], "id"))
            win = W.partitionBy(a_id, b_id)
            mlen = ctx.sym("_minlen")
            df = (df.withColumn(mlen, F.min(F.col(pcols["length"])).over(win))
                  .where(F.col(pcols["length"]) == F.col(mlen)).drop(mlen))
            if pat.shortest == "one":
                rn = ctx.sym("_rn")
                pick = W.partitionBy(a_id, b_id).orderBy(
                    F.col(pcols["nodes"]))
                df = (df.withColumn(rn, F.row_number().over(pick))
                      .where(F.col(rn) == 1).drop(rn))
        if pat.var is not None:
            env_add[pat.var] = Binding("path", None, pcols)
    return df, env_add


def _key_col(b: Binding) -> str:
    if b.kind in ("vertex", "edge"):
        return b.cols["id"]
    if b.kind == "varlength":
        return b.cols["hops"]
    if b.kind == "path":
        return b.cols["length"]
    return b.cols["_value"]


def _merge_frames(left: DataFrame, lenv: dict, right: DataFrame, renv: dict,
                  how: str) -> tuple:
    """Join two binding frames on the IDENTITY of shared variables.

    Shared entity vars join on their id column ONLY — never on property
    columns: nullable props under SQL equality (NULL = NULL -> NULL)
    would silently drop rows. The right side's duplicate columns are
    renamed away and dropped after the join.
    """
    shared = [v for v in renv if v in lenv]
    if not shared:
        return left.crossJoin(right), {**lenv, **renv}
    ren = {}
    for v in shared:
        for p, c in renv[v].cols.items():
            ren[c] = f"{c}__R"
    right_r = right.select(*[F.col(c).alias(ren.get(c, c)) for c in right.columns])
    cond = None
    for v in shared:
        k = ren[_key_col(renv[v])]
        c = F.col(_key_col(lenv[v])) == F.col(k)
        cond = c if cond is None else (cond & c)
    joined = left.join(right_r, cond, how).drop(*ren.values())
    env = dict(lenv)
    for v, b in renv.items():
        env.setdefault(v, b)
    return joined, env


def _contains_count_subquery(e) -> bool:
    if isinstance(e, (CountSubquery, PatternComp)):
        return True
    if isinstance(e, Unary):
        return _contains_count_subquery(e.operand)
    if isinstance(e, Binary):
        return (_contains_count_subquery(e.left)
                or _contains_count_subquery(e.right))
    if isinstance(e, IsNull):
        return _contains_count_subquery(e.operand)
    if isinstance(e, InList):
        return (_contains_count_subquery(e.needle)
                or _contains_count_subquery(e.haystack))
    if isinstance(e, FuncCall):
        return any(_contains_count_subquery(a) for a in e.args)
    if isinstance(e, ListLit):
        return any(_contains_count_subquery(i) for i in e.items)
    if isinstance(e, CaseExpr):
        return (
            (e.operand is not None and _contains_count_subquery(e.operand))
            or any(_contains_count_subquery(c) or _contains_count_subquery(v)
                   for c, v in e.whens)
            or (e.else_ is not None and _contains_count_subquery(e.else_)))
    if isinstance(e, MapProj):
        return any(_contains_count_subquery(item[2]) for item in e.items
                   if item[0] == "expr")
    return False


def _split_and(e) -> list:
    """Flatten a top-level AND tree into its conjuncts."""
    if isinstance(e, Binary) and e.op == "AND":
        return _split_and(e.left) + _split_and(e.right)
    return [e]


def _apply_exists(ctx: _Ctx, sub: ExistsSubquery, anti: bool) -> None:
    """EXISTS {...} as a WHERE conjunct → left-semi join (NOT EXISTS →
    left-anti) of the pipeline against the correlated inner match.

    The pipeline gets a pinned row id (localCheckpoint — the id column
    is referenced on BOTH sides of the join, and an unpinned
    monotonically_increasing_id could be recomputed with different
    values per branch); the inner pattern compiles through the normal
    match path with the OUTER env visible, so shared variables
    correlate as ordinary equi-joins — the openCypher correlated
    subquery is exactly Spark's semi-join shape, no subquery expression
    machinery needed. Scale: the semi join shuffles only the row id +
    join keys of the inner side.
    """
    if ctx.df is None:
        raise CypherCompileError(
            "EXISTS {} requires an enclosing MATCH pipeline")
    rid = ctx.sym("_rid")
    base = (ctx.df.withColumn(rid, F.monotonically_increasing_id())
            .localCheckpoint(eager=True))
    saved_env = dict(ctx.env)
    ctx.df = base
    try:
        _apply_match(ctx, Match(sub.patterns, sub.where, False))
        matched = ctx.df.select(rid).distinct()
    finally:
        ctx.env = saved_env
    ctx.df = base.join(matched, rid,
                       "left_anti" if anti else "left_semi").drop(rid)


def _materialize_count(ctx: _Ctx, sub: CountSubquery) -> str:
    """COUNT {...} → a per-row count COLUMN joined onto the pipeline:
    pin a row id, run the inner match with the outer env visible,
    groupBy(rid).count(), left join back, absent rows count 0. Returns
    the column name; the expression tree then references it as an
    ordinary scalar, so COUNT {} works in any expression position
    (WHERE comparisons, RETURN items, arithmetic)."""
    if ctx.df is None:
        raise CypherCompileError(
            "COUNT {} requires an enclosing MATCH pipeline")
    rid = ctx.sym("_rid")
    cname = ctx.sym("_cnt")
    base = (ctx.df.withColumn(rid, F.monotonically_increasing_id())
            .localCheckpoint(eager=True))
    saved_env = dict(ctx.env)
    ctx.df = base
    try:
        _apply_match(ctx, Match(sub.patterns, sub.where, False))
        counts = ctx.df.groupBy(rid).agg(F.count(F.lit(1)).alias(cname))
    finally:
        ctx.env = saved_env
    ctx.df = (base.join(counts, rid, "left")
              .withColumn(cname, F.coalesce(F.col(cname), F.lit(0)))
              .drop(rid))
    return cname


def _materialize_pattern_comp(ctx: _Ctx, sub: PatternComp) -> str:
    """[ pattern WHERE p | proj ] → a per-row ARRAY column: pin a row
    id, run the inner match, compile ``proj`` in the inner scope,
    sort_array(collect_list(...)) per rid (openCypher leaves element
    order unspecified; sorting makes results deterministic and
    oracle-able), left join back, no-match rows get []."""
    if ctx.df is None:
        raise CypherCompileError(
            "a pattern comprehension requires an enclosing MATCH pipeline")
    rid = ctx.sym("_rid")
    cname = ctx.sym("_pc")
    base = (ctx.df.withColumn(rid, F.monotonically_increasing_id())
            .localCheckpoint(eager=True))
    saved_env = dict(ctx.env)
    ctx.df = base
    try:
        _apply_match(ctx, Match((sub.pattern,), sub.where, False))
        proj_c, _ = compile_expr(ctx, sub.proj)
        lists = (ctx.df.select(F.col(rid), proj_c.alias(cname))
                 .groupBy(rid)
                 .agg(F.sort_array(F.collect_list(cname)).alias(cname)))
    finally:
        ctx.env = saved_env
    empty = F.array().cast(lists.schema[cname].dataType.simpleString())
    ctx.df = (base.join(lists, rid, "left")
              .withColumn(cname, F.coalesce(F.col(cname), empty))
              .drop(rid))
    return cname


def _rewrite_count_subqueries(ctx: _Ctx, e):
    """Replace every COUNT {...} / pattern-comprehension node in an
    expression tree with a Var over its materialized column (see
    _materialize_count / _materialize_pattern_comp)."""
    def walk(x):
        if isinstance(x, (CountSubquery, PatternComp)):
            name = (_materialize_count(ctx, x)
                    if isinstance(x, CountSubquery)
                    else _materialize_pattern_comp(ctx, x))
            ctx.env[name] = Binding("scalar", None, {"_value": name})
            return Var(name)
        if isinstance(x, Unary):
            return Unary(x.op, walk(x.operand))
        if isinstance(x, Binary):
            return Binary(x.op, walk(x.left), walk(x.right))
        if isinstance(x, IsNull):
            return IsNull(walk(x.operand), x.negated)
        if isinstance(x, InList):
            return InList(walk(x.needle), walk(x.haystack))
        if isinstance(x, FuncCall):
            return FuncCall(x.name, tuple(walk(a) for a in x.args),
                            x.distinct, x.star)
        if isinstance(x, ListLit):
            return ListLit(tuple(walk(i) for i in x.items))
        if isinstance(x, CaseExpr):
            return CaseExpr(
                walk(x.operand) if x.operand is not None else None,
                tuple((walk(c), walk(v)) for c, v in x.whens),
                walk(x.else_) if x.else_ is not None else None)
        if isinstance(x, MapProj):
            return MapProj(x.base, tuple(
                ("expr", item[1], walk(item[2])) if item[0] == "expr"
                else item for item in x.items))
        return x

    return walk(e)


def _apply_match(ctx: _Ctx, m: Match) -> None:
    hint = dict(ctx.env)
    pdf_all, penv_all = None, {}
    for pat in m.patterns:
        pdf, penv = _compile_path(ctx, pat, {**hint, **penv_all})
        if pdf_all is None:
            pdf_all, penv_all = pdf, penv
        else:
            pdf_all, penv_all = _merge_frames(pdf_all, penv_all, pdf, penv, "inner")

    if m.optional and m.where is not None:
        # WHERE belongs to the optional pattern: filter before the left join
        tmp_env = dict(ctx.env)
        ctx.env.update(penv_all)
        cond, _ = compile_expr(ctx, m.where, pdf_all)
        pdf_all = pdf_all.where(cond)
        ctx.env = tmp_env

    if ctx.df is None:
        ctx.df = pdf_all
        ctx.env.update(penv_all)
    else:
        how = "left" if m.optional else "inner"
        ctx.df, ctx.env = _merge_frames(ctx.df, ctx.env, pdf_all, penv_all, how)

    if m.where is not None and not m.optional:
        residual = []
        for conj in _split_and(_rewrite_count_subqueries(ctx, m.where)):
            if isinstance(conj, ExistsSubquery):
                _apply_exists(ctx, conj, anti=False)
            elif (isinstance(conj, Unary) and conj.op == "NOT"
                    and isinstance(conj.operand, ExistsSubquery)):
                _apply_exists(ctx, conj.operand, anti=True)
            else:
                residual.append(conj)
        if residual:
            cond = residual[0]
            for r in residual[1:]:
                cond = Binary("AND", cond, r)
            c, _ = compile_expr(ctx, cond)
            ctx.df = ctx.df.where(c)


# ----------------------------------------------------------------- projection

def _expr_name(e) -> str:
    if isinstance(e, Var):
        return e.name
    if isinstance(e, Prop):
        return ".".join((e.base,) + e.path)
    if isinstance(e, FuncCall):
        inner = "*" if e.star else ", ".join(_expr_name(a) for a in e.args)
        d = "DISTINCT " if e.distinct else ""
        return f"{e.name}({d}{inner})"
    if isinstance(e, Literal):
        return repr(e.value)
    return "expr"


def _compile_aggregate(ctx: _Ctx, e: FuncCall, df) -> Column:
    if e.name == "count":
        if e.star:
            return F.count(F.lit(1))
        c, _ = compile_expr(ctx, e.args[0], df)
        return F.count_distinct(c) if e.distinct else F.count(c)
    c, _ = compile_expr(ctx, e.args[0], df)
    if e.name in ("percentilecont", "percentiledisc"):
        # openCypher inverse-distribution aggregates. Cont = linear
        # interpolation (Spark's exact `percentile`); disc = Neo4j
        # nearest-rank: the element at 1-indexed rank ceil(p * n),
        # p = 0 → min. Disc is computed from the sorted group array so
        # Spark and the DuckDB oracle share one definition; group
        # cardinality is the unit of memory (document for huge groups).
        if len(e.args) != 2:
            raise CypherCompileError(f"{e.name}() takes (expr, percentile)")
        if e.distinct:
            raise CypherCompileError(f"DISTINCT not supported for {e.name}()")
        p, _ = compile_expr(ctx, e.args[1], df)
        if e.name == "percentilecont":
            return F.percentile(c, p)
        arr = F.sort_array(F.collect_list(c))
        idx = F.greatest(
            F.ceil(p * F.count(c)).cast("int") - F.lit(1), F.lit(0))
        return F.get(arr, idx)
    if e.distinct:
        if e.name == "sum":
            return F.sum_distinct(c)
        if e.name == "collect":
            return F.collect_set(c)
        if e.name in ("min", "max"):
            pass  # DISTINCT is a no-op for min/max
        else:
            raise CypherCompileError(f"DISTINCT not supported for {e.name}()")
    if e.name == "sum":
        return F.sum(c)
    if e.name == "avg":
        return F.avg(c)
    if e.name == "min":
        return F.min(c)
    if e.name == "max":
        return F.max(c)
    if e.name == "collect":
        return F.collect_list(c)
    if e.name == "stdev":
        return F.stddev_samp(c)
    if e.name == "stdevp":
        return F.stddev_pop(c)
    raise CypherCompileError(f"unknown aggregate {e.name}")


def _split_aggregates(e, counter):
    """Replace aggregate sub-calls with scalar Var placeholders.

    Returns (rewritten_expr, [(placeholder_name, FuncCall), ...]) so that
    ``count(*) + 1`` compiles to agg then post-select arithmetic.
    """
    found = []

    def walk(x):
        if isinstance(x, FuncCall) and x.name in AGGREGATE_FUNCS:
            name = f"_agg{next(counter)}"
            found.append((name, x))
            return Var(name)
        if isinstance(x, Unary):
            return Unary(x.op, walk(x.operand))
        if isinstance(x, Binary):
            return Binary(x.op, walk(x.left), walk(x.right))
        if isinstance(x, IsNull):
            return IsNull(walk(x.operand), x.negated)
        if isinstance(x, InList):
            return InList(walk(x.needle), walk(x.haystack))
        if isinstance(x, FuncCall):
            return FuncCall(x.name, tuple(walk(a) for a in x.args), x.distinct, x.star)
        if isinstance(x, ListLit):
            return ListLit(tuple(walk(i) for i in x.items))
        if isinstance(x, CaseExpr):
            return CaseExpr(
                walk(x.operand) if x.operand is not None else None,
                tuple((walk(c), walk(v)) for c, v in x.whens),
                walk(x.else_) if x.else_ is not None else None)
        if isinstance(x, MapProj):
            return MapProj(x.base, tuple(
                ("expr", item[1], walk(item[2])) if item[0] == "expr"
                else item for item in x.items))
        return x

    return walk(e), found


def _apply_projection(ctx: _Ctx, clause) -> None:
    items = clause.items
    if getattr(clause, "star", False):
        # WITH * / RETURN *: every bound (non-internal) variable, in
        # binding order, ahead of any explicitly-listed items
        star_items = tuple(
            ReturnItem(Var(n), None) for n in ctx.env
            if not n.startswith("_"))
        if not star_items and not items:
            raise CypherCompileError(
                "RETURN * / WITH * with no variables in scope")
        listed = {it.alias or _expr_name(it.expr) for it in items}
        items = tuple(it for it in star_items
                      if it.expr.name not in listed) + items
    if any(_contains_count_subquery(it.expr) for it in items):
        # materialize COUNT {} columns onto the pipeline first; the
        # rewritten items then project ordinary scalars
        items = tuple(
            ReturnItem(_rewrite_count_subqueries(ctx, it.expr), it.alias)
            for it in items)
    is_with = isinstance(clause, With)
    has_agg = any(contains_aggregate(it.expr) for it in items)
    if ctx.df is None:
        ctx.df = ctx.spark.range(1).select(F.lit(1).alias("_one"))

    df = ctx.df
    new_env: dict[str, Binding] = {}
    out_names: list[str] = []
    item_names: list[tuple] = []  # (name, expr) for ORDER BY resolution

    if not has_agg:
        select_cols: list[Column] = []
        for it in items:
            name = it.alias or _expr_name(it.expr)
            b = ctx.env.get(it.expr.name) if isinstance(it.expr, Var) else None
            if b is not None and b.kind in ("vertex", "edge", "varlength", "path"):
                if is_with:
                    newcols = {}
                    for p, c in b.cols.items():
                        nc = _flat(name, p)
                        select_cols.append(F.col(c).alias(nc))
                        newcols[p] = nc
                    new_env[name] = Binding(b.kind, b.label, newcols)
                else:
                    select_cols.append(_entity_struct(b).alias(name))
            else:
                c, _ = compile_expr(ctx, it.expr, df)
                select_cols.append(c.alias(name))
                new_env[name] = Binding("scalar", None, {"_value": name})
            out_names.append(name)
            item_names.append((name, it.expr))

        # hidden sort columns for ORDER BY expressions over pre-projection vars
        hidden = []
        for oi in clause.order_by:
            if not _order_resolvable(oi.expr, out_names, item_names, new_env):
                hname = f"_ord{len(hidden)}"
                c, _ = compile_expr(ctx, oi.expr, df)
                select_cols.append(c.alias(hname))
                hidden.append((hname, oi))
        proj = df.select(*select_cols)
    else:
        counter = itertools.count()
        group_specs = []  # (name, expr)
        agg_items = []    # (name, rewritten_expr, [(ph, call)])
        for it in items:
            name = it.alias or _expr_name(it.expr)
            if contains_aggregate(it.expr):
                rewritten, aggs = _split_aggregates(it.expr, counter)
                agg_items.append((name, rewritten, aggs))
            else:
                group_specs.append((name, it.expr))
            out_names.append(name)
            item_names.append((name, it.expr))

        key_cols = []
        group_out: dict[str, list[str]] = {}   # item name -> output cols
        for name, ge in group_specs:
            b = ctx.env.get(ge.name) if isinstance(ge, Var) else None
            if b is not None and b.kind in ("vertex", "edge", "varlength", "path"):
                if is_with:
                    # group on every column of the entity, keep the binding
                    newcols = {}
                    for p, c in b.cols.items():
                        nc = _flat(name, p)
                        key_cols.append(F.col(c).alias(nc))
                        newcols[p] = nc
                    new_env[name] = Binding(b.kind, b.label, newcols)
                    group_out[name] = list(newcols.values())
                else:
                    key_cols.append(_entity_struct(b).alias(name))
                    new_env[name] = Binding("scalar", None, {"_value": name})
                    group_out[name] = [name]
            else:
                c, _ = compile_expr(ctx, ge, df)
                key_cols.append(c.alias(name))
                new_env[name] = Binding("scalar", None, {"_value": name})
                group_out[name] = [name]

        agg_cols = []
        for name, rewritten, aggs in agg_items:
            for ph, call in aggs:
                agg_cols.append(_compile_aggregate(ctx, call, df).alias(ph))
        if not agg_cols:
            raise CypherCompileError("aggregate projection without aggregates")

        grouped = df.groupBy(*key_cols).agg(*agg_cols) if key_cols else df.agg(*agg_cols)

        # post-select to evaluate arithmetic around aggregates
        post_env = dict(new_env)
        for name, rewritten, aggs in agg_items:
            for ph, _ in aggs:
                post_env[ph] = Binding("scalar", None, {"_value": ph})
        old_env = ctx.env
        ctx.env = post_env
        agg_out = {}
        for name, rewritten, aggs in agg_items:
            c, _ = compile_expr(ctx, rewritten, grouped)
            agg_out[name] = c.alias(name)
            new_env[name] = Binding("scalar", None, {"_value": name})
        ctx.env = old_env
        # keep declared order of items; a WITH entity group key expands
        # to its flattened columns (a single _qcol(name) would be
        # unresolvable — the entity has no one output column)
        ordered = []
        for it, name in zip(items, out_names):
            if name in group_out:
                ordered.extend(_qcol(c) for c in group_out[name])
            else:
                ordered.append(agg_out[name])
        proj = grouped.select(*ordered)
        hidden = []

    # WITH ... WHERE filters the projected rows
    old_env = ctx.env
    ctx.env = {**new_env}
    if is_with and clause.where is not None:
        cond, _ = compile_expr(ctx, clause.where, proj)
        proj = proj.where(cond)

    if clause.distinct:
        proj = proj.dropDuplicates(out_names) if (not has_agg and hidden) else proj.distinct()

    # ORDER BY: NULLS LAST in both directions (== reference quirk §2.12-5
    # and DuckDB's default, so oracles agree)
    if clause.order_by:
        sort_cols = []
        for oi in clause.order_by:
            c = _resolve_order(ctx, oi.expr, out_names, item_names, proj)
            if c is None:
                hid = next((h for h, o in hidden if o is oi), None)
                if hid is None:
                    raise CypherCompileError(
                        f"cannot resolve ORDER BY expression {oi.expr!r}")
                c = F.col(hid)
            sort_cols.append(c.desc_nulls_last() if oi.desc else c.asc_nulls_last())
        proj = proj.orderBy(*sort_cols)
    if hidden:
        proj = proj.drop(*[h for h, _ in hidden])

    if clause.skip is not None:
        proj = proj.offset(clause.skip)
    if clause.limit is not None:
        proj = proj.limit(clause.limit)

    ctx.df = proj
    ctx.env = new_env


def _order_resolvable(e, out_names, item_names, new_env) -> bool:
    if isinstance(e, Var) and e.name in out_names:
        return True
    for name, ie in item_names:
        if ie == e:
            return True
    # resolvable against the projected env?
    return _vars_of(e) <= set(new_env)


def _vars_of(e) -> set:
    if isinstance(e, Var):
        return {e.name}
    if isinstance(e, Prop):
        return {e.base}
    if isinstance(e, Unary):
        return _vars_of(e.operand)
    if isinstance(e, Binary):
        return _vars_of(e.left) | _vars_of(e.right)
    if isinstance(e, IsNull):
        return _vars_of(e.operand)
    if isinstance(e, InList):
        return _vars_of(e.needle) | _vars_of(e.haystack)
    if isinstance(e, FuncCall):
        s = set()
        for a in e.args:
            s |= _vars_of(a)
        return s
    if isinstance(e, ListLit):
        s = set()
        for i in e.items:
            s |= _vars_of(i)
        return s
    if isinstance(e, Subscript):
        return _vars_of(e.base) | _vars_of(e.index)
    if isinstance(e, CaseExpr):
        s = _vars_of(e.operand) if e.operand is not None else set()
        for c, v in e.whens:
            s |= _vars_of(c) | _vars_of(v)
        if e.else_ is not None:
            s |= _vars_of(e.else_)
        return s
    return set()


def _resolve_order(ctx: _Ctx, e, out_names, item_names, proj):
    if isinstance(e, Var) and e.name in out_names:
        return _qcol(e.name)
    for name, ie in item_names:
        if ie == e:
            return _qcol(name)
    if _vars_of(e) <= set(ctx.env):
        try:
            c, _ = compile_expr(ctx, e, proj)
            return c
        except CypherCompileError:
            return None
    return None


# ------------------------------------------------------------------- DML

def _apply_create(ctx: _Ctx, clause: Create) -> None:
    from rust_graph_db_spark import dml

    dml.apply_create(ctx, clause)


def _apply_set(ctx: _Ctx, clause: SetClause) -> None:
    from rust_graph_db_spark import dml

    dml.apply_set(ctx, clause)


def _apply_delete(ctx: _Ctx, clause: Delete) -> None:
    from rust_graph_db_spark import dml

    dml.apply_delete(ctx, clause)


# ------------------------------------------------------------------- driver

def _apply_clause(ctx: _Ctx, clause) -> None:
    if isinstance(clause, Match):
        _apply_match(ctx, clause)
    elif isinstance(clause, (With, Return)):
        _apply_projection(ctx, clause)
    elif isinstance(clause, CallSubquery):
        _apply_call(ctx, clause)
    elif isinstance(clause, ProcCall):
        _apply_proc_call(ctx, clause)
    elif isinstance(clause, Foreach):
        # per-element writes: explode the list for the write clauses,
        # then RESTORE the pipeline — FOREACH never changes downstream
        # cardinality, and an empty/NULL list runs its body zero times
        # for that row (explode drops the row on the write side only)
        if ctx.df is None:
            ctx.df = ctx.spark.range(1).select(F.lit(1).alias("_one"))
        base, saved_env = ctx.df, dict(ctx.env)
        col, ordc = ctx.sym("_fe"), ctx.sym("_fp")
        c, _ = compile_expr(ctx, clause.source)
        # posexplode: the position column lets SET apply last-write-wins
        # in ITERATION order (openCypher FOREACH is ordered)
        ctx.df = base.select("*", F.posexplode(c).alias(ordc, col))
        ctx.env[clause.var] = Binding("scalar", None, {"_value": col})
        prev_ord = getattr(ctx, "foreach_ord", None)
        ctx.foreach_ord = ordc
        try:
            for wc in clause.clauses:
                _apply_clause(ctx, wc)
        finally:
            ctx.foreach_ord = prev_ord
        ctx.df, ctx.env = base, saved_env
    elif isinstance(clause, Unwind):
        if ctx.df is None:
            ctx.df = ctx.spark.range(1).select(F.lit(1).alias("_one"))
        c, _ = compile_expr(ctx, clause.expr)
        ctx.df = ctx.df.withColumn(clause.alias, F.explode(c))
        ctx.env[clause.alias] = Binding("scalar", None, {"_value": clause.alias})
    elif isinstance(clause, Create):
        _apply_create(ctx, clause)
    elif isinstance(clause, Merge):
        from rust_graph_db_spark import dml

        dml.apply_merge(ctx, clause)
    elif isinstance(clause, SetClause):
        _apply_set(ctx, clause)
    elif isinstance(clause, Delete):
        _apply_delete(ctx, clause)
    else:
        raise CypherCompileError(f"unsupported clause {clause!r}")


def _empty_group_fold(e):
    """Fold an aggregate expression to its EMPTY-GROUP value: aggregate
    calls become their zero-row constants (count→0, sum/min/max/avg→
    NULL, collect→[]) and the surrounding expression survives — so
    count(*)+1 folds to 1, coalesce(max(x), 5) to 5."""
    if isinstance(e, FuncCall) and e.name in AGGREGATE_FUNCS:
        if e.name == "count":
            return Literal(0)
        if e.name == "collect":
            return ListLit(())
        return Literal(None)
    if isinstance(e, Unary):
        return Unary(e.op, _empty_group_fold(e.operand))
    if isinstance(e, Binary):
        return Binary(e.op, _empty_group_fold(e.left),
                      _empty_group_fold(e.right))
    if isinstance(e, FuncCall):
        return FuncCall(e.name, tuple(_empty_group_fold(a) for a in e.args),
                        e.distinct, e.star)
    if isinstance(e, CaseExpr):
        return CaseExpr(
            _empty_group_fold(e.operand) if e.operand is not None else None,
            tuple((_empty_group_fold(c), _empty_group_fold(v))
                  for c, v in e.whens),
            _empty_group_fold(e.else_) if e.else_ is not None else None)
    return e


def _lateral_rank_filter(child: "_Ctx", ctx: "_Ctx", rid: str,
                         sort_cols: list, skip, limit,
                         drop_extra=()) -> None:
    """Apply per-outer-row ORDER BY/SKIP/LIMIT inside a correlated
    CALL { }: a row_number window partitioned on the threaded row id,
    filtered to (skip, skip+limit]. One window over the subquery's
    rows — no join, no extra shuffle beyond the window's partitioning
    on the id the results join back on anyway."""
    from pyspark.sql import Window as W

    if not sort_cols:
        sort_cols = [F.lit(1)]             # bare SKIP/LIMIT: stable-ish
    rn = ctx.sym("_lrn")
    child.df = child.df.withColumn(
        rn, F.row_number().over(
            W.partitionBy(F.col(rid)).orderBy(*sort_cols)))
    lo = skip or 0
    cond = F.col(rn) > lo
    if limit is not None:
        cond = cond & (F.col(rn) <= lo + limit)
    child.df = child.df.where(cond).drop(rn, *drop_extra)


def _apply_proc_call(ctx: _Ctx, pc: ProcCall) -> None:
    """CALL name(args) [YIELD ...] [WHERE ...] — invoke a registered
    procedure (functions/procedures.py). Args are literals, so the
    result is row-independent: standalone CALL seeds the pipeline,
    mid-pipeline CALL is the openCypher per-row multiplication, which
    for an uncorrelated subplan is exactly a cross join (and Spark
    broadcasts the small side)."""
    from .functions.procedures import REGISTRY

    fn = REGISTRY.get(pc.name.lower())
    if fn is None:
        raise CypherCompileError(
            f"unknown procedure {pc.name!r} — register it via "
            "rust_graph_db_spark.functions.procedures.register()")
    vals = []
    for a in pc.args:
        if isinstance(a, Literal):
            vals.append(a.value)
        elif (isinstance(a, Unary) and a.op == "-"
                and isinstance(a.operand, Literal)
                and isinstance(a.operand.value, (int, float))):
            vals.append(-a.operand.value)
        else:
            raise CypherCompileError(
                f"procedure arguments must be literals, got {a!r}")
    try:
        df = fn(ctx.graph, *vals)
    except TypeError as exc:
        raise CypherCompileError(
            f"CALL {pc.name}({', '.join(map(repr, vals))}): {exc}") from exc
    if pc.yields is not None:
        missing = [c for c, _ in pc.yields if c not in df.columns]
        if missing:
            raise CypherCompileError(
                f"procedure {pc.name} does not yield {missing}; "
                f"available: {df.columns}")
        df = df.select(*[F.col(c).alias(al or c) for c, al in pc.yields])
    clash = [c for c in df.columns if c in ctx.env]
    if clash:
        raise CypherCompileError(
            f"CALL {pc.name} output columns collide with bound "
            f"variables: {clash} (YIELD ... AS to rename)")
    ctx.df = df if ctx.df is None else ctx.df.crossJoin(df)
    for name in df.columns:
        ctx.env[name] = Binding("scalar", None, {"_value": name})
    if pc.where is not None:
        c, _ = compile_expr(ctx, pc.where)
        ctx.df = ctx.df.where(c)


def _apply_call(ctx: _Ctx, call: CallSubquery) -> None:
    """CALL { [WITH imports] ... RETURN ... } — openCypher subquery.

    Uncorrelated (no importing WITH): the subquery compiles in a fresh
    scope; with a pipeline already present the results cross-join onto
    it (every outer row sees every subquery row — the openCypher
    row-multiplication semantics), else they become the pipeline.

    Correlated (importing WITH): the pipeline gets a pinned row id;
    the child scope sees ONLY the imported bindings plus the id, the
    id is threaded through every inner projection as a hidden item —
    which also makes inner aggregation per-outer-row and inner
    DISTINCT per-outer-row, exactly the openCypher semantics — and the
    results join back on the id. The inner RETURN's ORDER BY / SKIP /
    LIMIT apply PER OUTER ROW (lateral semantics) via a rank window
    partitioned on the id; ordering on an intermediate WITH and inner
    writes are rejected with clear errors (read-only subqueries).
    """
    sub = call.query
    parts = sub.parts if isinstance(sub, UnionQuery) else (sub,)
    # (shared by the RETURN and intermediate-WITH lateral paths)
    for q in parts:
        if not q.clauses or not isinstance(q.clauses[-1], Return):
            raise CypherCompileError(
                "CALL { } subquery must end with RETURN")
        for cl in q.clauses:
            if isinstance(cl, (Create, Merge, SetClause, Delete, Foreach)):
                raise CypherCompileError(
                    "write clauses inside CALL { } are not supported")
    if call.imports is None:
        if isinstance(sub, UnionQuery):
            child_df = compile_query(ctx.graph, sub, ctx.params)
        else:
            child = _Ctx(ctx.graph)
            child._gensym = ctx._gensym      # shared: no column collisions
            child.params = ctx.params
            for cl in sub.clauses:
                _apply_clause(child, cl)
            child_df = child.df
        out_cols = child_df.columns
        clash = [c for c in out_cols if c in ctx.env]
        if clash:
            raise CypherCompileError(
                f"CALL {{ }} output columns collide with outer "
                f"variables: {clash}")
        ctx.df = (child_df if ctx.df is None
                  else ctx.df.crossJoin(child_df))
        for c in out_cols:
            ctx.env[c] = Binding("scalar", None, {"_value": c})
        return

    if ctx.df is None:
        raise CypherCompileError(
            "CALL { WITH ... } requires an enclosing pipeline")
    missing = [v for v in call.imports if v not in ctx.env]
    if missing:
        raise CypherCompileError(
            f"CALL {{ WITH ... }} imports unbound variables: {missing}")
    rid = ctx.sym("_rid")
    base = (ctx.df.withColumn(rid, F.monotonically_increasing_id())
            .localCheckpoint(eager=True))
    child = _Ctx(ctx.graph)
    child._gensym = ctx._gensym
    child.params = ctx.params
    keep: list[str] = [rid]
    for v in call.imports:
        keep.extend(ctx.env[v].cols.values())
    child.df = base.select(*dict.fromkeys(keep))
    child.env = {v: ctx.env[v] for v in call.imports}
    child.env[rid] = Binding("scalar", None, {"_value": rid})
    hidden = ReturnItem(Var(rid), rid)

    if isinstance(sub, UnionQuery):
        # Correlated set-op subquery: each part compiles with the SAME
        # threaded row id, then the set op runs over columns INCLUDING
        # the id — so UNION dedup / INTERSECT / EXCEPT are all
        # per-outer-row automatically. Scoped deliberately: no
        # aggregates and no ordering inside the parts (clear errors).
        part_dfs = []
        for q in sub.parts:
            ret_q = q.clauses[-1]
            if any(contains_aggregate(it.expr) for it in ret_q.items):
                raise CypherCompileError(
                    "aggregates inside a correlated set-op CALL { } "
                    "are not supported — aggregate outside the CALL")
            if (ret_q.order_by or ret_q.skip is not None
                    or ret_q.limit is not None
                    or any(isinstance(c, With)
                           and (c.order_by or c.skip is not None
                                or c.limit is not None)
                           for c in q.clauses)):
                raise CypherCompileError(
                    "ORDER BY / SKIP / LIMIT inside a correlated "
                    "set-op CALL { } is not supported — apply it "
                    "outside the CALL")
            pchild = _Ctx(ctx.graph)
            pchild._gensym = ctx._gensym
            pchild.params = ctx.params
            pchild.df = base.select(*dict.fromkeys(keep))
            pchild.env = {v: ctx.env[v] for v in call.imports}
            pchild.env[rid] = Binding("scalar", None, {"_value": rid})
            for cl in q.clauses:
                if isinstance(cl, With):
                    cl = With(cl.items + (hidden,), cl.distinct,
                              cl.where, cl.order_by, cl.skip, cl.limit,
                              star=cl.star)
                elif isinstance(cl, Return):
                    cl = Return(cl.items + (hidden,), cl.distinct,
                                star=cl.star)
                _apply_clause(pchild, cl)
            part_dfs.append(pchild.df)
        cols0 = part_dfs[0].columns
        for p in part_dfs[1:]:
            if sorted(p.columns) != sorted(cols0):
                raise CypherCompileError(
                    f"{sub.op.upper()} parts must return the same "
                    f"columns: {cols0} vs {p.columns}")
        out = part_dfs[0]
        for p in part_dfs[1:]:
            p = p.select(*cols0)
            if sub.op == "union":
                out = out.unionByName(p)
            elif sub.op == "intersect":
                out = out.intersectAll(p) if sub.all else out.intersect(p)
            else:
                out = out.exceptAll(p) if sub.all else out.subtract(p)
        if sub.op == "union" and not sub.all:
            out = out.dropDuplicates()
        out_cols = [c for c in out.columns if c != rid]
        clash = [c for c in out_cols if c in ctx.env]
        if clash:
            raise CypherCompileError(
                f"CALL {{ }} output columns collide with outer "
                f"variables: {clash}")
        ctx.df = base.join(out, rid, "inner").drop(rid)
        for c in out_cols:
            ctx.env[c] = Binding("scalar", None, {"_value": c})
        return

    ret0 = sub.clauses[-1]
    all_agg0 = all(contains_aggregate(it.expr) for it in ret0.items)
    # matched-group witness for the left-join fill below: count(*) is
    # never NULL on a row that came from a real aggregation group
    mark = ReturnItem(FuncCall("count", (), False, star=True), "_call_m")
    # Lateral ORDER BY key plan (non-aggregate subqueries; the
    # all-aggregate case reduces to a constant gate after the fill
    # below). A key that IS a returned item (structural AST match —
    # ORDER BY b.age where the item is `b.age AS ba`) sorts on its
    # output column; any OTHER key (ORDER BY b.age, RETURN b.name) is
    # threaded through the projection as a HIDDEN item, compiled in
    # pre-projection scope where the pattern variables are still bound
    # — openCypher's sort-by-underlying-variable semantics. Under
    # DISTINCT a hidden key would change which rows collapse, so
    # unreturned keys are a clear error there (Neo4j agrees).
    lateral = (not all_agg0 and (ret0.order_by or ret0.skip is not None
                                 or ret0.limit is not None))
    sort_specs: list[tuple[str, bool]] = []   # (output column, desc)
    extra_sort_items: list[ReturnItem] = []
    if lateral and ret0.order_by:
        by_ast = {it.expr: (it.alias or _expr_name(it.expr))
                  for it in ret0.items}
        for it in ret0.items:              # ORDER BY ba (alias ref)
            if it.alias:
                by_ast.setdefault(Var(it.alias), it.alias)
        for oi in ret0.order_by:
            if oi.expr in by_ast:
                sort_specs.append((by_ast[oi.expr], oi.desc))
            elif ret0.distinct:
                raise CypherCompileError(
                    "ORDER BY under RETURN DISTINCT inside a correlated "
                    "CALL { } must reference a returned item — other "
                    "keys are not well-defined after duplicate removal")
            else:
                nm = ctx.sym("_lsk")
                extra_sort_items.append(ReturnItem(oi.expr, nm))
                sort_specs.append((nm, oi.desc))
    for cl in sub.clauses:
        if isinstance(cl, With):
            # intermediate-WITH ORDER BY / SKIP / LIMIT is ALSO lateral
            # (per outer row): strip the ordering from the clause and
            # re-apply it as a rank window on the threaded row id right
            # after the projection. Sort keys over PROJECTED items
            # compile against the post-WITH scope; keys over
            # pre-projection variables thread through as hidden items
            # (rejected under DISTINCT, where a hidden column would
            # change which rows collapse).
            w_lat = (cl.order_by or cl.skip is not None
                     or cl.limit is not None)
            w_hidden: list[ReturnItem] = []
            w_plan: list[tuple] = []       # (hidden-name | None, OrderItem)
            if w_lat:
                names = {it.alias or _expr_name(it.expr)
                         for it in cl.items}
                by_item = {it.expr: (it.alias or _expr_name(it.expr))
                           for it in cl.items}
                for oi in cl.order_by:
                    if oi.expr in by_item:
                        # structural match to a projected item (incl.
                        # aggregates, which cannot recompile post-hoc)
                        w_plan.append((by_item[oi.expr], oi))
                    elif _vars_of(oi.expr) <= names:
                        w_plan.append((None, oi))
                    elif cl.distinct:
                        raise CypherCompileError(
                            "ORDER BY under WITH DISTINCT inside a "
                            "correlated CALL { } must reference a "
                            "projected item")
                    else:
                        nm = ctx.sym("_lsk")
                        w_hidden.append(ReturnItem(oi.expr, nm))
                        w_plan.append((nm, oi))
            cl2 = With(cl.items + (hidden, *w_hidden), cl.distinct,
                       cl.where, (), None, None, star=cl.star)
            _apply_clause(child, cl2)
            if w_lat:
                sort_cols = []
                for nm, oi in w_plan:
                    c = _qcol(nm) if nm else compile_expr(child, oi.expr)[0]
                    sort_cols.append(c.desc_nulls_last() if oi.desc
                                     else c.asc_nulls_last())
                _lateral_rank_filter(
                    child, ctx, rid, sort_cols, cl.skip, cl.limit,
                    drop_extra=[it.alias for it in w_hidden])
                for it in w_hidden:
                    child.env.pop(it.alias, None)
            continue
        if isinstance(cl, Return):
            # strip ORDER/SKIP/LIMIT — they are applied PER OUTER ROW
            # below (openCypher lateral semantics), not globally
            extra = ((hidden, mark) if all_agg0
                     else (hidden, *extra_sort_items))
            cl = Return(cl.items + extra, cl.distinct, star=cl.star)
        _apply_clause(child, cl)
    if lateral:
        sort_cols = [(_qcol(nm).desc_nulls_last() if desc
                      else _qcol(nm).asc_nulls_last())
                     for nm, desc in sort_specs]
        _lateral_rank_filter(
            child, ctx, rid, sort_cols, ret0.skip, ret0.limit,
            drop_extra=[it.alias for it in extra_sort_items])
    out_cols = [c for c in child.df.columns if c not in (rid, "_call_m")]
    clash = [c for c in out_cols if c in ctx.env]
    if clash:
        raise CypherCompileError(
            f"CALL {{ }} output columns collide with outer "
            f"variables: {clash}")
    ret = sub.clauses[-1]
    all_agg = all(contains_aggregate(it.expr) for it in ret.items)
    # A global aggregation always yields one row per outer row in
    # openCypher — even over zero matches — so join left and fill the
    # unmatched rows with each item's EMPTY-GROUP value, computed by
    # folding the aggregate calls to their empty-group constants
    # (count→0, sum/min/max/avg→NULL, collect→[]) and compiling the
    # residual expression: count(*)+1 over no matches is 1, not NULL.
    ctx.df = base.join(child.df, rid, "left" if all_agg else "inner") \
                 .drop(rid)
    if all_agg:
        for it in ret.items:
            name = it.alias or _expr_name(it.expr)
            fill, _ = compile_expr(ctx, _empty_group_fold(it.expr))
            ctx.df = ctx.df.withColumn(
                name, F.when(F.col("_call_m").isNull(), fill)
                       .otherwise(_qcol(name)))
        ctx.df = ctx.df.drop("_call_m")
        if ret.skip is not None or ret.limit is not None:
            # lateral SKIP/LIMIT over the aggregate's output: the
            # subquery yields EXACTLY one row per outer row (the fill
            # above supplies it for zero-match rows), so the window
            # reduces to a constant gate — row 1 survives iff skip = 0
            # and limit ≥ 1; otherwise the subquery yields no rows and
            # openCypher drops the OUTER row too (SKIP 1 / LIMIT 0 on
            # an aggregate subquery empties the whole result).
            lo = ret.skip or 0
            if lo >= 1 or (ret.limit is not None and lo + ret.limit < 1):
                ctx.df = ctx.df.where(F.lit(False))
    for c in out_cols:
        if c != "_call_m":
            ctx.env[c] = Binding("scalar", None, {"_value": c})


def compile_query(graph, query, params: dict = None) -> DataFrame:
    if isinstance(query, UnionQuery):
        parts = [compile_query(graph, p, params) for p in query.parts]
        cols = parts[0].columns
        for p in parts[1:]:
            if p.columns != cols:
                raise CypherCompileError(
                    f"{query.op.upper()} parts must return the same "
                    f"columns: {cols} vs {p.columns}")
        out = parts[0]
        for p in parts[1:]:
            if query.op == "union":
                out = out.unionByName(p)
            elif query.op == "intersect":
                out = out.intersectAll(p) if query.all else out.intersect(p)
            elif query.op == "except":
                out = out.exceptAll(p) if query.all else out.subtract(p)
            else:
                raise CypherCompileError(f"unknown set op {query.op!r}")
        if query.op == "union" and not query.all:
            return out.dropDuplicates()
        return out
    ctx = _Ctx(graph)
    ctx.params = dict(params or {})
    last = None
    for clause in query.clauses:
        _apply_clause(ctx, clause)
        last = clause

    if isinstance(last, (Return, ProcCall)):
        # standalone trailing CALL proc() implicitly returns its yield
        # columns (Neo4j behavior)
        return ctx.df
    # write-only query: return a one-row summary
    stats = ctx.write_stats or {"rows": 0}
    return ctx.spark.createDataFrame(
        [tuple(stats.values())], list(stats.keys()))
