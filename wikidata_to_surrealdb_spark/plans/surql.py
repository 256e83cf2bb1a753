"""SurrealQL -> Spark mini-translator (SURVEY §4.3, optional surface).

Covers the SurrealQL actually used by the reference — every construct in
`Useful queries.md`, `tests/data/test_filter.surql`, and the
`integration.rs` driver queries (the B1-B16 inventory of SURVEY §2):

- ``SELECT fields FROM source [WHERE cond] [LIMIT n]`` with ``*``,
  computed path expressions, and ``AS`` aliases;
- record-link traversal ``claims.claims`` (Entity/Property/Lexeme ->
  Claims implicit join, compiled to :func:`...functions.link_join`);
- array lambda filter ``claims[WHERE id = Property:1113]`` (comparison
  on the full (tb, id) struct — main claims live under tb='Property',
  flattened qualifiers under tb='Claims', reference tables.rs:81-94);
- variant path projection ``.value.ClaimValueData.Quantity.amount``
  (maps crate variant names onto the normalized union schema; mapping
  over an array drops non-matching-variant NULLs, the reference's
  path-collect semantics);
- ``[0]`` indexing (arrays: 0-based element; result sets: first row);
- empty-array predicate ``== []`` / ``!= []``;
- ``LET $x = ...`` / ``RETURN ...`` scripts, subfield fan-out
  ``(SELECT id FROM $del).id``;
- ``DELETE $ids`` (id-set delete routed to each table by the record
  id's tb — Entity ids delete Entity rows, Claims ids delete Claims
  rows, exactly like SurrealDB record-id deletes);
- ``UPDATE t SET f = expr [WHERE cond]``;
- ``DEFINE TABLE name ... AS SELECT ...`` (temp view over the env);
- ``DEFINE ANALYZER ... TOKENIZERS blank FILTERS lowercase, ascii,
  snowball(english)`` (validated against the analyzer the engine
  implements: operators/text.py analyze_text(stemmer='snowball'));
- ``count(SELECT ...)`` and scalar extraction ``(SELECT ...)[0].f``.

Everything compiles to the same DataFrame plans the idiomatic catalog
queries use — the translator is a front end, not a second engine — so
Catalyst sees ordinary filters/joins/higher-order functions and every
scale property of the hand-written plans carries over. Mutations follow
the immutable-rewrite idiom (operators/mutations.py): the statement
returns/updates the *environment's* DataFrames; persisting is the
caller's choice.

Deliberately NOT covered (nothing in the reference uses them): JOIN
syntax, GROUP BY, ORDER BY, transactions, graph edges (``->``
relations), live queries.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from wikidata_to_surrealdb_spark import schemas


class SurqlError(ValueError):
    """Parse or compile error, with position context."""


# crate variant name (README.md:110-118 ClaimValueData) -> normalized
# union branch (schemas.py CLAIM_VALUE): the branch name without '_'
_VARIANTS = {
    f.name.replace("_", ""): f.name for f in schemas.CLAIM_VALUE.fields if f.name != "kind"
}

_TOKEN_RE = re.compile(
    r"""
    \s+|\#[^\n]*                                  # whitespace / comments
    |(?P<str>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*') # string literal
    |(?P<num>\d+\.\d+|\d+)                        # number
    |(?P<var>\$[A-Za-z_][A-Za-z0-9_]*)            # $param
    |(?P<op>==|!=|<=|>=|[=<>(),;:\[\].*])         # operators
    |(?P<word>[A-Za-z_][A-Za-z0-9_]*)             # keyword / ident
    """,
    re.VERBOSE,
)

_KEYWORDS = {
    "select", "from", "where", "as", "let", "return", "delete", "update",
    "set", "define", "table", "analyzer", "tokenizers", "filters", "and",
    "or", "limit", "count", "type", "normal", "overwrite",
}


def _tokenize(src: str) -> list[tuple[str, str, int]]:
    out, pos = [], 0
    while pos < len(src):
        m = _TOKEN_RE.match(src, pos)
        if not m:
            raise SurqlError(f"unexpected character {src[pos]!r} at {pos}")
        pos = m.end()
        if m.lastgroup is None:
            continue  # whitespace / comment
        text = m.group(m.lastgroup)
        kind = m.lastgroup
        if kind == "word" and text.lower() in _KEYWORDS:
            kind, text = "kw", text.lower()
        out.append((kind, text, m.start()))
    out.append(("eof", "", len(src)))
    return out


# --- AST -------------------------------------------------------------------


@dataclass
class Lit:
    value: object  # str | float | int


@dataclass
class EmptyArray:
    pass


@dataclass
class Var:
    name: str


@dataclass
class Ident:
    name: str


@dataclass
class RecordId:
    tb: str
    id: int


@dataclass
class FieldAccess:
    base: object
    name: str


@dataclass
class ArrayFilter:
    base: object
    cond: object


@dataclass
class Index:
    base: object
    i: int


@dataclass
class BinOp:
    op: str
    left: object
    right: object


@dataclass
class CountOf:
    query: object


@dataclass
class Select:
    fields: list  # (expr|'*', alias|None)
    source: object  # Ident | Var | Select
    where: object | None
    limit: int | None


@dataclass
class Let:
    name: str
    expr: object


@dataclass
class Return:
    expr: object


@dataclass
class Delete:
    expr: object


@dataclass
class Update:
    table: str
    sets: list  # (name, expr)
    where: object | None


@dataclass
class DefineTable:
    name: str
    query: object


@dataclass
class DefineAnalyzer:
    name: str
    tokenizers: list = field(default_factory=list)
    filters: list = field(default_factory=list)


class _Parser:
    def __init__(self, src: str):
        self.toks = _tokenize(src)
        self.i = 0

    def peek(self, k: int = 0):
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, kind: str, text: str | None = None):
        k, tx, pos = self.next()
        if k != kind or (text is not None and tx != text):
            raise SurqlError(
                f"expected {text or kind}, got {tx!r} at {pos}"
            )
        return tx

    def at_kw(self, *words: str) -> bool:
        k, tx, _ = self.peek()
        return k == "kw" and tx in words

    # -- statements --

    def script(self) -> list:
        stmts = []
        while not self._at("eof"):
            if self._at_op(";"):
                self.next()
                continue
            stmts.append(self.statement())
        return stmts

    def _at(self, kind: str) -> bool:
        return self.peek()[0] == kind

    def _at_op(self, op: str) -> bool:
        k, tx, _ = self.peek()
        return k == "op" and tx == op

    def statement(self):
        if self.at_kw("let"):
            self.next()
            name = self.expect("var")
            self.expect("op", "=")
            return Let(name[1:], self.expr())
        if self.at_kw("return"):
            self.next()
            return Return(self.expr())
        if self.at_kw("select"):
            return self.select()
        if self.at_kw("delete"):
            self.next()
            return Delete(self.expr())
        if self.at_kw("update"):
            self.next()
            table = self.expect("word")
            self.expect("kw", "set")
            sets = []
            while True:
                name = self.expect("word")
                self.expect("op", "=")
                sets.append((name, self.expr()))
                if self._at_op(","):
                    self.next()
                    continue
                break
            where = None
            if self.at_kw("where"):
                self.next()
                where = self.expr()
            return Update(table, sets, where)
        if self.at_kw("define"):
            self.next()
            if self.at_kw("table"):
                self.next()
                name = self.expect("word")
                # optional TYPE NORMAL / OVERWRITE noise words
                while self.at_kw("type", "normal", "overwrite"):
                    self.next()
                self.expect("kw", "as")
                return DefineTable(name, self.select())
            if self.at_kw("analyzer"):
                self.next()
                while self.at_kw("overwrite"):
                    self.next()
                name = self.expect("word")
                toks, filts = [], []
                if self.at_kw("tokenizers"):
                    self.next()
                    toks.append(self.expect("word"))
                    while self._at_op(","):
                        self.next()
                        toks.append(self.expect("word"))
                if self.at_kw("filters"):
                    self.next()
                    filts.append(self._filter_name())
                    while self._at_op(","):
                        self.next()
                        filts.append(self._filter_name())
                return DefineAnalyzer(name, toks, filts)
        k, tx, pos = self.peek()
        raise SurqlError(f"unexpected {tx!r} at {pos}")

    def _filter_name(self) -> str:
        name = self.expect("word")
        if self._at_op("("):
            self.next()
            arg = self.expect("word")
            self.expect("op", ")")
            return f"{name}({arg})"
        return name

    def select(self) -> Select:
        self.expect("kw", "select")
        fields = []
        while True:
            if self._at_op("*"):
                self.next()
                fields.append(("*", None))
            else:
                e = self.expr()
                alias = None
                if self.at_kw("as"):
                    self.next()
                    alias = self.expect("word")
                fields.append((e, alias))
            if self._at_op(","):
                self.next()
                continue
            break
        self.expect("kw", "from")
        src = self.postfix(self.primary())
        where = None
        if self.at_kw("where"):
            self.next()
            where = self.expr()
        limit = None
        if self.at_kw("limit"):
            self.next()
            limit = int(self.expect("num"))
        return Select(fields, src, where, limit)

    # -- expressions --

    def expr(self):
        return self.or_expr()

    def or_expr(self):
        left = self.and_expr()
        while self.at_kw("or"):
            self.next()
            left = BinOp("or", left, self.and_expr())
        return left

    def and_expr(self):
        left = self.cmp()
        while self.at_kw("and"):
            self.next()
            left = BinOp("and", left, self.cmp())
        return left

    def cmp(self):
        left = self.postfix(self.primary())
        k, tx, _ = self.peek()
        if k == "op" and tx in ("==", "=", "!=", "<", "<=", ">", ">="):
            self.next()
            right = self.postfix(self.primary())
            return BinOp("==" if tx == "=" else tx, left, right)
        return left

    def primary(self):
        k, tx, pos = self.peek()
        if k == "str":
            self.next()
            body = tx[1:-1]
            return Lit(re.sub(r"\\(.)", r"\1", body))
        if k == "num":
            self.next()
            return Lit(float(tx) if "." in tx else int(tx))
        if k == "var":
            self.next()
            return Var(tx[1:])
        if k == "kw" and tx == "return":
            # `let $x = return (select ...).id;` (test_filter.surql:4-5):
            # RETURN in expression position is transparent
            self.next()
            return self.expr()
        if k == "kw" and tx == "count":
            self.next()
            self.expect("op", "(")
            q = self.select()
            self.expect("op", ")")
            return CountOf(q)
        if k == "kw" and tx == "select":
            return self.select()
        if k == "op" and tx == "(":
            self.next()
            inner = self.select() if self.at_kw("select") else self.expr()
            self.expect("op", ")")
            return inner
        if k == "op" and tx == "[":
            nxt = self.peek(1)
            if nxt[0] == "op" and nxt[1] == "]":
                self.next()
                self.next()
                return EmptyArray()
            raise SurqlError(f"unexpected '[' at {pos}")
        if k == "word":
            self.next()
            # Record id literal: Table:123
            if self._at_op(":") and self.peek(1)[0] == "num":
                self.next()
                num = self.expect("num")
                return RecordId(tx, int(num))
            return Ident(tx)
        raise SurqlError(f"unexpected {tx!r} at {pos}")

    def postfix(self, base):
        while True:
            if self._at_op("."):
                self.next()
                name = self.next()[1]
                base = FieldAccess(base, name)
            elif self._at_op("["):
                nxt = self.peek(1)
                if nxt[0] == "kw" and nxt[1] == "where":
                    self.next()
                    self.next()
                    cond = self.expr()
                    self.expect("op", "]")
                    base = ArrayFilter(base, cond)
                elif nxt[0] == "num":
                    self.next()
                    i = int(self.expect("num"))
                    self.expect("op", "]")
                    base = Index(base, i)
                else:
                    break
            else:
                break
        return base


def parse(src: str) -> list:
    """Parse a SurrealQL script into statement ASTs."""
    return _Parser(src).script()


# ---------------------------------------------------------------------------
# Compilation & execution
# ---------------------------------------------------------------------------


@dataclass
class _C:
    """Compiled row-scope expression: a Column plus whether it denotes an
    ARRAY produced by path-mapping (SurrealQL paths over arrays map
    element-wise and collect non-NULLs — the reference's semantics for
    ``claims[WHERE ...].value.Thing``, SURVEY §2 B7 note)."""

    col: Column
    is_array: bool = False


_LINK_FIELDS = {"tb", "id"}


def _is_link_struct(df: DataFrame, name: str) -> bool:
    for f in df.schema.fields:
        if f.name == name:
            from pyspark.sql import types as T

            return (
                isinstance(f.dataType, T.StructType)
                and {x.name for x in f.dataType.fields} == _LINK_FIELDS
            )
    return False


def _is_array_col(df: DataFrame, name: str) -> bool:
    from pyspark.sql import types as T

    for f in df.schema.fields:
        if f.name == name:
            return isinstance(f.dataType, T.ArrayType)
    return False


def _needs_link_join(node, df: DataFrame) -> bool:
    """Does any path in this AST dereference a record-link column
    (``claims.claims`` — FieldAccess on a link struct with a field the
    struct does not have)?"""
    if isinstance(node, FieldAccess):
        if (
            isinstance(node.base, Ident)
            and _is_link_struct(df, node.base.name)
            and node.name.lower() not in _LINK_FIELDS
        ):
            return True
        return _needs_link_join(node.base, df)
    if isinstance(node, (ArrayFilter, Index)):
        return _needs_link_join(node.base, df) or (
            isinstance(node, ArrayFilter) and _needs_link_join(node.cond, df)
        )
    if isinstance(node, BinOp):
        return _needs_link_join(node.left, df) or _needs_link_join(
            node.right, df
        )
    return False


def _map_segment(name: str) -> str | None:
    """Variant-name mapping: crate CamelCase -> normalized branch; the
    ``ClaimValueData`` wrapper segment vanishes (the union IS the value
    struct here). Returns None for segments to skip."""
    key = name.lower().replace("_", "")
    if key == "claimvaluedata":
        return None
    return _VARIANTS.get(key, name)


class _Compiler:
    def __init__(self, env: "SurqlEnv", df: DataFrame, linked_claims: Column | None):
        self.env = env
        self.df = df
        self.linked = linked_claims

    # resolver for lambda scopes: element field access
    def col(self, node, elem=None) -> _C:
        if isinstance(node, Lit):
            return _C(F.lit(node.value))
        if isinstance(node, EmptyArray):
            return _C(F.array(), is_array=True)
        if isinstance(node, RecordId):
            from wikidata_to_surrealdb_spark.functions import thing

            return _C(thing(node.tb, node.id))
        if isinstance(node, Var):
            v = self.env.vars.get(node.name)
            if v is None:
                raise SurqlError(f"unbound parameter ${node.name}")
            if isinstance(v, DataFrame):
                raise SurqlError(
                    f"${node.name} is a result set; use it as a FROM source"
                )
            return _C(F.lit(v))
        if isinstance(node, Ident):
            if elem is not None:
                return _C(elem[node.name])
            return _C(
                F.col(node.name), is_array=_is_array_col(self.df, node.name)
            )
        if isinstance(node, FieldAccess):
            # record-link dereference: claims.claims -> joined array
            if (
                elem is None
                and isinstance(node.base, Ident)
                and _is_link_struct(self.df, node.base.name)
                and node.name.lower() not in _LINK_FIELDS
            ):
                if self.linked is None:
                    raise SurqlError(
                        f"path {node.base.name}.{node.name} needs a link "
                        "join that was not prepared"
                    )
                return _C(self.linked, is_array=True)
            base = self.col(node.base, elem)
            seg = _map_segment(node.name)
            if seg is None:
                return base
            if base.is_array:
                # path over an array: element-wise projection, NULLs
                # (other-variant values) dropped
                mapped = F.filter(
                    F.transform(base.col, lambda v: v[seg]),
                    lambda v: v.isNotNull(),
                )
                return _C(mapped, is_array=True)
            return _C(base.col[seg])
        if isinstance(node, ArrayFilter):
            base = self.col(node.base, elem)
            if not base.is_array:
                raise SurqlError("[WHERE ...] applies to arrays")
            cond_ast = node.cond

            def pred(x):
                return self.cond(cond_ast, elem=x)

            return _C(F.filter(base.col, pred), is_array=True)
        if isinstance(node, Index):
            base = self.col(node.base, elem)
            if not base.is_array:
                raise SurqlError("[n] applies to arrays here")
            return _C(F.try_element_at(base.col, F.lit(node.i + 1)))
        if isinstance(node, BinOp):
            return _C(self.cond(node, elem=elem))
        if isinstance(node, (Select, CountOf)):
            raise SurqlError(
                "subqueries are not allowed inside row expressions"
            )
        raise SurqlError(f"cannot compile {node!r}")

    def cond(self, node, elem=None) -> Column:
        if isinstance(node, BinOp):
            if node.op in ("and", "or"):
                left, right = self.cond(node.left, elem), self.cond(
                    node.right, elem
                )
                return left & right if node.op == "and" else left | right
            # empty-array predicate: == [] / != []
            if isinstance(node.right, EmptyArray) or isinstance(
                node.left, EmptyArray
            ):
                side = node.left if isinstance(node.right, EmptyArray) else node.right
                arr = self.col(side, elem)
                if not arr.is_array:
                    raise SurqlError("comparison with [] needs an array")
                empty = F.size(arr.col) == 0
                return empty if node.op == "==" else ~empty
            left, right = self.col(node.left, elem), self.col(
                node.right, elem
            )
            ops = {
                "==": lambda a, b: a == b,
                "!=": lambda a, b: a != b,
                "<": lambda a, b: a < b,
                "<=": lambda a, b: a <= b,
                ">": lambda a, b: a > b,
                ">=": lambda a, b: a >= b,
            }
            return ops[node.op](left.col, right.col)
        return self.col(node, elem).col.cast("boolean")


class SurqlEnv:
    """Execution environment: the wikidata tables (mutations rewrite
    them here), ``$`` bindings, and DEFINEd analyzers."""

    def __init__(self, spark: SparkSession, tables: dict[str, DataFrame]):
        self.spark = spark
        self.tables = dict(tables)
        self.vars: dict[str, object] = {}
        self.analyzers: dict[str, dict] = {}

    def table(self, name: str) -> DataFrame:
        if name in self.tables:
            return self.tables[name]
        for k, v in self.tables.items():
            if k.lower() == name.lower():
                return v
        raise SurqlError(f"unknown table {name!r}")


def _default_field_name(node, i: int) -> str:
    while isinstance(node, (ArrayFilter, Index)):
        node = node.base
    if isinstance(node, FieldAccess):
        seg = _map_segment(node.name)
        return seg if seg is not None else _default_field_name(node.base, i)
    if isinstance(node, Ident):
        return node.name
    return f"_f{i}"


def _compile_select(env: SurqlEnv, sel: Select) -> DataFrame:
    # resolve source
    if isinstance(sel.source, Ident):
        df = env.table(sel.source.name)
    elif isinstance(sel.source, Var):
        v = env.vars.get(sel.source.name)
        if not isinstance(v, DataFrame):
            raise SurqlError(f"${sel.source.name} is not a result set")
        df = v
    elif isinstance(sel.source, Select):
        df = _compile_select(env, sel.source)
    else:
        raise SurqlError("unsupported FROM source")

    base_cols = list(df.columns)
    needs_link = any(
        _needs_link_join(f, df) for f, _ in sel.fields if f != "*"
    ) or (sel.where is not None and _needs_link_join(sel.where, df))
    linked = None
    work = df
    if needs_link:
        claims_tbl = env.table("Claims")
        right = claims_tbl.select(
            F.col("id").alias("_surql_lid"),
            F.col("claims").alias("_surql_lclaims"),
        )
        work = df.join(
            F.broadcast(right),
            df["claims"] == right["_surql_lid"],
            "left",
        )
        linked = F.col("_surql_lclaims")

    comp = _Compiler(env, df, linked)
    cols, names = [], []
    for i, (fexpr, alias) in enumerate(sel.fields):
        if fexpr == "*":
            cols.extend(F.col(c) for c in base_cols)
            names.extend(base_cols)
            continue
        c = comp.col(fexpr)
        name = alias or _default_field_name(fexpr, i)
        cols.append(c.col.alias(name))
        names.append(name)
    out = work
    if sel.where is not None:
        out = out.where(comp.cond(sel.where))
    out = out.select(*cols)
    if sel.limit is not None:
        out = out.limit(sel.limit)
    return out


def _eval_value(env: SurqlEnv, node):
    """Statement-level value: DataFrame (result set), scalar, or row."""
    if isinstance(node, Select):
        return _compile_select(env, node)
    if isinstance(node, CountOf):
        return _compile_select(env, node.query).count()
    if isinstance(node, Var):
        v = env.vars.get(node.name)
        if v is None:
            raise SurqlError(f"unbound parameter ${node.name}")
        return v
    if isinstance(node, Lit):
        return node.value
    if isinstance(node, FieldAccess):
        base = _eval_value(env, node.base)
        if isinstance(base, DataFrame):
            # subfield fan-out: (SELECT id FROM $del).id
            return base.select(node.name)
        if isinstance(base, dict):
            return base[node.name]
        raise SurqlError(f"cannot project .{node.name} from {type(base)}")
    if isinstance(node, Index):
        base = _eval_value(env, node.base)
        if isinstance(base, DataFrame):
            rows = base.take(node.i + 1)
            if len(rows) <= node.i:
                return None
            return rows[node.i].asDict()
        raise SurqlError("[n] applies to result sets here")
    raise SurqlError(f"cannot evaluate {node!r} as a statement value")


_REFERENCE_ANALYZER = {
    "tokenizers": ["blank"],
    "filters": ["lowercase", "ascii", "snowball(english)"],
}


def _exec_statement(env: SurqlEnv, stmt):
    from wikidata_to_surrealdb_spark.operators.mutations import update_set

    if isinstance(stmt, Let):
        env.vars[stmt.name] = _eval_value(env, stmt.expr)
        return None
    if isinstance(stmt, Return):
        return _eval_value(env, stmt.expr)
    if isinstance(stmt, Select):
        return _compile_select(env, stmt)
    if isinstance(stmt, Delete):
        ids = _eval_value(env, stmt.expr)
        if not isinstance(ids, DataFrame):
            raise SurqlError("DELETE expects a result set of record ids")
        from wikidata_to_surrealdb_spark.operators.mutations import (
            delete_by_ids,
        )

        idset = ids.select(F.col(ids.columns[0]).alias("id"))
        for name in list(env.tables):
            t = env.tables[name]
            if "id" not in t.columns or not _is_link_struct(t, "id"):
                continue
            # record ids carry their table in tb — the anti-join on the
            # full (tb,id) struct routes each id to its own table, the
            # SurrealDB record-id delete semantics (B11,
            # test_filter.surql:7-8)
            env.tables[name] = delete_by_ids(t, idset)
        return None
    if isinstance(stmt, Update):
        t = env.table(stmt.table)
        comp = _Compiler(env, t, None)
        cond = (
            comp.cond(stmt.where) if stmt.where is not None else F.lit(True)
        )
        out = t
        for name, vexpr in stmt.sets:
            val = comp.col(vexpr).col
            if name in out.columns:
                out = out.withColumn(
                    name, F.when(cond, val).otherwise(F.col(name))
                )
            else:
                out = out.withColumn(
                    name, F.when(cond, val)  # otherwise NULL: new field
                )
        env.tables[stmt.table] = out
        return None
    if isinstance(stmt, DefineTable):
        df = _compile_select(env, stmt.query)
        env.tables[stmt.name] = df
        df.createOrReplaceTempView(stmt.name)
        return None
    if isinstance(stmt, DefineAnalyzer):
        spec = {"tokenizers": stmt.tokenizers, "filters": stmt.filters}
        if spec != _REFERENCE_ANALYZER:
            raise SurqlError(
                f"unsupported analyzer {spec}; the engine implements "
                f"{_REFERENCE_ANALYZER} "
                "(operators/text.py analyze_text(stemmer='snowball'))"
            )
        env.analyzers[stmt.name] = spec
        return None
    raise SurqlError(f"cannot execute {stmt!r}")


def run_surql(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    script: str,
    params: dict | None = None,
) -> tuple[list, SurqlEnv]:
    """Execute a SurrealQL script against the given tables.

    Returns ``(results, env)``: one entry per statement (DataFrame for
    SELECT, value for RETURN, None for LET/DEFINE), and the environment
    whose ``tables`` reflect any DELETE/UPDATE rewrites (persisting
    them is the caller's choice — the immutable-rewrite idiom of
    operators/mutations.py)."""
    env = SurqlEnv(spark, tables)
    if params:
        env.vars.update(params)
    return [_exec_statement(env, s) for s in parse(script)], env
