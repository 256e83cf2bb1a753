"""Canonical query catalog: every SURVEY §2 operator as a (Spark
callable, DuckDB oracle SQL) pair over the driver's testdata tables.

Naming: ``b##_*`` = reference query-surface operators (SURVEY §2B),
``tpch_*`` = headline bench queries, ``dedup_* / sim_* / text_* /
events_* / mm_* / stream_*`` = the LLM-pipeline extensions, ``wd_*`` =
wikidata-pipeline idioms exercised end-to-end.

Contract (driver): each Spark callable takes (spark, sf_dir) and returns
a DataFrame whose sorted-column value hash must equal the oracle's at
sf0.01. Conventions keeping the hash stable across engines:
- every computed column aliased identically on both sides;
- counts CAST to BIGINT (DuckDB count is BIGINT, Spark size() is INT;
  DuckDB sum(int) is HUGEINT — always cast);
- floating results rounded via the *portable* floor-round
  (functions.fround / fround_sql) — Spark's ROUND re-parses the double's
  shortest decimal repr and disagrees with DuckDB at .xx5 boundaries;
- double SUMs computed as exact DECIMAL sums then cast back
  (functions.dsum) — double addition is order-sensitive and Spark's
  partial aggregation order is nondeterministic;
- "first element" semantics always under a *total* sort key
  (l_linenumber alone is not unique in the testdata);
- timestamps reduced to epoch micros / dates (ns-parquet truncates to
  micros identically in both engines);
- md5 as the only hash primitive (bit-identical in both engines).
"""

from __future__ import annotations

from collections.abc import Callable
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wikidata_to_surrealdb_spark.functions import (
    local_relation,
    dsum,
    dsum_sql,
    rep,
    rep_sql,
    drep,
    drep_sql,
    fround,
    fround_sql,
    fround_total,
    fround_total_sql,
)
from wikidata_to_surrealdb_spark.operators import dedup, mutations, similarity, text
from wikidata_to_surrealdb_spark.sources.tables import register_views

SparkQuery = Callable[[SparkSession, str], DataFrame]


class QuerySpec:
    """A catalog entry: the Spark implementation plus its DuckDB
    oracle twin.

    ``oracle`` is a lazy property, not a plain field: every read pipes
    the registered SQL through
    ``oracle_shapes.materialize_hot_ctes`` (cached), which declares
    any multiply-referenced CTE ``AS MATERIALIZED`` so DuckDB
    evaluates it once instead of inlining (and replaying) its subtree
    per reference. Round 10's sf0.1 sweep showed why the guard must be
    structural: graph_pagerank's unmaterialized rank chain was green
    at the driver's sf0.01 for four rounds, then exponential (>60 GB
    spill, OOM) at sf0.1. Applying the rewrite at the accessor — not
    in each oracle's source — means every consumer (the driver's
    ``oracle_sql()``, the parity suites, the adversarial sweeps) gets
    the repaired SQL, including for oracles added in future rounds;
    ``tests/test_oracle_shapes.py`` pins the emitted catalog clean.
    """

    def __init__(
        self,
        fn: SparkQuery,
        oracle: str | None,
        description: str = "",
        tags: tuple[str, ...] = (),
    ):
        self.fn = fn
        self._oracle_src = oracle
        self.description = description
        self.tags = tuple(tags)
        self._oracle_emitted: str | None = None

    @property
    def oracle(self) -> str | None:
        if self._oracle_src is None:
            return None
        if self._oracle_emitted is None:
            from wikidata_to_surrealdb_spark.plans.oracle_shapes import (
                materialize_hot_ctes,
            )

            src = self._oracle_src
            if "vecgate" in self.tags:
                src = _gate_embeddings_sql(src)
            self._oracle_emitted = materialize_hot_ctes(src)
        return self._oracle_emitted


def _gate_embeddings_sql(sql: str) -> str:
    """Oracle-side twin of the engine's embedding-validity gate (r17
    vecstress axis): rewrite every reference to the ``embeddings`` view
    to a gated CTE that keeps only vectors passing
    ``similarity.finite_vec_sql`` (non-NULL, all-finite, norm > 0) —
    mirroring ``similarity.finite_vectors`` applied at every Spark
    operator entry. Applied at the oracle accessor for specs tagged
    ``"vecgate"``, BEFORE ``materialize_hot_ctes`` (multiply-referenced
    gated reads then materialize automatically). A same-named shadowing
    CTE would be a circular reference in DuckDB, hence the rename; the
    word-boundary token rewrite is safe because ``embeddings`` appears
    in oracles only as the view name (the column is ``embedding``), and
    the rewritten SQL is re-validated by the shape gate's parser."""
    import re

    from wikidata_to_surrealdb_spark.operators.similarity import (
        finite_vec_sql,
    )

    # the token rewrite is blind to SQL string literals (ADVICE r17):
    # an oracle mentioning the word inside a quoted literal would be
    # corrupted silently — fail loudly instead so the author sees it
    # at first oracle access, not as a value diff in a sweep. Scan the
    # PRE-rewrite text span by span ('' doubles as the escape) so
    # legitimate occurrences between two literals don't false-positive.
    for lit in re.finditer(r"'(?:[^']|'')*'", sql):
        if re.search(r"\bembeddings\b", lit.group(0)):
            raise ValueError(
                "embeddings-gate rewrite would corrupt a string "
                "literal: " + lit.group(0)[:80]
            )
    body = re.sub(r"\bembeddings\b", "__emb_valid", sql)
    cte = (
        f"__emb_valid AS (SELECT * FROM embeddings "
        f"WHERE {finite_vec_sql('embedding')})"
    )
    stripped = body.lstrip()
    lead = body[: len(body) - len(stripped)]
    if re.match(r"(?is)^with\s+recursive\b", stripped):
        return lead + re.sub(
            r"(?is)^with\s+recursive\b",
            f"WITH RECURSIVE {cte},",
            stripped,
            count=1,
        )
    if re.match(r"(?is)^with\b", stripped):
        return lead + re.sub(
            r"(?is)^with\b", f"WITH {cte},", stripped, count=1
        )
    return f"{lead}WITH {cte}\n{stripped}"


QUERIES: dict[str, QuerySpec] = {}


def _q(name: str, oracle: str | None, description: str = "", tags: tuple[str, ...] = ()):
    def deco(fn: SparkQuery) -> SparkQuery:
        QUERIES[name] = QuerySpec(fn=fn, oracle=oracle, description=description, tags=tags)
        return fn

    return deco


# shared SQL fragments (identical text runs in both engines where possible)
_REVENUE = "l_extendedprice * (1 - l_discount)"
_CHARGE = "l_extendedprice * (1 - l_discount) * (1 + l_tax)"


# ---------------------------------------------------------------------------
# B-surface: the reference's query operators (SURVEY §2B)
# ---------------------------------------------------------------------------

@_q(
    "b01_projection",
    f"""
    SELECT l_orderkey, l_linenumber,
           {fround_total_sql(_REVENUE, 2)} AS revenue,
           {fround_total_sql(_CHARGE, 2)} AS charge,
           CASE WHEN l_discount > 0.05 THEN 'deep' ELSE 'shallow' END AS discount_band
    FROM lineitem
    """,
    "B1: projection + computed columns + alias",
)
def b01_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    li = t["lineitem"]
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # fround_total, not fround: a PROJECTED raw-measure product can be
    # NaN/±Inf (r18 tpchnum axis — Spark's floor saturates to LONG_MIN
    # where DuckDB keeps -inf); the total form passes non-finite and
    # huge values through unchanged on both engines
    return li.select(
        "l_orderkey",
        "l_linenumber",
        fround_total(rev, 2).alias("revenue"),
        fround_total(rev * (1 + F.col("l_tax")), 2).alias("charge"),
        F.when(F.col("l_discount") > 0.05, "deep").otherwise("shallow").alias("discount_band"),
    )


@_q(
    "b02_scalar_filter",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
    """,
    "B2: scalar equi/range filter (pushes to parquet scan)",
)
def b02_scalar_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return (
        t["orders"]
        .where((F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 150000))
        .select("o_orderkey", "o_totalprice")
    )


@_q(
    "b03_link_join",
    """
    SELECT o.o_orderkey, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_acctbal > 5000
    """,
    "B3: record-link traversal = equi-join, small side broadcast",
)
def b03_link_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    cust = t["customer"].where(F.col("c_acctbal") > 5000)
    return t["orders"].join(
        F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", "c_name", "c_mktsegment")


# total sort key: l_linenumber is NOT unique per order in the testdata, so
# "first element" is defined under (ln, qty, rf, pk) — lexicographic struct
# sort in Spark == ORDER BY ln, qty, rf, pk in the oracle.
def _order_lines_array(t: dict[str, DataFrame]) -> DataFrame:
    """Per-order array<struct> of its lineitems under a total order — the
    claims-array shape (FIXTURES.md §4)."""
    return (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("l_linenumber").alias("ln"),
                        F.col("l_quantity").alias("qty"),
                        F.col("l_returnflag").alias("rf"),
                        F.col("l_partkey").alias("pk"),
                    )
                )
            ).alias("lines")
        )
    )


@_q(
    "b04_array_filter",
    """
    SELECT l_orderkey AS o_key,
           CAST(count(*) FILTER (WHERE l_quantity > 30) AS BIGINT) AS big_lines
    FROM lineitem GROUP BY l_orderkey
    """,
    "B4: lambda filter on array<struct> column",
)
def b04_array_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    arr = _order_lines_array(t)
    return arr.select(
        F.col("l_orderkey").alias("o_key"),
        F.size(F.filter("lines", lambda x: x["qty"] > 30)).cast("bigint").alias("big_lines"),
    )


@_q(
    "b05_element_at",
    """
    WITH rn AS (
      SELECT l_orderkey, l_quantity,
             row_number() OVER (PARTITION BY l_orderkey
               ORDER BY l_linenumber, l_quantity, l_returnflag, l_partkey) AS rn
      FROM lineitem
    )
    SELECT l_orderkey AS o_key, l_quantity AS first_qty FROM rn WHERE rn = 1
    """,
    "B5: array index / first element (1-based element_at, total sort key)",
)
def b05_element_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    arr = _order_lines_array(t)
    return arr.select(
        F.col("l_orderkey").alias("o_key"),
        F.element_at("lines", 1)["qty"].alias("first_qty"),
    )


@_q(
    "b06_nested_field",
    """
    SELECT o_orderkey, o_orderpriority AS priority,
           CAST(o_orderdate AS DATE) AS odate
    FROM orders WHERE o_orderstatus = 'F'
    """,
    "B6: nested struct field projection",
)
def b06_nested_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    nested = t["orders"].select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.struct(
                F.col("o_orderpriority").alias("priority"),
                F.col("o_orderdate").cast("date").alias("odate"),
            ).alias("meta"),
        ).alias("info"),
    )
    return nested.where(F.col("info.status") == "F").select(
        "o_orderkey",
        F.col("info.meta.priority").alias("priority"),
        F.col("info.meta.odate").alias("odate"),
    )


@_q(
    "b07_empty_array_pred",
    """
    SELECT o.o_orderkey FROM orders o
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    """,
    "B7: empty-array predicate (claims[WHERE ...] == [])",
)
def b07_empty_array_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    arr = _order_lines_array(t)
    joined = t["orders"].join(
        arr, F.col("o_orderkey") == F.col("l_orderkey"), "left"
    )
    empty = F.coalesce(
        F.size(F.filter("lines", lambda x: x["rf"] == "R")), F.lit(0)
    ) == 0
    return joined.where(empty).select("o_orderkey")


@_q(
    "b08_count_agg",
    """
    SELECT CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_customer,
           CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_orders,
           CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_lineitem
    """,
    "B8: count aggregation",
)
def b08_count_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_customer,
               CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_orders,
               CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_lineitem
        """
    )


_B09_SQL = """
    WITH big AS (
      SELECT o_custkey FROM orders WHERE o_totalprice > 200000
    ), joined AS (
      SELECT c.c_nationkey FROM big b JOIN customer c ON b.o_custkey = c.c_custkey
    )
    SELECT n.n_name, CAST(count(*) AS BIGINT) AS big_orders
    FROM joined j JOIN nation n ON j.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
"""


@_q(
    "b09_cte_chain",
    _B09_SQL,
    "B9/B10: let-binding multi-statement script -> CTE chain + subfield fan-out",
)
def b09_cte_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_B09_SQL)


@_q(
    "b11_delete",
    """
    SELECT p_partkey, p_name, p_size FROM part
    WHERE NOT (p_size < 15 AND p_brand = 'Brand#1')
    """,
    "B11: DELETE WHERE as functional rewrite (anti-filter)",
)
def b11_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    survivors = mutations.delete_where(
        t["part"], (F.col("p_size") < 15) & (F.col("p_brand") == "Brand#1")
    )
    return survivors.select("p_partkey", "p_name", "p_size")


@_q(
    "b12_update",
    f"""
    SELECT p_partkey,
           CASE WHEN p_brand = 'Brand#2' THEN {fround_sql("p_retailprice * 1.1", 2)}
                ELSE p_retailprice END AS p_retailprice
    FROM part
    """,
    "B12: UPDATE SET as when/otherwise rewrite",
)
def b12_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    updated = mutations.update_set(
        t["part"],
        F.col("p_brand") == "Brand#2",
        p_retailprice=fround(F.col("p_retailprice") * 1.1, 2),
    )
    return updated.select("p_partkey", "p_retailprice")


_B13_AVG = f"{fround_sql(dsum_sql('c_acctbal', 2) + ' / count(*)', 2)}"
_B13_VIEW_SQL = f"""
    SELECT n.n_name AS nation, r.r_name AS region,
           CAST(count(*) AS BIGINT) AS n_customers,
           {_B13_AVG} AS avg_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
"""


@_q(
    "b13_view",
    f"SELECT nation, n_customers, avg_bal FROM ({_B13_VIEW_SQL}) v WHERE region = 'ASIA'",
    "B13: view definition (DEFINE TABLE ... AS SELECT) + query over it",
)
def b13_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    summary = (
        t["customer"]
        .join(t["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
        .join(t["region"], F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.count("*").alias("n_customers"),
            fround(dsum(F.col("c_acctbal"), 2) / F.count("*"), 2).alias("avg_bal"),
        )
    )
    summary.createOrReplaceTempView("customer_summary")
    return spark.sql(
        "SELECT nation, n_customers, avg_bal FROM customer_summary WHERE region = 'ASIA'"
    )


@_q(
    "b14_fts",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
        regexp_split_to_array(translate(lower(text), 'àáâãäåçèéêëìíîïñòóôõöùúûüýÿāēīōūąćęłńśźż', 'aaaaaaceeeeiiiinooooouuuuyyaeiouacelnszz'), '[^a-z0-9]+'), t -> length(t) > 0)) AS raw_term
      FROM documents
    ), stemmed AS (
      SELECT doc_id,
        CASE
          WHEN length(raw_term) > 5 AND raw_term LIKE '%ing' THEN substring(raw_term, 1, length(raw_term) - 3)
          WHEN length(raw_term) > 4 AND raw_term LIKE '%ed' THEN substring(raw_term, 1, length(raw_term) - 2)
          WHEN length(raw_term) > 3 AND raw_term LIKE '%es' THEN substring(raw_term, 1, length(raw_term) - 2)
          WHEN length(raw_term) > 3 AND raw_term LIKE '%s' AND raw_term NOT LIKE '%ss'
            THEN substring(raw_term, 1, length(raw_term) - 1)
          ELSE raw_term END AS term
      FROM toks
    ), index_t AS (
      SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM stemmed
      WHERE length(term) > 0 GROUP BY term, doc_id
    )
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score FROM index_t
    WHERE term IN ('spark', 'query', 'tabl') GROUP BY doc_id
    """,
    "B14: FTS analyzer (tokenize/lowercase/fold/stem) + inverted index + search",
)
def b14_fts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    index = text.inverted_index(t["documents"])
    return text.fts_search(index, ["spark", "query", "tabl"]).select(
        "doc_id", F.col("score").cast("bigint").alias("score")
    )


@_q(
    "b14_fts_ranked",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
        regexp_split_to_array(translate(lower(text), 'àáâãäåçèéêëìíîïñòóôõöùúûüýÿāēīōūąćęłńśźż', 'aaaaaaceeeeiiiinooooouuuuyyaeiouacelnszz'), '[^a-z0-9]+'), t -> length(t) > 0)) AS raw_term
      FROM documents
    ), stemmed AS (
      SELECT doc_id,
        CASE
          WHEN length(raw_term) > 5 AND raw_term LIKE '%ing' THEN substring(raw_term, 1, length(raw_term) - 3)
          WHEN length(raw_term) > 4 AND raw_term LIKE '%ed' THEN substring(raw_term, 1, length(raw_term) - 2)
          WHEN length(raw_term) > 3 AND raw_term LIKE '%es' THEN substring(raw_term, 1, length(raw_term) - 2)
          WHEN length(raw_term) > 3 AND raw_term LIKE '%s' AND raw_term NOT LIKE '%ss'
            THEN substring(raw_term, 1, length(raw_term) - 1)
          ELSE raw_term END AS term
      FROM toks
    ), index_t AS (
      SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM stemmed
      WHERE length(term) > 0 GROUP BY term, doc_id
    ), n AS (
      SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM index_t
    ), dfreq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM index_t
      WHERE term IN ('merge', 'vector', 'stream') GROUP BY term
    ), scored AS (
      SELECT i.doc_id,
             CAST(sum(i.tf * (n.n_docs * 1000000 // d.df)) AS BIGINT) AS score
      FROM index_t i JOIN dfreq d ON d.term = i.term CROSS JOIN n
      WHERE i.term IN ('merge', 'vector', 'stream')
      GROUP BY i.doc_id
    )
    SELECT doc_id, score, rank FROM (
      SELECT doc_id, score,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= 20
    """,
    "B14+: idf-weighted ranked retrieval, deterministic top-20 — the idf "
    "weight is exact bigint (N*1e6 div df) so scores and rank ties are "
    "bit-identical across engines (float log() is not)",
)
def b14_fts_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    index = text.inverted_index(t["documents"])
    doclen = text.doc_lengths(t["documents"])
    return text.fts_search_ranked(
        index, ["merge", "vector", "stream"], k=20, doclen=doclen
    )


def _bm25_oracle(terms: tuple[str, ...], k: int, k1: float, b: float) -> str:
    tl = ", ".join(f"'{t}'" for t in terms)
    # the contribution expression is TEXTUALLY parallel to the Spark
    # side (text.fts_search_bm25) — same literals, same parenthesization
    # — so the IEEE double sequence is identical; DuckDB's // is Spark's
    # div (both exact bigint)
    contrib = (
        f"(s.n_docs * 1000000 // d.df) * "
        f"(CAST(i.tf AS DOUBLE) * {k1 + 1.0!r}) / "
        f"(CAST(i.tf AS DOUBLE) + {k1!r} * "
        f"({1.0 - b!r} + {b!r} * (CAST(dl.dl AS DOUBLE) / s.avgdl)))"
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
        regexp_split_to_array(translate(lower(text), 'àáâãäåçèéêëìíîïñòóôõöùúûüýÿāēīōūąćęłńśźż', 'aaaaaaceeeeiiiinooooouuuuyyaeiouacelnszz'), '[^a-z0-9]+'), t -> length(t) > 0)) AS raw_term
      FROM documents
    ), stemmed AS (
      SELECT doc_id,
        CASE
          WHEN length(raw_term) > 5 AND raw_term LIKE '%ing' THEN substring(raw_term, 1, length(raw_term) - 3)
          WHEN length(raw_term) > 4 AND raw_term LIKE '%ed' THEN substring(raw_term, 1, length(raw_term) - 2)
          WHEN length(raw_term) > 3 AND raw_term LIKE '%es' THEN substring(raw_term, 1, length(raw_term) - 2)
          WHEN length(raw_term) > 3 AND raw_term LIKE '%s' AND raw_term NOT LIKE '%ss'
            THEN substring(raw_term, 1, length(raw_term) - 1)
          ELSE raw_term END AS term
      FROM toks
    ), index_t AS (
      SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM stemmed
      WHERE length(term) > 0 GROUP BY term, doc_id
    ), dl AS (
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM index_t GROUP BY doc_id
    ), s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ), dfreq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM index_t
      WHERE term IN ({tl}) GROUP BY term
    ), contrib AS (
      SELECT i.doc_id,
             CAST({fround_sql(contrib, 6)} AS DECIMAL(28,6)) AS c
      FROM index_t i
      JOIN dfreq d ON d.term = i.term
      JOIN dl ON dl.doc_id = i.doc_id
      CROSS JOIN s
      WHERE i.term IN ({tl})
    ), scored AS (
      SELECT doc_id, {fround_sql("CAST(sum(c) AS DOUBLE)", 4)} AS score
      FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, score, rank FROM (
      SELECT doc_id, score,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


@_q(
    "b14_fts_bm25",
    _bm25_oracle(("merge", "vector", "stream"), 20, 1.2, 0.75),
    "B14++: Okapi BM25 ranked retrieval — tf saturation (k1=1.2) + "
    "doc-length normalization (b=0.75) over the inverted index; integer "
    "idf (float log diverges across engines), contribution doubles "
    "written with identical op order both sides, 6dp-rounded and "
    "DECIMAL-summed so partial-agg order can't change the score, "
    "deterministic top-20",
)
def b14_fts_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    index = text.inverted_index(t["documents"])
    # doc lengths come from the map-only index-build relation, not a
    # per-query re-aggregation of the full index
    doclen = text.doc_lengths(t["documents"])
    return text.fts_search_bm25(
        index, ["merge", "vector", "stream"], k=20, doclen=doclen
    )


_PHRASE = ("value", "table")


def _phrase_oracle(phrase: tuple[str, ...]) -> str:
    n = len(phrase)
    adj = " AND ".join(
        f"toks[i + {i}] = '{t}'" for i, t in enumerate(phrase)
    )
    return f"""
    WITH raw AS (
      SELECT doc_id, list_filter(
        regexp_split_to_array(translate(lower(text), 'àáâãäåçèéêëìíîïñòóôõöùúûüýÿāēīōūąćęłńśźż', 'aaaaaaceeeeiiiinooooouuuuyyaeiouacelnszz'), '[^a-z0-9]+'), t -> length(t) > 0) AS r
      FROM documents
    ), stemmed AS (
      SELECT doc_id, list_transform(r, raw_term ->
        CASE
          WHEN length(raw_term) > 5 AND raw_term LIKE '%ing' THEN substring(raw_term, 1, length(raw_term) - 3)
          WHEN length(raw_term) > 4 AND raw_term LIKE '%ed' THEN substring(raw_term, 1, length(raw_term) - 2)
          WHEN length(raw_term) > 3 AND raw_term LIKE '%es' THEN substring(raw_term, 1, length(raw_term) - 2)
          WHEN length(raw_term) > 3 AND raw_term LIKE '%s' AND raw_term NOT LIKE '%ss'
            THEN substring(raw_term, 1, length(raw_term) - 1)
          ELSE raw_term END) AS toks
      FROM raw
    ), counts AS (
      SELECT doc_id, CAST(len(list_filter(
        range(1, greatest(len(toks) - {n - 1}, 0) + 1),
        i -> {adj})) AS BIGINT) AS n_matches
      FROM stemmed
    )
    SELECT doc_id, n_matches FROM counts WHERE n_matches > 0
    """


@_q(
    "b14_fts_phrase",
    _phrase_oracle(_PHRASE),
    "B14+++: exact phrase search over a POSITIONAL inverted index "
    "(term -> doc -> sorted offsets in the analyzed token stream): a "
    "match is phrase[0] at p with phrase[i] at p+i. Term-pruned "
    "postings, one doc-keyed shuffle to assemble each candidate's "
    "term->positions map, adjacency checked by an array-local "
    "higher-order filter (never a position-level join); the oracle "
    "recomputes the count from the token arrays directly",
)
def b14_fts_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    pindex = text.inverted_index_positional(t["documents"])
    return text.fts_search_phrase(pindex, list(_PHRASE))


@_q(
    "b14_fts_highlight",
    """
    WITH raw AS (
      SELECT doc_id, list_filter(
        regexp_split_to_array(translate(lower(text), 'àáâãäåçèéêëìíîïñòóôõöùúûüýÿāēīōūąćęłńśźż', 'aaaaaaceeeeiiiinooooouuuuyyaeiouacelnszz'), '[^a-z0-9]+'), t -> length(t) > 0) AS toks
      FROM documents
    ), marked AS (
      SELECT doc_id,
        CAST(len(list_filter(toks, raw_term ->
          CASE
            WHEN length(raw_term) > 5 AND raw_term LIKE '%ing' THEN substring(raw_term, 1, length(raw_term) - 3)
            WHEN length(raw_term) > 4 AND raw_term LIKE '%ed' THEN substring(raw_term, 1, length(raw_term) - 2)
            WHEN length(raw_term) > 3 AND raw_term LIKE '%es' THEN substring(raw_term, 1, length(raw_term) - 2)
            WHEN length(raw_term) > 3 AND raw_term LIKE '%s' AND raw_term NOT LIKE '%ss'
              THEN substring(raw_term, 1, length(raw_term) - 1)
            ELSE raw_term END IN ('merge', 'vector', 'stream'))) AS BIGINT) AS n_hits,
        array_to_string(list_transform(toks, raw_term ->
          CASE WHEN
            CASE
              WHEN length(raw_term) > 5 AND raw_term LIKE '%ing' THEN substring(raw_term, 1, length(raw_term) - 3)
              WHEN length(raw_term) > 4 AND raw_term LIKE '%ed' THEN substring(raw_term, 1, length(raw_term) - 2)
              WHEN length(raw_term) > 3 AND raw_term LIKE '%es' THEN substring(raw_term, 1, length(raw_term) - 2)
              WHEN length(raw_term) > 3 AND raw_term LIKE '%s' AND raw_term NOT LIKE '%ss'
                THEN substring(raw_term, 1, length(raw_term) - 1)
              ELSE raw_term END IN ('merge', 'vector', 'stream')
          THEN '<b>' || raw_term || '</b>' ELSE raw_term END), ' ') AS highlighted
      FROM raw
    )
    SELECT doc_id, n_hits, highlighted FROM marked WHERE n_hits > 0
    """,
    "B14 surface parity with SurrealDB's search::highlight: matching "
    "documents (candidates from the term-pruned inverted index, joined "
    "back on doc_id — non-matching text never flows through the "
    "highlighter) get their analyzed token stream with every token "
    "whose STEM matches a query term wrapped in <b></b>, plus the hit "
    "count; one array-local transform, verbatim-compared cross-engine",
)
def b14_fts_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    index = text.inverted_index(t["documents"])
    return text.fts_highlight(
        t["documents"], index, ["merge", "vector", "stream"]
    )


# Materialized-index FTS: build-once (per process, per sf_dir), every
# search serves off the persisted bucketed postings — the engine-side
# mirror of the reference's persistent DEFINE ANALYZER/INDEX
# (Useful queries.md:28). The in-query b14_* entries above measure the
# cold path; these measure the served path.
_FTS_INDEX_CACHE: dict[str, str] = {}

# (appId, abs sf_dir) -> staged slice dir shared by the sliced-replay
# streaming entries (stream_trailing_window, stream_funnel): the
# time-ordered staging is written once per session+scale so repeated
# bench/smoke reps time the streaming job, not the staging
_TRAIL_SLICES_CACHE: dict[tuple[str, str], str] = {}


def _staged_event_slices(spark: SparkSession, sf_dir: str) -> str:
    """Stage (once per session+scale) and return the 3-slice
    time-ordered replay dir for the events table — the arrival
    contract the stateful streaming twins require, guaranteed by
    construction. Fixed per-session dir (a fresh mkdtemp per
    invocation would leak a sliced copy on every driver/bench run)."""
    import os
    import tempfile

    from wikidata_to_surrealdb_spark.streaming.events import (
        slice_events_table,
    )

    import hashlib

    # dir name must be keyed by the SAME value as the cache (the full
    # abspath): two sf_dirs sharing a basename (tmp copies of
    # 'sf0.001') would otherwise overwrite one shared staging dir
    # while the first cache entry still points at it
    abs_dir = os.path.abspath(sf_dir)
    sf_tag = (
        os.path.basename(abs_dir)
        + "_"
        + hashlib.md5(abs_dir.encode()).hexdigest()[:8]
    )
    sliced = os.path.join(
        tempfile.gettempdir(),
        f"stream_trail_slices_{spark.sparkContext.applicationId}_{sf_tag}",
    )
    key = (spark.sparkContext.applicationId, abs_dir)
    if key not in _TRAIL_SLICES_CACHE:
        slice_events_table(
            spark, f"{sf_dir}/events.parquet", sliced, slices=3
        )
        _TRAIL_SLICES_CACHE[key] = sliced
    return _TRAIL_SLICES_CACHE[key]


def fts_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Path of the persisted FTS index for ``sf_dir``'s documents,
    building it on first use (cached per process)."""
    path = _FTS_INDEX_CACHE.get(sf_dir)
    if path is None:
        import tempfile

        t = register_views(spark, sf_dir)
        path = tempfile.mkdtemp(prefix="wd_ftsidx_")
        text.fts_index_build(t["documents"], path, n_term_buckets=16)
        _FTS_INDEX_CACHE[sf_dir] = path
    return path


@_q(
    "b14_fts_indexed",
    # identical result contract to b14_fts: the oracle recomputes the
    # index inline (DuckDB has no persistent index to reuse), so a hash
    # match proves the persisted structure serves exactly what the
    # in-query build serves
    QUERIES["b14_fts"].oracle,
    "B14 (served): tf search over the PERSISTED bucketed inverted "
    "index — build-once, query-many; the postings read prunes to the "
    "query terms' crc32 hash buckets at file-listing time and pushes "
    "the term predicate into the parquet scan, so bytes read are "
    "O(matching postings), not O(corpus)",
)
def b14_fts_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = fts_index_dir(spark, sf_dir)
    return text.fts_search_indexed(
        spark, idx, ["spark", "query", "tabl"], mode="tf"
    ).select("doc_id", F.col("score").cast("bigint").alias("score"))


@_q(
    "b14_fts_bm25_indexed",
    QUERIES["b14_fts_bm25"].oracle,
    "B14++ (served): Okapi BM25 off the PERSISTED index — candidate "
    "postings from the pruned bucket read, corpus stats (N, avgdl) "
    "from the persisted map-only doclen relation; the corpus itself is "
    "never touched at query time",
)
def b14_fts_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = fts_index_dir(spark, sf_dir)
    return text.fts_search_indexed(
        spark, idx, ["merge", "vector", "stream"], mode="bm25", k=20
    )


@_q(
    "b15_scalar",
    f"SELECT {fround_sql(dsum_sql('o_totalprice', 2) + ' / count(*)', 2)} AS avg_price FROM orders",
    "B15: typed scalar return",
)
def b15_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return t["orders"].agg(
        fround(dsum(F.col("o_totalprice"), 2) / F.count("*"), 2).alias("avg_price")
    )


@_q(
    "b16_param_binding",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_orderpriority = '2-HIGH' AND o_totalprice >= 250000
    """,
    "B16: parameterized SQL (named parameter binding)",
)
def b16_param_binding(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(
        "SELECT o_orderkey, o_totalprice FROM orders "
        "WHERE o_orderpriority = :prio AND o_totalprice >= :floor",
        args={"prio": "2-HIGH", "floor": 250000},
    )


@_q(
    "wd_claims_path",
    """
    WITH base AS (
      SELECT l_orderkey, l_linenumber AS ln, l_partkey % 25 AS pid, l_quantity AS qty
      FROM lineitem
    ), agg AS (
      SELECT l_orderkey AS o_key, CAST(count(*) AS BIGINT) AS n_claims,
             CAST(count(*) FILTER (WHERE pid = 3) AS BIGINT) AS n_matching
      FROM base GROUP BY l_orderkey
    ), m AS (
      SELECT l_orderkey, qty,
             row_number() OVER (PARTITION BY l_orderkey ORDER BY ln, pid, qty) AS rn
      FROM base WHERE pid = 3
    )
    SELECT a.o_key, a.n_claims, m.qty AS first_amount, a.n_matching
    FROM agg a LEFT JOIN m ON a.o_key = m.l_orderkey AND m.rn = 1
    """,
    "B3-B7 composite in the wikidata claims-array shape: link join + array "
    "filter + element_at + nested variant field + empty-pred, via the "
    "claims helpers (claims_where / first_claim_value)",
)
def wd_claims_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emulates Entity->Claims traversal: per order, claims array of
    (id=Thing('Property', partkey%25), value.quantity.amount=quantity),
    then the G1-style path: first matching claim's quantity amount."""
    from wikidata_to_surrealdb_spark.functions import claims_where, first_claim_value

    t = register_views(spark, sf_dir)
    claims = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("l_linenumber").alias("ln"),
                        (F.col("l_partkey") % 25).cast("bigint").alias("pid"),
                        F.col("l_quantity").alias("qty"),
                    )
                )
            ).alias("sorted_lines")
        )
        .select(
            F.col("l_orderkey").alias("o_key"),
            F.transform(
                "sorted_lines",
                lambda x: F.struct(
                    F.struct(
                        F.lit("Property").alias("tb"), x["pid"].alias("id")
                    ).alias("id"),
                    F.struct(
                        F.struct(x["qty"].alias("amount")).alias("quantity")
                    ).alias("value"),
                ),
            ).alias("claims"),
        )
    )
    return claims.select(
        "o_key",
        F.size("claims").cast("bigint").alias("n_claims"),
        first_claim_value(F.col("claims"), 3, "quantity.amount").alias("first_amount"),
        F.size(claims_where(F.col("claims"), "Property", 3)).cast("bigint").alias("n_matching"),
    )


@_q(
    "agg_rollup",
    f"""
    SELECT coalesce(r.r_name, 'ALL') AS region,
           coalesce(n.n_name, 'ALL') AS nation,
           CAST(count(*) AS BIGINT) AS n_customers,
           {fround_sql(dsum_sql("c.c_acctbal", 2), 2)} AS total_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
    "hierarchical ROLLUP aggregation (region -> nation -> grand total); "
    "one shuffle, partial aggs collapse map-side per grouping set "
    "(names are non-null in this schema, so coalesce marks the ALL rows)",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            fround(dsum(F.col("c_acctbal"), 2), 2).alias("total_bal"),
        )
        .select(
            F.coalesce(F.col("r_name"), F.lit("ALL")).alias("region"),
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            "n_customers",
            "total_bal",
        )
    )


@_q(
    "window_rank",
    """
    SELECT c_custkey, o_orderkey, o_totalprice, rk FROM (
      SELECT c.c_custkey, o.o_orderkey, o.o_totalprice,
             CAST(row_number() OVER (PARTITION BY c.c_custkey
               ORDER BY o.o_totalprice DESC, o.o_orderkey) AS BIGINT) AS rk
      FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    ) WHERE rk <= 3
    """,
    "window function: top-3 orders per customer by row_number (total "
    "tie-break on orderkey); partitions by customer so rank state never "
    "crosses executors",
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = register_views(spark, sf_dir)
    w = Window.partitionBy("c_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("bigint").alias("rk"),
        )
        .where(F.col("rk") <= 3)
    )


@_q(
    "set_ops",
    """
    SELECT c_custkey FROM (
      SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_totalprice > 100000
    )
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    "set operators: INTERSECT + EXCEPT (distinct semantics) — shuffle on "
    "the key, map-side distinct first",
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    o = t["orders"]
    finished = o.where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    big = o.where(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return finished.intersect(big).subtract(urgent)


# ---------------------------------------------------------------------------
# TPC-H headline queries (bench + correctness)
# ---------------------------------------------------------------------------

@_q(
    "tpch_q1",
    f"""
    SELECT l_returnflag, l_linestatus,
           {fround_sql(dsum_sql("l_quantity", 2), 2)} AS sum_qty,
           {fround_sql(dsum_sql("l_extendedprice", 2), 2)} AS sum_base_price,
           {fround_sql(dsum_sql(_REVENUE, 6), 2)} AS sum_disc_price,
           {fround_sql(dsum_sql(_CHARGE, 8), 2)} AS sum_charge,
           {fround_sql(dsum_sql("l_quantity", 2) + " / count(*)", 4)} AS avg_qty,
           {fround_sql(dsum_sql("l_extendedprice", 2) + " / count(*)", 4)} AS avg_price,
           {fround_sql(dsum_sql("l_discount", 2) + " / count(*)", 4)} AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    "TPC-H Q1 pricing summary: full-scan agg, map-side partial combine",
    tags=("bench",),
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.functions import respread

    t = register_views(spark, sf_dir)
    # respread AFTER the filter: pushdown reaches the scan, and the 8-way
    # decimal aggregation's map side parallelizes even off an unsplittable
    # single-row-group input (no-op when the scan is already parallel).
    li = respread(
        t["lineitem"].where(
            F.col("l_shipdate").cast("date") <= F.lit("2000-09-02").cast("date")
        )
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    n = F.count("*")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            fround(dsum(F.col("l_quantity"), 2), 2).alias("sum_qty"),
            fround(dsum(F.col("l_extendedprice"), 2), 2).alias("sum_base_price"),
            fround(dsum(disc, 6), 2).alias("sum_disc_price"),
            fround(dsum(charge, 8), 2).alias("sum_charge"),
            fround(dsum(F.col("l_quantity"), 2) / n, 4).alias("avg_qty"),
            fround(dsum(F.col("l_extendedprice"), 2) / n, 4).alias("avg_price"),
            fround(dsum(F.col("l_discount"), 2) / n, 4).alias("avg_disc"),
            n.cast("bigint").alias("count_order"),
        )
    )


@_q(
    "tpch_q3",
    f"""
    SELECT l.l_orderkey,
           {fround_sql(dsum_sql(_REVENUE, 6), 2)} AS revenue,
           CAST(o.o_orderdate AS DATE) AS odate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND CAST(o.o_orderdate AS DATE) < DATE '1998-03-15'
      AND CAST(l.l_shipdate AS DATE) > DATE '1998-03-15'
    GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE), o.o_orderpriority
    """,
    "TPC-H Q3 shipping priority: selective dim filter -> broadcast -> agg",
    tags=("bench",),
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    cutoff = F.lit("1998-03-15").cast("date")
    cust = t["customer"].where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = t["orders"].where(F.col("o_orderdate").cast("date") < cutoff)
    li = t["lineitem"].where(F.col("l_shipdate").cast("date") > cutoff)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("odate"),
            "o_orderpriority",
        )
        .agg(fround(dsum(rev, 6), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "odate", "o_orderpriority")
    )


@_q(
    "tpch_q5",
    f"""
    SELECT n.n_name, {fround_sql(dsum_sql(_REVENUE, 6), 2)} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
    GROUP BY n.n_name
    """,
    "TPC-H Q5 local supplier volume: 6-way join, dims broadcast",
    tags=("bench",),
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    orders = t["orders"].where(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1997-01-01").cast("date"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nr = (
        t["nation"]
        .join(F.broadcast(t["region"].where(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    return (
        t["lineitem"]
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(t["supplier"]),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(fround(dsum(rev, 6), 2).alias("revenue"))
    )


@_q(
    "tpch_q6",
    f"""
    SELECT {fround_sql(dsum_sql("l_extendedprice * l_discount", 6), 2)} AS revenue
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    "TPC-H Q6 forecasting revenue: pure scan + pushed predicates, scalar agg",
    tags=("bench",),
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    li = t["lineitem"].where(
        (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1997-01-01").cast("date"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        fround(dsum(F.col("l_extendedprice") * F.col("l_discount"), 6), 2).alias("revenue")
    )


@_q(
    "tpch_q7",
    f"""
    SELECT supp_nation, cust_nation, l_year,
           {fround_sql(dsum_sql(_REVENUE, 6), 2)} AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(CAST(l.l_shipdate AS DATE)) AS BIGINT) AS l_year,
             l.l_extendedprice, l.l_discount
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
    "TPC-H Q7 volume shipping between two nations: 6-way join with a "
    "disjunctive nation-pair predicate, year extraction, grouped revenue",
    tags=("bench",),
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        t["lineitem"]
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year(F.col("l_shipdate").cast("date")).cast("bigint").alias("l_year"),
        )
        .agg(fround(dsum(rev, 6), 2).alias("revenue"))
    )


@_q(
    "tpch_q10",
    f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {fround_sql(dsum_sql(_REVENUE, 6), 2)} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND CAST(o.o_orderdate AS DATE) >= DATE '1996-07-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1996-10-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    "TPC-H Q10 returned items: 4-way join + top-20 (deterministic "
    "tie-break on rounded revenue, then custkey)",
    tags=("bench",),
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    orders = t["orders"].where(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-07-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1996-10-01").cast("date"))
    )
    li = t["lineitem"].where(F.col("l_returnflag") == "R")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(fround(dsum(rev, 6), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.col("c_custkey"))
        .limit(20)
    )


@_q(
    "tpch_q14",
    f"""
    SELECT {fround_sql(
        "100.0 * "
        + dsum_sql("CASE WHEN p_type = 'PROMO' THEN " + _REVENUE + " ELSE 0 END", 6)
        + " / " + dsum_sql(_REVENUE, 6),
        4,
    )} AS promo_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE CAST(l.l_shipdate AS DATE) >= DATE '1996-09-01'
      AND CAST(l.l_shipdate AS DATE) < DATE '1996-10-01'
    """,
    "TPC-H Q14 promotion effect: fact filter + broadcast dim join + "
    "conditional agg (p_type is a bare category in this testdata)",
    tags=("bench",),
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    li = t["lineitem"].where(
        (F.col("l_shipdate").cast("date") >= F.lit("1996-09-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1996-10-01").cast("date"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            fround(100.0 * dsum(promo, 6) / dsum(rev, 6), 4).alias("promo_revenue")
        )
    )


@_q(
    "tpch_q18",
    f"""
    WITH big AS (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING {dsum_sql("l_quantity", 2)} > 300
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS odate, o.o_totalprice,
           {fround_sql(dsum_sql("l.l_quantity", 2), 2)} AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, CAST(o.o_orderdate AS DATE),
             o.o_totalprice
    """,
    "TPC-H Q18 large-volume customers: self-aggregating semi-join "
    "(HAVING subquery) then re-join + re-agg",
    tags=("bench",),
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    li = t["lineitem"]
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity"), 2).alias("_sq"))
        .where(F.col("_sq") > 300)
        .select(F.col("l_orderkey").alias("_big_okey"))
    )
    return (
        li.join(F.broadcast(big), F.col("l_orderkey") == F.col("_big_okey"), "left_semi")
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("odate"),
            "o_totalprice",
        )
        .agg(fround(dsum(F.col("l_quantity"), 2), 2).alias("sum_qty"))
    )


# ---------------------------------------------------------------------------
# Deduplication extensions
# ---------------------------------------------------------------------------

@_q(
    "dedup_exact",
    """
    SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
           CAST(count(*) AS BIGINT) AS copies
    FROM documents GROUP BY md5(text)
    """,
    "exact dedup: hash-groupBy, shuffle key is the 32-byte digest",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return dedup.exact_dedup(t["documents"])


_JACCARD_DUCK = (
    "len(list_filter({a}, v -> list_contains({b}, v))) / "
    "(len({a}) + len({b}) - len(list_filter({a}, v -> list_contains({b}, v))))::DOUBLE"
)

_MINHASH_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                 t -> length(t) > 0) AS t
      FROM documents
    ), sh AS (
      SELECT doc_id, list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 0)),
               i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS sh
      FROM toks WHERE len(t) >= 3
    ), sigs AS (
      SELECT doc_id, list_transform(generate_series(0, 7),
               s -> list_aggregate(list_transform(sh, g -> md5(s::VARCHAR || ':' || g)), 'min')) AS sig
      FROM sh WHERE len(sh) > 0
    ), bands AS (
      SELECT doc_id, b AS band_id,
             md5(array_to_string(list_slice(sig, b * 4 + 1, b * 4 + 4), '|')) AS band_hash
      FROM sigs, (SELECT unnest(generate_series(0, 1)) AS b)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, jaccard FROM (
      SELECT c.id_a, c.id_b,
             {fround_sql(_JACCARD_DUCK.format(a="x.sh", b="y.sh"), 4)} AS jaccard
      FROM cand c JOIN sh x ON c.id_a = x.doc_id JOIN sh y ON c.id_b = y.doc_id
    ) WHERE jaccard >= 0.1
"""


@_q(
    "dedup_minhash_lsh",
    _MINHASH_ORACLE,
    "MinHash(8 md5 seeds) + LSH(2 bands x 4 rows) near-dup candidates, "
    "verified by 3-gram Jaccard >= 0.1 — the scale path: pair explosion "
    "confined to LSH buckets. The b2r4 banding is the s-curve-measured "
    "default (dedup_lsh_recall_profile at sf0.1: 251/256 recall at 251 "
    "candidates vs b8r1's 82,377 for 256/256)",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return dedup.minhash_dedup(
        t["documents"], num_hashes=8, bands=2, k=3, threshold=0.1
    )


@_q(
    "dedup_incremental",
    f"""
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                 t -> length(t) > 0) AS t
      FROM documents
    ), sh AS (
      SELECT doc_id, list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 0)),
               i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS sh
      FROM toks WHERE len(t) >= 3
    ), sigs AS (
      SELECT doc_id, list_transform(generate_series(0, 7),
               s -> list_aggregate(list_transform(sh, g -> md5(s::VARCHAR || ':' || g)), 'min')) AS sig
      FROM sh WHERE len(sh) > 0
    ), bands AS (
      SELECT doc_id, b AS band_id,
             md5(array_to_string(list_slice(sig, b * 4 + 1, b * 4 + 4), '|')) AS band_hash
      FROM sigs, (SELECT unnest(generate_series(0, 1)) AS b)
    ), cand AS (
      SELECT DISTINCT d.doc_id AS new_id, c.doc_id AS dup_of, 'corpus' AS origin
      FROM bands d JOIN bands c
        ON d.band_id = c.band_id AND d.band_hash = c.band_hash
      WHERE d.doc_id % 5 = 0 AND c.doc_id % 5 != 0
      UNION ALL
      SELECT DISTINCT b.doc_id AS new_id, a.doc_id AS dup_of, 'delta' AS origin
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
      WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 = 0
    )
    SELECT new_id, dup_of, origin, jaccard FROM (
      SELECT c.new_id, c.dup_of, c.origin,
             {fround_sql(_JACCARD_DUCK.format(a="x.sh", b="y.sh"), 4)} AS jaccard
      FROM cand c JOIN sh x ON c.new_id = x.doc_id JOIN sh y ON c.dup_of = y.doc_id
    ) WHERE jaccard >= 0.1
    """,
    "Incremental delta-vs-corpus MinHash dedup (doc_id%5=0 is today's "
    "batch): delta docs probe the standing corpus LSH index plus "
    "intra-delta banding; corpus x corpus is NEVER re-paired — the "
    "daily-crawl shape where corpus cost is one index build, amortized "
    "over every batch. Verification is semi-join-pruned to candidates",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    docs = t["documents"]
    return dedup.incremental_minhash_dedup(
        docs.where("doc_id % 5 != 0"),
        docs.where("doc_id % 5 = 0"),
        num_hashes=8,
        bands=2,
        k=3,
        threshold=0.1,
    )


@_q(
    "dedup_incremental_recrawl",
    f"""
    WITH uniq AS (
      SELECT doc_id, min(text) AS text FROM documents GROUP BY doc_id
    ), recrawl AS (
      SELECT a.doc_id, b.text
      FROM uniq a JOIN uniq b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 10 = 1
    ), alldocs AS (
      SELECT doc_id, text, 0 AS is_delta FROM uniq
      WHERE doc_id % 5 != 0
        AND doc_id NOT IN (SELECT doc_id FROM recrawl)
      UNION ALL
      SELECT doc_id, text, 1 AS is_delta FROM recrawl
      UNION ALL
      SELECT doc_id, text, 1 AS is_delta FROM uniq WHERE doc_id % 5 = 0
    ), toks AS (
      SELECT doc_id, is_delta,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         t -> length(t) > 0) AS t
      FROM alldocs
    ), sh AS (
      SELECT doc_id, is_delta, list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 0)),
               i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS sh
      FROM toks WHERE len(t) >= 3
    ), sigs AS (
      SELECT doc_id, is_delta, list_transform(generate_series(0, 7),
               s -> list_aggregate(list_transform(sh, g -> md5(s::VARCHAR || ':' || g)), 'min')) AS sig
      FROM sh WHERE len(sh) > 0
    ), bands AS (
      SELECT doc_id, is_delta, b AS band_id,
             md5(array_to_string(list_slice(sig, b * 4 + 1, b * 4 + 4), '|')) AS band_hash
      FROM sigs, (SELECT unnest(generate_series(0, 1)) AS b)
    ), cand AS (
      SELECT DISTINCT d.doc_id AS new_id, c.doc_id AS dup_of, 'corpus' AS origin
      FROM bands d JOIN bands c
        ON d.band_id = c.band_id AND d.band_hash = c.band_hash
      WHERE d.is_delta = 1 AND c.is_delta = 0
      UNION ALL
      SELECT DISTINCT b.doc_id AS new_id, a.doc_id AS dup_of, 'delta' AS origin
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
      WHERE a.is_delta = 1 AND b.is_delta = 1
    )
    SELECT new_id, dup_of, origin, jaccard FROM (
      SELECT c.new_id, c.dup_of, c.origin,
             {fround_sql(_JACCARD_DUCK.format(a="x.sh", b="y.sh"), 4)} AS jaccard
      FROM cand c JOIN sh x ON c.new_id = x.doc_id JOIN sh y ON c.dup_of = y.doc_id
    ) WHERE jaccard >= 0.1
    """,
    "Recrawl upsert for incremental dedup (VERDICT r14 dir. 5): today's "
    "batch re-crawls doc_id%10=1 with CHANGED text (modeled as the "
    "successor doc's text) plus the usual doc_id%5=0 new docs; "
    "on_conflict='replace' anti-joins the corpus side on the delta's id "
    "set (last-writer-wins, mirroring merge_into_bucketed_manifest), so a "
    "re-crawled doc never pairs with its own stale text and every pair "
    "reflects the new text only — each recrawled id surfaces its "
    "successor as a jaccard-1.0 corpus pair, which only exists under "
    "the new text",
)
def dedup_incremental_recrawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    # canonicalize duplicate doc_ids first (the documents table carries
    # repeated ids; upsert semantics need one version per id)
    uniq = t["documents"].groupBy("doc_id").agg(F.min("text").alias("text"))
    succ = uniq.select(
        (F.col("doc_id") - F.lit(1)).alias("prev_id"),
        F.col("text").alias("text"),
    )
    recrawl = (
        uniq.where("doc_id % 10 = 1")
        .select("doc_id")
        .join(succ, F.col("doc_id") == F.col("prev_id"))
        .select("doc_id", "text")
    )
    delta = recrawl.unionByName(uniq.where("doc_id % 5 = 0"))
    corpus = uniq.where("doc_id % 5 != 0")  # still holds the stale texts
    return dedup.incremental_minhash_dedup(
        corpus,
        delta,
        num_hashes=8,
        bands=2,
        k=3,
        threshold=0.1,
        on_conflict="replace",
    )


@_q(
    "dedup_simhash",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                 t -> length(t) > 0) AS t
      FROM documents
    ), sims AS (
      SELECT doc_id, array_to_string(list_transform(generate_series(0, 31), b ->
        CASE WHEN list_sum(list_transform(t,
          tok -> CASE WHEN substring(md5(tok || ':' || b::VARCHAR), 1, 1) < '8'
                 THEN 1 ELSE -1 END)) > 0 THEN '1' ELSE '0' END), '') AS simhash
      FROM toks
    )
    SELECT simhash, min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS copies
    FROM sims GROUP BY simhash HAVING count(*) > 1
    """,
    "SimHash(32-bit md5 bit votes) dedup: identical-signature groups",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return dedup.simhash_dedup(t["documents"], bits=32)


@_q(
    "dedup_ngram_blocked",
    f"""
    WITH sh AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 1, 0)),
               i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS sh
      FROM (SELECT doc_id, lang, list_filter(
              regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> length(x) > 0) AS t
            FROM documents) q
      WHERE len(t) >= 2
    )
    SELECT id_a, id_b, jaccard FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             {fround_sql(_JACCARD_DUCK.format(a="a.sh", b="b.sh"), 4)} AS jaccard
      FROM sh a JOIN sh b
        ON a.lang = b.lang
       AND list_aggregate(a.sh, 'min') = list_aggregate(b.sh, 'min')
       AND a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.3
    """,
    "n-gram Jaccard near-dup with (lang, min-bigram) blocking — the "
    "direct variant for modest cardinalities",
)
def dedup_ngram_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.functions import respread

    t = register_views(spark, sf_dir)
    # respread the RAW projection before the tokenize/shingle/sort
    # expansion (r18 opt): the driver testdata is a single-row-group
    # parquet file, so without it the whole tokenize -> shingle ->
    # sort -> self-join pipeline ran as ONE task end to end (measured
    # 5.4 s single-threaded at sf0.1; the localCheckpoint below pins
    # whatever partitioning the scan had, and the broadcast self-join
    # adds no exchange that could restore parallelism)
    toks = respread(t["documents"].select("doc_id", "lang", "text")).select(
        "doc_id", "lang", F.expr(dedup.TOKENS_EXPR.format(text="text")).alias("toks")
    )
    # 2-gram shingles via the zip_with chain (6x the slice/concat_ws
    # formulation, see shingles_from_tokens), distinct via sort +
    # adjacent-compare (array_distinct is the quadratic trap); sorting
    # makes the blocking key FREE — it's element 1 of the sorted array,
    # not a second array_min pass recomputed inside the join condition
    m = "greatest(size(toks) - 1, 0)"
    sh2 = (
        f"zip_with(slice(toks, 1, {m}), slice(toks, 2, {m}),"
        " (a, b) -> concat(a, ' ', b))"
    )
    ss = toks.select(
        "doc_id", "lang", F.sort_array(F.expr(sh2)).alias("_ss")
    ).where(F.size("_ss") > 0)
    # materialize the shingle-set relation once (lazy checkpoint): both
    # self-join branches read it instead of each replaying the corpus
    # tokenize/shingle/sort subtree
    docs_sh = ss.select(
        "doc_id",
        "lang",
        dedup.sorted_distinct("_ss").alias("sh"),
        F.element_at("_ss", 1).alias("blk"),
    ).localCheckpoint(eager=False)
    a, b = docs_sh.alias("a"), docs_sh.alias("b")
    inter = F.size(F.array_intersect("a.sh", "b.sh"))
    union = F.size("a.sh") + F.size("b.sh") - inter
    jac = fround(inter / union.cast("double"), 4)
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            jac.alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.3)
    )


# shared prefix-filter fragments (exact set-similarity join): distinct
# (id, 3-gram) pairs with duplicate doc_ids contributing the UNION of
# their rows' shingles (matches minhash_signatures' groupBy semantics),
# per-id sets, global document frequency, and the frequency-ordered
# prefix of length n - ceil(T*n) + 1. Any consistent total order gives
# a COMPLETE candidate set, so cross-engine collation differences
# cannot change the final J >= T pair set.
_PREFIX_JOIN_CTES = """
    ptoks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                 t -> length(t) > 0) AS t
      FROM documents
    ), pshr AS (
      SELECT doc_id, list_transform(
               generate_series(1, greatest(len(t) - 2, 0)),
               i -> array_to_string(list_slice(t, i, i + 2), ' ')) AS sh
      FROM ptoks WHERE len(t) >= 3
    ), pex AS (
      SELECT DISTINCT doc_id, unnest(sh) AS g FROM pshr
    ), psets AS (
      SELECT doc_id, list(g ORDER BY g) AS sh FROM pex GROUP BY doc_id
    ), pfreq AS (
      SELECT g, count(*) AS df FROM pex GROUP BY g
    ), ppref AS (
      SELECT doc_id, g FROM (
        SELECT e.doc_id, e.g,
               row_number() OVER (PARTITION BY e.doc_id ORDER BY f.df, e.g) AS rn,
               count(*) OVER (PARTITION BY e.doc_id) AS n
        FROM pex e JOIN pfreq f USING (g)
      ) WHERE rn <= n - ((n + 1) // 2) + 1
    ), pcand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ppref a JOIN ppref b ON a.g = b.g AND a.doc_id < b.doc_id
    )
"""


def _prefix_truth_select(alias: str = "") -> str:
    """The verified J >= 1/2 pair set off the prefix-filter CTEs.
    Membership is the EXACT integer test 2*i >= u (mirrors the Spark
    operator's q*i >= p*u — fround gates nothing; ADVICE r11); the
    jaccard column is display-only fround(i/u, 4)."""
    return f"""
      SELECT id_a, id_b, jaccard FROM (
        SELECT c.id_a, c.id_b,
               len(list_filter(x.sh, v -> list_contains(y.sh, v))) AS i,
               len(x.sh) + len(y.sh)
                 - len(list_filter(x.sh, v -> list_contains(y.sh, v))) AS u,
               {fround_sql(_JACCARD_DUCK.format(a="x.sh", b="y.sh"), 4)} AS jaccard
        FROM pcand c
        JOIN psets x ON x.doc_id = c.id_a
        JOIN psets y ON y.doc_id = c.id_b
      ) WHERE 2 * i >= u
    """


@_q(
    "dedup_jaccard_prefix_join",
    f"""
    WITH {_PREFIX_JOIN_CTES}
    {_prefix_truth_select()}
    """,
    "EXACT all-pairs 3-gram Jaccard >= 0.5 via frequency-ordered prefix "
    "filtering (PPJoin family): candidates only from each document's "
    "rarest n-ceil(T*n)+1 shingles' posting lists — complete (unlike "
    "min-shingle blocking) and exact (unlike LSH), with posting lists "
    "kept short by construction where sharing-any-shingle blocking "
    "explodes on stopword shingles. The ground-truth engine for "
    "dedup_lsh_recall_profile",
)
def dedup_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return dedup.jaccard_prefix_join(t["documents"], k=3, threshold=0.5)


_LSH_PROFILE_CONFIGS = ((1, 8), (2, 4), (4, 2), (8, 1))


def _lsh_profile_oracle() -> str:
    """Set-wise DuckDB twin of the banding sweep: one signature CTE on
    the per-id UNION shingle sets (same semantics as
    minhash_signatures' groupBy), banded per config row via a
    correlated unnest, pairs deduped per config, counts joined against
    the prefix-filter ground truth."""
    cfg_rows = ", ".join(f"({b}, {r})" for b, r in _LSH_PROFILE_CONFIGS)
    return f"""
    WITH {_PREFIX_JOIN_CTES}
    , ptruth AS (
      {_prefix_truth_select()}
    ), sigs AS (
      SELECT doc_id, list_transform(generate_series(0, 7),
               s -> list_aggregate(list_transform(sh, g -> md5(s::VARCHAR || ':' || g)), 'min')) AS sig
      FROM psets
    ), cfgs AS (
      SELECT * FROM (VALUES {cfg_rows}) AS t(bands, rows_per_band)
    ), banded AS (
      SELECT c.bands, c.rows_per_band, s.doc_id,
             unnest(generate_series(0, c.bands - 1)) AS band_id, s.sig
      FROM cfgs c, sigs s
    ), hashed AS (
      SELECT bands, rows_per_band, doc_id, band_id,
             md5(array_to_string(list_slice(sig, band_id * rows_per_band + 1,
                                            band_id * rows_per_band + rows_per_band), '|')) AS band_hash
      FROM banded
    ), cand AS (
      SELECT DISTINCT a.bands, a.rows_per_band,
             a.doc_id AS id_a, b.doc_id AS id_b
      FROM hashed a JOIN hashed b
        ON a.bands = b.bands AND a.rows_per_band = b.rows_per_band
       AND a.band_id = b.band_id AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ), counts AS (
      SELECT c.bands, c.rows_per_band,
             CAST(count(*) AS BIGINT) AS candidates,
             CAST(count(*) FILTER (WHERE t.id_a IS NOT NULL) AS BIGINT) AS hits
      FROM cand c LEFT JOIN ptruth t ON t.id_a = c.id_a AND t.id_b = c.id_b
      GROUP BY c.bands, c.rows_per_band
    )
    SELECT 'b' || cfg.bands || 'r' || cfg.rows_per_band AS config,
           CAST(cfg.bands AS BIGINT) AS bands,
           CAST(cfg.rows_per_band AS BIGINT) AS rows_per_band,
           COALESCE(k.candidates, 0) AS candidates,
           COALESCE(k.hits, 0) AS hits,
           (SELECT CAST(count(*) AS BIGINT) FROM ptruth) AS truth
    FROM cfgs cfg
    LEFT JOIN counts k
      ON k.bands = cfg.bands AND k.rows_per_band = cfg.rows_per_band
    """


@_q(
    "dedup_lsh_recall_profile",
    _lsh_profile_oracle(),
    "LSH banding-tuning curve — dedup's twin of sim_ivf_recall_profile: "
    "for each (bands x rows) banding of the same 8-hash MinHash "
    "signature, exact BIGINT (candidates, hits, truth) vs the COMPLETE "
    "prefix-filter ground truth at Jaccard >= 0.5. This is the "
    "measurement that picks a banding in production: recall "
    "(hits/truth) rises with bands while verification cost (candidates) "
    "rises along the s-curve — at sf0.001, b1r8 misses 6/28 at 22 "
    "candidates, b2r4 is 28/28 at 28, b8r1 pays 821 candidates for the "
    "same 28. One signature pass and one ground-truth join shared "
    "across all configs",
)
def dedup_lsh_recall_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return dedup.lsh_recall_profile(
        t["documents"],
        k=3,
        num_hashes=8,
        configs=_LSH_PROFILE_CONFIGS,
        threshold=0.5,
    )


def _diversity_sample_oracle(per_bucket: int, band_bits: int) -> str:
    """Identical hyperplane bucketing (the dual-dialect generator emits
    both engines' expressions from one seeded plane set) + the same
    (md5(id), id) within-stratum order."""
    bucket = similarity.hyperplane_bucket_sql(
        "list_transform(embedding, x -> CAST(x AS DOUBLE))",
        bands=1,
        band_bits=band_bits,
        dim=64,
        seed=42,
        dialect="duckdb",
    )[0]
    return f"""
    WITH b AS (
      SELECT vec_id, {bucket} AS bucket FROM embeddings
    ), r AS (
      SELECT vec_id, bucket,
             row_number() OVER (PARTITION BY bucket
               ORDER BY md5(vec_id::VARCHAR), vec_id) AS kept_rank
      FROM b
    )
    SELECT vec_id, bucket, CAST(kept_rank AS BIGINT) AS kept_rank
    FROM r WHERE kept_rank <= {per_bucket}
    """


@_q(
    "sim_diversity_sample",
    _diversity_sample_oracle(4, 6),
    "embedding-space diversity-preserving downsample (coreset): "
    "stratify by a 6-bit sign-LSH bucket (64 strata of mutually-"
    "similar vectors; scale bits with corpus size — 2^bits strata "
    "stay ~n/2^bits deep) and keep <= 4 deterministic representatives per "
    "stratum, ordered by (md5(id), id) — uniform sampling over-"
    "represents dense embedding regions; capping each stratum thins "
    "near-duplicate clusters while keeping sparse-region vectors. One "
    "map to bucket + ONE hash exchange for the per-stratum rank; "
    "2^bits-way parallel at any scale",
)
def sim_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return similarity.diversity_sample(
        t["embeddings"], per_bucket=4, band_bits=6
    )


_EMB_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


_EMB_BANDS, _EMB_BAND_BITS, _EMB_SEED, _EMB_DIM = 4, 4, 42, 64


def _banded_pairs_oracle(threshold: float) -> str:
    """DuckDB twin of ann_banded_pairs_gemm: same seeded hyperplanes as
    literals, candidate pairs = any-band collision, DISTINCT, threshold."""
    buckets = similarity.hyperplane_bucket_sql(
        "embedding", _EMB_BANDS, _EMB_BAND_BITS, _EMB_DIM, _EMB_SEED, dialect="duckdb"
    )
    ctes = ",\n    ".join(
        f"b{i} AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v, "
        f"{b} AS bucket FROM embeddings)"
        for i, b in enumerate(buckets)
    )
    unions = "\n      UNION ALL\n      ".join(
        f"SELECT a.vec_id AS id_a, b2.vec_id AS id_b, "
        f"{fround_sql(_EMB_COS.format(a='a.v', b='b2.v'), 4)} AS cosine "
        f"FROM b{i} a JOIN b{i} b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id"
        for i in range(len(buckets))
    )
    return f"""
    WITH {ctes},
    pairs AS (
      SELECT DISTINCT id_a, id_b, cosine FROM (
      {unions}
      ) WHERE cosine >= {threshold}
    )
    SELECT id_b AS drop_id, min(id_a) AS keep_id FROM pairs GROUP BY id_b
    """


def _hard_negatives_oracle(k: int) -> str:
    buckets = similarity.hyperplane_bucket_sql(
        "embedding", _EMB_BANDS, _EMB_BAND_BITS, _EMB_DIM, _EMB_SEED,
        dialect="duckdb",
    )
    ctes = ",\n    ".join(
        f"b{i} AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE)"
        f" AS v, {b} AS bucket FROM embeddings)"
        for i, b in enumerate(buckets)
    )
    unions = "\n      UNION ALL\n      ".join(
        f"SELECT a.vec_id AS id_a, b2.vec_id AS id_b, "
        f"{fround_sql(_EMB_COS.format(a='a.v', b='b2.v'), 4)} AS cosine "
        f"FROM b{i} a JOIN b{i} b2 ON a.bucket = b2.bucket"
        f" AND a.vec_id < b2.vec_id"
        for i in range(len(buckets))
    )
    return f"""
    WITH {ctes},
    pairs AS (
      SELECT DISTINCT id_a, id_b, cosine FROM (
      {unions}
      )
    ),
    sym AS (
      SELECT id_a AS anchor_id, id_b AS negative_id, cosine FROM pairs
      UNION ALL
      SELECT id_b, id_a, cosine FROM pairs
    ),
    j AS (
      SELECT s.anchor_id, s.negative_id, s.cosine
      FROM sym s
      JOIN embeddings la ON la.vec_id = s.anchor_id
      JOIN embeddings ln ON ln.vec_id = s.negative_id
      WHERE la.label != ln.label
    )
    SELECT anchor_id, negative_id, cosine, rank FROM (
      SELECT anchor_id, negative_id, cosine,
             CAST(row_number() OVER (PARTITION BY anchor_id
               ORDER BY cosine DESC, negative_id) AS INT) AS rank
      FROM j
    ) WHERE rank <= {k}
    """


@_q(
    "sim_hard_negatives",
    _hard_negatives_oracle(3),
    "hard-negative mining for contrastive training — per anchor, the "
    "3 most-similar DIFFERENT-label vectors (the negatives that move a "
    "contrastive loss; random negatives are trivially separable): "
    "multi-band hyperplane-LSH candidates (any-band collision, "
    "per-bucket Arrow+BLAS GEMM — never all-pairs), symmetrized so "
    "each pair serves both anchors, labels by two id-keyed joins, one "
    "anchor-keyed window with the (cosine DESC, id) total order. "
    "Banding recall mirrored exactly in the oracle",
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return similarity.hard_negatives(
        t["embeddings"], k=3,
        bands=_EMB_BANDS, band_bits=_EMB_BAND_BITS, dim=_EMB_DIM,
        seed=_EMB_SEED,
    )


@_q(
    "dedup_embedding",
    _banded_pairs_oracle(0.5),
    "embedding-cosine near-dup: multi-band seeded-hyperplane LSH "
    f"({_EMB_BANDS} bands x {_EMB_BAND_BITS} bits — any-band collision, "
    "~0.95 recall at cosine 0.9 vs ~0.39 for one 16-bit table), "
    "keep-lowest-id per duplicate; pair cosines via per-bucket Arrow+BLAS "
    "GEMM",
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    pairs = similarity.ann_banded_pairs_gemm(
        t["embeddings"],
        bands=_EMB_BANDS,
        band_bits=_EMB_BAND_BITS,
        dim=_EMB_DIM,
        seed=_EMB_SEED,
        threshold=0.5,
    )
    # every doc with a lower-id near-duplicate is dropped in favor of its
    # lowest-id neighbor (deterministic single-pass survivorship; full
    # transitive closure would need iterative connected components)
    return pairs.groupBy(F.col("id_b").alias("drop_id")).agg(
        F.min("id_a").alias("keep_id")
    )


# ---------------------------------------------------------------------------
# Similarity search extensions
# ---------------------------------------------------------------------------

_COS_SQL = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


@_q(
    "sim_bruteforce",
    f"""
    WITH q AS (
      SELECT list_transform(embedding, x -> x::DOUBLE) AS qv FROM embeddings
      WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
    )
    SELECT vec_id, cosine FROM (
      SELECT e.vec_id,
             {fround_sql(_COS_SQL.format(a="list_transform(e.embedding, x -> x::DOUBLE)", b="q.qv"), 4)} AS cosine
      FROM embeddings e, q
      WHERE e.vec_id <> (SELECT min(vec_id) FROM embeddings)
    ) WHERE cosine >= 0.3
    """,
    "brute-force cosine similarity vs a query vector (map-only scan); "
    "threshold form avoids top-k tie ambiguity",
)
def sim_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    emb = similarity.finite_vectors(t["embeddings"])
    min_id = emb.agg(F.min("vec_id")).first()[0]
    qv = [float(x) for x in emb.where(F.col("vec_id") == min_id).first()["embedding"]]
    return similarity.brute_force_similar(
        emb.where(F.col("vec_id") != min_id), qv, threshold=0.3
    )


def _single_band_oracle(bits: int, threshold: float) -> str:
    (bucket,) = similarity.hyperplane_bucket_sql(
        "embedding", 1, bits, _EMB_DIM, _EMB_SEED, dialect="duckdb"
    )
    return f"""
    WITH b AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
             {bucket} AS bucket
      FROM embeddings
    )
    SELECT id_a, id_b, cosine FROM (
      SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
             {fround_sql(_COS_SQL.format(a="a.v", b="b2.v"), 4)} AS cosine
      FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
    ) WHERE cosine >= {threshold}
    """


@_q(
    "sim_ann_bucketed",
    _single_band_oracle(6, 0.35),
    "sign-LSH bucketed ANN pairs over seeded Gaussian hyperplanes "
    "(the 100 TB path: within-bucket join only); hyperplanes shared with "
    "the oracle as literals, dot products written as identical explicit "
    "sums so the unrounded sign bits match bit-for-bit across engines",
)
def sim_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    # HOF band-keys form: bit-identical to the written-out literal sums
    # (same left-to-right fold) without their codegen-compilation cost
    bucket = F.element_at(
        similarity.hyperplane_band_keys("embedding", 1, 6, _EMB_DIM, _EMB_SEED),
        1,
    )
    return similarity.ann_bucketed_pairs(
        t["embeddings"], threshold=0.35, bucket_expr=bucket
    )


@_q(
    "sim_topk",
    f"""
    WITH q AS (
      SELECT list_transform(embedding, x -> x::DOUBLE) AS qv FROM embeddings
      WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
    )
    SELECT vec_id, cosine FROM (
      SELECT e.vec_id,
             {fround_sql(_COS_SQL.format(a="list_transform(e.embedding, x -> x::DOUBLE)", b="q.qv"), 4)} AS cosine
      FROM embeddings e, q
      WHERE e.vec_id <> (SELECT min(vec_id) FROM embeddings)
    ) ORDER BY cosine DESC, vec_id LIMIT 10
    """,
    "top-k cosine neighbors of a query vector (rounded-cosine then id "
    "tie-break keeps the k-set deterministic); per-partition top-k merge "
    "at scale, no full sort",
)
def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    emb = similarity.finite_vectors(t["embeddings"])
    min_id = emb.agg(F.min("vec_id")).first()[0]
    qv = [float(x) for x in emb.where(F.col("vec_id") == min_id).first()["embedding"]]
    cand = emb.where(F.col("vec_id") != min_id)
    return (
        similarity.brute_force_similar(cand, qv, threshold=-2.0)
        .orderBy(F.desc("cosine"), F.col("vec_id"))
        .limit(10)
    )


def _ivf_centroid_cte() -> str:
    """DuckDB CTE of the trained centroids (data/ivf_centroids.py) as
    literal rows — both engines quantize with the identical k-means."""
    import json as _json

    from wikidata_to_surrealdb_spark.data.ivf_centroids import IVF_CENTROIDS

    rows = ",\n      ".join(
        f"({i}, {_json.dumps(c)})" for i, c in enumerate(IVF_CENTROIDS)
    )
    return (
        "c AS (\n      SELECT cell, list_transform(cv, x -> x::DOUBLE) AS cv\n"
        f"      FROM (VALUES\n      {rows}\n      ) AS t(cell, cv)\n    )"
    )


def _ivf_centroids() -> list[list[float]]:
    from wikidata_to_surrealdb_spark.data.ivf_centroids import IVF_CENTROIDS

    return IVF_CENTROIDS


@_q(
    "sim_ivf",
    f"""
    WITH {_ivf_centroid_cte()}, v AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ), scored AS (
      SELECT v.vec_id, c.cell,
             {fround_sql(_COS_SQL.format(a="v.v", b="c.cv"), 4)} AS cos
      FROM v CROSS JOIN c
    ), ranked AS (
      SELECT vec_id, cell,
             row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS rn
      FROM scored
    )
    SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM ranked WHERE rn = 1
    """,
    "IVF coarse quantization: nearest-centroid assignment with TRAINED "
    "k-means centroids (fixed-seed pyspark.ml KMeans over sf0.01, "
    "embedded as literals in both engines); map-only — at scale the "
    "output partitions by cell so probes become partition pruning",
)
def sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return similarity.ivf_assign(t["embeddings"], _ivf_centroids()).select(
        "vec_id", F.col("cell").cast("bigint").alias("cell")
    )


_IVF_NPROBE = 2
_IVF_TOPK = 10


@_q(
    "sim_ivf_search",
    f"""
    WITH {_ivf_centroid_cte()}, q AS (
      SELECT list_transform(embedding, x -> x::DOUBLE) AS qv FROM embeddings
      WHERE vec_id = (SELECT max(vec_id) FROM embeddings)
    ), probe AS (
      SELECT cell FROM (
        SELECT c.cell,
               row_number() OVER (
                 ORDER BY {fround_sql(_COS_SQL.format(a="c.cv", b="q.qv"), 4)} DESC, c.cell
               ) AS rn
        FROM c, q
      ) WHERE rn <= {_IVF_NPROBE}
    ), v AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ), assigned AS (
      SELECT vec_id, cell FROM (
        SELECT v.vec_id, c.cell,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 {fround_sql(_COS_SQL.format(a="v.v", b="c.cv"), 4)} DESC, c.cell) AS rn
        FROM v CROSS JOIN c
      ) WHERE rn = 1
    )
    SELECT vec_id, cell, cosine FROM (
      SELECT v.vec_id, CAST(a.cell AS BIGINT) AS cell,
             {fround_sql(_COS_SQL.format(a="v.v", b="q.qv"), 4)} AS cosine,
             row_number() OVER (ORDER BY
               {fround_sql(_COS_SQL.format(a="v.v", b="q.qv"), 4)} DESC, v.vec_id) AS rn
      FROM v JOIN assigned a ON a.vec_id = v.vec_id, q
      WHERE a.cell IN (SELECT cell FROM probe)
    ) WHERE rn <= {_IVF_TOPK}
    """,
    "IVF ANN search end to end with trained k-means centroids: probe the "
    "2 nearest of 8 cells, exact-rank only their members, deterministic "
    "top-10 — with cell-partitioned storage the probe is pure partition "
    "pruning",
)
def sim_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    emb = similarity.finite_vectors(t["embeddings"])
    qv = [
        float(x)
        for x in emb.orderBy(F.desc("vec_id")).limit(1).collect()[0]["embedding"]
    ]
    return similarity.ivf_search(
        emb, _ivf_centroids(), qv, k=_IVF_TOPK, nprobe=_IVF_NPROBE
    )


def _pq_int_books() -> list[list[list[int]]]:
    from wikidata_to_surrealdb_spark.data.pq_codebooks import PQ_CODEBOOKS
    from wikidata_to_surrealdb_spark.operators.similarity import (
        pq_codebooks_int,
    )

    return pq_codebooks_int(PQ_CODEBOOKS)


_PQ_VI_DUCK = (
    "list_transform(embedding, x -> "
    "CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))"
)


def _pq_duck_book(j: int) -> str:
    ints = _pq_int_books()
    return (
        "["
        + ", ".join(
            "[" + ", ".join(str(c) for c in cent) + "]" for cent in ints[j]
        )
        + "]"
    )


def _pq_duck_codes_expr(vi: str = "vi") -> str:
    """DuckDB twin of similarity._pq_code_exprs: the M-code list, exact
    scaled-int distances + first-minimum argmin per subspace."""
    ints = _pq_int_books()
    m, sub = len(ints), len(ints[0][0])
    codes = []
    for j in range(m):
        terms = " + ".join(
            f"({vi}[{j * sub + i + 1}] - c[{i + 1}]) * "
            f"({vi}[{j * sub + i + 1}] - c[{i + 1}])"
            for i in range(sub)
        )
        ds = f"list_transform({_pq_duck_book(j)}, c -> {terms})"
        codes.append(f"CAST(list_position({ds}, list_min({ds})) - 1 AS INT)")
    return "[" + ", ".join(codes) + "]"


@_q(
    "sim_pq_codes",
    f"""
    WITH vi AS (
      SELECT vec_id, {_PQ_VI_DUCK} AS vi FROM embeddings
    )
    SELECT vec_id,
           array_to_string({_pq_duck_codes_expr()}, ',') AS codes_csv
    FROM vi
    """,
    "Product-quantization encode with TRAINED per-subspace codebooks "
    "(fixed-seed pyspark.ml KMeans over each 8-dim slice of the sf0.01 "
    "embeddings, embedded as literals in both engines): vectors are "
    "quantized once to a 1e6 scaled-integer grid, after which every "
    "centroid distance is EXACT BIGINT arithmetic — order-immune and "
    "bit-identical across engines by construction; codes = 8 nibble "
    "ints per 64-dim vector, a pure map (the 16-64x shrink that makes "
    "billion-vector ANN serveable). The operator API (pq_encode) "
    "returns the codes as array<int>; this catalog entry serializes "
    "them to a CSV string so the driver's pandas canonicalizer (which "
    "cannot sort/hash list cells) can verify values — lossless, "
    "order-preserving reshape only.",
)
def sim_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.data.pq_codebooks import PQ_CODEBOOKS

    t = register_views(spark, sf_dir)
    enc = similarity.pq_encode(t["embeddings"], PQ_CODEBOOKS)
    return enc.select(
        "vec_id", F.concat_ws(",", F.col("codes")).alias("codes_csv")
    )


def _kmeans_ctes(k: int, iterations: int, dim: int = 64) -> tuple[str, str, str]:
    """CTE-unrolled quantized Lloyd's: init from (md5, id) order,
    plain-BIGINT ``||x - m||^2`` assignment keys, per-dim sums via a
    LATERAL dim unnest, each round's centroid the integer mean rounded
    back onto the 1e6 grid with the positive-numerator floor-division
    trick (truncating // == floor, same as the Spark side), empty
    clusters keeping the previous centroid. Returns (CTE text,
    final-assignment CTE name, final-centroid CTE name) so search
    oracles can build on the trained state."""
    from wikidata_to_surrealdb_spark.operators.similarity import _KMEANS_OFF

    d2 = (
        "list_sum(list_transform(range(1, {dim} + 1), i -> "
        "(vi.x[CAST(i AS INT)] - cc.m[CAST(i AS INT)]) * "
        "(vi.x[CAST(i AS INT)] - cc.m[CAST(i AS INT)])))"
    ).format(dim=dim)
    rank = (
        f"row_number() OVER (PARTITION BY vi.vec_id ORDER BY {d2}, cc.j)"
    )

    def assign(cents: str, out: str) -> str:
        return f"""
    {out} AS (
      SELECT vec_id, x, j FROM (
        SELECT vi.vec_id, vi.x, cc.j, {rank} AS rk
        FROM vi CROSS JOIN {cents} cc
      ) WHERE rk = 1
    )"""

    def recenter(a: str, prev: str, out: str) -> str:
        off = _KMEANS_OFF
        return f"""
    {out}_s AS (
      SELECT j, u.i AS i, CAST(sum(x[CAST(u.i AS INT)]) AS BIGINT) AS sv,
             CAST(count(*) AS BIGINT) AS c
      FROM {a}, LATERAL unnest(range(1, {dim} + 1)) AS u(i)
      GROUP BY j, u.i
    ),
    {out}_agg AS (
      SELECT j,
             list((2 * sv + 2 * c * {off} + c) // (2 * c) - {off}
                  ORDER BY i) AS m,
             any_value(c) AS c
      FROM {out}_s GROUP BY j
    ),
    {out} AS (
      SELECT p.j, coalesce(a.m, p.m) AS m, coalesce(a.c, 0) AS c
      FROM {prev} p LEFT JOIN {out}_agg a ON a.j = p.j
    )"""

    parts = [
        f"""
    WITH vi AS (
      SELECT vec_id, {_PQ_VI_DUCK} AS x FROM embeddings
    ),
    init AS (
      SELECT CAST(rn - 1 AS INT) AS j, x AS m, CAST(1 AS BIGINT) AS c
      FROM (
        SELECT vec_id, x, row_number() OVER (
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        FROM vi
      ) WHERE rn <= {k}
    )"""
    ]
    cents = "init"
    final_a = None
    for it in range(1, iterations + 1):
        final_a = f"a{it}"
        parts.append("," + assign(cents, final_a))
        if it < iterations:
            parts.append("," + recenter(final_a, cents, f"c{it}"))
            cents = f"c{it}"
    return "".join(parts), final_a, cents


def _kmeans_assign_oracle(k: int, iterations: int, dim: int = 64) -> str:
    ctes, final_a, _cents = _kmeans_ctes(k, iterations, dim)
    return ctes + (
        f"\n    SELECT vec_id, CAST(j AS INT) AS cluster FROM {final_a}"
    )


@_q(
    "sim_kmeans_assign",
    _kmeans_assign_oracle(4, 2),
    "in-engine distributed k-means training (quantized Lloyd's, k=4, "
    "2 iterations) — the training loop behind the IVF/PQ families, run "
    "INSIDE the engine instead of an offline tool, and ENGINE-EXACT: "
    "init is the first k vectors in (md5, id) order (no RNG), vectors "
    "quantize once to the 1e6 integer grid, and each round's centroid "
    "is the integer mean rounded back onto that grid (floor(s/c+0.5) "
    "as pure positive-numerator integer division — exactly how the "
    "module's pretrained codebook literals were made), so every "
    "assignment key is a plain-BIGINT ||x - m||^2 with index "
    "tie-break: no float touches any comparison and the CTE-unrolled "
    "oracle replays training bit for bit. Per iteration: k-row "
    "broadcast into a map-only assignment + ONE map-side-combined "
    "groupBy (per-dim sums as 64 aggregate columns, no explode); "
    "centroid relation checkpoint-truncated per round",
)
def sim_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    assign, _cents = similarity.kmeans_train(
        t["embeddings"], k=4, iterations=2
    )
    return assign


def _semantic_dedup_oracle(k: int, iterations: int, threshold: float) -> str:
    ctes, final_a, _cents = _kmeans_ctes(k, iterations)
    cos = _EMB_COS.format(a="a.v", b="b.v")
    return (
        ctes
        + f""",
    v2 AS (
      SELECT vec_id, j, list_transform(x, e -> CAST(e AS DOUBLE)) AS v
      FROM {final_a}
    ),
    simpairs AS (
      SELECT a.j AS cluster, a.vec_id AS id_a, b.vec_id AS id_b
      FROM v2 a JOIN v2 b ON a.j = b.j AND a.vec_id < b.vec_id
      WHERE {fround_sql(cos, 4)} >= {threshold}
    )
    SELECT id_b AS drop_id, min(id_a) AS keep_id,
           CAST(min(cluster) AS INTEGER) AS cluster
    FROM simpairs GROUP BY id_b
    """
    )


@_q(
    "dedup_semantic",
    _semantic_dedup_oracle(8, 2, 0.3),
    "SemDeDup (Abbas et al. 2023): semantic dedup by k-means clustering "
    "the embedding space (the engine-exact quantized-Lloyd's trainer, "
    "k=8, 2 iterations, no RNG) and pruning within-cluster cosine "
    "near-dups, keep-lowest-id — the published recipe that halved LAION "
    "with no quality loss. Clusters play the LSH-bucket role: unit of "
    "parallelism AND memory, one Arrow transfer + one BLAS matrix "
    "product per cluster (O(docs x dim) transfer, never O(pairs x "
    "dim)); at scale k rises so the largest cluster fits an executor. "
    "Cosines on the shared 1e6 integer grid, so the oracle replays "
    "training AND scoring bit for bit",
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return dedup.semantic_dedup(
        t["embeddings"], k=8, iterations=2, threshold=0.3
    )


def _ivf_trained_oracle(
    k: int, kcells: int, iterations: int, nprobe: int, dim: int = 64
) -> str:
    ctes, final_a, cents = _kmeans_ctes(kcells, iterations, dim)
    cd2 = (
        "list_sum(list_transform(range(1, {dim} + 1), i -> "
        "(q.qx[CAST(i AS INT)] - cc.m[CAST(i AS INT)]) * "
        "(q.qx[CAST(i AS INT)] - cc.m[CAST(i AS INT)])))"
    ).format(dim=dim)
    xd2 = (
        "list_sum(list_transform(range(1, {dim} + 1), i -> "
        "(a.x[CAST(i AS INT)] - q.qx[CAST(i AS INT)]) * "
        "(a.x[CAST(i AS INT)] - q.qx[CAST(i AS INT)])))"
    ).format(dim=dim)
    return (
        ctes
        + f""",
    q AS (
      SELECT x AS qx FROM vi
      WHERE vec_id = (SELECT max(vec_id) FROM embeddings)
    ),
    cellrank AS (
      SELECT cc.j,
             row_number() OVER (ORDER BY {cd2}, cc.j) AS rk
      FROM {cents} cc CROSS JOIN q
    ),
    probed AS (SELECT j FROM cellrank WHERE rk <= {nprobe})
    SELECT a.vec_id, CAST({xd2} AS BIGINT) AS dist
    FROM {final_a} a JOIN probed p ON p.j = a.j CROSS JOIN q
    ORDER BY dist, a.vec_id
    LIMIT {k}
    """
    )


@_q(
    "sim_ivf_trained_search",
    _ivf_trained_oracle(10, 4, 2, 2),
    "fully IN-ENGINE IVF: the coarse quantizer comes from "
    "sim_kmeans_assign's quantized-Lloyd's training (no offline "
    "codebook step), cells are assigned in the same job, the query "
    "probes the nprobe=2 nearest trained centroids (k-row bounded "
    "driver ranking, the module's standard IVF shape), and the exact "
    "integer top-10 runs over ONLY the probed cells' candidates "
    "(TakeOrderedAndProject — map-only over the pruned cells, partial "
    "top-k, no full exchange). The oracle replays training AND search "
    "bit for bit — index build to result set, one CTE chain",
)
def sim_ivf_trained_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    emb = similarity.finite_vectors(t["embeddings"])
    qrow = (
        emb.orderBy(F.col("vec_id").desc()).select("embedding").first()
    )
    return similarity.ivf_trained_search(
        emb, [float(x) for x in qrow["embedding"]],
        k=10, kcells=4, iterations=2, nprobe=2,
    )


def _pq_search_oracle(k: int) -> str:
    ints = _pq_int_books()
    m, sub = len(ints), len(ints[0][0])
    cents = ",\n             ".join(
        f"list_extract({_pq_duck_book(j)}, codes[{j + 1}] + 1) AS c{j}"
        for j in range(m)
    )
    dist = " + ".join(
        f"(q.qi[{j * sub + i + 1}] - w.c{j}[{i + 1}]) * "
        f"(q.qi[{j * sub + i + 1}] - w.c{j}[{i + 1}])"
        for j in range(m)
        for i in range(sub)
    )
    return f"""
    WITH vi AS (
      SELECT vec_id, {_PQ_VI_DUCK} AS vi FROM embeddings
    ), codes_t AS (
      SELECT vec_id, {_pq_duck_codes_expr()} AS codes FROM vi
    ), q AS (
      SELECT {_PQ_VI_DUCK} AS qi FROM embeddings
      WHERE vec_id = (SELECT max(vec_id) FROM embeddings)
    ), withcent AS (
      SELECT vec_id,
             {cents}
      FROM codes_t
    )
    SELECT vec_id, CAST({dist} AS BIGINT) AS adc_dist
    FROM withcent w, q
    ORDER BY adc_dist, vec_id
    LIMIT {k}
    """


@_q(
    "sim_pq_search",
    _pq_search_oracle(10),
    "PQ asymmetric-distance (ADC) search: the query stays unquantized — "
    "its exact scaled-int distance to every centroid becomes an M x K "
    "BIGINT lookup table in the plan, each row's approximate distance "
    "is 8 lookups + an exact sum over the CODES ONLY (raw vectors never "
    "flow through the query), and the deterministic top-10 compiles to "
    "TakeOrderedAndProject — map-only scan, parallel partial top-k, no "
    "full exchange at any corpus size",
)
def sim_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.data.pq_codebooks import PQ_CODEBOOKS

    t = register_views(spark, sf_dir)
    emb = similarity.finite_vectors(t["embeddings"])
    qv = [
        float(x)
        for x in emb.orderBy(F.desc("vec_id")).limit(1).collect()[0]["embedding"]
    ]
    codes = similarity.pq_encode(emb, PQ_CODEBOOKS)
    return similarity.pq_search_adc(codes, PQ_CODEBOOKS, qv, k=10)


def _pq_rerank_oracle(k: int, refine: int) -> str:
    ints = _pq_int_books()
    m, sub = len(ints), len(ints[0][0])
    cents = ",\n             ".join(
        f"list_extract({_pq_duck_book(j)}, codes[{j + 1}] + 1) AS c{j}"
        for j in range(m)
    )
    adc = " + ".join(
        f"(q.qi[{j * sub + i + 1}] - w.c{j}[{i + 1}]) * "
        f"(q.qi[{j * sub + i + 1}] - w.c{j}[{i + 1}])"
        for j in range(m)
        for i in range(sub)
    )
    exact = " + ".join(
        f"(v.vi[{i + 1}] - q.qi[{i + 1}]) * (v.vi[{i + 1}] - q.qi[{i + 1}])"
        for i in range(m * sub)
    )
    return f"""
    WITH vi AS (
      SELECT vec_id, {_PQ_VI_DUCK} AS vi FROM embeddings
    ), codes_t AS (
      SELECT vec_id, {_pq_duck_codes_expr()} AS codes FROM vi
    ), q AS (
      SELECT {_PQ_VI_DUCK} AS qi FROM embeddings
      WHERE vec_id = (SELECT max(vec_id) FROM embeddings)
    ), withcent AS (
      SELECT vec_id,
             {cents}
      FROM codes_t
    ), cand AS (
      SELECT vec_id, CAST({adc} AS BIGINT) AS adc_dist
      FROM withcent w, q
      ORDER BY adc_dist, vec_id
      LIMIT {refine}
    )
    SELECT v.vec_id, CAST({exact} AS BIGINT) AS dist
    FROM vi v JOIN cand ON cand.vec_id = v.vec_id, q
    ORDER BY dist, v.vec_id
    LIMIT {k}
    """


@_q(
    "sim_pq_search_rerank",
    _pq_rerank_oracle(10, 200),
    "Two-stage PQ ANN (the production shape): ADC over the compressed "
    "codes proposes 200 candidates via TakeOrderedAndProject, then ONLY "
    "those rows have their raw vectors read back (broadcast candidate "
    "join) and exact-ranked on the scaled-int grid — at corpus scale "
    "the full-width vector column is touched for a constant number of "
    "rows per query. refine=200 is the measured knee of "
    "sim_refine_recall_profile's curve (panel recall@10 155/160 at the "
    "trained scale; 400 buys +5 hits for 2x the exact evaluations)",
)
def sim_pq_search_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.data.pq_codebooks import PQ_CODEBOOKS

    t = register_views(spark, sf_dir)
    emb = similarity.finite_vectors(t["embeddings"])
    qv = [
        float(x)
        for x in emb.orderBy(F.desc("vec_id")).limit(1).collect()[0]["embedding"]
    ]
    return similarity.pq_search_rerank(
        emb, PQ_CODEBOOKS, qv, k=10, refine=200
    )


def _ivf_pq_oracle(k: int, nprobe: int, refine: int) -> str:
    ints = _pq_int_books()
    m, sub = len(ints), len(ints[0][0])
    cents = ",\n             ".join(
        f"list_extract({_pq_duck_book(j)}, codes[{j + 1}] + 1) AS c{j}"
        for j in range(m)
    )
    adc = " + ".join(
        f"(q.qi[{j * sub + i + 1}] - w.c{j}[{i + 1}]) * "
        f"(q.qi[{j * sub + i + 1}] - w.c{j}[{i + 1}])"
        for j in range(m)
        for i in range(sub)
    )
    exact = " + ".join(
        f"(v.vi[{i + 1}] - q.qi[{i + 1}]) * (v.vi[{i + 1}] - q.qi[{i + 1}])"
        for i in range(m * sub)
    )
    return f"""
    WITH {_ivf_centroid_cte()}, qv AS (
      SELECT list_transform(embedding, x -> x::DOUBLE) AS qv,
             {_PQ_VI_DUCK} AS qi
      FROM embeddings
      WHERE vec_id = (SELECT max(vec_id) FROM embeddings)
    ), q AS (SELECT qi FROM qv), probe AS (
      SELECT cell FROM (
        SELECT c.cell,
               row_number() OVER (
                 ORDER BY {fround_sql(_COS_SQL.format(a="c.cv", b="qv.qv"), 4)} DESC, c.cell
               ) AS rn
        FROM c, qv
      ) WHERE rn <= {nprobe}
    ), v0 AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
             {_PQ_VI_DUCK} AS vi
      FROM embeddings
    ), assigned AS (
      SELECT vec_id, cell FROM (
        SELECT v0.vec_id, c.cell,
               row_number() OVER (PARTITION BY v0.vec_id ORDER BY
                 {fround_sql(_COS_SQL.format(a="v0.v", b="c.cv"), 4)} DESC, c.cell) AS rn
        FROM v0 CROSS JOIN c
      ) WHERE rn = 1
    ), codes_t AS (
      SELECT vec_id, {_pq_duck_codes_expr()} AS codes FROM v0
    ), withcent AS (
      SELECT ct.vec_id,
             {cents}
      FROM codes_t ct
      JOIN assigned a ON a.vec_id = ct.vec_id
      WHERE a.cell IN (SELECT cell FROM probe)
    ), cand AS (
      SELECT vec_id, CAST({adc} AS BIGINT) AS adc_dist
      FROM withcent w, q
      ORDER BY adc_dist, vec_id
      LIMIT {refine}
    )
    SELECT v.vec_id, CAST({exact} AS BIGINT) AS dist
    FROM v0 v JOIN cand ON cand.vec_id = v.vec_id, q
    ORDER BY dist, v.vec_id
    LIMIT {k}
    """


@_q(
    "sim_ivf_pq_search",
    _ivf_pq_oracle(10, 2, 200),
    "IVF+PQ composite ANN (the full production stack): the trained IVF "
    "coarse quantizer prunes to the 2 nearest of 8 cells, ADC over the "
    "trained PQ codes ranks only those cells' members and proposes 200 "
    "candidates (TakeOrderedAndProject; the measured knee of "
    "sim_refine_recall_profile's curve), exact scaled-int rerank reads "
    "raw vectors for just those rows — with the (cell, codes) index "
    "partitionBy(cell), a query touches ~nprobe/n_cells of the "
    "compressed codes and a constant number of raw vectors",
)
def sim_ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.data.pq_codebooks import PQ_CODEBOOKS

    t = register_views(spark, sf_dir)
    emb = similarity.finite_vectors(t["embeddings"])
    qv = [
        float(x)
        for x in emb.orderBy(F.desc("vec_id")).limit(1).collect()[0]["embedding"]
    ]
    return similarity.ivf_pq_search(
        emb, _ivf_centroids(), PQ_CODEBOOKS, qv, k=10, nprobe=2, refine=200
    )


def _ann_recall_oracle(k: int) -> str:
    """Recall@k oracle: exact scaled-int ground truth (MATERIALIZED —
    referenced once per method; DuckDB 1.0's default CTE inlining would
    otherwise replay the full scan per reference) intersected with each
    ANN method's own already-green oracle, nested verbatim as
    subqueries so the recall measurement can never drift from the
    parity-checked search definitions."""
    ints = _pq_int_books()
    m, sub = len(ints), len(ints[0][0])
    exact = " + ".join(
        f"(v.vi[{i + 1}] - q.qi[{i + 1}]) * (v.vi[{i + 1}] - q.qi[{i + 1}])"
        for i in range(m * sub)
    )
    return f"""
    WITH truth AS MATERIALIZED (
      SELECT vec_id FROM (
        WITH vi AS (
          SELECT vec_id, {_PQ_VI_DUCK} AS vi FROM embeddings
        ), q AS (
          SELECT {_PQ_VI_DUCK} AS qi FROM embeddings
          WHERE vec_id = (SELECT max(vec_id) FROM embeddings)
        )
        SELECT v.vec_id FROM vi v, q
        ORDER BY CAST({exact} AS BIGINT), v.vec_id
        LIMIT {k}
      )
    ), m_pq_adc AS (
      SELECT vec_id FROM ({_pq_search_oracle(k)})
    ), m_pq_rerank AS (
      SELECT vec_id FROM ({_pq_rerank_oracle(k, 50)})
    ), m_ivf_pq AS (
      SELECT vec_id FROM ({_ivf_pq_oracle(k, 2, 50)})
    )
    SELECT method, hits, k FROM (
      SELECT 'ivf_pq' AS method,
             (SELECT count(*) FROM m_ivf_pq m JOIN truth t ON m.vec_id = t.vec_id) AS hits,
             CAST({k} AS BIGINT) AS k
      UNION ALL
      SELECT 'pq_adc',
             (SELECT count(*) FROM m_pq_adc m JOIN truth t ON m.vec_id = t.vec_id),
             CAST({k} AS BIGINT)
      UNION ALL
      SELECT 'pq_rerank',
             (SELECT count(*) FROM m_pq_rerank m JOIN truth t ON m.vec_id = t.vec_id),
             CAST({k} AS BIGINT)
    )
    """


@_q(
    "sim_ann_recall",
    _ann_recall_oracle(10),
    "ANN index QUALITY, not just parity: recall@10 of the three served "
    "search shapes (raw PQ-ADC order, PQ+exact-rerank, IVF+PQ with "
    "nprobe=2) against exact scaled-int ground truth over the full "
    "corpus, reported as an exact rational (hits, k) per method — no "
    "float recall to round differently across engines. Ground truth, "
    "candidates, and rerank all rank on the identical 1e6 scaled-int "
    "grid with (dist, id) tie-breaks, so every input set is "
    "deterministic and hits is bit-reproducible; the comparison itself "
    "is a broadcast k-row semi join (the corpus-scale work is the "
    "top-k inputs, each a map-only TakeOrderedAndProject)",
)
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.data.pq_codebooks import PQ_CODEBOOKS

    t = register_views(spark, sf_dir)
    emb = similarity.finite_vectors(t["embeddings"])
    qv = [
        float(x)
        for x in emb.orderBy(F.desc("vec_id")).limit(1).collect()[0]["embedding"]
    ]
    truth = similarity.exact_topk_int(emb, qv, k=10)
    # ONE (id, cell, codes) index pass shared by all three arms (r18
    # opt): the ADC codes and IVF cells were being recomputed per arm —
    # three ~16k-op-per-row corpus scans for one encode's worth of
    # information. The eager checkpoint materializes the index once;
    # each arm then scans the cached rows. Codes/cells are the same
    # expressions as before (ivf_pq_index == the inline index pass),
    # so every arm's rows are bit-identical.
    idx = similarity.ivf_pq_index(
        emb, _ivf_centroids(), PQ_CODEBOOKS
    ).localCheckpoint()
    codes = idx.select("vec_id", "codes")
    # the recall instruments (this, sim_ivf_recall_profile,
    # sim_ann_recall_panel) stay pinned at refine=50 so the per-round
    # trend series in bench_full.json remains comparable; the SERVING
    # defaults moved to the measured refine=200 (r12)
    methods = {
        "pq_adc": similarity.pq_search_adc(codes, PQ_CODEBOOKS, qv, k=10),
        "pq_rerank": similarity.pq_search_rerank(
            emb, PQ_CODEBOOKS, qv, k=10, refine=50, codes=codes
        ),
        "ivf_pq": similarity.ivf_pq_search(
            emb, _ivf_centroids(), PQ_CODEBOOKS, qv, k=10, nprobe=2,
            refine=50, index=idx,
        ),
    }
    return similarity.ann_recall(methods, truth, k=10)


def _ivf_recall_profile_oracle(k: int, nprobes: tuple[int, ...]) -> str:
    """Recall@k at each nprobe setting: one truth CTE (MATERIALIZED),
    one nested IVF-PQ oracle per probe width, intersections unioned."""
    ints = _pq_int_books()
    m, sub = len(ints), len(ints[0][0])
    exact = " + ".join(
        f"(v.vi[{i + 1}] - q.qi[{i + 1}]) * (v.vi[{i + 1}] - q.qi[{i + 1}])"
        for i in range(m * sub)
    )
    method_ctes = ",\n    ".join(
        f"m_np{np} AS (\n      SELECT vec_id FROM ({_ivf_pq_oracle(k, np, 50)})\n    )"
        for np in nprobes
    )
    arms = "\n      UNION ALL\n".join(
        f"""      SELECT 'nprobe_{np}' AS method, CAST({np} AS BIGINT) AS nprobe,
             (SELECT count(*) FROM m_np{np} m JOIN truth t ON m.vec_id = t.vec_id) AS hits,
             CAST({k} AS BIGINT) AS k"""
        for np in nprobes
    )
    return f"""
    WITH truth AS MATERIALIZED (
      SELECT vec_id FROM (
        WITH vi AS (
          SELECT vec_id, {_PQ_VI_DUCK} AS vi FROM embeddings
        ), q AS (
          SELECT {_PQ_VI_DUCK} AS qi FROM embeddings
          WHERE vec_id = (SELECT max(vec_id) FROM embeddings)
        )
        SELECT v.vec_id FROM vi v, q
        ORDER BY CAST({exact} AS BIGINT), v.vec_id
        LIMIT {k}
      )
    ), {method_ctes}
    SELECT method, nprobe, hits, k FROM (
{arms}
    )
    """


_RECALL_NPROBES = (1, 2, 4, 8)


@_q(
    "sim_ivf_recall_profile",
    _ivf_recall_profile_oracle(10, _RECALL_NPROBES),
    "IVF index-tuning curve: recall@10 of the full IVF+PQ+rerank stack "
    "at nprobe = 1/2/4/8 (8 = every cell, so the top arm must equal the "
    "PQ-rerank ceiling — a structural sanity bound the parity check "
    "enforces for free). This is the measurement that picks nprobe in "
    "production: recall rises with cells probed while served cost "
    "scales ~nprobe/n_cells of the compressed codes; each arm is the "
    "identical map-only TakeOrderedAndProject plan as sim_ivf_pq_search "
    "and the roll-up is a broadcast k-row semi join per arm",
)
def sim_ivf_recall_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.data.pq_codebooks import PQ_CODEBOOKS

    t = register_views(spark, sf_dir)
    emb = similarity.finite_vectors(t["embeddings"])
    qv = [
        float(x)
        for x in emb.orderBy(F.desc("vec_id")).limit(1).collect()[0]["embedding"]
    ]
    truth = similarity.exact_topk_int(emb, qv, k=10)
    # one shared (id, cell, codes) index for all nprobe arms (r18 opt —
    # see sim_ann_recall): identical expressions, built/materialized once
    idx = similarity.ivf_pq_index(
        emb, _ivf_centroids(), PQ_CODEBOOKS
    ).localCheckpoint()
    methods = {
        f"nprobe_{np}": similarity.ivf_pq_search(
            emb, _ivf_centroids(), PQ_CODEBOOKS, qv, k=10, nprobe=np,
            refine=50, index=idx,
        )
        for np in _RECALL_NPROBES
    }
    out = similarity.ann_recall(methods, truth, k=10)
    return out.select(
        "method",
        F.split(F.col("method"), "_").getItem(1).cast("bigint").alias("nprobe"),
        "hits",
        "k",
    )


def _ann_recall_panel_oracle(
    k: int, n_panel: int, refine: int, nprobe: int
) -> str:
    """Set-wise DuckDB twin of the panel recall measurement: ONE
    qpanel CTE (the n highest-id vectors), every stage windowed
    PARTITION BY qid — not n_panel unrolled per-query copies. The
    multiply-referenced CTEs (vi, adc, truth, ...) are auto-
    MATERIALIZED by the QuerySpec.oracle accessor."""
    ints = _pq_int_books()
    m, sub = len(ints), len(ints[0][0])
    exact = " + ".join(
        f"(v.vi[{i + 1}] - q.qi[{i + 1}]) * (v.vi[{i + 1}] - q.qi[{i + 1}])"
        for i in range(m * sub)
    )
    cents = ",\n             ".join(
        f"list_extract({_pq_duck_book(j)}, codes[{j + 1}] + 1) AS c{j}"
        for j in range(m)
    )
    adc = " + ".join(
        f"(q.qi[{j * sub + i + 1}] - w.c{j}[{i + 1}]) * "
        f"(q.qi[{j * sub + i + 1}] - w.c{j}[{i + 1}])"
        for j in range(m)
        for i in range(sub)
    )
    return f"""
    WITH qpanel AS (
      SELECT vec_id AS qid, {_PQ_VI_DUCK} AS qi,
             list_transform(embedding, x -> x::DOUBLE) AS qv
      FROM embeddings ORDER BY vec_id DESC LIMIT {n_panel}
    ), vi AS (
      SELECT vec_id, {_PQ_VI_DUCK} AS vi,
             list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ), truth AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, v.vec_id,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY CAST({exact} AS BIGINT), v.vec_id) AS rn
        FROM vi v CROSS JOIN qpanel q
      ) WHERE rn <= {k}
    ), codes_t AS (
      SELECT vec_id, {_pq_duck_codes_expr()} AS codes FROM vi
    ), withcent AS (
      SELECT vec_id, {cents} FROM codes_t
    ), adc AS (
      SELECT q.qid, w.vec_id, CAST({adc} AS BIGINT) AS adc_dist
      FROM withcent w CROSS JOIN qpanel q
    ), adc_ranked AS (
      SELECT qid, vec_id,
             row_number() OVER (PARTITION BY qid ORDER BY adc_dist, vec_id) AS rn
      FROM adc
    ), m_pq_adc AS (
      SELECT qid, vec_id FROM adc_ranked WHERE rn <= {k}
    ), cand_rr AS (
      SELECT qid, vec_id FROM adc_ranked WHERE rn <= {refine}
    ), m_pq_rerank AS (
      SELECT qid, vec_id FROM (
        SELECT cr.qid, v.vec_id,
               row_number() OVER (PARTITION BY cr.qid
                 ORDER BY CAST({exact} AS BIGINT), v.vec_id) AS rn
        FROM cand_rr cr
        JOIN vi v ON v.vec_id = cr.vec_id
        JOIN qpanel q ON q.qid = cr.qid
      ) WHERE rn <= {k}
    ), {_ivf_centroid_cte()}, probe AS (
      SELECT qid, cell FROM (
        SELECT q.qid, c.cell,
               row_number() OVER (PARTITION BY q.qid ORDER BY
                 {fround_sql(_COS_SQL.format(a="c.cv", b="q.qv"), 4)} DESC, c.cell) AS rn
        FROM c CROSS JOIN qpanel q
      ) WHERE rn <= {nprobe}
    ), assigned AS (
      SELECT vec_id, cell FROM (
        SELECT v.vec_id, c.cell,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 {fround_sql(_COS_SQL.format(a="v.v", b="c.cv"), 4)} DESC, c.cell) AS rn
        FROM vi v CROSS JOIN c
      ) WHERE rn = 1
    ), ivf_cand AS (
      SELECT qid, vec_id FROM (
        SELECT a.qid, a.vec_id,
               row_number() OVER (PARTITION BY a.qid
                 ORDER BY a.adc_dist, a.vec_id) AS rn
        FROM adc a
        JOIN assigned s ON s.vec_id = a.vec_id
        JOIN probe p ON p.qid = a.qid AND p.cell = s.cell
      ) WHERE rn <= {refine}
    ), m_ivf_pq AS (
      SELECT qid, vec_id FROM (
        SELECT ic.qid, v.vec_id,
               row_number() OVER (PARTITION BY ic.qid
                 ORDER BY CAST({exact} AS BIGINT), v.vec_id) AS rn
        FROM ivf_cand ic
        JOIN vi v ON v.vec_id = ic.vec_id
        JOIN qpanel q ON q.qid = ic.qid
      ) WHERE rn <= {k}
    ), denom_t AS (SELECT CAST(count(*) AS BIGINT) AS denom FROM truth)
    SELECT method, hits, denom FROM (
      SELECT 'ivf_pq' AS method,
             CAST((SELECT count(*) FROM m_ivf_pq m
                   JOIN truth t ON t.qid = m.qid AND t.vec_id = m.vec_id) AS BIGINT) AS hits
      UNION ALL
      SELECT 'pq_adc',
             CAST((SELECT count(*) FROM m_pq_adc m
                   JOIN truth t ON t.qid = m.qid AND t.vec_id = m.vec_id) AS BIGINT)
      UNION ALL
      SELECT 'pq_rerank',
             CAST((SELECT count(*) FROM m_pq_rerank m
                   JOIN truth t ON t.qid = m.qid AND t.vec_id = m.vec_id) AS BIGINT)
    ), denom_t
    """


_PANEL_N = 16


@_q(
    "sim_ann_recall_panel",
    _ann_recall_panel_oracle(10, _PANEL_N, 50, 2),
    "ANN recall@10 measured over a 16-query panel (the 16 highest-id "
    "vectors), not a single query vector — r10's one-vector recall was "
    "a coin-flip estimator of index quality (VERDICT r10 #2). Each "
    "method's panel runs as ONE corpus scan: mapInPandas computes all "
    "16 queries' exact scaled-int distances per Arrow batch with a "
    "per-batch partial top-k, so only ~batches*16*k survivor rows hit "
    "the single per-qid window — at 100 TB the corpus read dominates "
    "and is amortized across the whole panel, vs 16 re-reads for "
    "per-query TakeOrderedAndProject. Reports exact (hits, denom) "
    "rationals per method with denom = |truth| = 160; the IVF arm "
    "probes 2 of 8 cells per query with probe cells selected by the "
    "same rounded-cosine Spark fold as the single-query path (numpy's "
    "pairwise summation could flip a rounding boundary, so probe "
    "selection stays JVM-side)",
)
def sim_ann_recall_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.data.pq_codebooks import PQ_CODEBOOKS

    from wikidata_to_surrealdb_spark.functions import respread

    t = register_views(spark, sf_dir)
    emb = similarity.finite_vectors(t["embeddings"])
    queries = similarity.panel_query_vectors(emb, n=_PANEL_N)
    truth = similarity.exact_topk_int_panel(emb, queries, k=10)
    # respread BEFORE encode: the per-subspace argmin expressions are
    # the expensive part, and the single-row-group testdata scan is one
    # task — at any real multi-split scale this is a no-op
    codes = similarity.pq_encode(
        respread(emb.select("vec_id", "embedding")), PQ_CODEBOOKS
    )
    # one ADC pass at the wider refine width; the pq_adc arm is its
    # top-10 prefix (localCheckpoint: <=16*50 rows, read by both the
    # prefix re-window and the rerank join — without it each branch
    # would replay the whole encode+ADC scan)
    adc50 = similarity.pq_adc_panel(
        codes, PQ_CODEBOOKS, queries, k=50
    ).localCheckpoint(eager=False)
    methods = {
        "pq_adc": similarity._panel_global_topk(adc50, 10, "adc_dist"),
        "pq_rerank": similarity.rerank_panel(emb, adc50, queries, k=10),
        "ivf_pq": similarity.rerank_panel(
            emb,
            similarity.ivf_pq_panel_candidates(
                emb,
                _ivf_centroids(),
                PQ_CODEBOOKS,
                queries,
                nprobe=2,
                refine=50,
            ),
            queries,
            k=10,
        ),
    }
    return similarity.ann_recall_panel(methods, truth, k=10)


_REFINE_WIDTHS = (50, 100, 200, 400)


def _refine_recall_profile_oracle(
    k: int, n_panel: int, widths: tuple[int, ...]
) -> str:
    """Set-wise DuckDB twin of the refine-width recall curve: the same
    qpanel/vi/truth/codes/ADC CTEs as the recall panel, then ONE scored
    relation (exact dist for every candidate inside the WIDEST refine)
    joined to a widths dim table — each width's top-k is a rank window
    PARTITION BY (refine, qid), not an unrolled per-width replay of the
    encode+ADC stages."""
    ints = _pq_int_books()
    m, sub = len(ints), len(ints[0][0])
    exact = " + ".join(
        f"(v.vi[{i + 1}] - q.qi[{i + 1}]) * (v.vi[{i + 1}] - q.qi[{i + 1}])"
        for i in range(m * sub)
    )
    cents = ",\n             ".join(
        f"list_extract({_pq_duck_book(j)}, codes[{j + 1}] + 1) AS c{j}"
        for j in range(m)
    )
    adc = " + ".join(
        f"(q.qi[{j * sub + i + 1}] - w.c{j}[{i + 1}]) * "
        f"(q.qi[{j * sub + i + 1}] - w.c{j}[{i + 1}])"
        for j in range(m)
        for i in range(sub)
    )
    widths_rows = ", ".join(f"({w})" for w in widths)
    return f"""
    WITH qpanel AS (
      SELECT vec_id AS qid, {_PQ_VI_DUCK} AS qi
      FROM embeddings ORDER BY vec_id DESC LIMIT {n_panel}
    ), vi AS (
      SELECT vec_id, {_PQ_VI_DUCK} AS vi FROM embeddings
    ), truth AS (
      SELECT qid, vec_id FROM (
        SELECT q.qid, v.vec_id,
               row_number() OVER (PARTITION BY q.qid
                 ORDER BY CAST({exact} AS BIGINT), v.vec_id) AS rn
        FROM vi v CROSS JOIN qpanel q
      ) WHERE rn <= {k}
    ), codes_t AS (
      SELECT vec_id, {_pq_duck_codes_expr()} AS codes FROM vi
    ), withcent AS (
      SELECT vec_id, {cents} FROM codes_t
    ), adc AS (
      SELECT q.qid, w.vec_id, CAST({adc} AS BIGINT) AS adc_dist
      FROM withcent w CROSS JOIN qpanel q
    ), adc_ranked AS (
      SELECT qid, vec_id,
             row_number() OVER (PARTITION BY qid ORDER BY adc_dist, vec_id) AS rn
      FROM adc
    ), widths(refine) AS (VALUES {widths_rows}), scored AS (
      SELECT ar.qid, ar.vec_id, ar.rn AS adc_rn,
             CAST({exact} AS BIGINT) AS edist
      FROM adc_ranked ar
      JOIN vi v ON v.vec_id = ar.vec_id
      JOIN qpanel q ON q.qid = ar.qid
      WHERE ar.rn <= {max(widths)}
    ), reranked AS (
      SELECT wd.refine, s.qid, s.vec_id,
             row_number() OVER (PARTITION BY wd.refine, s.qid
               ORDER BY s.edist, s.vec_id) AS rn
      FROM scored s JOIN widths wd ON s.adc_rn <= wd.refine
    ), hits_t AS (
      SELECT m.refine, CAST(count(*) AS BIGINT) AS hits
      FROM (SELECT refine, qid, vec_id FROM reranked WHERE rn <= {k}) m
      JOIN truth t ON t.qid = m.qid AND t.vec_id = m.vec_id
      GROUP BY m.refine
    ), denom_t AS (SELECT CAST(count(*) AS BIGINT) AS denom FROM truth)
    SELECT CAST(wd.refine AS BIGINT) AS refine,
           coalesce(h.hits, 0) AS hits, d.denom AS denom
    FROM widths wd LEFT JOIN hits_t h ON h.refine = wd.refine, denom_t d
    """


@_q(
    "sim_refine_recall_profile",
    _refine_recall_profile_oracle(10, _PANEL_N, _REFINE_WIDTHS),
    "The refine-width half of index tuning (VERDICT r11 #1): panel "
    "recall@10 of the PQ-rerank stack at refine = 50/100/200/400 on "
    "the same fixed codebooks. R11 proved the sf0.1 recall ceiling is "
    "the PQ CANDIDATE stage, not IVF pruning (the nprobe curve was "
    "flat) — this is the curve that says what widening the exact-rerank "
    "candidate set buys. One ADC pass at the widest refine; every "
    "narrower arm is a rank-window prefix of it, and the exact rerank "
    "distance is computed once per (widest-refine) candidate and "
    "shared across arms, so the corpus is scanned once for the whole "
    "curve. Served cost scales linearly with refine (refine exact "
    "distance evaluations per query), so the knee of this curve IS the "
    "production operating point",
)
def sim_refine_recall_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.data.pq_codebooks import PQ_CODEBOOKS

    from wikidata_to_surrealdb_spark.functions import respread

    t = register_views(spark, sf_dir)
    emb = similarity.finite_vectors(t["embeddings"])
    queries = similarity.panel_query_vectors(emb, n=_PANEL_N)
    truth = similarity.exact_topk_int_panel(emb, queries, k=10)
    codes = similarity.pq_encode(
        respread(emb.select("vec_id", "embedding")), PQ_CODEBOOKS
    )
    from pyspark.sql import Window

    widest = max(_REFINE_WIDTHS)
    # one ADC pass at the widest refine; <= 16*widest rows survive, so
    # the checkpoint bounds what every narrower arm re-reads
    adc_w = similarity.pq_adc_panel(
        codes, PQ_CODEBOOKS, queries, k=widest
    )
    w_adc = Window.partitionBy("qid").orderBy(
        F.col("adc_dist").asc(), F.col("vec_id").asc()
    )
    ranked = (
        adc_w.withColumn("_adc_rn", F.row_number().over(w_adc))
        .where(F.col("_adc_rn") <= widest)
        .localCheckpoint(eager=False)
    )
    # ONE exact rerank at the widest width (the expensive broadcast
    # join against the raw vectors runs once); narrower arms are
    # rank-window prefixes by ADC rank, exactly like the oracle
    scored = similarity.rerank_panel(
        emb, ranked, queries, k=widest
    ).localCheckpoint(eager=False)
    methods = {}
    for w in _REFINE_WIDTHS:
        cand_w = ranked.where(F.col("_adc_rn") <= w).select("qid", "vec_id")
        arm = (
            scored.join(F.broadcast(cand_w), ["qid", "vec_id"], "left_semi")
        )
        methods[f"r{w:04d}"] = similarity._panel_global_topk(arm, 10, "dist")
    out = similarity.ann_recall_panel(methods, truth, k=10)
    return out.select(
        F.substring(F.col("method"), 2, 4).cast("bigint").alias("refine"),
        "hits",
        "denom",
    )


# ---------------------------------------------------------------------------
# Text-analysis extensions
# ---------------------------------------------------------------------------

@_q(
    "text_tokens",
    r"""
    SELECT doc_id,
           CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0)) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_computed
    FROM documents
    """,
    "token counting: whitespace + BPE-ish regex pre-tokenization",
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return text.token_stats(t["documents"])


@_q(
    "text_quality",
    f"""
    WITH base AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                 t -> length(t) > 0)) AS n_tok,
             len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                 t -> list_contains({list(text.STOPWORDS)!r}, t))) AS n_stop,
             length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS n_alpha,
             length(text) AS n_chars
      FROM documents
    )
    SELECT doc_id,
           CAST(n_tok AS BIGINT) AS n_tokens,
           {fround_sql("n_alpha / NULLIF(n_tok, 0)::DOUBLE", 4)} AS mean_word_len,
           {fround_sql("n_stop / NULLIF(n_tok, 0)::DOUBLE", 4)} AS stopword_ratio,
           {fround_sql("n_alpha / NULLIF(n_chars, 0)::DOUBLE", 4)} AS alpha_ratio,
           {fround_sql(
               "least(1.0, n_tok / 100.0) * "
               f"(1.0 - {fround_sql('n_stop / NULLIF(n_tok, 0)::DOUBLE', 4)}) * "
               f"{fround_sql('n_alpha / NULLIF(n_chars, 0)::DOUBLE', 4)}",
               4,
           )} AS quality
    FROM base
    """,
    "quality scoring: length / stopword / alpha ratios + composite",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return text.quality_score(t["documents"])


_LANGID_MARKERS_SQL = {
    "de": "['der', 'die', 'das', 'und', 'ist', 'nicht']",
    "en": "['the', 'and', 'is', 'of', 'to', 'a']",
    "es": "['el', 'la', 'los', 'que', 'es', 'y']",
    "fr": "['le', 'la', 'les', 'est', 'et', 'une']",
}


@_q(
    "text_langid",
    f"""
    WITH toks AS (
      -- NULL text scores like empty text ('und'), not ELSE-branch 'fr':
      -- without the coalesce every score is NULL and the CASE falls
      -- through all WHENs (three-valued logic), silently mislabeling
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                                               '[^a-z0-9]+'),
                         t -> length(t) > 0) AS t
      FROM documents
    ), scores AS (
      SELECT doc_id,
        {", ".join(f"len(list_filter(t, x -> list_contains({m}, x))) AS score_{lang}"
                   for lang, m in _LANGID_MARKERS_SQL.items())}
      FROM toks
    )
    SELECT doc_id,
      CASE
        WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
        WHEN score_de = greatest(score_de, score_en, score_es, score_fr) THEN 'de'
        WHEN score_en = greatest(score_de, score_en, score_es, score_fr) THEN 'en'
        WHEN score_es = greatest(score_de, score_en, score_es, score_fr) THEN 'es'
        ELSE 'fr' END AS pred_lang
    FROM scores
    """,
    "language ID: stopword-marker heuristic, deterministic argmax",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return text.lang_id(t["documents"])


@_q(
    "text_fingerprint",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                 t -> length(t) > 0) AS t
      FROM documents
    ), hashes AS (
      SELECT doc_id, list_transform(generate_series(1, greatest(len(t) - 2, 0)),
               i -> md5(array_to_string(list_slice(t, i, i + 2), ' '))) AS h
      FROM toks
    )
    SELECT DISTINCT doc_id, unnest(list_distinct(list_transform(
             generate_series(1, greatest(len(h) - 3, 1)),
             i -> list_aggregate(list_slice(h, i, i + 3), 'min')))) AS fingerprint
    FROM hashes WHERE len(h) > 0
    """,
    "document fingerprinting: winnowing (k=3 shingles, window=4, md5 "
    "rolling hash) — array-local, shuffle-free",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return text.winnow_fingerprints(t["documents"], k=3, window=4)


# ---------------------------------------------------------------------------
# Events: windowing / sessionization / dedup (batch forms; streaming in
# streaming/events.py shares the same logic)
# ---------------------------------------------------------------------------

@_q(
    "events_window",
    f"""
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           {fround_sql(dsum_sql("value", 2), 2)} AS total_value
    FROM events GROUP BY 1, 2
    """,
    "tumbling-window aggregation (1h) — streaming-equivalent batch form",
)
def events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return (
        t["events"]
        .groupBy(
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            fround(dsum(F.col("value"), 2), 2).alias("total_value"),
        )
    )


@_q(
    "events_trailing_window",
    f"""
    SELECT event_id, user_id, ts_us,
           CAST(count(*) OVER w AS BIGINT) AS trailing_n,
           {fround_sql(
               "CAST(sum(" + drep_sql("value", 6)
               + ") OVER w AS DOUBLE)", 2
           )} AS trailing_sum
    FROM (SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
                 value FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    "trailing time-window analytics — the RANGE-interval window frame "
    "(each event's count/sum over ITS OWN preceding hour, not a "
    "tumbling bucket): per-user partitions ordered by microsecond "
    "epoch with RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW; "
    "timestamp ties are frame peers (included together) so the result "
    "is row-order independent, and the sum accumulates in "
    "DECIMAL(18,6) — exact and associative — before one final "
    "rounding. One user-keyed exchange; frames never cross partitions",
)
def events_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = register_views(spark, sf_dir)
    base = t["events"].select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return base.select(
        "event_id",
        "user_id",
        "ts_us",
        F.count(F.lit(1)).over(w).cast("bigint").alias("trailing_n"),
        fround(
            F.sum(drep(F.col("value"), 6))
            .over(w)
            .cast("double"),
            2,
        ).alias("trailing_sum"),
    )


@_q(
    "events_trailing_window_bounded",
    f"""
    SELECT event_id, user_id, ts_us,
           CAST(count(*) OVER w AS BIGINT) AS trailing_n,
           {fround_sql(
               "CAST(sum(" + drep_sql("value", 6)
               + ") OVER w AS DOUBLE)", 2
           )} AS trailing_sum
    FROM (SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
                 value FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    "skew-resilient trailing window — SAME semantics (and oracle) as "
    "events_trailing_window, but computed with (user, time-bucket) "
    "parallelism instead of one window partition per user: the 1h RANGE "
    "frame only ever reaches one horizon back, so each event's frame "
    "lives in its own 1h bucket plus the previous one — a prefix sum in "
    "its bucket plus a suffix sum probed into the one before, combined "
    "by row id, all in exact DECIMAL so the split is bit-identical. The "
    "per-key RANGE frame is the one operation skew can't salt (r13 "
    "hotkey: 80% one-key = 1.43x straggler); here the max task is "
    "bounded by events-per-key-per-HOUR, not events-per-key. The "
    "combine shuffles on event_id (id_col — an 8-byte key instead of "
    "the all-columns struct; measured 14% faster at sf0.1, identical "
    "output, and the r15 uniqueness guard raises on a duplicate id)",
)
def events_trailing_window_bounded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators.temporal import (
        bounded_trailing_agg,
    )

    t = register_views(spark, sf_dir)
    base = t["events"].select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        rep(F.col("value"), 6).alias("value"),
    )
    out = bounded_trailing_agg(
        base,
        "user_id",
        "ts_us",
        "value",
        horizon=3_600_000_000,
        id_col="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts_us",
        "trailing_n",
        fround(F.col("trailing_sum").cast("double"), 2).alias(
            "trailing_sum"
        ),
    )


@_q(
    "stream_trailing_window",
    f"""
    SELECT event_id, user_id, ts_us,
           CAST(count(*) OVER w AS BIGINT) AS trailing_n,
           {fround_sql(
               "CAST(sum(" + drep_sql("value", 6)
               + ") OVER w AS DOUBLE)", 2
           )} AS trailing_sum
    FROM (SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
                 value FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    "stateful STREAMING trailing window (the state-store twin of the "
    "RANGE frame and of events_trailing_window_bounded): per arriving "
    "event, applyInPandasWithState keyed by user emits its 1h trailing "
    "count/sum from a horizon buffer that evicts everything older than "
    "max_seen - 1h at every trigger — state is bounded by events-per-"
    "key-per-HORIZON (the watermark-eviction answer to hot-key trailing "
    "analytics; the giant per-key partition never materializes). Values "
    "are quantized JVM-side to exact DECIMAL(18,6) micro-units so the "
    "int64 buffer sums are bit-identical to the SQL DECIMAL sum; the "
    "source is staged as 3 TIME-ORDERED slices replayed one per "
    "micro-batch (slice_events_table), so the arrival contract the "
    "eviction logic needs is guaranteed by construction — not by "
    "availableNow happening to take one batch — and the entry "
    "exercises the real cross-batch state path",
)
def stream_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.streaming.events import (
        trailing_window_streaming,
    )

    register_views(spark, sf_dir)
    return trailing_window_streaming(
        spark, _staged_event_slices(spark, sf_dir), max_files_per_trigger=1
    )


@_q(
    "stream_lateness_audit_bounded",
    """
    WITH e AS (
      SELECT event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
             row_number() OVER (ORDER BY epoch_us(ts), event_id) - 1 AS rn,
             count(*) OVER () AS n
      FROM events
    ), arr AS (
      SELECT event_id, ts_us,
             CAST(least(3, (4 * rn) // n
               + CASE WHEN substr(md5(CAST(event_id AS VARCHAR)), 1, 1) = '0'
                      THEN 1 ELSE 0 END) AS INT) AS batch_id
      FROM e
    ), bmax AS (
      SELECT batch_id, max(ts_us) AS mx FROM arr GROUP BY batch_id
    ), wm AS (
      SELECT batch_id,
             max(mx) OVER (ORDER BY batch_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               - 3600000000 AS wm_us
      FROM bmax
    )
    SELECT a.batch_id,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN w.wm_us IS NOT NULL AND a.ts_us < w.wm_us
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_late
    FROM arr a JOIN wm w ON w.batch_id = a.batch_id
    GROUP BY a.batch_id
    """,
    "watermark-lateness audit — the deterministic replay of Structured "
    "Streaming's watermark policy used to TUNE allowed lateness before "
    "deploying it: arrival batches modeled as exact time quartiles "
    "(rank-based, ties on event_id) with 1/16 of rows (by md5) "
    "arriving one batch late; the watermark entering batch b is "
    "max(event time over batches < b) minus the 1h delay — exactly the "
    "engine's advance rule — and the audit counts, per batch, the rows "
    "a watermarked stateful operator would drop. Changes the delay "
    "knob from a guess into a measured quantity; rank window + two "
    "bounded aggregations, no state machinery needed. BOUNDED-REPLAY "
    "ONLY: the rank quartiles need a globally-ordered window (one "
    "task); the default name stream_lateness_audit now resolves to "
    "the corpus-scale time-quartile twin",
    tags=("bounded-replay-only",),
)
def stream_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELIBERATE bound: the arrival-batch rank uses a globally-ordered
    window with no partitionBy, funnelling the table through one task.
    That is the point of this query — the audit deterministically
    replays ONE stream's arrival order, and a stream's watermark is a
    single global sequence; the replay is run on a bounded sample of
    the stream (here the whole bench-scale events table), not the
    100 TB corpus. To audit at corpus scale, derive ``rn`` per
    batch-candidate partition (e.g. rank within coarse time buckets)
    and roll the per-bucket maxima up — the watermark rule composes
    over partial maxima."""
    from pyspark.sql.window import Window

    t = register_views(spark, sf_dir)
    e = t["events"].select(
        "event_id", F.unix_micros("ts").alias("ts_us")
    )
    w = Window.orderBy("ts_us", "event_id")
    n_row = e.agg(F.count(F.lit(1)).alias("n"))
    arr = e.select(
        "event_id",
        "ts_us",
        (F.row_number().over(w) - 1).alias("rn"),
    ).crossJoin(F.broadcast(n_row)).select(
        "event_id",
        "ts_us",
        F.least(
            F.lit(3),
            ((4 * F.col("rn")) / F.col("n")).cast("long")
            + F.when(
                F.substring(F.md5(F.col("event_id").cast("string")), 1, 1)
                == "0",
                1,
            ).otherwise(0),
        )
        .cast("int")
        .alias("batch_id"),
    )
    bmax = arr.groupBy("batch_id").agg(F.max("ts_us").alias("mx"))
    wb = Window.orderBy("batch_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wm = bmax.select(
        "batch_id", (F.max("mx").over(wb) - F.lit(3_600_000_000)).alias("wm_us")
    )
    return (
        arr.join(wm, "batch_id")
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.sum(
                F.when(
                    F.col("wm_us").isNotNull()
                    & (F.col("ts_us") < F.col("wm_us")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_late"),
        )
    )


@_q(
    "stream_lateness_audit_scaled",
    """
    WITH e AS (
      SELECT event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events
    ), bounds AS (
      SELECT min(ts_us) AS mn, max(ts_us) AS mx FROM e
    ), arr AS (
      SELECT event_id, ts_us,
             CAST(least(3, (4 * (ts_us - mn)) // (mx - mn + 1)
               + CASE WHEN substr(md5(CAST(event_id AS VARCHAR)), 1, 1) = '0'
                      THEN 1 ELSE 0 END) AS INT) AS batch_id
      FROM e CROSS JOIN bounds
    ), bmax AS (
      SELECT batch_id, max(ts_us) AS mx FROM arr GROUP BY batch_id
    ), wm AS (
      SELECT batch_id,
             max(mx) OVER (ORDER BY batch_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               - 3600000000 AS wm_us
      FROM bmax
    )
    SELECT a.batch_id,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN w.wm_us IS NOT NULL AND a.ts_us < w.wm_us
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_late
    FROM arr a JOIN wm w ON w.batch_id = a.batch_id
    GROUP BY a.batch_id
    """,
    "the watermark-lateness audit at CORPUS scale: arrival batches are "
    "TIME quartiles of the [min, max] event-time span — assignment is "
    "a pure map against a broadcast 1-row min/max relation, so unlike "
    "stream_lateness_audit's rank quartiles there is NO globally-"
    "ordered window anywhere; per-batch maxima and the prefix-max "
    "watermark rule compose over partial aggregates exactly as the "
    "single-partition variant's docstring promises. Same engine "
    "semantics replayed: watermark entering batch b = max event time "
    "over batches < b minus the 1h delay; 1/16 of rows (by md5) "
    "arrive one batch late",
)
def stream_lateness_audit_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = register_views(spark, sf_dir)
    e = t["events"].select("event_id", F.unix_micros("ts").alias("ts_us"))
    bounds = e.agg(F.min("ts_us").alias("mn"), F.max("ts_us").alias("mx"))
    arr = e.crossJoin(F.broadcast(bounds)).select(
        "event_id",
        "ts_us",
        F.least(
            F.lit(3).cast("bigint"),
            # integral BIGINT division on both engines (Spark `div`,
            # DuckDB `//`): double `/`+floor could round a
            # just-under-boundary quotient up and flip the batch
            F.expr("(4 * (ts_us - mn)) div (mx - mn + 1)")
            + F.when(
                F.substring(F.md5(F.col("event_id").cast("string")), 1, 1)
                == "0",
                1,
            ).otherwise(0),
        )
        .cast("int")
        .alias("batch_id"),
    )
    bmax = arr.groupBy("batch_id").agg(F.max("ts_us").alias("mx"))
    wb = Window.orderBy("batch_id").rowsBetween(Window.unboundedPreceding, -1)
    wm = bmax.select(
        "batch_id",
        (F.max("mx").over(wb) - F.lit(3_600_000_000)).alias("wm_us"),
    )
    return (
        arr.join(F.broadcast(wm), "batch_id")
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.sum(
                F.when(
                    F.col("wm_us").isNotNull()
                    & (F.col("ts_us") < F.col("wm_us")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_late"),
        )
    )


# DEPRECATION (round 9): the plain name `stream_lateness_audit` is an
# ALIAS of the corpus-scale time-quartile implementation, so no caller
# reaches the single-task global-rank plan by default. The original
# rank-quartile replay lives on as `stream_lateness_audit_bounded`
# (tagged bounded-replay-only) for the audit-a-bounded-sample use its
# docstring defends. Same engine semantics either way — only the batch
# assignment rule (rank vs time quartiles) differs.
QUERIES["stream_lateness_audit"] = QuerySpec(
    fn=stream_lateness_audit_scaled,
    oracle=QUERIES["stream_lateness_audit_scaled"].oracle,
    description=(
        "alias of stream_lateness_audit_scaled (the scale-safe default "
        "since round 9); the pre-r9 rank-quartile replay is "
        "stream_lateness_audit_bounded"
    ),
    tags=("alias",),
)


_SESSION_GAP_SEC = 1800


@_q(
    "events_sessionize",
    f"""
    WITH flagged AS (
      SELECT user_id, epoch_us(ts) AS us, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) > {_SESSION_GAP_SEC} * 1000000
                  OR lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id, us, value,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(floor((max(us) - min(us)) / 1000000) AS BIGINT) AS duration_sec,
           {fround_sql(dsum_sql("value", 2), 2)} AS session_value
    FROM sess GROUP BY user_id, session_id
    """,
    "sessionization: 30-min-gap sessions via lag + running sum (the batch "
    "twin of a session-window stateful op)",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = register_views(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("us")
    flagged = t["events"].select(
        "user_id", F.unix_micros("ts").alias("us"), "value"
    ).withColumn(
        "new_session",
        F.when(
            (F.col("us") - F.lag("us").over(w) > _SESSION_GAP_SEC * 1_000_000)
            | F.lag("us").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.floor((F.max("us") - F.min("us")) / 1_000_000).cast("bigint").alias("duration_sec"),
        fround(dsum(F.col("value"), 2), 2).alias("session_value"),
    )


@_q(
    "events_dedup",
    """
    SELECT user_id, event_type,
           CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
           min(event_id) AS keep_event_id,
           CAST(count(*) AS BIGINT) AS collapsed
    FROM events GROUP BY 1, 2, 3
    """,
    "event dedup: at most one (user, type, hour) event survives, keep-first",
)
def events_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return t["events"].groupBy(
        "user_id",
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_start"),
    ).agg(
        F.min("event_id").alias("keep_event_id"),
        F.count("*").alias("collapsed"),
    )


@_q(
    "events_props_json",
    f"""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           {fround_sql(dsum_sql("value", 2), 2)} AS total_value
    FROM events GROUP BY 1
    """,
    "semi-structured JSON props extraction (get_json_object) + agg — the "
    "schemaless-document idiom over a relational engine",
)
def events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return (
        t["events"]
        .groupBy(
            (F.get_json_object("props", "$.k").cast("bigint") % 10).alias("k_bucket")
        )
        .agg(
            F.count("*").alias("n_events"),
            fround(dsum(F.col("value"), 2), 2).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (binary columns; decode is a deterministic fake —
# real image/audio libs are not in this container)
# ---------------------------------------------------------------------------

@_q(
    "mm_binary_meta",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
           md5(text) AS content_hash
    FROM documents
    """,
    "multimodal: opaque binary payload column + typed metadata extraction "
    "(byte length, content hash) — JVM-side over binary",
)
def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    with_payload = t["documents"].select(
        "doc_id", "text", F.encode("text", "utf-8").alias("payload")
    )
    return with_payload.select(
        "doc_id",
        F.octet_length("payload").cast("bigint").alias("payload_bytes"),
        F.md5("text").alias("content_hash"),
    )


@_q(
    "mm_decode_features",
    """
    WITH b AS (
      -- UTF-8 byte-exact: hex(encode(text)) then hex-pair decode, so
      -- the oracle matches the payload bytes on ANY text (the previous
      -- per-character ascii() form was only valid on pure-ASCII data);
      -- NULL text -> all-NULL features (same degrade as the operator)
      SELECT doc_id AS asset_id, text, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS nb
      FROM documents
    ), e AS (
      SELECT asset_id, text, nb,
             list_transform(generate_series(1, CAST(nb AS BIGINT)),
               i -> 16 * (strpos('0123456789ABCDEF',
                                 substring(hx, CAST(2*i - 1 AS BIGINT), 1)) - 1)
                    + (strpos('0123456789ABCDEF',
                              substring(hx, CAST(2*i AS BIGINT), 1)) - 1)
             ) AS bytes
      FROM b
    )
    SELECT asset_id,
           CAST(nb AS BIGINT) AS n_bytes,
           CAST(CASE WHEN nb IS NULL THEN NULL
                     ELSE coalesce(list_sum(bytes), 0) END AS BIGINT)
             AS byte_sum,
           CAST(list_min(bytes) AS INTEGER) AS byte_min,
           CAST(list_max(bytes) AS INTEGER) AS byte_max,
           md5(text) AS content_hash
    FROM e
    """,
    "multimodal decode via Arrow-batched mapInPandas: binary payload -> "
    "typed feature row (deterministic byte-stats decoder; oracle is "
    "UTF-8 byte-exact via hex-pair decode, valid on any text)",
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import multimodal

    t = register_views(spark, sf_dir)
    assets = multimodal.documents_as_assets(t["documents"])
    return multimodal.decode_features(assets, decoder="fake")


@_q(
    "mm_frame_sample",
    """
    WITH b AS (
      SELECT doc_id AS asset_id, text, length(text) AS n,
             CAST(ceil(length(text) / 64.0) AS BIGINT) AS n_frames
      FROM documents
    ), frames AS (
      SELECT asset_id, unnest(generate_series(0, CAST(n_frames - 1 AS BIGINT), 4)) AS frame_idx, text
      FROM b
    )
    SELECT asset_id, frame_idx,
           md5(substring(text, CAST(frame_idx * 64 + 1 AS BIGINT), 64)) AS frame_hash,
           CAST(length(substring(text, CAST(frame_idx * 64 + 1 AS BIGINT), 64)) AS BIGINT) AS frame_bytes
    FROM frames
    """,
    "multimodal frame sampling: every 4th 64-byte frame per payload, "
    "1 -> n fan-out inside the Arrow iterator (the video-frame shape). "
    "ORACLE SCOPE: exact where bytes == chars (ASCII corpora, incl. "
    "the driver data); a byte-exact twin is not expressible in DuckDB "
    "1.0 — md5 is VARCHAR-only and a 64-BYTE frame boundary can split "
    "a UTF-8 codepoint, so the byte slice has no VARCHAR form. The "
    "operator itself is byte-defined on any payload (frames are "
    "bytes, as for real media)",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import multimodal

    t = register_views(spark, sf_dir)
    assets = multimodal.documents_as_assets(t["documents"])
    return multimodal.frame_sample(assets, frame_bytes=64, stride=4)


# ---------------------------------------------------------------------------
# Structured streaming (real readStream; oracle = the batch-equivalent SQL)
# ---------------------------------------------------------------------------

@_q(
    "stream_window_counts",
    """
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
           event_type, CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
    """,
    "Structured Streaming tumbling-window count over the events table "
    "(readStream + watermark + availableNow), result == batch equivalent",
)
def stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.streaming.events import windowed_counts_streaming

    return windowed_counts_streaming(spark, f"{sf_dir}/events.parquet")


@_q(
    "stream_event_dedup",
    """
    SELECT user_id, event_type,
           CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
           min(event_id) AS keep_event_id,
           CAST(count(*) AS BIGINT) AS collapsed
    FROM events GROUP BY 1, 2, 3
    """,
    "streaming exact-dedup: watermarked keep-first aggregation per "
    "(user, type, hour) — min() instead of dropDuplicates so the kept "
    "row is order-independent and equals the batch events_dedup oracle",
)
def stream_event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.streaming.events import event_dedup_streaming

    return event_dedup_streaming(spark, f"{sf_dir}/events.parquet")


def _survivor_chain_oracle(slices: int = 4, remap: bool = False) -> str:
    """Unrolled per-batch survivor chain for the survivors-only
    streaming dedup (the ``_kmeans_ctes`` pattern: data-dependent
    iteration made declarative by unrolling the FIXED batch count).

    ``vp`` is the verified all-pairs relation (pair verification is
    doc-pair-local, independent of survivor state, so it is computed
    once); batch k's reported pairs are vp edges whose later member is
    in batch k and whose earlier member is an accumulated SURVIVOR
    (cross) or a lower-id batch-k doc (intra); batch k's survivors are
    its docs with no reported pair. The accumulator CTEs are referenced
    repeatedly — the oracle-shape gate auto-materializes them.

    ``remap=True`` mirrors ``remap_pairs_to_survivors``: per batch, a
    WITH RECURSIVE chase follows each dropped doc's min-``dup_of`` hop
    until a survivor (the same deterministic keeper rule as the Spark
    side), then re-points and collapses on (new_id, dup_of) keeping
    max(jaccard) / min(origin). Recursive CTEs are exempt from the
    materialization gate by design (DuckDB executes them iteratively)."""
    parts = [
        f"""
    , p0_intra AS (
      SELECT id_b AS new_id, id_a AS dup_of, jaccard FROM vp
      WHERE id_a % {slices} = 0 AND id_b % {slices} = 0
    ), s_acc_0 AS (
      SELECT DISTINCT doc_id FROM documents
      WHERE doc_id % {slices} = 0
        AND doc_id NOT IN (SELECT new_id FROM p0_intra)
    )"""
    ]
    batch_pair_sql = [
        ["SELECT new_id, dup_of, 'delta' AS origin, jaccard FROM p0_intra"]
    ]
    for s in range(1, slices):
        parts.append(f"""
    , p{s}_corpus AS (
      SELECT CASE WHEN id_a % {slices} = {s} THEN id_a ELSE id_b END AS new_id,
             CASE WHEN id_a % {slices} = {s} THEN id_b ELSE id_a END AS dup_of,
             jaccard
      FROM vp
      WHERE (id_a % {slices} = {s} AND id_b % {slices} != {s}
             AND id_b IN (SELECT doc_id FROM s_acc_{s - 1}))
         OR (id_b % {slices} = {s} AND id_a % {slices} != {s}
             AND id_a IN (SELECT doc_id FROM s_acc_{s - 1}))
    ), p{s}_intra AS (
      SELECT id_b AS new_id, id_a AS dup_of, jaccard FROM vp
      WHERE id_a % {slices} = {s} AND id_b % {slices} = {s}
    ), s_acc_{s} AS (
      SELECT doc_id FROM s_acc_{s - 1}
      UNION
      SELECT DISTINCT doc_id FROM documents
      WHERE doc_id % {slices} = {s}
        AND doc_id NOT IN (SELECT new_id FROM p{s}_corpus)
        AND doc_id NOT IN (SELECT new_id FROM p{s}_intra)
    )""")
        batch_pair_sql.append([
            f"SELECT new_id, dup_of, 'corpus' AS origin, jaccard FROM p{s}_corpus",
            f"SELECT new_id, dup_of, 'delta' AS origin, jaccard FROM p{s}_intra",
        ])
    if remap:
        unions = []
        for s, selects in enumerate(batch_pair_sql):
            all_body = "\n      UNION ALL\n      ".join(selects)
            parts.append(f"""
    , r{s}_all AS (
      {all_body}
    ), r{s}_step AS (
      SELECT new_id, min(dup_of) AS mn FROM r{s}_all GROUP BY new_id
    ), r{s}_chase AS (
      SELECT new_id AS src, mn AS cur FROM r{s}_step
      UNION ALL
      SELECT c.src, t.mn FROM r{s}_chase c JOIN r{s}_step t ON t.new_id = c.cur
    ), r{s}_keeper AS (
      SELECT src, cur AS keeper FROM r{s}_chase
      WHERE cur NOT IN (SELECT new_id FROM r{s}_step)
    )""")
            unions.append(
                f"""SELECT p.new_id,
           COALESCE(k.keeper, p.dup_of) AS dup_of,
           min(p.origin) AS origin, max(p.jaccard) AS jaccard
    FROM r{s}_all p LEFT JOIN r{s}_keeper k ON k.src = p.dup_of
    GROUP BY 1, 2"""
            )
    else:
        unions = [sel for selects in batch_pair_sql for sel in selects]
    # vp reuses the shared minhash pair SQL verbatim as a nested-WITH
    # CTE body (DuckDB, like PostgreSQL, allows WITH inside a CTE)
    body = _MINHASH_ORACLE.strip()
    assert body.startswith("WITH ")
    return (
        ("WITH RECURSIVE vp AS (\n    " if remap else "WITH vp AS (\n    ")
        + body
        + "\n    )"
        + "".join(parts)
        + "\n    "
        + "\n    UNION ALL\n    ".join(unions)
    )


@_q(
    "stream_incremental_dedup",
    f"""
    SELECT CASE WHEN id_a % 4 > id_b % 4 THEN id_a ELSE id_b END AS new_id,
           CASE WHEN id_a % 4 > id_b % 4 THEN id_b ELSE id_a END AS dup_of,
           CASE WHEN id_a % 4 = id_b % 4 THEN 'delta' ELSE 'corpus' END
             AS origin,
           jaccard
    FROM ({_MINHASH_ORACLE}) p
    """,
    "Streaming near-dup detection over a GROWING corpus: documents "
    "arrive as 4 id-residue micro-batches; each foreachBatch checks the "
    "batch against the accumulated on-disk LSH band index (+ intra-"
    "batch), emits pairs, then appends its own band rows/shingles — "
    "corpus x corpus is never paired at any point in the stream's "
    "lifetime, and state is parquet bytes, not the state store. Every "
    "near-dup pair is found exactly once, in the later member's batch, "
    "so the final set equals the batch minhash_dedup pairs re-oriented "
    "by arrival order (the oracle's CASE re-orientation)",
)
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.streaming.documents import (
        incremental_dedup_streaming,
    )

    return incremental_dedup_streaming(
        spark, f"{sf_dir}/documents.parquet", slices=4, threshold=0.1
    )


@_q(
    "stream_incremental_dedup_survivors",
    _survivor_chain_oracle(4),
    "The survivors-only production loop: a batch doc with any reported "
    "near-dup (corpus keeper or lower-id batch sibling) is dropped "
    "BEFORE the index append, so the index holds canonical docs only "
    "and its growth tracks the unique corpus, not crawl volume. Later "
    "batches therefore dedup against keepers — the oracle unrolls the "
    "4-batch survivor chain over the shared verified-pair relation "
    "(pair verification is doc-pair-local, so vp is computed once)",
)
def stream_incremental_dedup_survivors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from wikidata_to_surrealdb_spark.streaming.documents import (
        incremental_dedup_streaming,
    )

    return incremental_dedup_streaming(
        spark,
        f"{sf_dir}/documents.parquet",
        slices=4,
        threshold=0.1,
        survivors_only=True,
    )


@_q(
    "stream_incremental_dedup_remap",
    _survivor_chain_oracle(4, remap=True),
    "Survivors-only streaming dedup with CLOSED chains (remap_intra): "
    "an intra-batch dup_of that was itself dropped in the same batch "
    "is re-pointed to its surviving keeper — the deterministic "
    "min-dup_of chase, pointer-doubled in Spark, WITH RECURSIVE in the "
    "oracle — then edges collapsed on (new_id, dup_of) keeping "
    "max(jaccard)/min(origin). Every reported dup_of is now a doc "
    "actually in the index, without running dedup_clusters; the "
    "dropped set (and therefore the index) is unchanged vs the base "
    "survivors mode",
)
def stream_incremental_dedup_remap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from wikidata_to_surrealdb_spark.streaming.documents import (
        incremental_dedup_streaming,
    )

    return incremental_dedup_streaming(
        spark,
        f"{sf_dir}/documents.parquet",
        slices=4,
        threshold=0.1,
        survivors_only=True,
        remap_intra=True,
    )


@_q(
    "stream_static_enrich",
    """
    SELECT CAST(epoch(date_trunc('hour', e.ts)) AS BIGINT) AS hour_start,
           c.c_mktsegment,
           e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor({FINITE_VALUE} * 100.0 + 0.5) AS BIGINT))
             AS BIGINT) AS total_cents
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2, 3
    """.replace("{FINITE_VALUE}", rep_sql("e.value", 2)),
    "STREAM-STATIC enrichment join (the canonical serving shape: an "
    "unbounded fact stream decorated with dimension attributes): "
    "readStream events broadcast-joined to the static customer table — "
    "stateless and map-side, unlike stream-stream joins — then a "
    "watermarked (hour, segment, type) rollup with value in exact "
    "integer cents; availableNow result == the batch join+group-by "
    "oracle verbatim",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.streaming.events import (
        segment_enrich_streaming,
    )

    return segment_enrich_streaming(
        spark, f"{sf_dir}/events.parquet", f"{sf_dir}/customer.parquet"
    )


@_q(
    "stream_sessionize_stateful",
    f"""
    WITH flagged AS (
      SELECT user_id, epoch_us(ts) AS us, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) > {_SESSION_GAP_SEC} * 1000000
                  OR lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id, us, value,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(floor((max(us) - min(us)) / 1000000) AS BIGINT) AS duration_sec,
           {fround_sql(dsum_sql("value", 2), 2)} AS session_value
    FROM sess GROUP BY user_id, session_id
    """,
    "custom stateful streaming sessionization: applyInPandasWithState "
    "keyed by user_id, state = (last event time, session ordinal); single "
    "availableNow batch makes the emitted rows equal the batch "
    "sessionization, so the same oracle applies",
)
def stream_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.streaming.events import (
        sessionize_stateful_streaming,
    )

    return sessionize_stateful_streaming(
        spark, f"{sf_dir}/events.parquet", gap_sec=_SESSION_GAP_SEC
    )


# ---------------------------------------------------------------------------
# Temporal joins (as-of / range) — operators/temporal.py
# ---------------------------------------------------------------------------

@_q(
    "events_asof_join",
    f"""
    WITH clicks AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
    ), views_ranked AS (
      SELECT user_id, ts, event_id AS view_event, value AS view_value,
             row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
      FROM events WHERE event_type = 'view'
    ), views AS (
      SELECT user_id, ts, view_event, view_value FROM views_ranked WHERE rn = 1
    )
    SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
           v.view_event, epoch_us(v.ts) AS view_ts_us,
           {fround_total_sql("c.value - v.view_value", 2)} AS uplift
    FROM clicks c ASOF JOIN views v
      ON c.user_id = v.user_id AND v.ts <= c.ts
    """,
    "as-of join: each click matched to the user's latest view at or before "
    "it — merge-join formulation (union + last-ignorenulls window), one "
    "shuffle on user_id, no pair explosion; DuckDB checks it with its "
    "native ASOF JOIN",
    tags=("bench",),
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from wikidata_to_surrealdb_spark.operators.temporal import asof_join

    t = register_views(spark, sf_dir)
    ev = t["events"]
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    # deterministic right side: one view per (user, ts), max event_id wins
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("view_event").desc())
    views = (
        ev.where(F.col("event_type") == "view")
        .select(
            "user_id",
            "ts",
            F.col("event_id").alias("view_event"),
            F.col("value").alias("view_value"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    j = asof_join(clicks, views, "user_id")
    return j.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "view_event",
        F.unix_micros("ts_r").alias("view_ts_us"),
        fround_total(F.col("value") - F.col("view_value"), 2).alias("uplift"),
    )


# 6 h: the synthetic event stream is sparse per user (~5 h median gap),
# so a 10-min window would match almost nothing at small SFs
_INCIDENT_WINDOW_SEC = 21600


@_q(
    "events_range_join",
    f"""
    WITH inc AS (
      SELECT user_id, event_id AS incident_id, ts AS start_ts,
             ts + INTERVAL {_INCIDENT_WINDOW_SEC} SECOND AS end_ts
      FROM events WHERE event_type = 'error'
    ), clicks AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    )
    SELECT i.incident_id, i.user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           {fround_sql(dsum_sql("c.value", 2), 2)} AS sum_value
    FROM inc i JOIN clicks c
      ON c.user_id = i.user_id AND c.ts >= i.start_ts AND c.ts < i.end_ts
    GROUP BY i.incident_id, i.user_id
    """,
    "interval (range) join: clicks inside each error's 6-hour incident "
    "window — binned equi-join (operators/temporal.range_join_binned), "
    "never a nested loop; DuckDB checks it with a plain inequality join",
    tags=("bench",),
)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators.temporal import range_join_binned

    t = register_views(spark, sf_dir)
    ev = t["events"]
    inc = ev.where(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr(f"INTERVAL {_INCIDENT_WINDOW_SEC} SECONDS")).alias(
            "end_ts"
        ),
    )
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts", "value")
    j = range_join_binned(
        clicks, inc, "user_id", bin_width_sec=_INCIDENT_WINDOW_SEC
    )
    return j.groupBy("incident_id", "user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        fround(dsum(F.col("value"), 2), 2).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# TPC-H join-type breadth: semi / outer / anti / decorrelated-scalar /
# disjunctive-pushdown shapes over the reduced testdata schema (no
# l_commitdate / l_receiptdate / l_shipmode / partsupp — adapted filters
# noted per query)
# ---------------------------------------------------------------------------

@_q(
    "tpch_q4",
    """
    SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE CAST(o.o_orderdate AS DATE) >= DATE '1996-07-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE)
      )
    GROUP BY o.o_orderpriority
    """,
    "TPC-H Q4 (adapted: shipdate>orderdate replaces the missing "
    "commitdate<receiptdate): EXISTS decorrelated to a left-semi join",
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    o = t["orders"].where(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-07-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1996-10-01").cast("date"))
    )
    li = t["lineitem"].select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o["o_orderkey"] == li["l_orderkey"])
            & (li["l_shipdate"].cast("date") > o["o_orderdate"].cast("date")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("order_count"))
    )


@_q(
    "tpch_q13",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) d
    GROUP BY c_count
    """,
    "TPC-H Q13 customer order-count distribution: left outer join with a "
    "join-side residual predicate, double aggregation",
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    c = t["customer"].select("c_custkey")
    o = t["orders"].select("o_custkey", "o_orderkey", "o_orderpriority")
    return (
        c.join(
            o,
            (c["c_custkey"] == o["o_custkey"])
            & (o["o_orderpriority"] != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").cast("bigint").alias("custdist"))
    )


@_q(
    "tpch_q16",
    """
    SELECT p.p_brand, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#45'
      AND p.p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_size
    """,
    "TPC-H Q16 (adapted: lineitem as the part-supplier bridge — no "
    "partsupp; negative acctbal replaces the complaints LIKE): anti join "
    "+ count-distinct aggregation",
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    bad = t["supplier"].where(F.col("s_acctbal") < 0).select("s_suppkey")
    p = t["part"].where(
        (F.col("p_brand") != "Brand#45")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34)
    )
    return (
        t["lineitem"]
        .select("l_partkey", "l_suppkey")
        .join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


@_q(
    "tpch_q17",
    f"""
    SELECT {fround_sql(dsum_sql("l.l_extendedprice", 2) + " / 7.0", 2)} AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (
      SELECT l_partkey,
             SUM({drep_sql("l_quantity", 2)}) AS sum_qty,
             COUNT(*) AS cnt_qty
      FROM lineitem GROUP BY l_partkey
    ) a ON a.l_partkey = p.p_partkey
    WHERE p.p_brand = 'Brand#23'
      AND {drep_sql("l.l_quantity", 2)} * 5 * a.cnt_qty < a.sum_qty
    """,
    "TPC-H Q17 small-quantity revenue: correlated scalar-avg subquery "
    "decorrelated to a per-part aggregate join; the 20%%-of-avg threshold "
    "is compared in exact DECIMAL arithmetic (qty*5*cnt < sum) so both "
    "engines agree at the boundary",
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    li = t["lineitem"]
    per_part = li.groupBy("l_partkey").agg(
        F.sum(drep(F.col("l_quantity"), 2)).alias("sum_qty"),
        F.count("*").alias("cnt_qty"),
    ).withColumnRenamed("l_partkey", "a_partkey")
    p = t["part"].where(F.col("p_brand") == "Brand#23").select("p_partkey")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(
            F.broadcast(per_part), F.col("a_partkey") == F.col("p_partkey")
        )
        .where(
            drep(F.col("l_quantity"), 2) * 5 * F.col("cnt_qty")
            < F.col("sum_qty")
        )
        .agg(
            fround(dsum(F.col("l_extendedprice"), 2) / 7.0, 2).alias("avg_yearly")
        )
    )


@_q(
    "tpch_q19",
    f"""
    SELECT {fround_sql(dsum_sql(_REVENUE, 6), 2)} AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    "TPC-H Q19 (adapted: no p_container/l_shipmode — brand/size/quantity "
    "disjunction kept): OR-of-conjunctions with per-side pushdown of the "
    "common bounds",
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    li = t["lineitem"]
    p = t["part"]
    q = F.col("l_quantity")
    joined = li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15) & q.between(20, 30))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.where(cond).agg(fround(dsum(rev, 6), 2).alias("revenue"))


_Q21_LATE_DAYS = 60


@_q(
    "tpch_q21",
    f"""
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND CAST(l1.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + {_Q21_LATE_DAYS}
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND CAST(l3.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + {_Q21_LATE_DAYS}
      )
    GROUP BY s.s_name
    """,
    "TPC-H Q21 waiting-supplier (adapted: late = shipped >60d after order "
    "date — no receipt/commit dates): EXISTS + NOT EXISTS decorrelated to "
    "one per-order aggregate (distinct suppliers, distinct late suppliers) "
    "instead of two self-joins",
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    o = t["orders"].where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("_odate")
    )
    li = t["lineitem"].select("l_orderkey", "l_suppkey", "l_shipdate")
    flagged = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).withColumn(
        "_late",
        F.col("l_shipdate").cast("date") > F.date_add(F.col("_odate"), _Q21_LATE_DAYS),
    )
    per_order = flagged.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("_n_supp"),
        F.countDistinct(F.when(F.col("_late"), F.col("l_suppkey"))).alias(
            "_n_late_supp"
        ),
    ).withColumnRenamed("l_orderkey", "_agg_okey")
    lone_late = (
        flagged.where(F.col("_late"))
        .join(
            per_order,
            (F.col("l_orderkey") == F.col("_agg_okey"))
            & (F.col("_n_supp") >= 2)
            & (F.col("_n_late_supp") == 1),
        )
    )
    return (
        lone_late.join(
            F.broadcast(t["supplier"].select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
    )


@_q(
    "tpch_q22",
    f"""
    WITH avgbal AS (
      SELECT SUM({drep_sql("c_acctbal", 2)}) AS s, COUNT(*) AS n
      FROM customer WHERE c_acctbal > 0
    )
    SELECT n.n_name, CAST(count(*) AS BIGINT) AS numcust,
           {fround_sql(dsum_sql("c.c_acctbal", 2), 2)} AS totacctbal
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    CROSS JOIN avgbal
    WHERE {drep_sql("c.c_acctbal", 2)} * avgbal.n > avgbal.s
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
      )
    GROUP BY n.n_name
    """,
    "TPC-H Q22 (adapted: nation replaces the phone country code, and the "
    "anti join targets finished orders — every testdata customer has at "
    "least one order): above-average-balance customers with no finished "
    "orders — global-scalar subquery broadcast + anti join; the avg "
    "threshold compares in exact DECIMAL (bal*n > sum) so both engines "
    "agree at the boundary",
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    c = t["customer"]
    avgbal = c.where(F.col("c_acctbal") > 0).agg(
        F.sum(drep(F.col("c_acctbal"), 2)).alias("_s"),
        F.count("*").alias("_n"),
    )
    return (
        c.crossJoin(F.broadcast(avgbal))
        .where(drep(F.col("c_acctbal"), 2) * F.col("_n") > F.col("_s"))
        .join(
            t["orders"].where(F.col("o_orderstatus") == "F").select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count("*").cast("bigint").alias("numcust"),
            fround(dsum(F.col("c_acctbal"), 2), 2).alias("totacctbal"),
        )
    )


@_q(
    "tpch_q2",
    f"""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             min({drep_sql("l_extendedprice", 2)}) AS supply_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), eu AS (
      SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
      FROM supplier s
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
    ), pc AS (
      SELECT c.l_partkey, c.l_suppkey, c.supply_cost
      FROM cost c JOIN eu ON eu.s_suppkey = c.l_suppkey
    )
    SELECT eu.s_acctbal, eu.s_name, eu.n_name, p.p_partkey,
           CAST(pc.supply_cost AS DOUBLE) AS supply_cost
    FROM part p
    JOIN pc ON pc.l_partkey = p.p_partkey
    JOIN eu ON eu.s_suppkey = pc.l_suppkey
    WHERE p.p_size = 15 AND p.p_type = 'STANDARD'
      AND pc.supply_cost = (
        SELECT min(pc2.supply_cost) FROM pc pc2
        WHERE pc2.l_partkey = p.p_partkey
      )
    """,
    "TPC-H Q2 (adapted: no partsupp — supply cost = min lineitem price "
    "per (part, supplier)): correlated min subquery per part over a "
    "region-restricted supplier set, decorrelated in Spark to a per-part "
    "min aggregate join; exact DECIMAL min so the equality predicate is "
    "portable",
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    eu = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"]),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t["region"].where(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cost = t["lineitem"].groupBy("l_partkey", "l_suppkey").agg(
        F.min(drep(F.col("l_extendedprice"), 2)).alias("supply_cost")
    )
    pc = cost.join(
        F.broadcast(eu), F.col("l_suppkey") == F.col("s_suppkey")
    ).select("l_partkey", "l_suppkey", "supply_cost")
    min_pc = pc.groupBy("l_partkey").agg(
        F.min("supply_cost").alias("min_cost")
    ).withColumnRenamed("l_partkey", "m_partkey")
    p = t["part"].where((F.col("p_size") == 15) & (F.col("p_type") == "STANDARD"))
    return (
        pc.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(min_pc), F.col("m_partkey") == F.col("p_partkey"))
        .where(F.col("supply_cost") == F.col("min_cost"))
        .join(F.broadcast(eu), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            F.col("supply_cost").cast("double").alias("supply_cost"),
        )
    )


_Q8_REV = drep_sql("l.l_extendedprice * (1 - l.l_discount)", 6)


@_q(
    "tpch_q8",
    f"""
    SELECT o_year,
           {fround_sql("CAST(sum(CASE WHEN nation = 'NATION_7' THEN " + _Q8_REV.replace("l.", "") + " ELSE 0 END) AS DOUBLE) / CAST(sum(" + _Q8_REV.replace("l.", "") + ") AS DOUBLE)", 4)} AS mkt_share
    FROM (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             l.l_extendedprice, l.l_discount, n2.n_name AS nation
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n1.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'PROMO'
        AND o.o_orderdate BETWEEN '1995-01-01' AND '1996-12-31'
    )
    GROUP BY o_year
    """,
    "TPC-H Q8 national market share: 7-way join (two roles for nation), "
    "conditional-share aggregation; both sums are exact DECIMAL before "
    "the final double division so the ratio is engine-portable",
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("nation")
    )
    rev = drep(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6)
    base = (
        t["lineitem"]
        .join(
            F.broadcast(t["part"].where(F.col("p_type") == "PROMO")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(
            t["orders"].where(
                F.col("o_orderdate").between("1995-01-01", "1996-12-31")
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(F.broadcast(t["customer"]), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("c_nkey") == F.col("c_nationkey"))
        .join(
            F.broadcast(t["region"].where(F.col("r_name") == "AMERICA")),
            F.col("r_regionkey") == F.col("c_rkey"),
        )
        .join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n2), F.col("s_nkey") == F.col("s_nationkey"))
    )
    return (
        base.select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            rev.alias("rev"),
            F.col("nation"),
        )
        .groupBy("o_year")
        .agg(
            fround(
                F.sum(F.when(F.col("nation") == "NATION_7", F.col("rev")).otherwise(
                    F.lit(0).cast("decimal(18,6)")
                )).cast("double")
                / F.sum("rev").cast("double"),
                4,
            ).alias("mkt_share")
        )
    )


@_q(
    "tpch_q9",
    f"""
    SELECT nation, o_year,
           {fround_sql("CAST(sum(amount) AS DOUBLE)", 2)} AS sum_profit
    FROM (
      SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             {drep_sql("l.l_extendedprice * (1 - l.l_discount) - p.p_retailprice * l.l_quantity", 6)} AS amount
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE p.p_name LIKE '%widget%'
    )
    GROUP BY nation, o_year
    """,
    "TPC-H Q9 product profit (adapted: no partsupp — cost = "
    "p_retailprice * quantity): 5-way join, LIKE-filtered part, profit "
    "summed in exact DECIMAL per (nation, year)",
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    amount = drep(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity"),
        6,
    )
    return (
        t["lineitem"]
        .join(
            F.broadcast(t["part"].where(F.col("p_name").like("%widget%"))),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(fround(F.sum("amount").cast("double"), 2).alias("sum_profit"))
    )


@_q(
    "tpch_q11",
    f"""
    WITH val AS (
      SELECT l_partkey,
             sum({drep_sql("l_extendedprice", 2)}) AS value
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name = 'NATION_7'
      GROUP BY l_partkey
    )
    SELECT l_partkey AS ps_partkey, CAST(value AS DOUBLE) AS value
    FROM val
    WHERE value * 600 > (SELECT sum(value) FROM val)
    """,
    "TPC-H Q11 important stock (adapted: no partsupp — stock value = "
    "summed lineitem price per part from one nation's suppliers): "
    "double aggregation with a global-total scalar subquery; the "
    "threshold is value*600 > total in exact DECIMAL (no float fraction) "
    "so the cut is identical across engines",
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    val = (
        t["lineitem"]
        .join(F.broadcast(t["supplier"]), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            F.broadcast(t["nation"].where(F.col("n_name") == "NATION_7")),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .groupBy("l_partkey")
        .agg(F.sum(drep(F.col("l_extendedprice"), 2)).alias("value"))
    )
    total = val.agg(F.sum("value").alias("total"))
    return (
        val.crossJoin(F.broadcast(total))
        .where(F.col("value") * 600 > F.col("total"))
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("value").cast("double").alias("value"),
        )
    )


@_q(
    "tpch_q12",
    """
    SELECT ship_class,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM (
      SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 90
                  THEN 'SLOW' ELSE 'FAST' END AS ship_class,
             o.o_orderpriority
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE year(l.l_shipdate) = 1996
    )
    GROUP BY ship_class
    """,
    "TPC-H Q12 shipping priority (adapted: no l_shipmode/commitdate — "
    "classes = ship lateness vs order date): join + dual conditional "
    "count aggregation",
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    cls = F.when(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90, "SLOW"
    ).otherwise("FAST")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t["lineitem"]
        .where(F.year("l_shipdate") == 1996)
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .select(cls.alias("ship_class"), high.alias("h"))
        .groupBy("ship_class")
        .agg(
            F.sum(F.when(F.col("h"), 1).otherwise(0)).cast("bigint").alias(
                "high_line_count"
            ),
            F.sum(F.when(~F.col("h"), 1).otherwise(0)).cast("bigint").alias(
                "low_line_count"
            ),
        )
    )


@_q(
    "tpch_q15",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum({drep_sql("l_extendedprice * (1 - l_discount)", 6)}) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           {fround_sql("CAST(r.total_rev AS DOUBLE)", 2)} AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_rev = (SELECT max(total_rev) FROM revenue)
    """,
    "TPC-H Q15 top supplier: revenue VIEW over a ship-date quarter + "
    "scalar max subquery; the max-equality compares exact DECIMAL sums "
    "(rounding only at output) so the winner is identical across engines",
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    rev = drep(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6)
    revenue = (
        t["lineitem"]
        .where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(rev).alias("total_rev"))
    )
    revenue.createOrReplaceTempView("revenue_q15")  # Q15's CREATE VIEW shape
    mx = revenue.agg(F.max("total_rev").alias("mx"))
    return (
        t["supplier"]
        .join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .crossJoin(F.broadcast(mx))
        .where(F.col("total_rev") == F.col("mx"))
        .select(
            "s_suppkey",
            "s_name",
            fround(F.col("total_rev").cast("double"), 2).alias("total_revenue"),
        )
    )


@_q(
    "tpch_q20",
    f"""
    SELECT s.s_name, s.s_acctbal
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_3'
      AND s.s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE 'small%' AND year(l_shipdate) = 1997
        GROUP BY l_suppkey, l_partkey
        HAVING sum({drep_sql("l_quantity", 2)}) > 50
      )
    """,
    "TPC-H Q20 excess-stock suppliers (adapted: no partsupp — excess = "
    "shipped quantity of name-prefixed parts over a fixed threshold): "
    "nested grouped-HAVING IN-subquery -> left-semi join; exact DECIMAL "
    "threshold",
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    excess = (
        t["lineitem"]
        .where(F.year("l_shipdate") == 1997)
        .join(
            F.broadcast(t["part"].where(F.col("p_name").like("small%"))),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(drep(F.col("l_quantity"), 2)).alias("q"))
        .where(F.col("q") > 50)
        .select("l_suppkey")
        .distinct()
    )
    return (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].where(F.col("n_name") == "NATION_3")),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .join(
            F.broadcast(excess),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_name", "s_acctbal")
    )


@_q(
    "skew_salted_join",
    f"""
    SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_lines,
           {fround_sql(dsum_sql(_REVENUE, 6), 2)} AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY n.n_name
    """,
    "salted fact-dim join (operators/skew.salted_join, salt=8): the salt "
    "spreads any hot supplier key over 8 tasks; results are identical to "
    "the plain join, which is exactly what the oracle checks",
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators.skew import salted_join

    t = register_views(spark, sf_dir)
    li = t["lineitem"].select("l_suppkey", "l_extendedprice", "l_discount")
    sup = t["supplier"].select("s_suppkey", "s_nationkey")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        salted_join(li, sup, "l_suppkey", "s_suppkey", salt=8)
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            fround(dsum(rev, 6), 2).alias("revenue"),
        )
    )


@_q(
    "wd_media_view",
    """
    SELECT id, label, description, episodes, parent, children FROM (VALUES
      ('Entity:100', 'Graph Wars', 'animated series about dueling graphs',
       CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR), 'Entity:101,Entity:102'),
      ('Entity:101', 'Graph Wars, season 1', 'first season',
       CAST(12.0 AS DOUBLE), 'Entity:100', ''),
      ('Entity:102', 'Graph Wars, season 2', 'second season',
       CAST(8.0 AS DOUBLE), 'Entity:100', ''),
      ('Entity:103', 'Standalone documentary', 'no series structure',
       CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR), '')
    ) AS v(id, label, description, episodes, parent, children)
    """,
    "The reference's flagship documented query (Useful queries.md:16-25): "
    "the Media view's three claims-path lookups (episodes = first P1113 "
    "Quantity amount, parent = first P179 Thing, children = all P527 "
    "Things) composed in one view over REAL ingested wikidata tables "
    "(B1+B3+B4+B5+B6+B13). The oracle is the hand-derived expected view "
    "content for the committed fixture dump.",
)
def wd_media_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingests the committed media fixture dump (data/media_dump.json) and
    defines the Media view exactly as Useful queries.md:16-25 does. The
    fixture is original but exercises the same shape as the reference's
    documented episodes/parent/children model."""
    import os

    from wikidata_to_surrealdb_spark.functions import (
        claim_values,
        first_claim_value,
        link_join,
    )
    from wikidata_to_surrealdb_spark.operators import ingest as _ingest

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "data",
        "media_dump.json",
    )
    t = _ingest.load_dump(spark, path, "json", lang="en")

    def thing_str(x):
        return F.when(
            x.isNotNull(), F.concat_ws(":", x["tb"], x["id"].cast("string"))
        )

    joined = link_join(t.entity, t.claims, broadcast_right=True)
    media = joined.where(t.entity["id.tb"] == "Entity").select(
        thing_str(t.entity["id"]).alias("id"),
        t.entity["label"].alias("label"),
        t.entity["description"].alias("description"),
        first_claim_value(t.claims["claims"], 1113, "quantity.amount").alias(
            "episodes"
        ),
        thing_str(
            F.try_element_at(claim_values(t.claims["claims"], 179, "thing"), F.lit(1))
        ).alias("parent"),
        F.concat_ws(
            ",", F.transform(claim_values(t.claims["claims"], 527, "thing"), thing_str)
        ).alias("children"),
    )
    media.createOrReplaceTempView("Media")  # B13: DEFINE TABLE Media AS ...
    return spark.sql(
        "SELECT id, label, description, episodes, parent, children FROM Media"
    )


def _snowball_vocab_oracle() -> str:
    from wikidata_to_surrealdb_spark.functions.porter2 import SNOWBALL_GOLDEN

    values = ",\n      ".join(f"('{w}', '{s}')" for w, s in SNOWBALL_GOLDEN)
    return f"""
    SELECT word, stemmed FROM (VALUES
      {values}
    ) AS v(word, stemmed)
    """


@_q(
    "b14_fts_snowball",
    _snowball_vocab_oracle(),
    "B14 parity: the snowball(english) analyzer filter the reference "
    "declares (Useful queries.md:28), run as the repo Porter2 port over "
    "the spec's own worked examples; the oracle is those published "
    "outputs as literals — ground truth independent of this code",
)
def b14_fts_snowball(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.functions.porter2 import SNOWBALL_GOLDEN

    words = local_relation(
        spark, [(w,) for w, _ in SNOWBALL_GOLDEN], "word string"
    )
    return words.select(
        "word", text.snowball_udf()(F.col("word")).alias("stemmed")
    )


# ---------------------------------------------------------------------------
# Corpus-curation surface (operators/curation.py): the filtering /
# splitting / profiling passes of an LLM training-data pipeline.
# ---------------------------------------------------------------------------

_TOKS_SQL = (
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), "
    "t -> length(t) > 0)"
)


def _ngram_sql(n: int) -> str:
    """DuckDB n-gram stream over token list ``t`` (n >= 2)."""
    return (
        f"list_transform(generate_series(1, greatest(len(t) - {n - 1}, 0)), "
        f"i -> array_to_string(list_slice(t, i, i + {n - 1}), ' '))"
    )


@_q(
    "curation_repetition",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ), grams AS (
      SELECT doc_id, 1 AS n, unnest(t) AS g FROM toks
      UNION ALL
      SELECT doc_id, 2 AS n, unnest({_ngram_sql(2)}) AS g FROM toks
      UNION ALL
      SELECT doc_id, 3 AS n, unnest({_ngram_sql(3)}) AS g FROM toks
    ), pg AS (
      SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY doc_id, n, g
    ), pn AS (
      SELECT doc_id, n, sum(c) AS total, count(*) AS dist, max(c) AS top
      FROM pg GROUP BY doc_id, n
    )
    SELECT d.doc_id,
      coalesce(max(CASE WHEN n = 1 THEN {fround_sql("top / CAST(total AS DOUBLE)", 4)} END), 0.0) AS top_unigram_frac,
      coalesce(max(CASE WHEN n = 2 THEN {fround_sql("top / CAST(total AS DOUBLE)", 4)} END), 0.0) AS top_bigram_frac,
      coalesce(max(CASE WHEN n = 2 THEN {fround_sql("1 - dist / CAST(total AS DOUBLE)", 4)} END), 0.0) AS dup_bigram_frac,
      coalesce(max(CASE WHEN n = 3 THEN {fround_sql("1 - dist / CAST(total AS DOUBLE)", 4)} END), 0.0) AS dup_trigram_frac
    FROM documents d LEFT JOIN pn ON d.doc_id = pn.doc_id
    GROUP BY d.doc_id
    """,
    "Gopher-style repetition metrics: top-n-gram occupancy and duplicate "
    "n-gram fractions per document (n=1,2,3) via one tagged explode + "
    "two-level partial aggregation",
)
def curation_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import curation

    t = register_views(spark, sf_dir)
    return curation.repetition_stats(t["documents"])


@_q(
    "curation_gopher_filter",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ), grams AS (
      SELECT doc_id, 2 AS n, unnest({_ngram_sql(2)}) AS g FROM toks
      UNION ALL
      SELECT doc_id, 3 AS n, unnest({_ngram_sql(3)}) AS g FROM toks
    ), pg AS (
      SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY doc_id, n, g
    ), pn AS (
      SELECT doc_id, n, sum(c) AS total, count(*) AS dist, max(c) AS top
      FROM pg GROUP BY doc_id, n
    ), rep AS (
      SELECT d.doc_id,
        coalesce(max(CASE WHEN n = 2 THEN {fround_sql("top / CAST(total AS DOUBLE)", 4)} END), 0.0) AS top_bigram_frac,
        coalesce(max(CASE WHEN n = 3 THEN {fround_sql("1 - dist / CAST(total AS DOUBLE)", 4)} END), 0.0) AS dup_trigram_frac
      FROM documents d LEFT JOIN pn ON d.doc_id = pn.doc_id
      GROUP BY d.doc_id
    )
    SELECT r.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
           r.top_bigram_frac, r.dup_trigram_frac,
           (len(t) >= 10 AND len(t) <= 100000
            AND r.top_bigram_frac <= 0.08
            AND r.dup_trigram_frac <= 0.20) AS keep
    FROM rep r JOIN toks USING (doc_id)
    """,
    "Gopher-style quality gate: token-count bounds + repetition "
    "thresholds -> boolean keep per document, inputs kept for audit",
)
def curation_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import curation

    t = register_views(spark, sf_dir)
    return curation.gopher_filter(t["documents"])


@_q(
    "curation_hash_split",
    """
    SELECT doc_id, lang,
      CASE WHEN substr(md5('split-v1:' || CAST(doc_id AS STRING)), 1, 2) < 'e6' THEN 'train'
           WHEN substr(md5('split-v1:' || CAST(doc_id AS STRING)), 1, 2) < 'f3' THEN 'val'
           ELSE 'test' END AS split
    FROM documents
    """,
    "deterministic train/val/test assignment from md5 hex-byte buckets "
    "(230/13/13 of 256): pure map, stable under retries and re-ingestion",
)
def curation_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import curation

    t = register_views(spark, sf_dir)
    return curation.hash_split(t["documents"]).select("doc_id", "lang", "split")


def _kmv_setops_oracle(k: int, seed: str = "kmv-v1") -> str:
    from wikidata_to_surrealdb_spark.operators.sketch import (
        HEX_SPACE,
        hex12_num_sql,
    )

    ue = (
        f"CASE WHEN n_u < {k} THEN CAST(n_u AS DOUBLE) "
        f"ELSE CAST({(k - 1) * HEX_SPACE} AS DOUBLE) / CAST(vk AS DOUBLE) END"
    )
    return f"""
    WITH ha AS (
      SELECT DISTINCT md5('{seed}:' || CAST(user_id AS VARCHAR)) AS h
      FROM events WHERE event_type = 'view' ORDER BY h LIMIT {k}
    ), hb AS (
      SELECT DISTINCT md5('{seed}:' || CAST(user_id AS VARCHAR)) AS h
      FROM events WHERE event_type = 'purchase' ORDER BY h LIMIT {k}
    ), u AS (
      SELECT DISTINCT h FROM (
        SELECT h FROM ha UNION ALL SELECT h FROM hb
      ) ORDER BY h LIMIT {k}
    ), m AS (
      SELECT h,
             (h IN (SELECT h FROM ha) AND h IN (SELECT h FROM hb)) AS inboth
      FROM u
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_u,
             max({hex12_num_sql("h")}) AS vk,
             CAST(sum(CASE WHEN inboth THEN 1 ELSE 0 END) AS BIGINT)
               AS n_both
      FROM m
    )
    SELECT CAST({k} AS BIGINT) AS kmv_k,
           n_u AS n_union_hashes,
           n_both AS n_shared_hashes,
           {fround_sql(ue, 4)} AS union_est,
           {fround_sql(f"(CAST(n_both AS DOUBLE) / CAST(n_u AS DOUBLE)) * ({ue})", 4)}
             AS inter_est,
           {fround_sql("CAST(n_both AS DOUBLE) / CAST(n_u AS DOUBLE)", 4)}
             AS jaccard_est
    FROM agg
    """


@_q(
    "sketch_kmv_setops",
    _kmv_setops_oracle(64),
    "KMV sketch SET ALGEBRA (Beyer et al. 2007): distinct union, "
    "intersection, and Jaccard of the viewer and purchaser user sets "
    "estimated from their bottom-64 md5 sketches ALONE — the 'how much "
    "do these corpora overlap' primitive that never joins the sets. "
    "Union sketch = k smallest of the merged sketches (standard KMV "
    "estimate); the shared-hash fraction within it estimates Jaccard "
    "and, scaled by the union estimate, the intersection; sub-k sides "
    "are exact. Deterministic md5 basis, so the oracle replays the "
    "ESTIMATOR bit for bit — sketches, estimates and all. Each sketch "
    "is a distinct + TakeOrderedAndProject; everything downstream "
    "touches <= 3k rows",
)
def sketch_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import sketch

    t = register_views(spark, sf_dir)
    return sketch.kmv_set_ops(
        t["events"], "event_type", "user_id", "view", "purchase", k=64
    )


@_q(
    "dedup_containment",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(t[u.i : u.i + 2], ' ') AS s
      FROM toks, LATERAL unnest(
        range(1, greatest(len(t) - 2, 0) + 1)) AS u(i)
    ), dfreq AS (
      SELECT s, count(*) AS df FROM sh GROUP BY s
    ), uni AS (
      SELECT sh.doc_id, sh.s, d.df
      FROM sh JOIN dfreq d USING (s) WHERE d.df <= 100
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM uni GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS inter
      FROM uni a JOIN uni b ON a.s = b.s AND a.doc_id < b.doc_id
      WHERE a.df >= 2
      GROUP BY 1, 2
    )
    SELECT * FROM (
      SELECT id_a, id_b, inter,
             CAST(sa.sz AS BIGINT) AS size_a,
             CAST(sb.sz AS BIGINT) AS size_b,
             {fround_sql("inter / CAST(least(sa.sz, sb.sz) AS DOUBLE)", 4)}
               AS containment
      FROM pairs
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    ) WHERE containment >= 0.2
    """,
    "CONTAINMENT near-dup pairs: |A∩B| / min(|A|,|B|) over 3-shingle "
    "sets — the asymmetric-size relation Jaccard structurally misses "
    "(a paragraph quoted inside a 100x larger page: Jaccard ~1%, "
    "containment ~100%); the quote/excerpt dedup and contamination- "
    "tracing primitive. Shingle universe bounded at df <= 100 "
    "(ubiquitous shingles carry no identity signal and cap every "
    "posting list, so pair fan-out per shingle is <= df^2 — the knob "
    "that keeps the self-join off hot keys); within that universe the "
    "score is EXACT, df=1 shingles count in the denominators",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return dedup.containment_pairs(
        t["documents"], k=3, max_df=100, threshold=0.2
    )


@_q(
    "dedup_substring_spans",
    """
    WITH d AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(
               lower(coalesce(text, '')), '[^a-z0-9]+'),
               t -> length(t) > 0) AS t
      FROM documents
    ), w AS (
      SELECT doc_id, CAST(u.i AS INT) AS start,
             md5(array_to_string(t[u.i + 1 : u.i + 8], ' ')) AS fp
      FROM d, LATERAL unnest(range(0, greatest(len(t) - 7, 0))) AS u(i)
    ), r AS (
      SELECT doc_id, start,
             count(*) OVER (PARTITION BY fp) AS c,
             row_number() OVER (PARTITION BY fp ORDER BY doc_id, start) AS rk
      FROM w
    ), rm AS (
      SELECT doc_id, list_sort(list(start)) AS spans
      FROM r WHERE c > 1 AND rk > 1 GROUP BY doc_id
    ), f AS (
      SELECT d.doc_id, d.t, coalesce(rm.spans, []) AS spans
      FROM d LEFT JOIN rm ON rm.doc_id = d.doc_id
    ), k AS (
      SELECT doc_id, t,
             list_filter(range(0, len(t)),
               j -> len(list_filter(spans, s -> j >= s AND j < s + 8)) = 0
             ) AS keep
      FROM f
    )
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(t) - len(keep) AS BIGINT) AS n_removed,
           md5(coalesce(array_to_string(
             list_transform(keep, j -> t[CAST(j + 1 AS INT)]), ' '
           ), '')) AS cleaned_hash
    FROM k
    """,
    "repeated-SUBSTRING removal (Lee et al. 2022, the span-level dedup "
    "document-level passes cannot do): 8-token window fingerprints, any "
    "fingerprint occurring more than once is a duplicated span, every "
    "occurrence except the canonical first (smallest (doc_id,start) — "
    "total order, engine-portable) is removed, and a token goes if any "
    "removed span covers it; cleaned_hash = md5 of the surviving token "
    "stream, so the whole cleaned corpus is hash-compared cross-engine. "
    "Scale: window explode is tokens-sized (the MinHash shingle budget), "
    "the fingerprint exchange is the one corpus-sized shuffle — the "
    "standard distributed stand-in for suffix arrays; span merge and "
    "token filtering are array-local per doc",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return dedup.substring_dedup(t["documents"], window=8)


@_q(
    "curation_stratified_sample",
    """
    SELECT doc_id, lang, sample_rank FROM (
      SELECT doc_id, lang,
             CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('sample-v1:' || CAST(doc_id AS STRING)), doc_id
             ) AS BIGINT) AS sample_rank
      FROM documents
    ) WHERE sample_rank <= 5
    """,
    "exactly-k-per-stratum deterministic sample: md5 pseudo-order ranked "
    "inside each language stratum, k=5",
)
def curation_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import curation

    t = register_views(spark, sf_dir)
    return curation.stratified_sample(t["documents"], k=5).select(
        "doc_id", "lang", "sample_rank"
    )


@_q(
    "curation_passage_dedup",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ), chunks AS (
      SELECT doc_id, unnest(list_transform(
               generate_series(1, CAST(ceil(len(t) / 16.0) AS INT)),
               i -> md5(array_to_string(
                      list_slice(t, (i - 1) * 16 + 1, (i - 1) * 16 + 16), ' '))
             )) AS p_hash
      FROM toks WHERE len(t) > 0
    ), occ AS (
      SELECT p_hash, count(*) AS n_occ FROM chunks GROUP BY p_hash
    ), per_doc AS (
      SELECT doc_id, count(*) AS n_passages,
             sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS dup_passages
      FROM chunks JOIN occ USING (p_hash) GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_passages AS BIGINT) AS n_passages,
           CAST(dup_passages AS BIGINT) AS dup_passages,
           {fround_sql("dup_passages / CAST(n_passages AS DOUBLE)", 4)} AS dup_frac
    FROM per_doc
    """,
    "passage-level exact dedup profile: 16-token non-overlapping chunks "
    "md5'd, corpus-wide occurrence counts, per-doc duplicated-passage "
    "fraction — catches cross-document boilerplate whole-doc hashing "
    "misses",
)
def curation_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import curation

    t = register_views(spark, sf_dir)
    return curation.passage_stats(t["documents"])


# PII fixture text, built from table columns with the SAME SQL text on
# both engines (documents.text itself contains no digits/punctuation, so
# detectable spans are appended deterministically per doc_id — presence
# varies by doc so counts are non-constant).
_PII_DOC_SQL = (
    "text"
    " || CASE WHEN doc_id % 3 > 0 THEN ' reach user' || CAST(doc_id AS STRING)"
    " || '@' || source || '.example.com' ELSE '' END"
    " || CASE WHEN doc_id % 4 > 0 THEN ' from 10.' || CAST(doc_id % 256 AS STRING)"
    " || '.' || CAST((doc_id * 7) % 256 AS STRING) || '.9' ELSE '' END"
    " || CASE WHEN doc_id % 5 > 0 THEN ' tel 555-' || lpad(CAST(doc_id % 1000 AS STRING), 3, '0')"
    " || '-' || lpad(CAST((doc_id * 13) % 10000 AS STRING), 4, '0') ELSE '' END"
)


def _pii_oracle() -> str:
    from wikidata_to_surrealdb_spark.operators.curation import (
        PII_PATTERNS,
        PII_TOKENS,
    )

    counts = ", ".join(
        f"CAST(len(regexp_extract_all(pii_text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat in PII_PATTERNS.items()
    )
    redacted = "pii_text"
    for name, pat in PII_PATTERNS.items():
        redacted = f"regexp_replace({redacted}, '{pat}', '{PII_TOKENS[name]}', 'g')"
    return f"""
    WITH base AS (SELECT doc_id, {_PII_DOC_SQL} AS pii_text FROM documents)
    SELECT doc_id, {counts}, md5({redacted}) AS redacted_md5
    FROM base
    """


@_q(
    "curation_pii_redact",
    _pii_oracle(),
    "PII scan + redact: per-category hit counts (email/ipv4/phone, "
    "RE2-safe patterns shared verbatim with the oracle) and the md5 of "
    "the category-token-redacted text; single codegen'd regexp pass",
)
def curation_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import curation

    t = register_views(spark, sf_dir)
    base = t["documents"].select(
        "doc_id", F.expr(_PII_DOC_SQL).alias("pii_text")
    )
    scan = curation.pii_scan(base, text_col="pii_text")
    red = curation.pii_redact(base, text_col="pii_text").select(
        "doc_id", F.md5("redacted").alias("redacted_md5")
    )
    return scan.join(red, "doc_id")


@_q(
    "curation_corpus_stats",
    f"""
    WITH toks AS (
      SELECT lang, n_chars, len({_TOKS_SQL}) AS nt FROM documents
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           {fround_sql("quantile_cont(n_chars, 0.5)", 4)} AS p50_chars,
           {fround_sql("quantile_cont(n_chars, 0.9)", 4)} AS p90_chars,
           {fround_sql("quantile_cont(n_chars, 0.99)", 4)} AS p99_chars,
           {fround_sql("CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 4)} AS mean_chars,
           CAST(sum(nt) AS BIGINT) AS total_tokens
    FROM toks GROUP BY lang
    """,
    "per-language corpus profile: doc counts, exact interpolated size "
    "percentiles (Spark percentile == DuckDB quantile_cont), exact mean, "
    "total tokens",
)
def curation_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import curation

    t = register_views(spark, sf_dir)
    return curation.corpus_stats(t["documents"])


# ---------------------------------------------------------------------------
# Graph surface (operators/graph.py): multi-hop traversal + components
# ---------------------------------------------------------------------------

@_q(
    "graph_khop",
    """
    WITH RECURSIVE e0 AS (
      SELECT DISTINCT 'p:' || CAST(l_partkey AS STRING) AS a,
                      's:' || CAST(l_suppkey AS STRING) AS b
      FROM lineitem
    ), edges AS (
      SELECT a, b FROM e0 UNION SELECT b, a FROM e0
    ), walk(node, depth) AS (
      SELECT 'p:1', 0
      UNION ALL
      SELECT e.b, w.depth + 1
      FROM walk w JOIN edges e ON e.a = w.node
      WHERE w.depth < 2
    )
    SELECT node, CAST(min(depth) AS BIGINT) AS depth
    FROM walk GROUP BY node
    """,
    "bounded k-hop traversal (k=2) over the part<->supplier bipartite "
    "graph from lineitem: frontier BFS with min-depth semantics in "
    "Spark (per-round join on the NEW frontier only, lineage truncated "
    "per hop) vs a recursive CTE in the oracle — the multi-hop "
    "extension of the reference's record-link traversal (B3)",
)
def graph_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import graph

    t = register_views(spark, sf_dir)
    edges = t["lineitem"].select(
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
    ).distinct()
    start = local_relation(spark, [("p:1",)], "node string")
    return graph.khop(edges, start, k=2)


def _pagerank_oracle(iters: int, damping: float = 0.85) -> str:
    # every CTE that is referenced more than once is MATERIALIZED:
    # DuckDB 1.0's default CTE inlining replays r{t-1}'s whole subtree
    # per reference (c{t} + g{t} => 2x per round), which is exponential
    # in rounds — harmless at sf0.01 where each leaf scan is cheap, but
    # a >60 GB spill at sf0.1 (found by the r10 dirty sweep; same
    # lesson as the kmeans oracle chain in round 6)
    ctes = [
        """e AS MATERIALIZED (
      SELECT DISTINCT 'p:' || CAST(l_partkey AS VARCHAR) AS s,
                      's:' || CAST(l_suppkey AS VARCHAR) AS d
      FROM lineitem
    )""",
        "nodes AS MATERIALIZED (SELECT s AS node FROM e UNION SELECT d FROM e)",
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes)",
        "od AS MATERIALIZED (SELECT s, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY s)",
        f"r0 AS MATERIALIZED (SELECT node, {fround_sql('1.0 / CAST(nn.n AS DOUBLE)', 12)} AS rank FROM nodes, nn)",
    ]
    contrib = fround_sql("r.rank / CAST(od.outdeg AS DOUBLE)", 12)
    for t in range(1, iters + 1):
        ctes.append(
            f"""c{t} AS (
      SELECT e.d AS node,
             CAST(SUM(CAST({contrib} AS DECIMAL(28,12))) AS DOUBLE) AS cin
      FROM e JOIN r{t - 1} r ON r.node = e.s JOIN od ON od.s = e.s
      GROUP BY e.d
    )"""
        )
        ctes.append(
            f"""g{t} AS (
      SELECT CAST(COALESCE((SELECT SUM(CAST(r.rank AS DECIMAL(28,12)))
                            FROM r{t - 1} r
                            WHERE r.node NOT IN (SELECT s FROM od)),
                           CAST(0 AS DECIMAL(28,12))) AS DOUBLE)
             / CAST(nn.n AS DOUBLE) AS g
      FROM nn
    )"""
        )
        newrank = fround_sql(
            f"(1.0 - {damping!r}) / CAST(nn.n AS DOUBLE) + "
            f"{damping!r} * (COALESCE(c.cin, 0.0) + g.g)",
            12,
        )
        ctes.append(
            f"""r{t} AS MATERIALIZED (
      SELECT n.node, {newrank} AS rank
      FROM nodes n LEFT JOIN c{t} c ON c.node = n.node, g{t} g, nn
    )"""
        )
    return (
        "WITH " + ",\n    ".join(ctes) + f"\n    SELECT node, rank FROM r{iters}"
    )


_PAGERANK_ITERS = 6


@_q(
    "graph_pagerank",
    _pagerank_oracle(_PAGERANK_ITERS),
    "power-iteration PageRank (6 rounds, d=0.85) with dangling-mass "
    "redistribution over the DIRECTED part->supplier graph from "
    "lineitem (every supplier is dangling, so the correction path is "
    "live); per-edge contributions rounded to 12dp and summed as exact "
    "DECIMAL so the unrolled-CTE oracle reproduces every double "
    "bit-for-bit; per iteration one node-keyed join + one aggregation, "
    "dangling total a 1-row broadcast, lineage checkpoint-truncated",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import graph

    t = register_views(spark, sf_dir)
    edges = (
        t["lineitem"]
        .select(
            F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    return graph.pagerank(edges, iterations=_PAGERANK_ITERS).select("node", "rank")


@_q(
    "dedup_clusters",
    f"""
    WITH RECURSIVE pairs AS ({_MINHASH_ORACLE}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), reach(src, dst) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges)
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
    )
    SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS cluster_id
    FROM reach GROUP BY src
    """,
    "near-dup clustering: MinHash+LSH pair list -> connected components "
    "(min-label propagation, lineage-truncated driver loop) -> "
    "(doc, cluster) with the min doc id as the deterministic canonical "
    "representative — the pass that turns pairwise dedup output into "
    "keep/drop decisions",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import graph

    t = register_views(spark, sf_dir)
    # b2r4: the s-curve default, same banding as _MINHASH_ORACLE —
    # keep these in lockstep (the r12 full-catalog dupdense sweep
    # caught exactly this pair drifting apart)
    pairs = dedup.minhash_dedup(
        t["documents"], num_hashes=8, bands=2, k=3, threshold=0.1
    )
    comp = graph.connected_components(pairs, src="id_a", dst="id_b")
    return comp.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


# ---------------------------------------------------------------------------
# Sketch surface (operators/sketch.py)
# ---------------------------------------------------------------------------

def _kmv_oracle(k: int = 64) -> str:
    from wikidata_to_surrealdb_spark.operators.sketch import (
        HEX_SPACE,
        hex12_num_sql,
    )

    est = (
        f"CASE WHEN n_hashes < {k} THEN CAST(n_hashes AS DOUBLE) "
        f"ELSE {k - 1} * {float(HEX_SPACE)} / CAST(vk AS DOUBLE) END"
    )
    return f"""
    WITH h AS (
      SELECT DISTINCT md5('kmv-v1:' || text) AS h
      FROM documents WHERE text IS NOT NULL
    ), kmin AS (
      SELECT h FROM h ORDER BY h LIMIT {k}
    ), agg AS (
      SELECT count(*) AS n_hashes, max({hex12_num_sql("h")}) AS vk FROM kmin
    ), ex AS (
      SELECT count(DISTINCT text) AS n_exact FROM documents
    )
    SELECT CAST({k} AS BIGINT) AS kmv_k,
           CAST(n_hashes AS BIGINT) AS n_hashes,
           CAST(n_exact AS BIGINT) AS n_exact,
           {fround_sql(est, 4)} AS kmv_estimate
    FROM agg, ex
    """


@_q(
    "sketch_kmv_distinct",
    _kmv_oracle(64),
    "KMV approximate-distinct sketch (k=64) over documents.text: "
    "deterministic md5 order statistic -> (k-1)/v_k estimate, exact "
    "count alongside for error audit. Unlike HLL, bit-identical across "
    "engines, threshold-bounded exchange (~8k candidate hashes, not the "
    "full cardinality), mergeable",
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import sketch

    t = register_views(spark, sf_dir)
    docs = t["documents"]
    s = sketch.kmv_distinct(docs, "text", k=64)
    # exact-count audit as an uncorrelated scalar subquery: it executes
    # as its own aggregate and the headline plan has no join node at all
    # (a crossJoin of the two 1-row aggregates planned as a
    # BroadcastNestedLoopJoin; an equi-join on a constant key gets
    # constant-folded right back into one).
    s.createOrReplaceTempView("_kmv_sketch")
    return spark.sql(
        "SELECT kmv_k, n_hashes, "
        "(SELECT CAST(count(DISTINCT text) AS BIGINT) FROM documents) "
        "AS n_exact, "
        f"{fround_sql('kmv_estimate_raw', 4)} AS kmv_estimate "
        "FROM _kmv_sketch"
    )


# ---------------------------------------------------------------------------
# Analytic-window breadth over events
# ---------------------------------------------------------------------------

_EV_CUMSUM = (
    f"CAST(sum({drep_sql('value', 2)}) OVER ("
    "PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)"
)
_EV_MA3_SUM = (
    f"CAST(sum({drep_sql('value', 2)}) OVER ("
    "PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)"
)
_EV_MA3_CNT = (
    "count(value) OVER (PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)"
)


@_q(
    "events_analytics",
    f"""
    SELECT event_id, user_id, value,
           lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
           {fround_total_sql("value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)", 4)} AS delta,
           {fround_sql(f"{_EV_MA3_SUM} / CAST({_EV_MA3_CNT} AS DOUBLE)", 4)} AS ma3,
           {fround_sql(_EV_CUMSUM, 4)} AS cum_value
    FROM events
    """,
    "analytic windows over the event stream: lag / delta / 3-row moving "
    "average / running total per user, total ordering (ts, event_id); "
    "sums in exact DECIMAL inside the frame so window math is "
    "engine-portable",
)
def events_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = register_views(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame3 = w.rowsBetween(-2, Window.currentRow)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dec = drep(F.col("value"), 2)
    return t["events"].select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        fround_total(F.col("value") - F.lag("value").over(w), 4).alias("delta"),
        fround(
            F.sum(dec).over(frame3).cast("double")
            / F.count("value").over(frame3).cast("double"),
            4,
        ).alias("ma3"),
        fround(F.sum(dec).over(cum).cast("double"), 4).alias("cum_value"),
    )


@_q(
    "text_top_terms",
    f"""
    WITH toks AS (
      SELECT lang, doc_id, unnest(list_distinct({_TOKS_SQL})) AS term
      FROM documents
    ), dfreq AS (
      SELECT lang, term, CAST(count(*) AS BIGINT) AS df
      FROM toks GROUP BY lang, term
    )
    SELECT lang, term, df, rank FROM (
      SELECT lang, term, df,
             CAST(row_number() OVER (
               PARTITION BY lang ORDER BY df DESC, term
             ) AS BIGINT) AS rank
      FROM dfreq
    ) WHERE rank <= 10
    """,
    "vocabulary heavy hitters: top-10 terms per language by DOCUMENT "
    "frequency (per-doc distinct before the explode, so tf spam can't "
    "inflate df), deterministic (df DESC, term) tie-break; the rank "
    "window runs on the aggregated vocabulary, not the token stream",
)
def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return text.top_terms(t["documents"], k=10)


@_q(
    "emb_normalize_quantize",
    f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM embeddings
    ), n AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM v
    )
    SELECT vec_id,
           {fround_sql("norm", 4)} AS l2_norm,
           md5(array_to_string(list_transform(v,
             x -> CAST(greatest(-127, least(127, floor(x / norm * 127 + 0.5))) AS BIGINT)
           ), ',')) AS q_checksum
    FROM n
    """,
    "embedding preprocessing: L2 norm + symmetric int8 quantization of "
    "the unit vector, asserted cross-engine via md5 of the int codes — "
    "pure map, array-local, the 4x shrink before an ANN index",
)
def emb_normalize_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return similarity.normalize_quantize(t["embeddings"])


@_q(
    "wd_incremental_ingest",
    """
    SELECT id, label, episodes FROM (VALUES
      ('Entity:100', 'Graph Wars', CAST(NULL AS DOUBLE)),
      ('Entity:101', 'Graph Wars, season 1 remastered', CAST(13.0 AS DOUBLE)),
      ('Entity:102', 'Graph Wars, season 2', CAST(8.0 AS DOUBLE)),
      ('Entity:103', 'Standalone documentary', CAST(NULL AS DOUBLE)),
      ('Entity:104', 'Graph Wars, season 3', CAST(6.0 AS DOUBLE))
    ) AS v(id, label, episodes)
    """,
    "incremental re-ingest (merge_loads): a v2 dump revision merged over "
    "the v1 load with entity-level last-load-wins — Q101's label AND its "
    "Claims row are replaced (episodes 12 -> 13), new Q104 appears, "
    "untouched entities persist; one windowed merge per table, "
    "exchange-free when both sides are bucketed on id. The oracle is the "
    "hand-derived post-merge state of the committed fixtures.",
)
def wd_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from wikidata_to_surrealdb_spark.functions import (
        first_claim_value,
        link_join,
    )
    from wikidata_to_surrealdb_spark.operators import ingest as _ingest

    data_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data"
    )
    v1 = _ingest.load_dump(
        spark, os.path.join(data_dir, "media_dump.json"), "json", lang="en"
    )
    v2 = _ingest.load_dump(
        spark, os.path.join(data_dir, "media_dump_v2.json"), "json", lang="en"
    )
    merged = _ingest.merge_loads(v1, v2)
    joined = link_join(merged.entity, merged.claims, broadcast_right=True)
    return joined.where(merged.entity["id.tb"] == "Entity").select(
        F.concat_ws(
            ":",
            merged.entity["id.tb"],
            merged.entity["id.id"].cast("string"),
        ).alias("id"),
        merged.entity["label"].alias("label"),
        first_claim_value(merged.claims["claims"], 1113, "quantity.amount").alias(
            "episodes"
        ),
    )


@_q(
    "curation_pack_sequences",
    f"""
    WITH toks AS (
      SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cum_before
      FROM toks
    )
    SELECT doc_id, n_tokens,
           CAST(cum_before // 2048 AS BIGINT) AS seq_id,
           CAST(cum_before % 2048 AS BIGINT) AS seq_offset
    FROM c
    """,
    "GPT-style training-sequence packing: concatenate the doc_id-ordered "
    "token stream, cut every 2048 tokens; Spark computes the global "
    "running sum as a two-level distributed prefix sum (per-bucket "
    "windows in parallel + a bucket-totals prefix + broadcast join) — "
    "identical to the oracle's single global window but with no "
    "single-reducer stage",
)
def curation_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import curation

    t = register_views(spark, sf_dir)
    return curation.pack_sequences(t["documents"], seq_len=2048, bucket_size=64)


@_q(
    "curation_decontaminate",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ), grams AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(t) - 2, 0)),
               i -> md5(array_to_string(list_slice(t, i, i + 2), ' '))
             ))) AS g_hash
      FROM toks WHERE len(t) >= 3
    ), ev AS (
      SELECT DISTINCT g_hash FROM grams WHERE doc_id % 97 = 0
    )
    SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hits
    FROM grams g JOIN ev ON g.g_hash = ev.g_hash
    WHERE g.doc_id % 97 != 0
    GROUP BY g.doc_id
    """,
    "benchmark decontamination: training docs sharing any n-gram with "
    "the held-out eval slice (doc_id % 97 = 0), n=3 on this synthetic "
    "corpus (real pipelines use 8-13); eval gram hashes broadcast, the "
    "corpus scan stays map-side — no shuffle touches the token stream",
)
def curation_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import curation

    t = register_views(spark, sf_dir)
    docs = t["documents"]
    ev = docs.where(F.col("doc_id") % 97 == 0)
    train = docs.where(F.col("doc_id") % 97 != 0)
    return curation.decontaminate(train, ev, n=3)


_CM_PROBES = ("join", "hash", "row", "quantum", "scan")  # incl. one absent term


def _countmin_oracle(width: int = 512, depth: int = 4, seed: str = "cm-v1") -> str:
    from wikidata_to_surrealdb_spark.operators.sketch import _cm_bucket_sql

    probe_rows = ", ".join(f"('{v}')" for v in _CM_PROBES)
    cell_union = "\n      UNION ALL\n      ".join(
        f"SELECT {d} AS d, {_cm_bucket_sql('t', d, seed, width)} AS bucket FROM toks"
        for d in range(depth)
    )
    probe_union = "\n      UNION ALL\n      ".join(
        f"SELECT value, {d} AS d, {_cm_bucket_sql('value', d, seed, width)} AS bucket FROM probes"
        for d in range(depth)
    )
    return f"""
    WITH toks AS (
      SELECT unnest({_TOKS_SQL}) AS t FROM documents
    ), cm AS (
      SELECT d, bucket, CAST(count(*) AS BIGINT) AS c FROM (
      {cell_union}
      ) GROUP BY d, bucket
    ), probes AS (
      SELECT value FROM (VALUES {probe_rows}) v(value)
    ), cells AS (
      {probe_union}
    ), exact AS (
      SELECT t AS value, CAST(count(*) AS BIGINT) AS exact_count
      FROM toks GROUP BY t
    )
    SELECT cells.value,
           CAST(min(coalesce(cm.c, 0)) AS BIGINT) AS cm_est,
           CAST(coalesce(max(exact.exact_count), 0) AS BIGINT) AS exact_count
    FROM cells
    LEFT JOIN cm ON cm.d = cells.d AND cm.bucket = cells.bucket
    LEFT JOIN exact ON exact.value = cells.value
    GROUP BY cells.value
    """


@_q(
    "sketch_countmin_terms",
    _countmin_oracle(),
    "count-min sketch (4 md5 hash rows x 512 cells) over the token "
    "stream: point-frequency estimates for 5 probe terms (one absent -> "
    "est may be 0/collision-bounded) with exact counts alongside; the "
    "sketch is a fixed-size, mergeable relation — map-side partial agg "
    "collapses every partition to <= width*depth rows before the only "
    "shuffle",
)
def sketch_countmin_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.functions import respread
    from wikidata_to_surrealdb_spark.operators import sketch

    t = register_views(spark, sf_dir)
    toks = respread(t["documents"]).select(
        F.explode(text.tokens_col("text")).alias("t")
    )
    cm = sketch.countmin_build(toks, col="t")
    est = sketch.countmin_estimate(cm, list(_CM_PROBES))
    exact = (
        toks.where(F.col("t").isin(*_CM_PROBES))
        .groupBy(F.col("t").alias("value"))
        .agg(F.count("*").cast("bigint").alias("exact_count"))
    )
    return (
        est.join(exact, "value", "left")
        .select(
            "value",
            "cm_est",
            F.coalesce(F.col("exact_count"), F.lit(0)).cast("bigint").alias(
                "exact_count"
            ),
        )
    )


def _kmv_by_oracle(k: int = 32) -> str:
    from wikidata_to_surrealdb_spark.operators.sketch import (
        HEX_SPACE,
        hex12_num_sql,
    )

    est = (
        f"CASE WHEN n_hashes < {k} THEN CAST(n_hashes AS DOUBLE) "
        f"ELSE {k - 1} * {float(HEX_SPACE)} / CAST(vk AS DOUBLE) END"
    )
    return f"""
    WITH pairs AS (
      SELECT DISTINCT event_type,
             md5('kmv-v1:' || CAST(user_id AS STRING)) AS h
      FROM events WHERE user_id IS NOT NULL
    ), kmin AS (
      SELECT event_type, h FROM (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM pairs
      ) WHERE rn <= {k}
    ), agg AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_hashes,
             max({hex12_num_sql("h")}) AS vk
      FROM kmin GROUP BY event_type
    ), ex AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events GROUP BY event_type
    )
    SELECT agg.event_type, agg.n_hashes, ex.n_exact,
           {fround_sql(est, 4)} AS kmv_estimate
    FROM agg JOIN ex ON agg.event_type = ex.event_type
    """


@_q(
    "sketch_kmv_by_type",
    _kmv_by_oracle(32),
    "grouped KMV: approximate distinct users PER event type (k=32 min "
    "hashes per group, per-group O(k) state, groups parallelize across "
    "the cluster), exact distinct alongside for error audit",
)
def sketch_kmv_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import sketch

    t = register_views(spark, sf_dir)
    ev = t["events"]
    s = sketch.kmv_distinct_by(ev, "event_type", "user_id", k=32)
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("n_exact")
    )
    return s.join(exact, "event_type").select(
        "event_type",
        "n_hashes",
        "n_exact",
        fround(F.col("kmv_estimate_raw"), 4).alias("kmv_estimate"),
    )


@_q(
    "wd_manifest_merge",
    """
    SELECT id, label, episodes FROM (VALUES
      ('Entity:100', 'Graph Wars', CAST(NULL AS DOUBLE)),
      ('Entity:101', 'Graph Wars, season 1 remastered', CAST(13.0 AS DOUBLE)),
      ('Entity:102', 'Graph Wars, season 2', CAST(8.0 AS DOUBLE)),
      ('Entity:103', 'Standalone documentary', CAST(NULL AS DOUBLE)),
      ('Entity:104', 'Graph Wars, season 3', CAST(6.0 AS DOUBLE))
    ) AS v(id, label, episodes)
    """,
    "bucket-local incremental merge (ingest.merge_into_bucketed_manifest): "
    "the v1 load is written as generation-named id-hash bucket dirs "
    "resolved through _MANIFEST.json, the v2 revision rewrites ONLY the "
    "buckets containing updated entities and commits with one atomic "
    "local file replace of the manifest; the merged state read back "
    "through the manifest must equal "
    "merge_loads' in-memory result, which is what the hand-derived "
    "oracle pins",
)
def wd_manifest_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from wikidata_to_surrealdb_spark.functions import (
        first_claim_value,
        link_join,
    )
    from wikidata_to_surrealdb_spark.operators import ingest as _ingest

    data_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data"
    )
    v1 = _ingest.load_dump(
        spark, os.path.join(data_dir, "media_dump.json"), "json", lang="en"
    )
    v2 = _ingest.load_dump(
        spark, os.path.join(data_dir, "media_dump_v2.json"), "json", lang="en"
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"wd_manifest_merge_{spark.sparkContext.applicationId}",
    )
    # generation dirs accumulate across re-runs within a session; start
    # from a clean slate so the bootstrap write is deterministic
    shutil.rmtree(out, ignore_errors=True)
    _ingest.write_tables_bucketed_manifest(v1, out, n_buckets=8)
    _ingest.merge_into_bucketed_manifest(spark, out, v2, n_buckets=8)
    entity = _ingest.read_bucketed_manifest(
        spark, f"{out}/Entity.parquet"
    ).drop("_bucket")
    claims = _ingest.read_bucketed_manifest(
        spark, f"{out}/Claims.parquet"
    ).drop("_bucket")
    joined = link_join(entity, claims, broadcast_right=True)
    return joined.where(entity["id.tb"] == "Entity").select(
        F.concat_ws(
            ":", entity["id.tb"], entity["id.id"].cast("string")
        ).alias("id"),
        entity["label"].alias("label"),
        first_claim_value(claims["claims"], 1113, "quantity.amount").alias(
            "episodes"
        ),
    )


@_q(
    "wd_surql_media",
    QUERIES["wd_media_view"].oracle,
    "the reference's flagship Media view executed from its VERBATIM "
    "SurrealQL text (Useful queries.md:16-25) through the plans/surql.py "
    "mini-translator — DEFINE TABLE ... AS SELECT with three claims-path "
    "lookups, record-link traversal, array filters, variant projection "
    "and [0] indexing, compiled to the same DataFrame plan the idiomatic "
    "wd_media_view builds; sharing that entry's hand-derived oracle "
    "proves translated and hand-written plans produce identical results",
)
def wd_surql_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from wikidata_to_surrealdb_spark.operators import ingest as _ingest
    from wikidata_to_surrealdb_spark.plans.surql import run_surql

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "data",
        "media_dump.json",
    )
    t = _ingest.load_dump(spark, path, "json", lang="en")
    script = """
    DEFINE TABLE Media TYPE NORMAL AS
    SELECT
    *,
    # Number of episodes
    (claims.claims[WHERE id = Property:1113].value.ClaimValueData.Quantity.amount)[0] AS episodes,
    # Part of the series (parent)
    (claims.claims[WHERE id = Property:179].value.Thing)[0] AS parent,
    # Has part(s) (children)
    claims.claims[WHERE id = Property:527].value.Thing AS children
    FROM Entity;

    SELECT id, label, description, episodes, parent, children FROM Media
    WHERE id.tb = "Entity";
    """
    results, _env = run_surql(
        spark,
        {
            "Entity": t.entity,
            "Property": t.property,
            "Lexeme": t.lexeme,
            "Claims": t.claims,
        },
        script,
    )
    media = results[-1]

    def thing_str(x):
        return F.when(
            x.isNotNull(), F.concat_ws(":", x["tb"], x["id"].cast("string"))
        )

    return media.select(
        thing_str(F.col("id")).alias("id"),
        "label",
        "description",
        "episodes",
        thing_str(F.col("parent")).alias("parent"),
        F.concat_ws(
            ",", F.transform(F.col("children"), thing_str)
        ).alias("children"),
    )


@_q(
    "wd_surql_episodes",
    """
    SELECT label, number_of_episodes FROM (VALUES
      ('Black Clover, season 1', CAST(51.0 AS DOUBLE)),
      ('Towel Day', CAST(NULL AS DOUBLE)),
      ('Black Clover', CAST(NULL AS DOUBLE))
    ) AS v(label, number_of_episodes)
    """,
    "the reference's documented let/return/UPDATE flow (Useful "
    "queries.md:44-50, the integration.rs G1 scenario) run VERBATIM "
    "through plans/surql.py: scalar let-extraction of the first P1113 "
    "Quantity amount via claims-path + [0] indexing, RETURN of the "
    "bound scalar, then UPDATE ... SET with $param binding writing the "
    "value back onto the filtered entity. The oracle is the reference's "
    "own golden: Black Clover season 1 gains number_of_episodes = 51.0 "
    "(integration.rs:25-54) and untouched entities stay NULL",
)
def wd_surql_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from wikidata_to_surrealdb_spark.operators import ingest as _ingest
    from wikidata_to_surrealdb_spark.plans.surql import run_surql

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "data",
        "episodes_dump.json",
    )
    t = _ingest.load_dump(spark, path, "json", lang="en")
    # Useful queries.md:44-50, verbatim
    script = """
    let $number_of_episodes = (select claims.claims[where id = Property:1113][0].value.ClaimValueData.Quantity.amount as number_of_episodes from Entity where label = "Black Clover, season 1")[0].number_of_episodes;

    return $number_of_episodes;

    update Entity SET number_of_episodes=$number_of_episodes where label = "Black Clover, season 1";
    """
    _results, env = run_surql(
        spark,
        {
            "Entity": t.entity,
            "Property": t.property,
            "Lexeme": t.lexeme,
            "Claims": t.claims,
        },
        script,
    )
    return env.tables["Entity"].select(
        "label", F.col("number_of_episodes").cast("double")
    )


@_q(
    "wd_surql_parts",
    """
    SELECT part FROM (VALUES
      ('Entity:60746544'), ('Entity:60746545')
    ) AS v(part)
    """,
    "the reference's Get Parts flow (Useful queries.md:55-59) run "
    "VERBATIM through the translator: let-binding an ARRAY-valued "
    "claims-path collect (P527 Things) with an AS alias, [0].parts "
    "scalar extraction, RETURN of the bound array. The oracle is the "
    "hand-derived part list for the committed fixture's Black Clover "
    "parent",
)
def wd_surql_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from wikidata_to_surrealdb_spark.operators import ingest as _ingest
    from wikidata_to_surrealdb_spark.plans.surql import run_surql

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "data",
        "episodes_dump.json",
    )
    t = _ingest.load_dump(spark, path, "json", lang="en")
    # Useful queries.md:55-59, verbatim
    script = """
    let $parts = (select claims.claims[where id = Property:527].value.Thing as parts from Entity where label = "Black Clover")[0].parts;

    return $parts;
    """
    results, _env = run_surql(
        spark,
        {
            "Entity": t.entity,
            "Property": t.property,
            "Lexeme": t.lexeme,
            "Claims": t.claims,
        },
        script,
    )
    parts = [
        (f"{r['tb']}:{r['id']}",) for r in results[-1]
    ]
    return local_relation(spark, parts, "part string")


@_q(
    "wd_surql_filter",
    """
    SELECT id, label, n_claim_entries FROM (VALUES
      ('Entity:200', 'kept alpha', CAST(1 AS BIGINT)),
      ('Entity:201', 'kept beta', CAST(2 AS BIGINT))
    ) AS v(id, label, n_claim_entries)
    """,
    "the reference's tests/data/test_filter.surql MUTATION script run "
    "VERBATIM through plans/surql.py end to end — let-binding a "
    "sub-select, scalar field fan-out (.id / .claims), and two DELETEs "
    "cascading Entity AND Claims rows (integration.rs:56-75's count "
    "check generalized): entities whose P1113 claims carry no "
    "Thing-variant value are removed along with their claim rows. The "
    "committed fixture has 5 entities — Quantity-only P1113, absent "
    "P1113, and wrong-property Thing all must die; only the two with a "
    "Thing-variant P1113 survive. The oracle is the hand-derived "
    "survivor set with per-survivor claim-entry counts proving the "
    "Claims side of the cascade",
)
def wd_surql_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from wikidata_to_surrealdb_spark.functions import link_join
    from wikidata_to_surrealdb_spark.operators import ingest as _ingest
    from wikidata_to_surrealdb_spark.plans.surql import run_surql

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "data",
        "filter_dump.json",
    )
    t = _ingest.load_dump(spark, path, "json", lang="en")
    # tests/data/test_filter.surql, verbatim (reference repo)
    script = """
    let $delete = select claims, id from Entity
    where claims.claims[where id = Property:1113].value.Thing == [];

    let $entity = return (select id from $delete).id;
    let $claims = return (select claims from $delete).claims;

    delete $claims;
    delete $entity;
    """
    _results, env = run_surql(
        spark,
        {
            "Entity": t.entity,
            "Property": t.property,
            "Lexeme": t.lexeme,
            "Claims": t.claims,
        },
        script,
    )
    # both mutated tables trace to ONE parsed dump DataFrame, so rename
    # the Claims columns before the link join to avoid self-join
    # ambiguity on 'claims'/'id'
    ent = env.tables["Entity"]
    cl = env.tables["Claims"].select(
        F.col("id").alias("_cid"), F.col("claims").alias("_entries")
    )
    joined = ent.join(
        F.broadcast(cl), ent["claims"] == cl["_cid"], "left"
    )
    return joined.select(
        F.concat_ws(
            ":", F.col("id.tb"), F.col("id.id").cast("string")
        ).alias("id"),
        "label",
        F.size("_entries").cast("bigint").alias("n_claim_entries"),
    )


@_q(
    "wd_stream_upsert",
    QUERIES["wd_manifest_merge"].oracle,
    "STREAMING continuous ingest — the reference's steady state (its "
    "main loop upserts every entity against the live database; "
    "CREATE/UPDATE modes, main.rs:34): dump versions v1 and v2 arrive "
    "as separate micro-batches (file source, maxFilesPerTrigger=1) and "
    "foreachBatch applies each to the bucketed-manifest table — "
    "bootstrap write, then bucket-local merge with the atomic "
    "manifest-pointer commit. Replaying a batch converges to the same "
    "table (id-keyed last-wins upsert = effectively-once), and the "
    "final table must equal the BATCH v1+v2 merge — same hand-derived "
    "oracle as wd_manifest_merge",
)
def wd_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from wikidata_to_surrealdb_spark.functions import (
        first_claim_value,
        link_join,
    )
    from wikidata_to_surrealdb_spark.operators import ingest as _ingest
    from wikidata_to_surrealdb_spark.streaming import upserts as _up

    data_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "data"
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"wd_stream_upsert_{spark.sparkContext.applicationId}",
    )
    shutil.rmtree(out, ignore_errors=True)
    slices = _up.copy_dumps_as_slices(
        [
            os.path.join(data_dir, "media_dump.json"),
            os.path.join(data_dir, "media_dump_v2.json"),
        ],
        os.path.join(out, "slices"),
    )
    _up.stream_upsert_manifest(spark, slices, out, n_buckets=8)
    entity = _ingest.read_bucketed_manifest(
        spark, f"{out}/Entity.parquet"
    ).drop("_bucket")
    claims = _ingest.read_bucketed_manifest(
        spark, f"{out}/Claims.parquet"
    ).drop("_bucket")
    joined = link_join(entity, claims, broadcast_right=True)
    return joined.where(entity["id.tb"] == "Entity").select(
        F.concat_ws(
            ":", entity["id.tb"], entity["id.id"].cast("string")
        ).alias("id"),
        entity["label"].alias("label"),
        first_claim_value(claims["claims"], 1113, "quantity.amount").alias(
            "episodes"
        ),
    )


@_q(
    "skew_autodetect_join",
    f"""
    SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_lines,
           {fround_sql(dsum_sql(_REVENUE, 6), 2)} AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY n.n_name
    """,
    "salted join with AUTO-DETECTED hot keys (skew.detect_hot_keys: "
    "seeded sampled frequency count over the big side; nothing above "
    "threshold on this near-uniform key, so the join must degenerate to "
    "an exact unsalted equi-join — the degenerate path is what the "
    "oracle pins; the hot path is unit-tested on a planted 90%-hot key)",
)
def skew_autodetect_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators.skew import salted_join

    t = register_views(spark, sf_dir)
    li = t["lineitem"].select("l_suppkey", "l_extendedprice", "l_discount")
    sup = t["supplier"].select("s_suppkey", "s_nationkey")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        salted_join(li, sup, "l_suppkey", "s_suppkey", salt=8, auto_detect=True)
        .join(
            F.broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            fround(dsum(rev, 6), 2).alias("revenue"),
        )
    )


@_q(
    "stream_join_attribution",
    """
    SELECT p.event_id AS purchase_id,
           p.user_id AS user_id,
           epoch_us(p.ts) AS purchase_ts_us,
           p.value AS purchase_value,
           v.event_id AS view_id,
           epoch_us(v.ts) AS view_ts_us
    FROM events p
    JOIN events v
      ON v.user_id = p.user_id
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase' AND v.event_type = 'view'
    """,
    "watermarked STREAM-STREAM join (the two-unbounded-inputs operator "
    "class): attribute each purchase to same-user views in the preceding "
    "hour; watermarks + the bounded event-time range give Spark a state "
    "eviction bound (state holds ~window+watermark of events, never the "
    "full history); processed availableNow the result equals the batch "
    "join, which is exactly what the oracle checks",
)
def stream_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from wikidata_to_surrealdb_spark.streaming.events import (
        attribution_join_streaming,
    )

    register_views(spark, sf_dir)
    out = attribution_join_streaming(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    return out.select(
        "purchase_id",
        "user_id",
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
        "purchase_value",
        "view_id",
        F.unix_micros("view_ts").alias("view_ts_us"),
    )


@_q(
    "stream_join_attribution_outer",
    """
    SELECT p.event_id AS purchase_id,
           p.user_id AS user_id,
           epoch_us(p.ts) AS purchase_ts_us,
           p.value AS purchase_value,
           v.event_id AS view_id,
           epoch_us(v.ts) AS view_ts_us
    FROM events p
    LEFT JOIN events v
      ON v.user_id = p.user_id
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL 1 HOUR
     AND v.event_type = 'view'
    WHERE p.event_type = 'purchase'
    """,
    "LEFT OUTER watermarked stream-stream join: purchases with no "
    "qualifying view emit NULL view columns — which in streaming are "
    "WATERMARK-GATED (a match could still arrive until the watermark "
    "passes), so a stream that merely ends strands the tail's outer "
    "state. The runner drains it deterministically with a sentinel "
    "micro-batch that pushes both sides' watermarks past every real "
    "event (the end-of-stream flush pattern, made explicit); the "
    "result must equal the batch LEFT JOIN, which the oracle checks",
)
def stream_join_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from wikidata_to_surrealdb_spark.streaming.events import (
        attribution_join_outer_streaming,
    )

    register_views(spark, sf_dir)
    staging = os.path.join(
        tempfile.gettempdir(),
        f"wd_attr_outer_{spark.sparkContext.applicationId}",
    )
    out = attribution_join_outer_streaming(
        spark, os.path.join(sf_dir, "events.parquet"), staging
    )
    return out.select(
        "purchase_id",
        "user_id",
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
        "purchase_value",
        "view_id",
        F.unix_micros("view_ts").alias("view_ts_us"),
    )


_EXPECTATION_RULES = {
    "orderdate_not_null": "o_orderdate IS NOT NULL",
    "status_known": "o_orderstatus IN ('O', 'F', 'P')",
    "totalprice_positive": "o_totalprice > 0",
    "totalprice_under_400k": "o_totalprice <= 400000",  # deliberately violated
}


def _expectations_oracle() -> str:
    # Scalar subqueries (not FROM orders ... GROUP BY): count(*) over an
    # empty table still yields one row per rule, matching the Spark
    # df.agg() side on the empty-input edge.
    per_rule = "\n      UNION ALL\n      ".join(
        f"SELECT '{name}' AS rule, "
        f"(SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows, "
        f"(SELECT CAST(count(CASE WHEN NOT coalesce({pred}, FALSE) THEN 1 END) "
        f"  AS BIGINT) FROM orders) AS n_violations"
        for name, pred in _EXPECTATION_RULES.items()
    )
    return f"""
    SELECT rule, n_rows, n_violations,
           CAST(n_violations AS DOUBLE) / greatest(n_rows, 1) AS violation_rate
    FROM (
      {per_rule}
    ) ORDER BY rule
    """


@_q(
    "curation_expectations",
    _expectations_oracle(),
    "data-quality gate (the dbt/Great-Expectations shape): named SQL "
    "expectations evaluated as conditional counts in ONE map-only pass "
    "(a hundred rules over 100 TB = one scan, bounded agg state); NULL "
    "predicate results count as violations — the three-valued-logic "
    "trap that silently passes NULLs otherwise; one rule is "
    "deliberately violated so non-zero counting is exercised",
)
def curation_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import curation

    t = register_views(spark, sf_dir)
    return curation.expectations_report(t["orders"], _EXPECTATION_RULES)


@_q(
    "text_chunk_documents",
    f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
    ), n AS (
      SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0
    ), k AS (
      SELECT doc_id, toks, n,
             unnest(range(0, 1 + CAST(ceil(greatest(n - 64, 0) / 32.0) AS INT)))
               AS chunk_idx
      FROM n
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(chunk_idx * 32 AS BIGINT) AS start_token,
           CAST(least(64, n - chunk_idx * 32) AS BIGINT) AS n_tokens,
           array_to_string(
             toks[chunk_idx * 32 + 1 : chunk_idx * 32 + least(64, n - chunk_idx * 32)],
             ' '
           ) AS chunk_text
    FROM k
    """,
    "RAG-ingestion chunking: overlapping 64-token windows every 32 "
    "tokens with token offsets (last window runs short, every token in "
    ">= 1 chunk); tokenize + window enumeration + slice are all "
    "array-local HOFs in one codegen stage — the only fan-out is the "
    "explode, no shuffle anywhere",
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return text.chunk_documents(
        t["documents"], chunk_tokens=64, stride_tokens=32
    )


@_q(
    "events_pivot",
    """
    SELECT CAST(extract(hour FROM ts) AS BIGINT) AS hour_of_day,
           CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
           CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
           CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
           CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
           CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
    FROM events GROUP BY 1
    """,
    "pivot breadth: hour-of-day x event_type count matrix via "
    "groupBy().pivot() with EXPLICIT pivot values — without them Spark "
    "runs an extra distinct pass over the data to discover columns; the "
    "oracle is the equivalent conditional aggregation, which is also "
    "the single-shuffle plan pivot compiles to",
)
def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        t["events"]
        .groupBy(F.hour("ts").cast("bigint").alias("hour_of_day"))
        .pivot("event_type", types)
        .count()
    )
    return out.select(
        "hour_of_day",
        *[F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c) for c in types],
    )


def _sample_quantiles_oracle() -> str:
    from wikidata_to_surrealdb_spark.operators.sketch import (
        sample_quantiles_oracle_sql,
    )

    return sample_quantiles_oracle_sql("events", "value", "event_id", k=512)


@_q(
    "sketch_sample_quantiles",
    _sample_quantiles_oracle(),
    "deterministic sampled quantiles of events.value: bottom-512 rows by "
    "md5(event_id) — a uniform, deterministic, MERGEABLE sample (union + "
    "re-take bottom-k == sample of union) — then percentile_disc ranks "
    "with a (value, hash) tie-break; the bottom-k compiles to "
    "TakeOrderedAndProject (per-partition top-k, no shuffle), rank error "
    "O(1/sqrt(k)); unlike t-digest/KLL, engine-portable bit for bit",
)
def sketch_sample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import sketch

    t = register_views(spark, sf_dir)
    return sketch.sample_quantiles(t["events"], "value", "event_id", k=512)


@_q(
    "mm_decode_png",
    # DuckDB cannot decode PNG, but it doesn't need to: the asset encode
    # is the deterministic inverse (each document's UTF-8 bytes become
    # the gray pixels, zero-padded to a 32-wide raster), so the expected
    # decode output is computable straight from `documents` — byte stats
    # via per-byte hex extraction, pixel_hash via md5 over the padded
    # byte string (DuckDB md5 hashes the raw UTF-8 bytes, NULs included;
    # verified against hashlib). A hash match therefore proves the whole
    # Spark-side encode->PNG->decode round trip bit for bit.
    """
    WITH d AS (
      SELECT doc_id, coalesce(text, '') AS t,
             octet_length(encode(coalesce(text, ''))) AS n
      FROM documents
    ), g AS (
      SELECT doc_id, t, n,
             CAST(greatest(1, CAST(ceil(n / 32.0) AS INT)) AS INT) AS height
      FROM d
    ), b AS (
      SELECT doc_id, t, n, height, 32 * height - n AS pad,
             [CAST(('0x' || substr(hex(encode(t)), 2*i+1, 2)) AS INT)
              for i in range(0, n)] AS bs
      FROM g
    )
    SELECT doc_id AS asset_id,
           CAST(32 AS INT) AS width,
           height,
           CAST(1 AS INT) AS channels,
           CAST(8 AS INT) AS bit_depth,
           CAST(32 * height AS BIGINT) AS pixel_bytes,
           CAST(coalesce(list_sum(bs), 0) AS BIGINT) AS pixel_sum,
           CAST(CASE WHEN pad > 0 THEN 0 ELSE list_min(bs) END AS INT)
             AS pixel_min,
           CAST(coalesce(list_max(bs), 0) AS INT) AS pixel_max,
           md5(t || repeat(chr(0), pad)) AS pixel_hash
    FROM b
    ORDER BY asset_id
    """,
    "REAL image decode end to end: every document's bytes become a "
    "gray PNG (in-repo from-spec encoder), decoded back by the from-spec "
    "reader inside Arrow-batched mapInPandas into per-image features "
    "(dims/pixel stats/pixel hash); corrupt payloads yield NULL rows "
    "instead of failing the task; the oracle recomputes the expected "
    "pixels from the document bytes, so the hash match checks the "
    "decode round trip exactly (goldens in tests/test_png.py pin the "
    "filter/depth paths this fixture doesn't exercise)",
)
def mm_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import multimodal

    t = register_views(spark, sf_dir)
    assets = multimodal.documents_as_png_assets(t["documents"])
    # png_auto: native codec when Pillow is present (bit-identical
    # for these 8-bit gray rasters — PNG is lossless), from-spec
    # fallback otherwise; the pixel_hash oracle holds on either path
    # lazy checkpoint before orderBy (r18 opt): a range sort SAMPLES its
    # child to pick partition bounds, then shuffles it — without the
    # checkpoint the Arrow decode pipeline executes TWICE (profiled as two
    # ~12 s-exec stages per run on mm_audio_features); the sampling job
    # materializes the cached partitions and the sort reads them back
    return (
        multimodal.decode_features(assets, decoder="png_auto")
        .localCheckpoint(eager=False)
        .orderBy("asset_id")
    )


@_q(
    "mm_ahash_neardup",
    # the aHash is recomputable straight from the document bytes (the
    # asset encode is the deterministic inverse, as in mm_decode_png):
    # zero-padded raster -> 8x8 pixel-centre nearest-neighbour sample ->
    # integer mean threshold (64*p > sum, no division) -> four 16-bit
    # chunks; candidates = any-chunk-equal (the banding rule), verified
    # by exact bit_count(xor) Hamming distance.
    """
    WITH d AS (
      SELECT doc_id, coalesce(text, '') AS t,
             octet_length(encode(coalesce(text, ''))) AS n
      FROM documents
    ), g AS (
      SELECT doc_id, t, n,
             CAST(greatest(1, CAST(ceil(n / 32.0) AS INT)) AS INT) AS h
      FROM d
    ), raster AS (
      SELECT doc_id, h,
             [CAST(('0x' || substr(hex(encode(t)), 2*i+1, 2)) AS INT)
              for i in range(0, n)]
             || [0 for i in range(0, 32*h - n)] AS px
      FROM g
    ), samp AS (
      SELECT doc_id,
             [px[least(h-1, ((2*(i//8)+1)*h)//16)*32
                 + least(31, ((2*(i%8)+1)*32)//16) + 1]
              for i in range(0, 64)] AS p
      FROM raster
    ), hs AS (
      SELECT doc_id,
             CAST(list_sum([CASE WHEN 64*p[0*16+j+1] > list_sum(p)
                  THEN (32768 >> j) ELSE 0 END for j in range(0, 16)]) AS INT) AS c0,
             CAST(list_sum([CASE WHEN 64*p[1*16+j+1] > list_sum(p)
                  THEN (32768 >> j) ELSE 0 END for j in range(0, 16)]) AS INT) AS c1,
             CAST(list_sum([CASE WHEN 64*p[2*16+j+1] > list_sum(p)
                  THEN (32768 >> j) ELSE 0 END for j in range(0, 16)]) AS INT) AS c2,
             CAST(list_sum([CASE WHEN 64*p[3*16+j+1] > list_sum(p)
                  THEN (32768 >> j) ELSE 0 END for j in range(0, 16)]) AS INT) AS c3
      FROM samp
    )
    SELECT id_a, id_b, hamming FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
                + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3))
               AS INT) AS hamming
      FROM hs a JOIN hs b ON a.doc_id < b.doc_id
       AND (a.c0 = b.c0 OR a.c1 = b.c1 OR a.c2 = b.c2 OR a.c3 = b.c3)
    ) WHERE hamming <= 6
    """,
    "perceptual-hash image NEAR-dedup end to end: every document's "
    "bytes become a real gray PNG (from-spec encoder), decoded back "
    "inside Arrow-batched mapInPandas into a 64-bit average-hash (8x8 "
    "pixel-centre NN sample, integer 64*p>sum threshold — no float, no "
    "division), then the four 16-bit chunks serve as LSH bands: "
    "bucket-join, array-local pair emission, exact bit_count(xor) "
    "Hamming verify in codegen. Hamming <= 3 recall is total by "
    "pigeonhole; the oracle recomputes hash, banding rule, and "
    "distance straight from the source bytes — a hash match proves "
    "encode -> PNG -> decode -> fingerprint -> pair generation bit for "
    "bit. content_hash exact dedup misses re-encodes; this is the "
    "standard robust-fingerprint complement",
)
def mm_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import multimodal

    t = register_views(spark, sf_dir)
    assets = multimodal.documents_as_png_assets(t["documents"])
    hashes = multimodal.perceptual_ahash(assets)
    return multimodal.ahash_neardup_pairs(hashes, max_hamming=6)


@_q(
    "mm_resize_roundtrip",
    # expected resized pixels computed straight from the document bytes:
    # nearest-neighbour with pixel-centre mapping (sy = min(h-1,
    # (2y+1)h/32), sx = 2x+1 for 32->16) over the zero-padded raster —
    # per-byte hex extraction exactly like the mm_decode_png oracle.
    # DuckDB's md5 is VARCHAR-only and resized byte subsets need not be
    # valid UTF-8, so this pairing checks geometry + exact pixel
    # sum/min/max instead of the hash (the hash path is pinned by
    # tests/test_multimodal.py's resize goldens).
    """
    WITH d AS (
      SELECT doc_id, coalesce(text, '') AS t,
             octet_length(encode(coalesce(text, ''))) AS n
      FROM documents
    ), g AS (
      SELECT doc_id, t, n,
             CAST(greatest(1, CAST(ceil(n / 32.0) AS INT)) AS INT) AS h
      FROM d
    ), px AS (
      SELECT doc_id,
             flatten(list_transform(range(0, 16), y ->
               list_transform(range(0, 16), x ->
                 CASE WHEN (least(h - 1, ((2*y + 1) * h) // 32) * 32
                            + (2*x + 1)) < n
                      THEN CAST(('0x' || substr(hex(encode(t)),
                        CAST(2 * (least(h - 1, ((2*y + 1) * h) // 32) * 32
                             + (2*x + 1)) + 1 AS INT), 2)) AS INT)
                      ELSE 0 END))) AS b
      FROM g
    )
    SELECT doc_id AS asset_id,
           CAST(16 AS INT) AS width,
           CAST(16 AS INT) AS height,
           CAST(1 AS INT) AS channels,
           CAST(256 AS BIGINT) AS pixel_bytes,
           CAST(list_sum(b) AS BIGINT) AS pixel_sum,
           CAST(list_min(b) AS INT) AS pixel_min,
           CAST(list_max(b) AS INT) AS pixel_max
    FROM px
    ORDER BY asset_id
    """,
    "REAL image-resize pipeline end to end: document bytes -> gray PNG "
    "(from-spec encoder) -> nearest-neighbour resize to 16x16 -> PNG "
    "re-encode -> decode back to pixel statistics, all inside "
    "Arrow-batched mapInPandas (bytes never touch the driver); the "
    "oracle recomputes the expected resized pixels from the document "
    "bytes alone via the exact pixel-centre index mapping, so a match "
    "proves encode->resize->re-encode->decode byte for byte on the "
    "selected samples",
)
def mm_resize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import multimodal

    t = register_views(spark, sf_dir)
    assets = multimodal.documents_as_png_assets(t["documents"])
    resized = multimodal.resize_images(assets, 16, 16)
    return (
        multimodal.decode_features(resized, decoder="png")
        .select(
            "asset_id",
            "width",
            "height",
            "channels",
            F.col("pixel_bytes").cast("bigint").alias("pixel_bytes"),
            F.col("pixel_sum").cast("bigint").alias("pixel_sum"),
            "pixel_min",
            "pixel_max",
        )
        # lazy checkpoint before orderBy: see mm_decode_png (the range
        # sort otherwise samples + re-executes the decode pipeline)
        .localCheckpoint(eager=False)
        .orderBy("asset_id")
    )


@_q(
    "mm_audio_features",
    # samples recomputed straight from the document bytes: little-endian
    # signed 16-bit pairs via per-byte hex extraction; every output is
    # an exact integer, so both engines agree bit for bit
    """
    WITH d AS (
      SELECT doc_id, hex(encode(coalesce(text, ''))) AS hx,
             octet_length(encode(coalesce(text, ''))) // 2 AS n
      FROM documents
    ), s AS (
      SELECT doc_id, n,
             list_transform(range(0, n), i ->
               CASE WHEN (CAST(('0x' || substr(hx, CAST(4*i + 1 AS INT), 2)) AS INT)
                          + 256 * CAST(('0x' || substr(hx, CAST(4*i + 3 AS INT), 2)) AS INT)) >= 32768
                    THEN (CAST(('0x' || substr(hx, CAST(4*i + 1 AS INT), 2)) AS INT)
                          + 256 * CAST(('0x' || substr(hx, CAST(4*i + 3 AS INT), 2)) AS INT)) - 65536
                    ELSE (CAST(('0x' || substr(hx, CAST(4*i + 1 AS INT), 2)) AS INT)
                          + 256 * CAST(('0x' || substr(hx, CAST(4*i + 3 AS INT), 2)) AS INT))
               END) AS smp
      FROM d
    )
    SELECT doc_id AS asset_id,
           CAST(n AS BIGINT) AS n_samples,
           CAST(n * 1000 // 16000 AS BIGINT) AS duration_ms,
           CAST(coalesce(list_sum(list_transform(smp, v -> v * v)), 0)
             AS BIGINT) AS sum_sq,
           CAST(coalesce(list_max(list_transform(smp, v -> abs(v))), 0)
             AS INT) AS peak,
           CAST(coalesce(list_sum(list_transform(range(1, n), i ->
             CASE WHEN smp[CAST(i AS INT)] * smp[CAST(i + 1 AS INT)] < 0
                  THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zero_crossings
    FROM s
    ORDER BY asset_id
    """,
    "audio-modality plumbing with REAL signal math: document bytes "
    "become s16le PCM payloads, and Arrow-batched mapInPandas extracts "
    "numpy-vectorized per-asset features — sample count, duration, "
    "EXACT integer energy (sum of squared samples; rms = "
    "sqrt(sum_sq/n) left to consumers so no float crosses the engine "
    "boundary), peak amplitude, strict-sign zero crossings. Pure map, "
    "payloads never visit the driver; the oracle recomputes every "
    "feature from the document bytes bit for bit",
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import multimodal

    t = register_views(spark, sf_dir)
    assets = multimodal.documents_as_pcm_assets(t["documents"])
    # lazy checkpoint before orderBy (r18 opt): a range sort SAMPLES its
    # child to pick partition bounds, then shuffles it — without the
    # checkpoint the Arrow decode pipeline executes TWICE (profiled as two
    # ~12 s-exec stages per run on mm_audio_features); the sampling job
    # materializes the cached partitions and the sort reads them back
    return (
        multimodal.audio_features(assets, sample_rate=16000)
        .localCheckpoint(eager=False)
        .orderBy("asset_id")
    )


@_q(
    "mm_audio_resample",
    # decimate-by-2 with a boxcar block mean — (sum + 1) // 2 FLOOR
    # division (numpy semantics; the oracle's CASE emulates floor since
    # DuckDB // truncates) — then the exact integer features at the
    # halved rate
    """
    WITH d AS (
      SELECT doc_id, hex(encode(coalesce(text, ''))) AS hx,
             octet_length(encode(coalesce(text, ''))) // 2 AS n
      FROM documents
    ), s AS (
      SELECT doc_id, n,
             list_transform(range(0, n), i ->
               CASE WHEN (CAST(('0x' || substr(hx, CAST(4*i + 1 AS INT), 2)) AS INT)
                          + 256 * CAST(('0x' || substr(hx, CAST(4*i + 3 AS INT), 2)) AS INT)) >= 32768
                    THEN (CAST(('0x' || substr(hx, CAST(4*i + 1 AS INT), 2)) AS INT)
                          + 256 * CAST(('0x' || substr(hx, CAST(4*i + 3 AS INT), 2)) AS INT)) - 65536
                    ELSE (CAST(('0x' || substr(hx, CAST(4*i + 1 AS INT), 2)) AS INT)
                          + 256 * CAST(('0x' || substr(hx, CAST(4*i + 3 AS INT), 2)) AS INT))
               END) AS smp
      FROM d
    ), r AS (
      -- FLOOR division like numpy: DuckDB's // truncates toward zero,
      -- which differs on negative odd block sums (only reachable when
      -- payload bytes >= 0x80 make samples negative — invisible on
      -- pure-ASCII corpora, found by the unicode parity sweep)
      SELECT doc_id, n // 2 AS m,
             list_transform(range(0, n // 2), j ->
               CASE WHEN (smp[CAST(2*j + 1 AS INT)]
                          + smp[CAST(2*j + 2 AS INT)] + 1) >= 0
                    THEN (smp[CAST(2*j + 1 AS INT)]
                          + smp[CAST(2*j + 2 AS INT)] + 1) // 2
                    ELSE (smp[CAST(2*j + 1 AS INT)]
                          + smp[CAST(2*j + 2 AS INT)]) // 2
               END
             ) AS rs
      FROM s
    )
    SELECT doc_id AS asset_id,
           CAST(m AS BIGINT) AS n_samples,
           CAST(m * 1000 // 8000 AS BIGINT) AS duration_ms,
           CAST(coalesce(list_sum(list_transform(rs, v -> v * v)), 0)
             AS BIGINT) AS sum_sq,
           CAST(coalesce(list_max(list_transform(rs, v -> abs(v))), 0)
             AS INT) AS peak,
           CAST(coalesce(list_sum(list_transform(range(1, m), i ->
             CASE WHEN rs[CAST(i AS INT)] * rs[CAST(i + 1 AS INT)] < 0
                  THEN 1 ELSE 0 END)), 0) AS BIGINT) AS zero_crossings
    FROM r
    ORDER BY asset_id
    """,
    "integer-exact PCM downsampling: decimate the s16le signal by 2 "
    "with a boxcar block mean — (sum + 1) // 2 floor division, "
    "identical negative-number semantics in numpy and DuckDB, partial "
    "tail blocks dropped so frames stay whole — then the same exact "
    "integer features at the halved rate. Pure Arrow-batched map, no "
    "shuffle; the oracle replays decimation AND features from the "
    "source bytes bit for bit",
)
def mm_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import multimodal

    t = register_views(spark, sf_dir)
    assets = multimodal.documents_as_pcm_assets(t["documents"])
    # lazy checkpoint before orderBy: see mm_audio_features
    return (
        multimodal.audio_resample_features(
            assets, factor=2, sample_rate=16000
        )
        .localCheckpoint(eager=False)
        .orderBy("asset_id")
    )


@_q(
    "mm_jpeg_meta",
    # decoded JPEG pixels are lossy and engine-specific, but the HEADER
    # is exact: the asset encode fixes width=32, gray, 8-bit baseline,
    # so every metadata field is a pure function of the text length —
    # which DuckDB recomputes without touching a single JPEG byte.
    """
    SELECT doc_id AS asset_id,
           CAST(32 AS INT) AS width,
           CAST(greatest(1, CAST(ceil(
             least(octet_length(encode(coalesce(text, ''))), 32*65535)
             / 32.0) AS INT)) AS INT)
             AS height,
           CAST(1 AS INT) AS components,
           CAST(8 AS INT) AS "precision",
           FALSE AS progressive
    FROM documents
    ORDER BY asset_id
    """,
    "REAL JPEG path end to end: every document's bytes become a gray "
    "baseline JFIF image via the in-repo from-spec encoder "
    "(functions/jpeg.py — T.81 Huffman + DCT, Annex K tables), then the "
    "marker-level metadata parser reads back dimensions/components/"
    "precision inside Arrow-batched mapInPandas; the oracle recomputes "
    "the expected header fields from the text length alone. Decoded "
    "pixel fidelity is pinned separately by goldens in tests/test_jpeg.py "
    "(lossy output is codec-build-specific, headers are exact)",
)
def mm_jpeg_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import multimodal

    t = register_views(spark, sf_dir)
    assets = multimodal.documents_as_jpeg_assets(t["documents"])
    # lazy checkpoint before orderBy: see mm_audio_features
    return (
        multimodal.jpeg_meta(assets)
        .localCheckpoint(eager=False)
        .orderBy("asset_id")
    )


@_q(
    "mm_decode_jpeg",
    # full entropy decode of PROGRESSIVE (SOF2) streams: the geometry
    # fields of the decoded raster are exact functions of the text
    # length (gray, width=32, 8-bit), which DuckDB recomputes without
    # touching a JPEG byte; pixel values are lossy/codec-specific and
    # pinned separately by goldens in tests/test_jpeg.py
    """
    SELECT doc_id AS asset_id,
           CAST(32 AS INT) AS width,
           CAST(greatest(1, CAST(ceil(
             least(octet_length(encode(coalesce(text, ''))), 32*65535)
             / 32.0) AS INT)) AS INT)
             AS height,
           CAST(1 AS INT) AS channels,
           CAST(8 AS INT) AS bit_depth,
           CAST(32 * greatest(1, CAST(ceil(
             least(octet_length(encode(coalesce(text, ''))), 32*65535)
             / 32.0) AS INT)) AS BIGINT)
             AS pixel_bytes
    FROM documents
    ORDER BY asset_id
    """,
    "Progressive JPEG decode end to end: every document becomes a REAL "
    "SOF2 stream (spectral selection + successive approximation, "
    "T.81 Annex G — the encoding real Commons thumbnails use), then the "
    "from-spec decoder runs the full multi-scan entropy decode + "
    "vectorized IDCT inside Arrow-batched mapInPandas; the oracle "
    "recomputes the exact raster geometry from the text length alone",
)
def mm_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import multimodal

    t = register_views(spark, sf_dir)
    assets = multimodal.documents_as_jpeg_assets(t["documents"], progressive=True)
    return (
        # jpeg_auto: native codec when present; this entry checks only
        # geometry fields, which agree on any T.81 decoder
        multimodal.decode_features(assets, decoder="jpeg_auto")
        .select(
            "asset_id",
            "width",
            "height",
            "channels",
            "bit_depth",
            F.col("pixel_bytes").cast("bigint").alias("pixel_bytes"),
        )
        # lazy checkpoint before orderBy: see mm_audio_features
        .localCheckpoint(eager=False)
        .orderBy("asset_id")
    )


# 2-D box over the z-ordered events copy: identical SQL text runs on
# both engines (value is a plain double, ts reduced to epoch micros at
# write time so the pushed filter is a plain long comparison). Bounds =
# a value decile x 2 days of the 30-day range (~0.5% selectivity).
ZORDER_BOX = {
    "value": (100.0, 150.0),
    "ts_us": (1704844800000000, 1705017600000000),  # 2024-01-10..12 UTC
}
ZORDER_PRED = (
    f"value >= {ZORDER_BOX['value'][0]!r} AND value <= {ZORDER_BOX['value'][1]!r} "
    f"AND ts_us >= {ZORDER_BOX['ts_us'][0]} AND ts_us < {ZORDER_BOX['ts_us'][1]}"
)


def zordered_events_copy(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per session+sf) a z-order-clustered copy of events on
    (value, ts_us) and return its path. Shared by the catalog query, the
    bench layout-delta entries, and the plan-evidence generator."""
    import os
    import tempfile

    t = register_views(spark, sf_dir)
    out = os.path.join(
        tempfile.gettempdir(),
        f"zorder_events_{spark.sparkContext.applicationId}_"
        f"{os.path.basename(sf_dir.rstrip('/'))}",
    )
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        from wikidata_to_surrealdb_spark.sources.layout import cluster_by_zorder

        src = t["events"].select(
            "event_id",
            F.col("value").cast("double").alias("value"),
            F.unix_micros("ts").alias("ts_us"),
        )
        cluster_by_zorder(src, out, ["value", "ts_us"], num_files=8)
    return out


@_q(
    "layout_zorder_scan",
    """
    SELECT event_id, value, epoch_us(ts) AS ts_us
    FROM events
    WHERE value >= 100.0 AND value <= 150.0
      AND epoch_us(ts) >= 1704844800000000 AND epoch_us(ts) < 1705017600000000
    ORDER BY event_id
    """,
    "physical-layout operator end to end: events re-written z-order-"
    "clustered on (value, ts_us) — Morton-interleaved quantile ranks, "
    "range-partitioned + sorted so every file/row-group covers a small "
    "hyper-rectangle of the 2-D key space — then scanned with a 2-D box "
    "predicate. The oracle runs the same box over the ORIGINAL table, "
    "proving the re-layout is lossless; the row-group pruning the layout "
    "buys is quantified in PLANS.md and the layout_scan_* bench delta",
)
def layout_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = zordered_events_copy(spark, sf_dir)
    return (
        spark.read.parquet(out)
        .where(ZORDER_PRED)
        .select("event_id", "value", "ts_us")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Entity resolution (operators/er.py)
# ---------------------------------------------------------------------------

_ER_SIDE = """
    SELECT c_custkey AS id, c_nationkey AS nk,
           regexp_replace(lower(c_name), '[^a-z0-9]', '', 'g') AS key
    FROM customer
"""

_ER_PAIRS = f"""
    WITH side AS ({_ER_SIDE})
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(levenshtein(a.key, b.key) AS INTEGER) AS dist
    FROM side a JOIN side b ON a.nk = b.nk AND a.id < b.id
    WHERE levenshtein(a.key, b.key) <= 2
"""


@_q(
    "er_fuzzy_match",
    _ER_PAIRS,
    "entity resolution step 1: blocked fuzzy candidate pairs — "
    "canonicalize (lower + strip non-alnum, pure JVM projection), block "
    "on nation key, self-join within blocks (the only shuffle), "
    "levenshtein <= 2 predicate inside the join stage. The O(n^2) "
    "explosion is confined to blocks; at 100 TB blocking keys are chosen "
    "so the largest block stays ~1e4 rows, and blocked_fuzzy_pairs' "
    "max_block guard drops pathological blocks instead of OOMing",
)
def er_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import er

    t = register_views(spark, sf_dir)
    return er.blocked_fuzzy_pairs(
        t["customer"], "c_custkey", "c_name", ["c_nationkey"], max_dist=2,
        broadcast_build=True,
    ).select("id_a", "id_b", F.col("dist").cast("int").alias("dist"))


@_q(
    "er_resolve",
    f"""
    WITH RECURSIVE pairs AS ({_ER_PAIRS}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), reach(src, dst) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges)
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
    ), comp AS (
      SELECT src, min(dst) AS component FROM reach GROUP BY src
    )
    SELECT c.c_custkey AS id,
           CAST(coalesce(comp.component, c.c_custkey) AS BIGINT) AS entity_id
    FROM customer c LEFT JOIN comp ON comp.src = c.c_custkey
    """,
    "entity resolution end to end: fuzzy pairs -> alternating large-star/"
    "small-star connected components -> every record labeled with its "
    "entity's canonical (minimum) id; singletons keep their own id via a "
    "left join + coalesce. Chains A~B~C collapse even when A and C are "
    "not directly within the edit threshold — the property a plain "
    "pairwise join cannot give",
)
def er_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import er

    t = register_views(spark, sf_dir)
    return er.resolve_entities(
        t["customer"], "c_custkey", "c_name", ["c_nationkey"], max_dist=2,
        broadcast_build=True,
    )


@_q(
    "er_resolve_prefix",
    f"""
    WITH RECURSIVE side AS ({_ER_SIDE}),
    s2 AS (
      SELECT id, nk, key,
             substring(key, 1, 15) AS pre,
             substring(key, greatest(length(key) - 1, 1), 2) AS suf
      FROM side
    ), pairs AS (
      SELECT DISTINCT id_a, id_b FROM (
        SELECT a.id AS id_a, b.id AS id_b
        FROM s2 a JOIN s2 b
          ON a.nk = b.nk AND a.pre = b.pre AND a.id < b.id
        WHERE levenshtein(a.key, b.key) <= 2
        UNION ALL
        SELECT a.id, b.id
        FROM s2 a JOIN s2 b
          ON a.nk = b.nk AND a.suf = b.suf AND a.id < b.id
        WHERE levenshtein(a.key, b.key) <= 2
      )
    ), edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), reach(src, dst) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges)
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
    ), comp AS (
      SELECT src, min(dst) AS component FROM reach GROUP BY src
    )
    SELECT c.c_custkey AS id,
           CAST(coalesce(comp.component, c.c_custkey) AS BIGINT) AS entity_id
    FROM customer c LEFT JOIN comp ON comp.src = c.c_custkey
    """,
    "entity resolution with ENGINEERED high-cardinality blocking — the "
    "module doc's 100 TB recipe demonstrated (er.py:20-27): instead of "
    "one 25-value attribute block (quadratic within block), two cheap "
    "complementary passes — (nation, 15-char canonical-key prefix) and "
    "(nation, 2-char key suffix) — unioned and pair-deduped "
    "(Hernandez-Stolfo multi-pass blocking). The regions are DISJOINT "
    "and COVER the fixed-length 17-char key, so a single substitution "
    "perturbs exactly one pass's key and the pair is always caught by "
    "the other — total single-substitution recall; traded away: dist-2 "
    "pairs with one edit in each region. Block sizes are bounded by "
    "key cardinality, so the default shuffle join (parallelism = "
    "distinct keys) replaces the broadcast the low-cardinality variant "
    "needs",
)
def er_resolve_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import er

    t = register_views(spark, sf_dir)
    cust = t["customer"].withColumn(
        "_k", er.canonical(F.col("c_name"))
    ).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.expr("substring(_k, 1, 15)").alias("_pre"),
        F.expr("substring(_k, greatest(length(_k) - 1, 1), 2)").alias("_suf"),
    )
    return er.resolve_entities_multipass(
        cust,
        "c_custkey",
        "c_name",
        [["c_nationkey", "_pre"], ["c_nationkey", "_suf"]],
        max_dist=2,
    )


# ---------------------------------------------------------------------------
# Character n-gram LM scoring (operators/text.py:train_char_lm / lm_score)
# ---------------------------------------------------------------------------

def _lm_oracle() -> str:
    from wikidata_to_surrealdb_spark.functions import plog10_sql

    logp = plog10_sql("(c.c + 1.0) / (ctxt.total + 1.0 * v.v)")
    return f"""
    WITH g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, length(lower(text))),
                                   i -> substring(lower(text), i, 2))) AS gram
      FROM documents
    ),
    c AS (SELECT gram, CAST(count(*) AS DOUBLE) AS c FROM g GROUP BY gram),
    ctxt AS (SELECT substring(gram, 1, 1) AS p, sum(c) AS total
             FROM c GROUP BY p),
    v AS (SELECT CAST(count(DISTINCT substring(gram, 2, 1)) AS DOUBLE) AS v
          FROM c),
    model AS (
      SELECT c.gram,
             CAST(floor(({logp}) * 1000000000000.0 + 0.5) AS BIGINT) AS logp_e12
      FROM c JOIN ctxt ON substring(c.gram, 1, 1) = ctxt.p CROSS JOIN v
    ),
    scored AS (
      SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             sum(m.logp_e12) AS total
      FROM g JOIN model m ON g.gram = m.gram GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           coalesce(s.n_grams, 0) AS n_grams,
           CAST(s.total AS DOUBLE) / 1000000000000.0
             / CAST(s.n_grams AS DOUBLE) AS avg_logp10
    FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
    """


def _importance_oracle(target_where: str) -> str:
    from wikidata_to_surrealdb_spark.functions import plog10_sql

    def lm_ctes(tag: str, where: str) -> str:
        logp = plog10_sql(
            f"({tag}c.c + 1.0) / ({tag}ctx.total + 1.0 * {tag}v.v)"
        )
        unseen = plog10_sql(f"1.0 / ({tag}ctx.total + 1.0 * {tag}v.v)")
        # greatest(v, 1): empty-class LM guard, mirrors char_lm_train
        dflt = plog10_sql(f"1.0 / greatest({tag}v.v, 1.0)")
        return f"""
    {tag}g AS (
      SELECT unnest(list_transform(range(1, length(lower(text))),
                                   i -> substring(lower(text), i, 2))) AS gram
      FROM documents {where}
    ),
    {tag}c AS (SELECT gram, CAST(count(*) AS DOUBLE) AS c FROM {tag}g GROUP BY gram),
    {tag}ctx AS (SELECT substring(gram, 1, 1) AS p, sum(c) AS total
                 FROM {tag}c GROUP BY p),
    {tag}v AS (SELECT CAST(count(DISTINCT substring(gram, 2, 1)) AS DOUBLE) AS v
               FROM {tag}c),
    {tag}model AS (
      SELECT {tag}c.gram,
             CAST(floor(({logp}) * 1000000000000.0 + 0.5) AS BIGINT) AS lp
      FROM {tag}c JOIN {tag}ctx ON substring({tag}c.gram, 1, 1) = {tag}ctx.p
      CROSS JOIN {tag}v
    ),
    {tag}u AS (
      SELECT {tag}ctx.p,
             CAST(floor(({unseen}) * 1000000000000.0 + 0.5) AS BIGINT) AS lp
      FROM {tag}ctx CROSS JOIN {tag}v
    ),
    {tag}d AS (
      SELECT CAST(floor(({dflt}) * 1000000000000.0 + 0.5) AS BIGINT) AS lp
      FROM {tag}v
    )"""

    return f"""
    WITH g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, length(lower(text))),
                                   i -> substring(lower(text), i, 2))) AS gram
      FROM documents
    ),{lm_ctes("t", target_where)},{lm_ctes("b", "")},
    scored AS (
      SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             sum(coalesce(tm.lp, tu.lp, td.lp)) AS st,
             sum(coalesce(bm.lp, bu.lp, bd.lp)) AS sb
      FROM g
      LEFT JOIN tmodel tm ON tm.gram = g.gram
      LEFT JOIN bmodel bm ON bm.gram = g.gram
      LEFT JOIN tu ON tu.p = substring(g.gram, 1, 1)
      LEFT JOIN bu ON bu.p = substring(g.gram, 1, 1)
      CROSS JOIN td CROSS JOIN bd
      GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           coalesce(s.n_grams, 0) AS n_grams,
           CAST(s.st - s.sb AS DOUBLE) / 1000000000000.0 AS log10_weight
    FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
    """


@_q(
    "curation_importance_weights",
    _importance_oracle("WHERE source = 'src0'"),
    "DSIR-style importance weights (Xie et al. 2023): log10 "
    "p_target(x) - log10 p_background(x) per document, both densities "
    "add-1-smoothed char-bigram LMs (target trained on the src0 slice, "
    "background on the full corpus) — the cheap density-ratio proxy "
    "that shifts a crawl toward a target domain when fed into "
    "weighted sampling. Per-gram log-probs are fixed-point BIGINT e12 "
    "values of the bit-portable plog10 with unseen-gram and "
    "unseen-prefix fallbacks, both sums exact integer math, one double "
    "division at the end — engines agree bit for bit. Plan: two "
    "vocabulary-sized trainings, one gram explode joined against four "
    "broadcast vocab relations, one doc-keyed aggregation",
)
def curation_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import curation

    t = register_views(spark, sf_dir)
    return curation.importance_weights(
        t["documents"], F.col("source") == "src0"
    )


def _nb_classifier_oracle(pos_in: str) -> str:
    from wikidata_to_surrealdb_spark.functions import plog10_sql

    def e12(expr: str) -> str:
        return (
            f"CAST(floor(({plog10_sql(expr)}) * 1000000000000.0 + 0.5)"
            " AS BIGINT)"
        )

    dlp = (
        e12("(c_pos + 1.0) / (t_pos + 1.0 * v)")
        + " - "
        + e12("(c_neg + 1.0) / (t_neg + 1.0 * v)")
    )
    # Laplace-smoothed priors, mirrors nb_quality_classifier (an empty
    # seed class must stay finite — monokey degenerate sweep, r16)
    dp = e12("(n_pos + 1.0) / (n + 2.0)") + " - " + e12("(n_neg + 1.0) / (n + 2.0)")
    return f"""
    WITH d AS (
      SELECT doc_id, coalesce(source IN {pos_in}, FALSE) AS pos,
             {_TOKS_SQL} AS t
      FROM documents
    ), occ AS (
      SELECT doc_id, pos, unnest(t) AS w FROM d
    ), cw AS (
      SELECT w,
             CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
             CAST(sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS c_neg
      FROM occ GROUP BY w
    ), st AS (
      SELECT CAST(sum(c_pos) AS DOUBLE) AS t_pos,
             CAST(sum(c_neg) AS DOUBLE) AS t_neg,
             CAST(count(*) AS DOUBLE) AS v
      FROM cw
    ), pr AS (
      SELECT CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE) AS n_pos,
             CAST(sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS DOUBLE) AS n_neg,
             CAST(count(*) AS DOUBLE) AS n
      FROM d
    ), model AS (
      SELECT w, {dlp} AS dlp FROM cw CROSS JOIN st
    ), sc AS (
      SELECT occ.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(dlp) AS BIGINT) AS s
      FROM occ JOIN model USING (w) GROUP BY occ.doc_id
    ), ps AS (
      SELECT {dp} AS dp FROM pr
    )
    SELECT d.doc_id,
           coalesce(sc.n_tokens, 0) AS n_tokens,
           ps.dp + coalesce(sc.s, 0) AS logodds_e12,
           CASE WHEN ps.dp + coalesce(sc.s, 0) >= 0
                THEN 'hi' ELSE 'lo' END AS pred
    FROM d LEFT JOIN sc ON sc.doc_id = d.doc_id CROSS JOIN ps
    """


_NB_POS_SOURCES = ("src0", "src1", "src2", "src3", "src4")


@_q(
    "curation_c4_span_dedup",
    """
    WITH d AS (
      SELECT doc_id,
             list_filter(list_transform(
               regexp_split_to_array(coalesce(text, ''), '[.!?]+'),
               s -> trim(s)), s -> length(s) > 0) AS t
      FROM documents
    ), w AS (
      SELECT doc_id, CAST(u.i AS INT) AS start,
             md5(array_to_string(t[u.i + 1 : u.i + 3], '|')) AS fp
      FROM d, LATERAL unnest(range(0, greatest(len(t) - 2, 0))) AS u(i)
    ), r AS (
      SELECT doc_id, start,
             count(*) OVER (PARTITION BY fp) AS c,
             row_number() OVER (PARTITION BY fp ORDER BY doc_id, start) AS rk
      FROM w
    ), rm AS (
      SELECT doc_id, list_sort(list(start)) AS spans
      FROM r WHERE c > 1 AND rk > 1 GROUP BY doc_id
    ), f AS (
      SELECT d.doc_id, d.t, coalesce(rm.spans, []) AS spans
      FROM d LEFT JOIN rm ON rm.doc_id = d.doc_id
    ), k AS (
      SELECT doc_id, t,
             list_filter(range(0, len(t)),
               j -> len(list_filter(spans, s -> j >= s AND j < s + 3)) = 0
             ) AS keep
      FROM f
    )
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_sentences,
           CAST(len(t) - len(keep) AS BIGINT) AS n_removed,
           md5(coalesce(array_to_string(
             list_transform(keep, j -> t[CAST(j + 1 AS INT)]), '|'
           ), '')) AS cleaned_hash
    FROM k
    """,
    "C4's published cleaning rule executed corpus-wide (Raffel et al. "
    "2020: discard all but one of any three-sentence span occurring "
    "more than once): sentence split on [.!?]+ runs, rolling 3-sentence "
    "md5 fingerprints via the zip_with chain, globally-first occurrence "
    "survives ((doc, position) total order), later occurrences' "
    "sentences stripped array-locally. One fingerprint-keyed exchange — "
    "the sentence-level sibling of dedup_substring_spans (Lee et al. "
    "2022), sharing its span-removal core",
)
def curation_c4_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import curation

    t = register_views(spark, sf_dir)
    return curation.c4_sentence_span_dedup(t["documents"], window=3)


@_q(
    "curation_observed_profile",
    """
    SELECT metric, value FROM (
      SELECT 'n_rows' AS metric, CAST(count(*) AS BIGINT) AS value
      FROM documents
      UNION ALL
      SELECT 'null_text',
             CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM documents
      UNION ALL
      SELECT 'empty_text',
             CAST(sum(CASE WHEN length(coalesce(text, '')) = 0
                      THEN 1 ELSE 0 END) AS BIGINT)
      FROM documents
      UNION ALL
      SELECT 'total_chars',
             CAST(sum(length(coalesce(text, ''))) AS BIGINT)
      FROM documents
      UNION ALL
      SELECT 'max_doc_id', CAST(max(doc_id) AS BIGINT) FROM documents
    )
    """,
    "data-quality telemetry via DataFrame.observe (CollectMetrics): "
    "row/null/empty counts, total characters, and max id "
    "ride the SAME pass as the job's own consumer action instead of a "
    "second corpus scan — at 100 TB a dedicated metrics pass is a full "
    "extra read, an observation is free. The oracle recomputes the "
    "aggregates; the piggyback mechanism is pinned by a unit test on "
    "the CollectMetrics plan node",
)
def curation_observed_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import curation

    t = register_views(spark, sf_dir)
    return curation.observed_profile(t["documents"])


@_q(
    "curation_nb_classifier",
    _nb_classifier_oracle(str(_NB_POS_SOURCES)),
    "supervised quality-gate classifier — the GPT-3/CCNet stage that "
    "scores every crawl document with a cheap linear model trained on "
    "a curated-vs-crawl seed: multinomial Naive Bayes with add-one "
    "smoothing over word unigrams, trainable in closed form (ONE "
    "map-side-combined per-word class-count groupBy + a 1-row stats "
    "relation, no optimizer loop). Scoring joins the token stream "
    "against the vocabulary-sized broadcast model and sums exact "
    "BIGINT e12 plog10 log-prob differences per doc; the hi/lo call "
    "is a sign test, so no float enters a comparison and the oracle "
    "replays training and scoring bit for bit; token-less docs fall "
    "back to the prior",
)
def curation_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import curation

    t = register_views(spark, sf_dir)
    return curation.nb_quality_classifier(
        t["documents"], F.col("source").isin(*_NB_POS_SOURCES)
    )


@_q(
    "curation_quality_topk",
    f"""
    WITH nb AS ({_nb_classifier_oracle(str(_NB_POS_SOURCES))})
    SELECT lang, doc_id, logodds_e12, rank FROM (
      SELECT d.lang, nb.doc_id, nb.logodds_e12,
             CAST(row_number() OVER (
               PARTITION BY d.lang
               ORDER BY nb.logodds_e12 DESC, nb.doc_id) AS INT) AS rank
      FROM nb JOIN documents d ON d.doc_id = nb.doc_id
    ) WHERE rank <= 5
    """,
    "classifier-to-selection composition — the step after the quality "
    "gate in every published pipeline: rank documents per language by "
    "the NB log-odds (exact BIGINT, ties broken on doc_id — a total "
    "order, so the selection is deterministic and replayable) and keep "
    "the top 5 per language. One window over the lang partition; the "
    "classifier subplan is shared verbatim with curation_nb_classifier",
)
def curation_quality_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from wikidata_to_surrealdb_spark.operators import curation

    t = register_views(spark, sf_dir)
    nb = curation.nb_quality_classifier(
        t["documents"], F.col("source").isin(*_NB_POS_SOURCES)
    )
    joined = nb.join(t["documents"].select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.col("logodds_e12").desc(), F.col("doc_id")
    )
    return (
        joined.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 5)
        .select("lang", "doc_id", "logodds_e12", "rank")
    )


@_q(
    "dedup_quality_survivor",
    f"""
    WITH RECURSIVE pairs AS ({_MINHASH_ORACLE}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ), reach(src, dst) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges)
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
    ), comp AS (
      SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS cluster_id
      FROM reach GROUP BY src
    ), nb AS ({{NB}}),
    j AS (
      SELECT comp.cluster_id, comp.doc_id, nb.logodds_e12,
             row_number() OVER (PARTITION BY comp.cluster_id
               ORDER BY nb.logodds_e12 DESC, comp.doc_id) AS rn,
             count(*) OVER (PARTITION BY comp.cluster_id) AS n_members
      FROM comp JOIN nb ON nb.doc_id = comp.doc_id
    )
    SELECT cluster_id, doc_id AS keep_id,
           CAST(n_members AS BIGINT) AS n_members,
           logodds_e12 AS keep_logodds_e12
    FROM j WHERE rn = 1 AND n_members > 1
    """.replace("{NB}", _nb_classifier_oracle(str(_NB_POS_SOURCES))),
    "quality-aware dedup survivorship — WHICH copy to keep, not just "
    "that copies exist: MinHash near-dup clusters joined with the NB "
    "quality gate, and each multi-member cluster keeps its "
    "highest-log-odds member (ties on doc_id — a total order, so the "
    "decision is deterministic and replayable). The min-id rule "
    "dedup_clusters uses is the structural default; real pipelines "
    "keep the cleanest mirror, which is exactly this composition. One "
    "cluster-keyed window over the joined relation",
)
def dedup_quality_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from wikidata_to_surrealdb_spark.operators import curation, graph

    t = register_views(spark, sf_dir)
    # b2r4 in lockstep with _MINHASH_ORACLE (see dedup_clusters)
    pairs = dedup.minhash_dedup(
        t["documents"], num_hashes=8, bands=2, k=3, threshold=0.1
    )
    comp = graph.connected_components(pairs, src="id_a", dst="id_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    nb = curation.nb_quality_classifier(
        t["documents"], F.col("source").isin(*_NB_POS_SOURCES)
    ).select("doc_id", "logodds_e12")
    j = comp.join(nb, "doc_id")
    byc = Window.partitionBy("cluster_id")
    ranked = j.select(
        "cluster_id",
        "doc_id",
        "logodds_e12",
        F.row_number()
        .over(byc.orderBy(F.col("logodds_e12").desc(), F.col("doc_id")))
        .alias("rn"),
        F.count(F.lit(1)).over(byc).alias("n_members"),
    )
    return ranked.where((F.col("rn") == 1) & (F.col("n_members") > 1)).select(
        "cluster_id",
        F.col("doc_id").alias("keep_id"),
        F.col("n_members").cast("bigint").alias("n_members"),
        F.col("logodds_e12").alias("keep_logodds_e12"),
    )


def _bpe_ctes(merges: int) -> str:
    """The shared training CTE chain (w0, sym_i, p_i, m_i, w_i)."""
    parts = [
        f"""
    WITH toks AS (
      SELECT unnest({_TOKS_SQL}) AS w FROM documents
    ),
    w0 AS (
      SELECT '|' || array_to_string(list_append(str_split(w, ''), '_'), '||')
               || '|' AS s,
             CAST(count(*) AS BIGINT) AS freq
      FROM toks GROUP BY w
    )"""
    ]
    for i in range(1, merges + 1):
        prev = f"w{i - 1}"
        parts.append(
            f""",
    sym{i} AS (
      SELECT str_split(substring(s, 2, length(s) - 2), '||') AS sym, freq
      FROM {prev}
    ),
    p{i} AS (
      SELECT sym[CAST(u.j AS INT)] AS a, sym[CAST(u.j + 1 AS INT)] AS b,
             CAST(sum(freq) AS BIGINT) AS cnt
      FROM sym{i}, LATERAL unnest(range(1, len(sym))) AS u(j)
      GROUP BY 1, 2
    ),
    m{i} AS (
      SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a, b LIMIT 1
    ),
    w{i} AS (
      SELECT replace(s, '|' || m.a || '||' || m.b || '|',
                        '|' || m.a || m.b || '|') AS s, freq
      FROM {prev} CROSS JOIN m{i} m
    )"""
        )
    return "".join(parts)


def _bpe_oracle(merges: int) -> str:
    selects = "\n      UNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS step, a AS pair_a, b AS pair_b, "
        f"a || b AS merged, cnt AS pair_count FROM m{i}"
        for i in range(1, merges + 1)
    )
    return _bpe_ctes(merges) + f"\n    {selects}\n    ORDER BY step\n"


def _bpe_encode_oracle(merges: int) -> str:
    expr = "s"
    for i in range(1, merges + 1):
        expr = (
            f"replace({expr}, '|' || q{i}.a || '||' || q{i}.b || '|',"
            f" '|' || q{i}.a || q{i}.b || '|')"
        )
    joins = " ".join(f"CROSS JOIN m{i} q{i}" for i in range(1, merges + 1))
    return (
        _bpe_ctes(merges)
        + f""",
    d AS (
      -- NULL text segments like empty text (0 words, 0 tokens): the
      -- Spark side coalesces before tokenizing, so the oracle must not
      -- let len(NULL) produce NULL counts
      SELECT doc_id, coalesce({{toks}}, CAST([] AS VARCHAR[])) AS w
      FROM documents
    ),
    s0 AS (
      SELECT doc_id, len(w) AS n_words,
             coalesce(array_to_string(list_transform(w, x ->
               '|' || array_to_string(list_append(str_split(x, ''), '_'),
                                      '||') || '|'), ' '), '') AS s
      FROM d
    ),
    sk AS (
      SELECT doc_id, n_words, {expr} AS s FROM s0 {joins}
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(CASE WHEN n_words = 0 THEN 0
                ELSE n_words + length(s) - length(replace(s, '||', '|'))
           END AS BIGINT) AS n_bpe_tokens,
           md5(s) AS stream_hash
    FROM sk
    """.replace("{toks}", _TOKS_SQL)
    )


_BPE_MERGES = 6


@_q(
    "text_bpe_train",
    _bpe_oracle(_BPE_MERGES),
    "in-engine BPE tokenizer training (Sennrich et al. 2016) — the "
    "vocabulary-learning stage of a data pipeline run distributed: per "
    "round, adjacent symbol pairs counted over the word vocabulary "
    "weighted by word frequency (ONE map-side-combined groupBy, "
    "vocabulary-sized), deterministic argmax (count DESC, a, b — a "
    "total order), merge applied everywhere. The merge is a PLAIN "
    "substring replace over sentinel-delimited symbol strings "
    "(|a||b| -> |ab|) — identical left-to-right semantics in the JVM "
    "and DuckDB, no regex (RE2 lacks lookarounds), so the oracle "
    "unrolls and replays all rounds bit for bit. The corpus is scanned "
    "once; rounds cost vocabulary, not corpus",
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return text.bpe_train(t["documents"], merges=_BPE_MERGES)


@_q(
    "text_bpe_encode",
    _bpe_encode_oracle(_BPE_MERGES),
    "the serving half of BPE: apply the 6 learned merge rules to every "
    "document — tokenize, render each word as the training-time "
    "sentinel-delimited symbol string, chain the plain substring "
    "replaces in merge order (pure JVM map, no shuffle, no Python) — "
    "and report per-doc segmentation: word count, post-merge BPE token "
    "count, and md5 of the full segmented stream. The oracle re-learns "
    "the merges with the training CTE chain and applies them "
    "identically, so a hash match proves train AND apply end to end",
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    learned = text.bpe_train(t["documents"], merges=_BPE_MERGES).collect()
    merges = [(r.pair_a, r.pair_b) for r in sorted(learned, key=lambda r: r.step)]
    return text.bpe_apply(t["documents"], merges)


def _bpe_fertility_oracle(merges: int) -> str:
    """Per-source fertility/compression off the same trained-and-applied
    segmentation as the encode oracle, aggregated by source."""
    expr = "s"
    for i in range(1, merges + 1):
        expr = (
            f"replace({expr}, '|' || q{i}.a || '||' || q{i}.b || '|',"
            f" '|' || q{i}.a || q{i}.b || '|')"
        )
    joins = " ".join(f"CROSS JOIN m{i} q{i}" for i in range(1, merges + 1))
    return (
        _bpe_ctes(merges)
        + f""",
    d AS (
      -- strlen = UTF-8 BYTE length in DuckDB (octet_length is
      -- BLOB-only in 1.0); matches Spark's octet_length on VARCHAR
      SELECT source, strlen(coalesce(text, '')) AS bytes,
             coalesce({{toks}}, CAST([] AS VARCHAR[])) AS w
      FROM documents
    ),
    s0 AS (
      SELECT source, bytes, len(w) AS n_words,
             coalesce(array_to_string(list_transform(w, x ->
               '|' || array_to_string(list_append(str_split(x, ''), '_'),
                                      '||') || '|'), ' '), '') AS s
      FROM d
    ),
    sk AS (
      SELECT source, bytes, n_words, {expr} AS s FROM s0 {joins}
    ),
    per AS (
      SELECT source, bytes, n_words,
             CASE WHEN n_words = 0 THEN 0
                  ELSE n_words + length(s) - length(replace(s, '||', '|'))
             END AS n_tok
      FROM sk
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(bytes) AS BIGINT) AS bytes,
           CAST(sum(n_words) AS BIGINT) AS words,
           CAST(sum(n_tok) AS BIGINT) AS bpe_tokens,
           {fround_sql("(sum(n_tok)::DOUBLE / NULLIF(sum(n_words), 0)::DOUBLE)", 4)} AS fertility,
           {fround_sql("(sum(bytes)::DOUBLE / NULLIF(sum(n_tok), 0)::DOUBLE)", 4)} AS bytes_per_token
    FROM per GROUP BY source
    """.replace("{toks}", _TOKS_SQL)
    )


@_q(
    "text_bpe_fertility",
    _bpe_fertility_oracle(_BPE_MERGES),
    "tokenizer QUALITY per corpus source — the standard post-training "
    "BPE evaluation: fertility (tokens/word, lower = better "
    "segmentation) and compression (UTF-8 bytes/token) for each source, "
    "with the exact BIGINT sums they derive from. Same single-map "
    "segmentation as text_bpe_encode with source + byte length carried "
    "through the map, then one tiny groupBy(source) — no id-keyed join "
    "(the testdata carries duplicated doc_ids, which a join would "
    "double-count)",
)
def text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    learned = text.bpe_train(t["documents"], merges=_BPE_MERGES).collect()
    merges = [(r.pair_a, r.pair_b) for r in sorted(learned, key=lambda r: r.step)]
    return text.bpe_fertility(t["documents"], merges)


def _bpe_batched_oracle(rounds: int, batch: int) -> str:
    """Unrolled replay of text.bpe_train_batched: per round, rank pair
    counts (cnt DESC, a, b), keep the 4*batch pool, accept candidates
    sharing no symbol with any higher-ranked pool candidate (bounded
    anti-join), merge the first `batch` accepted via a list_reduce fold
    of plain replaces ordered by selection rank."""
    pool = 4 * batch
    parts = [
        f"""
    WITH toks AS (
      SELECT unnest({_TOKS_SQL}) AS w FROM documents
    ),
    w0 AS MATERIALIZED (
      SELECT '|' || array_to_string(list_append(str_split(w, ''), '_'), '||')
               || '|' AS s,
             CAST(count(*) AS BIGINT) AS freq
      FROM toks GROUP BY w
    )"""
    ]
    for i in range(1, rounds + 1):
        prev = f"w{i - 1}"
        parts.append(
            f""",
    sym{i} AS MATERIALIZED (
      SELECT str_split(substring(s, 2, length(s) - 2), '||') AS sym, freq
      FROM {prev}
    ),
    p{i} AS MATERIALIZED (
      SELECT sym[CAST(u.j AS INT)] AS a, sym[CAST(u.j + 1 AS INT)] AS b,
             CAST(sum(freq) AS BIGINT) AS cnt
      FROM sym{i}, LATERAL unnest(range(1, len(sym))) AS u(j)
      GROUP BY 1, 2
    ),
    c{i} AS MATERIALIZED (
      SELECT a, b, cnt, rk FROM (
        SELECT a, b, cnt,
               row_number() OVER (ORDER BY cnt DESC, a, b) AS rk
        FROM p{i}
      ) WHERE rk <= {pool}
    ),
    s{i} AS MATERIALIZED (
      SELECT x.a, x.b, x.cnt, x.rk FROM c{i} x
      WHERE NOT EXISTS (
        SELECT 1 FROM c{i} y
        WHERE y.rk < x.rk AND (y.a IN (x.a, x.b) OR y.b IN (x.a, x.b))
      )
    ),
    k{i} AS MATERIALIZED (
      SELECT a, b, cnt, sel FROM (
        SELECT a, b, cnt, row_number() OVER (ORDER BY rk) AS sel
        FROM s{i}
      ) WHERE sel <= {batch}
    ),
    w{i} AS MATERIALIZED (
      SELECT list_reduce(
               list_prepend(s, coalesce(
                 (SELECT list(a || '#' || b ORDER BY sel) FROM k{i}),
                 CAST([] AS VARCHAR[]))),
               (acc, v) -> replace(acc,
                 '|' || split_part(v, '#', 1) || '||'
                     || split_part(v, '#', 2) || '|',
                 '|' || split_part(v, '#', 1)
                     || split_part(v, '#', 2) || '|')) AS s,
             freq
      FROM {prev}
    )"""
        )
    selects = "\n      UNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS round, sel, a AS pair_a, b AS pair_b, "
        f"a || b AS merged, cnt AS pair_count FROM k{i}"
        for i in range(1, rounds + 1)
    )
    return "".join(parts) + f"""
    SELECT CAST(row_number() OVER (ORDER BY round, sel) AS INT) AS step,
           round, pair_a, pair_b, merged, pair_count
    FROM (
      {selects}
    )
    """


_BPE_BATCH_ROUNDS = 16
_BPE_BATCH = 4


@_q(
    "text_bpe_train_batched",
    _bpe_batched_oracle(_BPE_BATCH_ROUNDS, _BPE_BATCH),
    "BPE training at realistic vocabulary scale: a production tokenizer "
    "needs ~30k merges and one Spark job per merge is 30k sequential "
    "jobs, so each round merges up to `batch` pairs over pairwise-"
    "DISJOINT symbols — merging |x||y| only touches adjacencies "
    "involving x or y, so disjoint merges see exactly the counts a "
    "sequential trainer would (the standard distributed-trainer "
    "approximation, cf. Song et al. 2021). Selection is deterministic "
    "and declarative — rank (count DESC, a, b), 4*batch pool, accept "
    "iff no symbol is shared with ANY higher-ranked pool candidate "
    "(one window + one bounded anti-join, no sequential greedy scan) — "
    "so the oracle unrolls all rounds and replays selection and the "
    "fold of plain replaces bit for bit. 16 rounds x batch 4 here "
    "stands in for ~120 rounds x 256 at web scale; rounds ~= "
    "merges/batch is the whole point",
)
def text_bpe_train_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return text.bpe_train_batched(
        t["documents"], rounds=_BPE_BATCH_ROUNDS, batch=_BPE_BATCH
    )


@_q(
    "text_lm_score",
    _lm_oracle(),
    "KenLM-style fluency scoring, Spark-first: train an add-1-smoothed "
    "char-bigram LM over the corpus (explode -> vocab-sized groupBy whose "
    "map-side combine bounds shuffle volume at |V|^2 per partition), then "
    "score every doc as its mean conditional log10-prob via two broadcast "
    "joins against the vocabulary-sized model. Cross-engine bit-exactness: "
    "log10 is the sqrt-chain portable plog10 (native log10 differs by "
    "1-3 ulp on ~7% of inputs between JVM and libm — measured), and "
    "per-gram values are fixed-point BIGINTs in 1e-12 units so every sum "
    "is exact integer math, immune to partition-order float drift",
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    lm = text.train_char_lm(t["documents"], "text", n=2, k=1.0)
    return text.lm_score(t["documents"], lm, "text", "doc_id")


# ---------------------------------------------------------------------------
# Deterministic weighted sampling (operators/curation.py:weighted_sample)
# ---------------------------------------------------------------------------

def _weighted_sample_oracle(k: int, seed: str) -> str:
    from wikidata_to_surrealdb_spark.functions import plog10_sql
    from wikidata_to_surrealdb_spark.operators.curation import _hex_u48_poly_sql

    u = _hex_u48_poly_sql("hx")
    return f"""
    WITH h AS (
      SELECT doc_id, n_chars,
             md5('{seed}:' || CAST(doc_id AS VARCHAR)) AS hx
      FROM documents WHERE n_chars > 0
    ),
    keyed AS (
      SELECT doc_id, n_chars,
             {plog10_sql(u)} / CAST(n_chars AS DOUBLE) AS aes_key
      FROM h
    )
    SELECT doc_id, n_chars
    FROM (SELECT * FROM keyed ORDER BY aes_key DESC, doc_id LIMIT {k}) t
    """


@_q(
    "curation_weighted_sample",
    _weighted_sample_oracle(100, "ws-v1"),
    "Efraimidis-Spirakis weighted sample without replacement, fully "
    "deterministic: u = md5-derived 48-bit uniform, rank by "
    "plog10(u)/weight (order-equivalent to u^(1/w), and bit-portable so "
    "the oracle picks the identical 100 docs), top-k via "
    "orderBy().limit() = TakeOrderedAndProject — parallel partial top-k "
    "per partition, no global sort exchange, no RNG state to break "
    "retries or re-partitioning at 100 TB",
)
def curation_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import curation

    t = register_views(spark, sf_dir)
    return curation.weighted_sample(
        t["documents"], "doc_id", "n_chars", k=100, seed="ws-v1"
    ).select("doc_id", "n_chars")


# ---------------------------------------------------------------------------
# Ordered funnel analysis (operators/temporal.py:funnel)
# ---------------------------------------------------------------------------

# shared by events_funnel and its streaming twin stream_funnel: the
# min-chaining join formulation, deliberately a DIFFERENT algorithm
# from both Spark implementations so the three cross-check each other
_FUNNEL_ORACLE = """
    WITH t1 AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    t2 AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e JOIN t1 ON t1.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > t1.t
        AND e.ts <= t1.t + INTERVAL 86400 SECONDS
      GROUP BY e.user_id
    ),
    t3 AS (
      SELECT e.user_id, min(e.ts) AS t
      FROM events e
      JOIN t2 ON t2.user_id = e.user_id
      JOIN t1 ON t1.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > t2.t
        AND e.ts <= t1.t + INTERVAL 86400 SECONDS
      GROUP BY e.user_id
    )
    SELECT 'view' AS step, CAST(1 AS INTEGER) AS step_idx,
           CAST(count(*) AS BIGINT) AS users FROM t1
    UNION ALL
    SELECT 'click', CAST(2 AS INTEGER), CAST(count(*) AS BIGINT) FROM t2
    UNION ALL
    SELECT 'purchase', CAST(3 AS INTEGER), CAST(count(*) AS BIGINT) FROM t3
    """


@_q(
    "events_funnel",
    _FUNNEL_ORACLE,
    "first-touch ordered funnel view -> click -> purchase with a 24h "
    "conversion horizon: ONE user-keyed shuffle + an array-local "
    "aggregate() fold threading reach times through each user's "
    "time-sorted events, vs the naive k-self-join formulation (k "
    "shuffles, k scans). The oracle deliberately USES the min-chaining "
    "join formulation, so the two independent algorithms cross-check "
    "each other",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import temporal

    t = register_views(spark, sf_dir)
    steps = ["view", "click", "purchase"]
    reached = temporal.funnel(
        t["events"],
        steps,
        "user_id",
        "ts",
        "event_type",
        within_seconds=86400,
    )
    counts = reached.groupBy("step", "step_idx").agg(
        F.count(F.lit(1)).alias("n")
    )
    # a funnel REPORT shows every step, reached or not: left-join the
    # step list so a step no user converts to emits users=0 instead of
    # vanishing (preepoch sweep r15: the oracle's UNION ALL always
    # emits 3 rows; the groupBy-only form dropped the empty step)
    all_steps = local_relation(
        spark,
        [(s, i + 1) for i, s in enumerate(steps)],
        "step string, step_idx int",
    )
    return all_steps.join(counts, ["step", "step_idx"], "left").select(
        "step",
        "step_idx",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("users"),
    )


@_q(
    "stream_funnel",
    _FUNNEL_ORACLE,
    "stateful STREAMING first-touch funnel (r15 — the state-store twin "
    "of events_funnel, completing the funnel family across both "
    "regimes like the trailing-window family): applyInPandasWithState "
    "keyed by user threads the reach-time PREFIX (at most len(steps) "
    "int64s per user, forever) across 3 time-ordered micro-batches; a "
    "step's first-touch reach is FINAL under time-ordered arrival, so "
    "append mode emits each reached step exactly once, in the batch "
    "that reaches it. Same-ts peers tie-break by (us, type) — byte-"
    "identical to the batch fold's struct sort. The report aggregates "
    "the emitted rows with the same zero-filled step list, so the "
    "min-chaining join oracle applies verbatim — three independent "
    "algorithms (array fold, stateful stream, k-way join) must agree",
)
def stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.streaming.events import (
        funnel_stateful_multibatch,
    )

    register_views(spark, sf_dir)
    steps = ["view", "click", "purchase"]
    reached = funnel_stateful_multibatch(
        spark,
        _staged_event_slices(spark, sf_dir),
        steps,
        within_seconds=86400,
    )
    counts = reached.groupBy("step_idx").agg(F.count(F.lit(1)).alias("n"))
    all_steps = local_relation(
        spark,
        [(s, i + 1) for i, s in enumerate(steps)],
        "step string, step_idx int",
    )
    return all_steps.join(counts, ["step_idx"], "left").select(
        "step",
        "step_idx",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("users"),
    )


# ---------------------------------------------------------------------------
# Triangle counting (operators/graph.py:triangle_count)
# ---------------------------------------------------------------------------

@_q(
    "graph_triangles",
    """
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (
      SELECT DISTINCT a.p AS a, b.p AS b
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
    ),
    tri AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM e e1
      JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
      JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
    ),
    per_node AS (
      SELECT v AS node, count(*) AS t FROM (
        SELECT a AS v FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY v
    ),
    spine AS (SELECT a AS node FROM e UNION SELECT b FROM e)
    SELECT s.node, CAST(coalesce(p.t, 0) AS BIGINT) AS triangles
    FROM spine s LEFT JOIN per_node p ON p.node = s.node
    """,
    "per-node triangle counts on the co-ordered-parts graph via "
    "degree-oriented compact-forward enumeration: orient edges toward "
    "the higher-(degree,id) endpoint so each triangle is found exactly "
    "once and hub nodes contribute NO wedges — O(m^1.5) total wedge "
    "fan-out instead of sum(deg^2), the property that survives "
    "celebrity-skewed graphs at 100 TB. Oracle enumerates by plain id "
    "ordering — an independent algorithm, same triangle set",
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import graph

    t = register_views(spark, sf_dir)
    edges = t["lineitem"].select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    pairs = edges.alias("x").join(
        edges.alias("y"),
        (F.col("x.o") == F.col("y.o")) & (F.col("x.p") < F.col("y.p")),
    ).select(F.col("x.p").alias("src"), F.col("y.p").alias("dst"))
    return graph.triangle_count(pairs, "src", "dst")


# ---------------------------------------------------------------------------
# HyperLogLog rollup (operators/sketch.py:hll_registers / hll_estimate)
# ---------------------------------------------------------------------------

def _hll_oracle() -> str:
    from wikidata_to_surrealdb_spark.functions import fround_sql
    from wikidata_to_surrealdb_spark.operators.sketch import (
        _hll_term_sql,
        hll_estimate_sql,
        hll_reg_rho_sql,
    )

    reg, rho = hll_reg_rho_sql("CAST(user_id AS VARCHAR)")
    term = _hll_term_sql("m")
    est = fround_sql(hll_estimate_sql("s", "n"), 4)
    return f"""
    WITH keyed AS (
      SELECT event_type, {reg} AS reg, {rho} AS rho FROM events
    ),
    regs AS (
      SELECT event_type, reg, max(rho) AS m
      FROM keyed GROUP BY event_type, reg
    ),
    per AS (
      SELECT event_type, sum({term}) AS s, count(*) AS n
      FROM regs GROUP BY event_type
    ),
    allregs AS (SELECT reg, max(m) AS m FROM regs GROUP BY reg),
    allper AS (SELECT sum({term}) AS s, count(*) AS n FROM allregs)
    SELECT event_type, {est} AS approx_distinct FROM per
    UNION ALL
    SELECT '(all)' AS event_type, {est} AS approx_distinct FROM allper
    """


@_q(
    "sketch_hll_rollup",
    _hll_oracle(),
    "deterministic HyperLogLog (Flajolet 2007, p=8) built from md5 + "
    "integer CASE arithmetic so both engines compute identical registers "
    "AND identical estimates (harmonic mean summed as exact 2^(49-M) "
    "BIGINTs; linear-counting correction's ln via the bit-portable "
    "plog10). The register relation is a mergeable sketch table: "
    "per-event-type distinct users AND the all-types rollup come from "
    "the SAME registers via groupBy(reg).max — shuffle volume is "
    "sketch-sized (<= groups x 256 rows after map-side max), never "
    "data-sized, which is the whole point at 100 TB",
)
def sketch_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import sketch

    t = register_views(spark, sf_dir)
    regs = sketch.hll_registers(t["events"], "user_id", ["event_type"])
    per = sketch.hll_estimate(regs, ["event_type"])
    total = sketch.hll_estimate(regs, []).select(
        F.lit("(all)").alias("event_type"), "approx_distinct"
    )
    return per.unionAll(total)


# ---------------------------------------------------------------------------
# Retention cohorts (operators/temporal.py:retention_cohorts)
# ---------------------------------------------------------------------------

@_q(
    "orders_retention_cohorts",
    """
    WITH f AS (
      SELECT o_custkey AS u, min(o_orderdate) AS ft FROM orders GROUP BY u
    )
    SELECT CAST(year(f.ft) AS VARCHAR) || '-Q'
             || CAST(quarter(f.ft) AS VARCHAR) AS cohort,
           CAST((year(o.o_orderdate) * 4 + quarter(o.o_orderdate) - 1)
              - (year(f.ft) * 4 + quarter(f.ft) - 1) AS INTEGER)
             AS offset_periods,
           CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS users
    FROM orders o JOIN f ON f.u = o.o_custkey
    GROUP BY 1, 2
    """,
    "quarterly cohort retention over the 1995-2001 order history: cohort "
    "= customer's first-order quarter, cell = distinct customers active "
    "at each quarter offset. One user-keyed agg + one co-partitioned "
    "join back + one (cohort, offset) count-distinct; offsets are "
    "integer calendar arithmetic so the identical expressions run in "
    "the oracle",
)
def orders_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import temporal

    t = register_views(spark, sf_dir)
    return temporal.retention_cohorts(
        t["orders"], "o_custkey", "o_orderdate", period="quarter"
    )


# ---------------------------------------------------------------------------
# SCD2 dimension merge (operators/mutations.py:scd2_merge)
# ---------------------------------------------------------------------------

_SCD2_SNAP = """
      SELECT c_custkey, c_mktsegment, c_acctbal + 100.0 AS c_acctbal
      FROM customer WHERE c_custkey % 5 = 0
      UNION ALL
      SELECT c_custkey, c_mktsegment, c_acctbal
      FROM customer WHERE c_custkey % 3 = 0 AND c_custkey % 5 <> 0
      UNION ALL
      SELECT c_custkey + 1000000, 'NEWSEG', 0.0
      FROM customer WHERE c_custkey % 11 = 0
"""


@_q(
    "scd2_merge",
    f"""
    WITH snap AS ({_SCD2_SNAP}),
    base AS (
      SELECT c_custkey, c_mktsegment, c_acctbal,
             DATE '2024-01-01' AS valid_from,
             DATE '9999-12-31' AS valid_to,
             TRUE AS is_current
      FROM customer
    ),
    diff AS (
      SELECT s.* FROM snap s LEFT JOIN base b USING (c_custkey)
      WHERE b.c_custkey IS NULL
         OR s.c_acctbal IS DISTINCT FROM b.c_acctbal
         OR s.c_mktsegment IS DISTINCT FROM b.c_mktsegment
    )
    SELECT b.c_custkey, b.c_mktsegment, b.c_acctbal, b.valid_from,
           CASE WHEN d.c_custkey IS NOT NULL
                THEN DATE '2024-06-01' ELSE b.valid_to END AS valid_to,
           d.c_custkey IS NULL AS is_current
    FROM base b LEFT JOIN diff d USING (c_custkey)
    UNION ALL
    SELECT c_custkey, c_mktsegment, c_acctbal,
           DATE '2024-06-01', DATE '9999-12-31', TRUE
    FROM diff
    """,
    "warehouse MERGE INTO as pure DataFrame set algebra: a CDC snapshot "
    "(some rows changed, some identical, some brand-new keys) merged "
    "into a type-2 dimension — changed/new keys close the current "
    "version at the effective date and insert an open one; identical "
    "rows and absent keys pass through untouched. The joins are keyed "
    "on the dimension key with the CDC-sized diff side broadcast; the "
    "dimension itself is scanned + unioned, never shuffled",
)
def scd2_merge_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    c = t["customer"]
    base = c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.lit("2024-01-01").cast("date").alias("valid_from"),
        F.lit("9999-12-31").cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    snap = (
        c.where(F.col("c_custkey") % 5 == 0)
        .select(
            "c_custkey",
            "c_mktsegment",
            (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
        )
        .unionAll(
            c.where((F.col("c_custkey") % 3 == 0) & (F.col("c_custkey") % 5 != 0))
            .select("c_custkey", "c_mktsegment", "c_acctbal")
        )
        .unionAll(
            c.where(F.col("c_custkey") % 11 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.lit("NEWSEG").alias("c_mktsegment"),
                F.lit(0.0).alias("c_acctbal"),
            )
        )
    )
    return mutations.scd2_merge(
        base,
        snap,
        ["c_custkey"],
        ["c_mktsegment", "c_acctbal"],
        effective_date="2024-06-01",
    )


_SCD2_SNAP2 = """
      SELECT c_custkey, c_mktsegment, c_acctbal + 250.0 AS c_acctbal
      FROM customer WHERE c_custkey % 4 = 0
      UNION ALL
      SELECT c_custkey + 1000000, 'NEWSEG', 50.0
      FROM customer WHERE c_custkey % 11 = 0
"""


@_q(
    "stream_scd2_apply",
    f"""
    WITH base AS (
      SELECT c_custkey, c_mktsegment, c_acctbal,
             DATE '2024-01-01' AS valid_from,
             DATE '9999-12-31' AS valid_to,
             TRUE AS is_current
      FROM customer
    ),
    snap1 AS ({_SCD2_SNAP}),
    diff1 AS (
      SELECT s.* FROM snap1 s LEFT JOIN base b USING (c_custkey)
      WHERE b.c_custkey IS NULL
         OR s.c_acctbal IS DISTINCT FROM b.c_acctbal
         OR s.c_mktsegment IS DISTINCT FROM b.c_mktsegment
    ),
    dim1 AS (
      SELECT b.c_custkey, b.c_mktsegment, b.c_acctbal, b.valid_from,
             CASE WHEN d.c_custkey IS NOT NULL
                  THEN DATE '2024-06-01' ELSE b.valid_to END AS valid_to,
             d.c_custkey IS NULL AS is_current
      FROM base b LEFT JOIN diff1 d USING (c_custkey)
      UNION ALL
      SELECT c_custkey, c_mktsegment, c_acctbal,
             DATE '2024-06-01', DATE '9999-12-31', TRUE
      FROM diff1
    ),
    snap2 AS ({_SCD2_SNAP2}),
    cur1 AS (SELECT * FROM dim1 WHERE is_current),
    diff2 AS (
      SELECT s.* FROM snap2 s LEFT JOIN cur1 b USING (c_custkey)
      WHERE b.c_custkey IS NULL
         OR s.c_acctbal IS DISTINCT FROM b.c_acctbal
         OR s.c_mktsegment IS DISTINCT FROM b.c_mktsegment
    )
    SELECT c_custkey, c_mktsegment, c_acctbal, valid_from, valid_to,
           is_current
    FROM dim1 WHERE NOT is_current
    UNION ALL
    SELECT b.c_custkey, b.c_mktsegment, b.c_acctbal, b.valid_from,
           CASE WHEN d.c_custkey IS NOT NULL
                THEN DATE '2024-09-01' ELSE b.valid_to END AS valid_to,
           d.c_custkey IS NULL AS is_current
    FROM cur1 b LEFT JOIN diff2 d USING (c_custkey)
    UNION ALL
    SELECT c_custkey, c_mktsegment, c_acctbal,
           DATE '2024-09-01', DATE '9999-12-31', TRUE
    FROM diff2
    """,
    "STREAMING CDC consumer: two dimension snapshots (June and "
    "September effective dates) arrive as micro-batches and foreachBatch "
    "applies each to the versioned dimension with scd2_merge — read the "
    "live generation, merge, write a new generation, commit via atomic "
    "pointer replace (re-applying a snapshot at the same date is "
    "idempotent, so replays converge: effectively-once). The final "
    "dimension must equal the batch sequence of the two merges, which "
    "the chained two-step oracle recomputes in SQL",
)
def stream_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile
    import time as _time

    from wikidata_to_surrealdb_spark.streaming import upserts as _up

    t = register_views(spark, sf_dir)
    c = t["customer"]
    root = os.path.join(
        tempfile.gettempdir(),
        f"wd_scd2_stream_{spark.sparkContext.applicationId}",
    )
    shutil.rmtree(root, ignore_errors=True)
    dim_dir = os.path.join(root, "dim")
    snaps_dir = os.path.join(root, "snaps")

    base = c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.lit("2024-01-01").cast("date").alias("valid_from"),
        F.lit("9999-12-31").cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    _up.write_dim_versioned(base, dim_dir, "bootstrap")

    snap1 = (
        c.where(F.col("c_custkey") % 5 == 0)
        .select(
            "c_custkey",
            "c_mktsegment",
            (F.col("c_acctbal") + 100.0).alias("c_acctbal"),
        )
        .unionAll(
            c.where(
                (F.col("c_custkey") % 3 == 0) & (F.col("c_custkey") % 5 != 0)
            ).select("c_custkey", "c_mktsegment", "c_acctbal")
        )
        .unionAll(
            c.where(F.col("c_custkey") % 11 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.lit("NEWSEG").alias("c_mktsegment"),
                F.lit(0.0).alias("c_acctbal"),
            )
        )
        .withColumn("_eff", F.lit("2024-06-01"))
    )
    snap2 = (
        c.where(F.col("c_custkey") % 4 == 0)
        .select(
            "c_custkey",
            "c_mktsegment",
            (F.col("c_acctbal") + 250.0).alias("c_acctbal"),
        )
        .unionAll(
            c.where(F.col("c_custkey") % 11 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.lit("NEWSEG").alias("c_mktsegment"),
                F.lit(50.0).alias("c_acctbal"),
            )
        )
        .withColumn("_eff", F.lit("2024-09-01"))
    )
    os.makedirs(snaps_dir, exist_ok=True)
    tstamp = _time.time()
    for i, snap in enumerate((snap1, snap2)):
        d = os.path.join(snaps_dir, f"batch={i}")
        snap.coalesce(1).write.mode("overwrite").parquet(d)
        for r, _, files in os.walk(d):
            for fname in files:
                os.utime(
                    os.path.join(r, fname), (tstamp + i, tstamp + i)
                )

    _up.stream_scd2_apply(
        spark,
        dim_dir,
        snaps_dir,
        ["c_custkey"],
        ["c_mktsegment", "c_acctbal"],
    )
    return _up.read_dim_versioned(spark, dim_dir).select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        "valid_from", "valid_to", "is_current",
    )


# ---------------------------------------------------------------------------
# Unicode text cleaning (operators/text.py:clean_text)
# ---------------------------------------------------------------------------

def _text_clean_oracle() -> str:
    from wikidata_to_surrealdb_spark.operators.text import CONTROL_RE, WS_RE

    messy = "'  é​ ' || text || '  x  '"
    cleaned = (
        f"trim(regexp_replace(regexp_replace(nfc_normalize({messy}), "
        f"'{CONTROL_RE}', '', 'g'), '{WS_RE}', ' ', 'g'))"
    )
    return f"""
    SELECT doc_id, {cleaned} AS clean_text,
           CAST(length({cleaned}) AS BIGINT) AS n_chars_clean
    FROM documents
    """


@_q(
    "text_clean",
    _text_clean_oracle(),
    "curation text cleanup over a deterministically-dirtied corpus "
    "(decomposed accent + zero-width + NBSP + ragged spaces injected "
    "identically in both engines): NFC via a pandas-masked Arrow UDF "
    "whose per-row Python loop only sees rows containing a non-ASCII "
    "byte — an ASCII-dominant corpus pays ~zero Python — then "
    "control/zero-width strip + whitespace collapse as JVM regexp "
    "codegen. Regex classes are engine-portable by construction: low "
    "controls as \\xNN escapes (same syntax in Java regex and RE2), "
    "higher codepoints as literals",
)
def text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    messy = t["documents"].select(
        "doc_id",
        F.concat(
            F.lit("  é​ "), F.col("text"), F.lit("  x  ")
        ).alias("text"),
    )
    return text.clean_text(messy, "text", "doc_id").select(
        "doc_id", "clean_text", "n_chars_clean"
    )


# ---------------------------------------------------------------------------
# Training-mix materialization (operators/curation.py:corpus_mix)
# ---------------------------------------------------------------------------

@_q(
    "curation_corpus_mix",
    """
    WITH stats AS (
      -- HUGEINT power: BIGINT n_chars^2 overflows loudly in DuckDB at
      -- adversarial magnitudes; the Spark side's DECIMAL(38,0) matches
      SELECT source,
             sum(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT)) AS wa
      FROM documents GROUP BY source
    ),
    quota AS (
      -- exact rational floor, mirroring the Spark DECIMAL path (round
      -- 10): 250*wa is HUGEINT (overflows loudly), // truncates which
      -- equals floor on the non-negative masses; a double ratio here
      -- can floor wrong past 2^53 (e.g. (1e17-1)/1e17 rounds to 1.0)
      SELECT source,
             CASE WHEN (SELECT sum(wa) FROM stats) = 0 THEN 0
                  ELSE CAST((250 * wa) // (SELECT sum(wa) FROM stats)
                       AS INTEGER) END AS q
      FROM stats
    ),
    ranked AS (
      SELECT d.doc_id, d.source, d.n_chars, q.q,
             row_number() OVER (
               PARTITION BY d.source
               ORDER BY md5('mix-v1:' || CAST(d.doc_id AS VARCHAR)), d.doc_id
             ) AS rk
      FROM documents d JOIN quota q ON q.source = d.source
    )
    SELECT doc_id, source, n_chars FROM ranked WHERE rk <= q
    """,
    "LLM training-mix materialization: document budget allocated across "
    "sources by temperature-scaled mass (w^2 — INTEGER alpha so the "
    "allocation is exact integer arithmetic, no libm pow), each source's "
    "quota picked deterministically by md5 order. No RNG state: the mix "
    "is a pure function of (seed, ids), stable under retries and "
    "re-partitioning; source stats broadcast, one per-source window "
    "rank as the only shuffle",
)
def curation_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import curation

    t = register_views(spark, sf_dir)
    return curation.corpus_mix(
        t["documents"].select("doc_id", "source", "n_chars"),
        budget=250,
        alpha=2,
        seed="mix-v1",
    ).select("doc_id", "source", "n_chars")


# ---------------------------------------------------------------------------
# Path analysis (operators/temporal.py:top_paths)
# ---------------------------------------------------------------------------

@_q(
    "events_top_paths",
    """
    WITH ranked AS (
      SELECT user_id, event_type, ts, event_id,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM ranked WHERE rn <= 5 GROUP BY user_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS users
    FROM paths GROUP BY path
    ORDER BY users DESC, path LIMIT 20
    """,
    "user-journey path analysis: each user's first 5 events in (ts, id) "
    "order joined into a path string, counted, top-20. One user-keyed "
    "shuffle with the ordering/slice/join array-local (total order via "
    "the event-id tie column), one path-keyed count, top-k as "
    "TakeOrderedAndProject. Oracle formulates it with window row_number "
    "+ ordered string_agg — independent plan, same paths",
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import temporal

    t = register_views(spark, sf_dir)
    return temporal.top_paths(t["events"], prefix_len=5, k=20)


# ---------------------------------------------------------------------------
# Incremental view maintenance (operators/ivm.py)
# ---------------------------------------------------------------------------

@_q(
    "ivm_delta_merge",
    f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           {dsum_sql("o_totalprice", 6)}
             AS sum_o_totalprice,
           min(o_orderdate) AS min_o_orderdate,
           max(o_totalprice) AS max_o_totalprice
    FROM orders GROUP BY o_orderpriority
    """,
    "incremental view maintenance: the orders rollup is materialized "
    "from 90% of the rows, then the remaining 10% arrive as an "
    "insert-only delta and are folded in via the aggregate-monoid "
    "combiners (count->sum, exact-DECIMAL sum->sum, min->min, "
    "max->max) — cost O(groups), not O(rows). The ORACLE is the full "
    "recompute over all rows: the IVM identity itself is what the "
    "driver verifies. Sums stay DECIMAL inside the maintained table "
    "(float sums are partition-order dependent and would drift from "
    "the recompute), DOUBLE only at the presentation edge",
)
def ivm_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import ivm

    t = register_views(spark, sf_dir)
    o = t["orders"]
    spec = [
        ("count", "*"),
        ("dsum", "o_totalprice"),
        ("min", "o_orderdate"),
        ("max", "o_totalprice"),
    ]
    base = ivm.build_agg(
        o.where(F.col("o_orderkey") % 10 != 0), ["o_orderpriority"], spec
    )
    merged = ivm.delta_merge_agg(
        base, o.where(F.col("o_orderkey") % 10 == 0), ["o_orderpriority"], spec
    )
    return merged.select(
        "o_orderpriority",
        "n",
        F.col("sum_o_totalprice").cast("double").alias("sum_o_totalprice"),
        "min_o_orderdate",
        "max_o_totalprice",
    )


# ---------------------------------------------------------------------------
# Runtime bloom-filter join pruning (operators/runtime_filter.py)
# ---------------------------------------------------------------------------

@_q(
    "opt_bloom_semi_join",
    """
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
    FROM orders o
    WHERE o.o_custkey IN (
      SELECT c_custkey FROM customer WHERE c_acctbal > 9000
    )
    """,
    "explicit runtime bloom filtering: a 4096-bit md5 bloom built from "
    "the selective dim keys (build shuffles <= bits/64 rows after "
    "map-side OR), attached to the fact side as a one-row broadcast map "
    "and evaluated as a pure JVM bit test BEFORE the join's exchange — "
    "non-matching fact rows never enter the shuffle. False positives "
    "are removed by the exact semi-join that follows; false negatives "
    "are impossible, so the plain-semi-join oracle must match "
    "bit-for-bit — the optimization's correctness IS its invisibility",
)
def opt_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import runtime_filter as rf

    t = register_views(spark, sf_dir)
    small = t["customer"].where(F.col("c_acctbal") > 9000).select(
        F.col("c_custkey").alias("o_custkey")
    )
    return rf.bloom_semi_join(
        t["orders"].select("o_orderkey", "o_custkey", "o_totalprice"),
        small,
        "o_custkey",
    ).select("o_orderkey", "o_custkey", "o_totalprice")


# ---------------------------------------------------------------------------
# Approximate kNN join (operators/similarity.py:knn_join)
# ---------------------------------------------------------------------------

def _knn_join_oracle(k: int) -> str:
    buckets = similarity.hyperplane_bucket_sql(
        "embedding", _EMB_BANDS, _EMB_BAND_BITS, _EMB_DIM, _EMB_SEED,
        dialect="duckdb",
    )
    keys = ", ".join(
        f"('b{i}:' || {b})" for i, b in enumerate(buckets)
    )
    cos = fround_sql(_COS_SQL.format(a="va.v", b="vb.v"), 4)
    return f"""
    WITH b AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
             [{keys}] AS keys
      FROM embeddings
    ),
    e AS (SELECT vec_id, unnest(keys) AS key FROM b),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
      FROM e a JOIN e b2 ON a.key = b2.key AND a.vec_id <> b2.vec_id
    ),
    scored AS (
      SELECT c.id_a, c.id_b, {cos} AS cosine
      FROM cand c
      JOIN b va ON va.vec_id = c.id_a
      JOIN b vb ON vb.vec_id = c.id_b
    )
    SELECT id_a AS vec_id, id_b AS neighbor_id, cosine,
           CAST(rk AS INTEGER) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY id_a ORDER BY cosine DESC, id_b
      ) AS rk FROM scored
    ) WHERE rk <= {k}
    """


@_q(
    "sim_knn_join",
    _knn_join_oracle(5),
    "approximate kNN JOIN (the kNN-graph builder): every vector's top-5 "
    "cosine neighbors among sign-LSH candidates — band-prefixed bucket "
    "keys so bands never cross-match, multi-band collisions deduped "
    "before scoring, rounded-cosine + neighbor-id total order so the "
    "k-set is deterministic. The bucket self-join is the only data-sized "
    "shuffle (confined to LSH buckets, band_bits controls occupancy); "
    "per-node ranking partitions on the node id",
)
def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return similarity.knn_join(
        t["embeddings"],
        k=5,
        bands=_EMB_BANDS,
        band_bits=_EMB_BAND_BITS,
        dim=_EMB_DIM,
        seed=_EMB_SEED,
    )


@_q(
    "stream_hll_distinct",
    _hll_oracle(),
    "STREAMING HyperLogLog: the sketch update is itself a streaming "
    "aggregation (groupBy(type, reg).max(rho)) so the agg state IS the "
    "sketch — bounded at |types| x 256 rows forever, no watermark, no "
    "eviction policy, unlike dropDuplicates-style distinct whose state "
    "grows with every key seen. availableNow result equals the batch "
    "sketch_hll_rollup bit-for-bit (max-merge is order-free), so the "
    "identical oracle applies",
)
def stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.streaming.events import (
        hll_distinct_streaming,
    )

    return hll_distinct_streaming(spark, f"{sf_dir}/events.parquet")


# ---------------------------------------------------------------------------
# Distribution window functions + unpivot (stock-SQL breadth)
# ---------------------------------------------------------------------------

@_q(
    "window_distribution",
    f"""
    SELECT c_custkey, c_mktsegment,
           CAST(ntile(4) OVER w AS INTEGER) AS balance_quartile,
           {fround_sql("percent_rank() OVER w", 6)} AS pct_rank,
           {fround_sql("cume_dist() OVER w", 6)} AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
    "distribution window family: ntile quartiles, percent_rank and "
    "cume_dist per market segment with a (balance, id) total order so "
    "every rank is deterministic; one segment-keyed sort window, state "
    "never crosses executors",
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from wikidata_to_surrealdb_spark.functions import fround

    t = register_views(spark, sf_dir)
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return t["customer"].select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).cast("int").alias("balance_quartile"),
        fround(F.percent_rank().over(w), 6).alias("pct_rank"),
        fround(F.cume_dist().over(w), 6).alias("cume"),
    )


@_q(
    "lineitem_unpivot",
    """
    SELECT l_orderkey, l_linenumber, measure, amount
    FROM (
      SELECT l_orderkey, l_linenumber,
             l_extendedprice, l_discount, l_tax
      FROM lineitem WHERE l_orderkey % 100 = 0
    )
    UNPIVOT (amount FOR measure IN (l_extendedprice, l_discount, l_tax))
    """,
    "wide-to-long UNPIVOT (the inverse of events_pivot): three measure "
    "columns melted to (measure, amount) rows via stack() — a pure map "
    "expansion, no shuffle, filter pushed beneath it to the scan",
)
def lineitem_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return (
        t["lineitem"]
        .where(F.col("l_orderkey") % 100 == 0)
        .select("l_orderkey", "l_linenumber", F.expr(
            "stack(3, 'l_extendedprice', l_extendedprice,"
            " 'l_discount', l_discount, 'l_tax', l_tax)"
        ).alias("measure", "amount"))
        .select("l_orderkey", "l_linenumber", "measure", "amount")
    )


# ---------------------------------------------------------------------------
# Volume anomaly detection (monitoring family)
# ---------------------------------------------------------------------------

# z-score from EXACT integer moments: hourly counts, their sum and
# sum-of-squares are all BIGINTs, so mean/variance/σ come out of identical
# IEEE doubles in both engines (sqrt is exactly rounded); population
# variance via E[X^2] - E[X]^2 written as one shared expression.
_ANOM_Z = (
    "(CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE)) / "
    "sqrt(CAST(ss AS DOUBLE) / CAST(cnt AS DOUBLE) "
    "- (CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE)) "
    "* (CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE)))"
)


@_q(
    "events_anomaly",
    f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, sum(n) AS s, sum(n * n) AS ss,
             CAST(count(*) AS BIGINT) AS cnt
      FROM hourly GROUP BY event_type
    )
    SELECT h.event_type, h.hour_start, h.n,
           {fround_sql(_ANOM_Z, 6)} AS z
    FROM hourly h JOIN stats USING (event_type)
    WHERE cnt > 1 AND ss * cnt > s * s
      AND abs({_ANOM_Z}) > 2.0
    """,
    "volume anomaly detection: hourly event counts z-scored against "
    "each type's own distribution, |z| > 2 flagged. Moments are EXACT "
    "BIGINT sums (counts and squared counts), so mean/sigma/z are "
    "bit-identical doubles in both engines — no sampling, no libm "
    "beyond exactly-rounded sqrt. Two aggregations (hour-keyed then "
    "type-keyed on the hourly relation, already tiny) + a broadcast "
    "join of per-type stats back to hourly rows",
)
def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    hourly = (
        t["events"]
        .groupBy(
            "event_type",
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_start"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    stats = hourly.groupBy("event_type").agg(
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("ss"),
        F.count(F.lit(1)).alias("cnt"),
    )
    from wikidata_to_surrealdb_spark.functions import fround

    z = F.expr(_ANOM_Z)
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .where(
            (F.col("cnt") > 1)
            & (F.col("ss") * F.col("cnt") > F.col("s") * F.col("s"))
            & (F.abs(z) > 2.0)
        )
        .select("event_type", "hour_start", "n", fround(z, 6).alias("z"))
    )


# ---------------------------------------------------------------------------
# Keyword extraction (operators/text.py:keywords)
# ---------------------------------------------------------------------------

def _keywords_oracle(k: int) -> str:
    from wikidata_to_surrealdb_spark.operators.text import (
        _stem_sql,
        ascii_fold_sql,
    )

    fold = ascii_fold_sql("lower(text)")
    stem = _stem_sql("raw_term")
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
        regexp_split_to_array({fold}, '[^a-z0-9]+'),
        t -> length(t) > 0)) AS raw_term
      FROM documents
    ), stemmed AS (
      SELECT doc_id, {stem} AS term FROM toks
    ), index_t AS (
      SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM stemmed
      WHERE length(term) > 0 GROUP BY term, doc_id
    ), dfreq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM index_t GROUP BY term
    ), n AS (
      SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM index_t
    )
    SELECT doc_id, term, score, CAST(rank AS INTEGER) AS rank FROM (
      SELECT i.doc_id, i.term,
             i.tf * (n.n_docs * 1000000 // d.df) AS score,
             row_number() OVER (
               PARTITION BY i.doc_id
               ORDER BY i.tf * (n.n_docs * 1000000 // d.df) DESC, i.term
             ) AS rank
      FROM index_t i JOIN dfreq d ON d.term = i.term CROSS JOIN n
    ) WHERE rank <= {k}
    """


@_q(
    "text_keywords",
    _keywords_oracle(3),
    "per-document keyword extraction: top-3 terms by tf-idf with the "
    "exact-integer idf device (tf * (n_docs * 1e6 div df) — float log "
    "diverges across engines, integer idf preserves the ranking), term "
    "string as tie-break so the k-set is total-ordered. Index shuffle + "
    "broadcast vocabulary df + 1-row corpus count + one doc-keyed rank "
    "window",
)
def text_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    return text.keywords(t["documents"], "text", "doc_id", k=3)


# ---------------------------------------------------------------------------
# CUBE aggregation (stock-SQL breadth, complements agg_rollup)
# ---------------------------------------------------------------------------

@_q(
    "agg_cube",
    """
    SELECT coalesce(event_type, '(all)') AS event_type,
           coalesce(CAST(CAST(ts AS DATE) AS VARCHAR), '(all)') AS day,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor({FINITE_VALUE} * 100.0 + 0.5) AS BIGINT))
             AS BIGINT) AS total_cents
    FROM events
    GROUP BY CUBE (event_type, CAST(ts AS DATE))
    """.replace("{FINITE_VALUE}", rep_sql("value", 2)),
    "CUBE aggregation: all four grouping sets of (type, day) in one "
    "pass — Spark expands the cube in a single Expand + hash aggregate "
    "(one shuffle), not four scans; NULL grouping slots labeled '(all)' "
    "and value summed in exact integer cents for portability",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    cents = F.floor(rep(F.col("value"), 2) * 100.0 + 0.5).cast("bigint")
    return (
        t["events"]
        .withColumn("_cents", cents)
        .withColumn("_day", F.col("ts").cast("date"))
        .cube("event_type", "_day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_cents").cast("bigint").alias("total_cents"),
        )
        .select(
            F.coalesce("event_type", F.lit("(all)")).alias("event_type"),
            F.coalesce(F.col("_day").cast("string"), F.lit("(all)")).alias("day"),
            "n",
            "total_cents",
        )
    )


# ---------------------------------------------------------------------------
# CDC snapshot diff (operators/mutations.py:snapshot_diff)
# ---------------------------------------------------------------------------

@_q(
    "cdc_snapshot_diff",
    """
    WITH old_t AS (
      SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
      WHERE c_custkey % 13 <> 0
    ),
    new_t AS (
      SELECT c_custkey, c_mktsegment,
             CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 50.0
                  ELSE c_acctbal END AS c_acctbal
      FROM customer
      WHERE c_custkey % 11 <> 0
    )
    SELECT coalesce(n.c_custkey, o.c_custkey) AS c_custkey,
           CASE WHEN o.c_custkey IS NULL THEN 'I'
                WHEN n.c_custkey IS NULL THEN 'D'
                ELSE 'U' END AS op,
           o.c_mktsegment AS old_c_mktsegment,
           o.c_acctbal AS old_c_acctbal,
           n.c_mktsegment AS new_c_mktsegment,
           n.c_acctbal AS new_c_acctbal
    FROM old_t o FULL OUTER JOIN new_t n ON n.c_custkey = o.c_custkey
    WHERE o.c_custkey IS NULL OR n.c_custkey IS NULL
       OR o.c_acctbal IS DISTINCT FROM n.c_acctbal
       OR o.c_mktsegment IS DISTINCT FROM n.c_mktsegment
    """,
    "CDC generation (the producer side; scd2_merge is the consumer): "
    "two deterministic customer snapshots (some keys deleted, some "
    "added, some balances bumped, most unchanged) diffed into "
    "INSERT/DELETE/UPDATE rows with old+new images via one full-outer "
    "key join; null-safe compares make NULL transitions real UPDATEs. "
    "At 100 TB, bucket both versions on the key and the exchange "
    "disappears — same device as the bucketed ingest tables",
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = register_views(spark, sf_dir)
    c = t["customer"]
    old = c.where(F.col("c_custkey") % 13 != 0).select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    new = c.where(F.col("c_custkey") % 11 != 0).select(
        "c_custkey",
        "c_mktsegment",
        F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 50.0)
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
    )
    return mutations.snapshot_diff(
        old, new, ["c_custkey"], ["c_mktsegment", "c_acctbal"]
    )


# ---------------------------------------------------------------------------
# kNN-graph clustering (knn_join -> connected components)
# ---------------------------------------------------------------------------

def _knn_clusters_oracle(k: int, threshold: float) -> str:
    knn = _knn_join_oracle(k)
    return f"""
    WITH RECURSIVE knn AS ({knn}),
    ue AS (
      SELECT vec_id AS ua, neighbor_id AS ub FROM knn WHERE cosine >= {threshold}
      UNION
      SELECT neighbor_id, vec_id FROM knn WHERE cosine >= {threshold}
    ),
    reach(src, dst) AS (
      SELECT ua, ua FROM (SELECT DISTINCT ua FROM ue)
      UNION
      SELECT r.src, ue.ub FROM reach r JOIN ue ON ue.ua = r.dst
    ),
    comp AS (SELECT src, min(dst) AS component FROM reach GROUP BY src)
    SELECT emb.vec_id,
           CAST(coalesce(comp.component, emb.vec_id) AS BIGINT) AS cluster_id
    FROM embeddings emb LEFT JOIN comp ON comp.src = emb.vec_id
    """


@_q(
    "sim_knn_clusters",
    _knn_clusters_oracle(5, 0.35),
    "embedding clustering via the kNN graph: top-5 LSH neighbors "
    "thresholded at cosine 0.35, undirected, then alternating large-star/"
    "small-star connected components label every vector with its "
    "cluster's minimum id (isolated vectors keep their own). The "
    "graph-based route catches chains A~B~C that no pairwise threshold "
    "alone would merge — the same closure the text near-dup pipeline "
    "uses, now on the embedding side",
)
def sim_knn_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wikidata_to_surrealdb_spark.operators import graph

    t = register_views(spark, sf_dir)
    knn = similarity.knn_join(
        t["embeddings"],
        k=5,
        bands=_EMB_BANDS,
        band_bits=_EMB_BAND_BITS,
        dim=_EMB_DIM,
        seed=_EMB_SEED,
    ).where(F.col("cosine") >= 0.35)
    comp = graph.connected_components(knn, src="vec_id", dst="neighbor_id")
    ids = similarity.finite_vectors(t["embeddings"]).select("vec_id")
    return ids.join(comp, ids["vec_id"] == comp["node"], "left").select(
        "vec_id",
        F.coalesce(F.col("component"), F.col("vec_id")).alias("cluster_id"),
    )


# Embedding-validity gate (r17 vecstress axis): every catalog query
# that consumes the embeddings table gets the "vecgate" tag, which
# makes QuerySpec.oracle rewrite its SQL to read the gated
# __emb_valid CTE (_gate_embeddings_sql) — the oracle twin of the
# similarity.finite_vectors filter every Spark-side embedding operator
# applies at entry. Centralized here, after all registrations, so the
# set is auditable at a glance and a new embeddings query can't
# silently skip the gate (pinned by test: every oracle whose text
# references the embeddings view must carry the tag).
_VECGATE_QUERIES = (
    "dedup_embedding",
    "dedup_semantic",
    "emb_normalize_quantize",
    "sim_ann_bucketed",
    "sim_ann_recall",
    "sim_ann_recall_panel",
    "sim_bruteforce",
    "sim_diversity_sample",
    "sim_hard_negatives",
    "sim_ivf",
    "sim_ivf_pq_search",
    "sim_ivf_recall_profile",
    "sim_ivf_search",
    "sim_ivf_trained_search",
    "sim_kmeans_assign",
    "sim_knn_clusters",
    "sim_knn_join",
    "sim_pq_codes",
    "sim_pq_search",
    "sim_pq_search_rerank",
    "sim_refine_recall_profile",
    "sim_topk",
)
for _n in _VECGATE_QUERIES:
    QUERIES[_n].tags = QUERIES[_n].tags + ("vecgate",)


def queries() -> dict[str, SparkQuery]:
    return {name: spec.fn for name, spec in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """The catalog's DuckDB oracles. The CTE-shape guard is applied by
    ``QuerySpec.oracle`` itself (see the class docstring), so this —
    like every other consumer — emits repaired SQL."""
    return {
        name: spec.oracle
        for name, spec in QUERIES.items()
        if spec.oracle is not None
    }
