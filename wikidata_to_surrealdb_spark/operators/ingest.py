"""Ingest pipeline: raw dump lines -> 4-table entity graph.

Reference semantics reproduced (file:line cites into /root/reference):

- wrapper unwrap: fixtures use ``{"entities": {"<id>": {...}}}`` while the
  real dump has bare entities; both accepted (tests/data/Entity.json vs
  README.md:11-20).
- invalid lines: JSON that parses but is not a Wikidata entity is skipped
  (utils.rs:138-141) -> PERMISSIVE parse + corrupt-record flag +
  ``id IS NOT NULL`` filter; a ``strict`` flag reproduces the reference's
  panic-on-malformed-JSON (utils.rs:137) via FAILFAST-style count check.
- id extraction: 'Q42' -> ('Entity', 42), P -> Property, L -> Lexeme
  (tables.rs:105-114).
- single-language label/description selection, '' default
  (tables.rs:116-130); aliases/sitelinks/other langs dropped.
- claim flattening: each statement's mainsnak becomes
  ``Claim{id: (Property, pid), value}``, then each of its qualifiers is
  appended as a *sibling* tagged ``(Claims, qpid)`` (tables.rs:76-103);
  rank / references / statement ids dropped.
- claim-value normalization: entity references become record links
  (``Thing``), everything else keeps its typed payload (tables.rs:23-33).
- vertical split Entity vs Claims, Claims row id = entity numeric id under
  table 'Claims' (tables.rs:58-74).
- numeric-id collisions across Entity/Property/Lexeme map to the *same*
  Claims row id; the reference's unchecked INSERT gives first-writer-wins
  (utils.rs:152-160). Reproduced with a deterministic
  ``row_number() over (partition by id order by _line)`` keep-first, where
  ``_line`` is the file-order id from ``monotonically_increasing_id`` —
  monotone in file offset for an ordered text scan.

Everything is built-in JVM expressions (from_json + higher-order
functions). No Python UDF touches the per-entity path, so the ingest is a
single narrow (shuffle-free) stage per output table and scales linearly
with input splits — on a 1000-executor cluster the 80 GB bz2 dump splits
into ~thousands of tasks with no driver involvement.
"""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wikidata_to_surrealdb_spark import schemas
from wikidata_to_surrealdb_spark.sources.dump_reader import read_dump_lines

# --- SQL fragment builders (kept as strings: they run inside higher-order
# --- function lambdas, where Column-API composition is not available).

_CLAIM_DDL = schemas.CLAIM.simpleString()  # struct<id:...,value:...>

_VARIANT_NULLS = {
    "thing": "CAST(NULL AS struct<tb:string,id:bigint>)",
    "string": "CAST(NULL AS string)",
    "external_id": "CAST(NULL AS string)",
    "url": "CAST(NULL AS string)",
    "monolingualtext": "CAST(NULL AS struct<text:string,lang:string>)",
    "multilingualtext": "CAST(NULL AS array<struct<text:string,lang:string>>)",
    "quantity": (
        "CAST(NULL AS struct<amount:double,lower_bound:double,"
        "upper_bound:double,unit:struct<tb:string,id:bigint>>)"
    ),
    "date_time": "CAST(NULL AS struct<value:string,precision:int>)",
    "globe_coordinate": (
        "CAST(NULL AS struct<lat:double,lon:double,precision:double,"
        "globe:struct<tb:string,id:bigint>>)"
    ),
    "commons_media": "CAST(NULL AS string)",
    "math_expr": "CAST(NULL AS string)",
    "geo_shape": "CAST(NULL AS string)",
    "music_notation": "CAST(NULL AS string)",
    "tabular_data": "CAST(NULL AS string)",
    "form": "CAST(NULL AS string)",
    "sense": "CAST(NULL AS string)",
    "no_value": "CAST(NULL AS boolean)",
    "unknown_value": "CAST(NULL AS boolean)",
}


def _variant(kind: str, **branches: str) -> str:
    """named_struct literal for one ClaimData variant, all other branches
    typed NULLs so every CASE arm has the identical struct type."""
    fields = [f"'kind', '{kind}'"]
    for name, null_sql in _VARIANT_NULLS.items():
        fields.append(f"'{name}', {branches.get(name, null_sql)}")
    return f"named_struct({', '.join(fields)})"


def _qid_thing(qid_expr: str) -> str:
    """'Q42'|'P31'|'L99' (string expr) -> Thing struct; NULL on other shapes."""
    return (
        f"named_struct("
        f"'tb', CASE substring({qid_expr}, 1, 1) "
        f"  WHEN 'Q' THEN 'Entity' WHEN 'P' THEN 'Property' WHEN 'L' THEN 'Lexeme' END, "
        f"'id', CAST(substring({qid_expr}, 2) AS BIGINT))"
    )


def _unit_thing(unit_expr: str) -> str:
    """Quantity unit URL -> Thing('Entity', qid); '1' (dimensionless) -> NULL.

    Mirrors the wikidata crate's unit decode the reference serializes
    (tables.rs:18-21): unit is an entity URI like
    http://www.wikidata.org/entity/Q11574.
    """
    return (
        f"CASE WHEN {unit_expr} IS NULL OR {unit_expr} = '1' THEN "
        f"CAST(NULL AS struct<tb:string,id:bigint>) "
        f"ELSE named_struct('tb', 'Entity', "
        f"'id', CAST(regexp_extract({unit_expr}, 'Q(\\\\d+)$', 1) AS BIGINT)) END"
    )


def _snak_value(s: str) -> str:
    """Decode one snak (expr ``s``) into the ClaimData variant struct.

    The snak's ``datavalue.value`` is raw JSON text (schemas.RAW_ENTITY);
    each datatype branch re-parses it with a typed from_json. Mirrors
    ClaimValueData construction + ClaimData::from_cvd rewrite of entity
    references to record links (tables.rs:23-33).
    """
    v = f"{s}.datavalue.value"
    ent = f"from_json({v}, '`entity-type` STRING, `numeric-id` BIGINT, id STRING')"
    qty = f"from_json({v}, 'amount STRING, lowerBound STRING, upperBound STRING, unit STRING')"
    tim = f"from_json({v}, 'time STRING, precision INT')"
    geo = f"from_json({v}, 'latitude DOUBLE, longitude DOUBLE, precision DOUBLE, globe STRING')"
    mono = f"from_json({v}, 'text STRING, language STRING')"
    qid = (
        f"coalesce({ent}.id, concat("
        f"CASE {ent}.`entity-type` WHEN 'item' THEN 'Q' WHEN 'property' THEN 'P' "
        f"WHEN 'lexeme' THEN 'L' END, CAST({ent}.`numeric-id` AS STRING)))"
    )
    v_novalue = _variant("NoValue", no_value="true")
    v_unknown = _variant("UnknownValue", unknown_value="true")
    v_thing = _variant("Thing", thing=_qid_thing(qid))
    v_string = _variant("String", string=v)
    v_extid = _variant("ExternalID", external_id=v)
    v_url = _variant("Url", url=v)
    v_commons = _variant("CommonsMedia", commons_media=v)
    v_math = _variant("MathExpr", math_expr=v)
    v_geoshape = _variant("GeoShape", geo_shape=v)
    v_music = _variant("MusicNotation", music_notation=v)
    v_tabular = _variant("TabularData", tabular_data=v)
    # Form/Sense keep the full id string ('L123-F2'); the crate's
    # Fid/Sid(Lid, ordinal) is recoverable by splitting on '-F'/'-S'
    v_form = _variant("Form", form=f"{ent}.id")
    v_sense = _variant("Sense", sense=f"{ent}.id")
    v_mono = _variant(
        "MonolingualText",
        monolingualtext=f"named_struct('text', {mono}.text, 'lang', {mono}.language)",
    )
    v_qty = _variant(
        "Quantity",
        quantity=(
            f"named_struct('amount', CAST({qty}.amount AS DOUBLE), "
            f"'lower_bound', CAST({qty}.lowerBound AS DOUBLE), "
            f"'upper_bound', CAST({qty}.upperBound AS DOUBLE), "
            f"'unit', {_unit_thing(f'{qty}.unit')})"
        ),
    )
    v_time = _variant(
        "DateTime",
        date_time=f"named_struct('value', {tim}.time, 'precision', {tim}.precision)",
    )
    globe_extract = "regexp_extract(" + geo + ".globe, 'Q(\\\\d+)$', 1)"
    v_globe = _variant(
        "GlobeCoordinate",
        globe_coordinate=(
            f"named_struct('lat', {geo}.latitude, 'lon', {geo}.longitude, "
            f"'precision', {geo}.precision, "
            f"'globe', CASE WHEN {geo}.globe IS NULL THEN "
            f"CAST(NULL AS struct<tb:string,id:bigint>) ELSE named_struct('tb', 'Entity', "
            f"'id', CAST({globe_extract} AS BIGINT)) END)"
        ),
    )
    return f"""CASE
      WHEN {s}.snaktype = 'novalue' THEN {v_novalue}
      WHEN {s}.snaktype = 'somevalue' THEN {v_unknown}
      WHEN {s}.datatype IN ('wikibase-item', 'wikibase-property', 'wikibase-lexeme')
        THEN {v_thing}
      WHEN {s}.datatype = 'string' THEN {v_string}
      WHEN {s}.datatype = 'external-id' THEN {v_extid}
      WHEN {s}.datatype = 'url' THEN {v_url}
      WHEN {s}.datatype = 'commonsMedia' THEN {v_commons}
      WHEN {s}.datatype = 'math' THEN {v_math}
      WHEN {s}.datatype = 'geo-shape' THEN {v_geoshape}
      WHEN {s}.datatype = 'musical-notation' THEN {v_music}
      WHEN {s}.datatype = 'tabular-data' THEN {v_tabular}
      WHEN {s}.datatype = 'wikibase-form' THEN {v_form}
      WHEN {s}.datatype = 'wikibase-sense' THEN {v_sense}
      WHEN {s}.datatype = 'monolingualtext' THEN {v_mono}
      WHEN {s}.datatype = 'quantity' THEN {v_qty}
      WHEN {s}.datatype = 'time' THEN {v_time}
      WHEN {s}.datatype = 'globe-coordinate' THEN {v_globe}
      ELSE {v_unknown}
    END"""


def _pid_num(pid_expr: str) -> str:
    return f"CAST(substring({pid_expr}, 2) AS BIGINT)"


def flat_claims_expr(claims_col: str = "claims") -> str:
    """entity claims map -> flat ARRAY<Claim>, reference order preserved:
    each statement's mainsnak first, then its qualifiers as siblings
    (tables.rs:76-103). Qualifier claim ids are tagged with tb='Claims',
    main claims with tb='Property' (tables.rs:81-94) — the only
    distinction surviving the flatten.
    """
    main_claim = (
        f"named_struct('id', named_struct('tb', 'Property', 'id', {_pid_num('pe.key')}), "
        f"'value', {_snak_value('st.mainsnak')})"
    )
    qual_claim = (
        f"named_struct('id', named_struct('tb', 'Claims', 'id', {_pid_num('qe.key')}), "
        f"'value', {_snak_value('qs')})"
    )
    quals = (
        f"coalesce(flatten(transform(map_entries(st.qualifiers), "
        f"qe -> transform(qe.value, qs -> {qual_claim}))), "
        f"CAST(array() AS array<{_CLAIM_DDL}>))"
    )
    return (
        f"flatten(transform(map_entries({claims_col}), pe -> "
        f"flatten(transform(pe.value, st -> "
        f"concat(array({main_claim}), {quals})))))"
    )


@dataclass
class WikidataTables:
    """The 4-table entity graph, as DataFrames. ``views()`` registers them.

    ``staged_parent`` is the single transformed DataFrame all four tables
    derive from; consumers that materialize more than one table should
    persist it first (write_tables and the bucketed merges do) so the dump
    is parsed once.
    """

    entity: DataFrame
    property: DataFrame
    lexeme: DataFrame
    claims: DataFrame
    staged_parent: DataFrame | None = None

    def as_dict(self) -> dict[str, DataFrame]:
        return {
            "Entity": self.entity,
            "Property": self.property,
            "Lexeme": self.lexeme,
            "Claims": self.claims,
        }

    def views(self, spark: SparkSession | None = None) -> "WikidataTables":
        for name, df in self.as_dict().items():
            df.createOrReplaceTempView(name)
        return self


def parse_entities(lines: DataFrame, strict: bool = False) -> DataFrame:
    """raw line DF -> typed entity rows (wrapper-unwrapped, invalid skipped).

    Returns columns: _line (file-order id), type, id, labels, descriptions,
    claims. PERMISSIVE parse: a malformed line is dropped, matching the
    reference's skip-on-invalid (utils.rs:138-141); ``strict`` raises if
    any non-empty line failed to parse (the reference's panic-on-bad-JSON,
    utils.rs:137). The bare-entity parse flags a line it cannot read
    whole (cut short, or a field of another JSON type such as
    ``"claims":[]``): the partial result of a cut line may carry an id.
    """
    wrapper = F.from_json("line", schemas.RAW_WRAPPER)
    bare = F.from_json(
        "line",
        T.StructType(schemas.RAW_ENTITY.fields + [T.StructField("_corrupt", T.StringType())]),
        {"columnNameOfCorruptRecord": "_corrupt"},
    )
    # fixtures wrap as {"entities": {id: entity}} (one per line); real dump
    # lines are bare entities. Take the wrapper's single map value if
    # present, else the bare parse.
    entity = F.coalesce(
        F.element_at(F.map_values(F.col("w.entities")), 1),
        F.col("b").dropFields("_corrupt"),
    ).alias("e")
    # the parses share a projection with the nondeterministic _line, so
    # the optimizer cannot push the filters below beneath them, where each
    # filter term would re-run a full parse of the line
    parsed = (
        lines.select(
            "line",
            F.monotonically_increasing_id().alias("_line"),
            wrapper.alias("w"),
            bare.alias("b"),
        )
        .select("_line", "line", F.col("b._corrupt").isNotNull().alias("_bad"), entity)
        .select("_line", "line", "_bad", "e.*")
    )
    if strict:
        bad = parsed.where(
            (F.col("id").isNull() | F.col("_bad")) & (F.length("line") > 0)
        ).limit(1)
        if bad.count() > 0:
            raise ValueError(f"strict mode: unparseable dump line: {bad.first()['line'][:200]}")
    return parsed.where(
        ~F.col("_bad") & F.col("id").isNotNull() & F.col("id").rlike("^[QPL][0-9]+$")
    ).drop("line", "_bad")


def transform_entities(parsed: DataFrame, lang: str = "en") -> DataFrame:
    """typed entity rows -> one row per entity with both halves of the
    vertical split (EntityMini fields + flat claims array) plus routing tb.
    """
    tb = (
        F.when(F.col("id").startswith("Q"), "Entity")
        .when(F.col("id").startswith("P"), "Property")
        .otherwise("Lexeme")
    )
    num = F.expr("CAST(substring(id, 2) AS BIGINT)")
    return parsed.select(
        "_line",
        F.struct(tb.alias("tb"), num.alias("id")).alias("eid"),
        F.coalesce(F.element_at("labels", lang)["value"], F.lit("")).alias("label"),
        F.coalesce(F.element_at("descriptions", lang)["value"], F.lit("")).alias(
            "description"
        ),
        F.struct(F.lit("Claims").alias("tb"), num.alias("id")).alias("claims_id"),
        F.expr(flat_claims_expr("claims")).alias("flat_claims"),
    )


def build_tables(transformed: DataFrame) -> WikidataTables:
    """Route by table + vertical split, with first-writer-wins dedup on the
    Claims table's colliding numeric ids (SURVEY §1.3)."""
    from pyspark.sql.window import Window

    mini = transformed.select(
        "_line",
        F.col("eid").alias("id"),
        "label",
        F.col("claims_id").alias("claims"),
        "description",
    )

    # first-writer-wins = lowest dump line, same rule as the Claims path
    # (dropDuplicates would keep whichever row a task saw first —
    # nondeterministic across partitionings)
    mini_win = Window.partitionBy("id").orderBy("_line")

    def route(tb_name: str) -> DataFrame:
        return (
            mini.where(F.col("id.tb") == tb_name)
            .withColumn("_rn", F.row_number().over(mini_win))
            .where(F.col("_rn") == 1)
            .drop("_rn", "_line")
        )

    claims_win = Window.partitionBy("id").orderBy("_line")
    claims = (
        transformed.select(
            "_line",
            F.col("claims_id").alias("id"),
            F.col("flat_claims").alias("claims"),
        )
        .withColumn("_rn", F.row_number().over(claims_win))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_line")
    )
    return WikidataTables(
        entity=route("Entity"),
        property=route("Property"),
        lexeme=route("Lexeme"),
        claims=claims,
        staged_parent=transformed,
    )


def load_dump(
    spark: SparkSession,
    path: str,
    file_format: str = "json",
    lang: str = "en",
    strict: bool = False,
    filter_sql: str | None = None,
) -> WikidataTables:
    """End-to-end ingest: dump file(s) -> WikidataTables (lazy DataFrames).

    ``filter_sql`` is the BulkFilter equivalent (utils.rs:168-200): a SQL
    SELECT evaluated against temp views Entity/Property/Lexeme/Claims of
    the *staged* load, returning the Entity rows to KEEP (any column set
    including ``id``). Non-kept entities and their Claims rows are dropped
    before the result is returned — the reference's scratch-DB
    export/import hop collapses to a Catalyst-planned semi-join, i.e. the
    filter becomes predicate pushdown instead of a per-chunk side engine.
    """
    lines = read_dump_lines(spark, path, file_format)
    parsed = parse_entities(lines, strict=strict)
    tables = build_tables(transform_entities(parsed, lang=lang))
    if filter_sql is not None:
        tables = apply_ingest_filter(spark, tables, filter_sql)
    return tables


def apply_ingest_filter(
    spark: SparkSession, tables: WikidataTables, filter_sql: str
) -> WikidataTables:
    tables.views(spark)
    kept = spark.sql(filter_sql).select("id").alias("k")
    entity = tables.entity.alias("e").join(
        F.broadcast(kept), F.col("e.id") == F.col("k.id"), "left_semi"
    )
    # claims rows of dropped entities go too (the reference's filter script
    # deletes both: tests/data/test_filter.surql:7-8). Property/Lexeme
    # claims rows survive via their own (colliding or not) ids.
    kept_claim_ids = (
        entity.select(F.col("claims").alias("id"))
        .union(tables.property.select(F.col("claims").alias("id")))
        .union(tables.lexeme.select(F.col("claims").alias("id")))
    ).alias("k")
    claims = tables.claims.alias("c").join(
        F.broadcast(kept_claim_ids), F.col("c.id") == F.col("k.id"), "left_semi"
    )
    return WikidataTables(
        entity=entity,
        property=tables.property,
        lexeme=tables.lexeme,
        claims=claims,
        staged_parent=tables.staged_parent,
    )


def claims_long(claims: DataFrame) -> DataFrame:
    """Long-format claims: one row per flattened claim, with the Thing id
    split into plain columns.

    The performance-oriented alternative to the per-entity claims array
    (SURVEY §4.1): ``claims[WHERE id = Property:P]`` becomes a plain
    filtered scan whose ``claim_pid = P`` predicate pushes down to
    parquet, and claim-value joins co-partition on (claim_tb, claim_pid).
    ``pos`` preserves the reference's flatten order (mainsnak before its
    qualifiers, tables.rs:76-103), so the array form is reconstructible.
    At 100 TB, materialize this partitioned by claim_tb and bucketed by
    claim_pid so per-property analytics prune to single partitions.
    """
    return claims.select(
        F.col("id").alias("claims_id"),
        F.posexplode("claims").alias("pos", "claim"),
    ).select(
        "claims_id",
        "pos",
        F.col("claim.id.tb").alias("claim_tb"),
        F.col("claim.id.id").alias("claim_pid"),
        F.col("claim.value").alias("value"),
    )


def write_tables(
    tables: WikidataTables,
    out_dir: str,
    mode: str = "overwrite",
    stage: bool = True,
    observe: bool = False,
) -> dict[str, dict[str, int]] | None:
    """Persist the 4 tables as Parquet (the reference's bulk sink,
    utils.rs:152-160, minus the HTTP hop).

    All four outputs derive from ONE parsed/transformed pass over the
    dump; without staging, each write would re-scan and re-parse the raw
    JSON — 4x the dominant CPU cost at 100 TB. ``stage=True`` persists the
    shared transformed parent (MEMORY_AND_DISK: spills rather than OOMs at
    scale, and spilled Tungsten rows are far cheaper to re-read than
    re-parsing JSON) for the duration of the writes. At cluster scale,
    callers should additionally repartition by id hash for downstream join
    locality (see sources/bucketing.py).

    The four writes are submitted CONCURRENTLY (one thread per table):
    they read the same staged parent and are independent jobs, so running
    them serially leaves the cluster idle during each job's tail — the
    scheduler interleaves their tasks instead. The parent is materialized
    first so the concurrent jobs race on cached data, not on computing
    the cache.

    ``observe=True`` attaches a ``DataFrame.observe`` (CollectMetrics)
    per table so data-quality telemetry — row count, empty labels/
    descriptions, total flattened claims — rides the WRITE itself: at
    100 TB a dedicated metrics pass is a full extra corpus read, an
    observation is free. Returns ``{table: {metric: value}}`` when
    observing, else None.
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import StorageLevel

    obs_map: dict[str, object] = {}

    def _observed(name: str, df: DataFrame) -> DataFrame:
        from pyspark.sql import Observation

        metrics = [F.count(F.lit(1)).alias("n_rows")]
        cols = set(df.columns)
        if "label" in cols:
            metrics.append(
                F.sum(F.when(F.col("label") == "", 1).otherwise(0)).alias(
                    "empty_label"
                )
            )
        if "description" in cols:
            metrics.append(
                F.sum(
                    F.when(F.col("description") == "", 1).otherwise(0)
                ).alias("empty_description")
            )
        if "claims" in cols and "label" not in cols:  # the Claims table
            metrics.append(F.sum(F.size("claims")).alias("total_claims"))
        ob = Observation(f"ingest_{name}")
        obs_map[name] = ob
        return df.observe(ob, *metrics)

    parent = tables.staged_parent if stage else None
    if parent is not None:
        parent.persist(StorageLevel.MEMORY_AND_DISK)
        parent.count()  # materialize once, before the writes race on it
    try:
        items = list(tables.as_dict().items())
        if observe:
            items = [(name, _observed(name, df)) for name, df in items]
        with ThreadPoolExecutor(max_workers=len(items)) as pool:
            futures = [
                pool.submit(
                    lambda n=name, d=df: d.write.mode(mode).parquet(
                        f"{out_dir}/{n}.parquet"
                    )
                )
                for name, df in items
            ]
            for f in futures:
                f.result()
    finally:
        if parent is not None:
            parent.unpersist()
    if not observe:
        return None
    # the writes completed, so every observation is resolved; empty
    # tables observe None for sums — degrade to 0 (same rule as
    # curation.observed_profile)
    return {
        name: {
            k: int(v) if v is not None else 0
            for k, v in ob.get.items()
        }
        for name, ob in obs_map.items()
    }


def merge_loads(base: WikidataTables, update: WikidataTables) -> WikidataTables:
    """Incremental re-ingest: merge a newer dump load over an existing
    one with entity-level LAST-LOAD-WINS — an entity present in
    ``update`` replaces its previous version wholesale (label,
    description, and its Claims row), entities absent from the update
    persist. This is the semantics of re-running the reference's bulk
    ingest against a fresher dump revision without rebuilding from
    scratch (the reference has no incremental path — it re-imports the
    full dump; main.rs CREATE_VERSION only selects Bulk vs BulkFilter).

    Shape: per table, union(base tagged 0, update tagged 1) -> one
    row_number window per id keeping the highest tag. One shuffle per
    table on the id key; with both sides bucketed on id
    (sources/bucketing.py) the exchange disappears and the merge is
    map-side — the layout to use for daily 100 TB refreshes. Within-load
    dedup already happened in build_tables, so the window sees at most
    two rows per id."""
    return WikidataTables(
        entity=_last_wins(base.entity, update.entity),
        property=_last_wins(base.property, update.property),
        lexeme=_last_wins(base.lexeme, update.lexeme),
        claims=_last_wins(base.claims, update.claims),
    )


def _last_wins(old: DataFrame, new: DataFrame) -> DataFrame:
    """Entity-level last-load-wins merge of two loads of one table."""
    from pyspark.sql.window import Window

    tagged = old.withColumn("_load", F.lit(0)).unionByName(
        new.withColumn("_load", F.lit(1))
    )
    w = Window.partitionBy("id").orderBy(F.col("_load").desc())
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_load")
    )


def _id_bucket(n_buckets: int) -> Column:
    """Deterministic id-hash bucket from the numeric entity id — a pure
    map (retry/re-ingest stable, engine-portable)."""
    return F.pmod(F.col("id.id"), F.lit(n_buckets)).cast("int")


@contextmanager
def _parsed_once(update: WikidataTables):
    """Persist the update's staged parent for a merge, so all its jobs
    read ONE parse. A parent the caller cached stays the caller's."""
    from pyspark import StorageLevel

    parent = update.staged_parent
    owned = parent is not None and not parent.is_cached
    if owned:
        parent.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield
    finally:
        if owned:
            parent.unpersist()


def _touched_buckets(update: WikidataTables, n_buckets: int) -> dict[str, list[int]]:
    """Every table's touched buckets from ONE job: the distinct ``(id.tb,
    bucket)`` pairs of the parent's ``eid`` and ``claims_id`` (of the
    tables' ids if there is no parent); a table's ``tb`` is its name. The
    parent precedes any :func:`apply_ingest_filter`, so a filtered update
    may list extra buckets, which are rewritten with their live rows."""
    from functools import reduce

    parent = update.staged_parent
    if parent is not None:
        ids = parent.select(F.explode(F.array("eid", "claims_id")).alias("id"))
    else:
        ids = reduce(DataFrame.union, [df.select("id") for df in update.as_dict().values()])
    touched: dict[str, list[int]] = {name: [] for name in update.as_dict()}
    for r in ids.select("id.tb", _id_bucket(n_buckets).alias("b")).distinct().collect():
        touched[r["tb"]].append(r["b"])
    return {name: sorted(bs) for name, bs in touched.items()}


def _merge_by_bucket(base: DataFrame | None, new: DataFrame, n_buckets: int) -> DataFrame:
    """Last-load-wins merge of one table's live touched rows (``base``,
    carrying ``_bucket``) with the update in ONE exchange: the window on
    ``(_bucket, id)`` reuses the ``_bucket`` hash partitioning, and the
    result (one task per bucket) feeds a ``partitionBy`` write as is."""
    from pyspark.sql.window import Window

    rows = new.withColumn("_bucket", _id_bucket(n_buckets)).withColumn("_load", F.lit(1))
    if base is not None:
        rows = base.withColumn("_load", F.lit(0)).unionByName(rows)
    w = Window.partitionBy("_bucket", "id").orderBy(F.col("_load").desc())
    return (
        rows.repartition("_bucket")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_load")
    )


def write_tables_bucketed(
    tables: WikidataTables, out_dir: str, n_buckets: int = 64
) -> None:
    """Persist the 4 tables directory-partitioned by an id-hash bucket
    column — the layout :func:`merge_into_bucketed` needs to refresh a
    100 TB corpus without rewriting it. Each bucket directory is an
    independently replaceable unit (dynamic partition overwrite), and
    scans/merges keyed on id prune to the buckets they touch."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    from wikidata_to_surrealdb_spark.sources.layout import write_partitioned

    for name, df in tables.as_dict().items():
        write_partitioned(
            df.withColumn("_bucket", _id_bucket(n_buckets)),
            f"{out_dir}/{name}.parquet",
            "_bucket",
        )


def merge_into_bucketed(
    spark: SparkSession,
    out_dir: str,
    update: WikidataTables,
    n_buckets: int = 64,
) -> dict[str, list[int]]:
    """Bucket-local incremental merge: apply ``update`` (a fresh dump
    load) onto the bucketed layout written by
    :func:`write_tables_bucketed`, REWRITING ONLY the id-buckets that
    contain updated entities. Returns the touched bucket ids per table
    (under an ingest filter, a superset: see :func:`_touched_buckets`).

    Why not :func:`merge_loads` + full rewrite: a daily refresh touches
    a small fraction of entities; recomputing and rewriting every
    untouched byte of a 100 TB table to apply it is the dominant — and
    avoidable — cost. The steps:

    1. one parse of the update, one probe job for every table's touched
       buckets (:func:`_parsed_once`, :func:`_touched_buckets`);
    2. per table, the base pruned to those buckets (PartitionFilters —
       untouched buckets are never read, let alone rewritten) is
       last-load-wins merged with the update in one exchange;
    3. the merged buckets are materialized into a SIBLING STAGING dir —
       the live table is untouched while the (arbitrarily long) Spark
       job runs, so a crash anywhere up to here loses nothing;
    4. each staged bucket dir is swapped in with two renames (live ->
       trash, staged -> live). The crash window shrinks from the whole
       write job to two filesystem metadata ops per bucket, and the
       trash copy makes even that window recoverable by hand. Untouched
       bucket files stay byte-identical (asserted by test_ingest).

    The swap runs through the ``os`` module, so ``out_dir`` must be a
    driver-local filesystem path (validated below) — ``hdfs://`` /
    ``s3a://`` URIs that Spark's own reader/writer would accept cannot
    be renamed by ``os.rename``. An object-store deployment should
    either target a table format (Iceberg/Delta) whose manifest commit
    provides the same atomicity, or use the manifest-pointer commit in
    :func:`merge_into_bucketed_manifest`, whose only atomic primitive
    (single-file replace) every major object store offers.
    """
    out_dir = _require_local_path(out_dir)
    with _parsed_once(update):
        touched = _touched_buckets(update, n_buckets)
        for name, new_df in update.as_dict().items():
            if not touched[name]:
                continue
            path = f"{out_dir}/{name}.parquet"
            base = spark.read.parquet(path).where(F.col("_bucket").isin(touched[name]))
            staging = f"{path}.staging-{uuid.uuid4().hex[:8]}"
            (
                _merge_by_bucket(base, new_df, n_buckets)
                .write.mode("overwrite")
                .partitionBy("_bucket")
                .parquet(staging)
            )
            staged = [
                b for b in touched[name]
                if os.path.exists(os.path.join(staging, f"_bucket={b}"))
            ]
            _swap_buckets(path, staging, staged)
    return touched


def _require_local_path(out_dir: str) -> str:
    """The bucket-swap protocols commit via driver-local ``os`` renames;
    reject URI-scheme paths (hdfs://, s3a://, ...) up front instead of
    failing mid-swap. ``file:`` URIs are accepted and stripped."""
    import re

    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*)://", out_dir)
    if m is None:
        return out_dir
    if m.group(1) == "file":
        return out_dir[len(m.group(0)) :]  # file:///tmp/x -> /tmp/x
    raise ValueError(
        f"bucketed merge commits via driver-local renames; {out_dir!r} has "
        f"scheme {m.group(1)!r} — use a local path, or a table format / "
        "manifest commit for object stores"
    )


def _swap_buckets(path: str, staging: str, touched: list[int]) -> None:
    """Swap staged ``_bucket=<b>`` dirs into the live table, keeping the
    replaced dirs in a trash sibling until every swap has succeeded.
    Factored out so tests can inject a failure between the staging write
    and the swap (the table must stay readable)."""
    import shutil

    trash = f"{path}.trash-{uuid.uuid4().hex[:8]}"
    os.makedirs(trash)
    swapped = False
    try:
        for b in touched:
            live_b = os.path.join(path, f"_bucket={b}")
            staged_b = os.path.join(staging, f"_bucket={b}")
            if os.path.exists(live_b):
                os.rename(live_b, os.path.join(trash, f"_bucket={b}"))
            os.rename(staged_b, live_b)
        swapped = True
    finally:
        # only clean up after the swap loop itself completed; inferring
        # success from "live dirs exist" would mistake a failed
        # live->trash rename (source left in place) for success and
        # destroy the recovery evidence
        if swapped:
            shutil.rmtree(trash, ignore_errors=True)
            shutil.rmtree(staging, ignore_errors=True)


# --- manifest-pointer bucketed layout (object-store-safe commit) ------------

MANIFEST_NAME = "_MANIFEST.json"


def _read_manifest(table_dir: str) -> dict:
    import json

    with open(os.path.join(table_dir, MANIFEST_NAME)) as fh:
        m = json.load(fh)
    return {
        "version": m["version"],
        "buckets": {int(k): v for k, v in m["buckets"].items()},
        "schema": m.get("schema"),
    }


def _commit_manifest(
    table_dir: str, version: int, buckets: dict[int, str], schema: dict | None = None
) -> None:
    """THE commit for the manifest layout: write the new manifest to a
    temp name, then replace the live one with a SINGLE atomic
    file-replace. That primitive (atomic single-object put) is the one
    every major object store offers, unlike directory rename — which is
    why readers resolve bucket dirs through this pointer instead of
    relying on dirs being swapped in place.

    ``schema`` (the table's files' schema, as ``StructType.jsonValue()``)
    is recorded at bootstrap; a commit without one keeps the live
    manifest's."""
    import json

    live = os.path.join(table_dir, MANIFEST_NAME)
    if schema is None and os.path.exists(live):
        schema = _read_manifest(table_dir)["schema"]
    body: dict = {"version": version, "buckets": {str(k): v for k, v in buckets.items()}}
    if schema is not None:
        body["schema"] = schema
    tmp = os.path.join(table_dir, f".{MANIFEST_NAME}.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as fh:
        json.dump(body, fh)
    os.replace(tmp, live)


def _place_bucket_generations(df: DataFrame, table_dir: str) -> dict[int, str]:
    """Materialize ``df``'s rows as one generation-named directory per
    present bucket (``bucket=<b>-<gen>``), WITHOUT touching the live
    manifest. ``_bucket`` rides inside the files as a data column, so a
    manifest reader gets it back without partition-dir discovery. The
    caller partitions ``df`` by ``_bucket`` (one file per bucket).

    The staged-write-then-rename here is driver-local data PLACEMENT,
    not the commit — a crash leaves unreferenced directories the
    reader never sees (cleaned up opportunistically). On a real object
    store the writer targets the generation keys directly; correctness
    never depends on these renames being atomic."""
    gen = uuid.uuid4().hex[:8]
    staging = f"{table_dir}.genstage-{gen}"
    (
        df.withColumn("_pb", F.col("_bucket"))
        .write.mode("overwrite")
        .partitionBy("_pb")
        .parquet(staging)
    )
    placed: dict[int, str] = {}
    for entry in sorted(os.listdir(staging)):
        if not entry.startswith("_pb="):
            continue
        b = int(entry.split("=", 1)[1])
        dirname = f"bucket={b}-{gen}"
        os.rename(os.path.join(staging, entry), os.path.join(table_dir, dirname))
        placed[b] = dirname
    import shutil

    shutil.rmtree(staging, ignore_errors=True)
    return placed


def write_tables_bucketed_manifest(
    tables: WikidataTables, out_dir: str, n_buckets: int = 64
) -> None:
    """Manifest-pointer twin of :func:`write_tables_bucketed`: each
    table directory holds generation-named bucket dirs plus a
    ``_MANIFEST.json`` naming the live generation per bucket and the
    table's schema (so an empty table reads back). Readers
    (:func:`read_bucketed_manifest`) resolve through the manifest, so
    commits are a single atomic file replace — the protocol that stays
    atomic on object stores where directory rename is not."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    from concurrent.futures import ThreadPoolExecutor

    out_dir = _require_local_path(out_dir)

    def _bootstrap(name: str, df: DataFrame) -> None:
        table_dir = f"{out_dir}/{name}.parquet"
        os.makedirs(table_dir, exist_ok=True)
        df_b = df.withColumn("_bucket", _id_bucket(n_buckets))
        placed = _place_bucket_generations(df_b.repartition("_bucket"), table_dir)
        _commit_manifest(table_dir, 1, placed, df_b.schema.jsonValue())

    # the 4 table writes are independent jobs on independent table dirs
    # (separate manifests); running them from a thread pool lets each
    # job's task tail back-fill the others' idle cores instead of the
    # cluster draining 4 times — same rule as write_tables' concurrent
    # writes
    items = list(tables.as_dict().items())
    with ThreadPoolExecutor(max_workers=len(items)) as pool:
        for f in [pool.submit(_bootstrap, n, d) for n, d in items]:
            f.result()


def read_bucketed_manifest(
    spark: SparkSession, table_dir: str, buckets: list[int] | None = None
) -> DataFrame:
    """Read a manifest-layout table, optionally pruned to ``buckets``.
    Pruning is driver-side directory selection — untouched buckets are
    never listed, opened, or read (stronger than a partition filter).
    The schema the manifest records (at bootstrap) is handed to the
    reader, which then runs no schema-inference job. When no live bucket
    is selected (an empty table, or a pruned read of buckets it lacks)
    the result is an empty frame of that schema; a manifest without one
    raises ValueError."""
    m = _read_manifest(table_dir)
    dirs = [
        os.path.join(table_dir, d)
        for b, d in sorted(m["buckets"].items())
        if buckets is None or b in buckets
    ]
    schema = m["schema"] and T.StructType.fromJson(m["schema"])
    if dirs:
        return (spark.read.schema(schema) if schema else spark.read).parquet(*dirs)
    if not schema:
        raise ValueError(f"no live buckets selected from {table_dir}")
    # an empty LocalRelation: the optimizer folds a join or DELETE over it
    # away instead of running the other side
    return spark.range(0).select(
        [F.lit(None).cast(f.dataType).alias(f.name) for f in schema]
    ).limit(0)


def merge_into_bucketed_manifest(
    spark: SparkSession,
    out_dir: str,
    update: WikidataTables,
    n_buckets: int = 64,
) -> dict[str, list[int]]:
    """Bucket-local incremental merge with a MANIFEST-POINTER commit —
    the object-store-safe sibling of :func:`merge_into_bucketed`
    (which swaps directories in place and therefore needs atomic
    rename). Returns the touched bucket ids per table.

    1. one parse: the update's staged parent is persisted for the whole
       merge, unless the caller cached it (then the caller releases it);
    2. one probe job lists all four tables' touched buckets. It reads
       the parent, so under an ingest filter a list may hold buckets no
       filtered row reaches; those are rewritten with their live rows;
    3. per table, ONE exchange: the touched buckets' live generations
       and the update's rows, hash-partitioned on the bucket, are
       last-load-wins merged;
    4. the merged rows are placed as NEW generation dirs (never
       referenced by the live manifest — a crash here is invisible to
       readers);
    5. COMMIT by atomically replacing ``_MANIFEST.json`` with one
       pointing touched buckets at the new generations;
    6. best-effort delete the superseded generation dirs (failure
       leaves orphans that no reader resolves; retried merges and
       vacuum jobs may clean them any time).

    The crash window around the commit is a single file replace; at no
    point can a reader observe a half-merged table."""
    import shutil
    from concurrent.futures import ThreadPoolExecutor

    out_dir = _require_local_path(out_dir)

    def _merge_one(name: str, new_df: DataFrame, touched: list[int]) -> None:
        table_dir = f"{out_dir}/{name}.parquet"
        manifest = _read_manifest(table_dir)
        live = [b for b in touched if b in manifest["buckets"]]
        base = read_bucketed_manifest(spark, table_dir, live) if live else None
        placed = _place_bucket_generations(
            _merge_by_bucket(base, new_df, n_buckets), table_dir
        )
        new_map = dict(manifest["buckets"])
        new_map.update(placed)
        _commit_manifest(table_dir, manifest["version"] + 1, new_map)
        for b in live:  # superseded generations: best-effort cleanup
            shutil.rmtree(os.path.join(table_dir, manifest["buckets"][b]), ignore_errors=True)

    with _parsed_once(update):
        touched = _touched_buckets(update, n_buckets)
        # per-table merges touch disjoint table dirs and commit disjoint
        # manifests — independent jobs, so overlap them (§ concurrency
        # note on write_tables): the tiny-batch steady state is job-count
        # bound, not byte bound
        items = [(n, d) for n, d in update.as_dict().items() if touched[n]]
        with ThreadPoolExecutor(max_workers=max(1, len(items))) as pool:
            for f in [pool.submit(_merge_one, n, d, touched[n]) for n, d in items]:
                f.result()
    return touched


def vacuum_bucketed_manifest(
    out_dir: str, grace_seconds: float = 3600.0
) -> dict[str, list[str]]:
    """Delete generation dirs (and stray genstage/manifest temp files)
    that the live manifest does not reference — the debris a crashed
    merge legitimately leaves behind (placement ran, commit didn't).

    Concurrency: an IN-FLIGHT merge also has placed-but-uncommitted
    generations and staging dirs that look identical to crash debris —
    vacuuming those would make the merge's subsequent commit point the
    live manifest at deleted directories (a corrupted table, not just a
    failed merge). So vacuum only removes unreferenced entries whose
    mtime is older than ``grace_seconds`` (default 1 h); any live merge
    finishes (and commits its generations into the manifest) well
    within that window, making the removal race-free without a lock.
    Pass ``grace_seconds=0`` ONLY when you can guarantee no merge is
    running (single-writer maintenance window). Returns the removed
    entries per table."""
    import shutil
    import time

    out_dir = _require_local_path(out_dir)
    cutoff = time.time() - max(0.0, grace_seconds)

    def _old_enough(path: str) -> bool:
        try:
            return os.path.getmtime(path) <= cutoff
        except OSError:
            return False  # vanished underneath us: someone else owns it

    removed: dict[str, list[str]] = {}
    for name in sorted(os.listdir(out_dir)):
        table_dir = os.path.join(out_dir, name)
        if not os.path.isdir(table_dir) or not os.path.exists(
            os.path.join(table_dir, MANIFEST_NAME)
        ):
            continue
        live = set(_read_manifest(table_dir)["buckets"].values())
        gone: list[str] = []
        for entry in sorted(os.listdir(table_dir)):
            p = os.path.join(table_dir, entry)
            if not _old_enough(p):
                continue
            if entry.startswith("bucket=") and entry not in live:
                shutil.rmtree(p, ignore_errors=True)
                gone.append(entry)
            elif entry.startswith(f".{MANIFEST_NAME}.tmp-"):
                os.remove(p)
                gone.append(entry)
        # genstage leftovers live as SIBLINGS of the table dir
        removed[name] = gone
    for entry in sorted(os.listdir(out_dir)):
        p = os.path.join(out_dir, entry)
        if ".genstage-" in entry and _old_enough(p):
            shutil.rmtree(p, ignore_errors=True)
            removed.setdefault("_staging", []).append(entry)
    return removed
