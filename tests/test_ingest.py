"""Golden-value ingest tests — the reference's integration suite,
re-expressed (FIXTURES.md §3 / reference tests/integration.rs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests import wikidata_fixtures as fx
from wikidata_to_surrealdb_spark.functions import (
    first_claim_value,
    has_claim,
    link_join,
    register_sql_functions,
)
from wikidata_to_surrealdb_spark.operators.ingest import load_dump


@pytest.fixture(scope="module")
def entity_tables(spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("dump") / "Entity.json"
    fx.write_fixture(str(path), fx.entity_fixture_lines(wrapper=True))
    return load_dump(spark, str(path), "json", lang="en")


def test_g1_black_clover_episodes(spark, entity_tables):
    """G1 (integration.rs:25-54): episode count of 'Black Clover, season 1'
    via claims path P1113 -> quantity.amount == 51.0."""
    t = entity_tables
    joined = link_join(t.entity, t.claims, broadcast_right=True)
    got = (
        joined.where(F.col("label") == "Black Clover, season 1")
        .select(first_claim_value(t.claims["claims"], 1113, "quantity.amount").alias("episodes"))
        .first()
    )
    assert got["episodes"] == 51.0


def test_g1_via_sql(spark, entity_tables):
    entity_tables.views(spark)
    register_sql_functions(spark)
    row = spark.sql(
        """
        SELECT element_at(
                 wd_claims_where(c.claims, 'Property', 1113), 1
               ).value.quantity.amount AS episodes
        FROM Entity e JOIN Claims c ON e.claims = c.id
        WHERE e.label = 'Black Clover, season 1'
        """
    ).first()
    assert row["episodes"] == 51.0


def test_g2_property_count(spark, tmp_path):
    """G2 (integration.rs:77-100): count(Property) == 2."""
    path = tmp_path / "Property.json"
    fx.write_fixture(str(path), fx.property_fixture_lines())
    t = load_dump(spark, str(path), "json", lang="en")
    assert t.property.count() == 2
    assert t.entity.count() == 0
    # labels picked from en, description default behavior
    labels = {r["label"] for r in t.property.collect()}
    assert labels == {"title", "podcast"}


def test_g3_bulkfilter(spark, tmp_path):
    """G3 (integration.rs:56-75 + test_filter.surql): keep only entities
    having a P1113 main claim -> count(Entity) == 3."""
    path = tmp_path / "bench.json"
    fx.write_fixture(str(path), fx.bench_fixture_lines(n=20, with_p1113=3))
    filter_sql = """
        SELECT e.* FROM Entity e JOIN Claims c ON e.claims = c.id
        WHERE size(filter(c.claims, x -> x.id.tb = 'Property' AND x.id.id = 1113)) > 0
    """
    t = load_dump(spark, str(path), "json", filter_sql=filter_sql)
    assert t.entity.count() == 3
    # claims rows of dropped entities are deleted too
    assert t.claims.count() == 3


def test_qualifier_flattening(spark, entity_tables):
    """Qualifiers become sibling claims tagged id.tb='Claims'
    (tables.rs:86-94); P1476's P1810 string qualifier must be present and
    NOT match a Property-table claim filter."""
    t = entity_tables
    row = (
        t.claims.where(F.col("id.id") == 60746544)
        .select(
            F.size(F.expr(
                "filter(claims, c -> c.id.tb = 'Claims' AND c.id.id = 1810)"
            )).alias("as_qualifier"),
            F.size(F.expr(
                "filter(claims, c -> c.id.tb = 'Property' AND c.id.id = 1810)"
            )).alias("as_main"),
        )
        .first()
    )
    assert row["as_qualifier"] == 1
    assert row["as_main"] == 0
    # qualifier follows its main claim in array order
    flat = t.claims.where(F.col("id.id") == 60746544).select(
        F.expr("transform(claims, c -> struct(c.id.tb AS tb, c.id.id AS id))").alias("ids")
    ).first()["ids"]
    seq = [(r["tb"], r["id"]) for r in flat]
    main_idx = seq.index(("Property", 1476))
    assert seq[main_idx + 1] == ("Claims", 1810)


def test_variant_zoo_branches(spark, entity_tables):
    """Every ClaimData variant decodes into its own branch with the right
    kind tag (tables.rs:18-33 / wikidata crate ClaimValueData)."""
    t = entity_tables
    claims = (
        t.claims.where(F.col("id.id") == 777)
        .select(F.explode("claims").alias("c"))
        .select(F.col("c.id.id").alias("pid"), F.col("c.value.*"))
    )
    rows = {r["pid"]: r for r in claims.collect()}
    assert rows[2]["kind"] == "Thing" and rows[2]["thing"]["tb"] == "Property"
    assert rows[3]["thing"] == ("Lexeme", 99)
    assert rows[4]["kind"] == "String" and rows[4]["string"] == "plain string"
    assert rows[5]["external_id"] == "EXT-123"
    assert rows[6]["url"] == "https://example.org/x"
    assert rows[7]["commons_media"] == "Foo.jpg"
    assert rows[8]["math_expr"] == "E=mc^2"
    assert rows[9]["geo_shape"] == "Data:Foo.map"
    assert rows[10]["music_notation"] == "\\relative c'"
    assert rows[11]["tabular_data"] == "Data:Foo.tab"
    q = rows[12]["quantity"]
    assert q["amount"] == 1.5 and q["lower_bound"] == 1.4 and q["upper_bound"] == 1.6
    assert q["unit"] == ("Entity", 11574)
    assert rows[13]["date_time"]["value"] == "+2017-10-03T00:00:00Z"
    assert rows[13]["date_time"]["precision"] == 11
    g = rows[14]["globe_coordinate"]
    assert g["lat"] == 52.5 and g["lon"] == 13.4 and g["globe"] == ("Entity", 2)
    assert rows[15]["kind"] == "NoValue" and rows[15]["no_value"] is True
    assert rows[16]["kind"] == "UnknownValue"
    assert rows[17]["kind"] == "Form" and rows[17]["form"] == "L123-F2"
    assert rows[18]["kind"] == "Sense" and rows[18]["sense"] == "L123-S4"
    assert rows[19]["kind"] == "MonolingualText"
    assert rows[19]["monolingualtext"] == ("Handtuch", "de")
    # MultilingualText: no dump datatype constructs it; branch exists and
    # stays null everywhere (union completeness, crate parity)
    assert all(r["multilingualtext"] is None for r in rows.values())


def test_empty_array_predicate(spark, entity_tables):
    """B7: entity lacking P1113 -> claims_where == [] (test_filter.surql:1-2)."""
    t = entity_tables
    joined = link_join(t.entity, t.claims, broadcast_right=True)
    without = joined.where(~has_claim(t.claims["claims"], "Property", 1113))
    labels = {r["label"] for r in without.select("label").collect()}
    assert labels == {"Towel Day", "variant zoo"}


def test_id_collision_first_writer_wins(spark, tmp_path):
    """Entity Q42 and Property P42 both map to Claims:42; exactly one
    Claims row survives (SURVEY §1.3 first-writer-wins)."""
    lines = fx._to_lines([fx.plain_item(42, "the answer")], wrapper=False)
    lines = lines[:-1] + fx.property_fixture_lines()[1:]  # merge line lists
    path = tmp_path / "collide.json"
    fx.write_fixture(str(path), lines)
    t = load_dump(spark, str(path), "json")
    assert t.claims.where(F.col("id.id") == 42).count() == 1
    assert t.entity.count() == 1 and t.property.count() == 2


def test_bz2_roundtrip(spark, tmp_path):
    """A2: bz2 dump reads identically (splittable codec does the work)."""
    import bz2

    raw = "\n".join(fx.bench_fixture_lines(n=5, with_p1113=2)) + "\n"
    path = tmp_path / "dump.json.bz2"
    path.write_bytes(bz2.compress(raw.encode()))
    t = load_dump(spark, str(path), "bz2")
    assert t.entity.count() == 5


def test_bz2_single_file_splits_and_parallel_decode(spark, tmp_path):
    """A2's scale claim, proven rather than asserted in prose: ONE
    .bz2 file (the real dump's shape — ~80 GB, one file) must plan
    MULTIPLE input splits and decode them in parallel with an exact
    total. bzip2 writes a block marker every ~900 KB of raw input, so
    a multi-block single file is splittable mid-file; gzip (the
    negative control below) is not. ~40k lines (~10 MB raw, ~11
    blocks) under a 256 KB maxPartitionBytes cap => several splits,
    and at least two of them must actually yield rows (true parallel
    decode, not one fat split plus empties)."""
    import bz2
    import hashlib

    # pseudo-random label text: repetitive padding compresses below the
    # split cap and defeats the point (one split); hashed hex keeps the
    # compressed file multi-block
    def _label(i: int) -> str:
        h = hashlib.md5(str(i).encode()).hexdigest()
        return (h * 4)[:120]

    line = (
        '{"id": "Q%d", "type": "item", "labels": {"en": '
        '{"language": "en", "value": "%s"}}},'
    )
    n = 40_000
    raw = "[\n" + "\n".join(line % (i, _label(i)) for i in range(n)) + "\n]\n"
    path = tmp_path / "dump.json.bz2"
    path.write_bytes(bz2.compress(raw.encode()))
    from wikidata_to_surrealdb_spark.sources.dump_reader import read_dump_lines

    old = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(256 * 1024))
    try:
        lines = read_dump_lines(spark, str(path), "bz2")
        n_splits = lines.rdd.getNumPartitions()
        assert n_splits > 1, "single-file bz2 planned only one split"
        per_split = lines.rdd.mapPartitions(
            lambda it: [sum(1 for _ in it)]
        ).collect()
        assert sum(per_split) == n
        assert sum(1 for c in per_split if c > 0) >= 2, (
            f"decode was not parallel: {per_split}"
        )
        t = load_dump(spark, str(path), "bz2")
        assert t.entity.count() == n
    finally:
        if old is None:
            spark.conf.unset("spark.sql.files.maxPartitionBytes")
        else:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_gz_roundtrip(spark, tmp_path):
    """gz dump variant reads identically (unsplittable codec — the reader
    warns to prefer bz2 at scale, but the 130 GB gzip dump must load)."""
    import gzip

    raw = "\n".join(fx.bench_fixture_lines(n=5, with_p1113=2)) + "\n"
    path = tmp_path / "dump.json.gz"
    path.write_bytes(gzip.compress(raw.encode()))
    t = load_dump(spark, str(path), "gz")
    assert t.entity.count() == 5


def test_strict_mode_raises(spark, tmp_path):
    path = tmp_path / "bad.json"
    path.write_text('[\n{"id": "Q1", "type": "item"},\nnot json at all,\n]\n')
    from wikidata_to_surrealdb_spark.operators.ingest import parse_entities
    from wikidata_to_surrealdb_spark.sources.dump_reader import read_dump_lines

    lines = read_dump_lines(spark, str(path))
    with pytest.raises(ValueError, match="strict"):
        parse_entities(lines, strict=True)
    # permissive: bad line skipped
    assert parse_entities(lines, strict=False).count() == 1


def test_dump_lines_strip_trailing_comma_once(spark, tmp_path):
    """read_dump_lines keeps the reference's line rules (trim, strip one
    trailing comma, drop wrapper lines and blanks) while the optimized
    plans of it and of parse_entities evaluate the strip once per line."""
    import json

    from wikidata_to_surrealdb_spark.operators.ingest import parse_entities
    from wikidata_to_surrealdb_spark.sources.dump_reader import read_dump_lines

    ent = json.dumps({"type": "item", "id": "Q1", "labels": {}, "claims": {}})
    edge = ["[", "]", "[,", "],", ",", ",,", "", "   ", " [ ", ent + ",", ent, f"  {ent},  "]
    path = tmp_path / "edge.json"
    path.write_text("\n".join(edge) + "\n")

    lines = read_dump_lines(spark, str(path))
    # reference rules: strip first, then filter on the stripped line
    stripped = F.regexp_replace(F.trim(F.col("value")), r",$", "").alias("line")
    want = (
        spark.read.text(str(path))
        .select(stripped)
        .where(~F.col("line").isin("[", "]") & (F.length("line") > 0))
    )
    got = [r["line"] for r in lines.collect()]
    assert got == [r["line"] for r in want.collect()]
    assert got == [",", ent, ent, ent]

    for df in (lines, parse_entities(lines)):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("regexp_replace") == 1, plan


def test_claims_long_roundtrip(spark, entity_tables):
    """Long format explodes every claim exactly once, preserves the flatten
    order, and answers the array-filter idiom as a plain filtered scan."""
    from wikidata_to_surrealdb_spark.operators.ingest import claims_long

    t = entity_tables
    long = claims_long(t.claims)
    n_arr = t.claims.select(F.sum(F.size("claims"))).first()[0]
    assert long.count() == n_arr
    # G1 via the long table: first P1113 main claim of Black Clover s1
    bc = t.entity.where(F.col("label") == "Black Clover, season 1").first()
    amt = (
        long.where(
            (F.col("claims_id.tb") == bc["claims"]["tb"])
            & (F.col("claims_id.id") == bc["claims"]["id"])
            & (F.col("claim_tb") == "Property")
            & (F.col("claim_pid") == 1113)
        )
        .orderBy("pos")
        .first()["value"]["quantity"]["amount"]
    )
    assert amt == 51.0


def test_env_driven_main(spark, tmp_path, monkeypatch):
    """The reference's env-var contract (main.rs:14-43) drives the same
    pipeline here; BulkFilter reads FILTER_PATH SQL."""
    from tests import wikidata_fixtures as fx
    from wikidata_to_surrealdb_spark import main as wd_main

    dump = tmp_path / "dump.json"
    fx.write_fixture(str(dump), fx.entity_fixture_lines(wrapper=True))
    out = tmp_path / "out"
    monkeypatch.setenv("WIKIDATA_FILE_NAME", str(dump))
    monkeypatch.setenv("WIKIDATA_FILE_FORMAT", "json")
    monkeypatch.setenv("WIKIDATA_LANG", "en")
    monkeypatch.setenv("CREATE_VERSION", "Bulk")
    monkeypatch.setenv("WIKIDATA_OUT_DIR", str(out))
    assert wd_main.run_from_env(spark) == str(out)
    ent = spark.read.parquet(f"{out}/Entity.parquet")
    assert ent.where(F.col("label") == "Black Clover, season 1").count() == 1

    # BulkFilter: keep only entities that have claim P1113
    flt = tmp_path / "filter.sql"
    flt.write_text(
        "SELECT e.id FROM Entity e JOIN Claims c ON e.claims = c.id "
        "WHERE size(filter(c.claims, x -> x.id.tb = 'Property' AND x.id.id = 1113)) > 0"
    )
    monkeypatch.setenv("CREATE_VERSION", "BulkFilter")
    monkeypatch.setenv("FILTER_PATH", str(flt))
    monkeypatch.setenv("WIKIDATA_OUT_DIR", str(tmp_path / "out2"))
    wd_main.run_from_env(spark)
    ent2 = spark.read.parquet(f"{tmp_path}/out2/Entity.parquet")
    assert ent2.count() == 1


def test_env_main_validation(monkeypatch):
    from wikidata_to_surrealdb_spark import main as wd_main

    monkeypatch.delenv("WIKIDATA_FILE_NAME", raising=False)
    with pytest.raises(ValueError, match="WIKIDATA_FILE_NAME"):
        wd_main.run_from_env(object())
    monkeypatch.setenv("WIKIDATA_FILE_NAME", "/nope")
    monkeypatch.setenv("CREATE_VERSION", "ThreadedSingle")
    with pytest.raises(ValueError, match="CREATE_VERSION"):
        wd_main.run_from_env(object())


def test_minhash_collapse_exact(spark):
    """On a duplicate-dense corpus, collapse_exact reports the same
    near-dup structure as running on distinct texts, without the b^2
    within-bucket pair blowup of b identical copies."""
    from pyspark.sql import functions as F

    from wikidata_to_surrealdb_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # 4 exact copies of every doc, ids spread so copies are not adjacent
    dup = (
        docs.crossJoin(spark.range(4).select(F.col("id").alias("_r")))
        .withColumn("doc_id", F.col("doc_id") + F.col("_r") * 1_000_000)
        .drop("_r")
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_dedup(
            dup, num_hashes=8, bands=4, k=3, threshold=0.1, collapse_exact=True
        ).collect()
    }
    expect = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_dedup(
            docs, num_hashes=8, bands=4, k=3, threshold=0.1
        ).collect()
    }
    # representatives are the original (lowest) ids, so the pair sets match
    assert got == expect
    assert len(got) > 0


def test_minhash_token_cache_released_across_calls(spark):
    """persist_tokens holds at most ONE token cache: the next call (and
    release_token_cache) unpersist the previous one, so repeated calls in
    one session can't accumulate ~corpus-token-size cached data."""
    from wikidata_to_surrealdb_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    dedup.minhash_dedup(docs, threshold=0.1).count()
    first = dedup._token_cache[0]
    assert first.storageLevel.useMemory  # persisted
    # second call on a DIFFERENT plan (same-plan re-persist would re-register
    # the identical cache entry and mask the release)
    dedup.minhash_dedup(docs.limit(50), threshold=0.1).count()
    assert not first.storageLevel.useMemory  # prior cache released
    assert len(dedup._token_cache) == 1
    dedup.release_token_cache()
    assert dedup._token_cache == []


def test_duplicate_entity_id_keeps_first_line(spark, tmp_path):
    """Duplicate Q-ids in one dump: the EARLIEST dump line wins for the
    mini tables, same deterministic rule as the Claims path (the
    reference's unchecked INSERT = first-writer-wins, SURVEY §1.3)."""
    lines = fx._to_lines(
        [fx.plain_item(7, "first label"), fx.plain_item(7, "second label")],
        wrapper=False,
    )
    path = tmp_path / "dupe.json"
    fx.write_fixture(str(path), lines)
    t = load_dump(spark, str(path), "json")
    rows = t.entity.where(F.col("id.id") == 7).collect()
    assert len(rows) == 1
    assert rows[0]["label"] == "first label"


def test_bucketed_merge_rejects_object_store_uri():
    """The manifest layout places and commits through driver-local file
    operations; every entry point must fail fast on hdfs:// / s3a://
    paths Spark itself would accept, and strip file:// URIs."""
    from wikidata_to_surrealdb_spark.operators.ingest import (
        _require_local_path,
        merge_into_bucketed_manifest,
        vacuum_bucketed_manifest,
        write_tables_bucketed_manifest,
    )

    for bad in ("s3a://bucket/tables", "hdfs://nn:8020/tables"):
        for call in (
            lambda: write_tables_bucketed_manifest(None, bad),
            lambda: merge_into_bucketed_manifest(None, bad, None),
            lambda: vacuum_bucketed_manifest(bad),
        ):
            with pytest.raises(ValueError, match="scheme"):
                call()
    assert _require_local_path("file:///tmp/x") == "/tmp/x"
    assert _require_local_path("/plain/path") == "/plain/path"


def _mk_dump(path, ents):
    import json

    lines = [
        json.dumps(
            {
                "id": f"Q{i}",
                "type": "item",
                "labels": {"en": {"language": "en", "value": label}},
                "descriptions": {},
                "aliases": {},
                "claims": {},
                "sitelinks": {},
            }
        )
        for i, label in ents
    ]
    with open(path, "w") as fh:
        fh.write("[\n" + ",\n".join(lines) + "\n]\n")
    return str(path)


def test_manifest_merge_rewrites_only_touched_generations(spark, tmp_path):
    """Manifest-pointer layout: a merge writes NEW generation dirs for
    touched buckets and commits by atomically replacing _MANIFEST.json;
    untouched buckets keep their generation dirs byte-identical."""
    import hashlib
    import json
    import os

    from wikidata_to_surrealdb_spark.operators.ingest import (
        merge_into_bucketed_manifest,
        read_bucketed_manifest,
        write_tables_bucketed_manifest,
    )

    base = load_dump(
        spark,
        _mk_dump(tmp_path / "base.json", [(i, f"base{i}") for i in range(1, 9)]),
        "json",
        lang="en",
    )
    out = str(tmp_path / "tables")
    write_tables_bucketed_manifest(base, out, n_buckets=4)
    ent_dir = f"{out}/Entity.parquet"
    m1 = json.load(open(f"{ent_dir}/_MANIFEST.json"))
    assert m1["version"] == 1 and set(m1["buckets"]) <= {"0", "1", "2", "3"}

    def snapshot(skip_bucket):
        snap = {}
        for dirpath, _d, files in os.walk(out):
            if f"bucket={skip_bucket}-" in dirpath:
                continue
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    snap[p] = hashlib.md5(open(p, "rb").read()).hexdigest()
        return snap

    before = snapshot(2)
    upd = load_dump(
        spark,
        _mk_dump(tmp_path / "upd.json", [(2, "updated2"), (10, "new10")]),
        "json",
        lang="en",
    )
    touched = merge_into_bucketed_manifest(spark, out, upd, n_buckets=4)
    assert touched["Entity"] == [2]
    assert snapshot(2) == before  # untouched generations byte-identical
    m2 = json.load(open(f"{ent_dir}/_MANIFEST.json"))
    assert m2["version"] == 2
    assert m2["buckets"]["2"] != m1["buckets"]["2"]  # new generation
    for b in ("0", "1", "3"):
        if b in m1["buckets"]:
            assert m2["buckets"][b] == m1["buckets"][b]

    got = {
        r["id"]["id"]: r["label"]
        for r in read_bucketed_manifest(spark, ent_dir).collect()
    }
    assert got[2] == "updated2" and got[10] == "new10"
    assert got[1] == "base1" and len(got) == 9
    # pruned read touches only the asked-for bucket
    pruned = read_bucketed_manifest(spark, ent_dir, [2]).collect()
    assert {r["_bucket"] for r in pruned} == {2}


def test_manifest_merge_crash_before_commit_is_invisible(spark, tmp_path, monkeypatch):
    """Failure injection at the commit point: new generation dirs exist
    but the manifest replace never ran — readers resolve the OLD
    manifest and see the exact pre-merge table; a retry succeeds."""
    import json

    from wikidata_to_surrealdb_spark.operators import ingest as ingest_mod
    from wikidata_to_surrealdb_spark.operators.ingest import (
        merge_into_bucketed_manifest,
        read_bucketed_manifest,
        write_tables_bucketed_manifest,
    )

    base = load_dump(
        spark,
        _mk_dump(tmp_path / "base.json", [(i, f"base{i}") for i in range(1, 9)]),
        "json",
        lang="en",
    )
    out = str(tmp_path / "tables")
    write_tables_bucketed_manifest(base, out, n_buckets=4)
    ent_dir = f"{out}/Entity.parquet"
    m1 = json.load(open(f"{ent_dir}/_MANIFEST.json"))

    upd = load_dump(
        spark,
        _mk_dump(tmp_path / "upd.json", [(2, "updated2"), (10, "new10")]),
        "json",
        lang="en",
    )
    real_commit = ingest_mod._commit_manifest

    def boom(table_dir, version, buckets):
        if version > 1:
            raise RuntimeError("injected crash at manifest commit")
        return real_commit(table_dir, version, buckets)

    monkeypatch.setattr(ingest_mod, "_commit_manifest", boom)
    with pytest.raises(RuntimeError, match="injected"):
        merge_into_bucketed_manifest(spark, out, upd, n_buckets=4)

    # live manifest unchanged -> readers see the pre-merge table exactly
    assert json.load(open(f"{ent_dir}/_MANIFEST.json")) == m1
    got = {
        r["id"]["id"]: r["label"]
        for r in read_bucketed_manifest(spark, ent_dir).collect()
    }
    assert got == {i: f"base{i}" for i in range(1, 9)}

    # retry with the real commit succeeds despite orphan generations
    monkeypatch.setattr(ingest_mod, "_commit_manifest", real_commit)
    merge_into_bucketed_manifest(spark, out, upd, n_buckets=4)
    got = {
        r["id"]["id"]: r["label"]
        for r in read_bucketed_manifest(spark, ent_dir).collect()
    }
    assert got[2] == "updated2" and got[10] == "new10" and len(got) == 9


def test_manifest_vacuum_removes_only_orphans(spark, tmp_path, monkeypatch):
    """vacuum_bucketed_manifest deletes generations a crashed merge
    orphaned (placed but never committed) while leaving every
    manifest-referenced dir untouched; the table reads identically
    before and after."""
    import json
    import os

    from wikidata_to_surrealdb_spark.operators import ingest as ingest_mod
    from wikidata_to_surrealdb_spark.operators.ingest import (
        merge_into_bucketed_manifest,
        read_bucketed_manifest,
        vacuum_bucketed_manifest,
        write_tables_bucketed_manifest,
    )

    base = load_dump(
        spark,
        _mk_dump(tmp_path / "base.json", [(i, f"base{i}") for i in range(1, 9)]),
        "json",
        lang="en",
    )
    out = str(tmp_path / "tables")
    write_tables_bucketed_manifest(base, out, n_buckets=4)
    upd = load_dump(
        spark,
        _mk_dump(tmp_path / "upd.json", [(2, "updated2")]),
        "json",
        lang="en",
    )
    real_commit = ingest_mod._commit_manifest

    def boom(table_dir, version, buckets):
        if version > 1:
            raise RuntimeError("injected")
        return real_commit(table_dir, version, buckets)

    monkeypatch.setattr(ingest_mod, "_commit_manifest", boom)
    with pytest.raises(RuntimeError):
        merge_into_bucketed_manifest(spark, out, upd, n_buckets=4)
    monkeypatch.setattr(ingest_mod, "_commit_manifest", real_commit)

    ent_dir = f"{out}/Entity.parquet"
    live = set(
        json.load(open(f"{ent_dir}/_MANIFEST.json"))["buckets"].values()
    )
    on_disk = {e for e in os.listdir(ent_dir) if e.startswith("bucket=")}
    assert on_disk - live, "crash should have left orphan generations"

    before = {
        r["id"]["id"]: r["label"]
        for r in read_bucketed_manifest(spark, ent_dir).collect()
    }
    # default grace period: fresh unreferenced dirs could belong to an
    # IN-FLIGHT merge (placed, not yet committed) — vacuum must not
    # touch them
    assert vacuum_bucketed_manifest(out).get("Entity.parquet") == []
    assert {
        e for e in os.listdir(ent_dir) if e.startswith("bucket=")
    } == on_disk
    # grace 0 = caller asserts single-writer: crash debris is removable
    removed = vacuum_bucketed_manifest(out, grace_seconds=0)
    assert set(removed["Entity.parquet"]) == on_disk - live
    after_disk = {e for e in os.listdir(ent_dir) if e.startswith("bucket=")}
    assert after_disk == live
    after = {
        r["id"]["id"]: r["label"]
        for r in read_bucketed_manifest(spark, ent_dir).collect()
    }
    assert after == before


def _write_entities(path, entities):
    import json

    with open(path, "w") as fh:
        fh.write("[\n" + ",\n".join(json.dumps(e) for e in entities) + "\n]\n")
    return str(path)


def _ent(eid, label):
    """A bare entity line: Q -> item, P -> property, L -> lexeme; each
    with one claim so the Claims rows carry content."""
    kind = {"Q": "item", "P": "property", "L": "lexeme"}[eid[0]]
    return {
        "type": kind,
        "id": eid,
        "labels": {"en": {"language": "en", "value": label}},
        "descriptions": {"en": {"language": "en", "value": f"about {label}"}},
        "claims": {
            "P31": [fx._statement("P31", "string", f"claim of {label}")]
        },
    }


def _table_rows(df):
    import json

    cols = sorted(c for c in df.columns if c != "_bucket")
    return sorted(
        json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
        for r in df.select(*cols).collect()
    )


@pytest.mark.parametrize("filtered", [False, True], ids=["plain", "filtered"])
def test_bucketed_merges_match_merge_loads(spark, tmp_path, filtered):
    """The bucketed-manifest merge gives, on all 4 tables, exactly what
    merge_loads + a full rewrite gives. The update
    repeats an id (first line wins), holds a Q/P numeric-id collision
    (one Claims row), reaches buckets the base lacks, and (``filtered``)
    passes through apply_ingest_filter, where the parent-derived probe
    may list extra buckets whose live rows must come back unchanged."""
    from wikidata_to_surrealdb_spark.operators.ingest import (
        apply_ingest_filter,
        merge_into_bucketed_manifest,
        merge_loads,
        read_bucketed_manifest,
        write_tables,
        write_tables_bucketed_manifest,
    )

    n = 8
    # base ids are all even: buckets 1, 3, 5, 7 hold no base rows
    base_ents = [_ent(f"Q{i}", f"base Q{i}") for i in range(2, 30, 2)]
    base_ents += [_ent("P4", "base P4"), _ent("L6", "base L6")]
    upd_ents = [
        _ent("Q4", "new Q4"),
        _ent("Q4", "later Q4"),  # same id again: the first line wins
        _ent("Q9", "new Q9"),  # bucket 1: absent from the base
        _ent("P9", "new P9"),  # collides with Q9 on Claims:9
        _ent("L6", "new L6"),
        _ent("Q13", "dropme"),  # bucket 5: absent from the base
        _ent("Q22", "dropme"),  # bucket 6: live, in Entity reached only by it
    ]
    base_path = _write_entities(tmp_path / "base.json", base_ents)
    upd_path = _write_entities(tmp_path / "upd.json", upd_ents)

    def update():
        t = load_dump(spark, upd_path)
        if filtered:
            t = apply_ingest_filter(
                spark, t, "SELECT * FROM Entity WHERE label <> 'dropme'"
            )
        return t

    full = str(tmp_path / "full")
    write_tables(merge_loads(load_dump(spark, base_path), update()), full)
    man = str(tmp_path / "man")
    write_tables_bucketed_manifest(load_dump(spark, base_path), man, n_buckets=n)
    touched = merge_into_bucketed_manifest(spark, man, update(), n_buckets=n)
    assert touched["Entity"] == [1, 4, 5, 6]
    assert touched["Claims"] == [1, 4, 5, 6]

    for table in ("Entity", "Property", "Lexeme", "Claims"):
        want = _table_rows(spark.read.parquet(f"{full}/{table}.parquet"))
        assert want, table
        got = _table_rows(read_bucketed_manifest(spark, f"{man}/{table}.parquet"))
        assert got == want, table
    labels = {
        r["label"] for r in read_bucketed_manifest(spark, f"{man}/Entity.parquet").collect()
    }
    assert "new Q4" in labels and "later Q4" not in labels
    assert ("dropme" in labels) != filtered


@pytest.mark.parametrize(
    "writer",
    ["write_tables", "write_tables_bucketed_manifest", "merge_into_bucketed_manifest"],
)
def test_bucketed_merge_staged_parent_ownership(spark, tmp_path, monkeypatch, writer):
    """Every ingest writer runs its per-table jobs on a cached staged
    parent. A parent the writer persisted itself is released by the
    writer; one the caller persisted is still cached afterwards (the
    caller releases it)."""
    from wikidata_to_surrealdb_spark.operators import ingest

    base = str(tmp_path / "base")
    if writer == "merge_into_bucketed_manifest":
        base_dump = _mk_dump(tmp_path / "base.json", [(i, f"base{i}") for i in range(1, 9)])
        ingest.write_tables_bucketed_manifest(load_dump(spark, base_dump), base, n_buckets=4)
    write = {
        "write_tables": lambda t, out: ingest.write_tables(t, out),
        "write_tables_bucketed_manifest": lambda t, out: (
            ingest.write_tables_bucketed_manifest(t, out, n_buckets=4)
        ),
        "merge_into_bucketed_manifest": lambda t, out: (
            ingest.merge_into_bucketed_manifest(spark, base, t, n_buckets=4)
        ),
    }[writer]

    def cached(df):
        level = df.storageLevel
        return df.is_cached and (level.useMemory or level.useDisk)

    seen: list[bool] = []
    per_table = ingest._per_table

    def recording(step, items):
        def recorded(*args):
            seen.append(cached(parent))
            step(*args)

        per_table(recorded, items)

    monkeypatch.setattr(ingest, "_per_table", recording)
    for i, caller_cached in enumerate([True, False]):
        upd = load_dump(spark, _mk_dump(tmp_path / f"u{i}.json", [(2 + i, f"u{i}")]))
        parent = upd.staged_parent
        if caller_cached:
            parent.persist()
            parent.count()
        seen.clear()
        try:
            write(upd, str(tmp_path / f"out{i}"))
            assert seen and all(seen), seen
            assert cached(parent) == caller_cached
        finally:
            parent.unpersist()


def test_claims_element_type_is_claim_schema(entity_tables):
    """The ClaimData branches the ingest builds (one typed NULL per
    schema field) give the Claims table exactly ``schemas.CLAIM``."""
    from wikidata_to_surrealdb_spark import schemas

    element = entity_tables.claims.schema["claims"].dataType.elementType
    assert element.simpleString() == schemas.CLAIM.simpleString()


def test_manifest_reads_empty_table_by_recorded_schema(spark, tmp_path):
    """A lexeme-free dump bootstraps an empty Lexeme table; after a merge
    it still reads back as 0 rows with the table's columns plus
    ``_bucket``. A manifest that records no schema keeps the error."""
    import json

    from wikidata_to_surrealdb_spark.operators.ingest import (
        MANIFEST_NAME,
        merge_into_bucketed_manifest,
        read_bucketed_manifest,
        write_tables_bucketed_manifest,
    )

    base = load_dump(spark, _mk_dump(tmp_path / "base.json", [(1, "a"), (2, "b")]))
    out = str(tmp_path / "t")
    write_tables_bucketed_manifest(base, out, n_buckets=4)
    merge_into_bucketed_manifest(
        spark, out, load_dump(spark, _mk_dump(tmp_path / "u.json", [(3, "c")])), n_buckets=4
    )
    lex_dir = f"{out}/Lexeme.parquet"
    lex = read_bucketed_manifest(spark, lex_dir)
    assert lex.count() == 0
    assert lex.columns == base.lexeme.columns + ["_bucket"]
    # a pruned read selecting no live bucket is empty too
    ent_dir = f"{out}/Entity.parquet"
    live = json.load(open(f"{ent_dir}/{MANIFEST_NAME}"))["buckets"]
    absent = [b for b in range(4) if str(b) not in live]
    if absent:
        assert read_bucketed_manifest(spark, ent_dir, absent).count() == 0

    m = json.load(open(f"{ent_dir}/{MANIFEST_NAME}"))
    assert m["version"] == 2 and "schema" in m  # the merge kept the schema
    with open(f"{lex_dir}/{MANIFEST_NAME}") as fh:
        m = json.load(fh)
    del m["schema"]
    with open(f"{lex_dir}/{MANIFEST_NAME}", "w") as fh:
        json.dump(m, fh)
    with pytest.raises(ValueError, match="no live buckets"):
        read_bucketed_manifest(spark, lex_dir)


# a dump line cut right after a key of the labels map: from_json's partial
# result still carries the id
_CUT_AFTER_MAP_KEY = (
    '{"type":"item","id":"Q77","labels":{"en":{"language":"en",'
    '"value":"cut short"},"de":'
)


def test_truncated_line_after_map_key_dropped(spark, tmp_path):
    """Lenient mode drops a line cut after a labels-map key (no Entity
    and no Claims row); valid lines around it survive."""
    import json

    path = tmp_path / "cut.json"
    path.write_text(
        "[\n"
        + json.dumps(fx.plain_item(1, "whole")) + ",\n"
        + _CUT_AFTER_MAP_KEY + ",\n"
        + json.dumps(fx.plain_item(2, "also whole")) + "\n]\n"
    )
    t = load_dump(spark, str(path))
    assert sorted(r["id"]["id"] for r in t.entity.collect()) == [1, 2]
    assert sorted(r["id"]["id"] for r in t.claims.collect()) == [1, 2]


def test_truncated_line_after_map_key_raises_in_strict(spark, tmp_path):
    import json

    path = tmp_path / "cut.json"
    path.write_text(
        "[\n" + json.dumps(fx.plain_item(1, "whole")) + ",\n" + _CUT_AFTER_MAP_KEY + "\n]\n"
    )
    with pytest.raises(ValueError, match="strict"):
        load_dump(spark, str(path), strict=True)


# ---------------------------------------------------------------------------
# scd2_merge
# ---------------------------------------------------------------------------


def _dim(spark, rows):
    from datetime import date

    data = [
        (k, seg, bal, date.fromisoformat(vf), date.fromisoformat(vt), cur)
        for k, seg, bal, vf, vt, cur in rows
    ]
    return spark.createDataFrame(
        data, ["k", "seg", "bal", "valid_from", "valid_to", "is_current"]
    )


def test_scd2_merge_change_new_identical_absent(spark):
    from datetime import date

    from wikidata_to_surrealdb_spark.operators.mutations import scd2_merge

    dim = _dim(
        spark,
        [
            (1, "A", 10.0, "2024-01-01", "9999-12-31", True),  # will change
            (2, "B", 20.0, "2024-01-01", "9999-12-31", True),  # identical in snap
            (3, "C", 30.0, "2024-01-01", "9999-12-31", True),  # absent from snap
        ],
    )
    snap = spark.createDataFrame(
        [(1, "A", 11.0), (2, "B", 20.0), (9, "N", 1.0)], ["k", "seg", "bal"]
    )
    out = scd2_merge(dim, snap, ["k"], ["seg", "bal"], "2024-06-01")
    rows = {(r.k, r.bal, r.valid_from, r.valid_to, r.is_current) for r in out.collect()}
    eff, end, start = date(2024, 6, 1), date(9999, 12, 31), date(2024, 1, 1)
    assert rows == {
        (1, 10.0, start, eff, False),  # closed old version
        (1, 11.0, eff, end, True),  # new version
        (2, 20.0, start, end, True),  # identical -> untouched
        (3, 30.0, start, end, True),  # absent -> untouched
        (9, 1.0, eff, end, True),  # brand-new key
    }


def test_scd2_merge_preserves_history_and_null_safe_compare(spark):
    from datetime import date

    from wikidata_to_surrealdb_spark.operators.mutations import scd2_merge

    dim = _dim(
        spark,
        [
            (1, "A", 5.0, "2023-01-01", "2024-01-01", False),  # history row
            (1, "A", 10.0, "2024-01-01", "9999-12-31", True),
        ],
    )
    # NULL seg vs 'A': null-safe compare must see a CHANGE
    snap = spark.createDataFrame(
        [(1, None, 10.0)], "k: bigint, seg: string, bal: double"
    )
    out = scd2_merge(dim, snap, ["k"], ["seg", "bal"], "2024-06-01")
    rows = {(r.seg, r.valid_to, r.is_current) for r in out.collect()}
    assert ("A", date(2024, 1, 1), False) in rows  # history untouched
    assert ("A", date(2024, 6, 1), False) in rows  # closed
    assert (None, date(9999, 12, 31), True) in rows  # new NULL-seg version


def test_scd2_merge_idempotent_on_identical_snapshot(spark):
    from wikidata_to_surrealdb_spark.operators.mutations import scd2_merge

    dim = _dim(spark, [(1, "A", 10.0, "2024-01-01", "9999-12-31", True)])
    snap = spark.createDataFrame([(1, "A", 10.0)], ["k", "seg", "bal"])
    out = scd2_merge(dim, snap, ["k"], ["seg", "bal"], "2024-06-01")
    again = scd2_merge(out, snap, ["k"], ["seg", "bal"], "2024-07-01")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_snapshot_diff_classification(spark):
    from wikidata_to_surrealdb_spark.operators.mutations import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, None, 40.0)],
        "k: bigint, seg: string, bal: double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 25.0), (4, "d", 40.0), (5, "e", 50.0)],
        "k: bigint, seg: string, bal: double",
    )
    out = {r.k: (r.op, r.old_bal, r.new_bal) for r in
           snapshot_diff(old, new, ["k"], ["seg", "bal"]).collect()}
    assert 1 not in out  # unchanged -> silent
    assert out[2] == ("U", 20.0, 25.0)
    assert out[3] == ("D", 30.0, None)
    assert out[4][0] == "U"  # NULL -> 'd' is a real update
    assert out[5] == ("I", None, 50.0)


def test_snapshot_diff_roundtrip_with_scd2(spark):
    """The CDC producer and consumer compose: applying the diff's
    updates+inserts as an SCD2 snapshot yields a dimension whose current
    rows equal the new snapshot for those keys."""
    from datetime import date

    from wikidata_to_surrealdb_spark.operators.mutations import (
        scd2_merge,
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k: bigint, seg: string, bal: double"
    )
    new = spark.createDataFrame(
        [(1, "a", 11.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k: bigint, seg: string, bal: double",
    )
    diff = snapshot_diff(old, new, ["k"], ["seg", "bal"])
    feed = diff.where("op IN ('I','U')").selectExpr(
        "k", "new_seg AS seg", "new_bal AS bal"
    )
    from pyspark.sql import functions as F

    dim = old.select(
        "k", "seg", "bal",
        F.lit("2024-01-01").cast("date").alias("valid_from"),
        F.lit("9999-12-31").cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    merged = scd2_merge(dim, feed, ["k"], ["seg", "bal"], "2024-06-01")
    current = {(r.k, r.bal) for r in merged.where("is_current").collect()}
    assert current == {(1, 11.0), (2, 20.0), (3, 30.0)}


def test_write_tables_observed_metrics(spark, tmp_path):
    """write_tables(observe=True): telemetry rides the write action via
    CollectMetrics (no extra scan) and the returned values match the
    written data (VERDICT r07 #7 — the production home of
    curation.observed_profile's mechanism)."""
    dump = tmp_path / "dump.json"
    fx.write_fixture(str(dump), fx.entity_fixture_lines(wrapper=True))
    tables = load_dump(spark, str(dump), "json", lang="en")

    # the observed write plan must carry the CollectMetrics node
    from pyspark.sql import Observation

    ob = Observation("pin")
    observed = tables.entity.observe(ob, F.count(F.lit(1)).alias("n"))
    plan = observed._jdf.queryExecution().analyzed().toString()
    assert "CollectMetrics" in plan, plan

    from wikidata_to_surrealdb_spark.operators.ingest import write_tables

    out = tmp_path / "out"
    metrics = write_tables(tables, str(out), observe=True)
    assert metrics is not None
    # values agree with what actually landed on disk
    for name in ("Entity", "Property", "Lexeme", "Claims"):
        on_disk = spark.read.parquet(f"{out}/{name}.parquet")
        assert metrics[name]["n_rows"] == on_disk.count(), (name, metrics)
    ent = spark.read.parquet(f"{out}/Entity.parquet")
    assert metrics["Entity"]["empty_label"] == ent.where(
        F.col("label") == ""
    ).count()
    assert metrics["Entity"]["empty_description"] == ent.where(
        F.col("description") == ""
    ).count()
    cl = spark.read.parquet(f"{out}/Claims.parquet")
    assert metrics["Claims"]["total_claims"] == (
        cl.select(F.sum(F.size("claims"))).first()[0]
    )
    # the default path still returns None (unchanged contract)
    assert write_tables(tables, str(tmp_path / "out2")) is None


def test_skewed_entity_ingest_shape(spark, tmp_path):
    """Wikidata-shaped skew probe (SURVEY §1.1): a handful of ~1 MB
    mega-entities among thousands of small ones — the real dump's
    shape — through load_dump -> write_tables. Pins that (a) the
    parse/flatten/route pipeline stays shuffle-free at the skewed
    shape (a mega-entity is one fat row in a narrow map, never a
    hot shuffle key), (b) every claim of every mega-entity survives
    the roundtrip, (c) small entities are unaffected."""
    import os

    from wikidata_to_surrealdb_spark.operators.ingest import (
        parse_entities,
        transform_entities,
        write_tables,
    )
    from wikidata_to_surrealdb_spark.sources.dump_reader import (
        read_dump_lines,
    )

    n_small, n_huge, cph = 400, 2, 4000
    path = tmp_path / "skewed.json"
    lines = fx.skewed_dump_lines(n_small, n_huge, cph)
    # the probe is only honest if the huge lines really are ~1 MB
    assert sum(1 for ln in lines if len(ln) > 1_000_000) == n_huge
    fx.write_fixture(str(path), lines)

    # plan pin at the skewed shape: narrow until the id-collision window
    transformed = transform_entities(
        parse_entities(read_dump_lines(spark, str(path), "json"))
    )
    plan = transformed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan

    tables = load_dump(spark, str(path), "json", lang="en")
    out = str(tmp_path / "out")
    write_tables(tables, out)
    entity = spark.read.parquet(os.path.join(out, "Entity.parquet"))
    claims = spark.read.parquet(os.path.join(out, "Claims.parquet"))
    assert entity.count() == n_small
    # every mega-entity's claims flattened intact: cph P1113 + 1 P31
    per_huge = claims.select(
        F.sum(
            F.size(
                F.expr(
                    "filter(claims, c -> c.id.tb = 'Property' AND c.id.id = 1113)"
                )
            )
        ).alias("n")
    ).first()["n"]
    assert per_huge == n_huge * cph
