"""Structured Streaming: stateful sessionization across micro-batches.

The single-batch case is oracle-checked via the catalog
(stream_sessionize_stateful). What this file pins down is the *stateful*
part: a session spanning micro-batches must resume its running aggregates
from the state store, and the last emission per (user, session) must equal
the batch sessionization of the full data.
"""

from __future__ import annotations

import os
import time
import uuid

import pytest
from pyspark.sql import functions as F

from wikidata_to_surrealdb_spark.sources.tables import normalize_ts

SF_DIR = "/root/testdata/sf0.001"
GAP_SEC = 1800


def _expected_sessions(rows):
    """Reference sessionization in plain Python over (user_id, us, value)."""
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append((r["us"], r["value"]))
    out = {}
    for user, evs in by_user.items():
        evs.sort()
        sid, last, cur = 0, None, None
        for us, value in evs:
            if last is None or us - last > GAP_SEC * 1_000_000:
                if cur is not None:
                    out[(user, sid)] = tuple(cur)
                sid += 1
                cur = [0, us, us, 0]
            cur[0] += 1
            cur[2] = us
            cur[3] += round(float(value) * 100)
            last = us
        out[(user, sid)] = tuple(cur)
    return {
        k: (v[0], (v[2] - v[1]) // 1_000_000, v[3] / 100.0)
        for k, v in out.items()
    }


def test_state_resumes_across_batches(spark, tmp_path):
    from wikidata_to_surrealdb_spark.streaming.events import (
        sessionize_stateful_stream_df,
    )

    events = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .transform(normalize_ts)
        .select("user_id", F.unix_micros("ts").alias("us"), "value")
        .collect()
    )
    # 3 time-sliced files with increasing mtimes: the file source replays
    # them as 3 chronological micro-batches (maxFilesPerTrigger=1), so
    # most sessions span batch boundaries.
    events.sort(key=lambda r: r["us"])
    cuts = [len(events) // 3, 2 * len(events) // 3, len(events)]
    src = tmp_path / "stream_src"
    lo = 0
    for i, hi in enumerate(cuts):
        chunk = spark.createDataFrame(events[lo:hi])
        chunk.coalesce(1).write.parquet(str(src / f"slice={i}"))
        t = time.time() + i  # strictly increasing per slice
        for root, _, files in os.walk(src / f"slice={i}"):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))
        lo = hi

    stream = (
        spark.readStream.schema("user_id bigint, us bigint, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    import wikidata_to_surrealdb_spark.streaming.events as ev

    sessions_df = ev.apply_sessionize(stream, gap_sec=GAP_SEC)

    table = f"t_{uuid.uuid4().hex[:8]}"
    q = (
        sessions_df.writeStream.format("memory")
        .queryName(table)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.table(table).collect()

    # progress: at least one session must have been emitted more than once
    # (i.e. extended across a batch boundary)
    from collections import Counter

    emissions = Counter((r["user_id"], r["session_id"]) for r in emitted)
    assert max(emissions.values()) > 1, "no session spanned a batch boundary"

    # last emission per (user, session) == batch sessionization
    final: dict = {}
    for r in emitted:
        key = (r["user_id"], r["session_id"])
        if key not in final or r["n_events"] > final[key][0]:
            final[key] = (r["n_events"], r["duration_sec"], r["session_value"])
    assert final == _expected_sessions(events)


def test_watermark_drops_late_events(spark, tmp_path):
    """Append mode + 1h watermark: an event arriving hours behind the
    stream's max event time is dropped; on-time windows emit exactly once
    with on-time counts."""
    import datetime as dt

    from wikidata_to_surrealdb_spark.streaming.events import apply_windowed_counts

    base = dt.datetime(2024, 1, 1, 10, 0, 0)

    def mk(batch, rows):
        df = spark.createDataFrame(
            [(base + dt.timedelta(minutes=m), "click") for m in rows],
            "ts timestamp, event_type string",
        )
        p = tmp_path / "wsrc" / f"b={batch}"
        df.coalesce(1).write.parquet(str(p))
        t = time.time() + batch
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))

    # batch 0: 3 events in [10:00,11:00) and 1 at 13:30 (advances max
    # event time to 13:30 -> watermark 12:30 from the next batch on)
    mk(0, [0, 10, 20, 210])
    # batch 1: watermark 12:30 passes the 10:00 window's end -> it emits
    # with its 3 on-time events and its state is evicted
    mk(1, [220])
    # batch 2: an event at 10:40 arrives AFTER the 10:00 window closed —
    # beyond the watermark, state gone, it must be dropped silently
    mk(2, [40])

    stream = (
        spark.readStream.schema("ts timestamp, event_type string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "wsrc"))
    )
    table = f"wm_{uuid.uuid4().hex[:8]}"
    q = (
        apply_windowed_counts(stream)
        .writeStream.format("memory")
        .queryName(table)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table(table).collect()
    h10 = int(base.replace(tzinfo=dt.timezone.utc).timestamp())
    h10_rows = [r for r in rows if r["hour_start"] == h10]
    # the 10:00 window emitted exactly once, with only its 3 on-time
    # events — the post-eviction late event neither re-emitted nor
    # resurrected it
    assert [r["n_events"] for r in h10_rows] == [3], rows
    # the still-open 13:00 window has not emitted in append mode
    h13 = h10 + 3 * 3600
    assert not [r for r in rows if r["hour_start"] == h13], rows


def test_parquet_sink_checkpoint_recovery(spark, tmp_path):
    """File sink + checkpoint = exactly-once across restarts: a second run
    with the same checkpoint only processes files added since the first,
    and never re-emits already-committed windows."""
    import datetime as dt

    from wikidata_to_surrealdb_spark.streaming.events import (
        apply_windowed_counts,
        stream_to_parquet,
    )

    base = dt.datetime(2024, 1, 1, 10, 0, 0)

    def mk(batch, rows):
        df = spark.createDataFrame(
            [(base + dt.timedelta(minutes=m), "click") for m in rows],
            "ts timestamp, event_type string",
        )
        p = tmp_path / "src" / f"b={batch}"
        df.coalesce(1).write.parquet(str(p))
        t = time.time() + batch
        for root, _, files in os.walk(p):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))

    def run():
        stream = (
            spark.readStream.schema("ts timestamp, event_type string")
            .parquet(str(tmp_path / "src"))
        )
        stream_to_parquet(
            apply_windowed_counts(stream),
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
        )

    # run 1: the 10:00 window closes (watermark driven past it) and commits
    mk(0, [0, 10, 20, 210])
    mk(1, [220])
    run()
    first = spark.read.parquet(str(tmp_path / "out")).collect()
    assert {(r["hour_start"] % 86400 // 3600, r["n_events"]) for r in first} == {(10, 3)}

    # run 2 (restart, same checkpoint): only the new file is consumed; the
    # 13:00 window closes now and the 10:00 window is NOT re-emitted
    mk(2, [400])  # 16:40 -> watermark 15:40 closes [13:00,14:00)
    run()
    second = spark.read.parquet(str(tmp_path / "out")).collect()
    got = sorted((r["hour_start"] % 86400 // 3600, r["n_events"]) for r in second)
    assert got == [(10, 3), (13, 2)], got


def test_stream_dedup_merges_across_batches(spark, tmp_path):
    """Complete-mode streaming dedup: a (user, type, hour) key split
    across two micro-batches must collapse to ONE row with the global
    min event_id and the summed count — i.e. streaming state merges,
    not per-batch dedup."""
    import datetime as dt

    from wikidata_to_surrealdb_spark.streaming.events import event_dedup_stream_df

    base = dt.datetime(2024, 3, 1, 10, 0, 0)
    rows_b0 = [(5, base, 7, "click", 1.0, None), (6, base.replace(minute=20), 7, "click", 1.0, None)]
    rows_b1 = [(2, base.replace(minute=40), 7, "click", 1.0, None), (9, base.replace(minute=50), 8, "view", 1.0, None)]
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    src = tmp_path / "src"
    for i, rows in enumerate([rows_b0, rows_b1]):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"slice={i}")
        )
        t = time.time() + i
        for root, _, files in os.walk(src / f"slice={i}"):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))

    # event_dedup_stream_df reads a single-file "table" path; point it at
    # the sliced dir by streaming the dir directly
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    from pyspark.sql import functions as F2

    dedup = (
        stream.withWatermark("ts", "2 hours")
        .groupBy("user_id", "event_type", F2.date_trunc("hour", "ts").alias("hour"))
        .agg(F2.min("event_id").alias("keep_event_id"), F2.count("*").alias("collapsed"))
    )
    table = f"t_{uuid.uuid4().hex[:8]}"
    q = (
        dedup.writeStream.format("memory")
        .queryName(table)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["event_type"]): (r["keep_event_id"], r["collapsed"])
        for r in spark.table(table).collect()
    }
    # user 7's three clicks in hour 10:00 span both batches: min id 2, count 3
    assert got[(7, "click")] == (2, 3)
    assert got[(8, "view")] == (9, 1)


def test_stream_source_accepts_directory_table(spark, tmp_path):
    """A Spark-written events table is a DIRECTORY (events.parquet/part-*).
    The stream source must read it directly: the old dirname+pathGlobFilter
    trick globbed for leaf files named like the directory and silently
    yielded zero rows (the batch schema probe still succeeded)."""
    from wikidata_to_surrealdb_spark.streaming.events import (
        event_dedup_streaming,
        windowed_counts_streaming,
    )

    src = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .transform(normalize_ts)
    )
    table_dir = str(tmp_path / "events.parquet")
    src.limit(500).write.parquet(table_dir)

    counts = windowed_counts_streaming(spark, table_dir)
    assert counts.count() > 0

    dedup = event_dedup_streaming(spark, table_dir)
    assert dedup.count() > 0


def test_multibatch_helpers_match_batch_semantics(spark, tmp_path):
    """slice_events_table + sessionize_stateful_multibatch: the LAST
    emission per (user, session) across 4 real micro-batches must equal
    the plain batch sessionization of the full table; the dedup twin's
    complete-mode output must equal the batch dedup."""
    from wikidata_to_surrealdb_spark.streaming.events import (
        event_dedup_multibatch,
        sessionize_stateful_multibatch,
        slice_events_table,
    )

    events_path = f"{SF_DIR}/events.parquet"
    sliced = slice_events_table(spark, events_path, str(tmp_path / "ev4"))
    got = sessionize_stateful_multibatch(spark, sliced)
    # memory sink rows arrive in emission order; later emissions of the
    # same (user, session) supersede earlier snapshots
    final = {}
    for r in got.collect():
        final[(r["user_id"], r["session_id"])] = (
            r["n_events"],
            r["duration_sec"],
            round(r["session_value"], 2),
        )
    rows = (
        spark.read.parquet(events_path)
        .transform(normalize_ts)
        .select("user_id", F.unix_micros("ts").alias("us"), "value")
        .collect()
    )
    expected = _expected_sessions(rows)
    assert final == {
        k: (v[0], v[1], round(v[2], 2)) for k, v in expected.items()
    }

    dedup_mb = event_dedup_multibatch(spark, sliced)
    batch = (
        spark.read.parquet(events_path)
        .transform(normalize_ts)
        .groupBy("user_id", "event_type", F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.min("event_id").alias("keep_event_id"), F.count("*").alias("collapsed"))
    )
    a = {tuple(r) for r in dedup_mb.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert a == b


def test_stream_stream_attribution_join_matches_batch(spark):
    """The watermarked stream-stream join (availableNow) must equal the
    batch join of purchases to preceding-hour same-user views."""
    from wikidata_to_surrealdb_spark.streaming.events import (
        attribution_join_streaming,
    )

    events_path = f"{SF_DIR}/events.parquet"
    got = {
        (r["purchase_id"], r["view_id"])
        for r in attribution_join_streaming(spark, events_path).collect()
    }
    ev = normalize_ts(spark.read.parquet(events_path))
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", F.col("ts").alias("pts")
    )
    v = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("vid"),
        F.col("user_id").alias("vuid"),
        F.col("ts").alias("vts"),
    )
    want = {
        (r["pid"], r["vid"])
        for r in p.join(
            v,
            (F.col("user_id") == F.col("vuid"))
            & (F.col("vts") <= F.col("pts"))
            & (F.col("vts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    assert got == want
    assert len(got) > 0  # the fixture actually exercises the join


def test_stream_static_enrich_multibatch_equals_batch(spark, tmp_path):
    """Stream-static enrichment must converge to the batch join+rollup
    even when the stream arrives across several micro-batches (the
    windowed aggregation merges partial state; the dim join is
    stateless per batch)."""
    import uuid as _uuid

    from wikidata_to_surrealdb_spark.streaming.events import (
        segment_enrich_stream_df,
        slice_events_table,
    )

    sf = "/root/testdata/sf0.001"
    sliced = slice_events_table(
        spark, f"{sf}/events.parquet", str(tmp_path / "ev4")
    )
    table = f"enrich_mb_{_uuid.uuid4().hex[:8]}"
    q = (
        segment_enrich_stream_df(spark, sliced, f"{sf}/customer.parquet")
        .writeStream.format("memory")
        .queryName(table)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["hour_start"], r["c_mktsegment"], r["event_type"]): (
            r["n_events"],
            r["total_cents"],
        )
        for r in spark.table(table).collect()
    }
    ev = spark.read.parquet(f"{sf}/events.parquet")
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    from pyspark.sql import functions as F

    batch = (
        ev.join(cust, ev["user_id"] == cust["c_custkey"])
        .groupBy(
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_start"),
            "c_mktsegment",
            "event_type",
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)"))
            .cast("bigint")
            .alias("cents"),
        )
    )
    expect = {
        (r["hour_start"], r["c_mktsegment"], r["event_type"]): (r["n"], r["cents"])
        for r in batch.collect()
    }
    assert got == expect and len(got) > 0


def test_stream_hll_matches_batch_sketch(spark, tmp_path):
    """The streaming HLL's availableNow result must equal the batch
    register build + estimate bit-for-bit — max-merge across micro-batches
    is order-free, the property that makes the sketch streamable."""
    from wikidata_to_surrealdb_spark.operators import sketch
    from wikidata_to_surrealdb_spark.streaming.events import (
        hll_distinct_streaming,
    )

    src = "/root/testdata/sf0.001/events.parquet"
    events = spark.read.parquet(src)
    streamed = sorted(map(tuple, hll_distinct_streaming(spark, src).collect()))

    regs = sketch.hll_registers(events, "user_id", ["event_type"])
    batch = sorted(
        map(
            tuple,
            sketch.hll_estimate(regs, ["event_type"])
            .unionAll(
                sketch.hll_estimate(regs, []).selectExpr(
                    "'(all)' AS event_type", "approx_distinct"
                )
            )
            .collect(),
        )
    )
    assert streamed == batch


def test_stream_hll_state_is_sketch_sized(spark):
    """The streaming aggregation's result relation (== its state) is
    bounded by |types| x 256 registers regardless of row count."""
    from wikidata_to_surrealdb_spark.streaming.events import (
        hll_registers_stream_df,
    )
    import uuid as _uuid

    table = f"hll_state_{_uuid.uuid4().hex[:8]}"
    q = (
        hll_registers_stream_df(spark, "/root/testdata/sf0.001/events.parquet")
        .writeStream.format("memory")
        .queryName(table)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    regs = spark.table(table)
    n_types = regs.select("event_type").distinct().count()
    assert regs.count() <= n_types * 256


# ---------------------------------------------------------------------------
# streaming upserts into the bucketed manifest
# ---------------------------------------------------------------------------


def test_stream_upsert_equals_batch_merge(spark, tmp_path):
    """The streamed v1,v2 micro-batch upsert must produce the IDENTICAL
    table (every column, every table) as the batch bootstrap+merge
    sequence — the multibatch==batch invariant."""
    from wikidata_to_surrealdb_spark.operators import ingest as _ingest
    from wikidata_to_surrealdb_spark.streaming import upserts as _up

    data_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "wikidata_to_surrealdb_spark",
        "data",
    )
    v1p = os.path.join(data_dir, "media_dump.json")
    v2p = os.path.join(data_dir, "media_dump_v2.json")

    # batch reference
    bat = str(tmp_path / "batch")
    _ingest.write_tables_bucketed_manifest(
        _ingest.load_dump(spark, v1p, "json", lang="en"), bat, n_buckets=8
    )
    _ingest.merge_into_bucketed_manifest(
        spark, bat, _ingest.load_dump(spark, v2p, "json", lang="en"),
        n_buckets=8,
    )

    # streamed
    stm = str(tmp_path / "stream")
    slices = _up.copy_dumps_as_slices(
        [v1p, v2p], str(tmp_path / "slices")
    )
    _up.stream_upsert_manifest(spark, slices, stm, n_buckets=8)

    def rows(root, table):
        return sorted(
            _ingest.read_bucketed_manifest(spark, f"{root}/{table}.parquet")
            .drop("_bucket")
            .toJSON()
            .collect()
        )

    for table in ("Entity", "Property", "Lexeme", "Claims"):
        assert rows(bat, table) == rows(stm, table), table
    assert rows(bat, "Entity"), "fixture must not be empty"


def test_stream_upsert_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-applying the LAST batch's merge
    (a crash-between-commit-and-checkpoint replay) must leave the table
    unchanged — the id-keyed last-wins upsert makes replays converge."""
    from wikidata_to_surrealdb_spark.operators import ingest as _ingest
    from wikidata_to_surrealdb_spark.streaming import upserts as _up

    data_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "wikidata_to_surrealdb_spark",
        "data",
    )
    v1p = os.path.join(data_dir, "media_dump.json")
    v2p = os.path.join(data_dir, "media_dump_v2.json")
    out = str(tmp_path / "t")
    slices = _up.copy_dumps_as_slices([v1p, v2p], str(tmp_path / "s"))
    _up.stream_upsert_manifest(spark, slices, out, n_buckets=8)

    def snapshot():
        return sorted(
            r
            for r in _ingest.read_bucketed_manifest(
                spark, f"{out}/Entity.parquet"
            )
            .drop("_bucket")
            .toJSON()
            .collect()
        )

    before = snapshot()
    # replay batch 1 (v2) manually — the exact merge foreachBatch would
    # re-run after a failure between manifest commit and checkpoint write
    _ingest.merge_into_bucketed_manifest(
        spark, out, _ingest.load_dump(spark, v2p, "json", lang="en"),
        n_buckets=8,
    )
    assert snapshot() == before


def test_outer_attribution_flushes_unmatched_and_hides_sentinel(
    spark, tmp_path
):
    """The left-outer stream-stream join must emit purchases with no
    qualifying view (NULL view cols) — drained by the sentinel batch —
    and the sentinel rows themselves must never surface."""
    from wikidata_to_surrealdb_spark.streaming.events import (
        _OUTER_SENTINEL_USER,
        attribution_join_outer_streaming,
    )

    out = attribution_join_outer_streaming(
        spark,
        "/root/testdata/sf0.001/events.parquet",
        str(tmp_path / "staging"),
    ).collect()
    assert all(r["user_id"] != _OUTER_SENTINEL_USER for r in out)
    unmatched = [r for r in out if r["view_id"] is None]
    assert unmatched, "outer rows must flush at end of stream"
    # equals the batch left join
    ev = normalize_ts(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    )
    p = ev.where(F.col("event_type") == "purchase").alias("p")
    v = ev.where(F.col("event_type") == "view").alias("v")
    batch = p.join(
        v,
        (F.col("v.user_id") == F.col("p.user_id"))
        & (F.col("v.ts") <= F.col("p.ts"))
        & (F.col("v.ts") >= F.col("p.ts") - F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select(
        F.col("p.event_id").alias("purchase_id"),
        F.col("v.event_id").alias("view_id"),
    )
    want = sorted((r["purchase_id"], r["view_id"]) for r in batch.collect())
    got = sorted((r["purchase_id"], r["view_id"]) for r in out)
    assert got == want


def test_stream_scd2_apply_replay_idempotent(spark, tmp_path):
    """Re-applying the last snapshot at the same effective date (the
    foreachBatch at-least-once replay) must leave the dimension
    unchanged, and the pointer commit must leave no torn state."""
    from wikidata_to_surrealdb_spark.operators.mutations import scd2_merge
    from wikidata_to_surrealdb_spark.streaming import upserts as _up

    dim_dir = str(tmp_path / "dim")
    base = spark.createDataFrame(
        [(1, "A", 10.0), (2, "B", 20.0)],
        "k bigint, seg string, bal double",
    ).select(
        "k", "seg", "bal",
        F.lit("2024-01-01").cast("date").alias("valid_from"),
        F.lit("9999-12-31").cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    _up.write_dim_versioned(base, dim_dir, "bootstrap")
    snap = spark.createDataFrame(
        [(1, "A", 99.0), (3, "C", 5.0)], "k bigint, seg string, bal double"
    )
    merged = scd2_merge(
        _up.read_dim_versioned(spark, dim_dir),
        snap, ["k"], ["seg", "bal"], effective_date="2024-06-01",
    )
    _up.write_dim_versioned(merged, dim_dir, "b0")
    once = sorted(
        map(tuple, _up.read_dim_versioned(spark, dim_dir).collect())
    )
    # replay: same snapshot, same date
    merged2 = scd2_merge(
        _up.read_dim_versioned(spark, dim_dir),
        snap, ["k"], ["seg", "bal"], effective_date="2024-06-01",
    )
    _up.write_dim_versioned(merged2, dim_dir, "b0r")
    twice = sorted(
        map(tuple, _up.read_dim_versioned(spark, dim_dir).collect())
    )
    assert once == twice
    # the replayed dim: key 1 has a closed and an open version, key 3 new
    cur = {(r["k"]): r["bal"] for r in
           _up.read_dim_versioned(spark, dim_dir)
           .where(F.col("is_current")).collect()}
    assert cur == {1: 99.0, 2: 20.0, 3: 5.0}


def test_stream_incremental_dedup_equals_batch_and_replays_idempotent(
    spark, tmp_path
):
    """r13 streaming near-dup over a growing corpus: (a) the final
    accumulated pair set equals the batch minhash_dedup pairs over the
    full corpus (every pair found exactly once, in the later member's
    batch); (b) orientation/origin follow arrival order; (c) replaying
    a micro-batch's foreachBatch body overwrites its own output instead
    of doubling rows (the effectively-once contract)."""
    from wikidata_to_surrealdb_spark.operators import dedup
    from wikidata_to_surrealdb_spark.streaming.documents import (
        incremental_dedup_multibatch,
        slice_documents_table,
    )

    docs_path = f"{SF_DIR}/documents.parquet"
    sliced = slice_documents_table(
        spark, docs_path, str(tmp_path / "slices"), slices=4
    )
    work = str(tmp_path / "work")
    out = incremental_dedup_multibatch(
        spark, sliced, work, threshold=0.1
    )
    rows = out.collect()
    got = {(min(r.new_id, r.dup_of), max(r.new_id, r.dup_of)) for r in rows}
    full = dedup.minhash_dedup(
        spark.read.parquet(docs_path),
        num_hashes=8,
        bands=2,
        k=3,
        threshold=0.1,
    ).collect()
    want = {(min(r.id_a, r.id_b), max(r.id_a, r.id_b)) for r in full}
    assert got == want and len(got) > 0
    for r in rows:
        # the later arrival is always new_id; same slice => intra-batch
        assert (r.new_id % 4, r.new_id) > (r.dup_of % 4, r.dup_of)
        assert (r.origin == "delta") == (r.new_id % 4 == r.dup_of % 4)

    # replay idempotence: re-running one slice through a fresh stream
    # over the SAME work dir (a new checkpoint replays it as batch 0)
    # must leave the total pair count unchanged — batch_<id> overwrite,
    # not append. Batch 0 has only intra pairs, so its replay recomputes
    # an identical file set.
    import glob
    import os

    n_before = spark.read.schema(
        "new_id BIGINT, dup_of BIGINT, origin STRING, jaccard DOUBLE"
    ).option("recursiveFileLookup", "true").parquet(
        os.path.join(work, "pairs")
    ).count()
    slice0 = str(tmp_path / "replay0")
    os.makedirs(slice0)
    src0 = glob.glob(str(tmp_path / "slices" / "slice=0" / "*.parquet"))
    assert src0
    import shutil

    shutil.copyfile(src0[0], os.path.join(slice0, "slice0.parquet"))
    # fresh checkpoint, same work dir: slice 0 replays as batch_0...
    # except the index now CONTAINS everything, so cross pairs vs
    # LATER slices would appear. To test pure idempotence, replay into
    # the work dir the way a crash recovery does: same batch id, same
    # input, and compare the batch_0 output only.
    b0 = os.path.join(work, "pairs", "batch_0")
    before_files = sorted(os.listdir(b0))
    before_rows = sorted(
        map(tuple, spark.read.parquet(b0).collect())
    )
    # direct re-execution of the foreachBatch body for batch 0 against
    # the pre-batch-0 state (an EMPTY index dir is what batch 0 saw):
    # the write path must overwrite, leaving identical output
    empty_idx = spark.createDataFrame(
        [], "doc_id BIGINT, band_id INT, band_hash STRING, bucket_key STRING"
    )
    empty_sh = spark.createDataFrame([], "doc_id BIGINT, sh ARRAY<STRING>")
    replay_pairs = dedup.incremental_minhash_dedup(
        None,
        spark.read.parquet(slice0),
        threshold=0.1,
        corpus_index=empty_idx,
        corpus_shingles=empty_sh,
    )
    replay_pairs.write.mode("overwrite").parquet(b0)
    after_rows = sorted(map(tuple, spark.read.parquet(b0).collect()))
    assert after_rows == before_rows
    n_after = spark.read.schema(
        "new_id BIGINT, dup_of BIGINT, origin STRING, jaccard DOUBLE"
    ).option("recursiveFileLookup", "true").parquet(
        os.path.join(work, "pairs")
    ).count()
    assert n_after == n_before


def test_stream_incremental_dedup_survivors_index_is_canonical(
    spark, tmp_path
):
    """survivors_only=True is the production loop: every doc reported
    as a duplicate is ABSENT from the appended index/shingle store (the
    index tracks the unique corpus, not crawl volume), while the base
    mode appends everything. Oracle parity is pinned separately; this
    pins the operational claim on the store itself."""
    from wikidata_to_surrealdb_spark.streaming.documents import (
        incremental_dedup_multibatch,
        slice_documents_table,
    )

    docs_path = f"{SF_DIR}/documents.parquet"
    sliced = slice_documents_table(
        spark, docs_path, str(tmp_path / "slices"), slices=4
    )
    work = str(tmp_path / "surv_work")
    out = incremental_dedup_multibatch(
        spark, sliced, work, threshold=0.1, survivors_only=True
    )
    rows = out.collect()
    assert rows
    dropped = {r.new_id for r in rows}
    import os

    idx_ids = {
        r.doc_id
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(os.path.join(work, "band_index"))
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert not dropped & idx_ids  # no dropped doc ever indexed
    # every CROSS pair references a canonical (indexed) keeper; intra
    # pairs are raw within-batch duplicates and may point at a doc that
    # itself got dropped (chain resolution is dedup_clusters' job)
    keepers = {r.dup_of for r in rows if r.origin == "corpus"}
    assert keepers and keepers <= idx_ids
    # base mode, for contrast, indexes the dropped docs too
    base_work = str(tmp_path / "base_work")
    incremental_dedup_multibatch(
        spark, sliced, base_work, threshold=0.1
    ).collect()
    base_ids = {
        r.doc_id
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(os.path.join(base_work, "band_index"))
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert dropped <= base_ids


def test_stream_incremental_dedup_checkpoint_resume(spark, tmp_path):
    """The restart/recovery path: run the stream over the first two
    slices, 'crash' (stream ends), stage the remaining slices, rerun
    with the SAME checkpoint + work dir — only the new files drain,
    against the already-accumulated index, and the final pair set
    equals the uninterrupted one-shot run."""
    import glob
    import shutil

    from wikidata_to_surrealdb_spark.streaming.documents import (
        incremental_dedup_multibatch,
        slice_documents_table,
    )

    docs_path = f"{SF_DIR}/documents.parquet"
    full_sliced = slice_documents_table(
        spark, docs_path, str(tmp_path / "all_slices"), slices=4
    )
    oneshot = sorted(
        map(
            tuple,
            incremental_dedup_multibatch(
                spark, full_sliced, str(tmp_path / "oneshot_work"), threshold=0.1
            ).collect(),
        )
    )

    # staged run: only slices 0-1 visible at first
    staged = tmp_path / "staged"
    staged.mkdir()
    def stage(i):
        src = glob.glob(str(tmp_path / "all_slices" / f"slice={i}" / "*.parquet"))
        assert len(src) == 1
        dst = staged / f"{i:02d}.parquet"
        shutil.copyfile(src[0], str(dst))
        st = os.stat(src[0])
        os.utime(dst, (st.st_mtime, st.st_mtime))

    stage(0)
    stage(1)
    work = str(tmp_path / "resume_work")
    ckpt = str(tmp_path / "ckpt")
    first = incremental_dedup_multibatch(
        spark, str(staged), work, threshold=0.1, checkpoint_dir=ckpt
    ).collect()
    n_first = len(first)

    # 'restart': the remaining slices arrive, same checkpoint + work
    stage(2)
    stage(3)
    prog: list = []
    resumed = sorted(
        map(
            tuple,
            incremental_dedup_multibatch(
                spark,
                str(staged),
                work,
                threshold=0.1,
                checkpoint_dir=ckpt,
                progress=prog,
            ).collect(),
        )
    )
    assert resumed == oneshot
    assert n_first < len(resumed)  # the first run really was partial
    # the resumed run drained ONLY the two new files
    assert len(prog) <= 2 or sum(
        1 for p in prog if (p.get("numInputRows") or 0) > 0
    ) <= 2


def test_slice_documents_rejects_negative_ids(spark, tmp_path):
    """Residue slicing only PARTITIONS the corpus for non-negative ids
    (negative % keeps the dividend's sign in both engines, so those
    docs would match no slice and silently vanish from the stream) —
    the slicer must fail loudly instead."""
    from wikidata_to_surrealdb_spark.streaming.documents import (
        slice_documents_table,
    )

    df = spark.createDataFrame(
        [(-7, "negative id doc", "en", "src", 15)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    p = str(tmp_path / "negdocs")
    df.write.parquet(p)
    with pytest.raises(ValueError, match="negative doc_id"):
        slice_documents_table(spark, p, str(tmp_path / "out"))


def test_compact_index_store_preserves_stream_results(spark, tmp_path):
    """Small-files maintenance: after compaction (a) the store is one
    sorted file per side instead of per-batch subdirs, (b) a resumed
    stream appends beside the compacted generation and the final pair
    set still equals the uninterrupted one-shot run."""
    import glob
    import shutil

    from wikidata_to_surrealdb_spark.streaming.documents import (
        compact_index_store,
        incremental_dedup_multibatch,
        slice_documents_table,
    )

    docs_path = f"{SF_DIR}/documents.parquet"
    full_sliced = slice_documents_table(
        spark, docs_path, str(tmp_path / "all_slices"), slices=4
    )
    oneshot = sorted(
        map(
            tuple,
            incremental_dedup_multibatch(
                spark, full_sliced, str(tmp_path / "oneshot"), threshold=0.1
            ).collect(),
        )
    )

    staged = tmp_path / "staged"
    staged.mkdir()

    def stage(i):
        src = glob.glob(
            str(tmp_path / "all_slices" / f"slice={i}" / "*.parquet")
        )
        dst = staged / f"{i:02d}.parquet"
        shutil.copyfile(src[0], str(dst))
        st = os.stat(src[0])
        os.utime(dst, (st.st_mtime, st.st_mtime))

    stage(0)
    stage(1)
    work = str(tmp_path / "work")
    ckpt = str(tmp_path / "ckpt")
    incremental_dedup_multibatch(
        spark, str(staged), work, threshold=0.1, checkpoint_dir=ckpt
    ).collect()

    # maintenance window: stream stopped, compact the two-batch store
    stats = compact_index_store(spark, work)
    assert stats["band_index"]["files_before"] >= 2
    assert stats["band_index"]["files_after"] == 1
    assert stats["shingles"]["files_after"] == 1
    # the pairs event log accumulates the same per-batch dirs and is
    # folded by the same maintenance pass (r14)
    assert stats["pairs"]["files_after"] == 1
    assert os.path.isdir(os.path.join(work, "band_index", "compacted_0"))
    assert os.path.isdir(os.path.join(work, "pairs", "compacted_0"))

    # restart: remaining slices drain against the compacted store
    stage(2)
    stage(3)
    resumed = sorted(
        map(
            tuple,
            incremental_dedup_multibatch(
                spark, str(staged), work, threshold=0.1, checkpoint_dir=ckpt
            ).collect(),
        )
    )
    assert resumed == oneshot
    # re-compaction folds the new batches into a FRESH generation;
    # reusing a live generation is refused (it would race the scan)
    with pytest.raises(ValueError, match="generation"):
        compact_index_store(spark, work, generation=0)
    stats2 = compact_index_store(spark, work, generation=1)
    assert stats2["band_index"]["files_after"] == 1


def _read_store(spark, work, sub, schema):
    import os

    p = os.path.join(work, sub)
    return sorted(
        map(
            tuple,
            spark.read.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(p)
            .collect(),
        )
    )


_IDX_SCHEMA = "doc_id BIGINT, band_id INT, band_hash STRING, bucket_key STRING"
_PAIR_SCHEMA = "new_id BIGINT, dup_of BIGINT, origin STRING, jaccard DOUBLE"


def test_stream_incdedup_replay_after_append_is_idempotent(spark, tmp_path):
    """ADVICE r13 (medium): a foreachBatch replay in the crash window
    AFTER the index/shingle append but BEFORE the checkpoint commit
    must not re-read the batch's own just-appended rows — that would
    self-pair every batch doc (new_id == dup_of, jaccard 1.0,
    origin='corpus'). apply_incremental_batch deletes its own
    batch_<id> subdirs before reading, so a replay from ANY crash
    point reproduces byte-identical state."""
    from wikidata_to_surrealdb_spark.streaming.documents import (
        apply_incremental_batch,
        incremental_dedup_multibatch,
        slice_documents_table,
    )

    docs_path = f"{SF_DIR}/documents.parquet"
    sliced = slice_documents_table(
        spark, docs_path, str(tmp_path / "slices"), slices=4
    )
    work = str(tmp_path / "work")
    out = sorted(
        map(
            tuple,
            incremental_dedup_multibatch(
                spark, sliced, work, threshold=0.1
            ).collect(),
        )
    )
    idx_before = _read_store(spark, work, "band_index", _IDX_SCHEMA)

    # replay the LAST batch (slice 3 = batch id 3) with the appends
    # already on disk — exactly the post-append crash window
    batch_df = spark.read.parquet(str(tmp_path / "slices" / "slice=3"))
    apply_incremental_batch(
        spark, batch_df, 3, work, threshold=0.1
    )
    pairs_after = _read_store(spark, work, "pairs", _PAIR_SCHEMA)
    assert pairs_after == out
    assert all(p[0] != p[1] for p in pairs_after)  # no self-pairs
    assert _read_store(spark, work, "band_index", _IDX_SCHEMA) == idx_before


def test_stream_incdedup_survivors_replay_keeps_batch_indexed(
    spark, tmp_path
):
    """The survivors-mode version of the post-append replay (the
    catastrophic variant in ADVICE r13: with the batch's own rows
    visible, every doc self-pairs and the WHOLE batch is anti-joined
    out of the index permanently)."""
    from wikidata_to_surrealdb_spark.streaming.documents import (
        apply_incremental_batch,
        incremental_dedup_multibatch,
        slice_documents_table,
    )

    docs_path = f"{SF_DIR}/documents.parquet"
    sliced = slice_documents_table(
        spark, docs_path, str(tmp_path / "slices"), slices=4
    )
    work = str(tmp_path / "work")
    out = sorted(
        map(
            tuple,
            incremental_dedup_multibatch(
                spark, sliced, work, threshold=0.1, survivors_only=True
            ).collect(),
        )
    )
    idx_before = _read_store(spark, work, "band_index", _IDX_SCHEMA)
    assert idx_before

    batch_df = spark.read.parquet(str(tmp_path / "slices" / "slice=3"))
    apply_incremental_batch(
        spark, batch_df, 3, work, threshold=0.1, survivors_only=True
    )
    assert _read_store(spark, work, "band_index", _IDX_SCHEMA) == idx_before
    assert _read_store(spark, work, "pairs", _PAIR_SCHEMA) == out


def test_store_manifest_rejects_parameter_drift(spark, tmp_path):
    """VERDICT r14 directive 1: the index store pins its build
    parameters in _meta.json; a resume/probe/compaction under
    different num_hashes/bands/k/threshold silently mixes incomparable
    band hashes and k-gram widths (duplicates missed, no error) — it
    must fail loudly instead."""
    from wikidata_to_surrealdb_spark.streaming import store_fs
    from wikidata_to_surrealdb_spark.streaming.documents import (
        check_store_manifest,
        compact_index_store,
        incremental_dedup_multibatch,
        load_index_store,
        slice_documents_table,
    )

    docs_path = f"{SF_DIR}/documents.parquet"
    sliced = slice_documents_table(
        spark, docs_path, str(tmp_path / "slices"), slices=2
    )
    work = str(tmp_path / "work")
    incremental_dedup_multibatch(spark, sliced, work, threshold=0.1)
    assert os.path.exists(os.path.join(work, "_meta.json"))

    # resume with different banding: a b4r2 resume against a b2r4
    # store is the exact silent-miss scenario
    with pytest.raises(ValueError, match="different parameters"):
        incremental_dedup_multibatch(
            spark, sliced, work, bands=4, threshold=0.1
        )
    # threshold drift poisons the ACCUMULATED pair set too
    with pytest.raises(ValueError, match="threshold"):
        incremental_dedup_multibatch(spark, sliced, work, threshold=0.5)
    # matching parameters still resume fine (fresh checkpoint re-runs
    # both slices as replays — state must be unchanged)
    n = incremental_dedup_multibatch(
        spark, sliced, work, threshold=0.1
    ).count()
    assert n > 0

    # probe path: load_index_store validates the index-comparability
    # subset (k shapes the shingles, so it IS checked; threshold is not)
    idx, sh = load_index_store(spark, work, num_hashes=8, bands=2, k=3)
    assert idx.count() > 0 and sh.count() > 0
    with pytest.raises(ValueError, match="different parameters"):
        load_index_store(spark, work, num_hashes=8, bands=2, k=4)

    # compaction refuses a store without a manifest outright
    bare = str(tmp_path / "bare")
    os.makedirs(os.path.join(bare, "band_index"))
    with pytest.raises(ValueError, match="_meta.json"):
        compact_index_store(spark, bare)
    # and a corrupted manifest key is named in the error
    fs = store_fs.for_path(spark, work)
    with pytest.raises(ValueError, match="num_hashes"):
        check_store_manifest(fs, work, {"num_hashes": 16})


def test_compaction_geometry_knob_and_crash_recovery(spark, tmp_path):
    """VERDICT r14 directive 3 + ADVICE r13 (low): target_files is a
    real knob (not a comment), and the intent-marker protocol makes
    every compaction crash window recoverable with neither double
    counting nor data loss."""
    import glob
    import json as _json
    import shutil

    from wikidata_to_surrealdb_spark.streaming import store_fs
    from wikidata_to_surrealdb_spark.streaming.documents import (
        compact_index_store,
        incremental_dedup_multibatch,
        recover_store,
        slice_documents_table,
    )

    docs_path = f"{SF_DIR}/documents.parquet"
    sliced = slice_documents_table(
        spark, docs_path, str(tmp_path / "slices"), slices=4
    )
    work = str(tmp_path / "work")
    incremental_dedup_multibatch(spark, sliced, work, threshold=0.1)
    idx_rows = _read_store(spark, work, "band_index", _IDX_SCHEMA)
    fs = store_fs.for_path(spark, work)

    # --- crash BEFORE commit: a hidden tmp dir, no marker. Readers
    # never saw it (underscore prefix) and recovery rolls it back.
    tmp_dir = os.path.join(work, "band_index", "_tmp_compact_9")
    os.makedirs(tmp_dir)
    src = glob.glob(
        os.path.join(work, "band_index", "batch_0", "*.parquet")
    )[0]
    shutil.copyfile(src, os.path.join(tmp_dir, "junk.parquet"))
    assert _read_store(spark, work, "band_index", _IDX_SCHEMA) == idx_rows
    actions = recover_store(fs, work)
    assert any("rolled back" in a for a in actions)
    assert not os.path.exists(tmp_dir)

    # --- crash AFTER commit marker, before any delete/rename: the
    # verified tmp + marker exist alongside ALL constituents. The
    # no-double-count invariant: a reader at this instant still sees
    # exactly the old rows; recovery then finishes the swap.
    root = os.path.join(work, "band_index")
    old_dirs = sorted(
        d for d in os.listdir(root)
        if os.path.isdir(os.path.join(root, d)) and not d.startswith("_")
    )
    df = (
        spark.read.schema(_IDX_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(root)
    )
    df.sort("bucket_key").coalesce(1).write.parquet(
        os.path.join(root, "_tmp_compact_0")
    )
    with open(os.path.join(root, "_SWAP_COMMIT.json"), "w") as fh:
        _json.dump(
            {
                "tmp": "_tmp_compact_0",
                "target": "compacted_0",
                "old_dirs": old_dirs,
            },
            fh,
        )
    assert _read_store(spark, work, "band_index", _IDX_SCHEMA) == idx_rows
    recover_store(fs, work)
    assert os.path.isdir(os.path.join(root, "compacted_0"))
    assert not os.path.exists(os.path.join(root, "_SWAP_COMMIT.json"))
    assert not any(os.path.isdir(os.path.join(root, d)) for d in old_dirs)
    assert _read_store(spark, work, "band_index", _IDX_SCHEMA) == idx_rows

    # --- geometry knob: compact the shingle store (band_index already
    # compacted above) into TWO range-partitioned files
    stats = compact_index_store(spark, work, generation=1, target_files=2)
    assert stats["shingles"]["files_after"] == 2
    assert _read_store(spark, work, "band_index", _IDX_SCHEMA) == idx_rows
    with pytest.raises(ValueError, match="target_files"):
        compact_index_store(spark, work, generation=2, target_files=0)


def test_store_works_on_hadoop_filesystem_scheme(spark, tmp_path):
    """VERDICT r14 directive 3 (FS seam): a scheme-qualified work_dir
    routes ALL python-side bookkeeping through the JVM Hadoop
    FileSystem — the full stream + manifest + compaction flow must
    behave identically to the local path (exercised here via file:,
    the same adapter surface hdfs:// / s3a:// would hit)."""
    from wikidata_to_surrealdb_spark.streaming import store_fs
    from wikidata_to_surrealdb_spark.streaming.documents import (
        compact_index_store,
        incremental_dedup_multibatch,
        slice_documents_table,
    )

    docs_path = f"{SF_DIR}/documents.parquet"
    assert isinstance(
        store_fs.for_path(spark, f"file:{tmp_path}/w"), store_fs.HadoopFS
    )
    assert isinstance(
        store_fs.for_path(spark, str(tmp_path)), store_fs.LocalFS
    )
    # slice staging through HadoopFS (list_files + set_mtime)
    sliced = slice_documents_table(
        spark, docs_path, f"file:{tmp_path}/slices", slices=4
    )
    work = f"file:{tmp_path}/work"
    out = sorted(
        map(
            tuple,
            incremental_dedup_multibatch(
                spark, sliced, work, threshold=0.1
            ).collect(),
        )
    )
    # parity vs the local-path run over the SAME slice staging
    local_out = sorted(
        map(
            tuple,
            incremental_dedup_multibatch(
                spark, sliced, str(tmp_path / "lwork"), threshold=0.1
            ).collect(),
        )
    )
    assert out == local_out and out
    # manifest landed through the adapter; drift still rejected
    with pytest.raises(ValueError, match="different parameters"):
        incremental_dedup_multibatch(spark, sliced, work, k=4, threshold=0.1)
    stats = compact_index_store(spark, work)
    assert stats["band_index"]["files_after"] == 1
    assert stats["shingles"]["files_after"] == 1


def test_stream_incdedup_upsert_recrawl(spark, tmp_path):
    """VERDICT r14 directive 5, streaming half: upsert=True removes a
    re-arriving doc_id's stale band/shingle rows from the store before
    the probe (surgically — only the subdirs containing the ids are
    rewritten, via the same intent-marker swap as compaction), so
    recrawled docs never match their own old text, the store holds
    exactly one version per id, and new pairs reflect the new text
    only. Append mode on the same input shows the stale self-match."""
    import glob
    import shutil

    from wikidata_to_surrealdb_spark.streaming.documents import (
        apply_incremental_batch,
        incremental_dedup_multibatch,
    )

    b1 = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "zeta eta theta iota kappa"),
            (5, "lambda mu nu xi omicron"),
            (6, "pi rho sigma tau upsilon"),
        ],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon phi"),  # near-dup of own stale
            (2, "lambda mu nu xi omicron"),  # now equals doc 5
            (10, "chi psi omega aleph bet"),  # new
        ],
        "doc_id long, text string",
    )
    src = tmp_path / "src"
    src.mkdir()

    def stage(df, name, t_off):
        p = tmp_path / f"_stage_{name}"
        df.coalesce(1).write.parquet(str(p))
        f = glob.glob(str(p / "*.parquet"))[0]
        dst = str(src / f"{name}.parquet")
        shutil.copyfile(f, dst)
        t = time.time() + t_off
        os.utime(dst, (t, t))

    stage(b1, "00", 0)
    stage(b2, "01", 1)
    work = str(tmp_path / "work")
    rows = incremental_dedup_multibatch(
        spark, str(src), work, threshold=0.5, upsert=True
    ).collect()
    assert {(r.new_id, r.dup_of, r.origin, r.jaccard) for r in rows} == {
        (2, 5, "corpus", 1.0)
    }
    # the store holds exactly ONE version per id, and the recrawled
    # doc 2's shingles are its NEW text's (== doc 5's)
    sh_rows = spark.read.schema("doc_id BIGINT, sh ARRAY<STRING>").option(
        "recursiveFileLookup", "true"
    ).parquet(os.path.join(work, "shingles")).collect()
    by_id = {}
    for r in sh_rows:
        by_id.setdefault(r.doc_id, []).append(frozenset(r.sh))
    assert {i: len(v) for i, v in by_id.items()} == {
        1: 1, 2: 1, 5: 1, 6: 1, 10: 1
    }
    assert by_id[2][0] == by_id[5][0]

    # replay of the recrawl batch (post-append crash window) is a
    # no-op: removal is idempotent, state byte-identical
    idx_before = _read_store(spark, work, "band_index", _IDX_SCHEMA)
    pairs_before = _read_store(spark, work, "pairs", _PAIR_SCHEMA)
    apply_incremental_batch(
        spark, b2, 1, work, threshold=0.5, upsert=True
    )
    assert _read_store(spark, work, "band_index", _IDX_SCHEMA) == idx_before
    assert _read_store(spark, work, "pairs", _PAIR_SCHEMA) == pairs_before

    # contrast: append mode leaves the stale rows, and the recrawled
    # doc matches its own old text (the documented contract violation)
    legacy = incremental_dedup_multibatch(
        spark, str(src), str(tmp_path / "legacy_work"), threshold=0.5
    ).collect()
    assert any(r.new_id == r.dup_of == 1 for r in legacy)


def test_remap_pairs_to_survivors_deep_chain(spark):
    """Operator pin: a 3-deep intra chain resolves to the ultimate
    survivor (pointer-doubling), remapped edges collapse on
    (new_id, dup_of) keeping max(jaccard)/min(origin), and edges whose
    dup_of already survives pass through untouched."""
    from wikidata_to_surrealdb_spark.operators.dedup import (
        remap_pairs_to_survivors,
    )

    pairs = spark.createDataFrame(
        [
            # chain: 9 -> 7 -> 5 -> 3 (3 survives: never a new_id)
            (9, 7, "delta", 0.6),
            (7, 5, "delta", 0.7),
            (5, 3, "delta", 0.8),
            # 9 also paired directly with 3 at a higher jaccard: the
            # remapped (9, 3) must collapse with it keeping 0.9
            (9, 3, "delta", 0.9),
            # corpus edge from a dropped doc: 7's min dup_of is 5, not
            # the corpus id 100 — chase still ends on a survivor
            (7, 100, "corpus", 0.65),
        ],
        "new_id BIGINT, dup_of BIGINT, origin STRING, jaccard DOUBLE",
    )
    got = {
        (r.new_id, r.dup_of): (r.origin, r.jaccard)
        for r in remap_pairs_to_survivors(pairs).collect()
    }
    dropped = {9, 7, 5}
    assert not dropped & {d for _, d in got}  # every dup_of survives
    # 9 -> 7 remaps through 7 -> 5 -> 3; collapses with raw (9, 3)
    assert got[(9, 3)] == ("delta", 0.9)
    assert got[(7, 3)] == ("delta", 0.7)   # via keeper(5) = 3
    assert got[(5, 3)] == ("delta", 0.8)   # untouched: 3 survives
    assert got[(7, 100)] == ("corpus", 0.65)  # corpus edge untouched
    assert len(got) == 4


def test_remap_pairs_to_survivors_cycle_raises(spark):
    from wikidata_to_surrealdb_spark.operators.dedup import (
        remap_pairs_to_survivors,
    )

    cycle = spark.createDataFrame(
        [(1, 2, "delta", 0.5), (2, 1, "delta", 0.5)],
        "new_id BIGINT, dup_of BIGINT, origin STRING, jaccard DOUBLE",
    )
    with pytest.raises(ValueError, match="did not converge"):
        remap_pairs_to_survivors(cycle, max_rounds=4).collect()


def test_stream_incdedup_remap_closes_chains(spark, tmp_path):
    """Integration pin for remap_intra=True: on a duplicate-dense batch
    every reported dup_of is a doc that actually made it into the
    index; survivorship (and therefore the index) is identical to the
    base survivors mode — remap rewrites edges, never who survives."""
    import os

    from wikidata_to_surrealdb_spark.streaming.documents import (
        apply_incremental_batch,
        incremental_dedup_multibatch,
    )

    base_text = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the observant cat watches from the warm windowsill"
    )
    rows = [
        (1, base_text),
        (2, base_text + " copy two"),
        (3, base_text + " copy three"),
        (10, "completely unrelated content about parquet row groups "
             "and columnar compression strategies for analytics"),
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    sliced = str(tmp_path / "slices")
    docs.coalesce(1).write.parquet(sliced)

    for mode, workname in ((True, "remap"), (False, "plain")):
        work = str(tmp_path / f"work_{workname}")
        out = incremental_dedup_multibatch(
            spark,
            sliced,
            work,
            threshold=0.1,
            survivors_only=True,
            remap_intra=mode,
        ).collect()
        assert out
        idx_ids = {
            r.doc_id
            for r in spark.read.option("recursiveFileLookup", "true")
            .parquet(os.path.join(work, "band_index"))
            .select("doc_id")
            .distinct()
            .collect()
        }
        if mode:
            assert {r.dup_of for r in out} <= idx_ids  # chains closed
            remap_idx = idx_ids
        else:
            plain_idx = idx_ids
    assert remap_idx == plain_idx  # survivorship unchanged

    # remap without survivors mode is a contract error, loudly
    with pytest.raises(ValueError, match="requires survivors_only"):
        apply_incremental_batch(
            spark,
            spark.read.parquet(sliced),
            0,
            str(tmp_path / "work_bad"),
            remap_intra=True,
        )


def test_stream_incdedup_upsert_with_survivors_mode(spark, tmp_path):
    """Recrawl x survivors interaction: (a) a re-crawled KEEPER whose
    new text now duplicates another keeper is dropped AND its stale
    index rows stay removed — the id vanishes from the store entirely,
    it does not linger under its old text; (b) a doc that was DROPPED
    on first crawl and re-arrives with unique text survives and is
    indexed (its earlier drop was an event-log decision, not a
    permanent ban); (c) earlier batches' pair rows are not rewritten
    (the documented event-log contract)."""
    import glob
    import shutil

    from wikidata_to_surrealdb_spark.streaming.documents import (
        incremental_dedup_multibatch,
    )

    b1 = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),  # dropped: dup of 1
            (5, "lambda mu nu xi omicron"),
        ],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [
            (5, "alpha beta gamma delta epsilon"),  # keeper recrawled INTO a dup of 1
            (2, "pi rho sigma tau upsilon"),  # dropped doc recrawled unique
        ],
        "doc_id long, text string",
    )
    src = tmp_path / "src"
    src.mkdir()

    def stage(df, name, t_off):
        p = tmp_path / f"_stage_{name}"
        df.coalesce(1).write.parquet(str(p))
        f = glob.glob(str(p / "*.parquet"))[0]
        dst = str(src / f"{name}.parquet")
        shutil.copyfile(f, dst)
        t = time.time() + t_off
        os.utime(dst, (t, t))

    stage(b1, "00", 0)
    stage(b2, "01", 1)
    work = str(tmp_path / "work")
    rows = incremental_dedup_multibatch(
        spark, str(src), work, threshold=0.5, upsert=True,
        survivors_only=True,
    ).collect()
    got = {(r.new_id, r.dup_of, r.origin) for r in rows}
    # batch 0: 2 dropped as dup of 1; batch 1: recrawled 5 now dups 1
    assert (2, 1, "delta") in got
    assert (5, 1, "corpus") in got
    # recrawled-unique 2 reports no NEW pair (its batch-0 row remains
    # in the event log untouched — that is the (2,1) above)
    assert not any(n == 2 and o == "corpus" for n, _, o in got)
    idx_ids = {
        r.doc_id
        for r in spark.read.schema(_IDX_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(os.path.join(work, "band_index"))
        .select("doc_id")
        .distinct()
        .collect()
    }
    # 5's stale rows removed AND its new version dropped -> absent;
    # 2's re-crawl survives -> present; 1 was always the keeper
    assert idx_ids == {1, 2}


def test_trailing_window_state_resumes_and_evicts(spark, tmp_path):
    """Stateful trailing window across micro-batches: (a) frames that
    span a batch boundary resume from the horizon buffer and the final
    output equals the batch RANGE frame over the full data; (b) the
    buffer EVICTS — after a quiet gap longer than the horizon, state
    for a user is exactly its recent events, pinned by a constructed
    scenario whose correct answer only needs horizon history."""
    from wikidata_to_surrealdb_spark.plans.queries import QUERIES
    from wikidata_to_surrealdb_spark.streaming.events import (
        apply_trailing_window,
        slice_events_table,
    )

    # (a) real data, 3 time-ordered micro-batches == batch oracle
    sliced = slice_events_table(
        spark, f"{SF_DIR}/events.parquet", str(tmp_path / "slices"), slices=3
    )
    from wikidata_to_surrealdb_spark.functions import finite, fround

    stream = (
        spark.readStream.schema(spark.read.parquet(sliced).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(sliced)
    )
    mic = (
        finite(F.col("value")).cast("decimal(18,6)") * 1_000_000
    ).cast("bigint")
    ev = stream.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.coalesce(mic, F.lit(0)).alias("mic"),
        mic.isNotNull().alias("ok"),
    )
    out = apply_trailing_window(ev).select(
        "event_id",
        "user_id",
        "ts_us",
        "trailing_n",
        fround(
            F.when(
                F.col("n_ok") > 0,
                F.col("sum_mic").cast("decimal(38,6)") / 1_000_000,
            ).cast("double"),
            2,
        ).alias("trailing_sum"),
    )
    table = f"trail_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(table)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {tuple(r) for r in spark.table(table).collect()}
    want = {
        tuple(r)
        for r in QUERIES["events_trailing_window"].fn(spark, SF_DIR).collect()
    }
    assert got == want

    # (b) eviction: batch 0 = burst at t=0..2, batch 1 = one event 3
    # horizons later — its frame must be itself only (count 1), which
    # is only correct if the burst was evicted... and equally correct
    # if it was not; so ALSO check state size through a third batch
    # that would double-count a non-evicted burst at the window edge
    H = 1_000_000  # 1s horizon for the synthetic
    import glob
    import shutil

    def stage(rows, name, t_off):
        df = spark.createDataFrame(
            [r + (True,) for r in rows],
            "event_id long, user_id long, us long, mic long, ok boolean",
        )
        p = tmp_path / f"_st_{name}"
        df.coalesce(1).write.parquet(str(p))
        f = glob.glob(str(p / "*.parquet"))[0]
        dst = tmp_path / "syn" / f"{name}.parquet"
        dst.parent.mkdir(exist_ok=True)
        shutil.copyfile(f, str(dst))
        t = time.time() + t_off
        os.utime(dst, (t, t))

    stage([(1, 7, 0, 100), (2, 7, 1, 200)], "00", 0)
    stage([(3, 7, 4 * H, 300)], "01", 1)
    stage([(4, 7, 5 * H, 400)], "02", 2)
    syn_stream = (
        spark.readStream.schema(
            "event_id long, user_id long, us long, mic long, ok boolean"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "syn"))
    )
    t2 = f"trailsyn_{uuid.uuid4().hex[:8]}"
    q2 = (
        apply_trailing_window(syn_stream, horizon_us=H)
        .writeStream.format("memory")
        .queryName(t2)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    by_eid = {
        r.event_id: (r.trailing_n, r.sum_mic)
        for r in spark.table(t2).collect()
    }
    assert by_eid[1] == (1, 100)
    assert by_eid[2] == (2, 300)   # 0 and 1 within 1s
    assert by_eid[3] == (1, 300)   # burst evicted/out of frame
    assert by_eid[4] == (2, 700)   # 4*H within H of 5*H (closed edge)


def test_remap_converges_exactly_on_final_hop(spark):
    """Regression: convergence is tested AFTER each hop, so max_rounds
    hops genuinely cover 2^max_rounds-deep chains — a depth-3 chain
    must resolve within 2 doubling rounds, not raise a false cycle."""
    from wikidata_to_surrealdb_spark.operators.dedup import (
        remap_pairs_to_survivors,
    )

    pairs = spark.createDataFrame(
        [(9, 7, "delta", 0.6), (7, 5, "delta", 0.7), (5, 3, "delta", 0.8)],
        "new_id BIGINT, dup_of BIGINT, origin STRING, jaccard DOUBLE",
    )
    got = {
        (r.new_id, r.dup_of)
        for r in remap_pairs_to_survivors(pairs, max_rounds=2).collect()
    }
    assert got == {(9, 3), (7, 3), (5, 3)}


def test_upsert_discovery_scan_pushes_id_range(spark, tmp_path):
    """The upsert rewrite-discovery read must push the batch-id BETWEEN
    into the parquet scan (row-group stats prune doc_id-sorted
    compacted generations) — without it every upsert batch re-reads
    the whole store (r14 review finding)."""
    import io
    from contextlib import redirect_stdout

    from wikidata_to_surrealdb_spark.streaming.documents import (
        _INDEX_SCHEMA,
        incremental_dedup_multibatch,
        slice_documents_table,
    )

    sliced = slice_documents_table(
        spark,
        f"{SF_DIR}/documents.parquet",
        str(tmp_path / "slices"),
        slices=2,
    )
    work = str(tmp_path / "work")
    incremental_dedup_multibatch(spark, sliced, work, threshold=0.1).collect()
    tagged = (
        spark.read.schema(_INDEX_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(os.path.join(work, "band_index"))
        .where(F.col("doc_id").between(100, 140))
        .withColumn("_f", F.input_file_name())
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        tagged.explain(True)
    pushed = [
        ln for ln in buf.getvalue().splitlines() if "PushedFilters" in ln
    ]
    assert pushed, "no PushedFilters line in the discovery-scan plan"
    assert "GreaterThanOrEqual(doc_id,100" in pushed[0]
    assert "LessThanOrEqual(doc_id,140" in pushed[0]


def test_trailing_window_overflow_guard_raises(spark, tmp_path):
    """ADVICE r14 (medium): a horizon buffer whose absolute micro-unit
    sum could wrap int64 must raise loudly instead of silently
    diverging from the DECIMAL oracle (numpy int64 overflow is
    modular). Five events near the DECIMAL(18,6) magnitude cap exceed
    the 2^62 guard."""
    from wikidata_to_surrealdb_spark.streaming.events import (
        apply_trailing_window,
    )

    big = 999_999_999_999_000_000  # ~1e18 micro-units each
    rows = [(i, 7, i, big, True) for i in range(5)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, us long, mic long, ok boolean"
    )
    src = tmp_path / "ovf_src"
    df.coalesce(1).write.parquet(str(src))
    stream = spark.readStream.schema(df.schema).parquet(str(src))
    q = (
        apply_trailing_window(stream, horizon_us=1_000_000)
        .writeStream.format("memory")
        .queryName(f"ovf_{uuid.uuid4().hex[:8]}")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="micro-unit magnitude"):
        q.awaitTermination()


def test_hadoopfs_rename_edge_cases(spark, tmp_path):
    """VERDICT r14 directive 8: the two rename edge cases object stores
    are pickiest about — a trailing-slash destination (Hadoop Path
    normalizes it away) and a nonexistent destination parent (HDFS
    rename returns false; the adapter must surface that as OSError,
    never silently drop the file)."""
    from wikidata_to_surrealdb_spark.streaming import store_fs

    fs = store_fs.for_path(spark, f"file:{tmp_path}")
    assert isinstance(fs, store_fs.HadoopFS)
    fs.makedirs(f"file:{tmp_path}/a")
    fs.write_text(f"file:{tmp_path}/a/x.txt", "payload")

    # trailing-slash destination: normalized, rename lands at the same
    # path as the slash-less spelling
    fs.rename(f"file:{tmp_path}/a", f"file:{tmp_path}/b/")
    assert fs.exists(f"file:{tmp_path}/b/x.txt")
    assert not fs.exists(f"file:{tmp_path}/a")
    # set_mtime through a trailing-slash path also normalizes
    fs.set_mtime(f"file:{tmp_path}/b/", 1_600_000_000.0)

    # nonexistent destination parent: Hadoop's LOCAL filesystem
    # succeeds (java.io rename fails, the FileUtil.copy fallback
    # creates the parent); HDFS would return false instead. The
    # adapter contract is therefore "moved OR OSError, never silent
    # loss" — pinned here for file:, and the false->OSError surface
    # is pinned below via the rename-onto-existing case (false on
    # every Hadoop filesystem).
    fs.rename(
        f"file:{tmp_path}/b/x.txt",
        f"file:{tmp_path}/no_such_parent/x.txt",
    )
    assert fs.exists(f"file:{tmp_path}/no_such_parent/x.txt")
    assert not fs.exists(f"file:{tmp_path}/b/x.txt")

    # rename onto an existing destination: FileSystem.rename returns
    # false -> the adapter raises OSError and the source is untouched
    fs.write_text(f"file:{tmp_path}/c1.txt", "c1")
    fs.write_text(f"file:{tmp_path}/c2.txt", "c2")
    with pytest.raises(OSError, match="rename failed"):
        fs.rename(f"file:{tmp_path}/c1.txt", f"file:{tmp_path}/c2.txt")
    assert fs.read_text(f"file:{tmp_path}/c1.txt") == "c1"
    assert fs.read_text(f"file:{tmp_path}/c2.txt") == "c2"


def test_hadoopfs_write_text_overwrite_atomic(spark, tmp_path):
    """ADVICE r14: overwrite goes through FileContext.rename(OVERWRITE)
    when the scheme has an AbstractFileSystem binding (file:/hdfs:) —
    single atomic replace, no delete-then-rename missing-file window —
    and never leaves a ._tmp_write behind."""
    from wikidata_to_surrealdb_spark.streaming import store_fs

    fs = store_fs.for_path(spark, f"file:{tmp_path}")
    p = f"file:{tmp_path}/_meta.json"
    fs.write_text(p, "v1")
    fs.write_text(p, "v2")
    assert fs.read_text(p) == "v2"
    assert not fs.exists(p + "._tmp_write")


def test_fc_availability_detected_positively(spark):
    """ADVICE r15: FileContext-class absence is detected POSITIVELY
    (py4j JavaPackage probe) before the rename attempt — unrelated
    TypeErrors / py4j network errors must no longer be mistaken for
    'class missing' and silently downgrade write_text to the
    non-atomic delete-then-rename path."""
    from wikidata_to_surrealdb_spark.streaming.store_fs import (
        _fc_classes_present,
        _fc_unavailable,
    )

    # this container's Hadoop has the classes
    assert _fc_classes_present(spark._jvm) is True

    # ADVICE r16: the probe's own catch is NARROW — a name-resolution
    # Py4JError reads as "absent", but a gateway/network failure during
    # the probe propagates instead of silently downgrading write_text
    # to the non-atomic path
    import pytest
    from py4j.protocol import Py4JError, Py4JNetworkError

    class _RaisingJvm:
        def __init__(self, exc):
            self._exc = exc

        @property
        def org(self):
            raise self._exc

    assert _fc_classes_present(_RaisingJvm(Py4JError("no such name"))) is False
    with pytest.raises(Py4JNetworkError):
        _fc_classes_present(_RaisingJvm(Py4JNetworkError("gateway down")))
    with pytest.raises(TypeError):
        _fc_classes_present(_RaisingJvm(TypeError("bad arg")))
    # exception matching now only recognizes the per-scheme binding
    # gap; everything else propagates
    assert _fc_unavailable(TypeError("bad arg")) is False
    assert _fc_unavailable(RuntimeError("py4j down")) is False

    class FakePy4JError(Exception):
        pass

    assert _fc_unavailable(FakePy4JError()) is False

    class FakeCls:
        def getName(self):
            return (
                "org.apache.hadoop.fs.UnsupportedFileSystemException"
            )

    class FakeJE:
        def getClass(self):
            return FakeCls()

    e = Exception("binding missing")
    e.java_exception = FakeJE()
    assert _fc_unavailable(e) is True


def test_staged_event_slices_distinct_for_same_basename(spark, tmp_path):
    """ADVICE r15 (medium): two sf_dirs sharing a BASENAME (e.g. tmp
    copies of 'sf0.001') must stage into distinct dirs — the staging
    dir is keyed by the same value as the cache (the abspath), so the
    second call cannot overwrite the dir the first cache entry still
    points at."""
    import shutil

    from wikidata_to_surrealdb_spark.plans.queries import (
        _staged_event_slices,
    )

    src = f"{SF_DIR}/events.parquet"
    a = tmp_path / "a" / "sfX"
    b = tmp_path / "b" / "sfX"
    copy = shutil.copytree if os.path.isdir(src) else shutil.copy
    for d in (a, b):
        os.makedirs(d)
        copy(src, str(d / "events.parquet"))
    out_a = _staged_event_slices(spark, str(a))
    out_b = _staged_event_slices(spark, str(b))
    assert out_a != out_b
    # and both stagings are intact (neither overwrote the other)
    assert spark.read.parquet(out_a).count() > 0
    assert spark.read.parquet(out_b).count() > 0
    # cache stability: a repeat call returns the same dir, no re-stage
    assert _staged_event_slices(spark, str(a)) == out_a


def test_store_manifest_backfills_new_parameter_defaults(spark, tmp_path):
    """ADVICE r14: a manifest written BEFORE a parameter existed means
    the store was built under that parameter's default — resuming such
    a store with the default must succeed (the key is backfilled), and
    resuming with a non-default value must still fail loudly."""
    import json as _json

    from wikidata_to_surrealdb_spark.streaming import store_fs
    from wikidata_to_surrealdb_spark.streaming.documents import (
        _store_params,
        check_store_manifest,
    )

    work = str(tmp_path / "legacy_store")
    os.makedirs(work)
    params = _store_params(8, 2, 3, 0.1, False, remap_intra=False)
    legacy = {k: v for k, v in params.items() if k != "remap_intra"}
    fs = store_fs.for_path(spark, work)
    fs.write_text(
        os.path.join(work, "_meta.json"), _json.dumps(legacy, sort_keys=True)
    )
    # default value: resumes (missing key backfilled as its default)
    found = check_store_manifest(fs, work, params)
    assert found["remap_intra"] is False
    # non-default value: still rejected by name
    drift = dict(params, remap_intra=True)
    with pytest.raises(ValueError, match="remap_intra"):
        check_store_manifest(fs, work, drift)


def test_slice_documents_geometry_knob(spark, tmp_path):
    """VERDICT r14 #7: files_per_slice is a real parameter — each
    slice lands as exactly that many same-mtime parquet files, mtimes
    increase across slices, and an infeasible geometry raises."""
    from wikidata_to_surrealdb_spark.streaming import store_fs
    from wikidata_to_surrealdb_spark.streaming.documents import (
        slice_documents_table,
    )

    docs_path = f"{SF_DIR}/documents.parquet"
    out = slice_documents_table(
        spark, docs_path, str(tmp_path / "s2"), slices=2, files_per_slice=2
    )
    fs = store_fs.for_path(spark, out)
    slice_mtimes = []
    for i in range(2):
        d = os.path.join(out, f"slice={i}")
        parts = [
            p
            for p in fs.list_files(d)
            if p.endswith(".parquet") and not os.path.basename(p).startswith((".", "_"))
        ]
        assert len(parts) == 2, f"slice {i}: {parts}"
        mt = {os.path.getmtime(p) for p in parts}
        assert len(mt) == 1  # same mtime within a slice
        slice_mtimes.append(mt.pop())
    assert slice_mtimes[0] < slice_mtimes[1]
    with pytest.raises(ValueError, match="files_per_slice"):
        slice_documents_table(
            spark, docs_path, str(tmp_path / "bad"), slices=2,
            files_per_slice=0,
        )


def test_slice_events_geometry_knob(spark, tmp_path):
    """r15 symmetry with slice_documents_table: files_per_slice is a
    real parameter on the events staging too — exact file counts per
    slice, same mtime within a slice, increasing across slices,
    adapter-routed so a file: URI works, infeasible geometry raises."""
    from wikidata_to_surrealdb_spark.streaming import store_fs
    from wikidata_to_surrealdb_spark.streaming.events import (
        slice_events_table,
    )

    events_path = f"{SF_DIR}/events.parquet"
    out = slice_events_table(
        spark, events_path, f"file:{tmp_path}/s2", slices=2,
        files_per_slice=2,
    )
    fs = store_fs.for_path(spark, out)
    assert isinstance(fs, store_fs.HadoopFS)
    mtimes = []
    for i in range(2):
        d = os.path.join(out, f"slice={i}")
        parts = [
            p
            for p in fs.list_files(d)
            if p.endswith(".parquet")
            and not os.path.basename(p).startswith((".", "_"))
        ]
        assert len(parts) == 2, f"slice {i}: {parts}"
        local = [p.replace("file:", "") for p in parts]
        mt = {os.path.getmtime(p) for p in local}
        assert len(mt) == 1
        mtimes.append(mt.pop())
    assert mtimes[0] < mtimes[1]
    with pytest.raises(ValueError, match="files_per_slice"):
        slice_events_table(
            spark, events_path, str(tmp_path / "bad"), slices=2,
            files_per_slice=0,
        )


def test_funnel_stateful_multibatch_equals_batch(spark, tmp_path):
    """Stateful streaming funnel (r15): the union of reached rows
    emitted across 3 time-ordered micro-batches equals the batch
    array-fold funnel exactly, including reach timestamps — and a
    cross-batch reach (step i-1 in one batch, step i in a later one)
    resumes from state."""
    from wikidata_to_surrealdb_spark.operators import temporal
    from wikidata_to_surrealdb_spark.streaming.events import (
        funnel_stateful_multibatch,
        slice_events_table,
    )

    steps = ["view", "click", "purchase"]
    sliced = slice_events_table(
        spark, f"{SF_DIR}/events.parquet", str(tmp_path / "fslices"),
        slices=3,
    )
    got = {
        (r.user_id, r.step_idx, r.reached_us)
        for r in funnel_stateful_multibatch(
            spark, sliced, steps, within_seconds=86400
        ).collect()
    }
    from wikidata_to_surrealdb_spark.sources.tables import normalize_ts

    events = normalize_ts(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    want = {
        (r["user_id"], r["step_idx"], r["us"])
        for r in temporal.funnel(
            events, steps, "user_id", "ts", "event_type",
            within_seconds=86400,
        )
        .select("user_id", "step_idx", F.unix_micros("reached_ts").alias("us"))
        .collect()
    }
    assert got == want and got
    # (cross-batch resume is pinned DETERMINISTICALLY by the synthetic
    # test below — at sf0.001 the 24h horizon rarely straddles a
    # time-third slice boundary, so a data-dependent spans assertion
    # here would be flaky)


def test_funnel_ttl_eviction_preserves_emitted_set(spark, tmp_path):
    """VERDICT r15 #6: the opt-in event-time TTL bounds funnel state
    for open-world key spaces — once within_us has lapsed past the
    watermark a user's funnel is final, so eviction must not change
    the emitted set on the sliced corpus; the state store must
    actually drain (observable via per-batch state_rows)."""
    import pytest

    from wikidata_to_surrealdb_spark.streaming.events import (
        apply_funnel_stateful,
        funnel_stateful_multibatch,
        slice_events_table,
    )

    steps = ["view", "click", "purchase"]
    sliced = slice_events_table(
        spark, f"{SF_DIR}/events.parquet", str(tmp_path / "fttl"),
        slices=3,
    )
    prog_plain, prog_ttl = [], []
    plain = {
        (r.user_id, r.step_idx, r.reached_us)
        for r in funnel_stateful_multibatch(
            spark, sliced, steps, within_seconds=86400,
            progress=prog_plain,
        ).collect()
    }
    ttl = {
        (r.user_id, r.step_idx, r.reached_us)
        for r in funnel_stateful_multibatch(
            spark, sliced, steps, within_seconds=86400, ttl_seconds=1,
            progress=prog_ttl,
        ).collect()
    }
    assert ttl == plain and plain
    # without TTL the reach state never drains...
    assert prog_plain[-1]["state_rows"] > 0
    # ...with TTL every final funnel is evicted once the watermark
    # passes horizon + ttl (availableNow runs a final timeout batch)
    assert prog_ttl[-1]["state_rows"] == 0
    assert prog_ttl[0]["state_rows"] > 0  # state did exist mid-stream

    # guard rails: ttl without a horizon (never-final funnels) and
    # non-int ttl values are rejected at plan build
    df = spark.createDataFrame(
        [(1, 1, "view")], "user_id long, us long, tp string"
    )
    with pytest.raises(ValueError, match="within_us"):
        apply_funnel_stateful(df, steps, ttl_us=1)
    for bad in (True, -1, 1.5):
        with pytest.raises(ValueError, match="ttl_us"):
            apply_funnel_stateful(
                df, steps, within_us=86400_000_000, ttl_us=bad
            )


def test_funnel_ttl_reemission_after_eviction_is_pinned(spark, tmp_path):
    """ADVICE r16: the DOCUMENTED open-world trade of ttl_us — an
    evicted user whose corpus carries a post-horizon step-0 event
    restarts the funnel and re-emits a (user_id, step_idx) pair with a
    new timestamp, so ttl runs can diverge from non-TTL/batch runs on
    exactly this corpus shape. Pinned constructively so the divergence
    class stays a fixed contract rather than an implied one: without
    TTL the late view is ignored (step 0 already reached); with TTL the
    evicted user is a new user and step 0 re-emits."""
    import glob
    import shutil

    from wikidata_to_surrealdb_spark.streaming.events import (
        funnel_stateful_multibatch,
    )

    S = 1_000_000  # 1 s in micros
    t0 = 1_700_000_000_000_000
    batches = [
        # b0: user 1 reaches view + click inside the 60 s horizon
        [(1, 1, t0, "view"), (2, 1, t0 + 10 * S, "click")],
        # b1: unrelated user 2 drives the watermark past
        # reached[0] + within + ttl = t0 + 61 s
        [(3, 2, t0 + 200 * S, "view")],
        # b2: watermark (from b1) now exceeds user 1's timeout — the
        # eviction fires here, before any new user-1 data arrives
        [(4, 2, t0 + 300 * S, "click")],
        # b3: post-horizon step-0 event for the EVICTED user 1
        [(5, 1, t0 + 400 * S, "view")],
    ]

    def stage(rows, name, off, root):
        df = spark.createDataFrame(
            [(eid, u, us, tp, 0.0, "{}") for eid, u, us, tp in rows],
            "event_id long, user_id long, us long, event_type string, "
            "value double, props string",
        ).select(
            "event_id",
            F.timestamp_micros(F.col("us")).alias("ts"),
            "user_id", "event_type", "value", "props",
        )
        p = tmp_path / f"_fttl_{name}"
        df.coalesce(1).write.parquet(str(p))
        f = glob.glob(str(p / "*.parquet"))[0]
        dst = tmp_path / root / f"{name}.parquet"
        dst.parent.mkdir(exist_ok=True)
        shutil.copyfile(f, str(dst))
        t = time.time() + off
        os.utime(dst, (t, t))

    for i, rows in enumerate(batches):
        stage(rows, f"{i:02d}", i, "fttl_syn")

    steps = ["view", "click", "purchase"]
    plain = {
        (r.user_id, r.step_idx, r.reached_us)
        for r in funnel_stateful_multibatch(
            spark, str(tmp_path / "fttl_syn"), steps, within_seconds=60,
        ).collect()
    }
    ttl = {
        (r.user_id, r.step_idx, r.reached_us)
        for r in funnel_stateful_multibatch(
            spark, str(tmp_path / "fttl_syn"), steps, within_seconds=60,
            ttl_seconds=1,
        ).collect()
    }
    # without TTL the late view is swallowed by the retained state
    assert not {(u, s, us) for (u, s, us) in plain if us == t0 + 400 * S}
    # with TTL the evicted user restarts: exactly ONE extra row — user
    # 1's step 0 re-emitted at the late timestamp — i.e. a duplicate
    # (user_id, step_idx) pair differing only in reached_us
    extra = ttl - plain
    assert len(extra) == 1, (sorted(plain), sorted(ttl))
    ((u, s, us),) = extra
    assert (u, us) == (1, t0 + 400 * S)
    assert any(pu == 1 and ps == s for (pu, ps, _) in plain)
    # everything both runs agree on is identical
    assert plain <= ttl


def test_funnel_stateful_tiebreak_and_horizon(spark, tmp_path):
    """Constructed edges: same-ts click does NOT satisfy 'strictly
    after' the view that reaches step 0; the within horizon excludes a
    click exactly one micro past view+24h; and cross-batch state
    resumes (view in batch 0, click in batch 1)."""
    import glob
    import shutil

    from wikidata_to_surrealdb_spark.streaming.events import (
        funnel_stateful_multibatch,
    )

    H = 86400 * 1_000_000
    t0 = 1_700_000_000_000_000
    rows_b0 = [
        # user 1: view and click at the SAME ts -> click must not count
        (1, 1, t0, "view"), (2, 1, t0, "click"),
        # user 2: view only (click arrives in batch 1)
        (3, 2, t0, "view"),
        # user 3: view; click at exactly view+H (closed edge: counts)
        (4, 3, t0, "view"),
    ]
    rows_b1 = [
        (5, 2, t0 + 5, "click"),          # resumes user 2 from state
        (6, 3, t0 + H, "click"),           # exactly at horizon: counts
        (7, 3, t0 + H + 1, "purchase"),    # one past horizon: excluded
        (8, 1, t0 + 10, "click"),          # later click reaches user 1
    ]

    def stage(rows, name, off):
        df = spark.createDataFrame(
            [(eid, u, us, tp, 0.0, "{}") for eid, u, us, tp in rows],
            "event_id long, user_id long, us long, event_type string, "
            "value double, props string",
        ).select(
            "event_id",
            F.timestamp_micros(F.col("us")).alias("ts"),
            "user_id", "event_type", "value", "props",
        )
        p = tmp_path / f"_f_{name}"
        df.coalesce(1).write.parquet(str(p))
        f = glob.glob(str(p / "*.parquet"))[0]
        dst = tmp_path / "fsyn" / f"{name}.parquet"
        dst.parent.mkdir(exist_ok=True)
        shutil.copyfile(f, str(dst))
        t = time.time() + off
        os.utime(dst, (t, t))

    stage(rows_b0, "00", 0)
    stage(rows_b1, "01", 1)
    got = {
        (r.user_id, r.step_idx, r.reached_us)
        for r in funnel_stateful_multibatch(
            spark, str(tmp_path / "fsyn"), ["view", "click", "purchase"],
            within_seconds=86400,
        ).collect()
    }
    assert got == {
        (1, 1, t0), (1, 2, t0 + 10),
        (2, 1, t0), (2, 2, t0 + 5),
        (3, 1, t0), (3, 2, t0 + H),
    }
