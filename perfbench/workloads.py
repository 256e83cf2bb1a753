"""The benchmark's workloads, each with its untimed input generation,
set-up, passes, traced pass and output checks.

- ``dump_refresh``: the reference workflow. Set-up loads a base dump into
  the bucketed-manifest layout. A pass ingests a generated dump with
  ``load_dump`` + ``write_tables`` into 4 parquet tables (the reference's
  Bulk mode, ``BulkIngest``), then runs a refresh round (``Refresh``):
  ``merge_into_bucketed_manifest`` of an update dump,
  ``read_bucketed_manifest`` of the 4 tables and the reference's own
  SurrealQL scripts through ``run_surql``.
- ``pipeline_ops``: a pass runs three of the catalog's LLM-data-pipeline
  queries (``OPS``) on generated tables and collects each result.

A plain pass returns its wall time, the CPU seconds of the process tree
and the executor CPU seconds of the tasks it ran. Checks compare the
program's outputs with truth computed apart from the program: the
generator's truth (``gen.py``) against the parquet files as DuckDB reads
them, the reference's script semantics applied to that truth, and the
catalog's DuckDB oracles.
"""

from __future__ import annotations

import collections
import glob
import json
import math
import os
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import gen

TABLES = ("Entity", "Property", "Lexeme", "Claims")

# the reference's own scripts: Useful queries.md (Media view, number of
# episodes, Get Parts), integration.rs (count + empty-array predicate) and
# tests/data/test_filter.surql (delete cascade)
SCRIPTS = {
    "media": """
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

    SELECT label, episodes, parent, children FROM Media WHERE id.tb = "Entity";
    """,
    "episodes": """
    let $number_of_episodes = (select claims.claims[where id = Property:1113][0].value.ClaimValueData.Quantity.amount as number_of_episodes from Entity where label = "Black Clover, season 1")[0].number_of_episodes;

    return $number_of_episodes;

    update Entity SET number_of_episodes=$number_of_episodes where label = "Black Clover, season 1";
    """,
    "parts": """
    let $parts = (select claims.claims[where id = Property:527].value.Thing as parts from Entity where label = "Black Clover")[0].parts;

    return $parts;
    """,
    "count": """
    return count(select * from Entity);
    select label from Entity
    where claims.claims[where id = Property:1113] != [] limit 5;
    """,
    "filter": """
    let $delete = select claims, id from Entity
    where claims.claims[where id = Property:1113].value.Thing == [];

    let $entity = return (select id from $delete).id;
    let $claims = return (select claims from $delete).claims;

    delete $claims;
    delete $entity;
    """,
}


def noop(df) -> None:
    """Materialize a DataFrame without keeping or writing its rows."""
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _measured(meters, fn) -> dict:
    """Run ``fn`` and return its wall time, the process tree's CPU seconds
    and the executor CPU seconds of the tasks it ran."""
    tree, store = meters
    mark, c0 = store.mark(), tree.cpu_s()
    wall, out = _timed(fn)
    cpu = tree.cpu_s() - c0
    return {"wall": wall, "cpu": cpu, "task_cpu": store.since(mark)["cpu_s"], "out": out}


class Truth:
    """Table contents the program should produce, from generator truth:
    first-writer-wins inside one load, last-load-wins across loads."""

    def __init__(self, dump: gen.Dump):
        self.rows = dict(dump.rows)  # (tb, num) -> Summary, per table
        self.claims = dict(dump.claims)  # num -> Summary of the Claims row's writer

    def apply(self, update: gen.Dump) -> None:
        self.rows.update(update.rows)
        self.claims.update(update.claims)

    def entities(self) -> list:
        return [s for (tb, _), s in self.rows.items() if tb == "Entity"]


def check_tables(files: dict[str, list[str]], truth: Truth) -> tuple[list[str], list[str]]:
    """Compare the 4 parquet tables, read by DuckDB, with the truth.

    Returns the errors and the tables that hold a row for
    ``gen.TRUNCATED_LINE``, which should have been dropped; that row is
    left out of the comparison, so each such table counts as one failed
    operation instead of a wrong result."""
    import duckdb

    errors, truncated = [], []
    cut = gen.TRUNCATED_NUM
    con = duckdb.connect()
    try:
        for tb in ("Entity", "Property", "Lexeme"):
            want = collections.Counter(
                (s.tb, s.num, s.label, s.description) for (t, _), s in truth.rows.items() if t == tb
            )
            got = collections.Counter(
                con.sql(f"SELECT id.tb, id.id, label, description FROM read_parquet({files[tb]})").fetchall()
                if files[tb] else ()
            )
            if any(num == cut for _, num, _, _ in got):
                truncated.append(tb)
                got = collections.Counter({k: n for k, n in got.items() if k[1] != cut})
            if got != want:
                errors.append(f"{tb}: {sum(got.values())} rows vs {sum(want.values())} expected, or other contents")
        if not files["Claims"]:
            return errors + ["Claims: no files"], truncated
        src = f"read_parquet({files['Claims']})"
        ids = con.sql(f"SELECT id.tb, id.id FROM {src}").fetchall()
        if ("Claims", cut) in ids:
            truncated.append("Claims")
            ids.remove(("Claims", cut))
            src = f"(SELECT * FROM {src} WHERE id.id <> {cut})"
        if sorted(ids) != sorted(("Claims", n) for n in truth.claims):
            errors.append(f"Claims: {len(ids)} row ids vs {len(truth.claims)} expected, or other ids")
        (total,) = con.sql(f"SELECT coalesce(sum(len(claims)), 0) FROM {src}").fetchone()
        want_total = sum(s.n_claims for s in truth.claims.values())
        if total != want_total:
            errors.append(f"Claims: {total} flattened claims vs {want_total} expected")
        (p1113,) = con.sql(
            f"SELECT coalesce(sum(c.value.quantity.amount), 0) FROM (SELECT unnest(claims) AS c FROM {src}) "
            "WHERE c.id.tb = 'Property' AND c.id.id = 1113"
        ).fetchone()
        want_p1113 = math.fsum(s.p1113_sum for s in truth.claims.values())
        if not math.isclose(p1113, want_p1113, rel_tol=1e-9, abs_tol=1e-6):
            errors.append(f"Claims: P1113 sum {p1113} vs {want_p1113} expected")
    finally:
        con.close()
    return errors, truncated


def _new_maker(seed: int, id_space: int) -> gen.EntityMaker:
    rng = random.Random(seed)
    return gen.EntityMaker(rng, gen.Vocab(rng), id_space)


class BulkIngest:
    """The reference's Bulk mode: ``load_dump`` + ``write_tables`` of a
    generated dump into 4 parquet tables. Each table written is one
    operation. The dump carries ``gen.TRUNCATED_LINE``: a table that
    keeps a row for it is a failed operation (see ``check``)."""

    N_ENTITIES = 8_000
    ID_SPACE = 2_000_000

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.out = os.path.join(work, "tables")
        self.inputs: dict = {}
        self.passes = 0

    def generate(self) -> None:
        maker = _new_maker(self.seed, self.ID_SPACE)
        ids = gen.base_ids(maker.rng, self.N_ENTITIES, self.ID_SPACE)
        self.dump = gen.write_dump(
            os.path.join(self.work, "dump.json"), maker, ids, n_huge=2, huge_claims=2500,
            dup_rate=0.005, bad_rate=0.002, fixed=gen.fixed_entities(maker, self.ID_SPACE + 1),
            truncated=True,
        )
        self.truth = Truth(self.dump)
        self.inputs = {"dump_lines": self.dump.n_lines, "dump_entities": self.dump.n_entities,
                       "dump_bytes": self.dump.n_bytes, "distinct_rows": len(self.truth.rows)}

    def ingest(self, spark) -> float:
        from wikidata_to_surrealdb_spark.operators.ingest import load_dump, write_tables

        t, _ = _timed(lambda: write_tables(load_dump(spark, self.dump.path), self.out))
        self.passes += 1
        return t

    def traced_pass(self, spark, meters, tracer) -> dict:
        """The same work split at each public function: every prefix of
        the lazy plan is materialized into the noop sink, so a phase's
        self time is its prefix minus the one before it."""
        from pyspark import StorageLevel

        from wikidata_to_surrealdb_spark.operators import ingest
        from wikidata_to_surrealdb_spark.sources.dump_reader import read_dump_lines

        _, store = meters
        m: dict = {}
        with tracer.span("bulk") as top:
            lines = read_dump_lines(spark, self.dump.path)
            with tracer.span("sources.dump_reader.read_dump_lines"):
                t_scan, _ = _timed(lambda: noop(lines))
            parsed = ingest.parse_entities(lines)
            with tracer.span("operators.ingest.parse_entities"):
                t_parse, _ = _timed(lambda: noop(parsed))
            transformed = ingest.transform_entities(parsed)
            with tracer.span("operators.ingest.transform_entities"):
                t_transform, _ = _timed(lambda: noop(transformed))
            tables = ingest.build_tables(transformed)
            parent = tables.staged_parent
            mark = store.mark()
            with tracer.span("operators.ingest.write_tables:stage"):
                t_stage, _ = _timed(lambda: (parent.persist(StorageLevel.MEMORY_AND_DISK), parent.count()))
            stage = store.since(mark)
            m["ingest.stage_cache_bytes"] = store.cached_bytes()
            with tracer.span("operators.ingest.build_tables"):
                with ThreadPoolExecutor(max_workers=4) as pool:
                    t_build, _ = _timed(lambda: [f.result() for f in [
                        pool.submit(noop, df) for df in tables.as_dict().values()]])
            mark = store.mark()
            with tracer.span("operators.ingest.write_tables:write"):
                t_write, _ = _timed(lambda: ingest.write_tables(tables, self.out, stage=False))
            write = store.since(mark)
            parent.unpersist()
            top["counters"] = {"stage": stage, "write": write}
        self.passes += 1
        m.update({
            "dump_reader.scan_s": t_scan,
            "dump_reader.splits": lines.rdd.getNumPartitions(),
            "ingest.parse_s": t_parse - t_scan,
            "ingest.transform_s": t_transform - t_parse,
            "ingest.stage_s": t_stage - t_transform,
            "ingest.build_s": t_build,
            "ingest.write_s": t_write - t_build,
            "ingest.jobs": stage["jobs"] + write["jobs"],
            "ingest.tasks": stage["tasks"] + write["tasks"],
            "ingest.build_shuffle_bytes": write["shuffle_write_bytes"],
            "ingest.spill_bytes": stage["spill_bytes"] + write["spill_bytes"],
            "ingest.dump_bytes_read_ratio": (stage["input_bytes"] + write["input_bytes"]) / self.dump.n_bytes,
            "ingest.executor_cpu_s": stage["cpu_s"] + write["cpu_s"],
            "ingest.gc_s": stage["gc_s"] + write["gc_s"],
            "ingest.out_bytes": dir_bytes(self.out),
            "ingest.bytes_per_entity": dir_bytes(self.out) / len(self.truth.rows),
        })
        return m

    def check(self) -> tuple[list[str], int, int]:
        """Errors, operations attempted and operations failed. Every pass
        writes the same tables, so the last pass's files stand for all."""
        files = {t: sorted(glob.glob(os.path.join(self.out, f"{t}.parquet", "*.parquet"))) for t in TABLES}
        errors, truncated = check_tables(files, self.truth)
        return errors, len(TABLES) * self.passes, len(truncated) * self.passes


class Refresh:
    """Base tables in the bucketed-manifest layout. A round merges an
    update dump into them, reads them back and runs the reference's
    SurrealQL scripts: 10 operations (the merge, 4 table reads, 5
    scripts). The Lexeme read fails in every round (see
    ``_read_tables``)."""

    N_BASE = 1_000
    N_UPDATE = 200
    N_UPDATE_DUMPS = 3
    N_BUCKETS = 8  # the default 64 would leave ~15 rows per bucket of a 1k-entity table
    ID_SPACE = 2_000_000

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.mdir = os.path.join(work, "manifest")
        self.round = 0
        self.errors: list[str] = []
        self.attempted = self.failed = 0
        self.inputs: dict = {}

    def generate(self) -> None:
        maker = _new_maker(self.seed, self.ID_SPACE)
        ids = gen.base_ids(maker.rng, self.N_BASE, self.ID_SPACE)
        self.base = gen.write_dump(
            os.path.join(self.work, "base.json"), maker, ids, n_huge=1, huge_claims=1000,
            dup_rate=0.005, bad_rate=0.002, fixed=gen.fixed_entities(maker, self.ID_SPACE + 1),
        )
        self.updates = [
            gen.write_dump(os.path.join(self.work, f"update{i}.json"), maker,
                           gen.update_ids(maker.rng, ids, self.N_UPDATE, self.ID_SPACE),
                           dup_rate=0.005, bad_rate=0.002)
            for i in range(self.N_UPDATE_DUMPS)
        ]
        self.truth = Truth(self.base)
        self.inputs = {"base_entities": self.base.n_entities, "base_bytes": self.base.n_bytes,
                       "update_entities": [u.n_entities for u in self.updates],
                       "update_bytes": [u.n_bytes for u in self.updates]}

    def load_base(self, spark) -> float:
        """Load the base dump into the manifest layout."""
        from wikidata_to_surrealdb_spark.operators.ingest import (
            load_dump,
            write_tables_bucketed_manifest,
        )

        t, _ = _timed(lambda: write_tables_bucketed_manifest(
            load_dump(spark, self.base.path), self.mdir, self.N_BUCKETS))
        return t

    def _live_dirs(self, table: str) -> list[str]:
        tdir = os.path.join(self.mdir, f"{table}.parquet")
        with open(os.path.join(tdir, "_MANIFEST.json")) as fh:
            return [os.path.join(tdir, d) for d in json.load(fh)["buckets"].values()]

    def _read_tables(self, spark) -> tuple[dict, int]:
        """The 4 tables through the manifest reader. An empty table (the
        Lexeme table of a lexeme-free dump) raises ValueError: that read
        counts as a failed operation."""
        from wikidata_to_surrealdb_spark.operators.ingest import read_bucketed_manifest

        tables, failed = {}, 0
        for t in TABLES:
            try:
                tables[t] = read_bucketed_manifest(spark, os.path.join(self.mdir, f"{t}.parquet"))
            except ValueError:
                failed += 1
        return tables, failed

    def _run_script(self, spark, tables: dict, name: str):
        from pyspark.sql import DataFrame

        from wikidata_to_surrealdb_spark.plans.surql import run_surql

        t0 = time.perf_counter()
        results, env = run_surql(spark, tables, SCRIPTS[name])
        t_run = time.perf_counter() - t0
        out = [r.collect() if isinstance(r, DataFrame) else r for r in results]
        mutated = {t: df for t, df in env.tables.items() if t in tables and df is not tables[t]}
        for df in mutated.values():
            noop(df)
        return t_run, time.perf_counter() - t0 - t_run, out, mutated

    def _merge(self, spark, update: gen.Dump) -> dict:
        from wikidata_to_surrealdb_spark.operators.ingest import (
            load_dump,
            merge_into_bucketed_manifest,
        )

        return merge_into_bucketed_manifest(spark, self.mdir, load_dump(spark, update.path), self.N_BUCKETS)

    def _round(self, spark, merge=None, read=None, script=None) -> dict:
        """One round; ``merge``, ``read`` and ``script`` replace the plain
        steps in a traced round. Results are checked after the round."""
        update = self.updates[self.round % len(self.updates)]
        t0 = time.perf_counter()
        merge_s, touched = _timed(lambda: (merge or self._merge)(spark, update))
        tables, failed = (read or self._read_tables)(spark)
        script_ms, outs = [], {}
        for name in SCRIPTS:
            t_run, t_exec, out, mutated = (script or self._run_script)(spark, tables, name)
            script_ms.append((name, 1000 * (t_run + t_exec)))
            outs[name] = (out, mutated)
        return {"wall": time.perf_counter() - t0, "merge_s": merge_s, "entities": update.n_entities,
                "script_ms": script_ms, "touched": touched, "update": update, "failed": failed,
                "outs": outs}

    def _account(self, r: dict) -> None:
        """Count the round's operations and check its script results."""
        self.round += 1
        self.attempted += 1 + len(TABLES) + len(SCRIPTS)
        self.failed += r["failed"]
        self.truth.apply(r["update"])
        self.errors += [f"round {self.round}: {e}" for e in self._check_scripts(r["outs"])]

    def traced_pass(self, spark, meters, tracer) -> dict:
        """One round as in ``run_pass``, with the update's parse and scan
        materialized apart first, and status-store counters read around
        the merge and around each script."""
        from wikidata_to_surrealdb_spark.operators.ingest import load_dump
        from wikidata_to_surrealdb_spark.plans.surql import parse
        from wikidata_to_surrealdb_spark.sources.dump_reader import read_dump_lines

        _, store = meters
        update = self.updates[self.round % len(self.updates)]
        before = set(d for t in TABLES for d in self._live_dirs(t))
        per_script = collections.defaultdict(list)
        with tracer.span("refresh"):
            lines = read_dump_lines(spark, update.path)
            with tracer.span("sources.dump_reader.read_dump_lines"):
                t_scan, _ = _timed(lambda: noop(lines))
            with tracer.span("operators.ingest.load_dump"):
                t_parse, _ = _timed(lambda: noop(load_dump(spark, update.path).staged_parent))
            merge_counters = {}

            def merge(spark_, upd):
                mark = store.mark()
                with tracer.span("operators.ingest.merge_into_bucketed_manifest"):
                    out = self._merge(spark_, upd)
                merge_counters.update(store.since(mark))
                return out

            def read(spark_):
                with tracer.span("operators.ingest.read_bucketed_manifest"):
                    t, out = _timed(lambda: self._read_tables(spark_))
                per_script["read_s"].append(t)
                return out

            def script(spark_, tables, name):
                t_parse_s, _ = _timed(lambda: parse(SCRIPTS[name]))
                mark = store.mark()
                with tracer.span(f"plans.surql.run_surql:{name}"):
                    res = self._run_script(spark_, tables, name)
                c = store.since(mark)
                per_script["parse_ms"].append(1000 * t_parse_s)
                per_script["run_ms"].append(1000 * res[0])
                per_script["execute_ms"].append(1000 * res[1])
                per_script["jobs"].append(c["jobs"])
                per_script["scan_bytes"].append(c["input_bytes"])
                per_script[name].append(1000 * (res[0] + res[1]))
                return res

            r = self._round(spark, merge=merge, read=read, script=script)
        self._account(r)
        new_dirs = set(d for t in TABLES for d in self._live_dirs(t)) - before
        all_ms = sorted(ms for _, ms in r["script_ms"])
        q = statistics.quantiles(all_ms, n=10, method="inclusive")
        return {
            "dump_reader.update_scan_s": t_scan,
            "manifest.update_parse_s": t_parse,
            "manifest.merge_s": r["merge_s"],
            "manifest.merge_jobs": merge_counters["jobs"],
            "manifest.update_bytes_read_ratio": merge_counters["input_bytes"] / update.n_bytes,
            "manifest.buckets_touched": sum(len(b) for b in r["touched"].values()),
            "manifest.rewrite_bytes_per_update_entity": sum(dir_bytes(d) for d in new_dirs) / update.n_entities,
            "manifest.read_s": _median(per_script["read_s"]),
            "manifest.live_files": sum(
                len(glob.glob(os.path.join(d, "*.parquet"))) for t in TABLES for d in self._live_dirs(t)),
            "surql.parse_ms": _median(per_script["parse_ms"]),
            "surql.run_ms": _median(per_script["run_ms"]),
            "surql.execute_ms": _median(per_script["execute_ms"]),
            "surql.jobs_per_script": _median(per_script["jobs"]),
            "surql.scan_bytes_per_script": _median(per_script["scan_bytes"]),
            **{f"surql.{n}_ms": _median(per_script[n]) for n in SCRIPTS},
            "surql.p50_ms": _median(all_ms),
            "surql.p90_ms": q[8],
            "manifest.bytes_per_entity": sum(dir_bytes(d) for t in TABLES for d in self._live_dirs(t))
            / len(self.truth.rows),
        }

    def _check_scripts(self, outs: dict) -> list[str]:
        """Each script's result against the reference's semantics applied
        to the truth of the live tables."""
        from pyspark.sql import functions as F

        t = self.truth
        ents = t.entities()

        def linked(s):
            return t.claims.get(s.num)

        def by_label(label):
            return next((s for s in ents if s.label == label), None)

        errors = []
        media = outs["media"][0][-1]
        want = collections.Counter(
            (s.label, linked(s).episodes, linked(s).parent, linked(s).children) for s in ents
        )
        got = collections.Counter(
            (r["label"], r["episodes"], tuple(r["parent"]) if r["parent"] else None,
             tuple(tuple(c) for c in r["children"])) for r in media
        )
        if got != want:
            errors.append(f"media: {len(media)} rows, {sum((got - want).values())} unexpected")

        out, mutated = outs["episodes"]
        season = by_label("Black Clover, season 1")
        want_eps = linked(season).first_p1113
        if out[1] != want_eps:
            errors.append(f"episodes: returned {out[1]} vs {want_eps}")
        set_rows = mutated["Entity"].where(F.col("number_of_episodes").isNotNull()).select(
            "label", "number_of_episodes").collect()
        want_set = [] if want_eps is None else [("Black Clover, season 1", want_eps)]
        if [tuple(r) for r in set_rows] != want_set:
            errors.append(f"episodes: updated rows {set_rows} vs {want_set}")

        parts = [tuple(p) for p in outs["parts"][0][1] or ()]
        if tuple(parts) != linked(by_label("Black Clover")).children:
            errors.append(f"parts: {parts}")

        n, rows = outs["count"][0]
        with_p1113 = {s.label for s in ents if linked(s).has_p1113}
        if n != len(ents):
            errors.append(f"count: {n} vs {len(ents)}")
        if len(rows) != min(5, sum(1 for s in ents if linked(s).has_p1113)) or any(
            r["label"] not in with_p1113 for r in rows
        ):
            errors.append(f"count: predicate rows {rows}")

        mutated = outs["filter"][1]
        deleted = {s.num for s in ents if not linked(s).p1113_thing}
        n_ent, n_claims = mutated["Entity"].count(), mutated["Claims"].count()
        if n_ent != len(ents) - len(deleted) or n_claims != len(set(t.claims) - deleted):
            errors.append(f"filter: {n_ent} entities, {n_claims} claims rows left")
        return errors

    def check(self) -> tuple[list[str], int, int]:
        """Errors, operations attempted and operations failed."""
        files = {tb: sorted(f for d in self._live_dirs(tb) for f in glob.glob(os.path.join(d, "*.parquet")))
                 for tb in TABLES}
        errors, _ = check_tables(files, self.truth)
        return self.errors + errors, self.attempted, self.failed


class DumpRefresh:
    """The reference workflow, dump -> 4 tables -> SurrealQL scripts. Set-up
    loads the base dump into the manifest layout; a pass is a Bulk-mode
    ingest (``BulkIngest``) followed by a refresh round (``Refresh``)."""

    name = "dump_refresh"
    WARMUP = 0
    PASS_NOMINAL_S = 20.0

    def __init__(self, work: str, seed: int):
        self.bulk = BulkIngest(work, seed)
        self.refresh = Refresh(work, seed + 1_000_000)
        self.inputs: dict = {}

    def generate(self) -> None:
        self.bulk.generate()
        self.refresh.generate()
        self.inputs = {"bulk": self.bulk.inputs, "refresh": self.refresh.inputs}

    def setup(self, spark) -> list[float]:
        return [self.refresh.load_base(spark)]

    def run_pass(self, spark, meters) -> dict:
        p = _measured(meters, lambda: (self.bulk.ingest(spark), self.refresh._round(spark)))
        ingest_s, r = p.pop("out")
        self.refresh._account(r)
        return dict(p, script_ms=r["script_ms"], layer={
            "ingest.entities_per_s": self.bulk.dump.n_entities / ingest_s,
            "manifest.update_entities_per_s": r["entities"] / r["merge_s"],
        })

    def traced_pass(self, spark, meters, tracer) -> dict:
        with tracer.span("pass", workload=self.name):
            m = self.bulk.traced_pass(spark, meters, tracer)
            m.update(self.refresh.traced_pass(spark, meters, tracer))
        return m

    def check(self) -> tuple[list[str], int, int]:
        (e1, a1, f1), (e2, a2, f2) = self.bulk.check(), self.refresh.check()
        return e1 + e2, a1 + a2, f1 + f2


# one query per operator family: near-dup dedup with connected components
# (operators.dedup, operators.graph), entity resolution (operators.er) and
# stateful streaming (streaming.events)
OPS = ("dedup_clusters", "er_resolve", "stream_sessionize_stateful")


def _normalize(rows, columns) -> list[tuple]:
    """As the catalog's oracle-parity test does: columns sorted by name,
    then rows; floats to 6 decimals."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def val(v):
        if v is None:
            return ""
        if isinstance(v, float):
            return "nan" if math.isnan(v) else f"{v:.6f}"
        return str(v)

    return sorted(tuple(val(r[i]) for i in order) for r in rows)


def _trigger_listener(spark):
    """Register a listener that collects the trigger durations of every
    streaming query, and return it."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.trigger_ms: list[float] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.trigger_ms.append(event.progress.durationMs.get("triggerExecution", 0))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Listener()
    spark.streams.addListener(listener)
    return listener


class PipelineOps:
    """A pass runs each query of ``OPS`` on the generated tables and
    collects its rows; each query is one operation."""

    name = "pipeline_ops"
    N_DOCS, N_CUSTOMERS, N_EVENTS = 2_000, 1_000, 30_000
    WARMUP = 1
    PASS_NOMINAL_S = 16.0

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.sf_dir = os.path.join(work, "tables")
        self.results: dict = {}
        self.attempted = 0
        self.listener = None
        self.inputs: dict = {}

    def generate(self) -> None:
        rng = random.Random(self.seed)
        self.inputs = gen.write_pipeline_tables(
            self.sf_dir, rng, gen.Vocab(rng), n_docs=self.N_DOCS, n_customers=self.N_CUSTOMERS,
            n_events=self.N_EVENTS)

    def setup(self, spark) -> list[float]:
        return []

    def _query(self, spark, q: str):
        from wikidata_to_surrealdb_spark.plans.queries import QUERIES

        df = QUERIES[q].fn(spark, self.sf_dir)
        return df.columns, df.collect()

    def warm_pass(self, spark) -> float:
        t, _ = _timed(lambda: {q: self._query(spark, q) for q in OPS})
        return t

    def run_pass(self, spark, meters) -> dict:
        p = _measured(meters, lambda: {q: self._query(spark, q) for q in OPS})
        self.results = p.pop("out")
        self.attempted += len(OPS)
        return p

    def traced_pass(self, spark, meters, tracer) -> dict:
        """Each query timed apart, with its status-store counters and the
        streaming triggers it ran."""
        _, store = meters
        if self.listener is None:
            self.listener = _trigger_listener(spark)
        seen = len(self.listener.trigger_ms)
        m: dict = {}
        with tracer.span("pass", workload=self.name):
            for q in OPS:
                mark = store.mark()
                with tracer.span(f"plans.queries.{q}"):
                    wall, self.results[q] = _timed(lambda: self._query(spark, q))
                c = store.since(mark, stage_time=True)
                m.update({
                    f"op.{q}.wall_s": wall,
                    f"op.{q}.driver_gap_s": wall - c["stage_s"],
                    f"op.{q}.executor_cpu_s": c["cpu_s"],
                    f"op.{q}.shuffle_bytes": c["shuffle_write_bytes"],
                    f"op.{q}.spill_bytes": c["spill_bytes"],
                    f"op.{q}.tasks": c["tasks"],
                })
        self.attempted += len(OPS)
        # progress events reach the listener asynchronously
        deadline = time.time() + 5
        while len(self.listener.trigger_ms) == seen and time.time() < deadline:
            time.sleep(0.1)
        trig = self.listener.trigger_ms[seen:]
        m["streaming.triggers"] = len(trig)
        m["streaming.trigger_p50_ms"] = _median(trig)
        return m

    def check(self) -> tuple[list[str], int, int]:
        """Each query's rows of the last pass against its DuckDB oracle.
        Every pass runs the same queries on the same tables."""
        import duckdb

        from wikidata_to_surrealdb_spark.plans.queries import QUERIES

        errors = []
        con = duckdb.connect()
        try:
            for f in sorted(glob.glob(os.path.join(self.sf_dir, "*.parquet"))):
                con.sql(f"CREATE VIEW {os.path.basename(f)[:-8]} AS SELECT * FROM read_parquet('{f}')")
            for q in OPS:
                cols, rows = self.results[q]
                rel = con.sql(QUERIES[q].oracle)
                want_cols, want = rel.columns, rel.fetchall()
                if sorted(cols) != sorted(want_cols):
                    errors.append(f"{q}: columns {cols} vs {want_cols}")
                elif _normalize(rows, cols) != _normalize(want, want_cols):
                    errors.append(f"{q}: {len(rows)} rows vs {len(want)} from the oracle, or other values")
        finally:
            con.close()
        return errors, self.attempted, 0


WORKLOADS = {w.name: w for w in (DumpRefresh, PipelineOps)}
