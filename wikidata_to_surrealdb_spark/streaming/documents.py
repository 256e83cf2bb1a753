"""Streaming near-duplicate detection over a growing document corpus.

The batch :func:`~wikidata_to_surrealdb_spark.operators.dedup.
incremental_minhash_dedup` is the daily-delta shape; this module is its
Structured Streaming twin: document files arrive as micro-batches
(file source, ``maxFilesPerTrigger=1``) and ``foreachBatch`` checks each
batch against the ACCUMULATED corpus LSH index, emits the near-dup
pairs, then appends the batch's own band rows and shingle sets to the
index — so the index grows monotonically and corpus x corpus work is
never done at any point in the stream's lifetime.

Delivery semantics: the per-batch emit is deterministic given the
arrived prefix (banding and verification are md5/exact-Jaccard, no RNG,
no wall clock), and replaying a micro-batch after a crash re-derives
the same pairs. Effectively-once rests on TWO rules, both in
:func:`apply_incremental_batch`: (a) the batch writes under
``batch_<id>`` subdirectories, so a replay overwrites its own previous
output instead of doubling rows; (b) the batch's own subdirs are
DELETED before the corpus state is read, so a replay that crashed
*after* the index append still sees the exact pre-batch corpus —
without (b), the re-read index would contain the batch's own band rows
and every batch doc would self-pair (jaccard 1.0, origin='corpus');
in survivors mode the whole batch would then be anti-joined out of the
index permanently (ADVICE r13, the medium finding).

The store carries a ``_meta.json`` manifest (num_hashes, bands, k,
threshold, survivors_only) written before the first batch and
validated on every resume, probe, and compaction — band hashes and
k-gram widths built under different parameters are silently
incomparable (duplicates would be missed with no error), so a
mismatched resume fails loudly instead (VERDICT r14 directive 1).

Scale: per-trigger cost is O(batch + candidates) — the corpus enters
only through the band-index join (lookup-shaped; bucketed storage makes
the corpus side exchange-free) and the semi-join-pruned shingle fetch.
State is the on-disk index, not the state store: unbounded corpus
growth costs parquet bytes, not executor memory. All Python-side
bookkeeping (existence probes, batch-dir deletes, compaction's
list/delete/rename, the manifest) routes through
:mod:`~wikidata_to_surrealdb_spark.streaming.store_fs`, so a
scheme-qualified ``work_dir`` (``hdfs://``, ``s3a://``) works without
code changes; the parquet data path was always Spark's.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wikidata_to_surrealdb_spark.streaming import store_fs

_INDEX_SCHEMA = (
    "doc_id BIGINT, band_id INT, band_hash STRING, bucket_key STRING"
)
_SHINGLE_SCHEMA = "doc_id BIGINT, sh ARRAY<STRING>"
_PAIRS_SCHEMA = (
    "new_id BIGINT, dup_of BIGINT, origin STRING, jaccard DOUBLE"
)
_META_NAME = "_meta.json"
_STORES = ("band_index", "shingles", "pairs")


def slice_documents_table(
    spark: SparkSession,
    docs_path: str,
    out_dir: str,
    slices: int = 4,
    files_per_slice: int = 1,
) -> str:
    """Materialize the documents table as ``slices`` id-residue parquet
    slices with increasing mtimes, so a file-source stream with
    ``maxFilesPerTrigger=files_per_slice`` replays them as separate
    micro-batches in residue order (slice k = ``doc_id % slices == k``)
    — deterministic batch membership AND order, which is what makes the
    stream's final output oracle-expressible.

    ``files_per_slice`` is the staging geometry (VERDICT r14 #7): each
    slice is written as exactly that many parquet files, all stamped
    the same mtime. The default (1) funnels each slice through one
    task — right for test/bench fixtures, a bottleneck for a large
    corpus; raise it AND the reader's ``maxFilesPerTrigger`` together
    or batch membership breaks. Raises if a slice lands with a
    different file count (e.g. fewer rows than files)."""
    import time as _time

    fs = store_fs.for_path(spark, out_dir)
    df = spark.read.parquet(docs_path)
    # residue slicing is only a partition of the corpus for
    # non-negative ids (negative % keeps the dividend's sign in both
    # Spark and DuckDB, so residues -1..-(slices-1) would match NO
    # slice and those docs would silently vanish from the stream) —
    # fail loudly instead
    bad = df.where(F.col("doc_id") < 0).limit(1).collect()
    if bad:
        raise ValueError(
            "slice_documents_table: negative doc_id "
            f"{bad[0]['doc_id']} — residue slices would drop it; "
            "remap ids to non-negative first"
        )
    if files_per_slice < 1:
        raise ValueError(
            f"slice_documents_table: files_per_slice must be >= 1, "
            f"got {files_per_slice}"
        )
    base = _time.time()
    for i in range(slices):
        part = df.where(F.col("doc_id") % slices == i)
        store_fs.write_staged_slice(
            fs,
            part,
            os.path.join(out_dir, f"slice={i}"),
            files_per_slice,
            base + i,
            "slice_documents_table",
        )
    return out_dir


def _read_or_empty(
    spark: SparkSession, path: str, schema: str, fs=None
) -> DataFrame:
    """Read a parquet dir that may not exist yet (before the first
    batch lands) as an explicitly-typed empty relation. Batch outputs
    live in ``batch_<id>`` subdirs (deliberately NOT ``batch=<id>`` —
    that spelling would trip partition-column discovery), so the read
    needs recursiveFileLookup."""
    fs = fs or store_fs.for_path(spark, path)
    if fs.count_parquet(path) > 0:
        return (
            spark.read.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(path)
        )
    from wikidata_to_surrealdb_spark.functions import local_relation

    # empty case: a pickled empty ExistingRDD still fans out one Python
    # worker per default-parallelism partition in every consuming stage;
    # local_relation's WHERE-false projection is a zero-task
    # LocalTableScan <empty> instead (first batch of every stream)
    return local_relation(spark, [], schema)


# parameters added to _store_params AFTER stores already existed in
# the wild, with the default their absence implies: a manifest missing
# the key was built before the knob existed, i.e. under its default
_PARAM_DEFAULTS = {"remap_intra": False}


def _store_params(
    num_hashes: int, bands: int, k: int, threshold: float,
    survivors_only: bool, remap_intra: bool = False,
) -> dict:
    return {
        "num_hashes": int(num_hashes),
        "bands": int(bands),
        "k": int(k),
        "threshold": float(threshold),
        "survivors_only": bool(survivors_only),
        "remap_intra": bool(remap_intra),
    }


def check_store_manifest(
    fs, work_dir: str, params: dict | None = None, create: bool = False
) -> dict:
    """Read (and optionally create) the store's ``_meta.json``,
    validating every key in ``params`` against it.

    The manifest is the store's comparability contract: band hashes
    computed under different ``num_hashes``/``bands`` and shingle sets
    built with a different ``k`` look identical on disk but never
    match each other, so a mismatched resume/probe/compaction would
    silently miss duplicates. Any drift raises ``ValueError`` naming
    the offending keys; ``params=None`` only requires the manifest to
    exist (the compaction path, which has no parameters of its own)."""
    path = os.path.join(work_dir, _META_NAME)
    if fs.exists(path):
        found = json.loads(fs.read_text(path))
        # forward compatibility: a manifest written before a parameter
        # existed means the store was built under that parameter's
        # DEFAULT — backfill it instead of failing the resume of every
        # pre-existing store each time _store_params grows a key
        # (ADVICE r14: remap_intra broke resume this way)
        for key, default in _PARAM_DEFAULTS.items():
            found.setdefault(key, default)
        if params:
            bad = {
                key: (found.get(key), val)
                for key, val in params.items()
                if found.get(key) != val
            }
            if bad:
                detail = ", ".join(
                    f"{key}: store={s!r} caller={c!r}"
                    for key, (s, c) in sorted(bad.items())
                )
                raise ValueError(
                    f"index store at {work_dir} was built with different "
                    f"parameters ({detail}); band hashes and k-gram "
                    "widths are incomparable across parameter sets — "
                    "rebuild the store or match its manifest"
                )
        return found
    if params and create:
        fs.write_text(path, json.dumps(params, sort_keys=True))
        return params
    raise ValueError(
        f"index store at {work_dir} has no {_META_NAME} manifest — not "
        "a store built by streaming/documents.py (or a pre-manifest "
        "store; rebuild it)"
    )


def load_index_store(
    spark: SparkSession,
    work_dir: str,
    num_hashes: int,
    bands: int,
    k: int,
) -> tuple[DataFrame, DataFrame]:
    """Open a store's accumulated ``(band_index, shingles)`` for a
    batch-side probe (:func:`~wikidata_to_surrealdb_spark.operators.
    dedup.incremental_minhash_dedup`'s ``corpus_index``/
    ``corpus_shingles``), after validating the caller's parameters
    against the store manifest and completing any interrupted
    compaction. ``threshold``/``survivors_only`` are not checked here:
    they shape which PAIRS a run reports, not the comparability of the
    index artifacts a probe reads."""
    fs = store_fs.for_path(spark, work_dir)
    recover_store(fs, work_dir)
    check_store_manifest(
        fs,
        work_dir,
        {"num_hashes": int(num_hashes), "bands": int(bands), "k": int(k)},
    )
    return (
        _read_or_empty(
            spark, os.path.join(work_dir, "band_index"), _INDEX_SCHEMA, fs
        ),
        _read_or_empty(
            spark, os.path.join(work_dir, "shingles"), _SHINGLE_SCHEMA, fs
        ),
    )


def _remove_store_ids(
    spark: SparkSession, fs, work_dir: str, ids_df: DataFrame
) -> None:
    """Surgically drop every band/shingle row of the given doc ids
    from the store — the recrawl half of upsert (last-writer-wins,
    mirroring ``merge_into_bucketed_manifest``). Only the subdirs that
    actually CONTAIN the ids are rewritten (discovered via ``input_file_name``
    + a semi join), each through the same verified-tmp + intent-marker
    swap as compaction, so per-batch cost is bounded by the affected
    dirs and a crash at any point is recoverable by
    :func:`recover_store`. Removal is idempotent: a replay finds the
    ids already absent and rewrites nothing."""
    ids = ids_df.localCheckpoint(eager=False)
    # bounded driver-side range of the batch's ids: pushed into the
    # discovery scans as a BETWEEN so parquet row-group min/max stats
    # prune them (compacted generations are sorted by doc_id) — without
    # it every upsert batch re-reads the ENTIRE store just to learn
    # which subdirs contain recrawled ids. Two scalars, not the id set.
    bounds = ids.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).first()
    if bounds["lo"] is None:
        return
    for store, schema in (
        ("band_index", _INDEX_SCHEMA),
        ("shingles", _SHINGLE_SCHEMA),
    ):
        root = os.path.join(work_dir, store)
        if fs.count_parquet(root) == 0:
            continue
        tagged = (
            spark.read.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(root)
            .where(F.col("doc_id").between(bounds["lo"], bounds["hi"]))
            .withColumn("_f", F.input_file_name())
        )
        hit_files = (
            tagged.join(ids, "doc_id", "left_semi")
            .select("_f")
            .distinct()
            .collect()
        )
        subs = sorted(
            {os.path.basename(os.path.dirname(r["_f"])) for r in hit_files}
        )
        for sub in subs:
            src = os.path.join(root, sub)
            tmpname = f"_tmp_upsert_{sub}"
            fs.rmtree(os.path.join(root, tmpname))
            kept = (
                spark.read.schema(schema)
                .parquet(src)
                .join(ids, "doc_id", "left_anti")
            )
            kept.write.mode("overwrite").parquet(
                os.path.join(root, tmpname)
            )
            _swap_subdir(fs, root, tmpname, sub, [sub])


def apply_incremental_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    work_dir: str,
    num_hashes: int = 8,
    bands: int = 2,
    k: int = 3,
    threshold: float = 0.5,
    survivors_only: bool = False,
    upsert: bool = False,
    remap_intra: bool = False,
    fs=None,
) -> None:
    """The ``foreachBatch`` body, module-level so crash-replay can be
    exercised directly: dedup ``batch_df`` against the store at
    ``work_dir``, write the batch's pairs, append its index/shingle
    rows.

    Replay-safe by construction: the batch's OWN ``batch_<id>``
    subdirs are deleted before the corpus state is read, so a replay
    that crashed anywhere after the appends still probes the exact
    pre-batch corpus (re-reading one's own band rows would self-pair
    every batch doc — ADVICE r13). The subsequent per-subdir
    overwrites then restore the appends idempotently.

    ``upsert=True`` is the RECRAWL contract: a batch doc whose id is
    already in the store supersedes its old version — the stale
    band/shingle rows are removed (:func:`_remove_store_ids`) BEFORE
    the corpus state is read, so the doc is never compared against its
    own old text and its pairs reflect the new text only. Earlier
    batches' PAIR rows are an append-only event log and are not
    rewritten (each records the decision at its arrival time).

    ``remap_intra=True`` (survivors mode only) closes the documented
    intra-batch chain trade before the pairs land: every ``dup_of``
    that references a doc dropped in the SAME batch is re-pointed to
    that doc's surviving keeper (:func:`operators.dedup.
    remap_pairs_to_survivors`), so every pair in the log references a
    doc that is actually in the index. The dropped set is unchanged —
    remap rewrites edges, never survivorship."""
    from wikidata_to_surrealdb_spark.operators import dedup

    fs = fs or store_fs.for_path(spark, work_dir)
    # a replay may land while an upsert's subdir swap is mid-flight
    # (marker written, rename pending) — complete/roll back FIRST, or
    # the corpus reads below would see a store missing a whole subdir
    # and this batch's pairs would be computed against a truncated
    # corpus (idempotent and metadata-cheap when there is nothing to do)
    recover_store(fs, work_dir)

    if remap_intra and not survivors_only:
        raise ValueError(
            "remap_intra=True requires survivors_only=True: in base "
            "mode every doc is indexed, so there is no chain to close"
        )

    idx_dir = os.path.join(work_dir, "band_index")
    sh_dir = os.path.join(work_dir, "shingles")
    pairs_dir = os.path.join(work_dir, "pairs")
    sub = f"batch_{batch_id}"
    # replay idempotence rule (b): drop this batch's own previous
    # output FIRST, so the corpus reads below can never include it
    for root in (idx_dir, sh_dir, pairs_dir):
        fs.rmtree(os.path.join(root, sub))
    if upsert:
        # must precede the corpus reads: spark.read resolves its file
        # index eagerly, so a pre-rewrite read would list stale files
        _remove_store_ids(
            spark,
            fs,
            work_dir,
            batch_df.select("doc_id").dropDuplicates(["doc_id"]),
        )
    corpus_index = _read_or_empty(spark, idx_dir, _INDEX_SCHEMA, fs)
    corpus_sh = _read_or_empty(spark, sh_dir, _SHINGLE_SCHEMA, fs)
    # build the batch's artifacts ONCE (they get appended to the
    # store anyway) and hand them to the dedup — without this the
    # batch was tokenized and signed twice per trigger, measured
    # ~35% of the per-batch wall at bench scale
    batch_sh = dedup.shingle_sets(
        batch_df, "text", "doc_id", k
    ).localCheckpoint(eager=False)
    batch_idx = dedup.band_index(
        dedup.minhash_signatures(
            batch_df, "text", "doc_id", num_hashes, k, shingles=batch_sh
        ),
        "doc_id",
        bands,
        num_hashes // bands,
    ).localCheckpoint(eager=False)
    pairs = dedup.incremental_minhash_dedup(
        None,
        batch_df,
        num_hashes=num_hashes,
        bands=bands,
        k=k,
        threshold=threshold,
        corpus_index=corpus_index,
        corpus_shingles=corpus_sh,
        delta_shingles=batch_sh,
        delta_index=batch_idx,
    )
    if remap_intra:
        pairs = dedup.remap_pairs_to_survivors(pairs)
    # per-batch subdirs make a foreachBatch replay overwrite its
    # own previous partial output (effectively-once), and keep
    # appends from ever rewriting earlier batches' files
    from concurrent.futures import ThreadPoolExecutor

    if not survivors_only:
        # base mode: the index/shingle appends are the raw batch
        # artifacts — independent of the pairs result — so ALL THREE
        # writes overlap (r19 opt, guide §2.6): the pairs write's
        # verification joins and the two appends back-fill each other's
        # stage tails instead of paying one write tail after another
        # (the artifacts' exchange stages were already pre-executed by
        # their checkpoint calls, so concurrent first-reads re-read
        # shuffle output rather than re-tokenizing)
        with ThreadPoolExecutor(max_workers=3) as pool:
            fp = pool.submit(
                lambda: pairs.write.mode("overwrite").parquet(
                    os.path.join(pairs_dir, sub)
                )
            )
            fidx = pool.submit(
                lambda: batch_idx.write.mode("overwrite").parquet(
                    os.path.join(idx_dir, sub)
                )
            )
            fsh = pool.submit(
                lambda: batch_sh.write.mode("overwrite").parquet(
                    os.path.join(sh_dir, sub)
                )
            )
            fp.result()
            fidx.result()
            fsh.result()
        return
    pairs.write.mode("overwrite").parquet(os.path.join(pairs_dir, sub))
    # read the batch's own just-written pairs back (bounded,
    # and cheaper than recomputing the verification) and drop
    # every paired doc before the append
    dropped = (
        spark.read.schema(_PAIRS_SCHEMA)
        .parquet(os.path.join(pairs_dir, sub))
        .select(F.col("new_id").alias("doc_id"))
        .dropDuplicates(["doc_id"])
    )
    idx_out = batch_idx.join(dropped, "doc_id", "left_anti")
    sh_out = batch_sh.join(dropped, "doc_id", "left_anti")
    # the two appends are independent jobs over batch artifacts the
    # pairs write already checkpoint-materialized (plus the tiny
    # just-written pairs file) — overlap them so the per-trigger floor
    # pays one write tail, not two (§2.6 of the optimization playbook;
    # same rule as write_tables)
    with ThreadPoolExecutor(max_workers=2) as pool:
        fidx = pool.submit(
            lambda: idx_out.write.mode("overwrite").parquet(
                os.path.join(idx_dir, sub)
            )
        )
        fsh = pool.submit(
            lambda: sh_out.write.mode("overwrite").parquet(
                os.path.join(sh_dir, sub)
            )
        )
        fidx.result()
        fsh.result()


def incremental_dedup_multibatch(
    spark: SparkSession,
    sliced_dir: str,
    work_dir: str,
    num_hashes: int = 8,
    bands: int = 2,
    k: int = 3,
    threshold: float = 0.5,
    survivors_only: bool = False,
    upsert: bool = False,
    remap_intra: bool = False,
    progress: list | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Run the streaming incremental dedup over a pre-sliced documents
    dir (:func:`slice_documents_table`), one file per micro-batch.

    ``upsert=True`` enables the recrawl contract per batch (see
    :func:`apply_incremental_batch`): a re-arriving doc_id supersedes
    its stored version instead of violating the disjoint-id contract.
    It is an ingest-mode switch, not an index-comparability parameter,
    so it is not part of the store manifest — but note the accumulated
    pairs are an event log (batch-time decisions), so under recrawls
    the CURRENT pair state is the latest batch's view, not the union.

    ``checkpoint_dir`` pins the streaming checkpoint so a LATER call
    with the same work dir resumes where the stream left off — new
    files staged since the last run drain as fresh micro-batches
    against the already-accumulated index (the restart/recovery path);
    the default is a fresh checkpoint per call (one-shot runs). A
    resume validates its parameters against the store's ``_meta.json``
    manifest and fails loudly on drift.

    Returns the accumulated pairs ``(new_id, dup_of, origin, jaccard)``
    across all batches. Because every near-dup pair is detected exactly
    once — in the LATER member's batch, against the index if the other
    member arrived earlier (``origin='corpus'``) or intra-batch
    (``origin='delta'``) — the final set equals the batch
    ``minhash_dedup`` pair set over the full corpus, re-oriented by
    arrival order. The multibatch==batch invariant the tests pin.

    ``survivors_only=True`` is the production loop: a batch doc with
    ANY reported pair (a corpus near-dup, or a lower-id near-dup in its
    own batch) is dropped BEFORE the index append, so the index only
    ever holds canonical documents — later batches dedup against
    keepers, not against dropped copies, and index growth tracks the
    UNIQUE corpus, not the crawl volume (at web dup rates of 30-60%
    that is the difference between an index that fits and one that
    doesn't). Reported pairs then reference only surviving ``dup_of``
    docs; a doc similar to a dropped duplicate matches its keeper
    instead (near-dup classes overlap — the standard survivor-index
    trade, same as every canonicalizing crawler). One residual:
    INTRA-batch pairs may reference a sibling that was itself dropped
    in the same batch; ``remap_intra=True`` closes those chains (see
    :func:`apply_incremental_batch`)."""
    from wikidata_to_surrealdb_spark.streaming.events import (
        _drain_progress,
        _state_partitions,
    )

    fs = store_fs.for_path(spark, work_dir)
    recover_store(fs, work_dir)
    params = _store_params(
        num_hashes, bands, k, threshold, survivors_only, remap_intra
    )
    check_store_manifest(fs, work_dir, params, create=True)
    pairs_dir = os.path.join(work_dir, "pairs")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_incremental_batch(
            spark,
            batch_df,
            batch_id,
            work_dir,
            num_hashes=num_hashes,
            bands=bands,
            k=k,
            threshold=threshold,
            survivors_only=survivors_only,
            upsert=upsert,
            remap_intra=remap_intra,
            fs=fs,
        )

    schema = spark.read.parquet(sliced_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(sliced_dir)
    )
    checkpoint = checkpoint_dir or os.path.join(
        work_dir, f"_checkpoint_{uuid.uuid4().hex[:8]}"
    )
    with _state_partitions(spark, 8):
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    _drain_progress(q, progress)
    return _read_or_empty(spark, pairs_dir, _PAIRS_SCHEMA, fs)


def incremental_dedup_streaming(
    spark: SparkSession,
    docs_path: str,
    slices: int = 4,
    threshold: float = 0.5,
    num_hashes: int = 8,
    bands: int = 2,
    k: int = 3,
    survivors_only: bool = False,
    remap_intra: bool = False,
) -> DataFrame:
    """Slice the documents table and run the full streaming incremental
    dedup to completion — the self-contained catalog/bench entry."""
    import tempfile

    base = tempfile.mkdtemp(prefix="stream_incdedup_")
    sliced = slice_documents_table(
        spark, docs_path, os.path.join(base, "slices"), slices=slices
    )
    return incremental_dedup_multibatch(
        spark,
        sliced,
        os.path.join(base, "work"),
        num_hashes=num_hashes,
        bands=bands,
        k=k,
        threshold=threshold,
        survivors_only=survivors_only,
        remap_intra=remap_intra,
    )


def _marker_path(root: str) -> str:
    return os.path.join(root, "_SWAP_COMMIT.json")


def _swap_subdir(fs, root: str, tmp: str, target: str, old_dirs: list[str]) -> None:
    """Transactionally replace ``old_dirs`` under ``root`` with the
    already-written, already-verified hidden ``tmp`` subdir installed
    as ``target``. The intent marker is the commit point: before it,
    recovery rolls the tmp back; after it, recovery finishes the swap
    — so no crash window ever exposes both copies (double counting)
    or neither (data loss). Used by compaction (many dirs -> one
    generation) and by the upsert path (one dir rewritten minus the
    re-crawled ids)."""
    fs.write_text(
        _marker_path(root),
        json.dumps({"tmp": tmp, "target": target, "old_dirs": old_dirs}),
    )
    for d in old_dirs:
        fs.rmtree(os.path.join(root, d))
    target_path = os.path.join(root, target)
    if fs.exists(target_path):
        fs.rmtree(target_path)
    fs.rename(os.path.join(root, tmp), target_path)
    fs.rmtree(_marker_path(root))


def recover_store(fs, work_dir: str) -> list[str]:
    """Complete or roll back an interrupted store swap (compaction or
    upsert rewrite) so readers never see a double-counted or
    half-missing store. Runs at the top of every store open
    (multibatch, probe, compaction).

    Swaps write their output to a ``_``-prefixed tmp dir (invisible to
    Spark's file index), verify it, then write a commit marker naming
    tmp/target/constituents, delete the constituents, rename tmp into
    place, and remove the marker (:func:`_swap_subdir`). Recovery is
    therefore two-case: a marker with the tmp still present means the
    swap COMMITTED but didn't finish — delete any listed constituents
    still present and move tmp into place; a marker whose tmp is GONE
    means the swap completed through the rename (constituents were
    already deleted before it) — just clear the marker; a markerless
    tmp dir never committed — delete it and leave the constituents
    untouched. Every crash point lands in exactly one case, and double
    counting is impossible because constituents are only ever deleted
    after the commit marker exists and the verified replacement is
    already on disk (ADVICE r13)."""
    actions: list[str] = []
    for store in _STORES:
        root = os.path.join(work_dir, store)
        marker = _marker_path(root)
        if fs.exists(marker):
            meta = json.loads(fs.read_text(marker))
            tmp = os.path.join(root, meta["tmp"])
            target = os.path.join(root, meta["target"])
            if fs.is_dir(tmp):
                for d in meta["old_dirs"]:
                    path = os.path.join(root, d)
                    if fs.exists(path):
                        fs.rmtree(path)
                        actions.append(f"{store}: removed constituent {d}")
                # tmp is the verified source of truth post-commit; a
                # partially-renamed target (copy-based FS) is replaced
                if fs.exists(target):
                    fs.rmtree(target)
                fs.rename(tmp, target)
                actions.append(f"{store}: installed {meta['target']}")
            fs.rmtree(marker)
        else:
            for d in fs.list_subdirs(root):
                if d.startswith("_tmp_"):
                    fs.rmtree(os.path.join(root, d))
                    actions.append(f"{store}: rolled back {d}")
    return actions


def compact_index_store(
    spark: SparkSession,
    work_dir: str,
    generation: int | None = None,
    target_files: int = 1,
) -> dict:
    """Compact the streaming dedup's accumulated index store.

    Every micro-batch appends a ``batch_<id>`` subdir to the band-index
    and shingle stores — after a year of hourly batches that is ~9k
    directories of small files, the classic small-files failure mode:
    file-listing dominates the probe join's planning, and each parquet
    footer is a seek. Compaction reads the whole store once and
    rewrites it as one ``compacted_<gen>`` subdir per store (the two
    index stores AND the pairs event log, which accumulates the same
    per-batch dirs) holding
    ``target_files`` range-partitioned files, each sorted by the join
    key (so row-group stats make the probe's semi joins skippable),
    then removes the constituent batch dirs. ``target_files`` is the
    output-geometry knob: 1 at test scale; at cluster scale size it so
    files land in the 128 MB-1 GB band (a single 100 GB file is the
    small-files problem in reverse — no read parallelism).

    Crash-safe via an intent-marker protocol (see
    :func:`recover_store`): the replacement is written to a
    hidden tmp dir and COUNT-VERIFIED before the commit marker is
    written; constituents are deleted only after the marker exists, so
    no crash point ever exposes both copies (double-counted shingles
    fan out the verification join) or neither.

    MUST run in a maintenance window (stream stopped): foreachBatch's
    replay contract rewrites ``batch_<id>`` dirs, so a replay racing a
    compaction could resurrect a batch that was just folded in. The
    stream's checkpoint is untouched — on restart, new batches append
    ``batch_<id>`` dirs beside the compacted generation and the
    readers (recursive listing, explicit schema) see the union,
    exactly as before. Returns per-store file counts before/after."""
    if target_files < 1:
        raise ValueError(f"target_files must be >= 1, got {target_files}")
    fs = store_fs.for_path(spark, work_dir)
    recover_store(fs, work_dir)
    check_store_manifest(fs, work_dir)
    stats: dict = {}
    gen = generation if generation is not None else 0
    for store in _STORES:
        out = os.path.join(work_dir, store, f"compacted_{gen}")
        if fs.is_dir(out):
            # overwriting a generation while reading it would destroy
            # the store (the scan's file list races the overwrite) —
            # each compaction must target a FRESH generation number
            raise ValueError(
                f"compact_index_store: {out} already exists; pass "
                f"generation={gen + 1} (or higher) for a re-compaction"
            )
    for store, schema, sort_key in (
        ("band_index", _INDEX_SCHEMA, "bucket_key"),
        ("shingles", _SHINGLE_SCHEMA, "doc_id"),
        # the pairs event log accumulates the same per-batch small-file
        # dirs; fold it too (sorted by the consumer-side join key)
        ("pairs", _PAIRS_SCHEMA, "new_id"),
    ):
        root = os.path.join(work_dir, store)
        if not fs.is_dir(root):
            continue
        old_dirs = [
            d
            for d in fs.list_subdirs(root)
            if not d.startswith("_") and not d.startswith(".")
        ]
        before = fs.count_parquet(root)
        if before == 0:
            continue
        df = (
            spark.read.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(root)
        )
        n_rows = df.count()
        tmp = os.path.join(root, f"_tmp_compact_{gen}")
        # range partitioning gives each output file a disjoint sorted
        # key range — min/max row-group stats stay selective at any
        # target_files, unlike sort().coalesce(n) which concatenates
        # sorted runs
        (
            df.repartitionByRange(target_files, F.col(sort_key))
            .sortWithinPartitions(sort_key)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        n_tmp = spark.read.schema(schema).parquet(tmp).count()
        if n_tmp != n_rows:
            fs.rmtree(tmp)
            raise RuntimeError(
                f"compact_index_store: verification failed for {store} "
                f"({n_tmp} rows written vs {n_rows} read) — store left "
                "untouched"
            )
        # COMMIT POINT inside: after the marker exists, recovery
        # always finishes the swap; before it, recovery rolls back
        _swap_subdir(
            fs, root, f"_tmp_compact_{gen}", f"compacted_{gen}", old_dirs
        )
        after = fs.count_parquet(root)
        stats[store] = {"files_before": before, "files_after": after}
    return stats
