"""File sources: line-delimited Wikidata dumps (plain JSON or bz2).

Reference behavior (see /root/reference/src/utils/init_reader.rs:22-28 and
utils.rs:125-129): stream the dump line by line, trim, strip the trailing
``,``, and drop the bare ``[`` / ``]`` array-wrapper lines. Format is
selected by an env-style string ('json' | 'bz2'); unknown formats raise.

Spark-first translation: ``spark.read.text`` handles both — Hadoop's bzip2
codec is *splittable*, so an 80 GB ``latest-all.json.bz2`` scans in
parallel across executors with zero extra code (the reference needed a
dedicated MultiBzDecoder thread; here decompression parallelism is free).
Line normalization is three narrow JVM expressions — no shuffle, no
Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FILE_FORMATS = ("json", "bz2", "gz")


def read_dump_lines(
    spark: SparkSession, path: str, file_format: str = "json"
) -> DataFrame:
    """Dump file(s) -> one-column DataFrame ``line`` of raw entity JSON.

    ``path`` may be a file, directory, or glob. ``file_format`` mirrors the
    reference's WIKIDATA_FILE_FORMAT env ('json' | 'bz2'), plus 'gz' for
    the ~130 GB gzip variant of the published dump (beyond reference
    parity). All are read through the same text source — Spark infers the
    codec from the extension — so the parameter exists for parity and
    validation. Scale note: bzip2 is a *splittable* codec (an 80 GB
    .bz2 scans in parallel); gzip is not — one task per .gz file — so
    prefer bz2, or split the gzip dump into many files first.
    """
    if file_format not in FILE_FORMATS:
        raise ValueError(
            f"unknown WIKIDATA_FILE_FORMAT {file_format!r}; expected one of {FILE_FORMATS}"
        )
    return normalize_dump_lines(spark.read.text(path))


def normalize_dump_lines(text: DataFrame) -> DataFrame:
    """Text frame (a ``value`` column of raw dump lines, batch or
    micro-batch) -> one-column DataFrame ``line`` of raw entity JSON.

    Drops array wrapper lines / blanks (with or without their trailing
    comma) on the trimmed value, then strips one trailing comma: filtering
    on the stripped alias would inline the regexp into every predicate.
    """
    trimmed = F.trim(F.col("value"))
    return text.where(~trimmed.isin("", ",", "[", "[,", "]", "],")).select(
        F.regexp_replace(trimmed, r",$", "").alias("line")
    )
