"""wikidata_to_surrealdb_spark — a PySpark-native engine with the
capabilities of NexVeridian/wikidata-to-surrealdb (see SURVEY.md).

Public API:

- ingest: :func:`load_dump`, :func:`write_tables`, :class:`WikidataTables`,
  :func:`claims_long`, env-driven :mod:`.main`; incremental refresh via
  :func:`merge_loads` (in-memory) or :func:`write_tables_bucketed_manifest`
  + :func:`merge_into_bucketed_manifest` (bucket-local rewrite, manifest
  commit), read back with :func:`read_bucketed_manifest`
- query helpers: :mod:`.functions` (thing, claims_where, claim_values,
  has_claim, first_claim_value, link_join, register_sql_functions)
- pipeline operators: :mod:`.operators` (dedup, similarity, text,
  multimodal, mutations)
- streaming: :mod:`.streaming.events`
- session factory: :func:`get_spark`
"""

from wikidata_to_surrealdb_spark.operators.ingest import (  # noqa: F401
    WikidataTables,
    claims_long,
    load_dump,
    merge_into_bucketed_manifest,
    merge_loads,
    read_bucketed_manifest,
    write_tables,
    write_tables_bucketed_manifest,
)
from wikidata_to_surrealdb_spark.session import get_spark  # noqa: F401
