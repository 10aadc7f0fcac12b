"""dbt_customer360_spark — a PySpark-native analytics + CDC-ingest engine.

A from-scratch re-expression of the query and data-processing
capabilities of fivetran/dbt_customer360 (a dbt SQL package, reference
at /root/reference) as an idiomatic PySpark engine:

- ``functions/``  — the reference's macro-generated normalizers
  (name titles/suffixes, org suffixes, street suffixes, address-line
  split, phone/email cleaning): Arrow pandas fast paths that the
  pipeline runs, checked against one SQL transcription of each macro's
  CASE chain, which the DuckDB oracles also render.
- ``operators/``  — identity resolution (candidate generation as a
  union of hash equi-joins + levenshtein verify + connected
  components) and golden-record confidence ranking windows; also
  leftover analytics operators (text stats, chunking, profiling,
  temporal joins, SCD2) that neither path uses.
- ``lake/``       — a snapshot-based lake-table layer (atomic commits,
  MERGE upsert, idempotent batch log, schema evolution with a
  versioned column mapping). Iceberg-equivalent semantics; the
  runtime jars are not available in this sandbox so the format is a
  self-contained parquet+manifest implementation behind the same API.
- ``streaming/``  — Structured-Streaming CDC applier:
  readStream -> foreachBatch(max-LSN dedup -> salted repartition ->
  MERGE -> lineage row -> epoch commit).
- ``sources/``    — deterministic synthetic CDC/repos generators and
  seed-dimension loaders.
"""

__version__ = "0.1.0"
