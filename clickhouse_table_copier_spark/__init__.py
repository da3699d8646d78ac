"""clickhouse_table_copier_spark — a PySpark-native table-sync + analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference tool ``noperformance/clickhouse-table-copier`` (a ClickHouse
partition-level table synchronizer), re-expressed Spark-first:

- the reference *generates SQL strings* and ships them to ClickHouse
  (``/root/reference/database/database.go``); this engine declares the same
  semantics as DataFrame plans and lets Catalyst/Tungsten execute them.
- the reference diffs partitions one at a time in a driver loop
  (``/root/reference/copy/copy.go:194-266``); this engine computes all
  partition fingerprints in ONE grouped aggregation per side and classifies
  them with a single aggregation over both sides — the set-oriented
  formulation that scales to 100 TB / 1000 executors.

Package layout
--------------
``sources``    table/catalog abstraction: parquet paths (+ JDBC seam), schema
               and partition introspection (SURVEY §2.1 S1-S8).
``plans``      pure planning: predicate generation (P3-P5), schema alignment +
               cast matrix (P1-P2), sync plan dataclasses (§3.1 IR).
``operators``  executable DataFrame pipelines: partition stats (A4),
               fingerprints (A1-A3), diff/verdict (J2+C5), sync actions
               (D1-D2), and the north-star extensions (dedup, similarity,
               text analysis, multimodal).
``functions``  scalar expression helpers (§2.6): readable sizes, UUID/IP/JSON
               canonicalization, row hashing.
``streaming``  incremental (availableNow) variants of the sync pipeline.
"""

__version__ = "0.1.0"

from clickhouse_table_copier_spark.session import get_spark  # noqa: F401
