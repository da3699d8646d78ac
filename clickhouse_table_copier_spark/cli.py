"""CLI (SURVEY §2.9 C1, C10, C11): ``info`` / ``sync`` / ``version``.

Mirrors the reference's mode dispatch (``/root/reference/main.go:25-43``,
exactly one mode) and bitmask exit status (``status/status.go:30-43``):

    0  OK
    1  config / usage error          (reference: NotOk)
    2  inconsistencies found (info)  (reference's per-check status bits)

Usage:
    python -m clickhouse_table_copier_spark.cli info --config job.yaml
    python -m clickhouse_table_copier_spark.cli sync --config job.yaml
    python -m clickhouse_table_copier_spark.cli version
"""

from __future__ import annotations

import argparse
import sys
from dataclasses import replace

from clickhouse_table_copier_spark import __version__
from clickhouse_table_copier_spark.config import ConfigError, read_config

EXIT_OK = 0
EXIT_ERROR = 1
EXIT_INCONSISTENT = 2


def _run(mode: str, config_path: str, explain: bool = False) -> int:
    from pyspark.sql import SparkSession

    from clickhouse_table_copier_spark.operators.sync import sync
    from clickhouse_table_copier_spark.session import get_spark
    from clickhouse_table_copier_spark.sources.table import load_table

    job = read_config(config_path)
    spec = job.spec
    # In-process callers keep their session as they built it: getOrCreate
    # would re-apply get_spark's defaults (shuffle partitions, listing
    # parallelism) to it.
    spark = SparkSession.getActiveSession() or get_spark(app_name=f"ctc-spark-{mode}")

    # ClickHouse dialect in-session: a reference config's partition_by
    # expressions (toYYYYMM(date), intDiv(key, N), …) evaluate verbatim.
    # Only the shims they call are registered (each costs a SQL statement).
    from clickhouse_table_copier_spark.functions.ch_dialect import register_used_functions

    register_used_functions(spark, [f.expr for f in spec.fields])

    src = load_table(spark, job.source)
    options = replace(job.options, dry_run=(mode == "info"))
    if job.use_virtual_column and mode == "info":
        # C7: _part-granularity reporting — per physical file of the source
        # (copy/copy.go:207-211 → _metadata.file_path)
        from clickhouse_table_copier_spark.operators.fingerprint import (
            file_fingerprints,
        )

        for r in file_fingerprints(src).orderBy("file_path").collect():
            print(
                f"part={r['file_path'].rsplit('/', 1)[-1]} "
                f"rows={r['rows']} fingerprint={r['fingerprint']}"
            )

    # --explain is the working version of the reference's dead --debug flag
    # (main.go:52, "doesnt work"): show the physical plan the engine
    # actually executes for the diff report. An info run's report is that
    # plan, uncollected. A sync's own report is rebuilt from its collected
    # rows, so its plan comes from a dry run of the same options, built
    # before anything is changed.
    if explain and mode == "sync":
        dry = replace(options, dry_run=True)
        sync(spark, src, job.destination, spec, dry, semantic=job.semantic_casts).report.explain(
            "formatted"
        )
    result = sync(spark, src, job.destination, spec, options, semantic=job.semantic_casts)
    if explain and mode == "info":
        result.report.explain("formatted")
    # The reference's Info() prints one classification line per partition
    # (copy/copy.go:12-137); the report is that output. A sync has already
    # collected it; only a dry run's report is still to be computed.
    rows = sorted(
        result.rows if result.rows is not None else result.report.collect(),
        key=lambda r: [(r[n] is not None, r[n]) for n in spec.names],  # NULLs first
    )
    for r in rows:
        print(
            "partition="
            + ",".join(f"{n}={r[n]}" for n in spec.names)
            + f" src_rows={r['src_rows']} dest_rows={r['dest_rows']}"
            + f" verdict={r['verdict']} action={r['action']}"
        )
    if mode == "sync":
        print(
            f"copied_partitions={result.copied_partitions} "
            f"deleted_partitions={result.deleted_partitions}"
        )
    inconsistent = any(r["verdict"] != "identical" for r in rows)
    if mode == "info" and inconsistent:
        return EXIT_INCONSISTENT
    return EXIT_OK


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="clickhouse-table-copier-spark")
    sub = parser.add_subparsers(dest="mode")
    for mode in ("info", "sync"):
        p = sub.add_parser(mode)
        p.add_argument("--config", required=True)
        p.add_argument(
            "--explain",
            action="store_true",
            help="print the physical plan of the diff report (debug parity)",
        )
    sub.add_parser("version")
    args = parser.parse_args(argv)

    if args.mode == "version":
        print(f"clickhouse-table-copier-spark {__version__}")
        return EXIT_OK
    if args.mode not in ("info", "sync"):
        parser.print_usage()
        return EXIT_ERROR
    try:
        return _run(args.mode, args.config, explain=getattr(args, "explain", False))
    except ConfigError as e:
        print(f"config error: {e}", file=sys.stderr)
        return EXIT_ERROR
    except Exception as e:  # AnalysisException (missing path) etc.
        first = str(e).splitlines()[0] if str(e) else type(e).__name__
        print(f"error: {first}", file=sys.stderr)
        return EXIT_ERROR


if __name__ == "__main__":
    sys.exit(main())
