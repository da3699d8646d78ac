"""The sync workloads: inputs, the timed op, the untimed reset and checks,
and the per-layer calls of the traced run.

An op is what a user runs: ``cli.main(["sync", "--config", job.yaml])``,
in-process, in the one warm session. Its report lines are captured so the
check can compare the verdict counts with the planted drift.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import shutil
from collections import Counter
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import SparkSession

from clickhouse_table_copier_spark import cli
from clickhouse_table_copier_spark.operators.diff import diff_partitions
from clickhouse_table_copier_spark.operators.fingerprint import partition_fingerprints
from clickhouse_table_copier_spark.operators.sync import SyncOptions, sync
from clickhouse_table_copier_spark.plans.partition_spec import PartitionField, PartitionSpec
from clickhouse_table_copier_spark.sources.table import TableRef, load_table

from datagen import KEY, KEY_EXPR, Drift, bootstrap_drift, plant_drift, write_snapshot, write_source


@dataclass(frozen=True)
class Workload:
    name: str
    rows: int
    drift: tuple[int, int, int] | None  # (mutated, missing, extra); None: bootstrap


WORKLOADS = {
    w.name: w
    for w in (
        # ~5% of the 83 months drifted: 3 mutated, 1 missing, 1 extra
        Workload("resync_monthly", 300_000, (3, 1, 1)),
        Workload("bootstrap_monthly", 300_000, None),
    )
}

_VERDICT = re.compile(r" verdict=(\w+) ")
_COPIED = re.compile(r"^copied_partitions=(\d+) ", re.M)


def verdict_counts(report: str) -> Counter:
    """How many partitions the CLI report gives each verdict."""
    return Counter(_VERDICT.findall(report))


def fingerprints(df, spec: PartitionSpec, cols: list[str]) -> dict[str, tuple[int, int]]:
    """``{partition value as the CLI prints it: (rows, fingerprint)}``."""
    name = spec.names[0]
    return {
        str(r[name]): (r["rows"], r["fingerprint"])
        for r in partition_fingerprints(df, spec, cols).collect()
    }


class SyncBench:
    """One workload's inputs under ``work`` and the operations on them."""

    def __init__(self, spark: SparkSession, work: Path, workload: Workload, seed: int):
        self.spark = spark
        self.work = work
        self.wl = workload
        self.seed = seed
        self.source = work / "source"
        self.snapshot = work / "snapshot"
        self.dest = work / "dest"
        self.config = work / "job.yaml"
        self.spec = PartitionSpec.of(PartitionField(KEY, KEY_EXPR, "l_shipdate", True))
        self.bare = PartitionSpec.bare(KEY)

    def setup(self) -> None:
        """Generate the inputs, write the job config and compute the
        fingerprints the checks compare against."""
        wl = self.wl
        write_source(self.spark, self.source, wl.rows, self.seed)
        self.cols = self.spark.read.parquet(str(self.source)).columns
        self.snap_fp = {}
        self.drift: Drift = bootstrap_drift()
        if wl.drift:
            snapshot, self.drift = plant_drift(self.spark, self.source, self.seed, wl.drift)
            write_snapshot(snapshot, self.work, self.drift)
            self.snap_fp = fingerprints(snapshot, self.bare, self.cols)
        self.config.write_text(
            f"source:\n  location: {self.source}\n"
            f"destination:\n  location: {self.dest}\n"
            f"partition_by:\n  - name: {KEY}\n"
            f"    expr: \"{KEY_EXPR}\"\n"
            f"    source_col: l_shipdate\n    is_temporal: true\n"
        )
        self.src_fp = fingerprints(self.spark.read.parquet(str(self.source)), self.spec, self.cols)

    def reset(self) -> None:
        """Put the destination back to its state before any op: the drifted
        snapshot (hard links: Spark replaces files, never edits them), or
        absent for a bootstrap."""
        shutil.rmtree(self.dest, ignore_errors=True)
        if self.wl.drift:
            shutil.copytree(self.snapshot, self.dest, copy_function=os.link)

    def op(self) -> tuple[int, str]:
        """One ``cli sync``: exit code and the report it printed."""
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            rc = cli.main(["sync", "--config", str(self.config)])
        return rc, out.getvalue()

    def check(self, rc: int, report: str, changed_dirs: set[str]) -> list[str]:
        """Problems with one op's outcome; empty when it is correct.

        The destination must hold every source partition with the source's
        fingerprint. Partitions whose files the op left alone keep the
        snapshot's fingerprint; the changed ones are read back."""
        problems = []
        if rc != 0:
            problems.append(f"exit code {rc}")
        verdicts = verdict_counts(report)
        expected = {k: v for k, v in self.drift.expected_verdicts.items() if v}
        if dict(verdicts) != expected:
            problems.append(f"verdicts {dict(verdicts)} != planted {expected}")
        copied = _COPIED.search(report)
        if not copied or int(copied.group(1)) != self.drift.expected_copied:
            problems.append(f"copied_partitions {copied and copied.group(1)} != {self.drift.expected_copied}")

        dest_fp = dict(self.snap_fp)
        live = [d for d in sorted(changed_dirs) if (self.dest / d).is_dir()]
        for d in changed_dirs:
            dest_fp.pop(d.split("=", 1)[1], None)
        if live:
            df = self.spark.read.option("basePath", str(self.dest)).parquet(
                *[str(self.dest / d) for d in live]
            )
            dest_fp.update(fingerprints(df, self.bare, self.cols))
        wrong = sorted(k for k, fp in self.src_fp.items() if dest_fp.get(k) != fp)
        if wrong:
            problems.append(f"{len(wrong)} partitions differ from the source, e.g. {wrong[:3]}")
        return problems

    def layer_calls(self, span) -> None:
        """The traced run's direct calls into each layer on the op's
        inputs; ``span(name)`` times one call in its own job group."""
        self.reset()
        with span("sources.load"):
            src = load_table(self.spark, TableRef(location=str(self.source)))
            dest = load_table(self.spark, TableRef(location=str(self.dest))) if self.wl.drift else None
        src_parts = self.spec.with_partition_columns(src)
        with span("fingerprint.src"):
            partition_fingerprints(src_parts, self.bare, self.cols).collect()
        if dest is not None:
            with span("fingerprint.dest"):
                partition_fingerprints(dest, self.bare, self.cols).collect()
            with span("diff.build"):
                diff_partitions(src_parts, dest, self.bare, cols=self.cols)
        self.reset()
        with span("sync"):
            sync(self.spark, load_table(self.spark, TableRef(location=str(self.source))),
                 str(self.dest), self.spec, SyncOptions())
