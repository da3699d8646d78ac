"""The one sync pipeline on frames of a few rows, in the default lane.

Every step runs against both destination kinds, a parquet directory and a
Derby JDBC table: bootstrap, a resync over one mutated, one missing and
one extra partition, the delete-only path and a dry run. The partition
keys include NULL, and each destination runs once more per edge key type:
``date``, microsecond ``timestamp`` and ``decimal(10,2)`` keys, and on
parquet string keys Spark escapes in directory names (``/ = % : ' \\``)
or carries as they are (a space, non-ASCII text). After each step the destination's partition fingerprints
must equal the source's, and the report must say what changed on disk or
in the table. A run that fails at a phase boundary (report collected,
JDBC rows deleted, parquet directories about to be removed) is repaired
by the next run to the state an uninterrupted run reaches.
"""

from __future__ import annotations

import datetime
import os
import time
import uuid
from dataclasses import replace
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from clickhouse_table_copier_spark.operators.fingerprint import partition_fingerprints
from clickhouse_table_copier_spark.operators.sync import SyncOptions, sync
from clickhouse_table_copier_spark.plans.partition_spec import PartitionField, PartitionSpec
from clickhouse_table_copier_spark.sources.table import TableRef, load_table, write_table

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
SPEC = PartitionSpec.bare("k")


# variant -> (key type, keys, parquet directory names of those keys). The
# keys are two source keys and one destination-only key; every variant adds
# NULL as a third source key. Spark writes a NULL string to Derby as a
# CLOB, which no comparable column type accepts, so string keys run on
# parquet only.
KEYS = {
    "string": ("string", ("a/b", "o'b", "zz"), ("a%2Fb", "o%27b", "zz")),
    "escapes": (
        "string",
        ("k=1%:2\\", "naïve café 東京", "a b"),
        ("k%3D1%25%3A2%5C", "naïve café 東京", "a b"),
    ),
    "date": (
        "date",
        (datetime.date(2024, 2, 29), datetime.date(2024, 3, 1), datetime.date(1999, 12, 31)),
        ("2024-02-29", "2024-03-01", "1999-12-31"),
    ),
    "timestamp": (
        "timestamp",
        (
            datetime.datetime(2024, 1, 1, 10, 0, 0, 123456),
            datetime.datetime(2024, 1, 1, 10, 0, 0, 123457),
            datetime.datetime(1999, 12, 31, 23, 59, 59, 999999),
        ),
        (
            "2024-01-01 10%3A00%3A00.123456",
            "2024-01-01 10%3A00%3A00.123457",
            "1999-12-31 23%3A59%3A59.999999",
        ),
    ),
    "decimal": (
        "decimal(10,2)",
        (Decimal("1.50"), Decimal("-2.25"), Decimal("99999999.99")),
        ("1.50", "-2.25", "99999999.99"),
    ),
    "bigint": ("bigint", (1, 2, 9), ("1", "2", "9")),
}
DEST_KINDS = [
    "parquet", "jdbc",
    "parquet-escapes", "parquet-date", "parquet-timestamp", "parquet-decimal",
    "jdbc-date", "jdbc-timestamp", "jdbc-decimal",
]


def _dest(kind: str, tmp_path):
    """(destination, its three source keys and one destination-only key,
    the key column's type, the parquet directory names of those keys)
    for ``kind`` = ``parquet``/``jdbc`` with an optional ``-variant``."""
    fmt, _, variant = kind.partition("-")
    key_type, (a, b, extra), dirs = KEYS[variant or ("string" if fmt == "parquet" else "bigint")]
    dirs = ("__HIVE_DEFAULT_PARTITION__",) + dirs
    keys = (None, a, b, extra)
    if fmt == "parquet":
        return TableRef(location=str(tmp_path / "dest")), keys, key_type, dirs
    ref = TableRef(
        location=f"jdbc:derby:memory:pipe{uuid.uuid4().hex};create=true",
        fmt="jdbc",
        table="t",
        options={"driver": DERBY_DRIVER},
    )
    return ref, keys, key_type, dirs


@pytest.fixture(params=DEST_KINDS)
def dest(request, tmp_path):
    return _dest(request.param, tmp_path)


def _fingerprints(df, key: str = "k", key_type: str = "string") -> dict:
    cols = ["id", "v"]
    df = df.select(F.col(key).cast(key_type).alias(key), *[F.col(c).cast("bigint") for c in cols])
    rows = partition_fingerprints(df, PartitionSpec.bare(key), cols).collect()
    return {r[key]: (r["rows"], r["fingerprint"]) for r in rows}


def _replace(spark, dest: TableRef, df) -> None:
    """Overwrite the whole destination with ``df``."""
    if dest.fmt == "jdbc":
        write_table(df, dest, mode="overwrite")
    else:
        df.write.partitionBy("k").option("partitionOverwriteMode", "static").mode(
            "overwrite"
        ).parquet(dest.location)


def _dirs(dest: TableRef) -> set[str]:
    return {d for d in os.listdir(dest.location) if d.startswith("k=")}


def _report(res) -> dict:
    rows = res.rows if res.rows is not None else res.report.collect()
    return {r["k"]: (r["verdict"], r["action"]) for r in rows}


def test_pipeline_steps(spark, dest):
    dest, (null, a, b, extra), key_type, dirs = dest
    schema = f"id BIGINT, k {key_type}, v BIGINT"
    rows = [(1, null, 10), (2, null, 20), (3, a, 30), (4, b, 40), (5, b, 50)]
    src = spark.createDataFrame(rows, schema)
    extra_row = spark.createDataFrame([(6, extra, 60)], schema)
    fp = lambda df: _fingerprints(df, "k", key_type)  # noqa: E731
    src_fp, extra_fp = fp(src), fp(extra_row)

    # 1. bootstrap into an absent destination
    res = sync(spark, src, dest, SPEC)
    assert _report(res) == {k: ("copy", "copied") for k in (null, a, b)}
    assert (res.copied_partitions, res.deleted_partitions) == (3, 0)
    assert fp(load_table(spark, dest)) == src_fp
    if dest.fmt == "parquet":
        assert _dirs(dest) == {f"k={d}" for d in dirs[:3]}

    # 2. resync: NULL partition mutated, `a` missing, `extra` only in dest
    drifted = spark.createDataFrame([(1, null, 11), (2, null, 20), (4, b, 40), (5, b, 50)], schema)
    _replace(spark, dest, drifted.unionByName(extra_row))
    res = sync(spark, src, dest, SPEC)
    assert _report(res) == {
        null: ("inconsistent", "overwritten"),
        a: ("copy", "copied"),
        b: ("identical", "none"),
        extra: ("extra", "none"),
    }
    # JDBC replaces a partition with DELETE + INSERT; parquet overwrites it
    assert res.copied_partitions == 2
    assert res.deleted_partitions == (1 if dest.fmt == "jdbc" else 0)
    assert fp(load_table(spark, dest)) == {**src_fp, **extra_fp}

    # 3. delete-only: every source partition mutated, skip_reimport
    _replace(spark, dest, src.withColumn("v", F.col("v") + 1).unionByName(extra_row))
    res = sync(spark, src, dest, SPEC, SyncOptions(skip_reimport=True))
    assert _report(res) == {
        **{k: ("inconsistent", "deleted") for k in (null, a, b)},
        extra: ("extra", "none"),
    }
    assert (res.copied_partitions, res.deleted_partitions) == (0, 3)
    assert fp(load_table(spark, dest)) == extra_fp
    if dest.fmt == "parquet":
        assert _dirs(dest) == {f"k={dirs[3]}"}

    # 4. dry run: reports the three missing partitions, changes nothing
    res = sync(spark, src, dest, SPEC, SyncOptions(dry_run=True))
    assert res.rows is None
    assert _report(res) == {
        **{k: ("copy", "none") for k in (null, a, b)},
        extra: ("extra", "none"),
    }
    assert (res.copied_partitions, res.deleted_partitions) == (0, 0)
    assert fp(load_table(spark, dest)) == extra_fp

    # and a real run converges
    res = sync(spark, src, dest, SPEC)
    assert res.copied_partitions == 3
    assert fp(load_table(spark, dest)) == {**src_fp, **extra_fp}


@pytest.mark.parametrize("kind", ["parquet", "jdbc"])
def test_duplicate_rows_do_not_cancel(spark, tmp_path, kind):
    """Rows that come in pairs do not cancel out of a fingerprint. Key
    ``a`` holds ``{r, r}`` against ``{s, s}``, key ``b`` holds
    ``{r, r, s}`` against ``{s, t, t}``: equal row counts and equal XORs
    of the row hashes, different rows. The sync repairs both partitions,
    and the next run finds them identical."""
    dest, (_, a, b, _), key_type, _ = _dest(kind, tmp_path)
    schema = f"id BIGINT, k {key_type}, v BIGINT"
    src = spark.createDataFrame([(1, a, 10), (1, a, 10), (2, b, 20), (2, b, 20), (3, b, 30)], schema)
    _replace(spark, dest, spark.createDataFrame(
        [(1, a, 11), (1, a, 11), (3, b, 30), (4, b, 40), (4, b, 40)], schema
    ))
    rows = lambda df: sorted(tuple(r) for r in df.select("id", "k", "v").collect())  # noqa: E731

    res = sync(spark, src, dest, SPEC)
    assert _report(res) == {k: ("inconsistent", "overwritten") for k in (a, b)}
    assert rows(load_table(spark, dest)) == rows(src)
    res = sync(spark, src, dest, SPEC)
    assert _report(res) == {k: ("identical", "none") for k in (a, b)}


def test_combine_sums_fingerprints_mod_2_64(spark):
    """``combine`` folds 64-bit values into their sum mod 2^64, read as a
    signed ``bigint``: carries out of the low half and wraps past the top
    bit are kept, and ANSI mode does not raise on them."""
    from clickhouse_table_copier_spark.operators.fingerprint import combine

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    values = [2**63 - 1, -(2**63), -1, 0xFFFFFFFF, 1, 2**63 - 1, -(2**63) + 5, 0x80000000]
    df = spark.createDataFrame([(1, v) for v in values], "rows BIGINT, fingerprint BIGINT")
    total = sum(values) % 2**64
    assert tuple(df.agg(*combine(F.col("rows"), F.col("fingerprint"))).first()) == (
        len(values), total - 2**64 if total >= 2**63 else total,
    )


def _crash(*args, **kwargs):
    raise RuntimeError("injected")


# (destination kind, boundary): where the failure is injected, and what a
# crashed run leaves behind
CRASHES = [
    ("parquet", "after_report"),  # report collected, nothing written yet
    ("jdbc", "after_report"),
    ("jdbc", "after_delete"),  # the DELETE ran, the append did not
    ("parquet", "before_dir_delete"),  # skip_reimport, no directory removed
]


@pytest.mark.parametrize("kind,boundary", CRASHES)
def test_crash_at_phase_boundary_converges(spark, tmp_path, monkeypatch, kind, boundary):
    """A sync that fails at a phase boundary leaves a destination the next
    run brings to the same partition fingerprints as a run that never
    failed."""
    from clickhouse_table_copier_spark.operators import sync as sync_mod
    from clickhouse_table_copier_spark.operators import sync_jdbc

    dest, (null, a, b, extra), key_type, _ = _dest(kind, tmp_path)
    schema = f"id BIGINT, k {key_type}, v BIGINT"
    src = spark.createDataFrame([(1, null, 10), (2, null, 20), (3, a, 30), (4, b, 40)], schema)
    extra_row = spark.createDataFrame([(6, extra, 60)], schema)
    fp = lambda df: _fingerprints(df, "k", key_type)  # noqa: E731
    if boundary == "before_dir_delete":
        options = SyncOptions(skip_reimport=True)
        start = src.withColumn("v", F.col("v") + 1).unionByName(extra_row)
    else:  # NULL partition mutated, `a` missing, `b` identical, `extra` only in dest
        options = SyncOptions()
        start = src.where(F.col("id") != 3).withColumn(
            "v", F.col("v") + F.col("k").isNull().cast("bigint")
        ).unionByName(extra_row)

    uninterrupted = replace(dest, table="t_ref") if kind == "jdbc" else replace(
        dest, location=dest.location + "_ref"
    )
    for d in (dest, uninterrupted):
        _replace(spark, d, start)
    sync(spark, src, uninterrupted, SPEC, options)
    expected = fp(load_table(spark, uninterrupted))

    with monkeypatch.context() as m:
        if boundary == "after_report":
            m.setattr(sync_jdbc, "apply", _crash)
            m.setattr(sync_mod, "_apply_parquet", _crash)
        elif boundary == "after_delete":
            m.setattr(sync_jdbc, "write_table", _crash)
        else:
            m.setattr(sync_mod, "_delete_partition_dirs", _crash)
        with pytest.raises(RuntimeError, match="injected"):
            sync(spark, src, dest, SPEC, options)
    crashed = fp(load_table(spark, dest))
    started = fp(start)
    if boundary == "after_delete":
        del started[null]  # the mutated partition was deleted, not rewritten
    assert crashed == started

    sync(spark, src, dest, SPEC, options)
    assert fp(load_table(spark, dest)) == expected
    assert expected == ({extra: fp(extra_row)[extra]} if options.skip_reimport
                        else {**fp(src), **fp(extra_row)})


def test_timestamp_ntz_key_resyncs(spark, tmp_path):
    """A TIMESTAMP_NTZ key survives the round trip through a collected
    report, with a session time zone that is not the host's."""
    ts = [datetime.datetime(2024, 1, 1, 10), datetime.datetime(2024, 1, 2, 0, 0, 0, 500000)]
    schema = "id BIGINT, ts TIMESTAMP_NTZ, v BIGINT"
    src = spark.createDataFrame([(1, ts[0], 10), (2, ts[1], 20), (3, ts[1], 30)], schema)
    spec = PartitionSpec.bare("ts")
    dest = str(tmp_path / "dest")
    fp = lambda df: _fingerprints(df, "ts", "timestamp_ntz")  # noqa: E731

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        assert sync(spark, src, dest, spec).copied_partitions == 2
        mutated = spark.createDataFrame([(1, ts[0], 10), (2, ts[1], 21), (3, ts[1], 30)], schema)
        mutated.write.partitionBy("ts").option("partitionOverwriteMode", "static").mode(
            "overwrite"
        ).parquet(dest)

        res = sync(spark, src, dest, spec)
        assert {r["ts"]: r["action"] for r in res.rows} == {ts[0]: "none", ts[1]: "overwritten"}
        assert fp(spark.read.parquet(dest)) == fp(src)
        again = sync(spark, src, dest, spec, SyncOptions(dry_run=True))
        assert {r["verdict"] for r in again.report.collect()} == {"identical"}
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_timestamp_keys_under_a_non_utc_process_zone(spark, tmp_path, monkeypatch):
    """A collected ``timestamp`` key is naive time in the Python process's
    zone, not the session's (UTC here). The key filter renders it with its
    UTC offset, so the resync and the delete-only directory lookup still
    find it; the directories are named by the UTC instants."""
    ref, keys, key_type, _ = _dest("parquet-timestamp", tmp_path)
    try:
        with monkeypatch.context() as m:
            m.setenv("TZ", "America/New_York")
            time.tzset()
            dirs = ("__HIVE_DEFAULT_PARTITION__",) + tuple(
                k.astimezone(datetime.timezone.utc).strftime("%Y-%m-%d %H%%3A%M%%3A%S.%f")
                for k in keys[1:]
            )
            assert dirs[1] == "2024-01-01 15%3A00%3A00.123456"
            test_pipeline_steps(spark, (ref, keys, key_type, dirs))
    finally:
        time.tzset()


@pytest.mark.parametrize("dtype", ["double", "float"])
def test_where_keys_matches_non_finite_float_keys(spark, dtype):
    """NaN and ±Infinity keys read back from a collected frame each select
    their own row, as does NULL."""
    from clickhouse_table_copier_spark.operators.sync import where_keys

    values = [float("nan"), float("inf"), float("-inf"), 0.1, -2.5e-30, None]
    df = spark.createDataFrame(list(enumerate(values)), f"i INT, x {dtype}")
    rows = df.collect()
    for r in rows:
        assert [s["i"] for s in where_keys(df, ["x"], [(r["x"],)]).collect()] == [r["i"]]
    assert where_keys(df, ["x"], [(r["x"],) for r in rows]).count() == len(rows)
    assert where_keys(df, ["x"], []).count() == 0


def test_sync_job_counts(spark, tmp_path):
    """Spark jobs for one bootstrap and one resync, each followed by the
    report read the CLI prints. The report is collected once and the key
    lists come from those rows, so neither count may grow back. Above 32
    partition directories Spark lists the destination in a job of its own,
    which runs at most one task per core."""
    sc, tracker = spark.sparkContext, spark.sparkContext.statusTracker()
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def listing(job: int) -> bool:
        desc = sc._jsc.sc().statusStore().job(job).description()
        return desc.isDefined() and desc.get().startswith("Listing leaf files")

    for parts in (24, 40):
        spec = PartitionSpec.of(PartitionField("p", f"CAST(id % {parts} AS INT)"))
        src = spark.range(2000).select("id", (F.col("id") * 3).alias("v"))
        drifted = src.withColumn("v", F.col("v") + (F.col("id") % parts == 3).cast("bigint"))
        dest = str(tmp_path / f"dest{parts}")

        def jobs(group: str, df, copied: int) -> list[int]:
            sc.setJobGroup(group, group)
            try:
                res = sync(spark, df, dest, spec)
                assert len(res.rows) == parts and res.copied_partitions == copied
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            return tracker.getJobIdsForGroup(group)

        tag = uuid.uuid4().hex
        # 2 report + 2 write (the rebalance's map stage, then the write)
        assert len(jobs(f"bootstrap-{tag}", src, parts)) <= 4
        resync = jobs(f"resync-{tag}", drifted, 1)
        listed = [j for j in resync if listing(j)]
        # 1 schema + 3 classify + 2 write, beside the listing job
        assert len(resync) - len(listed) <= 6 and len(listed) == (parts > 32)
        assert all(tracker.getStageInfo(s).numTasks <= cap for j in listed for s in tracker.getJobInfo(j).stageIds)


def test_sync_writes_one_file_per_partition(spark, tmp_path):
    """A parquet sync writes each partition it writes from one task, so
    every written directory holds one data file however many input
    partitions and write tasks the source has. Directories the sync does
    not write keep their file."""
    import shutil

    key = F.when(F.col("id") % 6 == 0, None).otherwise(F.col("id") % 6)
    src = spark.range(2000, numPartitions=8).select("id", key.alias("k"), (F.col("id") * 3).alias("v"))
    dest = str(tmp_path / "dest")

    def files() -> dict[str, list[str]]:
        return {
            d: sorted(f for f in os.listdir(os.path.join(dest, d)) if f.endswith(".parquet"))
            for d in os.listdir(dest) if d.startswith("k=")
        }

    def check(written: set[str], before: dict) -> None:
        after = files()
        assert set(after) == {"k=__HIVE_DEFAULT_PARTITION__", *(f"k={i}" for i in range(1, 6))}
        assert all(len(f) == 1 for f in after.values()), after
        assert {d: f for d, f in after.items() if d not in written} == {
            d: f for d, f in before.items() if d not in written
        }
        assert _fingerprints(spark.read.parquet(dest), key_type="bigint") == _fingerprints(src, key_type="bigint")

    # 1. bootstrap
    res = sync(spark, src, dest, SPEC)
    assert res.copied_partitions == 6
    check(set(files()), {})

    # 2. resync: the NULL partition rewritten with mutated rows, k=1 missing
    before = files()
    null_dir, missing = "k=__HIVE_DEFAULT_PARTITION__", "k=1"
    shutil.rmtree(os.path.join(dest, null_dir))
    src.where(F.col("k").isNull()).drop("k").withColumn("v", F.col("v") + 1).coalesce(1).write.parquet(
        os.path.join(dest, null_dir)
    )
    shutil.rmtree(os.path.join(dest, missing))
    res = sync(spark, src, dest, SPEC)
    assert _report(res)[None] == ("inconsistent", "overwritten") and _report(res)[1] == ("copy", "copied")
    assert res.copied_partitions == 2
    check({null_dir, missing}, before)

    # 3. skip_delete appends a missing partition the same way
    before = files()
    shutil.rmtree(os.path.join(dest, "k=2"))
    res = sync(spark, src, dest, SPEC, SyncOptions(skip_delete=True))
    assert res.copied_partitions == 1
    check({"k=2"}, before)


def _codecs(path: str) -> set[str]:
    """The compression codecs of every column chunk in the data files
    under ``path``, read from the parquet footers."""
    import pyarrow.parquet as pq

    out = set()
    for root, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                md = pq.ParquetFile(os.path.join(root, name)).metadata
                out |= {
                    md.row_group(i).column(j).compression
                    for i in range(md.num_row_groups) for j in range(md.num_columns)
                }
    return out


@pytest.mark.parametrize("options,codec", [
    ({}, "ZSTD"),
    ({"compression": "snappy"}, "SNAPPY"),
    ({"compression": "gzip"}, "GZIP"),
    ({"parquet.compression": "snappy"}, "SNAPPY"),
], ids=["default", "snappy", "gzip", "parquet.compression"])
def test_sync_writes_zstd_unless_the_destination_sets_a_codec(spark, tmp_path, options, codec):
    """A parquet sync writes zstd on the overwrite and the ``skip_delete``
    append path, unless the destination's ``options`` name another
    codec; the session's codec is left alone. Fingerprints do not depend
    on the codec: partitions the sync did not touch stay ``identical``
    next to one rewritten with the session's codec."""
    import shutil

    default = spark.conf.get("spark.sql.parquet.compression.codec")
    src = spark.range(600, numPartitions=4).select("id", (F.col("id") % 3).alias("k"), (F.col("id") * 3).alias("v"))
    dest = TableRef(location=str(tmp_path / "dest"), options=options)
    part = lambda k: os.path.join(dest.location, f"k={k}")  # noqa: E731

    # 1. bootstrap
    assert sync(spark, src, dest, SPEC).copied_partitions == 3
    assert _codecs(dest.location) == {codec}

    # 2. skip_delete appends a missing partition
    shutil.rmtree(part(2))
    assert sync(spark, src, dest, SPEC, SyncOptions(skip_delete=True)).copied_partitions == 1
    assert _codecs(dest.location) == {codec}

    # 3. overwrite: k=0 rewritten by another writer, with mutated rows
    shutil.rmtree(part(0))
    src.where("k = 0").drop("k").withColumn("v", F.col("v") + 1).coalesce(1).write.parquet(part(0))
    assert _codecs(part(0)) == {default.upper()}
    res = sync(spark, src, dest, SPEC)
    assert _report(res) == {0: ("inconsistent", "overwritten"), 1: ("identical", "none"), 2: ("identical", "none")}
    assert _codecs(dest.location) == {codec}
    assert _fingerprints(spark.read.parquet(dest.location), key_type="bigint") == _fingerprints(src, key_type="bigint")
    assert spark.conf.get("spark.sql.parquet.compression.codec") == default


def test_manifest_diff_handles_null_partition_values(spark, tmp_path):
    """The manifest diff, like the live one, gives a NULL partition value
    identical on both sides one ``identical`` row, not a copy+extra pair."""
    from clickhouse_table_copier_spark.operators.manifest import (
        diff_manifests,
        write_fingerprint_manifest,
    )

    src = spark.createDataFrame([(None, 1), (None, 2), ("a", 3)], "k STRING, v INT")
    dest = spark.createDataFrame([(None, 1), (None, 2), ("a", 99)], "k STRING, v INT")
    sm, dm = str(tmp_path / "src_m"), str(tmp_path / "dest_m")
    write_fingerprint_manifest(src, SPEC, sm, ["v"])
    write_fingerprint_manifest(dest, SPEC, dm, ["v"])
    rows = diff_manifests(spark, sm, dm, ["k"]).collect()
    assert len(rows) == 2
    assert {r["k"]: r["verdict"] for r in rows} == {None: "identical", "a": "inconsistent"}


def test_manifest_of_another_fingerprint_version_is_refused(spark, tmp_path):
    """A manifest without this fingerprint version, such as one holding the
    XOR fingerprints written before manifests carried a version, is
    refused, not compared."""
    from clickhouse_table_copier_spark.operators.manifest import (
        diff_manifests,
        write_fingerprint_manifest,
    )

    df = spark.createDataFrame([("a", 1)], "k STRING, v INT")
    current, old = str(tmp_path / "current"), str(tmp_path / "old")
    write_fingerprint_manifest(df, SPEC, current, ["v"])
    spark.read.parquet(current).drop("fingerprint_version").write.parquet(old)
    assert [r["verdict"] for r in diff_manifests(spark, current, current, ["k"]).collect()] == ["identical"]
    with pytest.raises(ValueError, match="fingerprint version"):
        diff_manifests(spark, current, old, ["k"])


def test_session_turns_off_call_site_capture(spark, monkeypatch):
    """The session leaves PySpark's per-Column call-site capture off, so
    building a diff costs the driver a bounded number of py4j commands.
    On an 11-column frame the build sends 357 commands with capture off
    and about 960 with it on. Releases of collected Java objects (``m d``)
    are not counted: garbage collection decides when they are sent."""
    from py4j.clientserver import ClientServerConnection

    from clickhouse_table_copier_spark.operators.diff import diff_partitions

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    src = spark.range(4).select(*[(F.col("id") + i).alias(f"c{i}") for i in range(11)])
    sent = []
    send = ClientServerConnection.send_command

    def counted(self, command):
        if not command.startswith("m\nd\n"):
            sent.append(command)
        return send(self, command)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counted)
        diff_partitions(src, src, PartitionSpec.bare("c0"))
    assert len(sent) <= 600, len(sent)


def _explain_job(spark, tmp_path, monkeypatch) -> tuple[str, list]:
    """A CLI job whose destination lacks one of two source partitions, and
    the ``dry_run`` option of each call its run makes to
    ``operators.sync.sync``."""
    from clickhouse_table_copier_spark.operators import sync as sync_mod

    monkeypatch.setenv("SPARK_GRAFT_CPUS", spark.conf.get("spark.sql.shuffle.partitions"))
    rows = [(1, "a", 10), (2, "b", 20)]
    spark.createDataFrame(rows, "id BIGINT, k STRING, v BIGINT").write.parquet(str(tmp_path / "src"))
    spark.createDataFrame(rows[:1], "id BIGINT, k STRING, v BIGINT").write.partitionBy("k").parquet(
        str(tmp_path / "dest")
    )
    cfg = tmp_path / "job.yaml"
    cfg.write_text(
        f"source:\n  location: {tmp_path / 'src'}\n"
        f"destination:\n  location: {tmp_path / 'dest'}\n"
        "partition_by:\n  - name: k\n    expr: k\n"
    )
    calls, real = [], sync_mod.sync
    monkeypatch.setattr(sync_mod, "sync", lambda *a, **kw: calls.append(a[4].dry_run) or real(*a, **kw))
    return str(cfg), calls


def test_cli_sync_explain_prints_the_diff_plan(spark, tmp_path, monkeypatch, capsys):
    """`cli sync --explain` prints the plan of the diff it runs, not the
    scan of the report rows it collected: a dry run builds that plan
    before the run changes anything."""
    from clickhouse_table_copier_spark import cli

    cfg, calls = _explain_job(spark, tmp_path, monkeypatch)
    assert cli.main(["sync", "--config", cfg, "--explain"]) == 0
    out = capsys.readouterr().out
    assert "HashAggregate" in out and "ExistingRDD" not in out, out
    assert "copied_partitions=1 " in out
    assert calls == [True, False]


def test_cli_info_explain_builds_the_report_once(spark, tmp_path, monkeypatch, capsys):
    """`cli info --explain` prints the plan of the report its one dry run
    returns, so the destination is probed, listed and diffed once."""
    from clickhouse_table_copier_spark import cli

    cfg, calls = _explain_job(spark, tmp_path, monkeypatch)
    assert cli.main(["info", "--config", cfg, "--explain"]) == cli.EXIT_INCONSISTENT
    out = capsys.readouterr().out
    assert "HashAggregate" in out, out
    assert "verdict=copy action=none" in out
    assert calls == [True]


def test_cli_sync_registers_called_clickhouse_functions(spark, tmp_path, monkeypatch):
    """`cli sync` in-process with a ClickHouse partition expression: the
    shim it calls is registered and the partitions are written. The run
    uses the caller's session as it is, whatever ``SPARK_GRAFT_CPUS`` says."""
    from clickhouse_table_copier_spark import cli

    confs = ("spark.sql.shuffle.partitions", "spark.sql.sources.parallelPartitionDiscovery.parallelism")
    before = [spark.conf.get(c) for c in confs]
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")  # not the fixture's 8
    days = [datetime.date(2026, 1, 15), datetime.date(2026, 2, 3), datetime.date(2026, 2, 4)]
    spark.createDataFrame(list(enumerate(days)), "id BIGINT, l_shipdate DATE").write.parquet(str(tmp_path / "src"))
    cfg = tmp_path / "job.yaml"
    cfg.write_text(
        f"source:\n  location: {tmp_path / 'src'}\n"
        f"destination:\n  location: {tmp_path / 'dest'}\n"
        "partition_by:\n  - name: ym\n    expr: toYYYYMM(CAST(l_shipdate AS DATE))\n"
    )
    assert cli.main(["sync", "--config", str(cfg)]) == 0
    assert {d for d in os.listdir(tmp_path / "dest") if d.startswith("ym=")} == {"ym=202601", "ym=202602"}
    assert [spark.conf.get(c) for c in confs] == before


def test_incremental_sync_retries_an_unfinished_repair(spark, tmp_path, monkeypatch):
    """Partitions staged by a run whose repair crashed, or was a dry run,
    are touched again by the next run, which converges."""
    from clickhouse_table_copier_spark.streaming import continuous_sync as cs

    src = spark.createDataFrame([(1, "a", 10), (2, "b", 20), (3, "b", 30)], "id BIGINT, k STRING, v BIGINT")
    src.write.parquet(str(tmp_path / "src"))
    dest = str(tmp_path / "dest")
    args = (spark, str(tmp_path / "src"), src.schema, dest, SPEC, str(tmp_path / "ck"), str(tmp_path / "stage"))

    def crash(*a, **kw):
        raise RuntimeError("injected")

    with monkeypatch.context() as m:
        m.setattr(cs, "sync", crash)
        with pytest.raises(RuntimeError, match="injected"):
            cs.incremental_sync(*args)
    dry = cs.incremental_sync(*args, SyncOptions(dry_run=True))
    assert sorted(dry.touched_partitions) == [("a",), ("b",)]
    res = cs.incremental_sync(*args)
    assert sorted(res.touched_partitions) == [("a",), ("b",)]
    assert res.sync_result.copied_partitions == 2
    assert _fingerprints(spark.read.parquet(dest)) == _fingerprints(src)
    assert cs.incremental_sync(*args).touched_partitions == []
