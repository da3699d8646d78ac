"""Table references — the engine's "server + database + table" abstraction.

The reference identifies a table by (connection, database, table) and builds
DSNs in ``/root/reference/database/database.go:64-151``; its config carries a
source and a destination endpoint (``/root/reference/config/config.go:11-21``).
Here a :class:`TableRef` names a table by storage location — a parquet
path/directory for the fixture harness, with a JDBC seam kept open so the
original cross-server use case (ClickHouse → ClickHouse) remains reachable
from the same plan code.

Scale note: reads stay fully declarative (``spark.read``), so Catalyst gets
predicate pushdown, column pruning and partition pruning on every downstream
plan. Nothing here collects data to the driver.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass(frozen=True)
class TableRef:
    """A named table at a storage location.

    ``fmt='parquet'``: ``location`` is a file/dir path. As a destination,
    its ``options`` reach the writer, both ``write_table``'s and the sync's
    apply step, where a codec named under ``compression`` or
    ``parquet.compression`` overrides its zstd default
    (``{"compression": "snappy"}`` for a reader without zstd).
    ``fmt='jdbc'``: ``location`` is a JDBC URL and ``table`` must be set;
    options carry credentials/driver plus the reader tuning below.
    (Parity seam for the reference's remote-server sources — the same plan
    code runs against either storage.)

    Recognized JDBC options (everything else passes through verbatim):

    - ``connect_retries`` (int, default 2): C9 reconnect semantics — the
      reference retries a lost connection forever with a 5 s sleep
      (``/root/reference/database/database.go:246-299``); ``-1`` reproduces
      that infinite loop exactly, a non-negative N bounds it (N retries
      after the first attempt) so a dead server fails instead of hanging.
    - ``retry_delay_s`` (float, default 5.0): sleep between attempts —
      the reference's hardcoded ``time.Sleep(5 * time.Second)``.
    - ``partitionColumn`` / ``lowerBound`` / ``upperBound`` /
      ``numPartitions``: Spark's parallel-read sharding — the analogue of
      the reference fanning ``remote()`` across shards; without them a
      JDBC read is one connection on one executor.
    """

    location: str
    fmt: str = "parquet"
    table: str | None = None
    options: dict[str, str] = field(default_factory=dict)

    def name(self) -> str:
        return self.table or self.location.rstrip("/").rsplit("/", 1)[-1]


_RETRY_KEYS = ("connect_retries", "retry_delay_s")
R = TypeVar("R")


def jdbc_reader_options(ref: TableRef) -> dict[str, str]:
    """The exact option set handed to ``spark.read.format('jdbc')``.

    Pure (no session, no connection) so the contract test can assert the
    seam's behavior without a live server. Pushdown options keep
    filter/agg/limit evaluation on the remote server — the Spark analogue
    of the reference baking WHERE into ``SELECT … FROM remote(…)``
    (database.go:488-489).
    """
    if not ref.table:
        raise ValueError("jdbc TableRef requires table (dbtable) to be set")
    opts: dict[str, str] = {
        "url": ref.location,
        "dbtable": ref.table,
        "pushDownPredicate": "true",
        "pushDownAggregate": "true",
        "pushDownLimit": "true",
        # batch rows per round trip; JDBC drivers' defaults (often 0 or 10)
        # are pathological for bulk copy
        "fetchsize": "10000",
    }
    for k, v in ref.options.items():
        if k not in _RETRY_KEYS:
            opts[k] = str(v)
    return opts


def jdbc_retry_policy(ref: TableRef) -> tuple[int, float]:
    """(retries, delay_s): C9 knobs with reference-parity defaults bounded
    sane — see :class:`TableRef`."""
    retries = int(ref.options.get("connect_retries", 2))
    delay = float(ref.options.get("retry_delay_s", 5.0))
    return retries, delay


def jdbc_retrying(ref: TableRef, call: Callable[[], R]) -> R:
    """``call()`` under the C9 reconnect knobs: a failure is retried every
    ``retry_delay_s`` seconds, at most ``connect_retries`` times, and
    re-raised once they are spent. The reference loops forever
    (``connect_retries=-1``); bounded N re-raises after N retries."""
    retries, delay = jdbc_retry_policy(ref)
    attempt = 0
    while True:
        try:
            return call()
        except Exception:
            if 0 <= retries <= attempt:
                raise
            attempt += 1
            time.sleep(delay)


def normalize_jdbc_types(df: DataFrame) -> DataFrame:
    """§1.3 cast matrix applied on READ for JDBC arrivals.

    ClickHouse's unsigned/huge integers reach Spark through JDBC as
    DECIMAL(20..39, 0) (UInt64 → decimal(20,0), Int128 → decimal(39,0)
    truncated by the driver); the engine's canonical carrier for all of
    them is decimal(38,0) (plans/casting.py: Int128/Int256 policy), so
    fingerprints computed over a JDBC source match the same data synced
    into parquet. Everything else passes through untouched.
    """
    exprs = []
    for f in df.schema.fields:
        t = f.dataType
        if isinstance(t, T.DecimalType) and t.scale == 0 and t.precision >= 19:
            exprs.append(F.col(f.name).cast(T.DecimalType(38, 0)).alias(f.name))
        else:
            exprs.append(F.col(f.name))
    return df.select(*exprs)


def load_table(
    spark: SparkSession,
    ref: TableRef,
    _loader: Callable[[], DataFrame] | None = None,
) -> DataFrame:
    """Scan a table (SURVEY §2.1 S1). Declarative read → pushdown-friendly.

    ``_loader`` is a test seam: the retry loop is our code and is tested by
    injecting a loader that fails N times; the real loader is the plain
    ``spark.read`` chain.
    """
    if ref.fmt == "parquet":
        return spark.read.parquet(ref.location)
    if ref.fmt in ("json", "csv", "orc"):
        # jsonl / csv ingestion (training corpora arrive as jsonl shards;
        # csv keeps header+schema inference unless options override).
        reader = spark.read.format(ref.fmt)
        if ref.fmt == "csv":
            reader = reader.option("header", "true").option("inferSchema", "true")
        for k, v in ref.options.items():
            reader = reader.option(k, str(v))
        return reader.load(ref.location)
    if ref.fmt == "jdbc":
        opts = jdbc_reader_options(ref)

        def _do_load() -> DataFrame:
            reader = spark.read.format("jdbc")
            for k, v in opts.items():
                reader = reader.option(k, v)
            return normalize_jdbc_types(reader.load())

        return jdbc_retrying(ref, _loader or _do_load)
    raise ValueError(f"unsupported table format: {ref.fmt!r}")


def write_table(df: DataFrame, ref: TableRef, mode: str = "append") -> None:
    """Write ``df`` to a TableRef destination — S6's other half.

    ``fmt='parquet'/'json'/'csv'/'orc'``: a plain directory write.
    ``fmt='jdbc'``: the reference's flagship INSERT-into-remote-server
    (database.go:486-507) — executors open ``numPartitions`` connections
    and stream batched INSERTs (``batchsize`` option; default 10000 set
    here). The C9 retry knobs do not apply to writes: Spark's JDBC write
    is per-task and a failed task re-runs under Spark's own retry, which
    with mode='append' can duplicate rows on retry — the reference has
    the identical non-transactional semantics, which is exactly why its
    sync verifies with fingerprints afterwards.
    """
    if ref.fmt in ("parquet", "json", "csv", "orc"):
        writer = df.write.format(ref.fmt).mode(mode)
        for k, v in ref.options.items():
            writer = writer.option(k, str(v))
        writer.save(ref.location)
        return
    if ref.fmt == "jdbc":
        if not ref.table:
            raise ValueError("jdbc TableRef requires table (dbtable) to be set")
        writer = (
            df.write.format("jdbc")
            .option("url", ref.location)
            .option("dbtable", ref.table)
            .option("batchsize", "10000")
            .mode(mode)
        )
        # read-only sharding options must not reach the writer: Spark's
        # JDBC option validation requires partitionColumn/lowerBound/
        # upperBound as a trio for READS and they mean nothing on writes
        # (numPartitions IS write-valid — caps insert connections)
        read_only = ("partitionColumn", "lowerBound", "upperBound")
        for k, v in ref.options.items():
            if k not in _RETRY_KEYS and k not in read_only:
                writer = writer.option(k, str(v))
        writer.save()
        return
    raise ValueError(f"unsupported table format: {ref.fmt!r}")


def jdbc_execute(spark: SparkSession, ref: TableRef, sql: str) -> None:
    """Driver-side statement on the table's server (the reference's
    control-plane connection; data never flows through it)."""
    jvm = spark._jvm
    driver = ref.options.get("driver")
    if driver:
        jvm.java.lang.Class.forName(driver)
    props = jvm.java.util.Properties()
    for k in ("user", "password"):
        if k in ref.options:
            props.setProperty(k, str(ref.options[k]))
    conn = jvm.java.sql.DriverManager.getConnection(ref.location, props)
    try:
        st = conn.createStatement()
        # execute(), not executeUpdate(): the exists-probe is a SELECT and
        # JDBC drivers reject executeUpdate for result-returning statements
        st.execute(sql)
        st.close()
    finally:
        conn.close()
