"""Job-spec config (SURVEY §2.1 S7, §2.9 C2): YAML → the types sync runs on.

The reference reads a YAML config with source/destination endpoints and
four behavior flags (``/root/reference/config/config.go:29-38``), validating
that host/database/table are set on both sides (``:66-71``; enforced fatal
at ``main.go:89-92``). The engine's spec replaces host/db/table with
storage locations (parquet path or JDBC URL) and keeps the same flags —
including fixing the reference's ``config.yaml:28`` ``fasle`` typo class of
errors by actually parsing booleans strictly.

Like the reference's config feeding its copier's table settings
(``database.go:42-50``), each YAML section maps straight onto the type the
engine uses: endpoints → :class:`TableRef`, ``partition_by`` →
:class:`PartitionSpec`, the flags → :class:`SyncOptions`.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from clickhouse_table_copier_spark.operators.sync import SyncOptions
from clickhouse_table_copier_spark.plans.partition_spec import PartitionField, PartitionSpec
from clickhouse_table_copier_spark.sources.table import TableRef

try:
    import yaml
except ImportError:  # pragma: no cover
    yaml = None


class ConfigError(ValueError):
    pass


@dataclass(frozen=True)
class JobSpec:
    source: TableRef
    destination: TableRef
    spec: PartitionSpec
    options: SyncOptions = SyncOptions()  # config.go:34-36; dry_run is the CLI mode's
    # column -> ClickHouse semantic type name ('UUID'|'IPv4'|'IPv6'|'JSON');
    # requests the canonicalizing casts plain Spark types can't encode
    # (sidefunctions.go:127-134)
    semantic_casts: dict = field(default_factory=dict)
    use_virtual_column: bool = False  # config.go:37


def _require(d: dict, key: str, ctx: str):
    if key not in d or d[key] in (None, ""):
        raise ConfigError(f"missing required config key: {ctx}.{key}")
    return d[key]


def _bool(d: dict, key: str, default: bool) -> bool:
    v = d.get(key, default)
    if isinstance(v, bool):
        return v
    # strict: reject the reference's 'fasle'-typo class silently defaulting
    raise ConfigError(f"config key {key} must be a boolean, got {v!r}")


def _endpoint(d: dict, ctx: str) -> TableRef:
    return TableRef(
        location=_require(d, "location", ctx),
        fmt=d.get("format", "parquet"),
        table=d.get("table"),
        options=d.get("options", {}) or {},
    )


def _field(item) -> PartitionField:
    if isinstance(item, str):
        return PartitionField(item, item)
    name = _require(item, "name", "partition_by[]")
    # expr defaults to the bare column; source_col and is_temporal are read
    # by no sync step, so like any other unknown key they are ignored
    return PartitionField(name, item.get("expr") or name)


def parse_job_spec(data: dict) -> JobSpec:
    """Validate a parsed YAML/JSON dict → JobSpec (C2 parity)."""
    if not isinstance(data, dict):
        raise ConfigError("config root must be a mapping")
    src = _endpoint(dict(_require(data, "source", "root")), "source")
    dest = _endpoint(dict(_require(data, "destination", "root")), "destination")
    pb_raw = _require(data, "partition_by", "root")
    if isinstance(pb_raw, str):
        pb_raw = [pb_raw]
    spec = PartitionSpec(tuple(_field(item) for item in pb_raw))
    semantic = data.get("semantic_casts", {}) or {}
    allowed = {"UUID", "IPv4", "IPv6", "JSON"}
    for col, t in semantic.items():
        if t not in allowed:
            raise ConfigError(
                f"semantic_casts.{col} must be one of {sorted(allowed)}, got {t!r}"
            )
    return JobSpec(
        source=src,
        destination=dest,
        spec=spec,
        options=SyncOptions(
            check_hashes=_bool(data, "check_hashes", True),
            skip_delete=_bool(data, "skip_delete", False),
            skip_reimport=_bool(data, "skip_reimport", False),
        ),
        semantic_casts=dict(semantic),
        use_virtual_column=_bool(data, "use_virtual_column", False),
    )


def read_config(path: str) -> JobSpec:
    """YAML file → JobSpec (config.Read parity, config/config.go:52-64)."""
    if yaml is None:
        raise ConfigError("pyyaml not available; pass a dict to parse_job_spec")
    with open(path) as f:
        return parse_job_spec(yaml.safe_load(f))
