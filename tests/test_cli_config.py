"""Config validation (C2) + CLI dispatch (C1/C10/C11) tests."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

from clickhouse_table_copier_spark.config import ConfigError, parse_job_spec
from tests.conftest import SF_SMOKE

# Driver-gate lane split (r17): this suite is in the SLOW lane so the
# default `pytest tests/` gate completes inside the driver's verify
# budget (r16 cut at 43% with zero failures).  Run the slow lane with
#   python -m pytest tests/ -m slow -q
pytestmark = pytest.mark.slow


def _spec_dict(dest: str) -> dict:
    return {
        "source": {"location": f"{SF_SMOKE}/lineitem.parquet"},
        "destination": {"location": dest},
        "partition_by": [
            {"name": "ship_month", "expr": "CAST(month(l_shipdate) AS INT)"}
        ],
    }


def test_parse_ok(tmp_path):
    job = parse_job_spec(_spec_dict(str(tmp_path / "d")))
    assert job.options.check_hashes is True
    assert job.spec.names == ["ship_month"]


def test_missing_required_keys():
    with pytest.raises(ConfigError, match="source"):
        parse_job_spec({"destination": {"location": "x"}, "partition_by": ["k"]})
    with pytest.raises(ConfigError, match="location"):
        parse_job_spec(
            {"source": {}, "destination": {"location": "x"}, "partition_by": ["k"]}
        )


def test_non_boolean_flag_rejected():
    # the reference's config.yaml:28 'fasle' typo would silently default;
    # this engine rejects it.
    d = _spec_dict("x")
    d["skip_delete"] = "fasle"
    with pytest.raises(ConfigError, match="skip_delete"):
        parse_job_spec(d)


def test_bare_string_partition_key():
    d = _spec_dict("x")
    d["partition_by"] = ["l_returnflag"]
    spec = parse_job_spec(d).spec
    assert spec.fields[0].expr == "l_returnflag"


@pytest.mark.slow
def test_cli_end_to_end(tmp_path):
    """info on missing dest → exit 2 + copy verdicts; sync → exit 0 then
    info → exit 0/identical. Exercises C1 dispatch + C10 exit codes +
    C11 dry-run in a real subprocess."""
    import yaml

    cfg = tmp_path / "job.yaml"
    dest = tmp_path / "dest"
    cfg.write_text(yaml.safe_dump(_spec_dict(str(dest))))

    env_cmd = [sys.executable, "-m", "clickhouse_table_copier_spark.cli"]
    r1 = subprocess.run(
        env_cmd + ["sync", "--config", str(cfg)],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r1.returncode == 0, r1.stderr[-2000:]
    assert "copied_partitions=12" in r1.stdout

    r2 = subprocess.run(
        env_cmd + ["info", "--config", str(cfg)],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert "verdict=identical" in r2.stdout
    assert "action=none" in r2.stdout

    r3 = subprocess.run(
        env_cmd + ["version"], capture_output=True, text=True, cwd="/root/repo"
    )
    assert r3.returncode == 0 and "clickhouse-table-copier-spark" in r3.stdout


def test_cli_sync_to_jdbc_destination(tmp_path):
    """End-to-end CLI run against a JDBC (file-backed Derby) destination —
    the reference's remote-server shape reachable from YAML: sync copies,
    info then reports all-identical with exit 0."""
    import yaml

    cfg = tmp_path / "job.yaml"
    db = tmp_path / "derbydb"
    spec = {
        "source": {"location": f"{SF_SMOKE}/lineitem.parquet"},
        "destination": {
            "location": f"jdbc:derby:{db};create=true",
            "format": "jdbc",
            "table": "li_dest",
            "options": {"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
        },
        "partition_by": [
            {"name": "ship_month", "expr": "CAST(month(l_shipdate) AS INT)"}
        ],
    }
    cfg.write_text(yaml.safe_dump(spec))

    env_cmd = [sys.executable, "-m", "clickhouse_table_copier_spark.cli"]
    r1 = subprocess.run(
        env_cmd + ["sync", "--config", str(cfg)],
        capture_output=True, text=True, cwd="/root/repo", timeout=300,
    )
    assert r1.returncode == 0, r1.stderr[-2000:]
    assert "copied_partitions=12" in r1.stdout

    r2 = subprocess.run(
        env_cmd + ["info", "--config", str(cfg)],
        capture_output=True, text=True, cwd="/root/repo", timeout=300,
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert "verdict=identical" in r2.stdout
    assert "verdict=copy" not in r2.stdout


def test_cli_accepts_clickhouse_partition_exprs(tmp_path):
    """A reference config's partition_by carries over verbatim: the CLI
    registers the ClickHouse dialect, so toYYYYMM(...) works as a
    partition expression end-to-end."""
    import yaml

    cfg = tmp_path / "job.yaml"
    dest = tmp_path / "dest"
    spec = {
        "source": {"location": f"{SF_SMOKE}/lineitem.parquet"},
        "destination": {"location": str(dest)},
        "partition_by": [
            {"name": "ym", "expr": "toYYYYMM(CAST(l_shipdate AS DATE))"}
        ],
    }
    cfg.write_text(yaml.safe_dump(spec))
    env_cmd = [sys.executable, "-m", "clickhouse_table_copier_spark.cli"]
    r = subprocess.run(
        env_cmd + ["sync", "--config", str(cfg)],
        capture_output=True, text=True, cwd="/root/repo", timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "copied_partitions=" in r.stdout
    import os
    assert any(d.startswith("ym=") for d in os.listdir(dest))


def test_unread_partition_keys_are_ignored():
    # source_col/is_temporal are read by no sync step: even a 'fasle' there
    # parses to the same field as leaving them out
    d = _spec_dict("x")
    d["partition_by"][0].update(source_col="l_shipdate", is_temporal="fasle")
    assert parse_job_spec(d).spec == parse_job_spec(_spec_dict("x")).spec


# ---------------------------------------------------------------------------
# MIGRATION.md on-ramp: every example config in examples/ must actually
# run (or, for the remote-server example, fully parse into the documented
# reader contract) — so the documented migration path can't rot.
# ---------------------------------------------------------------------------
@pytest.mark.parametrize(
    "name", ["job_sync.yaml", "job_events_tuple_key.yaml"]
)
def test_example_configs_run_under_cli_info(name, tmp_path):
    import yaml

    src_yaml = Path("examples") / name
    job = yaml.safe_load(src_yaml.read_text())
    # isolate the documented /tmp destination into this test's tmp dir
    job["destination"]["location"] = str(tmp_path / "dest")
    cfg = tmp_path / name
    cfg.write_text(yaml.safe_dump(job))
    r = subprocess.run(
        [sys.executable, "-m", "clickhouse_table_copier_spark.cli",
         "info", "--config", str(cfg)],
        capture_output=True, text=True, timeout=600,
    )
    # fresh dest → every partition reports 'copy' → differences exit bit
    assert r.returncode == 2, r.stderr[-2000:]
    assert "verdict" in r.stdout or "copy" in r.stdout


def test_example_jdbc_config_parses_to_reader_contract():
    """The remote-server example (no ClickHouse in this container) must
    parse end-to-end into the exact spark.read option set + C9 knobs."""
    from clickhouse_table_copier_spark.config import read_config
    from clickhouse_table_copier_spark.sources.table import (
        jdbc_reader_options,
        jdbc_retry_policy,
    )

    job = read_config("examples/job_jdbc_source.yaml")
    assert [f.name for f in job.spec.fields] == ["event_date"]
    ref = job.source
    opts = jdbc_reader_options(ref)
    assert opts["url"].startswith("jdbc:clickhouse://")
    assert opts["dbtable"] == "events"
    assert opts["numPartitions"] == "64" and opts["partitionColumn"] == "event_id"
    assert jdbc_retry_policy(ref) == (-1, 5.0)  # reference-parity infinite retry
