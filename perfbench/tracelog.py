"""Per-layer metrics of a traced run, from Spark's event log and the spans
the benchmark recorded around its calls.

The traced session writes an uncompressed, non-rolling event log: one JSON
event per line. Every timed call runs in its own job group (``op#3``,
``fingerprint.src#3`` …), which the job-start properties and SQL
executions carry. Within an op's group, jobs are told apart by kind:

- listing jobs by description (``Listing leaf files and directories for
  N paths``);
- write jobs by output bytes, since they have no call site;
- the classify job as the ``operators/sync.py`` collect whose plan scans
  the destination.
"""

from __future__ import annotations

import json
import re
import statistics
from collections import Counter, defaultdict
from pathlib import Path

from harness import verdict_counts

_LISTING = re.compile(r"Listing leaf files and directories for (\d+) paths")


class EventLog:
    """Jobs, per-stage task totals and SQL executions, keyed for lookup
    by job group."""

    def __init__(self, path: Path):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, Counter] = defaultdict(Counter)
        self.stage_job: dict[int, int] = {}
        self.execs: dict[int, dict] = {}
        self.accum_name: dict[int, str] = {}
        self.accums: dict[int, Counter] = defaultdict(Counter)
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            p = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "group": p.get("spark.jobGroup.id"),
                "callsite": p.get("callSite.short") or "",
                "desc": p.get("spark.job.description") or "",
                "exec": int(p["spark.sql.execution.id"]) if p.get("spark.sql.execution.id") else None,
                "t0": e["Submission Time"] / 1000,
            }
            for s in e["Stage IDs"]:
                self.stage_job.setdefault(s, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            c = self.stages[e["Stage ID"]]
            c["tasks"] += 1
            c["cpu_ns"] += m.get("Executor CPU Time", 0)
            c["in_records"] += m.get("Input Metrics", {}).get("Records Read", 0)
            c["out_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
            c["shuffle_w_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(e["executionId"], e["sparkPlanInfo"], kind.endswith("Start"), e.get("jobGroupId"))
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc, value in e["accumUpdates"]:
                name = self.accum_name.get(acc)
                if name:
                    self.accums[e["executionId"]][name] += value

    def _plan(self, exec_id: int, root: dict, first: bool, group: str | None) -> None:
        scans = []
        stack = [root]
        while stack:
            node = stack.pop()
            stack.extend(node.get("children", []))
            for m in node.get("metrics", []):
                self.accum_name[m["accumulatorId"]] = m["name"]
            if node["nodeName"].startswith("Scan"):
                scans.append(node.get("metadata", {}).get("Location", ""))
        if first:
            self.execs[exec_id] = {"group": group, "scans": scans}

    def jobs_in(self, group: str) -> list[dict]:
        return [dict(j, id=i) for i, j in sorted(self.jobs.items()) if j["group"] == group]

    def totals(self, jobs: list[dict]) -> Counter:
        """Task totals over the stages that ran for ``jobs``."""
        ids = {j["id"] for j in jobs}
        out = Counter()
        for stage, c in self.stages.items():
            if self.stage_job.get(stage) in ids:
                out.update(c)
        return out

    def exec_ids(self, group: str) -> list[int]:
        return [i for i, x in self.execs.items() if x["group"] == group]


def busy_s(jobs: list[dict]) -> float:
    """Length of the union of the jobs' run intervals."""
    total, end = 0.0, float("-inf")
    for t0, t1 in sorted((j["t0"], j.get("t1", j["t0"])) for j in jobs):
        if t1 > end:
            total += t1 - max(t0, end)
            end = t1
    return total


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def op_layers(log: EventLog, group: str, wall_s: float, source: str, dest: str) -> dict:
    """Per-layer figures of one traced ``cli sync`` op."""
    jobs = log.jobs_in(group)
    execs = log.exec_ids(group)
    listing = [j for j in jobs if _LISTING.search(j["desc"])]
    writes = [j for j in jobs if log.totals([j])["out_bytes"] > 0]
    dest_execs = {i for i in execs if any(dest in s for s in log.execs[i]["scans"])}
    classify = [j for j in jobs if "operators/sync.py" in j["callsite"] and j["exec"] in dest_execs]
    wt = log.totals(writes)
    return {
        "sources.listing_s": busy_s(listing),
        "sources.listing_paths": sum(int(_LISTING.search(j["desc"]).group(1)) for j in listing),
        "diff.classify_s": busy_s(classify),
        "diff.shuffle_mb": log.totals(classify)["shuffle_w_bytes"] / 2**20,
        "sync.jobs": len(jobs),
        "sync.src_scans": sum(source in s for i in execs for s in log.execs[i]["scans"]),
        "sync.write_s": busy_s(writes),
        "sync.write_mb": wt["out_bytes"] / 2**20,
        "sync.write_tasks": wt["tasks"],
        "sync.driver_s": wall_s - busy_s(jobs),
    }


def fingerprint_layers(log: EventLog, groups: list[str]) -> dict:
    """Scan and hash cost of the direct ``partition_fingerprints`` calls
    of one iteration (source and destination side together)."""
    t = log.totals([j for g in groups for j in log.jobs_in(g)])
    acc = Counter()
    for g in groups:
        for i in log.exec_ids(g):
            acc.update(log.accums[i])
    return {
        "fingerprint.cpu_s": t["cpu_ns"] / 1e9,
        "fingerprint.rows": t["in_records"],
        "fingerprint.input_mb": acc["size of files read"] / 2**20,
        "fingerprint.files": acc["number of files read"],
    }


def per_layer(
    path: Path,
    ops: list[dict],
    spans: list[dict],
    untraced: list[dict],
    setup: dict,
    source: str,
    dest: str,
) -> dict:
    """Every per-layer metric, as ``{name: (value, unit)}``: medians over
    the traced iterations, counts from the first op's report."""
    log = EventLog(path)
    span_s = defaultdict(dict)
    for s in spans:
        span_s[s["name"]][s["iteration"]] = s["s"]
    rows = []
    for i, op in enumerate(ops):
        r = op_layers(log, f"op#{i}", op["wall_s"], source, dest)
        r.update(fingerprint_layers(log, [f"fingerprint.src#{i}", f"fingerprint.dest#{i}"]))
        r["cli.overhead_s"] = op["wall_s"] - span_s["sync"].get(i, op["wall_s"])
        r["sync.gc_s"] = op["gc_s"]
        rows.append(r)
    verdicts = verdict_counts(ops[0]["report"])
    traced_wall = _median(o["wall_s"] for o in ops)

    units = {
        "sources.listing_s": "s", "sources.listing_paths": "count",
        "diff.classify_s": "s", "diff.shuffle_mb": "MB",
        "sync.jobs": "count", "sync.src_scans": "count", "sync.write_s": "s",
        "sync.write_mb": "MB", "sync.write_tasks": "count", "sync.driver_s": "s",
        "fingerprint.cpu_s": "s", "fingerprint.rows": "count",
        "fingerprint.input_mb": "MB", "fingerprint.files": "count",
        "cli.overhead_s": "s", "sync.gc_s": "s",
    }
    out = {k: (_median(r[k] for r in rows), u) for k, u in units.items()}
    out.update({
        "session.start_s": (setup["session_start_s"], "s"),
        "sources.load_ms": (1000 * _median(span_s["sources.load"].values()), "ms"),
        "fingerprint.src_s": (_median(span_s["fingerprint.src"].values()), "s"),
        "fingerprint.dest_s": (_median(span_s["fingerprint.dest"].values()), "s"),
        "diff.build_ms": (1000 * _median(span_s["diff.build"].values()), "ms"),
        "trace.overhead_s": (traced_wall - _median(o["wall_s"] for o in untraced), "s"),
    })
    for v in ("copy", "identical", "inconsistent", "extra"):
        out[f"diff.verdict_{v}"] = (verdicts.get(v, 0), "count")
    return out
