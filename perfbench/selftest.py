"""Fast self-test of the benchmark at sf0.001 (6,000 source rows).

    python3 perfbench/selftest.py

Runs every workload untraced and traced, in-process, with one set-up, no
warm-up and a one-second window, and checks that:

- the result line names every end-to-end metric of ``BENCHMARK.json``
  (``--trace 0``) or every per-layer metric (``--trace 1``), with its unit;
- the traced counts match the planted drift;
- a planted wrong destination (the data files of two partitions swapped
  after the sync) is counted as a failed op.

Exits non-zero on the first problem.
"""

from __future__ import annotations

import contextlib
import dataclasses
import io
import json
import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import harness  # noqa: E402
import run  # noqa: E402

ROWS = 6_000


def invoke(workload: str, trace: int) -> dict:
    """One in-process run; returns its result line."""
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = run.main(["--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace)])
    if rc != 0:
        raise SystemExit(f"{workload} trace={trace}: exit code {rc}")
    return json.loads(out.getvalue().splitlines()[-1])


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"self-test failed: {what}")
    print(f"ok  {what}", file=sys.stderr)


def swap_two_partitions(bench: harness.SyncBench) -> None:
    """Exchange the files of the first two partition directories: both
    stay readable, and both hold the other's rows."""
    a, b = sorted(p for p in bench.dest.iterdir() if p.is_dir())[:2]
    tmp = bench.dest.parent / "swap"
    os.rename(a, tmp)
    os.rename(b, a)
    os.rename(tmp, b)


def main() -> int:
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    run.SETUPS, run.WARMUP_OPS, run.MIN_OPS = 1, 0, 2
    for name, w in list(harness.WORKLOADS.items()):
        harness.WORKLOADS[name] = dataclasses.replace(w, rows=ROWS)
    expect([w["name"] for w in spec["workloads"]] == list(harness.WORKLOADS),
           "BENCHMARK.json names the benchmark's workloads")

    for workload in harness.WORKLOADS:
        res = invoke(workload, 0)
        expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 2,
               f"{workload}: every op passes its check")
        expect(sorted(res["metrics"]) == sorted(m["name"] for m in spec["end_to_end"])
               and all(res["metrics"][m["name"]]["unit"] == m["unit"] for m in spec["end_to_end"]),
               f"{workload}: every end-to-end metric is printed with its unit")
        expect(all(v["value"] > 0 for v in res["metrics"].values()),
               f"{workload}: no end-to-end metric is 0")

        res = invoke(workload, 1)
        m = res["metrics"]
        expect(sorted(m) == sorted(x["name"] for x in spec["per_layer"])
               and all(m[x["name"]]["unit"] == x["unit"] for x in spec["per_layer"]),
               f"{workload}: every per-layer metric is printed with its unit")
        drift = harness.WORKLOADS[workload].drift
        if drift:
            mutated, missing, extra = drift
            expect((m["diff.verdict_inconsistent"]["value"], m["diff.verdict_copy"]["value"],
                    m["diff.verdict_extra"]["value"]) == (mutated, missing, extra),
                   f"{workload}: traced verdict counts equal the planted drift")
            expect(m["sync.src_scans"]["value"] == 2 and m["fingerprint.rows"]["value"] > 2 * ROWS - 1000,
                   f"{workload}: source scanned twice, both sides fingerprinted")
        else:
            expect(m["diff.verdict_copy"]["value"] == 83 and m["sync.src_scans"]["value"] == 3,
                   f"{workload}: 83 partitions copied, source scanned three times")

    real_op = harness.SyncBench.op

    def corrupting_op(self):
        result = real_op(self)
        swap_two_partitions(self)
        return result

    harness.SyncBench.op = corrupting_op
    try:
        res = invoke("resync_monthly", 0)
    finally:
        harness.SyncBench.op = real_op
    expect(not res["correct"] and res["failed"] == res["attempted"]
           and res["metrics"]["passed_frac"]["value"] == 0,
           "a planted wrong destination is counted as a failed op")
    print("self-test passed", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
