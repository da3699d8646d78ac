#!/usr/bin/env python
"""Fingerprint-budget watchdog for optimization rounds.

Usage:
    python scripts/fp_budget.py save      # snapshot current fingerprints
    python scripts/fp_budget.py diff      # list queries whose fingerprint
                                          # drifted from the saved snapshot

The driver re-verifies only the first 50 window slots; VERDICT r16 set
the per-round budget of CHANGED queries at <=35.  This tool makes the
fan-out of any helper edit visible BEFORE committing it: ``diff`` exits 1
when more than BUDGET queries changed, or when the queries that must sit
in the driver window (``registry_evidence.must_front``: changed since
their last green row, or never green) outnumber its slots — the gate
``tests/test_registry_order.py`` enforces.  It exits 2 when no snapshot
has been saved.
"""

from __future__ import annotations

import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

_SNAP = os.path.join(_REPO, "scripts", ".fp_budget_snapshot.json")
BUDGET = 35  # changed queries per round


def main() -> int:
    import __spark_entry__ as entry
    from clickhouse_table_copier_spark import registry_evidence as ev

    cmd = sys.argv[1] if len(sys.argv) > 1 else "diff"
    if cmd != "save" and not os.path.exists(_SNAP):
        print(f"no snapshot at {_SNAP}: run `save` first", file=sys.stderr)
        return 2
    qs, oracles = entry.queries(), entry.oracle_sql()
    cur = {n: ev.query_fingerprint(fn, oracles.get(n)) for n, fn in qs.items()}
    if cmd == "save":
        with open(_SNAP, "w") as f:
            json.dump(cur, f, indent=1)
        print(f"saved {len(cur)} fingerprints")
        return 0
    with open(_SNAP) as f:
        base = json.load(f)
    changed = sorted(n for n in cur if base.get(n) != cur[n])
    gone = sorted(n for n in base if n not in cur)
    print(f"CHANGED vs snapshot: {len(changed)}")
    for n in changed:
        print(f"  {n}")
    if gone:
        print(f"!! queries REMOVED: {gone}")
    if len(changed) > BUDGET:
        print(f"!! {len(changed)} changed queries exceed the budget of {BUDGET}")
    front = len(ev.must_front(qs, oracles))
    print(f"must_front: {front} of {ev.DRIVER_WINDOW} driver-window slots")
    if front > ev.DRIVER_WINDOW:
        print(f"!! {front} must-front queries exceed the {ev.DRIVER_WINDOW}-slot window")
    return 1 if len(changed) > BUDGET or front > ev.DRIVER_WINDOW else 0


if __name__ == "__main__":
    raise SystemExit(main())
