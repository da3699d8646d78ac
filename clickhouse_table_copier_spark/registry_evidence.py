"""Evidence-derived driver-window requirements.

The external driver value-checks only the FIRST 50 registered queries per
round (CORRECTNESS_r{N}.json).  Which queries MUST sit inside that window
is not a matter of judgment — it is derivable from committed evidence:

* a query with **no green row** in any committed ``CORRECTNESS_r*.json``
  has never been driver-verified and must be fronted;
* a query whose **implementation or oracle changed** since its last green
  row carries only a stale verification and must be fronted again.

"Changed" is detected by fingerprinting: sha256 over the query function's
source, its oracle SQL, and the source of the TRANSITIVE closure of
same-package helper functions reachable by bare name, plus simple
module-level constants at every level. Snapshot entries carry a `2:`
prefix (the scheme they were recorded under); an entry without it counts
as unverified.

``registry_fingerprints.json`` (committed, same directory) records the
fingerprint each query had **when its latest green driver row was
produced**.  Discipline: entries are refreshed only at round start, right
after a new CORRECTNESS file lands and before any code is edited — at that
moment current source == verified source for every query in the file.  Run

    python -m clickhouse_table_copier_spark.registry_evidence --update

to do that refresh (it only touches queries green in the latest round).
``tests/test_registry_order.py`` asserts ``must_front() ⊆ first 50``, so a
round can no longer silently repeat the r04 omission that left
``similarity_ivf_topk`` driver-unchecked for four rounds.
"""

from __future__ import annotations

import glob
import hashlib
import inspect
import json
import os
import re

_PKG = "clickhouse_table_copier_spark"
_HERE = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_HERE)
SNAPSHOT_PATH = os.path.join(_HERE, "registry_fingerprints.json")
FIRST_SEEN_PATH = os.path.join(_HERE, "registry_first_seen.json")


def _candidate_objects(fn) -> dict[str, object]:
    """Objects the fn body can reach by bare name: module globals plus
    targets of function-local ``from X import name`` statements (the
    registry's dominant import style for shared loaders like _events)."""
    import ast
    import importlib
    import textwrap

    src = textwrap.dedent(inspect.getsource(fn))
    cands: dict[str, object] = {}
    # sorted: set iteration order varies with string-hash randomization
    # across processes; candidate order decides which binding wins a
    # bare-name collision in the BFS closure, so it must be stable
    for name in sorted(set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", src))):
        obj = fn.__globals__.get(name)
        if obj is not None:
            cands[name] = obj
    try:
        tree = ast.parse(src)
    except SyntaxError:  # decorated source edge cases
        return cands
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module:
            try:
                mod = importlib.import_module(node.module)
            except ImportError:
                continue
            for alias in node.names:
                obj = getattr(mod, alias.name, None)
                if obj is not None:
                    cands[alias.asname or alias.name] = obj
    return cands


def _is_simple(obj, depth: int = 0) -> bool:
    """Recursively plain data only — a container holding functions or
    arbitrary objects reprs with memory addresses, which would make the
    fingerprint nondeterministic across processes."""
    if depth > 4:
        return False
    if isinstance(obj, (str, int, float, bool, bytes)) or obj is None:
        return True
    if isinstance(obj, (list, tuple, set, frozenset)):
        return all(_is_simple(x, depth + 1) for x in obj)
    if isinstance(obj, dict):
        return all(
            _is_simple(k, depth + 1) and _is_simple(v, depth + 1)
            for k, v in obj.items()
        )
    return False


def _const_repr(obj) -> str | None:
    """Deterministic repr for simple module-level constants; None for
    anything whose repr isn't stable or that isn't plain data."""
    if not _is_simple(obj):
        return None
    if isinstance(obj, (set, frozenset)):
        return repr(sorted(obj, key=repr))
    return repr(obj)  # insertion-ordered, deterministic per source


# Registry accumulators referenced by the ``register`` helper: they grow
# with every unrelated registration and must never enter a fingerprint.
# (The per-module PREP_QUERIES/PREP_ORACLES staging dicts are NOT here:
# they are populated once during module import and immutable afterwards,
# so PREP_ORACLES — a plain str→str dict — is a legitimate, stable
# fingerprint input; excluding it would silently re-fingerprint every
# prep-batch query.)
_EXCLUDED_GLOBALS = {"_QUERIES", "_ORACLES"}


def _excluded_name(name: str) -> bool:
    """Mutable runtime state must not enter fingerprints. Registries are
    excluded by name; process-lifetime caches by the ``*_CACHE``/
    ``*_CACHES`` naming convention (an empty cache is trivially 'simple
    data' and would flip the fingerprint the first time it fills —
    observed with the shared shingle index, and again in round 9 with
    ranks._LIVE_CACHES: a suite that had RUN the ranks queries computed
    a different rfm_segments fingerprint than a fresh process, so the
    staleness sentinel fired on process history instead of source
    drift).  tests/test_registry_evidence_hardening.py pins both the
    run-state invariance and the no-new-mutable-globals sweep."""
    return name in _EXCLUDED_GLOBALS or name.endswith(("_CACHE", "_CACHES"))


_DEEP_MAX_DEPTH = 6


def _helper_sources_v2(fn) -> dict[str, str]:
    """TRANSITIVE dependency closure (round-7 hardening): BFS over
    same-package functions reachable by bare name, source-hashed at
    EVERY level, plus const reprs at every level. Closes the one-level
    closure's soundness hole where an edit to a helper-of-a-helper (observed:
    queries_pipeline._cache_get, reached only via _shared_jaccard_pairs)
    changed executed behavior without flagging any query stale. Depth
    is capped defensively; name collisions keep the first (nearest)
    binding, matching lookup semantics."""
    out: dict[str, str] = {}
    frontier = [fn]
    seen_fns = {id(fn)}
    for _ in range(_DEEP_MAX_DEPTH):
        nxt: list = []
        for f in frontier:
            try:
                cands = _candidate_objects(f)
            except (OSError, TypeError):
                continue
            for name, obj in cands.items():
                if _excluded_name(name) or name in out:
                    continue
                if (
                    inspect.isfunction(obj)
                    and obj is not fn
                    and (obj.__module__ or "").startswith(_PKG)
                ):
                    try:
                        out[name] = inspect.getsource(obj)
                    except (OSError, TypeError):
                        continue
                    if id(obj) not in seen_fns:
                        seen_fns.add(id(obj))
                        nxt.append(obj)
                else:
                    r = _const_repr(obj)
                    if r is not None:
                        out[name] = r
        if not nxt:
            break
        frontier = nxt
    return out


def query_fingerprint(fn, oracle: str | None) -> str:
    helpers = _helper_sources_v2(fn)
    h = hashlib.sha256()
    h.update(inspect.getsource(fn).encode())
    h.update(b"\x00")
    h.update((oracle or "").encode())
    for name, src in sorted(helpers.items()):
        h.update(b"\x00" + name.encode() + b"\x00" + src.encode())
    return h.hexdigest()


def _snap_hex(entry: str) -> str | None:
    """The fingerprint a snapshot entry ``2:<hex>`` records; None for any
    other form, which counts as unverified."""
    return entry[2:] if entry.startswith("2:") else None


def _correctness_files() -> list[str]:
    return sorted(glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")))


def green_history() -> dict[str, int]:
    """query name -> latest round with a fully-green driver row."""
    out: dict[str, int] = {}
    for path in _correctness_files():
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        with open(path) as f:
            data = json.load(f)
        for name, row in data.items():
            if (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
                and not row.get("err")
            ):
                out[name] = max(out.get(name, 0), rnd)
    return out


def load_snapshot() -> dict[str, str]:
    if os.path.exists(SNAPSHOT_PATH):
        with open(SNAPSHOT_PATH) as f:
            return json.load(f)
    return {}


def load_first_seen() -> dict[str, int]:
    """Committed {query: round it was first registered} record — stamped
    by the round-start ``--update`` run, so a FRESH query's queue
    position is derivable evidence, not process memory.  Mid-round
    registrations have no stamp until the next round start and sort as
    newest (ties broken by name)."""
    if os.path.exists(FIRST_SEEN_PATH):
        with open(FIRST_SEEN_PATH) as f:
            return {k: int(v) for k, v in json.load(f).items()}
    return {}


def must_front(queries: dict, oracles: dict[str, str]) -> dict[str, str]:
    """Queries requiring a driver row this round -> human-readable reason."""
    snap = load_snapshot()
    green = green_history()
    need: dict[str, str] = {}
    for name, fn in queries.items():
        if name not in green:
            need[name] = "no green driver row in any committed CORRECTNESS file"
            continue
        stored = _snap_hex(snap.get(name, ""))
        if stored is None:
            need[name] = "no verified fingerprint on record"
            continue
        if stored != query_fingerprint(fn, oracles.get(name)):
            need[name] = (
                f"implementation/oracle changed since last green row (r{green[name]:02d})"
            )
    return need


DRIVER_WINDOW = 50


def _current_round() -> int:
    files = _correctness_files()
    if not files:
        return 1
    m = re.search(r"CORRECTNESS_r(\d+)\.json$", files[-1])
    return (int(m.group(1)) if m else 0) + 1


def driver_window(queries: dict, oracles: dict[str, str]) -> list[str]:
    """The full evidence-derived verification order (round-7 policy,
    priority-refined in round 8, COVERAGE.md).  Four classes:

    1. CHANGED (alphabetical): must_front entries that HAVE a green row
       — their verification went stale under them (fingerprint or
       deep-closure drift), the highest-risk class.
    2. DUE (oldest-green first): fingerprint-unchanged queries whose age
       has reached the policy bound ceil(N / DRIVER_WINDOW) — skipping
       them this round would break the staleness guarantee.
    3. FRESH (FIFO on committed first-seen round, name tiebreak):
       never-green queries awaiting their FIRST driver row.  They rank
       BELOW the age guarantee on purpose: a new query is already
       value-hash-verified locally every CI run, so first-row latency
       is cheaper than letting an old row silently exceed the bound.
       When a registration burst overflows the window the tail waits —
       but FIFO means later registrations can never push in front of an
       already-waiting query, so no name is starved indefinitely, and
       the wait never comes at the expense of classes 1-2.
    4. The rest, oldest-last-green first, name-tiebroken.

    The driver checks the first ``DRIVER_WINDOW`` entries, so with N
    registered queries a fingerprint-unchanged query re-earns a fresh
    driver row at least every ``ceil(N / DRIVER_WINDOW)`` rounds —
    bounded, derivable staleness with zero hand-maintenance (between
    driver rounds the full registry stays hash-verified locally by
    tests/test_oracle_queries).  Deterministic across processes:
    fingerprints are sha256 over source text and green history reads
    committed CORRECTNESS files."""
    need = must_front(queries, oracles)
    green = green_history()
    changed = sorted(n for n in need if green.get(n, 0))
    bound = -(-len(queries) // DRIVER_WINDOW)
    current = _current_round()
    # FRESH ordering is FIFO on the committed first-seen round (name
    # tiebreak): a query registered earlier is ALWAYS admitted before a
    # later registration, so a sustained burst of alphabetically-early
    # names cannot starve an older waiting query — the r04-omission
    # class stays impossible for new queries too
    first_seen = load_first_seen()
    fresh = [
        n
        for _, n in sorted(
            (first_seen.get(n, current), n)
            for n in need
            if not green.get(n, 0)
        )
    ]
    rest = [n for n in queries if n not in need]
    due = sorted(
        (green[n], n) for n in rest if current - green[n] >= bound
    )
    fill = sorted(
        (green[n], n) for n in rest if current - green[n] < bound
    )
    return changed + [n for _, n in due] + fresh + [n for _, n in fill]


def update_snapshot(queries: dict, oracles: dict[str, str]) -> list[str]:
    """Record current fingerprints for queries green in the LATEST round.

    Call only at round start, before editing code, so that 'current
    source' is exactly the source the driver just verified.
    """
    files = _correctness_files()
    if not files:
        return []
    with open(files[-1]) as f:
        latest = json.load(f)
    snap = load_snapshot()
    updated = []
    for name, row in latest.items():
        if name not in queries:
            continue
        if (
            row.get("rows_match")
            and row.get("schema_match")
            and row.get("hash_match")
            and not row.get("err")
        ):
            snap[name] = "2:" + query_fingerprint(queries[name], oracles.get(name))
            updated.append(name)
    with open(SNAPSHOT_PATH, "w") as f:
        json.dump(dict(sorted(snap.items())), f, indent=1)
        f.write("\n")
    # FIFO queue positions for never-green queries: stamp every
    # registered query missing a stamp with the CURRENT round, prune
    # unregistered names. Green queries keep their stamp (harmless —
    # only the FRESH class reads it).
    first_seen = load_first_seen()
    current = _current_round()
    first_seen = {k: v for k, v in first_seen.items() if k in queries}
    for name in queries:
        first_seen.setdefault(name, current)
    with open(FIRST_SEEN_PATH, "w") as f:
        json.dump(dict(sorted(first_seen.items())), f, indent=1)
        f.write("\n")
    return updated


def staleness_report(queries: dict) -> str:
    """Markdown rotation-staleness report (VERDICT r7 item 7): for every
    registered query, rounds since its last green driver row, grouped by
    that round.  'Age' counts from the round AFTER the latest committed
    CORRECTNESS file (the round currently being built), so a query green
    in the latest file has age 1.  The window policy promises a bound of
    ceil(N / DRIVER_WINDOW) rounds for fingerprint-unchanged queries."""
    current = _current_round()
    latest_round = current - 1
    green = green_history()
    by_round: dict[int, list[str]] = {}
    for name in queries:
        by_round.setdefault(green.get(name, 0), []).append(name)
    n = len(queries)
    bound = -(-n // DRIVER_WINDOW)
    lines = [
        f"Registry: {n} queries; window {DRIVER_WINDOW}; policy bound "
        f"ceil({n}/{DRIVER_WINDOW}) = {bound} rounds. Ages counted at "
        f"round r{current:02d} (latest committed file: r{latest_round:02d}).",
        "",
        "| last green | age (rounds) | n | queries |",
        "|---|---|---|---|",
    ]
    for rnd in sorted(by_round, reverse=True):
        names = sorted(by_round[rnd])
        label = f"r{rnd:02d}" if rnd else "never"
        age = str(current - rnd) if rnd else "n/a (fronted this round)"
        lines.append(
            f"| {label} | {age} | {len(names)} | {', '.join(names)} |"
        )
    oldest = min((r for r in by_round if r), default=current)
    lines += [
        "",
        f"Oldest green row: r{oldest:02d} (age {current - oldest}); "
        f"policy bound {bound}.",
    ]
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    import __spark_entry__ as entry

    qs, os_ = entry.queries(), entry.oracle_sql()
    if "--staleness" in argv:
        print(staleness_report(qs))
        return 0
    if "--update" in argv:
        updated = update_snapshot(qs, os_)
        print(f"snapshot refreshed for {len(updated)} queries green in latest round")
    need = must_front(qs, os_)
    names = list(qs)
    green = green_history()
    # round-8 policy: a FRESH (never-green) entry outside the window is
    # a DEFERred first verification, not a failure — only CHANGED (or
    # DUE, which driver_window places by construction) outside the
    # window breaks an actual guarantee
    for name, why in sorted(need.items()):
        pos = names.index(name)
        if pos < DRIVER_WINDOW:
            flag = "OK   "
        elif not green.get(name, 0):
            flag = "DEFER"
        else:
            flag = "MISS "
        print(f"{flag} #{pos:3d} {name}: {why}")
    bad = [
        n
        for n in need
        if names.index(n) >= DRIVER_WINDOW and green.get(n, 0)
    ]
    return 1 if bad else 0


if __name__ == "__main__":  # pragma: no cover
    import sys

    sys.path.insert(0, _REPO)
    raise SystemExit(main(sys.argv[1:]))
