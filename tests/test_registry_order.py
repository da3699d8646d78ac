"""The driver's correctness gate checks only the FIRST 50 registered
queries. Which queries MUST be inside that window is derived from
committed evidence, not a hand-maintained list (VERDICT r4 #2):

* ``CORRECTNESS_r*.json`` — a query with no green row anywhere has never
  been driver-verified;
* ``registry_fingerprints.json`` — a query whose current source/oracle
  fingerprint differs from the one recorded at its last green row carries
  only a stale verification.

Both classes must sit inside the first 50, so a window rotation can no
longer silently repeat r04's omission (similarity_ivf_topk left
unchecked for four rounds)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry
from clickhouse_table_copier_spark import registry_evidence

DRIVER_WINDOW = registry_evidence.DRIVER_WINDOW


def test_evidence_required_queries_front_the_window():
    """Round-8 refinement: CHANGED entries (stale verification) and
    age-DUE rotation entries must always sit inside the window; FRESH
    (never-green) entries must fill every remaining slot — a fresh entry
    may overflow past the window ONLY when the window is completely
    packed with higher-priority work, in which case it waits exactly one
    round (it stays locally hash-verified meanwhile)."""
    qs, oracles = entry.queries(), entry.oracle_sql()
    names = list(qs)
    need = registry_evidence.must_front(qs, oracles)
    assert need, (
        "must_front() should never be empty while any query lacks a green "
        "row or carries an un-snapshotted change — if truly all-verified, "
        "relax this assertion"
    )
    green = registry_evidence.green_history()
    changed_outside = {
        n: why
        for n, why in need.items()
        if green.get(n, 0) and names.index(n) >= DRIVER_WINDOW
    }
    assert not changed_outside, (
        f"stale-verification queries outside the first "
        f"{DRIVER_WINDOW}: {changed_outside}"
    )
    bound = -(-len(qs) // DRIVER_WINDOW)
    current = registry_evidence._current_round()
    due_outside = {
        n
        for n in qs
        if n not in need
        and green.get(n, 0)
        and current - green[n] >= bound
        and names.index(n) >= DRIVER_WINDOW
    }
    if due_outside:
        # permitted only when CHANGED + DUE obligations genuinely exceed
        # the window (round-9 precedent: 10 stale-verification entries +
        # a 41-query age cohort = 51 obligations for 50 slots).  CHANGED
        # outranks DUE — a stale verification is actively wrong, an aged
        # one merely old — so the overflow must be the DUE tail, every
        # window slot must hold CHANGED or DUE work, and the overflow
        # waits exactly one round (it stays locally hash-verified
        # meanwhile).
        window = set(names[:DRIVER_WINDOW])
        assert all(
            (n in need and green.get(n, 0))
            or (green.get(n, 0) and current - green[n] >= bound)
            for n in window
        ), (
            f"age-bound-due queries outside the first {DRIVER_WINDOW} "
            f"({due_outside}) while a lower-priority slot existed — the "
            "staleness promise broke without cause"
        )
        # and the overflow must be the DUE *tail*: no query left outside
        # may be MORE overdue than a DUE query that made the window —
        # otherwise the oldest entries starve while younger ones verify
        due_inside = {
            n
            for n in window
            if n not in need
            and green.get(n, 0)
            and current - green[n] >= bound
        }
        if due_inside:
            oldest_out = max(current - green[n] for n in due_outside)
            youngest_in = min(current - green[n] for n in due_inside)
            assert oldest_out <= youngest_in, (
                f"a DUE query aged {oldest_out} rounds sits outside the "
                f"window while one aged {youngest_in} made it in — the "
                "overflow is not the DUE tail"
            )
    fresh_outside = {
        n for n in need if not green.get(n, 0) and names.index(n) >= DRIVER_WINDOW
    }
    if fresh_outside:
        # permitted only under a genuinely full window
        window = set(names[:DRIVER_WINDOW])
        assert all(
            (n in need) or (green.get(n, 0) and current - green[n] >= bound)
            for n in window
        ), "a fresh query overflowed while a plain rotation slot existed"


def test_fresh_queue_is_fifo_not_alphabetical(monkeypatch):
    """Starvation-proofing: a never-green query with an OLDER committed
    first-seen round must front before alphabetically-earlier but
    newer registrations — later bursts cannot push in front of an
    already-waiting query."""
    qs, oracles = entry.queries(), entry.oracle_sql()
    green = registry_evidence.green_history()
    fresh = sorted(n for n in qs if not green.get(n, 0))
    if len(fresh) < 2:
        import pytest

        pytest.skip("needs at least two never-green queries")
    # pretend the alphabetically-LAST fresh query has been waiting since
    # round 1 — it must now lead the FRESH class
    stamped = dict(registry_evidence.load_first_seen())
    stamped[fresh[-1]] = 1
    monkeypatch.setattr(
        registry_evidence, "load_first_seen", lambda: stamped
    )
    order = registry_evidence.driver_window(qs, oracles)
    fresh_served = [n for n in order if n in set(fresh)]
    assert fresh_served[0] == fresh[-1]


def test_served_order_matches_derived_spec():
    """Since round 7 the window is computed, not hand-maintained: the
    order ``queries()`` actually serves must be exactly the
    evidence-derived spec — changed, age-due, fresh, then the
    oldest-last-green fill (round-8 priority refinement). Catches any
    drift between the registry's caching layer and the spec function."""
    qs, oracles = entry.queries(), entry.oracle_sql()
    assert list(qs) == registry_evidence.driver_window(qs, oracles)


def test_rotation_staleness_is_bounded():
    """The policy's bound: with the oldest-last-green fill, every
    registered query either needs a row this round (fronted) or sits at
    a position that guarantees a fresh driver row within
    ceil(N/DRIVER_WINDOW) rounds of its last green row. Concretely:
    the fill is non-decreasing in last-green round, so the stalest
    queries are always verified first."""
    qs, oracles = entry.queries(), entry.oracle_sql()
    need = registry_evidence.must_front(qs, oracles)
    green = registry_evidence.green_history()
    fill_rounds = [green.get(n, 0) for n in qs if n not in need]
    assert fill_rounds == sorted(fill_rounds)


def test_snapshot_entries_match_registry():
    """Every snapshot entry names a registered query (no orphans), and no
    snapshotted fingerprint claims verification for a query without a
    green row."""
    snap = registry_evidence.load_snapshot()
    qs = entry.queries()
    green = registry_evidence.green_history()
    orphans = set(snap) - set(qs)
    assert not orphans, f"snapshot entries for unregistered queries: {orphans}"
    unverified = {n for n in snap if n not in green}
    assert not unverified, f"snapshotted but never green: {unverified}"


def test_deep_fingerprint_reaches_second_level_helpers():
    """The fingerprint closure must include helpers-of-helpers: the
    observed one-level hole was queries_pipeline._cache_get — reached
    only via _shared_jaccard_pairs — whose edit changed executed physical
    behavior without flagging any consumer stale."""
    qs = entry.queries()
    deep = registry_evidence._helper_sources_v2(qs["similarity_triangle_count"])
    assert "_cache_get" in deep


def test_snapshot_version_parsing():
    assert registry_evidence._snap_hex("2:def456") == "def456"
    # any other form records no verified fingerprint
    assert registry_evidence._snap_hex("abc123") is None
    assert registry_evidence._snap_hex("abc123;2t:fed987") is None
    assert registry_evidence._snap_hex("") is None


def test_unprefixed_snapshot_entry_fronts(monkeypatch):
    """An entry recorded without the `2:` prefix counts as unverified,
    even when its hex equals the current fingerprint."""
    qs, oracles = entry.queries(), entry.oracle_sql()
    already = registry_evidence.must_front(qs, oracles)
    name = next(n for n in qs if n not in already)
    snap = dict(registry_evidence.load_snapshot())
    snap[name] = registry_evidence.query_fingerprint(qs[name], oracles.get(name))
    monkeypatch.setattr(registry_evidence, "load_snapshot", lambda: snap)
    assert registry_evidence.must_front(qs, oracles)[name] == "no verified fingerprint on record"


def test_all_snapshot_entries_are_v2():
    """Every committed snapshot entry records a `2:` fingerprint."""
    snap = registry_evidence.load_snapshot()
    bare = [n for n, e in snap.items() if registry_evidence._snap_hex(e) is None]
    assert bare == [], f"entries without a `2:` fingerprint: {bare}"


def test_oracles_follow_the_same_order():
    qnames = list(entry.queries())
    onames = list(entry.oracle_sql())
    # oracle dict order must be the queries order restricted to oracled names
    assert onames == [n for n in qnames if n in set(onames)]


# Queries allowed to register without a DuckDB oracle: NONE since round
# 9. The former members (pca_variance_explained,
# embedding_whitening_check — eigendecompositions no SQL dialect
# expresses) now carry pinned literal-VALUES oracles independently
# re-derived from the fixture by scripts/derive_eigen_oracle_pins.py
# (pyarrow + numpy, no Spark), so every registered query gets the full
# rows+schema+hash driver check. Anything added here without a genuine
# non-expressibility argument is a test failure waiting to be written.
_ROWS_ONLY_BY_DESIGN: set[str] = set()


def test_registry_complete():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert len(qs) >= 105
    # since round 4 every registered query is oracled, except the pinned
    # eigen-based rows-only set above
    assert set(qs) - set(oracles) == _ROWS_ONLY_BY_DESIGN


def test_staleness_report_covers_every_query():
    """The --staleness report (VERDICT r7 item 7) must mention every
    registered query exactly once, state the correct policy bound, and
    never report an age beyond that bound for a query with a green row
    (the oldest-first fill makes the bound self-enforcing)."""
    qs = entry.queries()
    report = registry_evidence.staleness_report(qs)
    for name in qs:
        assert report.count(f" {name},") + report.count(f" {name} |") + report.count(
            f"| {name},"
        ) >= 1 or f"{name}" in report
    n = len(qs)
    bound = -(-n // registry_evidence.DRIVER_WINDOW)
    assert f"= {bound} rounds" in report
    # per-query uniqueness: total names across table rows == registry size
    import re as _re

    rows = [l for l in report.splitlines() if l.startswith("| r") or l.startswith("| never")]
    listed = [
        nm.strip()
        for row in rows
        for nm in row.rsplit("|", 2)[-2].split(",")
        if nm.strip()
    ]
    assert sorted(listed) == sorted(qs)
    # Ages of green queries never exceed the bound — EXCEPT the documented
    # one-round due-overflow (same escape test_evidence_required_queries_
    # front_the_window encodes): when a round's CHANGED + DUE obligations
    # exceed the window (round-9 precedent: 10 + 41 = 51 for 50 slots),
    # the DUE tail waits exactly one round.  The allowance is narrow:
    #   * age == bound + 1, never more (a two-round slip is a real breach);
    #   * the breached query sits inside the CURRENT window's first
    #     DRIVER_WINDOW positions (oldest-first fill fronts the overflow,
    #     so the breach self-heals with this round's driver run).
    names = list(qs)
    window = set(names[: registry_evidence.DRIVER_WINDOW])
    for row in rows:
        cells = [c.strip() for c in row.split("|")[1:-1]]
        if cells[0] == "never":
            continue
        age = int(cells[1])
        if age <= bound:
            continue
        overflow_names = [nm.strip() for nm in row.rsplit("|", 2)[-2].split(",") if nm.strip()]
        assert age == bound + 1, (
            f"queries {overflow_names} aged {age} > bound+1 ({bound + 1}): "
            "the due-overflow allowance is one round only"
        )
        not_fronted = [nm for nm in overflow_names if nm not in window]
        assert not not_fronted, (
            f"overflowed DUE queries {not_fronted} aged {age} are not in "
            f"the current window's first {registry_evidence.DRIVER_WINDOW} "
            "— the breach would not self-heal this round"
        )
