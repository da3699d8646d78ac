"""Round-9 fingerprint-integrity hardening regressions.

The staleness sentinel is only as good as the fingerprint's
determinism: round 9 caught ``ranks._LIVE_CACHES`` (a module-level
list of live persisted frames) entering fingerprints as ``[]`` in a
fresh process but dropping out once any ranks query had RUN — so the
same checkout produced two different fingerprints depending on process
history, and the sentinel fired on run-state instead of source drift.
These tests pin the fixes:

* fingerprints are invariant under runtime cache mutation;
* every module-level mutable container in the package is excluded from
  fingerprints by name (the ``*_CACHE`` / ``*_CACHES`` convention);
* bare-name collisions across package modules (same function name,
  different source — the closure walk keeps the nearest binding) stay
  a consciously-acknowledged set, so a new shadowing pair cannot
  appear silently.
"""

from __future__ import annotations

import ast
import glob
import inspect
import os
import re

import __spark_entry__ as entry
from clickhouse_table_copier_spark import registry_evidence
from clickhouse_table_copier_spark.operators import ranks

_PKG_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "clickhouse_table_copier_spark",
)


def test_fingerprint_invariant_under_cache_mutation():
    """Filling a runtime cache list must not flip any fingerprint —
    the exact round-9 failure: rfm_segments' fingerprint changed after
    the oracle suite had run the ranks queries."""
    qs, oracles = entry.queries(), entry.oracle_sql()
    name = "rfm_segments"
    before = registry_evidence.query_fingerprint(qs[name], oracles.get(name))
    sentinel = object()
    ranks._LIVE_CACHES.append(sentinel)
    try:
        after = registry_evidence.query_fingerprint(qs[name], oracles.get(name))
    finally:
        ranks._LIVE_CACHES.remove(sentinel)
    assert before == after


def test_every_module_level_mutable_is_excluded():
    """Any module-level name assigned an empty list/dict/set literal in
    the package must be name-excluded from fingerprints — otherwise its
    empty-state repr enters the hash and the first runtime fill flips
    it."""
    offenders = []
    for path in glob.glob(os.path.join(_PKG_DIR, "**", "*.py"), recursive=True):
        tree = ast.parse(open(path).read())
        deleted = {
            t.id
            for node in tree.body
            if isinstance(node, ast.Delete)
            for t in node.targets
            if isinstance(t, ast.Name)
        }  # module-init temps del'ed before import completes never
        # exist at fingerprint time
        for node in tree.body:
            targets = []
            if isinstance(node, ast.Assign):
                targets = [
                    t.id for t in node.targets if isinstance(t, ast.Name)
                ]
                value = node.value
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                if isinstance(node.target, ast.Name):
                    targets = [node.target.id]
                value = node.value
            else:
                continue
            empty = (
                (isinstance(value, (ast.List, ast.Dict)) and not getattr(
                    value, "elts", getattr(value, "keys", None)
                ))
                or (
                    isinstance(value, ast.Call)
                    and isinstance(value.func, ast.Name)
                    and value.func.id in ("list", "dict", "set")
                    and not value.args
                )
            )
            if not empty:
                continue
            # import-time-populated registries: filled once while the
            # module imports, immutable afterwards — a stable (and for
            # PREP_ORACLES, fingerprint-bearing) input, not run-state
            for t in targets:
                # import-time-populated prep registries (PREP_*,
                # PREP12_*, PREP13_*, PREP14_*, …): filled once while
                # the module imports, immutable afterwards — a stable
                # (and for the ORACLES side, fingerprint-bearing)
                # input, not run-state.  Pattern, not enumeration: the
                # r13 gate tripped on PREP14_* purely because the list
                # here lagged the prep-module convention.
                if t in deleted or re.fullmatch(
                    r"PREP\d*_(QUERIES|ORACLES)", t
                ):
                    continue
                if not registry_evidence._excluded_name(t):
                    offenders.append(f"{os.path.basename(path)}:{t}")
    assert not offenders, (
        f"module-level mutable containers not excluded from fingerprints "
        f"(rename to *_CACHE/*_CACHES or extend _excluded_name): {offenders}"
    )


def test_bare_name_collisions_are_acknowledged():
    """The closure walk resolves a bare name to the nearest binding; two
    package functions sharing a name with different sources means an
    edit to the losing binding is invisible to queries that resolve the
    winner.  The known pairs are pinned here — a new collision must be
    either renamed away or consciously added."""
    # _occ_sql: operators/text.py (r16) vs queries_pipeline.py — both
    # render the SAME length-arithmetic occurrence formula (INT vs
    # INTEGER are synonyms in Spark SQL), and every query function
    # resolves its OWN module's binding via fn.__globals__, so neither
    # module's queries can silently pick up the other's source.
    known = {"_bucket_sql", "main", "_occ_sql"}
    sources: dict[str, set[str]] = {}
    for path in glob.glob(os.path.join(_PKG_DIR, "**", "*.py"), recursive=True):
        tree = ast.parse(open(path).read())
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                sources.setdefault(node.name, set()).add(ast.dump(node))
    collisions = {
        n for n, srcs in sources.items() if len(srcs) > 1 and not n.startswith("q_")
    }
    new = collisions - known
    assert not new, (
        f"new bare-name collision(s) across package modules: {sorted(new)} "
        "— rename, or add here with a shadowing-risk justification"
    )


def test_candidate_order_is_deterministic():
    """Candidate iteration is sorted, so the nearest-binding resolution
    for a collision cannot depend on string-hash randomization (the
    process-dependent half of the round-9 flake class): the
    module-global candidates (the regex scan) must come out in sorted
    order — function-local from-import targets follow in source order,
    which is equally deterministic."""
    qs = entry.queries()
    fn = qs["rfm_segments"]
    names = list(registry_evidence._candidate_objects(fn))
    scan = [n for n in names if fn.__globals__.get(n) is not None]
    assert scan == sorted(scan)
