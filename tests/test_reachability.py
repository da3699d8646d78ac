"""Every package definition is reached from an entry point.

Reads source only (AST and text, no Spark). The roots are:

1. functions registered with ``@register``/``@_prepNN`` in the modules
   ``__spark_entry__.py`` imports;
2. the module-level statements of every package module: its constants,
   imports and ``__main__`` block, but not its docstring;
3. every identifier in ``__spark_entry__.py``, ``bench.py``,
   ``perfbench/*.py``, ``examples/*.py`` and ``scripts/*.py``;
4. all of ``cli.py``;
5. the ``KEEP`` names below, each with its reason.

A top-level function or class counts as reached when its name appears as
a token anywhere in the text of a root or of a reached definition.
Comments and docstrings count: ``registry_evidence`` hashes a query's
helper closure the same way, by bare-name tokens of the source text, so
deleting a definition this test reports cannot change a fingerprint.
"""

from __future__ import annotations

import ast
import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "clickhouse_table_copier_spark"
TOKEN = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
REGISTERING = re.compile(r"register|_prep\d*")

KEEP = {
    "incremental_sync": "ROADMAP item 2: kept until the fingerprint sidecar covers it",
    "write_fingerprint_manifest": "ROADMAP item 2: the fingerprint sidecar's writer",
    "diff_manifests": "ROADMAP item 2: the fingerprint sidecar's reader",
    "TimezoneMismatchError": "COVERAGE.md reference-parity row C3 (timezone guard)",
    "assert_timezone": "COVERAGE.md reference-parity row C3 (timezone guard)",
    "warn_if_dest_larger": "COVERAGE.md reference-parity row C4 (row warnings)",
    "describe_table": "COVERAGE.md reference-parity row S2 (describe)",
    "clickhouse_type_to_spark": "COVERAGE.md reference-parity row P2 (the §1.3 type matrix)",
    "synthesize_media_table": "builds the inputs of the image-operator tests",
    "synthesize_audio_table": "builds the inputs of the audio-operator tests",
    "simhash_near_pairs": "COVERAGE.md row 'SimHash'",
    "brute_force_topk": "COVERAGE.md row 'ANN brute force'",
    "zone_map": "COVERAGE.md row 'Z-order + zone maps'",
    "prune_files": "COVERAGE.md row 'Z-order + zone maps'",
    "decode_audio_meta": "COVERAGE.md row 'Multimodal binary columns' (audio header metadata)",
    "audio_features": "COVERAGE.md row 'Multimodal binary columns' (WAV windowed DSP)",
    "extract_features": "COVERAGE.md row 'Multimodal binary columns' (pixel decode)",
}

EXTRA_ROOTS = ("__spark_entry__.py", "bench.py", "perfbench/*.py",
               "examples/*.py", "scripts/*.py")


def _text(lines: list[str], node: ast.stmt) -> str:
    first = min([node.lineno] + [d.lineno for d in
                                 getattr(node, "decorator_list", [])])
    return "".join(lines[first - 1:node.end_lineno])


def _registered(node: ast.stmt) -> bool:
    for d in getattr(node, "decorator_list", []):
        f = d.func if isinstance(d, ast.Call) else d
        if isinstance(f, ast.Name) and REGISTERING.fullmatch(f.id):
            return True
    return False


def _entry_modules() -> set[str]:
    with open(os.path.join(REPO, "__spark_entry__.py")) as f:
        tree = ast.parse(f.read())
    mods = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            mods.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            mods.add(node.module)
            mods.update(f"{node.module}.{a.name}" for a in node.names)
    return mods


def _definitions_and_roots():
    """(name -> [(module, text)], [root text]) for the whole package."""
    entry = _entry_modules()
    defs: dict[str, list[tuple[str, str]]] = {}
    roots: list[str] = list(KEEP)
    for path in sorted(glob.glob(os.path.join(REPO, PKG, "**", "*.py"),
                                 recursive=True)):
        rel = os.path.relpath(path, REPO)
        module = rel[:-3].replace(os.sep, ".")
        with open(path) as f:
            src = f.read()
        if rel == os.path.join(PKG, "cli.py"):
            roots.append(src)
            continue
        lines = src.splitlines(keepends=True)
        body = ast.parse(src).body
        if body and isinstance(body[0], ast.Expr) and isinstance(
                getattr(body[0].value, "value", None), str):
            body = body[1:]  # the module docstring is not a root
        for node in body:
            text = _text(lines, node)
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                roots.append(text)
            elif module in entry and _registered(node):
                roots.append(text)
            else:
                defs.setdefault(node.name, []).append((module, text))
    for pattern in EXTRA_ROOTS:
        for path in sorted(glob.glob(os.path.join(REPO, pattern))):
            with open(path) as f:
                roots.append(f.read())
    return defs, roots


def unreached() -> dict[str, list[str]]:
    """module -> sorted names of the definitions no root reaches."""
    defs, roots = _definitions_and_roots()
    todo = set(TOKEN.findall("\n".join(roots)))
    reached: set[str] = set()
    while todo:
        name = todo.pop()
        if name in reached or name not in defs:
            continue
        reached.add(name)
        for _, text in defs[name]:
            todo.update(TOKEN.findall(text))
    out: dict[str, list[str]] = {}
    for name, sites in defs.items():
        if name not in reached:
            for module, _ in sites:
                out.setdefault(module, []).append(name)
    return {m: sorted(ns) for m, ns in sorted(out.items())}


def test_every_definition_is_reached():
    missing = unreached()
    listing = "\n".join(f"  {m}: {', '.join(ns)}" for m, ns in missing.items())
    assert not missing, (
        "package definitions no entry point reaches (delete them, or add "
        f"a KEEP entry with its reason):\n{listing}")


def test_keep_entries_name_definitions():
    defs, _ = _definitions_and_roots()
    assert not [n for n in KEEP if n not in defs]
