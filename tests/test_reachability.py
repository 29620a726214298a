"""Every top-level def in ``mehari_spark/`` is reached from an entry point.

A name-level scan: parse every top-level ``def``/``class`` of the package,
start from the names the entry points use (the driver contract, the
spark-submit jobs, perfbench and the root ``bench*.py`` instruments) plus
the package's own module-level code (``@register`` decorators, constants,
``QUERIES`` entries), and follow every name a reached def mentions until
nothing new is reached. A package import names a def without running it,
so it is not followed by itself; a name imported under an alias
(``from m import a as b``) counts as a use of ``a`` once ``b`` is used.
Names are matched without their module, so a shared name keeps every def
that bears it: the scan can miss dead code, never call live code dead.

Whatever stays unreached must be a listed reference: code that tests use
as a golden oracle or fixture and no production path runs. A new dead def
fails the test, and so does a listed reference that production now
reaches or that no longer exists.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "mehari_spark")

ENTRY_POINTS = (
    ["__spark_entry__.py"]
    + sorted(glob.glob("jobs/*.py", root_dir=ROOT))
    + sorted(glob.glob("perfbench/*.py", root_dir=ROOT))
    + sorted(glob.glob("bench*.py", root_dir=ROOT))
)

# "module:def" (module relative to mehari_spark/, "*" for every def of the
# module) -> why the def stays although no entry point runs it.
REFERENCES = {
    "datagen.py:*": "golden triples, fixture patterns and synthetic inputs for tests",
    "kernels/unionfind.py:*": "per-edge union-find, the reference for kernels/components.py",
    "kernels/minhash.py:band_keys": "scalar band-key fold, the reference for band_keys_matrix",
    "operators/compound.py:compound_triples_sql": "SQL twin of compound_triples",
    "operators/dedup.py:ngram_jaccard_pairs": "exact n-gram Jaccard, the reference for the LSH pairs",
    "kernels/fingerprint.py:rolling_hashes_u64": "pure-Python k-gram hashes, the reference for gram_hashes_np",
    "kernels/fingerprint.py:winnow_with_pos": "pure-Python winnowing, the reference for winnow_with_pos_np",
    "kernels/fingerprint.py:fingerprint_postings": "pure-Python postings, the reference for posting_arrays",
    "kernels/bpe.py:train_bpe": "BPE asset builder behind datagen.build_bpe_assets",
    "kernels/bpe.py:_pair_counts": "BPE asset builder behind datagen.build_bpe_assets",
    "kernels/bpe.py:token_count": "BPE asset builder behind datagen.build_bpe_assets",
    "streaming/spandedup_stream.py:read_corpus_texts": "reads a stream's corpus output back for tests",
}


def _names(node: ast.AST) -> set[str]:
    """Every identifier a subtree mentions as a name or an attribute."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _scan():
    """(all top-level defs of the package, names the roots mention, the
    package's import aliases as {alias: original})."""
    defs: dict[tuple[str, str], ast.AST] = {}
    roots: set[str] = set()
    aliases: dict[str, str] = {}
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, PKG)
        tree = _parse(path)
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom):
                aliases.update((a.asname, a.name) for a in n.names if a.asname)
        for stmt in tree.body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[(rel, stmt.name)] = stmt
                for dec in stmt.decorator_list:
                    roots |= _names(dec)
                    # a decorator that registers its function makes it a root
                    if "register" in _names(dec):
                        roots.add(stmt.name)
            else:
                roots |= _names(stmt)
    for rel in ENTRY_POINTS:
        tree = _parse(os.path.join(ROOT, rel))
        roots |= _names(tree)
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom):
                roots |= {a.name for a in n.names}
    return defs, roots, aliases


def unreachable() -> set[tuple[str, str]]:
    defs, seen, aliases = _scan()
    seen |= {aliases[n] for n in seen if n in aliases}
    frontier = set(seen)
    while frontier:
        found = set()
        for (_, name), node in defs.items():
            if name in frontier:
                found |= _names(node)
        found |= {aliases[n] for n in found if n in aliases}
        frontier = found - seen
        seen |= found
    return {key for key in defs if key[1] not in seen}


def test_every_def_reached_or_listed_as_reference():
    dead = {f"{rel}:{name}" for rel, name in unreachable()}
    whole = {key[: -len(":*")] for key in REFERENCES if key.endswith(":*")}
    new_dead = sorted(
        key for key in dead if key not in REFERENCES and key.split(":")[0] not in whole
    )
    stale = sorted(
        key
        for key in REFERENCES
        if (key.split(":")[0] in whole and not any(d.startswith(key[:-1]) for d in dead))
        or (key.split(":")[0] not in whole and key not in dead)
    )
    assert new_dead == [], (
        "no entry point reaches these; delete them, or list them in REFERENCES "
        "if a test uses them as a reference: " + ", ".join(new_dead)
    )
    assert stale == [], "REFERENCES entries that are reached or gone: " + ", ".join(stale)
