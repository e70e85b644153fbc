"""Seeded benchmark inputs, cached under ``.perfbench_cache/`` in the checkout.

Every input is a pure function of (kind, size, seed) and of the source
files that produce it; the cache key hashes all of those, so an edit to
the generator invalidates the entry instead of benchmarking stale bytes.
Each entry is built in a private staging directory and renamed into
place, so an interrupted build never leaves a half-written input behind.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from collections.abc import Callable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")
PKG = "dataquality_box_spark"


def source_hash(*rel_paths: str) -> str:
    """Short content hash of repository files (paths relative to the root)."""
    h = hashlib.sha256()
    for rel in rel_paths:
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def tree_hash(*rel_dirs: str) -> str:
    """Short content hash of every .py file under the given directories."""
    files = []
    for top in rel_dirs:
        for d, _dirs, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names if n.endswith(".py")]
    return source_hash(*sorted(files))


def cached(name: str, build: Callable[[str], None]) -> str:
    """Return CACHE_DIR/name, building it first if absent. ``build`` writes
    into an empty staging directory that is renamed to the final name only
    after it returns."""
    final = os.path.join(CACHE_DIR, name)
    if os.path.isdir(final):
        return final
    os.makedirs(CACHE_DIR, exist_ok=True)
    staging = os.path.join(CACHE_DIR, f".staging-{name}-{os.getpid()}")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    try:
        build(staging)
        try:
            os.rename(staging, final)
        except OSError:
            if not os.path.isdir(final):  # lost a race only if final exists
                raise
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return final


def corpus_key(n_conversations: int, seed: int) -> str:
    return f"transcripts-n{n_conversations}-s{seed}-{source_hash(f'{PKG}/synth.py')}"


def corpus(n_conversations: int, seed: int) -> str:
    """A ``synth.gen_transcripts(n, seed)`` corpus as a parquet directory."""

    def build(staging: str) -> None:
        from dataquality_box_spark.synth import write_transcripts_parquet

        write_transcripts_parquet(os.path.join(staging, "data"), n_conversations, seed)

    return os.path.join(cached(corpus_key(n_conversations, seed), build), "data")


def driver_tables(scale: float, seed: int) -> str:
    """The ten driver tables (see tables.py) as ``<name>.parquet`` files."""
    from . import tables

    key = f"tables-sf{scale:g}-s{seed}-{source_hash('perfbench/tables.py')}"
    return cached(key, lambda staging: tables.write_tables(staging, scale, seed))
