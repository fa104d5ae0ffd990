"""The engine's one artifact store: layouts, indexes and fitted models
built once per source content and found again by the same key.

- **Root:** ``ROOT`` is ``<tempdir>/etlbs-u<uid>``, resolved once at
  import. The uid keeps a second OS user on the same host off this
  user's files, and oracle SQL rendered at import (``<kind>-current``
  paths) can never disagree with where the engine writes.
- **Key:** ``fingerprint(sf_dir, tables)`` folds every part file's
  relative path, size and mtime (walked recursively: sf1 tables are
  Spark part directories). ``path(kind, version, fp)`` maps a kind, a
  format version (bump it on a layout change) and a fingerprint to one
  directory, so a corpus rewritten in place gets a fresh directory.
- **Publish:** ``build`` writes into a private ``.build-<pid>``
  directory and ``os.rename``s it into place. An existing directory is
  therefore always complete: a crashed build leaves only its private
  copy, which is removed. When two builders race, the loser discards its
  copy (content is deterministic, so either copy is correct). Every
  build-once record goes through ``build``: layouts, indexes, fitted
  models and the decision records the DuckDB oracles replay through a
  ``<kind>-current`` link (``ann.index.point_current``). Nothing writes
  into a published directory.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import tempfile
from collections.abc import Callable

ROOT = os.path.join(tempfile.gettempdir(), f"etlbs-u{os.getuid()}")


def fingerprint(sf_dir: str, tables) -> str:
    """Content fingerprint of ``<sf_dir>/<table>.parquet`` for each
    table: part-file names, sizes and mtimes (no data read). Any rewrite
    of a source table changes it."""
    from .catalog import parquet_part_files

    parts = []
    for t in tables:
        for f in parquet_part_files(os.path.join(sf_dir, f"{t}.parquet")):
            rel = os.path.relpath(f, sf_dir)
            try:
                st = os.stat(f)
                parts.append(f"{t}:{rel}:{st.st_size}:{st.st_mtime_ns}")
            except FileNotFoundError:
                parts.append(f"{t}:{rel}:missing")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:10]


def path(kind: str, version: str, fp: str) -> str:
    """The artifact directory for (kind, version, fingerprint):
    ``ROOT/<kind>-<10 hex>``."""
    tag = hashlib.md5(f"{version}:{fp}".encode()).hexdigest()[:10]
    return os.path.join(ROOT, f"{kind}-{tag}")


def is_entry(kind: str, name: str) -> bool:
    """Whether directory name ``name`` is one of ``kind``'s entries —
    never another kind's, even one whose name extends ``kind``."""
    return re.fullmatch(re.escape(kind) + r"-[0-9a-f]{10}", name) is not None


def build(kind: str, version: str, fp: str,
          build_fn: Callable[[str], None]) -> tuple[str, bool]:
    """Return ``(dir, built)`` for the artifact, running
    ``build_fn(private_dir)`` first if it is not published yet.
    ``build_fn`` must create ``private_dir`` (a Spark write does). A
    ``build_fn`` that raises has its private directory removed before
    the exception propagates."""
    out = path(kind, version, fp)
    if os.path.isdir(out):
        return out, False
    os.makedirs(ROOT, exist_ok=True)
    tmp = f"{out}.build-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        build_fn(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, out)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)  # lost the build race
    return out, True
