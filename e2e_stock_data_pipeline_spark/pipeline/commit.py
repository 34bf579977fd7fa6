"""Table commits: the one stage-then-swap protocol every in-place table
writer uses (maintenance rewrites, the streaming rollup, silver MERGE) —
the parquet stand-in for Delta's atomic log commit.

A writer cannot overwrite the path it reads, so it writes the new table
into a sibling temp dir and ``staged`` swaps it in:

1. rename the live table aside to ``path._old``;
2. promote the temp dir to ``path``;
3. delete the aside copy.

A process crash before step 1 leaves the old table live; after step 2,
the new one. Between 1 and 2 the table exists only at ``path._old``;
every writer calls ``recover(path)`` on entry, which puts it back before
the writer decides anything from ``path`` (e.g. silver's first-load
test). No window exists in which the last committed table is gone.

This module is the only one under ``pipeline/`` and ``streaming/`` that
renames or deletes table directories (tests/test_pipeline.py guards it).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Iterator
from contextlib import contextmanager

from ..sources.tables import invalidate_cache

TMP = "._tmp"
ASIDE = "._old"


def _remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.exists(path):
        os.remove(path)


def recover(path: str) -> bool:
    """Restore ``path._old`` when ``path`` is missing (a crash between
    the rename-aside and the promote). Returns True if it did."""
    aside = path.rstrip("/") + ASIDE
    if not os.path.exists(path) and os.path.exists(aside):
        os.replace(aside, path)
        return True
    return False


@contextmanager
def staged(path: str) -> Iterator[str]:
    """Yield an empty sibling temp dir to write the new table into; on a
    clean exit, swap it in for ``path`` (file or dir) and drop the
    ``sources.tables`` memos keyed on ``path``, whose file index would
    be stale. If the block raises, nothing is promoted. Call
    ``recover(path)`` before reading the table this replaces."""
    tmp = path.rstrip("/") + TMP
    aside = path.rstrip("/") + ASIDE
    _remove(tmp)  # a crashed write's leftovers
    yield tmp
    _remove(aside)
    if os.path.exists(path):
        os.replace(path, aside)
    os.replace(tmp, path)
    _remove(aside)
    invalidate_cache(path)


def write_atomic(path: str, text: str) -> None:
    """Replace the small file at ``path`` with ``text`` in one rename: a
    reader sees the old content or the new, never a truncated file."""
    tmp = path + TMP
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)
