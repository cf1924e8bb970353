"""Crash-safe directory swap: replace some entries of a directory with
one freshly written entry so that a kill at any point loses nothing.

Every in-place rewrite of a path-based table goes through ``swap``
(state compaction, HLL compaction, forget's scrub).  Protocol, all
inside ``root``:

1. the replacement is written to ``root/STAGING/<name>`` — dot-prefixed,
   so Spark's partition discovery of ``root`` never sees it, and on the
   same filesystem, so the final rename is atomic;
2. ``root/STAGING/MANIFEST`` lists the entries of ``root`` the swap
   removes.  It is written to ``MANIFEST.part`` and renamed, and its
   presence is the commit point;
3. the listed entries are deleted, the replacement is renamed to
   ``root/<name>`` and the staging dir is dropped.

``recover`` finishes a swap if and only if its ``MANIFEST`` exists
(redoing step 3, which is idempotent: a staging dir holding no entry
besides the manifest was already promoted); otherwise it discards the
staging dir, and every entry of ``root`` is still intact.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Iterable

STAGING = ".commit_staging"
MANIFEST = "MANIFEST"


def _delete(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.lexists(path):
        os.remove(path)


def recover(root: str) -> None:
    """Finish or discard an interrupted swap in ``root``."""
    staging = os.path.join(root, STAGING)
    if not os.path.isdir(staging):
        return
    manifest = os.path.join(staging, MANIFEST)
    if os.path.isfile(manifest):
        with open(manifest) as f:
            removed = [line.strip() for line in f if line.strip()]
        staged = [n for n in os.listdir(staging) if not n.startswith(MANIFEST)]
        if staged:  # not promoted yet
            for name in sorted(set(removed) | set(staged)):
                _delete(os.path.join(root, name))
            for name in staged:
                os.replace(os.path.join(staging, name), os.path.join(root, name))
    shutil.rmtree(staging)


def swap(
    root: str, name: str, removed: Iterable[str], write: Callable[[str], None]
) -> None:
    """Replace the entries ``removed`` of ``root`` with ``root/name``,
    which ``write(path)`` produces at the staging ``path`` it is given."""
    recover(root)
    staging = os.path.join(root, STAGING)
    write(os.path.join(staging, name))
    part = os.path.join(staging, MANIFEST + ".part")
    with open(part, "w") as f:
        f.write("".join(f"{n}\n" for n in removed))
    os.replace(part, os.path.join(staging, MANIFEST))
    recover(root)
