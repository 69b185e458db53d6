"""Format-neutral half of the manifest -> Delta / Iceberg publishers.

There is ONE publish path per format: ``deltalite.sync_manifest_to_delta``
and ``iceberglite.sync_manifest_to_iceberg``. Each replays the
destination's current state (O(metadata)), diffs its live files against
the manifest table's by path — manifest data-file paths are write-once
(uuid snapshot dirs), so a path-keyed diff is exact — and appends ONE
Delta commit / Iceberg snapshot holding just the difference; a no-op diff
writes nothing, so re-running a publisher is idempotent. A destination
with no log yet is the empty case of the same diff (Delta version -1,
Iceberg no metadata): the first commit — Delta version 0, Iceberg
snapshot 1 — adds every live file, the way a Delta table's first commit
is just version 0 of the same log. ``export_manifest_to_delta`` /
``export_manifest_to_iceberg`` are that same call under their historical
names: the first sync; on an existing destination, an incremental sync.

Deletion-vector policy (``dv_mode``, every export and sync, and the CLI's
``--dv-mode``): a live manifest dv mask hides rows that are still
PHYSICALLY in the parquet file, so a reader that does not apply the mask
would see deleted rows.

- ``'refuse'`` (default) raises ``ValueError`` while any live mask
  exists — run ``maintain()`` / ``compact(auto_dv=True)`` first, which
  rewrites the masked files mask-free.
- ``'native'`` publishes the masks in the format's own delete
  vocabulary. Delta: real deletion vectors (one spec-shaped DV file per
  commit, ``add.deletionVector`` descriptors, reader version 3 with
  ``readerFeatures=[deletionVectors]``); a mask change is
  remove(path, old DV) + add(path, new DV) in one commit, detected
  exactly through the ``forklift_dv_src`` add tag. Iceberg: spec-v2
  POSITION DELETES (one ``(file_path, pos)`` parquet per snapshot in a
  content=1 delete manifest, at a sequence number >= the data's); a mask
  that SHRINKS (``restore()``) cannot be expressed by adding v2 delete
  content and refuses.

A table with no live mask publishes the plain form whatever the mode
(Delta protocol v1, Iceberg without delete files).

This module holds what both formats share: the dv guard, the
hard-link-or-copy of a data file into the destination, the live-row
count, and the destination-side vacuum walk. The format writers (Delta
add actions, stats, DV files, CDF; Iceberg partition tuples, position
delete files, manifest reuse) stay in their modules.
"""

from __future__ import annotations

import os
import shutil
import time
from urllib.parse import unquote


def dv_masks(table, entries: list[dict], dv_mode: str, readers: str,
             native: str) -> dict[str, list[int]]:
    """Apply the ``dv_mode`` policy to the manifest ``entries``: {} when
    no entry is masked, the masks ({entry path: sorted positions}) under
    'native', and a ``ValueError`` under 'refuse'. ``readers`` and
    ``native`` only word the error for the format."""
    masked = [e for e in entries if e.get("dv")]
    if not masked:
        return {}
    if dv_mode == "native":
        return _dv_masks_of(table, masked)
    raise ValueError(
        f"table has live deletion vectors; external {readers} readers "
        "would see deleted rows — run maintain() (or "
        "compact(auto_dv=True)) and publish again, or pass "
        f"dv_mode='native' to write {native}"
    )


def _dv_masks_of(table, entries: list[dict]) -> dict[str, list[int]]:
    """Per-file deleted positions from the manifest's dv sidecars:
    {entry path: sorted row indexes}. Each entry's positions come from
    ITS OWN dv dir (a dir is complete for the entries that reference
    it). Driver-side pyarrow read, O(dv rows) — the same class the
    manifest read path broadcasts (maintain() folds oversized masks)."""
    import pyarrow.parquet as pq

    by_dir: dict[str, set[str]] = {}
    for e in entries:
        by_dir.setdefault(e["dv"], set()).add(e["path"])
    masks: dict[str, set[int]] = {}
    for d, want in by_dir.items():
        droot = os.path.join(table.path, d)
        for dp, _dirs, fs in os.walk(droot):
            for f in fs:
                if not f.endswith(".parquet"):
                    continue
                tb = pq.read_table(os.path.join(dp, f),
                                   columns=["file_ref", "pos"])
                for ref, p in zip(tb.column(0).to_pylist(),
                                  tb.column(1).to_pylist()):
                    rel = unquote(ref)
                    if rel in want:
                        masks.setdefault(rel, set()).add(int(p))
    return {p: sorted(v) for p, v in masks.items()}


def link_or_copy(table, dest: str, rel: str) -> str:
    """Place the manifest data file ``rel`` at the same relative path
    under ``dest`` and return that path: a hard link when the filesystem
    allows (publishing is O(metadata) on one volume), a copy otherwise.
    A file already there is kept (paths are write-once)."""
    src, dst = os.path.join(table.path, rel), os.path.join(dest, rel)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    if not os.path.exists(dst):
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy2(src, dst)
    return dst


def live_rows(entries: list[dict]) -> int | None:
    """Rows a reader sees across manifest ``entries`` (dv-masked rows
    excluded); None when any entry lacks a row count."""
    if not all("rows" in e for e in entries):
        return None
    return sum(e["rows"] - e.get("dv_rows", 0) for e in entries)


def vacuum_dest(root: str, live: set[str], protected: str, grace_ms: int,
                now_ms: int | None = None) -> dict:
    """Delete every file under ``root`` that is not in ``live`` and whose
    mtime is at least ``grace_ms`` older than ``now_ms`` (default: now),
    then remove the data directories that end up empty.

    The ``protected`` directory (the log: ``_delta_log`` / ``metadata``,
    relative to ``root``) is never entered and never pruned, so history
    stays replayable as metadata; directories whose name starts with
    ``.`` are not entered either. Files whose name starts with ``.`` or
    ``_`` (checksums, markers) are always kept. Returns {"removed",
    "kept_live", "kept_grace"}."""
    now = int(time.time() * 1000) if now_ms is None else int(now_ms)
    root = os.path.abspath(root)
    prot = os.path.join(root, protected)
    live = {os.path.abspath(p) for p in live}
    removed = kept_live = kept_grace = 0
    for dp, dirs, fs in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith(".")
                   and os.path.join(dp, d) != prot]
        for f in fs:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(dp, f)
            if p in live:
                kept_live += 1
            elif now - int(os.path.getmtime(p) * 1000) < grace_ms:
                kept_grace += 1
            else:
                os.remove(p)
                removed += 1
    for dp, dirs, fs in os.walk(root, topdown=False):
        if dp != root and not dirs and not fs and dp != prot \
                and not dp.startswith(prot + os.sep):
            try:
                os.rmdir(dp)
            except OSError:
                pass
    return {"removed": removed, "kept_live": kept_live,
            "kept_grace": kept_grace}
