"""Snapshot-file utilities shared by the engine and the admin CLIs.

File-level only (no Spark): a snapshot is a directory holding a
``manifest.json`` (version, parent, files{rel: {size, stored}}) plus the
stored files; incremental snapshots inherit unstored files through the
parent chain (engine.snapshot writes this format — the analog of the
reference's snapshot/manager.go manifests consumed by cmd/snapshot-util
and cmd/restore-util).
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime, timezone


def read_manifest(snapshot_dir: str) -> dict:
    with open(os.path.join(snapshot_dir, "manifest.json")) as f:
        return json.load(f)


def manifest_chain(snapshot_dir: str) -> list[tuple[str, dict]]:
    """[(path, manifest)] from ``snapshot_dir`` up through its parents.
    ValueError for a missing, unparsable or malformed manifest and for a
    chain that loops back on itself."""
    chain: list[tuple[str, dict]] = []
    seen: set[str] = set()
    cur: str | None = snapshot_dir
    while cur is not None:
        if os.path.abspath(cur) in seen:
            raise ValueError(f"snapshot chain loops back to {cur!r}")
        seen.add(os.path.abspath(cur))
        try:
            m = read_manifest(cur)
        except (OSError, ValueError) as e:
            raise ValueError(f"unreadable snapshot manifest in {cur!r}: {e}") from None
        if not (isinstance(m, dict) and isinstance(m.get("files"), dict)
                and isinstance(m.get("parent"), (str, type(None)))):
            raise ValueError(f"malformed snapshot manifest in {cur!r}")
        chain.append((cur, m))
        cur = m.get("parent")
    return chain


def list_snapshots(base_dir: str) -> list[dict]:
    """Inventory of the snapshots under ``base_dir`` (cmd/snapshot-util's
    listing): id, type (full/incremental), created at (manifest mtime,
    UTC), stored size, total logical size, parent id."""
    out = []
    if not os.path.isdir(base_dir):
        return out
    for name in sorted(os.listdir(base_dir)):
        d = os.path.join(base_dir, name)
        mf = os.path.join(d, "manifest.json")
        if not os.path.isfile(mf):
            continue
        m = read_manifest(d)
        stored = sum(e["size"] for e in m["files"].values() if e["stored"])
        total = sum(e["size"] for e in m["files"].values())
        parent = m.get("parent")
        out.append({
            "id": name,
            "type": "incremental" if parent else "full",
            "created_at": datetime.fromtimestamp(
                os.path.getmtime(mf), tz=timezone.utc
            ).strftime("%Y-%m-%d %H:%M:%S UTC"),
            "stored_bytes": stored,
            "total_bytes": total,
            "parent_id": os.path.basename(parent) if parent else "",
            "n_files": len(m["files"]),
        })
    return out


def _is_catalog(rel: str) -> bool:
    return rel.split(os.sep, 1)[0] == "catalog"


def resolve_files(snapshot_dir: str) -> dict[str, str | None]:
    """relpath -> the file to restore it from: each manifest entry comes
    from the nearest chain member that stores it. A catalog file the
    chain lacks maps to None (derived state, rebuilt on engine attach).
    Reads only, so a caller can refuse a broken snapshot before deleting
    anything: ValueError for a bad chain (see ``manifest_chain``), a path
    that leaves the snapshot, or any other file the chain lacks."""
    chain = manifest_chain(snapshot_dir)
    out: dict[str, str | None] = {}
    for rel in chain[0][1]["files"]:
        if os.path.isabs(rel) or os.path.normpath(rel).split(os.sep)[0] in ("..", "."):
            raise ValueError(f"snapshot manifest names a path outside it: {rel!r}")
        try:
            src = next((os.path.join(p, rel) for p, m in chain
                        if (m["files"].get(rel) or {}).get("stored")), None)
        except AttributeError:  # an entry that is not a {size, stored} object
            raise ValueError(f"malformed snapshot manifest entry {rel!r}") from None
        if src is None or not os.path.isfile(src):
            if not _is_catalog(rel):
                raise ValueError(f"snapshot chain is missing {rel!r}")
            src = None
        out[rel] = src
    return out


def copy_files(sources: dict[str, str | None], target_dir: str) -> int:
    """Copy ``resolve_files`` output into ``target_dir``; returns the
    number of files copied. A catalog the chain holds only in part is
    left out whole (and a stale one in the target removed), for the first
    engine attach to rebuild."""
    partial_catalog = None in sources.values()
    n = 0
    for rel, src in sources.items():
        if partial_catalog and _is_catalog(rel):
            continue
        dst = os.path.join(target_dir, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy2(src, dst)
        n += 1
    if partial_catalog:
        shutil.rmtree(os.path.join(target_dir, "catalog"), ignore_errors=True)
    return n


def restore_files(snapshot_dir: str, target_dir: str,
                  overwrite: bool = False) -> int:
    """Materialize a snapshot into ``target_dir`` file-by-file (see
    ``resolve_files``). Returns the number of files written. Pure file
    copy — the first engine attach to the restored warehouse rebuilds
    derived state (catalog) if the snapshot lacks it, exactly like
    ``NexusEngine.restore``. Refuses a non-empty target without
    ``overwrite`` (the reference restore-util requires a NEW data dir).
    The whole chain is checked before the first file is written."""
    if os.path.isdir(target_dir) and os.listdir(target_dir) and not overwrite:
        raise ValueError(f"target {target_dir!r} is not empty "
                         "(pass overwrite to replace)")
    return copy_files(resolve_files(snapshot_dir), target_dir)
