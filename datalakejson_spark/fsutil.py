"""Atomic single-file writes, shared by every meta/sidecar writer, and the
one file-URI → path mapping.

Torn-read fence (round 15, cross-JVM soak catch): writers staged through
a FIXED ``<target>.tmp`` name, so two concurrent writers of the same
target truncate each other's tmp mid-write — and an ``os.replace`` then
publishes a HALF-WRITTEN document (the replace itself is atomic; the
inode it publishes is not complete). Observed live in the cross-process
dual-stream soak as a JSONDecodeError on a ~188 KB ``_IVF.json``: one
JVM's meta write renamed the tmp while another JVM was still streaming
into the same tmp path. A UNIQUE tmp per write restores the full
atomic-replace guarantee under ANY writer concurrency: last writer wins
and every published inode is a complete document.

Crashed writers leave uniquely-named orphan tmps; they are debris by
construction (nothing ever adopts them) and are swept opportunistically
on the next successful write of the same target, age-guarded so a live
writer's in-flight tmp is never touched.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from urllib.parse import unquote

#: orphan tmps younger than this are presumed to belong to a live writer
TMP_GRACE_S = 3600.0


def unique_tmp(path: str) -> str:
    """A collision-free staging name beside ``path`` (same filesystem, so
    ``os.replace`` stays atomic)."""
    return f"{path}.{uuid.uuid4().hex[:8]}.tmp"


def atomic_write_json(path: str, obj) -> None:
    tmp = unique_tmp(path)
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)
    sweep_orphan_tmps(path)


def atomic_write_text(path: str, text: str) -> None:
    tmp = unique_tmp(path)
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)
    sweep_orphan_tmps(path)


def sweep_orphan_tmps(path: str, grace_s: float = TMP_GRACE_S) -> None:
    """Best-effort removal of aged ``<path>.*.tmp`` debris from crashed
    writers. O(one dir listing); meta/sidecar dirs are small by design."""
    d, base = os.path.split(path)
    prefix = base + "."
    try:
        names = os.listdir(d or ".")
    except OSError:
        return
    now = time.time()
    for n in names:
        if not (n.startswith(prefix) and n.endswith(".tmp")):
            continue
        p = os.path.join(d, n)
        try:
            if now - os.path.getmtime(p) >= grace_s:
                os.remove(p)
        except OSError:
            pass


def uri_path(file_uri: str) -> str:
    """The plain path of a ``file:`` URI such as ``input_file_name()``
    yields. Ledger keys are plain paths, and the URI is URL-encoded, so a
    space or ``%`` in a name must round-trip through ``unquote``."""
    return unquote(file_uri.removeprefix("file://").removeprefix("file:"))
