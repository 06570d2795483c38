"""The on-disk commit protocol every persisted store shares: stage,
then rename into place (the reference's `.partial` -> rename publish,
column_store_io.go:419-491, and its `stomache` digest staging).

- A small JSON file (table/index meta, sidecar, watermark, tokenizer)
  is written to a hidden temp file beside it and `os.replace`d over
  it: readers see the old file or the new one, never a torn one.
- An append piece (`<prefix><id>` dir) is visible only once its
  marker files exist; the marker is written last.
- A whole store dir is rewritten by `staged_swap`. `recover` undoes a
  swap that died between its two renames; `locks.path_lock` runs it
  whenever the store's lock is taken, and every swap runs under it.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid


def write_text(path: str, text: str) -> None:
    """Atomically publish `text` at `path` (parent dirs created). The
    temp name is unique per writer and hidden (`.`-prefixed), so
    unlocked writers never share it and a leftover one is skipped by
    Spark's reader and by `usage`."""
    d, name = os.path.split(path)
    os.makedirs(d or ".", exist_ok=True)
    tmp = os.path.join(d, f".{name}.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def write_json(path: str, obj) -> None:
    """Atomically publish `obj` as JSON (json defaults) at `path`."""
    write_text(path, json.dumps(obj))


def read_json(path: str, *default):
    """The JSON document at `path`; `default` when it is missing and
    one is given, else FileNotFoundError."""
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        if default:
            return default[0]
        raise


def pieces(root: str, prefix: str = "", *markers: str
           ) -> list[tuple[str, str]]:
    """(id, path) of each `<prefix><id>` entry of `root` holding every
    marker file, in name order. A piece without its markers is a torn
    write: invisible to readers and folds alike."""
    if not os.path.isdir(root):
        return []
    return [(n[len(prefix):], os.path.join(root, n))
            for n in sorted(os.listdir(root))
            if n.startswith(prefix)
            and all(os.path.exists(os.path.join(root, n, m))
                    for m in markers)]


def usage(path: str) -> tuple[int, int]:
    """(data files, bytes) under `path` — the small-files pressure
    gauge, from directory metadata only. Data files exclude the
    `_`/`.` markers and checksums; bytes count everything on disk."""
    n = nb = 0
    for root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if not f.startswith(("_", ".")))
        for f in files:
            try:
                nb += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass     # removed under us
    return n, nb


def _siblings(path: str, tag: str) -> list[str]:
    parent, name = os.path.split(path)
    try:
        names = os.listdir(parent)
    except FileNotFoundError:
        return []
    return [os.path.join(parent, n) for n in sorted(names)
            if n.startswith(f"{name}__{tag}-")]


def staged_swap(path: str, write_fn) -> None:
    """Replace the store dir `path` as one unit: `write_fn(tmp)` writes
    the replacement to a `__stage-` sibling, then the live dir is
    renamed to an `__old-` sibling, the replacement renamed in, and
    the old dir deleted. Callers hold `path_lock(path)`: its
    `recover` finishes whatever a crash left between these steps."""
    path = os.path.abspath(path.rstrip("/"))
    tmp = f"{path}__stage-{uuid.uuid4().hex[:8]}"
    write_fn(tmp)
    old = f"{path}__old-{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)


def recover(path: str) -> None:
    """Undo a staged_swap that died between its two renames (the store
    is missing and exactly one `__old-` sibling holds it: rename it
    back), then delete leftover `__stage-` dirs and, once the store is
    in place, leftover `__old-` dirs. Run only under the store's
    lock, before any writer reads it."""
    path = os.path.abspath(path.rstrip("/"))
    olds = _siblings(path, "old")
    if not os.path.exists(path) and len(olds) == 1:
        os.rename(olds.pop(), path)
    if os.path.exists(path):
        for d in olds:
            shutil.rmtree(d, ignore_errors=True)
    for d in _siblings(path, "stage"):
        shutil.rmtree(d, ignore_errors=True)
