"""Crash-safe store: the one module that publishes sink state.

Every sink commits through the functions below; no other module
renames, replaces or deletes published state. The protocol, stated
once:

1. **Files** (pointers, watermarks, ``_PARAMS``, journals,
   manifests): ``atomic_write`` writes ``<path>.tmp``, fsyncs it,
   ``os.replace``-s it over ``<path>`` and fsyncs the parent
   directory. A reader sees the old or the new content, never a torn
   file.
2. **Versioned directories** (``ParquetSnapshotSink``, the SCD2
   sinks): ``commit_version`` writes ``<prefix>N`` next to the live
   version, then publishes it by rewriting the ``_CURRENT`` pointer,
   ``"<N> <batch_id>"``, so version and batch watermark commit
   together. Versions older than ``N-1`` are removed afterwards; the
   previous one stays for readers still in flight. Anything the
   pointer does not name is invisible, and a retry overwrites it.
3. **Swapped directories** (compaction, re-bucketing, the copy-on-write
   sketch tables): the new content is built in ``<live>.swap.tmp``
   (``staging``), then ``swap_in`` renames ``live`` to
   ``<live>.swap.old``, the tmp to ``live``, and removes the old one.
   ``recover(live)`` rolls a torn swap back: it restores the old
   directory when ``live`` is missing, drops it when ``live`` exists,
   and removes a stale tmp. Every read and write path calls it first.
4. **Several directories as one commit** (IVF rebuild, re-bucketing
   with its new ``_PARAMS``): after staging every tmp, ``swap_all``
   writes a journal file -- the commit point -- and ``roll_forward``
   finishes the swaps and the caller's follow-up writes from any crash
   point, then deletes the journal. Without a journal, ``recover``
   rolls back.
5. **Batch watermark**: a sink's last applied batch id is committed
   last (``commit_watermark``), or inside the pointer or swapped
   directory it belongs to. ``guard_batch_watermark`` makes a
   re-delivered batch a no-op and refuses a batch id behind it.

Stores whose appends are not idempotent (the admission sinks, the IVF
index) can be left with an append whose watermark never committed;
their replay appends again: duplication, never loss.

Data directories are fsynced before they are published. All mutation
goes through three primitives -- ``_write_file``, ``_replace`` and
``_remove`` -- which the fault-matrix tests make raise on each call in
turn (``tests/test_store_faults.py``).
"""

from __future__ import annotations

import json
import os
import shutil

TMP, OLD = ".swap.tmp", ".swap.old"


# ------------------------------------------------------- primitives


def _write_file(path: str, payload: bytes) -> None:
    with open(path, "wb") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())


def _replace(src: str, dst: str) -> None:
    os.replace(src, dst)
    _fsync_dir(os.path.dirname(os.path.abspath(dst)))


def _remove(path: str) -> None:
    if os.path.isdir(path) and not os.path.islink(path):
        shutil.rmtree(path)
    else:
        os.remove(path)


def _fsync_dir(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _sync_tree(path: str) -> None:
    """fsync every file under ``path`` and the directories holding
    them, so a published directory survives a power loss."""
    for d, _, names in os.walk(path):
        for n in names:
            fd = os.open(os.path.join(d, n), os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)
        _fsync_dir(d)


# ------------------------------------------------------------ files


def atomic_write(path: str, data: str | bytes | dict | list) -> None:
    """Publish ``data`` at ``path`` (text, bytes, or JSON for dicts
    and lists): tmp file, fsync, ``os.replace``, fsync of the parent."""
    if isinstance(data, bytes):
        payload = data
    elif isinstance(data, str):
        payload = data.encode()
    else:
        payload = json.dumps(data, sort_keys=True).encode()
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    _write_file(path + ".tmp", payload)
    _replace(path + ".tmp", path)


def read_text(path: str) -> str | None:
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return f.read()


def read_json(path: str):
    text = read_text(path)
    return None if text is None else json.loads(text)


def remove(path: str) -> None:
    """Delete a file or directory tree if it exists."""
    if os.path.lexists(path):
        _remove(path)


# -------------------------------------------------------- watermark


def read_watermark(directory: str) -> int | None:
    """Last applied batch id stored in ``directory/_BATCH``, or None."""
    text = read_text(os.path.join(directory, "_BATCH"))
    return None if text is None else int(text)


def commit_watermark(directory: str, batch_id: int) -> None:
    atomic_write(os.path.join(directory, "_BATCH"), str(batch_id))


def guard_batch_watermark(last: int | None, batch_id: int, what: str) -> bool:
    """Replay and lineage policy for watermark-keeping sinks.

    Returns True when ``batch_id`` equals the stored watermark: the
    one legitimate at-least-once re-delivery (batches of one
    checkpoint arrive in order), so the caller should no-op. Raises
    when ``batch_id`` is behind the watermark: a fresh or foreign
    checkpoint is writing into an existing store, and skipping its
    batches until the ids catch up would lose data silently. ``last``
    of None or -1 (a bootstrap version) means no batch applied yet.
    """
    if last is None or last < 0:
        return False
    if batch_id == last:
        return True
    if batch_id < last:
        raise RuntimeError(
            f"batch id {batch_id} is behind the stored watermark {last}: "
            f"this {what} was written under a different checkpoint "
            "lineage; a stream with a fresh checkpoint must target a "
            "fresh sink path"
        )
    return False


# ------------------------------------------------ versioned directories


def read_pointer(root: str) -> tuple[int, int] | None:
    """``(version, batch watermark)`` from ``root/_CURRENT``, or None."""
    text = read_text(os.path.join(root, "_CURRENT"))
    if text is None:
        return None
    version, batch_id = text.split()
    return int(version), int(batch_id)


def commit_version(root: str, prefix: str, data, batch_id: int) -> int:
    """Publish the next version ``root/<prefix>N`` and return ``N``.

    ``data`` is a DataFrame to write, or the path of a staged
    directory to move into place. The pointer swap is the commit;
    versions older than ``N-1`` are removed after it."""
    ptr = read_pointer(root)
    v = (ptr[0] if ptr else 0) + 1
    target = os.path.join(root, f"{prefix}{v}")
    if isinstance(data, str):
        move(data, target)
    else:
        data.write.mode("overwrite").parquet(target)
        _sync_tree(target)
    atomic_write(os.path.join(root, "_CURRENT"), f"{v} {batch_id}")
    for d in os.listdir(root):
        if d.startswith(prefix) and int(d[len(prefix):]) < v - 1:
            remove(os.path.join(root, d))
    return v


def move(src: str, dst: str) -> None:
    """Move directory ``src`` to ``dst``, replacing whatever is there.
    Only for directories no reader sees until a pointer names them."""
    remove(dst)
    _sync_tree(src)
    _replace(src, dst)


# ------------------------------------------------ swapped directories


def staging(live: str) -> str:
    """The empty tmp path a new version of ``live`` is built in."""
    tmp = live + TMP
    remove(tmp)
    return tmp


def swap_in(tmp: str, live: str) -> None:
    """Replace directory ``live`` by ``tmp`` with two renames."""
    _sync_tree(tmp)
    old = live + OLD
    if os.path.exists(live):
        _replace(live, old)
    _replace(tmp, live)
    remove(old)


def recover(live: str) -> None:
    """Roll back a torn ``swap_in`` of ``live`` and drop a stale tmp."""
    old = live + OLD
    if os.path.exists(old):
        if os.path.exists(live):
            remove(old)
        else:
            _replace(old, live)
    remove(live + TMP)


def swap_all(journal: str, lives: list[str], meta: dict, finish) -> None:
    """Swap the staged tmp of every directory in ``lives`` in as one
    commit. The journal (``lives`` relative to its directory, plus
    ``meta``) is the commit point; ``finish(meta)`` runs after the
    swaps and must be idempotent."""
    root = os.path.dirname(journal)
    names = [os.path.relpath(live, root) for live in lives]
    atomic_write(journal, {"lives": names, "meta": meta})
    roll_forward(journal, finish)


def roll_forward(journal: str, finish) -> bool:
    """Finish a committed ``swap_all`` from any crash point; True when
    a journal was found."""
    entry = read_json(journal)
    if entry is None:
        return False
    root = os.path.dirname(journal)
    for name in entry["lives"]:
        live = os.path.join(root, name)
        if os.path.exists(live + TMP):
            swap_in(live + TMP, live)
        else:
            recover(live)
    finish(entry["meta"])
    remove(journal)
    return True
