"""One crash-safe commit for the directory stores: stage, log an
intent, apply it by renames.

Every store in this engine that replaces paths in place (the keyed
upsert store, compacted leaves, the folded sketch and substring
prefixes) goes through ``commit`` and ``recover``. It is the choice
Hadoop's FileOutputCommitter makes for the same job: stage the output,
then commit it by rename.

- The writer stages its output under ``<root>/_staging/``.
- ``commit(root, moves, deletes)`` writes the intent
  ``<root>/_commits/<id>.json`` (tmp file + ``os.replace``; writing it
  is the commit point) listing the relative ``moves`` (src -> dst) and
  ``deletes``. It then renames every delete into ``<root>/_trash/<id>/``
  and, for every move whose src still exists, renames an existing dst
  into the trash and src onto dst. The trash and the intent go last.
- ``recover(root)`` replays every committed intent. A replay skips a
  move whose src is gone and a delete whose path is gone, so it is
  idempotent, and a crash during a replay is recovered by the next.
  It drops ``.tmp`` intents and leftover trash. It never touches
  ``_staging``: readers call ``recover``, and only a writer clears
  ``_staging``, after recovering and before it stages.

A crash at any step therefore reads as the old state (no intent yet)
or, after ``recover``, the new one. Every name this module adds at a
root starts with ``_`` and holds no ``=``, so Spark's file index and
the stores' own listings never see it; ``_commits`` and ``_trash`` are
removed once empty. One writer per store: concurrent commits from
that writer's threads (``compact_store(max_concurrency>1)``) each have
their own intent and trash dir, and the lock below keeps one commit's
cleanup from removing a dir another is about to use.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid
from collections.abc import Iterable

STAGING = "_staging"
_COMMITS = "_commits"
_TRASH = "_trash"
_LOCK = threading.Lock()


def commit(root: str, moves: dict[str, str], deletes: Iterable[str] = ()) -> None:
    """Replace paths under ``root`` as one crash-safe step: each
    ``moves`` src (relative, normally under ``_staging``) replaces its
    dst, and each path in ``deletes`` is removed. A path is never both
    deleted and a move dst: a replayed delete would remove the moved
    data."""
    intent = {"moves": sorted(moves.items()), "deletes": sorted(deletes)}
    both = set(intent["deletes"]) & set(moves.values())
    if both:
        raise ValueError(f"paths both deleted and moved onto: {sorted(both)}")
    cid = uuid.uuid4().hex
    with _LOCK:
        os.makedirs(os.path.join(root, _COMMITS), exist_ok=True)
        path = os.path.join(root, _COMMITS, cid + ".json")
        with open(path + ".tmp", "w") as fh:
            json.dump(intent, fh)
        os.replace(path + ".tmp", path)
        _apply(root, cid, intent)


def recover(root: str) -> None:
    """Finish every committed intent under ``root`` and drop what an
    uncommitted one left behind, except ``_staging``."""
    commits, trash = os.path.join(root, _COMMITS), os.path.join(root, _TRASH)
    if not (os.path.isdir(commits) or os.path.isdir(trash)):
        return
    with _LOCK:
        for name in sorted(os.listdir(commits)) if os.path.isdir(commits) else []:
            path = os.path.join(commits, name)
            if name.endswith(".json"):
                with open(path) as fh:
                    _apply(root, name[: -len(".json")], json.load(fh))
            else:
                os.remove(path)
        if os.path.isdir(trash):
            shutil.rmtree(trash)
        _remove_empty(root)


def _apply(root: str, cid: str, intent: dict) -> None:
    trash = os.path.join(root, _TRASH, cid)

    def discard(i: int, rel: str) -> None:
        path = os.path.join(root, rel)
        if os.path.lexists(path):
            os.makedirs(trash, exist_ok=True)
            os.rename(path, os.path.join(trash, str(i)))

    deletes = intent["deletes"]
    for i, rel in enumerate(deletes):
        discard(i, rel)
    for i, (src, dst) in enumerate(intent["moves"], len(deletes)):
        if os.path.lexists(os.path.join(root, src)):
            discard(i, dst)
            os.rename(os.path.join(root, src), os.path.join(root, dst))
    if os.path.isdir(trash):
        shutil.rmtree(trash)
    os.remove(os.path.join(root, _COMMITS, cid + ".json"))
    _remove_empty(root)


def _remove_empty(root: str) -> None:
    for d in (_TRASH, _COMMITS):
        try:
            os.rmdir(os.path.join(root, d))
        except OSError:  # absent, or another commit's entries are in it
            pass
