"""Incremental consumption of the triple store's commit log.

The producer side of the streaming story ingests feeds into the store
(``stream_pages_to_triples``; reference analog: the LDES consumer's
polled micro-batches, ``ldes-consumer/app.py:333-341``). This module is
the CONSUMER side: a downstream job — an index refresher, a replica
sync, a materialized-view maintainer — that wants *what changed since I
last looked*, never the full table. It pairs
``TripleStore.read_changes`` (manifest-pruned changelog scan) with a
durable cursor, giving the same guarantees the reference's LDES
continuation state gives its consumer (``docs/components/
ldes-consumer.md:584-592``), re-expressed over manifest versions:

- **poll/batch**       → ``poll()`` returns one window of changes
                         (cursor version → current tip)
- **state continuation** → the cursor is persisted with the same
                         create-if-absent commit protocol as the
                         store's manifests — crash-safe, resumable
- **no duplicates**    → ``commit()`` AFTER the sink lands the batch:
                         a crash between poll and commit replays the
                         same window (at-least-once), and the
                         recommended sinks are idempotent
                         (``TripleStore.merge``), yielding
                         effectively-exactly-once

At 100 TB the poll cost is O(files changed in the window) — the
changelog scan plans only manifest-diff files — and the cursor is one
tiny JSON per committed window, pruned to the last few.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame

from kgap_spark.io import fs

_CURSOR_RE = re.compile(r"^cursor-(\d+)\.json$")


class ChangelogExpiredError(RuntimeError):
    """The cursor points at a vacuumed snapshot: the incremental
    window no longer exists and the consumer must bootstrap."""


class ChangelogCursor:
    """Durable position in a ``TripleStore``'s commit history.

    One cursor directory per (store, consumer) pair. The consumer
    loop::

        cur = ChangelogCursor(store, cursor_dir)
        changes, tip = cur.poll()
        if changes is not None:
            sink(changes)        # idempotent sink → exactly-once
            cur.commit(tip)

    Cursor writes use create-if-absent of ``cursor-<version>.json``
    (the store's own manifest CAS protocol): a torn write is invisible
    — ``position()`` takes the largest PARSEABLE cursor — and a replay
    of an already-committed version is a no-op, so two racing
    consumers on one cursor dir cannot corrupt the position (they may
    both process a window; the sink's idempotence absorbs it)."""

    #: keep this many committed cursor files (history for debugging;
    #: everything older is pruned on commit)
    keep_cursors: int = 4

    def __init__(self, store, cursor_dir: str, start_version: int = 0):
        self.store = store
        self.spark = store.spark
        self.dir = cursor_dir
        self.start_version = start_version

    def _versions(self) -> list[int]:
        return sorted(
            int(m.group(1))
            for name in fs.list_names(self.spark, self.dir)
            if (m := _CURSOR_RE.match(name))
        )

    def position(self) -> int:
        """Last committed store version (largest parseable cursor
        file), or ``start_version`` for a fresh consumer."""
        for v in reversed(self._versions()):
            try:
                json.loads(fs.read_text_file(
                    self.spark, fs.join(self.dir, f"cursor-{v}.json")))
                return v
            except Exception:
                continue  # torn cursor write: skip, older one stands
        return self.start_version

    def poll(self, allow_bootstrap: bool = False
             ) -> tuple[DataFrame | None, int]:
        """One incremental window: ``(changes, tip)`` where ``changes``
        is ``read_changes(position(), tip)`` — or ``(None, tip)`` when
        the store has no new commits (cheap: two metadata reads, no
        Spark job).

        If the cursor's snapshot was vacuumed (``expire_snapshots``
        dropped it), the incremental window is gone. Default: raise
        ``ChangelogExpiredError`` — silently resending the full table
        as "changes" could double-apply at a non-idempotent sink. With
        ``allow_bootstrap=True``: return the full tip snapshot as
        inserts (the documented resync path for idempotent sinks)."""
        pos = self.position()
        tip = self.store.current_version()
        if tip <= pos:
            return None, tip
        from kgap_spark.triples import SnapshotNotFoundError

        try:
            return self.store.read_changes(pos, tip), tip
        except SnapshotNotFoundError as e:
            # typed classification — message-text matching would turn
            # a reworded error into a silent full-table "incremental"
            if not allow_bootstrap:
                raise ChangelogExpiredError(
                    f"cursor v{pos} was vacuumed from the store "
                    f"(current tip v{tip}); re-run with "
                    f"allow_bootstrap=True to resync from a full "
                    f"snapshot (requires an idempotent sink)"
                ) from e
            from pyspark.sql import functions as F
            full = self.store.read(version=tip)
            return full.withColumn("_change", F.lit("insert")), tip

    def commit(self, version: int) -> None:
        """Durably advance the cursor to ``version`` (idempotent:
        re-committing a version another process already claimed is a
        success). Prunes cursor files beyond ``keep_cursors``."""
        pos = self.position()
        if version < pos:
            raise ValueError(
                f"cursor moved backwards: at v{pos}, commit(v{version})"
            )
        fs.create_text_file(
            self.spark, fs.join(self.dir, f"cursor-{version}.json"),
            json.dumps({"version": version}),
        )
        for v in self._versions()[:-self.keep_cursors]:
            fs.delete(self.spark, fs.join(self.dir, f"cursor-{v}.json"))

    def run_once(self, sink, allow_bootstrap: bool = False) -> bool:
        """One poll-sink-commit cycle; True when a window was
        delivered, False when idle. ``sink(df)`` must be idempotent
        for exactly-once (the window is NOT pre-counted here — that
        would evaluate the plan twice; the sink sees the lazy frame)."""
        changes, tip = self.poll(allow_bootstrap=allow_bootstrap)
        if changes is None:
            return False
        sink(changes)
        self.commit(tip)
        return True
