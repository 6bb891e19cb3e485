"""One versioned parquet state for every stream-folded relation, and
the one ``foreachBatch`` wiring every stream sink uses.

A state dir holds ``v%020d`` version directories and a ``_CURRENT``
pointer reading ``"<version>:<last_epoch>"``. A commit writes a NEW
version directory, moves the pointer with one atomic write, and prunes
superseded versions down to ``keep_versions``. Versions are named by a
counter, not the epoch id: a retry of an epoch whose fold already
committed must not name the directory it is READING (Spark refuses to
overwrite a path it reads from, so an epoch-keyed name would wedge the
stream in a crash loop).

foreachBatch is at-least-once. Subclasses whose fold is NOT idempotent
(KLL, SpaceSaving, additive counts) keep ``gate_epochs = True``: a
retry of a committed epoch folds nothing (Spark replays a retried
batch with the SAME epoch id and the SAME data, which is what makes
the check sufficient), and an epoch id BELOW the watermark means a
different query lifetime and raises (or :meth:`rebind`). Idempotent
folds (register max, hull vertices, union-find) set
``gate_epochs = False`` and fold every batch: a gate would silently
drop new data when a fresh-checkpoint query reuses the state dir and
its epoch ids restart at 0. Their pointer epoch is monotonic metadata.

Subclasses implement one method — :meth:`_fold`, taking the previous
committed state (or None) and the micro-batch and returning the merged
state DataFrame, or None when the batch contributes nothing (the epoch
still advances so an empty batch is not re-examined forever on
restart).
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

_POINTER = "_CURRENT"


class EpochVersionedState:
    """Versioned parquet state folded by micro-batch. Use
    :meth:`foreach_batch` as a stream sink and :meth:`current` for the
    committed rows."""

    # False for idempotent folds: every batch folds, whatever its
    # epoch id (see the module docstring)
    gate_epochs = True

    def __init__(self, spark: SparkSession, state_dir: str,
                 keep_versions: int = 2):
        if keep_versions < 1:
            raise ValueError("keep_versions must be >= 1")
        self.spark = spark
        self.state_dir = state_dir
        # retained version dirs INCLUDING the current one; >= 2 keeps
        # one superseded table for readers that resolved the pointer
        # just before a commit (mirrors layout.expire_snapshots)
        self.keep_versions = keep_versions
        os.makedirs(state_dir, exist_ok=True)

    # -- pointer: "<version>:<last_epoch>" ----------------------------------

    def _pointer_path(self) -> str:
        return os.path.join(self.state_dir, _POINTER)

    def _read_pointer(self):
        try:
            with open(self._pointer_path()) as f:
                raw = f.read().strip()
            if not raw:
                return None, -1
            if ":" not in raw:
                # a bare version name: the epoch-less pointer older
                # ClusterState dirs carry
                return raw, -1
            version, epoch = raw.rsplit(":", 1)
            # "-" = epochs committed but no data version yet (empty
            # batches before the first non-empty one)
            return (version if version != "-" else None), int(epoch)
        except FileNotFoundError:
            return None, -1

    def _commit(self, version: str, epoch: int) -> None:
        from ..sources.layout import atomic_write_text

        atomic_write_text(self._pointer_path(),
                          "%s:%d" % (version, epoch))

    def _pin_config(self, cfg: dict) -> None:
        """Pin the subclass's lattice/key parameters beside the
        pointer: reopening an existing state dir with DIFFERENT
        parameters would silently fold incompatible rows (e.g. counts
        from two grid resolutions) — unlike the epoch-regression
        case, nothing downstream would error. First open writes the
        config; later opens must match or raise."""
        import json

        from ..sources.layout import atomic_write_text

        path = os.path.join(self.state_dir, "_CONFIG")
        try:
            with open(path) as f:
                existing = json.load(f)
        except FileNotFoundError:
            atomic_write_text(path, json.dumps(cfg, sort_keys=True))
            return
        # keys absent from an OLDER config compare as None: new
        # parameters must make None mean "the legacy behavior" so
        # upgrading the library never bricks existing state dirs
        filled = {k: existing.get(k) for k in cfg}
        if filled != cfg:
            raise ValueError(
                "state dir %s was created with %r, reopened with %r "
                "— folding across configs corrupts the state; use a "
                "fresh state dir" % (self.state_dir, existing, cfg)
            )
        if existing != cfg:  # legacy file: upgrade to the full form
            atomic_write_text(path, json.dumps(cfg, sort_keys=True))

    # -- reads --------------------------------------------------------------

    def current(self) -> Optional[DataFrame]:
        """Latest committed state rows, or None before the first
        data-bearing commit."""
        name, _epoch = self._read_pointer()
        if name is None:
            return None
        return self.spark.read.parquet(
            os.path.join(self.state_dir, name)
        )

    def rebind(self) -> None:
        """Accept a NEW streaming query (fresh checkpoint dir, epoch
        ids restarting at 0) while keeping the accumulated state:
        resets the committed epoch watermark to -1. Only call this
        when the old query is stopped — the guard in
        :meth:`foreach_batch` exists because two queries folding one
        state dir double-counts."""
        cur_name, _epoch = self._read_pointer()
        self._commit(cur_name or "-", -1)

    # -- the fold -----------------------------------------------------------

    def _fold(self, prev: Optional[DataFrame],
              batch_df: DataFrame) -> Optional[DataFrame]:
        """Merge the micro-batch into ``prev`` (None before the first
        commit). Return the new state rows, or None when the batch
        contributes nothing."""
        raise NotImplementedError

    def foreach_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        cur_name, last_epoch = self._read_pointer()
        if self.gate_epochs and int(epoch_id) == last_epoch:
            # at-least-once redelivery of a committed epoch: the fold
            # is NOT idempotent, so the retry must fold nothing
            return
        if self.gate_epochs and int(epoch_id) < last_epoch:
            # A retry always replays the SAME epoch id, so a strictly
            # lower id means a different query lifetime — a stream
            # restarted with a fresh checkpoint dir against this state
            # dir. Silently skipping would serve stale state forever;
            # fail loudly instead.
            raise RuntimeError(
                "epoch id %d regressed below the committed watermark "
                "%d: this state dir was folded by a different "
                "streaming query (fresh checkpoint dir?). Reuse the "
                "original checkpoint dir, or call rebind() to accept "
                "the new query's epoch numbering while keeping the "
                "accumulated state." % (int(epoch_id), last_epoch)
            )
        # equals epoch_id whenever the gate passed
        epoch = max(int(epoch_id), last_epoch)
        merged = self._fold(self.current(), batch_df)
        if merged is None:
            # still advance the epoch so an empty batch is not
            # re-examined forever on restart
            self._commit(cur_name or "-", epoch)
            return
        next_n = (int(cur_name[1:]) + 1) if cur_name else 0
        version = "v%020d" % next_n
        out = os.path.join(self.state_dir, version)
        merged.write.mode("overwrite").parquet(out)
        self._commit(version, epoch)
        self._prune(version)

    def _prune(self, current: str) -> None:
        import shutil

        versions = sorted(
            n for n in os.listdir(self.state_dir)
            if n.startswith("v") and n[1:].isdigit()
        )
        for name in versions[:-self.keep_versions]:
            if name != current:
                shutil.rmtree(
                    os.path.join(self.state_dir, name),
                    ignore_errors=True,
                )


def foreach_batch_sink(stream: DataFrame, fn, checkpoint_dir: str,
                       trigger_available_now: bool = True):
    """Start ``stream`` into the ``fn(batch_df, epoch_id)`` sink with
    its checkpoint at ``checkpoint_dir``; ``trigger_available_now``
    drains what is available and stops. Returns the streaming query."""
    writer = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
