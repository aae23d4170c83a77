"""Epoch snapshots of a foreachBatch fold's state (`AsofEnrichState`,
`StreamingDedup`): batch N writes its post-batch state under
``state_dir/epoch=N`` and reads the newest snapshot strictly before N, so
an at-least-once retry of N rewrites its snapshot from the same input.
Only the two newest snapshots are kept.  (Local-FS listing; a deployment
swaps the os/shutil calls for its table format or HDFS client.)"""

from __future__ import annotations

import shutil
from pathlib import Path


def epoch_dir(root: str, epoch_id: int) -> str:
    """The directory of epoch ``epoch_id`` under ``root``: a state
    snapshot, or a sink's per-epoch output."""
    return f"{root}/epoch={epoch_id}"


def state_epochs(state_dir: str) -> list[int]:
    """The epochs with a snapshot under ``state_dir``, ascending."""
    root = Path(state_dir)
    if not root.exists():
        return []
    return sorted(
        int(p.name.split("=", 1)[1])
        for p in root.iterdir()
        if p.name.startswith("epoch=")
    )


def prior_epoch(state_dir: str, epoch_id: int) -> int | None:
    """The newest snapshot epoch strictly before ``epoch_id`` (None: no
    prior state), after checking that ``epoch_id`` may run.

    Legitimate epoch_ids advance, or equal the newest snapshot (an
    at-least-once retry).  One below the newest snapshot means the query
    restarted with a fresh checkpoint over an old state_dir: it would
    read stale or no prior state and write a snapshot that the
    keep-two retention deletes at once, so it raises instead."""
    epochs = state_epochs(state_dir)
    if epochs and epoch_id < epochs[-1]:
        raise ValueError(
            f"epoch_id {epoch_id} is behind the newest state snapshot "
            f"epoch={epochs[-1]} under {state_dir}: the stream checkpoint "
            "and the state_dir are mismatched (fresh checkpoint against old "
            "state?).  Point the query at a fresh state_dir or restore the "
            "matching checkpoint."
        )
    prior = [e for e in epochs if e < epoch_id]
    return prior[-1] if prior else None


def prune_epochs(state_dir: str) -> None:
    """Delete every snapshot but the two newest (current + previous)."""
    for e in state_epochs(state_dir)[:-2]:
        shutil.rmtree(epoch_dir(state_dir, e), ignore_errors=True)
