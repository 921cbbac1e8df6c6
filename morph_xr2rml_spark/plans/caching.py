"""Session-scoped cache registry.

Operators persist intermediates their plans reference repeatedly (the
shingle posting table, RefObjectMap parent-side scans, the triple table
under SPARQL evaluation). In a long-lived session those executor blocks
leak unless something unpersists them after the consuming action runs —
the operator itself cannot, because it returns a lazy plan.

Every such persist goes through :func:`cache`, giving one release
point: :func:`release_caches` drops everything still registered.
Contract/bench queries call it on entry (releasing the *previous*
query's blocks, whose action has completed), and library users embed it
wherever their job boundaries are.

Parquet lineage-cut checkpoints (:func:`checkpoint_parquet`) follow the
same boundary: every checkpoint directory is registered and deleted by
the next :func:`release_caches`, so a long-lived session (an endpoint
answering path-closure / connected-components workloads indefinitely)
holds at most one job's checkpoint files instead of accumulating
unbounded tmp disk. Fixpoint loops whose rounds supersede each other
additionally pass a :class:`CheckpointScope` and retire superseded
rounds eagerly, keeping peak usage at ~2 rounds instead of
rounds-per-job.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame

_LIVE: list[DataFrame] = []

_CKPT_ROOT: str | None = None

# checkpoint dirs awaiting deletion at the next job boundary
_CKPT_LIVE: list[str] = []


class CheckpointScope:
    """Round tracker for fixpoint loops where a new checkpoint
    SUPERSEDES earlier ones (e.g. min-label propagation: only the
    latest labels frame is ever referenced again). The loop calls
    :meth:`retire` once the consuming action of the newest round has
    run (e.g. after the newest round's own checkpoint write), deleting
    superseded rounds' files eagerly instead of waiting for the job
    boundary.

    Loops whose result references EVERY round (path closure unions all
    layers) must NOT retire — they rely on the default job-boundary
    cleanup in :func:`release_caches`."""

    def __init__(self) -> None:
        self._paths: list[str] = []

    def _add(self, path: str) -> None:
        self._paths.append(path)

    def retire(self, keep: int = 1) -> None:
        """Delete all but the newest ``keep`` rounds' files."""
        while len(self._paths) > keep:
            path = self._paths.pop(0)
            try:
                _CKPT_LIVE.remove(path)
            except ValueError:
                pass
            shutil.rmtree(path, ignore_errors=True)


def checkpoint_parquet(
    df: DataFrame, tag: str = "", scope: CheckpointScope | None = None
) -> DataFrame:
    """Cut lineage with a parquet round-trip (eager: the write IS the
    materialization barrier).

    This is the pin for iterative/fixpoint plans where a round
    references the previous round more than once: ``persist`` leaves
    the LOGICAL plan in place, so each round's tree embeds the previous
    round's tree at every reference and analysis/optimization time
    doubles per iteration (measured: 0.5s -> 19s over 8 rounds of
    min-label propagation); ``localCheckpoint`` would truncate lineage
    but crashes on AQE-finalized shuffle plans in Spark 4
    (java.util.NoSuchElementException: key not found). The parquet
    round-trip is also exactly what a resumable cluster job does —
    reliable checkpoints on shared storage — so the local tmpdir here
    swaps for an HDFS/S3 stage path at scale.

    The written directory is registered for deletion at the next
    :func:`release_caches` (job boundary); pass ``scope`` from loops
    whose rounds supersede each other so they can retire earlier."""
    global _CKPT_ROOT
    if _CKPT_ROOT is None:
        _CKPT_ROOT = tempfile.mkdtemp(prefix="morph-spark-ckpt-")
        atexit.register(shutil.rmtree, _CKPT_ROOT, ignore_errors=True)
    path = os.path.join(_CKPT_ROOT, f"{tag}{uuid.uuid4().hex}")
    df.write.parquet(path)
    _CKPT_LIVE.append(path)
    if scope is not None:
        scope._add(path)
    # the writer's schema: inferring it back would cost one more job
    return df.sparkSession.read.schema(df.schema).parquet(path)


def live_checkpoints() -> list[str]:
    """Checkpoint dirs still on disk (diagnostics / tests)."""
    return list(_CKPT_LIVE)


def cache(df: DataFrame) -> DataFrame:
    """persist() + register for a later :func:`release_caches`."""
    df = df.persist()
    _LIVE.append(df)
    return df


def job_mark() -> tuple[int, int]:
    """Snapshot the registries so :func:`release_since` can free only
    resources created after this point — the request-boundary hook for
    long-lived servers (SparqlEndpoint) whose input frames may
    themselves be registered checkpoints the server must not delete."""
    return (len(_LIVE), len(_CKPT_LIVE))


def release_since(mark: tuple[int, int]) -> int:
    """Unpersist frames and delete checkpoint dirs registered after
    ``mark`` (see :func:`job_mark`); returns frames unpersisted. The
    caller must serialize jobs sharing the registries (the registries
    are process-global stacks)."""
    live_n, ckpt_n = mark
    n = 0
    while len(_LIVE) > live_n:
        df = _LIVE.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # noqa: BLE001 — session may already be gone
            pass
    while len(_CKPT_LIVE) > ckpt_n:
        shutil.rmtree(_CKPT_LIVE.pop(), ignore_errors=True)
    return n


def release_caches() -> int:
    """Unpersist every registered DataFrame and delete every registered
    checkpoint directory; returns how many frames were unpersisted.

    Call at job boundaries only: the previous job's consuming action
    must have completed, because deleting a checkpoint's files (unlike
    unpersist, which merely forces recompute) breaks any still-unread
    plan built on it."""
    n = 0
    while _LIVE:
        df = _LIVE.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # noqa: BLE001 — session may already be gone
            pass
    while _CKPT_LIVE:
        shutil.rmtree(_CKPT_LIVE.pop(), ignore_errors=True)
    return n
