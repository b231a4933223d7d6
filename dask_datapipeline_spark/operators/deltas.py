"""The ``delta=<id>`` log: replay-idempotent per-batch delta
directories plus crash-safe threshold compaction — the ONE
implementation every delta-log client runs on.

A foreachBatch sink following the overwrite-by-batch-id discipline
accumulates one ``delta=<batch_id>`` directory per micro-batch under
each of its log dirs. On a long-running stream that is unbounded file
count — per-scan open/footer cost and driver listing memory — so the
log folds its committed deltas back into one base once their count
passes a threshold. Clients (a :class:`DeltaLog` each) differ only in
their log dirs and their phase-A fold:

- stage deltas (``stream_stage_deltas``): one log at the root,
  verbatim-union fold (this module's :func:`maybe_compact_deltas`);
- BM25 (``operators/bm25.py``): ``postings`` + ``stats`` logs folded
  together — postings re-clustered on token, stats summed;
- IVF (``operators/ivf_index.py``): one ``vectors`` log with
  ``__cell`` partition children; a retrain fold also stages a new
  codebook + ``_META`` that the client's ``install`` hook moves in.

Reader contract: consumers read the union via partition discovery and
treat the ``delta`` column as a PHYSICAL artifact, never data —
compaction rewrites old rows under one fresh base id, so anything
keyed on the delta value would change.

Protocol (everything below lives here and nowhere else):

- listing: :func:`list_deltas` returns only CANONICAL ``delta=<n>``
  dirs (:func:`delta_id`); anything else is never counted or folded;
- phase A: the client's fold materializes the folded base of every
  log into ``<root>/.compact`` (outside partition discovery —
  dot-prefixed dirs are invisible to readers);
- phase B: the writer lease is re-checked, then a COMMIT marker naming
  the consumed deltas of each log and the FRESH destination id (one
  below every consumed id — never a consumed name, so phase C replays
  idempotently) is written atomically: the single commit point;
- phase C (idempotent): the client's ``install`` hook runs, then
  :func:`_finish` removes the consumed dirs, moves the folded bases in
  and drops the work dir;
- recovery (:func:`recover_log`): a work dir WITH a marker is past the
  commit point — replay phase C; one without is pre-commit garbage —
  drop it. Adopting clients also move a one-shot build's flat layout
  into ``delta=-1`` (:func:`adopt_flat_layout`);
- ``exclude_from`` keeps the in-flight batch's delta out of the fold
  (folding it before the streaming commit would double-count the
  batch on a post-crash replay).

The marker is self-describing: each list-valued key names one log's
consumed deltas (``deltas`` = the root itself, any other key = the
sub-dir of that name), so phase C needs no client knowledge beyond the
optional ``install`` hook. SINGLE-WRITER: runs between micro-batches
under the sink's serialized foreachBatch. All filesystem work goes
through ``indexfs.IndexFS`` — plain paths and Hadoop URIs alike.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import SparkSession

from dask_datapipeline_spark.indexfs import IndexFS

#: the marker key of a log living at the root itself (any other log
#: is keyed by its sub-dir name)
_ROOT_KEY = "deltas"


@dataclass(frozen=True)
class DeltaLog:
    """One delta-log client. ``name`` labels its filesystem errors.
    ``subs`` are its log dirs under the root (``""`` = the root
    itself), folded together in one commit; the first one's delta
    count is what the threshold compares. ``adopt`` moves a one-shot
    build's flat layout into ``delta=-1`` on recovery.
    ``install(fs, root, work, commit)``, if set, runs first in phase C
    and must be idempotent."""

    name: str
    subs: tuple[str, ...] = ("",)
    adopt: bool = False
    install: Callable[[IndexFS, str, str, dict], None] | None = None


_STAGE_LOG = DeltaLog("delta compaction")


def _workdir(root: str) -> str:
    return IndexFS.join(root, ".compact")


def _log_dir(root: str, sub: str) -> str:
    return IndexFS.join(root, sub) if sub else root


def delta_id(name: str) -> int | None:
    """Batch id of a ``delta=<n>`` directory name, or None for a
    non-CANONICAL suffix (stray manual dir, corrupted name). Compaction
    SKIPS None ids — it cannot order them against the watermark, and
    folding an unknown dir risks destroying state it didn't write;
    before this guard a single ``delta=foo`` made ``int()`` throw and
    killed every subsequent compaction attempt for the sink
    (ADVICE r12). The skipped dir still counts against nothing and is
    left exactly where it was.

    Canonical means ASCII digits with an optional leading ``-`` ONLY
    (ADVICE r13): bare ``int()`` also accepts underscores, unicode
    digits, leading ``+`` and whitespace — a stray ``delta=1_0`` would
    parse as id 10 and get FOLDED (and could collide with a real
    ``delta=10``) while Spark's own partition-value parse disagrees.
    Only names this module itself would have written pass."""
    suffix = name.split("=", 1)[1]
    if re.fullmatch(r"-?[0-9]+", suffix) is None:
        return None
    return int(suffix)


def list_deltas(fs: IndexFS, log_dir: str) -> list[str]:
    """The canonical ``delta=<n>`` dirs under ``log_dir`` (sorted by
    name; [] for a missing dir)."""
    return [
        d
        for d in fs.listdir(log_dir)
        if d.startswith("delta=")
        and delta_id(d) is not None
        and fs.isdir(IndexFS.join(log_dir, d))
    ]


def move_in(fs: IndexFS, src: str, dst: str) -> None:
    """Move a staged dir into place unless a prior attempt already did.
    A ``dst`` COEXISTING with a live ``src`` is a partial copy from a
    crashed non-atomic (copy-then-delete) rename — ``src`` stays
    authoritative until the rename's source delete, so ``dst`` is
    rebuilt from it instead of trusted (round 14, pinned under the
    FlakyFS object-store double)."""
    if fs.isdir(src):
        fs.rmtree(dst)
        fs.move(src, dst)


def adopt_flat_layout(fs: IndexFS, log_dir: str) -> None:
    """Move a one-shot build's flat layout (data files or partition
    dirs directly under ``log_dir``) into ``delta=-1``, so delta
    appends see ONE consistent partition depth — Spark refuses
    mixed-depth layouts. Everything that is not a ``delta=`` dir moves
    along (part files with their ``.crc`` sidecars and ``_SUCCESS``).
    Triggered only by an entry Spark would read as data (its own
    hidden-path rule: no leading ``.``, no leading ``_`` unless it is a
    ``k=v`` partition dir), so a leftover ``_SUCCESS`` never creates an
    empty delta. Idempotent: a crash mid-move resumes on the next call,
    rebuilding a half-copied entry from its still-present source."""
    entries = [n for n in fs.listdir(log_dir) if not n.startswith("delta=")]
    if not any(
        not n.startswith(".") and (not n.startswith("_") or "=" in n)
        for n in entries
    ):
        return
    dest = IndexFS.join(log_dir, "delta=-1")
    fs.makedirs(dest)
    for name in entries:
        src, dst = IndexFS.join(log_dir, name), IndexFS.join(dest, name)
        if fs.isdir(src):
            fs.rmtree(dst)
        else:
            fs.delete_file(dst)
        fs.move(src, dst)


def _finish(fs: IndexFS, root: str) -> None:
    """Phase C, idempotent: per log named in the COMMIT marker, drop
    its consumed deltas and move its folded base in under the marker's
    fresh ``dest``; then drop the work dir."""
    work = _workdir(root)
    commit = fs.read_json(IndexFS.join(work, "COMMIT"))
    dest = commit["dest"]
    for key, consumed in commit.items():
        if not isinstance(consumed, list):
            continue
        sub = "" if key == _ROOT_KEY else key
        for name in consumed:
            fs.rmtree(IndexFS.join(_log_dir(root, sub), name))
        move_in(
            fs,
            IndexFS.join(_log_dir(work, sub), dest),
            IndexFS.join(_log_dir(root, sub), dest),
        )
    fs.rmtree(work)


def _phase_c(fs: IndexFS, root: str, log: DeltaLog) -> None:
    if log.install is not None:
        work = _workdir(root)
        log.install(fs, root, work, fs.read_json(IndexFS.join(work, "COMMIT")))
    _finish(fs, root)


def recover_log(root: str, log: DeltaLog) -> None:
    """Resolve a compaction a crash left half-done (called at sink
    start and before every attempt): a work dir WITH a COMMIT marker
    is past the commit point — finish phase C; one without is
    pre-commit garbage — drop it, the live logs were never touched.
    Then adopt a flat layout, for clients that do."""
    fs = IndexFS.for_path(root, log.name)
    base = root.rstrip("/")
    fs.sweep_tmp(base)  # stranded marker temps from a crashed writer
    work = _workdir(base)
    if fs.isdir(work):
        if fs.isfile(IndexFS.join(work, "COMMIT")):
            _phase_c(fs, base, log)
        else:
            fs.rmtree(work)
    if log.adopt:
        for sub in log.subs:
            adopt_flat_layout(fs, _log_dir(base, sub))


def compact_log(
    root: str,
    log: DeltaLog,
    fold: Callable[[dict, dict, str], dict | None],
    max_deltas: int | None,
    exclude_from: int | None = None,
    lease=None,
) -> bool:
    """Fold the committed deltas of every log of ``log`` into one
    fresh base once the first log holds more than ``max_deltas``
    (``None``: whenever it holds any). Deltas with batch id >=
    ``exclude_from`` are neither counted nor folded. Returns whether a
    compaction committed.

    ``fold(src, dst, work)`` is the client's phase A: ``src`` maps each
    sub to the consumed delta paths, ``dst`` to the path its folded
    base must be written to; ``work`` is the work dir for any extra
    staged state. It returns extra COMMIT-marker fields (or None)."""
    if max_deltas is not None and max_deltas < 1:
        raise ValueError(f"max_deltas={max_deltas} must be >= 1")
    fs = IndexFS.for_path(root, log.name)
    base = root.rstrip("/")
    recover_log(base, log)
    consumed = {}
    for sub in log.subs:
        names = list_deltas(fs, _log_dir(base, sub))
        if exclude_from is not None:
            names = [n for n in names if delta_id(n) < exclude_from]
        consumed[sub] = names
    count = len(consumed[log.subs[0]])
    if count == 0 or (max_deltas is not None and count <= max_deltas):
        return False
    # the folded base gets a FRESH id one below every consumed delta —
    # never a consumed name, so a phase-C replay after a crash between
    # the move-in and the work-dir sweep cannot delete the base it just
    # installed (a fixed delta=-1 dest is itself consumed on second-
    # and-later compactions)
    dest = "delta={}".format(
        min(delta_id(n) for names in consumed.values() for n in names) - 1
    )
    work = _workdir(base)
    fs.rmtree(work)
    # phase A: fold ONLY the consumed deltas, outside partition
    # discovery (an excluded in-flight delta must not leak in)
    extra = fold(
        {
            sub: [IndexFS.join(_log_dir(base, sub), n) for n in names]
            for sub, names in consumed.items()
        },
        {sub: IndexFS.join(_log_dir(work, sub), dest) for sub in log.subs},
        work,
    )
    # phase B: the atomic commit point (marker file rename). The writer
    # fence is re-checked HERE, not only at batch start — one batch
    # performs several state-touching flips and a mid-batch takeover
    # must stop before this one (ADVICE r13); a fenced writer leaves
    # only a pre-commit work dir, swept by the next recover
    if lease is not None:
        lease.check_and_renew()
    commit = {sub or _ROOT_KEY: names for sub, names in consumed.items()}
    fs.write_json_atomic(
        IndexFS.join(work, "COMMIT"), {**commit, "dest": dest, **(extra or {})}
    )
    _phase_c(fs, base, log)
    return True


# ----- stage deltas: the verbatim-union client ------------------------


def recover_delta_compaction(root: str) -> None:
    """:func:`recover_log` for a stage-delta root."""
    recover_log(root, _STAGE_LOG)


def maybe_compact_deltas(
    spark: SparkSession,
    root: str,
    max_deltas: int,
    exclude_from: int | None = None,
    lease=None,
) -> bool:
    """Fold the committed ``delta=*`` dirs under ``root`` into ONE
    fresh base delta once their count exceeds ``max_deltas`` — rows
    identical before and after (verbatim union; pytest-pinned), file
    count back to O(threshold). ``exclude_from`` is the in-sink replay
    watermark (see the module docstring)."""

    def fold(src: dict, dst: dict, work: str) -> None:
        spark.read.parquet(*src[""]).write.mode("overwrite").parquet(dst[""])

    return compact_log(root, _STAGE_LOG, fold, max_deltas, exclude_from, lease)
