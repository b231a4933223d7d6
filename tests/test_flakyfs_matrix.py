"""The two-phase/snapshot crash matrix under OBJECT-STORE rename
semantics (round 14; VERDICT r13 item 5): every protocol either heals
to an exact pre- or post-commit state or raises loudly — never a
silent partial install. ``FlakyFS`` (tests/flaky_fs.py) injects
crashes mid-copy, between copy and source-delete, and mid-marker."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from tests.flaky_fs import FlakyFS, InjectedCrash, install, uninstall


@pytest.fixture
def flaky():
    fs = install()
    yield fs
    uninstall()


def _rows(spark, path):
    df = spark.read.parquet(path)
    if "delta" in df.columns:  # physical partition artifact, never data
        df = df.drop("delta")
    return sorted(map(tuple, df.collect()))


# ----- delta-log compaction: one matrix over every client -------------------


def _mk_stage(spark, root):
    for i in range(3):
        spark.range(4).withColumn("b", F.lit(i)).write.parquet(
            f"{root}/delta={i}"
        )


def _mk_bm25(spark, root):
    for i in range(3):
        spark.createDataFrame(
            [(f"tok{j}", 100 * i + j, 5, 1) for j in range(4)],
            "token string, doc_id long, dl long, tf long",
        ).write.parquet(f"{root}/postings/delta={i}")
        spark.createDataFrame(
            [(4, 20)], "n_docs long, sum_dl long"
        ).write.parquet(f"{root}/stats/delta={i}")


def _mk_ivf(spark, root):
    for i in range(3):
        spark.createDataFrame(
            [
                (10 * i + j, [float(j % 2), float(j // 2), 1.0, float(i)], j % 2)
                for j in range(4)
            ],
            "vec_id long, embedding array<float>, __cell long",
        ).write.partitionBy("__cell").parquet(f"{root}/vectors/delta={i}")
    spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "cell_id long, centroid array<double>",
    ).coalesce(1).write.parquet(f"{root}/codebook")
    meta = {
        "id_col": "vec_id", "vec_col": "embedding", "n_cells": 2,
        "trained": False, "dim": 4,
    }
    with open(f"{root}/_META", "w") as f:
        json.dump(meta, f)


def _client(name):
    """(build, compact, recover, log dirs, extra state) of a client."""
    from dask_datapipeline_spark.operators import bm25, deltas, ivf_index

    return {
        "stage": (
            _mk_stage,
            lambda spark, r: deltas.maybe_compact_deltas(spark, r, max_deltas=1),
            deltas.recover_delta_compaction,
            [""],
            [],
        ),
        "bm25": (
            _mk_bm25,
            lambda spark, r: bm25.maybe_compact_bm25_index(spark, r, max_deltas=1),
            bm25.recover_bm25_compaction,
            ["postings", "stats"],
            [],
        ),
        "ivf": (
            _mk_ivf,
            lambda spark, r: ivf_index.maybe_compact_ivf_index(
                spark, r, max_deltas=1
            ),
            ivf_index.recover_ivf_compaction,
            ["vectors"],
            ["codebook", "_META"],
        ),
        # the retrain commit also swaps the codebook and rewrites _META
        "ivf-retrain": (
            _mk_ivf,
            lambda spark, r: ivf_index.compact_ivf_index(spark, r, retrain=True),
            ivf_index.recover_ivf_compaction,
            ["vectors"],
            ["codebook", "_META"],
        ),
    }[name]


def _state(spark, root, logs, extras):
    """Everything a reader of the index can observe."""
    out = {}
    for sub in logs:
        d = os.path.join(root, sub)
        names = sorted(n for n in os.listdir(d) if n.startswith("delta="))
        out[sub] = (names, _rows(spark, d))
    for name in extras:
        path = os.path.join(root, name)
        if os.path.isdir(path):
            out[name] = _rows(spark, path)
        else:
            with open(path) as f:
                out[name] = json.load(f)
    return out


# (client, step, after, committed): committed = the crash lands past
# the COMMIT marker, so recovery must complete the fold
_MATRIX = [
    (client, step, after, committed)
    for client in ("stage", "bm25", "ivf")
    for step, after, committed in [
        ("marker.staged", 0, False),  # COMMIT temp stranded, never published
        ("move.copy", 0, True),  # dst created but EMPTY
        ("move.copy", 1, True),  # strict prefix of entries copied (partial dst)
        ("move.staged", 0, True),  # copy complete, source delete pending
    ]
] + [
    ("bm25", "move.staged", 1, True),  # between the postings and stats moves
    # the retrain hook runs first in phase C: codebook, _META, vectors
    ("ivf-retrain", "move.copy", 1, True),  # partial codebook copy
    ("ivf-retrain", "move.staged", 1, True),  # codebook in, vectors pending
    ("ivf-retrain", "marker.staged", 1, True),  # mid _META rewrite
]


@pytest.fixture(scope="module")
def _reference():
    """client -> (pre-compaction state, uncrashed post-commit state),
    computed once per client (the builds are deterministic)."""
    return {}


@pytest.mark.parametrize("client,step,after,committed", _MATRIX)
def test_delta_log_crash_matrix(
    spark, tmp_path, flaky, _reference, client, step, after, committed
):
    """Every delta-log client under object-store rename semantics: a
    crash anywhere in the commit either leaves the live logs exactly
    as they were (pre-commit; the next attempt completes) or recovery
    replays phase C to the exact state of an uncrashed compaction."""
    build, compact, recover, logs, extras = _client(client)
    root = str(tmp_path / "log")
    build(spark, root)
    if client not in _reference:
        ref = str(tmp_path / "ref")
        shutil.copytree(root, ref)
        before = _state(spark, ref, logs, extras)
        assert compact(spark, ref)
        _reference[client] = (before, _state(spark, ref, logs, extras))
    before, want = _reference[client]
    assert all(want[sub][0] == ["delta=-1"] for sub in logs)

    flaky.fail_at(step, after)
    with pytest.raises(InjectedCrash):
        compact(spark, root)
    if committed:
        recover(root)
    else:
        assert _state(spark, root, logs, extras) == before  # live state intact
        assert compact(spark, root)
    assert _state(spark, root, logs, extras) == want  # never partial
    assert not os.path.exists(f"{root}/.compact")
    # stranded marker temps were swept by the recovery
    assert not any(
        ".tmp-" in n for _, _, files in os.walk(root) for n in files
    )


# ----- snapshot swap (the sketch-sink state dir) ----------------------------


def _mk_snapdir(path, payload):
    os.makedirs(path)
    with open(os.path.join(path, "state.json"), "w") as f:
        f.write(json.dumps(payload))


def _live(base):
    with open(os.path.join(base, "state.json")) as f:
        return json.load(f)


@pytest.mark.parametrize(
    "step,after,survivor",
    [
        # one entry per snapshot dir → firings: marker.staged 0/1 are
        # the phase-1/phase-2 sentinel writes; move.copy/staged 0 is
        # base→old, 1 is staging→base
        ("marker.staged", 0, "v1"),  # crash before anything moved
        ("move.copy", 0, "v1"),  # base→old: old left partial, base intact
        ("move.staged", 0, "v1"),  # base→old copy done, delete pending
        ("marker.staged", 1, "v1"),  # crash writing phase-2 sentinel: base
        #   already moved to old — recover must restore old (v1)
        ("move.copy", 1, "v1"),  # staging→base mid-copy: partial base
        ("move.staged", 1, "v1"),  # staging→base copy done, staging still
        #   present: conservative restore (batch replays)
        (None, 0, "v2"),  # no crash: v2 installs
    ],
)
def test_snapshot_swap_heals_every_boundary(tmp_path, flaky, step, after, survivor):
    from dask_datapipeline_spark.streaming.windows import _Snapshot

    base = str(tmp_path / "snap")
    _mk_snapdir(base, {"v": "v1"})
    snap = _Snapshot(base, "matrix")
    staging = snap.staging()
    _mk_snapdir(staging, {"v": "v2"})
    if step is None:
        snap.swap(staging)
    else:
        flaky.fail_at(step, after)
        with pytest.raises(InjectedCrash):
            snap.swap(staging)
        snap.recover()
    assert _live(base) == {"v": survivor}
    # recovery leaves no siblings and no sentinel behind
    snap.recover()
    parent = os.path.dirname(base)
    leftovers = [
        d
        for d in os.listdir(parent)
        if d.startswith("snap.old-")
        or d.startswith("snap.stage-")
        or d.startswith("snap.swap")  # sentinel + its stranded temps
    ]
    assert leftovers == []


def test_snapshot_corrupt_sentinel_is_loud(tmp_path, flaky):
    from dask_datapipeline_spark.streaming.windows import _Snapshot

    base = str(tmp_path / "snap")
    _mk_snapdir(base, {"v": "v1"})
    snap = _Snapshot(base, "matrix")
    with open(base + ".swap", "w") as f:
        f.write("not json{")
    with pytest.raises(ValueError, match="corrupt swap sentinel"):
        snap.recover()


def test_snapshot_unrecoverable_state_is_loud(tmp_path, flaky):
    """Sentinel says base→old was in flight but BOTH dirs are gone
    (operator deleted them by hand): recover refuses to guess."""
    from dask_datapipeline_spark.streaming.windows import _Snapshot

    base = str(tmp_path / "snap")
    _mk_snapdir(base, {"v": "v1"})
    snap = _Snapshot(base, "matrix")
    with open(base + ".swap", "w") as f:
        f.write(json.dumps({"phase": 1, "old": "snap.old-dead", "staging": "snap.stage-x"}))

    shutil.rmtree(base)
    with pytest.raises(ValueError, match="unrecoverable"):
        snap.recover()


def test_lease_protocol_runs_on_flaky_backend(tmp_path, flaky):
    """The create-exclusive acquire and fencing work unchanged on the
    object-store double (single-object operations are atomic there)."""
    from dask_datapipeline_spark.lease import LeaseHeldError, WriterLease

    root = str(tmp_path / "idx")
    a = WriterLease(root, owner="a", ttl_sec=100)
    b = WriterLease(root, owner="b", ttl_sec=100)
    assert a.acquire() == 1
    with pytest.raises(LeaseHeldError):
        b.acquire()
    a.release()
    assert b.acquire() == 2
