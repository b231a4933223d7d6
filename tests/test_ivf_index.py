"""Materialized IVF index (operators/ivf_index.py): the index must be
a pure physical re-layout — identical answers to the in-memory
operator — and the probe scan must actually prune cell partitions."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dask_datapipeline_spark.operators.ivf_index import (
    build_ivf_index,
    ivf_topk_from_index,
)
from dask_datapipeline_spark.operators.similarity import ivf_topk
from dask_datapipeline_spark.sources.readers import load_testdata

N_CELLS, N_PROBE, K = 8, 3, 5


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_testdata(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def index_dir(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf_index"))
    meta = build_ivf_index(emb, path, n_cells=N_CELLS)
    assert meta["n_cells"] == N_CELLS and not meta["trained"]
    return path


def test_index_layout(index_dir):
    assert os.path.exists(os.path.join(index_dir, "_META"))
    parts = [
        d
        for d in os.listdir(os.path.join(index_dir, "vectors"))
        if d.startswith("__cell=")
    ]
    # default codebook = lowest-id vectors; every cell owns at least
    # its own centroid vector
    assert len(parts) == N_CELLS


def test_index_results_equal_in_memory_operator(spark, emb, index_dir):
    queries = emb.where(F.col("vec_id") % 7 == 0)
    want = sorted(
        map(
            tuple,
            ivf_topk(queries, emb, k=K, n_cells=N_CELLS, n_probe=N_PROBE).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            ivf_topk_from_index(spark, index_dir, queries, k=K, n_probe=N_PROBE).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_probe_scan_prunes_partitions(spark, emb, index_dir):
    # a single query vector probes N_PROBE cells; the vectors scan
    # must carry a static __cell partition filter (file-level pruning)
    queries = emb.where(F.col("vec_id") % 100 == 0)
    df = ivf_topk_from_index(spark, index_dir, queries, k=K, n_probe=N_PROBE)
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "__cell" in m.group(1) and "IN" in m.group(1).upper()


def test_probed_cells_bound(spark, emb, index_dir):
    # every query probing every cell still yields <= N_CELLS partitions
    out = ivf_topk_from_index(spark, index_dir, emb, k=1, n_probe=N_CELLS)
    assert out.select("query_id").distinct().count() == emb.count()


# -------------------------- PQ codes index --------------------------


from dask_datapipeline_spark.operators.ivf_index import (  # noqa: E402
    build_pq_index,
    pq_topk_from_index,
)
from dask_datapipeline_spark.operators.similarity import pq_topk  # noqa: E402


@pytest.fixture(scope="module")
def pq_index_dir(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pq_index"))
    meta = build_pq_index(emb, path, n_subspaces=8, n_codes=16)
    assert meta["n_subspaces"] == 8 and meta["n_codes"] == 16
    return path


def test_pq_index_results_equal_in_memory_operator(spark, emb, pq_index_dir):
    queries = emb.where(F.col("vec_id") % 11 == 0)
    want = sorted(
        map(tuple, pq_topk(queries, emb, k=K, n_subspaces=8, n_codes=16).collect())
    )
    got = sorted(
        map(tuple, pq_topk_from_index(spark, pq_index_dir, queries, k=K).collect())
    )
    assert got == want and len(got) > 0


def test_pq_index_scan_reads_codes_not_vectors(spark, emb, pq_index_dir):
    queries = emb.where(F.col("vec_id") % 100 == 0)
    df = pq_topk_from_index(spark, pq_index_dir, queries, k=K)
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )
    # the only parquet scan over the corpus side is the codes index
    assert "codes" in plan and "embeddings.parquet" not in plan.split("Scan parquet")[1]


def test_pq_index_rejects_bad_subspaces(spark, emb, tmp_path_factory):
    with pytest.raises(ValueError):
        build_pq_index(
            emb, str(tmp_path_factory.mktemp("bad")), n_subspaces=7, dim=64
        )


# ------------------------- IVF-PQ index -----------------------------


from dask_datapipeline_spark.operators.ivf_index import (  # noqa: E402
    build_ivfpq_index,
    ivfpq_topk_from_index,
)
from dask_datapipeline_spark.operators.similarity import ivfpq_topk  # noqa: E402


@pytest.fixture(scope="module")
def ivfpq_index_dir(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivfpq_index"))
    meta = build_ivfpq_index(
        emb, path, n_cells=N_CELLS, n_subspaces=8, n_codes=16, residual=True
    )
    assert meta["residual"] and meta["n_cells"] == N_CELLS
    return path


def test_ivfpq_index_results_equal_in_memory_operator(spark, emb, ivfpq_index_dir):
    queries = emb.where(F.col("vec_id") % 13 == 0)
    want = sorted(
        map(
            tuple,
            ivfpq_topk(
                queries, emb, k=K, n_cells=N_CELLS, n_probe=N_PROBE,
                n_subspaces=8, n_codes=16, residual=True,
            ).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            ivfpq_topk_from_index(
                spark, ivfpq_index_dir, queries, k=K, n_probe=N_PROBE
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_ivfpq_index_probe_prunes_partitions(spark, emb, ivfpq_index_dir):
    queries = emb.where(F.col("vec_id") % 100 == 0)
    df = ivfpq_topk_from_index(spark, ivfpq_index_dir, queries, k=K, n_probe=N_PROBE)
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "__cell" in m.group(1) and "IN" in m.group(1).upper()
    # the corpus side scans codes, never embeddings
    assert "embeddings.parquet" not in plan.split("Scan parquet")[1]


def test_index_roundtrip_via_file_uri(spark, emb, tmp_path):
    """_META must live behind the Hadoop FileSystem API: build and
    probe through an explicit file: URI (plain open() cannot read
    one), asserting identical answers to the in-memory operator."""
    uri = "file://" + str(tmp_path / "ivf_uri_index")
    build_ivf_index(emb, uri, n_cells=N_CELLS)
    queries = emb.where(F.col("vec_id") % 11 == 0)
    want = sorted(
        map(tuple, ivf_topk(queries, emb, k=K, n_cells=N_CELLS, n_probe=N_PROBE).collect())
    )
    got = sorted(
        map(tuple, ivf_topk_from_index(spark, uri, queries, k=K, n_probe=N_PROBE).collect())
    )
    assert got == want


def test_repeated_probes_leak_no_cache_entries(spark, emb, index_dir):
    """The probe path must not pin CacheManager entries: three
    repeated queries leave the session cache as empty as it started
    (the old persist() leaked one entry per call, unbounded in a
    serving loop)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # other modules may leave entries; start clean
    assert cm.isEmpty()
    queries = emb.where(F.col("vec_id") % 13 == 0)
    for _ in range(3):
        ivf_topk_from_index(spark, index_dir, queries, k=K, n_probe=N_PROBE).count()
    assert cm.isEmpty()


# ----- incremental maintenance: append / compaction / streaming -------


def test_recovery_heals_half_done_adoption(spark, emb, tmp_path):
    """A crash midway through flat-layout adoption leaves vectors/
    mixed-depth (CONFLICTING_DIRECTORY_STRUCTURES on probe); sink-start
    recovery must resume the idempotent adoption, not just compactions."""
    import shutil

    from dask_datapipeline_spark.operators.ivf_index import (
        append_to_ivf_index,
        recover_ivf_compaction,
    )

    path = str(tmp_path / "idx")
    build_ivf_index(emb, path, n_cells=N_CELLS)
    # simulate the mid-adoption crash: ONE flat cell dir already moved
    root = os.path.join(path, "vectors")
    cells = sorted(d for d in os.listdir(root) if d.startswith("__cell="))
    assert len(cells) >= 2
    os.makedirs(os.path.join(root, "delta=-1"))
    shutil.move(
        os.path.join(root, cells[0]), os.path.join(root, "delta=-1", cells[0])
    )
    recover_ivf_compaction(path)
    assert not any(d.startswith("__cell=") for d in os.listdir(root))
    assert sorted(
        d for d in os.listdir(os.path.join(root, "delta=-1"))
        if d.startswith("__cell=")
    ) == cells
    # the healed index answers probes; a later append still lands
    queries = emb.where(F.col("vec_id") % 11 == 0)
    got = ivf_topk_from_index(spark, path, queries, k=K, n_probe=N_PROBE)
    assert got.count() > 0
    append_to_ivf_index(emb.limit(5), path, 0)
    assert os.path.isdir(os.path.join(root, "delta=0"))


def _planted_drift_index(spark, emb, tmp_path, shift=0.5):
    """Base = vec_id<300 as built; delta 0 = the rest shifted +shift
    per element (double math, float-cast on append — the drift the
    frozen codebook was never trained for)."""
    from dask_datapipeline_spark.operators.ivf_index import append_to_ivf_index

    path = str(tmp_path / "drift_idx")
    build_ivf_index(emb.where(F.col("vec_id") < 300), path, n_cells=N_CELLS)
    shifted = emb.where(F.col("vec_id") >= 300).select(
        "vec_id",
        F.transform("embedding", lambda e: e + F.lit(shift)).alias("embedding"),
    )
    append_to_ivf_index(shifted, path, 0)
    return path, shifted


def test_drift_report_trips_on_planted_shift(spark, emb, tmp_path):
    from dask_datapipeline_spark.operators.ivf_index import ivf_drift_report

    path, _ = _planted_drift_index(spark, emb, tmp_path)
    rep = {int(r["delta"]): r for r in ivf_drift_report(spark, path).collect()}
    assert set(rep) == {-1, 0}
    base, delta = rep[-1], rep[0]
    assert base["occ_l1"] == 0.0  # the base IS the reference
    assert delta["mean_residual"] > base["mean_residual"]
    assert delta["occ_l1"] > 0.1  # occupancy diverges from the base
    assert base["n_vectors"] + delta["n_vectors"] == emb.count()


def test_retrain_compaction_recovers_recall(spark, emb, tmp_path):
    """The drift escape hatch: frozen-codebook probes lose recall on a
    drifted corpus (cell boundaries cut through the shifted cloud);
    compact_ivf_index(retrain=True) re-fits the codebook over the full
    mixture and recall against the brute-force truth recovers.
    Measured at sf0.01: frozen 0.83, retrained 1.0."""
    import numpy as np

    from dask_datapipeline_spark.operators.ivf_index import (
        _read_meta,
        compact_ivf_index,
        ivf_drift_report,
    )

    # explicitly sf0.01 (not the suite default): the smaller fixture's
    # shifted cloud fits one frozen cell and recall barely moves —
    # 4k+ vectors is where the frozen boundaries measurably cut it
    emb = load_testdata(spark, "/root/testdata/sf0.01", "embeddings")
    path, shifted = _planted_drift_index(spark, emb, tmp_path)
    # drifted-corpus ground truth (stored floats, exact cosine)
    rows = emb.collect()
    ids = np.array([r[0] for r in rows])
    mat = np.stack([np.asarray(r[1], float) for r in rows])
    o = np.argsort(ids)
    ids, mat = ids[o], mat[o]
    m = ids >= 300
    mat[m] = (mat[m] + 0.5).astype(np.float32).astype(float)
    qidx = np.where(m)[0][:64]
    sc = (mat[qidx] @ mat.T) / (
        np.linalg.norm(mat[qidx], axis=1)[:, None]
        * np.linalg.norm(mat, axis=1)[None, :]
    )
    truth = {
        int(ids[i]): set(ids[np.lexsort((ids, -sc[j]))[:10]].tolist())
        for j, i in enumerate(qidx)
    }
    qdf = shifted.join(
        spark.createDataFrame([(int(i),) for i in ids[qidx]], "vec_id long"),
        "vec_id",
    )

    def recall(df):
        got: dict = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return float(
            np.mean([len(got.get(q, set()) & t) / 10 for q, t in truth.items()])
        )

    frozen_rep = {
        int(r["delta"]): r for r in ivf_drift_report(spark, path).collect()
    }
    frozen = recall(ivf_topk_from_index(spark, path, qdf, k=10, n_probe=2))
    assert compact_ivf_index(spark, path, retrain=True) is True
    retrained = recall(ivf_topk_from_index(spark, path, qdf, k=10, n_probe=2))
    assert retrained >= frozen + 0.05 and retrained >= 0.95
    # distortion drops corpus-wide and _META records the retrain
    rep2 = list(ivf_drift_report(spark, path).collect())
    assert len(rep2) == 1  # everything folded into one fresh base
    assert rep2[0]["mean_residual"] < frozen_rep[0]["mean_residual"]
    meta = _read_meta(spark, path)
    assert meta["trained"] is True and meta["retrain_sample"] == 4096


def test_plain_compact_is_bit_identical_and_append_casts_dtype(
    spark, emb, tmp_path
):
    """retrain=False full fold must not move a single probe row; and a
    double-element batch appended to a float-element index is cast to
    the index dtype (a mixed-type delta fails every later union read
    with SchemaColumnConvertNotSupported)."""
    from dask_datapipeline_spark.operators.ivf_index import compact_ivf_index

    path, _ = _planted_drift_index(spark, emb, tmp_path)
    queries = emb.where(F.col("vec_id") % 13 == 0)
    before = sorted(
        map(
            tuple,
            ivf_topk_from_index(spark, path, queries, k=K, n_probe=N_PROBE).collect(),
        )
    )
    assert compact_ivf_index(spark, path) is True
    after = sorted(
        map(
            tuple,
            ivf_topk_from_index(spark, path, queries, k=K, n_probe=N_PROBE).collect(),
        )
    )
    assert after == before
    # the appended delta holds FLOAT elements even though the batch
    # carried doubles (F.transform promoted them)
    import pyspark.sql.types as T

    root = str(tmp_path / "drift_idx" / "vectors")
    delta0 = spark.read.parquet(root)
    el = delta0.schema["embedding"].dataType.elementType
    assert isinstance(el, T.FloatType)


def test_incremental_append_equals_one_shot(spark, emb, tmp_path):
    """Frozen-codebook appends = one-shot build over the union, probes
    bit-identical (the FAISS add contract). Base gets the lowest ids
    so both paths derive the SAME untrained codebook."""
    from dask_datapipeline_spark.operators.ivf_index import append_to_ivf_index

    full = str(tmp_path / "full")
    build_ivf_index(emb, full, n_cells=N_CELLS)
    inc = str(tmp_path / "inc")
    build_ivf_index(emb.where(F.col("vec_id") < 200), inc, n_cells=N_CELLS)
    append_to_ivf_index(
        emb.where((F.col("vec_id") >= 200) & (F.col("vec_id") < 350)), inc, 0
    )
    append_to_ivf_index(emb.where(F.col("vec_id") >= 350), inc, 1)

    queries = emb.where(F.col("vec_id") % 7 == 0)
    want = sorted(map(tuple, ivf_topk_from_index(spark, full, queries, k=K, n_probe=N_PROBE).collect()))
    got = sorted(map(tuple, ivf_topk_from_index(spark, inc, queries, k=K, n_probe=N_PROBE).collect()))
    assert got == want and len(got) > 0

    # replay of a batch (crash before the streaming commit) is a
    # harmless overwrite
    append_to_ivf_index(emb.where(F.col("vec_id") >= 350), inc, 1)
    again = sorted(map(tuple, ivf_topk_from_index(spark, inc, queries, k=K, n_probe=N_PROBE).collect()))
    assert again == want


def test_incremental_compaction_bit_identical_and_watermarked(spark, emb, tmp_path):
    import os as _os

    from dask_datapipeline_spark.operators.ivf_index import (
        append_to_ivf_index,
        maybe_compact_ivf_index,
    )

    idx = str(tmp_path / "c")
    build_ivf_index(emb.where(F.col("vec_id") < 200), idx, n_cells=N_CELLS)
    for b in range(3):
        append_to_ivf_index(
            emb.where(
                (F.col("vec_id") >= 200 + b * 100) & (F.col("vec_id") < 300 + b * 100)
            ),
            idx,
            b,
        )
    queries = emb.where(F.col("vec_id") % 7 == 0)
    want = sorted(map(tuple, ivf_topk_from_index(spark, idx, queries, k=K, n_probe=N_PROBE).collect()))

    # under threshold: no-op
    assert maybe_compact_ivf_index(spark, idx, max_deltas=8) is False
    # watermark keeps the in-flight batch (id 2) out of fold and count
    assert maybe_compact_ivf_index(spark, idx, max_deltas=1, exclude_from=2) is True
    deltas = sorted(
        d for d in _os.listdir(idx + "/vectors") if d.startswith("delta=")
    )
    # the fold consumed the adopted delta=-1 base, so the new base gets
    # the FRESH id delta=-2 (phase-C idempotence depends on it)
    assert deltas == ["delta=-2", "delta=2"]
    got = sorted(map(tuple, ivf_topk_from_index(spark, idx, queries, k=K, n_probe=N_PROBE).collect()))
    assert got == want
    # replayed in-flight batch overwrites its still-live delta
    append_to_ivf_index(
        emb.where((F.col("vec_id") >= 400) & (F.col("vec_id") < 500)), idx, 2
    )
    again = sorted(map(tuple, ivf_topk_from_index(spark, idx, queries, k=K, n_probe=N_PROBE).collect()))
    assert again == want
    with pytest.raises(ValueError, match="max_deltas"):
        maybe_compact_ivf_index(spark, idx, max_deltas=0)


def test_incremental_compaction_crash_recovery(spark, emb, tmp_path):
    import json as _json
    import os as _os
    import shutil as _shutil

    from dask_datapipeline_spark.operators.deltas import _workdir
    from dask_datapipeline_spark.operators.ivf_index import (
        append_to_ivf_index,
        maybe_compact_ivf_index,
        recover_ivf_compaction,
    )

    idx = str(tmp_path / "r")
    build_ivf_index(emb.where(F.col("vec_id") < 200), idx, n_cells=N_CELLS)
    for b in range(2):
        append_to_ivf_index(
            emb.where(
                (F.col("vec_id") >= 200 + b * 150) & (F.col("vec_id") < 350 + b * 150)
            ),
            idx,
            b,
        )
    queries = emb.where(F.col("vec_id") % 7 == 0)
    want = sorted(map(tuple, ivf_topk_from_index(spark, idx, queries, k=K, n_probe=N_PROBE).collect()))

    # crash BEFORE commit: pre-commit garbage dropped, index untouched
    work = _workdir(idx)
    _os.makedirs(_os.path.join(work, "vectors"), exist_ok=True)
    recover_ivf_compaction(idx)
    assert not _os.path.isdir(work)
    got = sorted(map(tuple, ivf_topk_from_index(spark, idx, queries, k=K, n_probe=N_PROBE).collect()))
    assert got == want

    # crash AFTER commit (between phases B and C): recreate the exact
    # post-B state — a REAL fold of the live deltas in the work dir
    # plus the COMMIT marker (fresh dest name), live dirs in place —
    # and recover
    assert maybe_compact_ivf_index(spark, idx, max_deltas=1) is True
    live = sorted(
        d for d in _os.listdir(idx + "/vectors") if d.startswith("delta=")
    )
    dest = "delta={}".format(min(int(d.split("=")[1]) for d in live) - 1)
    meta_cols = ["vec_id", "embedding", "__cell"]
    (
        spark.read.option("basePath", _os.path.join(idx, "vectors"))
        .parquet(*[_os.path.join(idx, "vectors", d) for d in live])
        .select(*meta_cols)
        .write.mode("overwrite")
        .partitionBy("__cell")
        .parquet(_os.path.join(work, "vectors", dest))
    )
    with open(_os.path.join(work, "COMMIT"), "w") as f:
        _json.dump({"vectors": live, "dest": dest}, f)
    recover_ivf_compaction(idx)
    assert not _os.path.isdir(work)
    after = sorted(
        d for d in _os.listdir(idx + "/vectors") if d.startswith("delta=")
    )
    assert after == [dest]  # consumed deltas swept, base moved in
    got2 = sorted(map(tuple, ivf_topk_from_index(spark, idx, queries, k=K, n_probe=N_PROBE).collect()))
    assert got2 == want

    # the data-loss regression the fresh dest name exists for: a crash
    # BETWEEN the move-in and the work-dir sweep leaves COMMIT + an
    # already-moved base; the recovery replay must NOT delete the base
    # it just installed (a fixed delta=-1 dest was in the consumed
    # list of every second-and-later compaction and got rmtree'd)
    _os.makedirs(_os.path.join(work, "vectors"), exist_ok=True)
    with open(_os.path.join(work, "COMMIT"), "w") as f:
        # consumed names already swept; dest already moved in
        _json.dump({"vectors": live, "dest": dest}, f)
    recover_ivf_compaction(idx)
    assert not _os.path.isdir(work)
    got3 = sorted(map(tuple, ivf_topk_from_index(spark, idx, queries, k=K, n_probe=N_PROBE).collect()))
    assert got3 == want


def test_streaming_ivf_sink_equals_one_shot(spark, emb, tmp_path):
    import os as _os
    import shutil as _shutil
    import time as _time

    from dask_datapipeline_spark.streaming.windows import (
        stream_incremental_ivf_index,
    )

    full = str(tmp_path / "full")
    build_ivf_index(emb, full, n_cells=N_CELLS)

    idx = str(tmp_path / "sidx")
    build_ivf_index(emb.where(F.col("vec_id") < 200), idx, n_cells=N_CELLS)
    staged = str(tmp_path / "staged")
    _os.makedirs(staged)
    work = str(tmp_path / "w")
    for i, lo in enumerate(range(200, 500, 100)):
        part = emb.where((F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 100))
        tmp = _os.path.join(work, f"t{i}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = next(
            _os.path.join(tmp, f) for f in _os.listdir(tmp) if f.endswith(".parquet")
        )
        dst = _os.path.join(staged, f"chunk-{i}.parquet")
        _shutil.move(src, dst)
        _os.utime(dst, (_time.time() + i, _time.time() + i))
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in emb.schema)
    stream_incremental_ivf_index(
        spark, staged, idx, schema,
        checkpoint_dir=str(tmp_path / "ck"),
        compact_max_deltas=1,
    )
    # the policy bounded the delta count (base + at most threshold+1)
    deltas = [d for d in _os.listdir(idx + "/vectors") if d.startswith("delta=")]
    assert len(deltas) <= 3
    queries = emb.where(F.col("vec_id") % 7 == 0)
    want = sorted(map(tuple, ivf_topk_from_index(spark, full, queries, k=K, n_probe=N_PROBE).collect()))
    got = sorted(map(tuple, ivf_topk_from_index(spark, idx, queries, k=K, n_probe=N_PROBE).collect()))
    assert got == want


def test_retrain_policy_fires_on_drift_and_settles(spark, emb, tmp_path):
    """maybe_retrain_ivf_index: the drift thresholds connect the
    report to the retrain — planted drift trips it exactly once
    (after the retrain the index is one fresh base and the policy is
    a no-op), an undrifted index never fires, and a thresholdless
    call is rejected."""
    from dask_datapipeline_spark.operators.ivf_index import (
        append_to_ivf_index,
        ivf_drift_report,
        maybe_retrain_ivf_index,
    )

    path, _ = _planted_drift_index(spark, emb, tmp_path)
    base_mean = {
        int(r["delta"]): r["mean_residual"]
        for r in ivf_drift_report(spark, path).collect()
    }[-1]
    # threshold between base and drifted distortion: fires once
    tau = base_mean + 0.01
    assert maybe_retrain_ivf_index(spark, path, max_mean_residual=tau) is True
    assert maybe_retrain_ivf_index(spark, path, max_mean_residual=tau) is False
    rep = ivf_drift_report(spark, path).collect()
    assert len(rep) == 1 and rep[0]["mean_residual"] < base_mean
    # an UNDRIFTED append under the retrained codebook stays quiet on
    # the occupancy axis with a generous distortion ceiling
    append_to_ivf_index(emb.where(F.col("vec_id") < 50), path, 7)

    def _index_state():
        out = {}
        for root, _dirs, files in os.walk(path):
            for f in files:
                p = os.path.join(root, f)
                out[p] = (os.path.getsize(p), os.path.getmtime(p))
        return out

    before = _index_state()
    assert (
        maybe_retrain_ivf_index(spark, path, max_mean_residual=2.0, max_occ_l1=2.0)
        is False
    )
    # NO-OP COST PIN (round 13; the cadence guidance in docs/SCALE.md
    # relies on this): a policy call that does not fire pays ONLY the
    # drift report — a bounded read — and never rewrites a byte of the
    # index (no fold, no codebook churn, no _META flip)
    assert _index_state() == before
    import pytest as _pytest

    with _pytest.raises(ValueError, match="threshold"):
        maybe_retrain_ivf_index(spark, path)
