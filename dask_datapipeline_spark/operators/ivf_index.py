"""Materialized IVF index: build once, probe with partition pruning.

docs/SCALE.md §Similarity describes the 100 TB deployment of the IVF
k-NN family: "the assigned corpus is written partitioned by cell (the
'index build'); the probe join then prunes to the probed cells'
partitions". This module implements that path (the ANN sibling of
``operators/minhash_index.py``):

- ``build_ivf_index`` assigns every corpus vector to its coarse cell
  (one Arrow pass, codebook in the UDF closure) and writes the corpus
  PARTITIONED BY cell, plus the codebook and a ``_META`` parameter
  record.
- ``ivf_topk_from_index`` serves k-NN queries against the index: the
  probed cell set is at most ``n_cells`` values (collected — a
  bounded driver list, same contract as the codebook itself), so the
  corpus scan carries a static ``__cell IN (...)`` partition filter —
  Spark's file index then PRUNES unprobed cell directories before any
  I/O. At 100 TB with n_probe=4 of 100k cells, the scan reads
  ~0.004% of the index files; that pruning, not the join, is the
  scale win of building the index at all.

The same module hosts the PQ codes index (``build_pq_index`` /
``pq_topk_from_index``): the corpus stored as ``n_subspaces`` small
ints per vector (64 dims → 8 bytes — the 8-32× storage/IO reduction
that IS the point of PQ), scanned forever after in place of the
vectors; query-side ADC tables build executor-side from the stored
sub-codebook exactly as in the in-memory operator.

Results are IDENTICAL to the in-memory ``similarity.ivf_topk`` /
``similarity.pq_topk`` with the same parameters (asserted in tests):
an index is a physical re-layout, never a semantic change.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dask_datapipeline_spark.errors import require_columns
from dask_datapipeline_spark.indexfs import IndexFS
from dask_datapipeline_spark.operators.deltas import (
    DeltaLog,
    adopt_flat_layout,
    compact_log,
    delta_id,
    list_deltas,
    move_in,
    recover_log,
)
from dask_datapipeline_spark.operators.similarity import (
    TRAIN_SEED,
    _cell_of_udf,
    _coarse_codebook,
    _cosine_batch_seq,
    _seq_dot,
    _seq_sq_norm,
    _stack,
)
from dask_datapipeline_spark.parallel import fan_out


def _write_meta(spark: SparkSession, path: str, meta: dict) -> None:
    """Persist ``<path>/_META`` through the indexfs shim, so the index
    lives wherever the parquet does (plain paths → os I/O; file:/hdfs:/
    s3a: URIs → the Hadoop FileSystem API — a plain ``open()`` would
    silently write to the driver's LOCAL disk for a non-local URI and
    the index becomes unreadable at scale). ONE write channel per
    namespace: mixing Hadoop writes (which keep .crc sidecars on the
    checksummed local FS) with plain rewrites of the same file leaves
    a stale checksum that fails every later Hadoop read."""
    IndexFS.for_path(path, "_write_meta").write_json_atomic(
        IndexFS.join(path, "_META"), meta
    )


def _read_meta(spark: SparkSession, path: str) -> dict:
    return IndexFS.for_path(path, "_read_meta").read_json(
        IndexFS.join(path, "_META")
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trained: bool = False,
    train_sample: int = 4096,
    train_iter: int = 10,
    train_seed: int = TRAIN_SEED,
) -> dict:
    """Write the cell-partitioned corpus + codebook (see module
    docstring). One Arrow assignment pass; the partitioned write is
    the only exchange (hash on the partition column). Returns the
    metadata dict, also persisted as ``<path>/_META``."""
    require_columns(corpus, [id_col, vec_col])
    c_ids, c_mat = _coarse_codebook(
        corpus, id_col, vec_col, n_cells, trained, train_sample, train_iter, train_seed
    )
    cell_of = _cell_of_udf(c_ids, c_mat)
    assigned = fan_out(corpus.select(id_col, vec_col)).select(
        id_col, vec_col, cell_of(F.col(vec_col)).alias("__cell")
    )
    assigned.write.mode("overwrite").partitionBy("__cell").parquet(
        os.path.join(path, "vectors")
    )
    spark = corpus.sparkSession
    _write_codebook(spark, c_ids, c_mat, os.path.join(path, "codebook"))
    meta = {
        "id_col": id_col,
        "vec_col": vec_col,
        "n_cells": int(n_cells),
        "trained": bool(trained),
        "dim": int(c_mat.shape[1]),
    }
    _write_meta(spark, path, meta)
    return meta


def _write_codebook(spark: SparkSession, c_ids, c_mat, path: str) -> None:
    spark.createDataFrame(
        [(int(cid), [float(x) for x in row]) for cid, row in zip(c_ids, c_mat)],
        "cell_id long, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def _load_codebook(spark: SparkSession, path: str):
    """(cell ids, centroid matrix) of a built index — THE one loader
    (ordering is the determinism contract: cell_id ASC), shared by the
    probe and the append paths so assignment can never drift from the
    codebook the index was built with."""
    book = (
        spark.read.parquet(os.path.join(path, "codebook"))
        .orderBy("cell_id")
        .collect()
    )
    c_ids = np.array([r.cell_id for r in book], dtype=np.int64)
    c_mat = np.stack([np.asarray(r.centroid, dtype=np.float64) for r in book])
    return c_ids, c_mat


def ivf_topk_from_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """k-NN join of ``queries`` against a built index. Same output
    contract as ``similarity.ivf_topk``: (query_id, neighbor_id,
    cosine_sim, rn), ties toward the lower neighbor id.

    The probed cells are collected as a bounded list (≤ n_cells
    longs) and pushed as a STATIC partition filter, so the vectors
    scan prunes unprobed cell directories at the file-index level —
    verify with ``.explain()``: the scan's PartitionFilters carries
    the ``__cell IN (...)``."""
    meta = _read_meta(spark, path)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    require_columns(queries, [id_col, vec_col])
    c_ids, c_mat = _load_codebook(spark, path)
    c_norms = np.sqrt(_seq_sq_norm(c_mat))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def probes_of(vecs: pd.Series) -> pd.Series:
        v = _stack(vecs)
        sims = _seq_dot(v, c_mat) / (
            np.sqrt(_seq_sq_norm(v))[:, None] * c_norms[None, :]
        )
        idx = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
        return pd.Series(list(c_ids[idx]))

    probed = (
        fan_out(queries.select(id_col, vec_col))
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            F.explode(probes_of(F.col(vec_col))).alias("__cell"),
        )
        # read twice (cell-set collect + the join) — localCheckpoint,
        # not persist: the probes UDF runs once, and the materialized
        # blocks are released by the ContextCleaner when the result
        # frame is dropped; a persist here would pin a CacheManager
        # entry per query until an unpersist nobody can call (the
        # lazy result still references the cached plan).
        .localCheckpoint(eager=True)
    )
    # Bounded collect: the distinct probed-cell set is at most
    # n_cells longs regardless of query count — the same driver
    # contract as the codebook. The static IN filter is what turns
    # the join into a partition-pruned scan.
    cells = sorted(r["__cell"] for r in probed.select("__cell").distinct().collect())
    vectors = (
        spark.read.parquet(os.path.join(path, "vectors"))
        .where(F.col("__cell").isin(cells))
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cv"),
            "__cell",
        )
    )
    scored = probed.join(vectors.hint("shuffle_hash"), on="__cell").select(
        "query_id",
        "neighbor_id",
        _cosine_batch_seq(F.col("__qv"), F.col("__cv")).alias("cosine_sim"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


# ----- PQ codes index ------------------------------------------------


def build_pq_index(
    corpus: DataFrame,
    path: str,
    n_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    trained: bool = False,
    train_sample: int = 4096,
    train_iter: int = 10,
    train_seed: int = TRAIN_SEED,
) -> dict:
    """Write the PQ codes index: ``(id, codes)`` — ``n_subspaces``
    small ints per vector (64 dims → 8 bytes, the 8-32× storage/IO
    reduction that IS the point of PQ) — plus the sub-codebook and
    ``_META``. One Arrow encode pass over the corpus; forever after,
    queries scan CODES, never vectors."""
    from dask_datapipeline_spark.operators.similarity import (
        _pq_codebook,
        _pq_encode,
        _train_pq_book,
        _train_sample as _bounded_sample,
    )

    require_columns(corpus, [id_col, vec_col])
    if dim % n_subspaces != 0:
        raise ValueError(f"dim={dim} not divisible by n_subspaces={n_subspaces}")
    sub_d = dim // n_subspaces
    if trained:
        book = _train_pq_book(
            _bounded_sample(corpus, id_col, vec_col, train_sample, train_seed),
            n_codes,
            n_subspaces,
            train_iter,
            train_seed,
        )
    else:
        book = _pq_codebook(corpus, id_col, vec_col, n_codes)
    _pq_encode(corpus, book, id_col, vec_col, n_subspaces, sub_d).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "codes"))
    spark = corpus.sparkSession
    spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(book)],
        "code_id long, codeword array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "codebook"))
    meta = {
        "id_col": id_col,
        "vec_col": vec_col,
        "n_subspaces": int(n_subspaces),
        "n_codes": int(n_codes),
        "dim": int(dim),
        "trained": bool(trained),
    }
    _write_meta(spark, path, meta)
    return meta


def pq_topk_from_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """ADC k-NN against a built codes index — same output contract as
    ``similarity.pq_topk``: (query_id, neighbor_id, adc_dist, rn).
    The corpus side of the scan is the CODES parquet (8-ish bytes per
    vector); per-query distance tables build executor-side from the
    stored codebook and broadcast to the codes scan exactly as in the
    in-memory operator."""
    from dask_datapipeline_spark.operators.similarity import (
        _adc_fold,
        _pq_query_tables,
    )

    meta = _read_meta(spark, path)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    n_subspaces, n_codes = meta["n_subspaces"], meta["n_codes"]
    sub_d = meta["dim"] // n_subspaces
    require_columns(queries, [id_col, vec_col])
    book_rows = (
        spark.read.parquet(os.path.join(path, "codebook")).orderBy("code_id").collect()
    )
    book = np.stack([np.asarray(r.codeword, dtype=np.float64) for r in book_rows])
    codes = spark.read.parquet(os.path.join(path, "codes"))
    qtab = _pq_query_tables(queries, book, id_col, vec_col, n_subspaces, sub_d)
    joined = codes.withColumn("__one", F.col(id_col) * F.lit(0)).join(
        F.broadcast(qtab.withColumn("__one", F.col("query_id") * F.lit(0))),
        on="__one",
    )
    scored = joined.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        _adc_fold(n_subspaces, n_codes).alias("adc_dist"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


# ----- IVF-PQ index (cell-partitioned codes) -------------------------


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    n_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    residual: bool = True,
    trained: bool = False,
    train_sample: int = 4096,
    train_iter: int = 10,
    train_seed: int = TRAIN_SEED,
) -> dict:
    """The full FAISS-IVFPQ on-disk layout: ``(id, codes)`` rows
    PARTITIONED BY coarse cell — a probe prunes to ``n_probe`` cell
    directories of 8-byte codes, composing the IVF index's partition
    pruning with the PQ index's storage shrink. Cell and PQ codebooks
    are stored, so query time never re-derives training state.

    Codebook derivation is copied from ``similarity.ivfpq_topk``
    (lowest-id collect / seeded k-means; residual PQ book from the
    next lowest-id vectors' residuals), so a query against the index
    is bit-identical to the in-memory operator (asserted in tests)."""
    from dask_datapipeline_spark.operators.similarity import (
        _kmeans_lloyd,
        _pq_codebook,
        _seq_dot,
        _seq_sq_norm,
        _sub_sqdist,
        _train_pq_book,
        _train_sample as _bounded_sample,
    )
    from pyspark.sql import types as T
    from typing import Iterator

    require_columns(corpus, [id_col, vec_col])
    if dim % n_subspaces != 0:
        raise ValueError(f"dim={dim} not divisible by n_subspaces={n_subspaces}")
    sub_d = dim // n_subspaces

    if trained:
        x = _bounded_sample(corpus, id_col, vec_col, train_sample, train_seed)
        cells_mat = _kmeans_lloyd(x, n_cells, train_iter, train_seed, spherical=True)
    else:
        n_book = n_cells + n_codes if residual else max(n_cells, n_codes)
        book = _pq_codebook(corpus, id_col, vec_col, n_book)
        cells_mat = book[:n_cells]
    cell_norms = np.sqrt(_seq_sq_norm(cells_mat))

    def _cell_sims(mat: np.ndarray) -> np.ndarray:
        return _seq_dot(mat, cells_mat) / (
            np.sqrt(_seq_sq_norm(mat))[:, None] * cell_norms[None, :]
        )

    if trained:
        enc_src = (
            x - cells_mat[np.argmax(_cell_sims(x), axis=1)] if residual else x
        )
        pq_book = _train_pq_book(enc_src, n_codes, n_subspaces, train_iter, train_seed)
    elif residual:
        raw = book[n_cells:]
        pq_book = raw - cells_mat[np.argmax(_cell_sims(raw), axis=1)]
    else:
        pq_book = book[:n_codes]

    def _index_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            mat = _stack(pdf[vec_col])
            cell = np.argmax(_cell_sims(mat), axis=1).astype(np.int64)
            enc = mat - cells_mat[cell] if residual else mat
            codes = np.empty((len(mat), n_subspaces), dtype=np.int32)
            for j in range(n_subspaces):
                d = _sub_sqdist(
                    enc[:, j * sub_d : (j + 1) * sub_d],
                    pq_book[:, j * sub_d : (j + 1) * sub_d],
                )
                codes[:, j] = np.argmin(d, axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "__cell": cell, "codes": list(codes)}
            )

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("__cell", T.LongType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )
    fan_out(corpus.select(id_col, vec_col)).mapInPandas(_index_batch, schema).write.mode(
        "overwrite"
    ).partitionBy("__cell").parquet(os.path.join(path, "codes"))

    spark = corpus.sparkSession
    rows = [("cell", i, [float(v) for v in r]) for i, r in enumerate(cells_mat)] + [
        ("pq", i, [float(v) for v in r]) for i, r in enumerate(pq_book)
    ]
    spark.createDataFrame(
        rows, "kind string, idx long, vec array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "codebooks"))
    meta = {
        "id_col": id_col,
        "vec_col": vec_col,
        "n_cells": int(n_cells),
        "n_subspaces": int(n_subspaces),
        "n_codes": int(n_codes),
        "dim": int(dim),
        "residual": bool(residual),
        "trained": bool(trained),
    }
    _write_meta(spark, path, meta)
    return meta


def ivfpq_topk_from_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """ADC k-NN against a built IVF-PQ index: probe routing and
    per-(query, cell) distance tables build executor-side from the
    stored codebooks; the probed cell set (bounded ≤ n_cells)
    becomes a static partition filter on the codes scan — at scale a
    query touches n_probe cell directories of 8-byte codes and
    nothing else. Output contract matches ``similarity.ivfpq_topk``:
    (query_id, neighbor_id, adc_dist, rn)."""
    from dask_datapipeline_spark.operators.similarity import (
        _adc_fold,
        _seq_dot,
        _seq_sq_norm,
        _sub_sqdist,
    )
    from pyspark.sql import types as T
    from typing import Iterator

    meta = _read_meta(spark, path)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    n_subspaces, n_codes = meta["n_subspaces"], meta["n_codes"]
    residual = meta["residual"]
    sub_d = meta["dim"] // n_subspaces
    require_columns(queries, [id_col, vec_col])

    books = spark.read.parquet(os.path.join(path, "codebooks")).orderBy("idx").collect()
    cells_mat = np.stack(
        [np.asarray(r.vec, dtype=np.float64) for r in books if r.kind == "cell"]
    )
    pq_book = np.stack(
        [np.asarray(r.vec, dtype=np.float64) for r in books if r.kind == "pq"]
    )
    cell_norms = np.sqrt(_seq_sq_norm(cells_mat))

    def _cell_sims(mat: np.ndarray) -> np.ndarray:
        return _seq_dot(mat, cells_mat) / (
            np.sqrt(_seq_sq_norm(mat))[:, None] * cell_norms[None, :]
        )

    def _table_of(vecs: np.ndarray) -> np.ndarray:
        t = np.empty((len(vecs), n_subspaces, n_codes))
        for j in range(n_subspaces):
            t[:, j, :] = _sub_sqdist(
                vecs[:, j * sub_d : (j + 1) * sub_d],
                pq_book[:, j * sub_d : (j + 1) * sub_d],
            )
        return t

    def _qtab_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            q_mat = _stack(pdf[vec_col])
            q_ids = pdf[id_col].to_numpy(dtype=np.int64)
            probes = np.argsort(-_cell_sims(q_mat), axis=1, kind="stable")[:, :n_probe]
            oq, oc, ot = [], [], []
            for i in range(len(q_ids)):
                if residual:
                    res = q_mat[i : i + 1, :] - cells_mat[probes[i]]
                    t = _table_of(res)
                    for pi, c in enumerate(probes[i]):
                        oq.append(q_ids[i]); oc.append(int(c)); ot.append(t[pi].reshape(-1))
                else:
                    t = _table_of(q_mat[i : i + 1])[0].reshape(-1)
                    for c in probes[i]:
                        oq.append(q_ids[i]); oc.append(int(c)); ot.append(t)
            yield pd.DataFrame({"query_id": oq, "__cell": oc, "__tab": ot})

    qtab_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("__cell", T.LongType()),
            T.StructField("__tab", T.ArrayType(T.DoubleType())),
        ]
    )
    # localCheckpoint, not persist — same rationale as
    # ivf_topk_from_index's probed frame: no CacheManager entry leaks
    # across repeated queries; blocks free with the result frame.
    qtab = (
        fan_out(queries.select(id_col, vec_col))
        .mapInPandas(_qtab_batch, qtab_schema)
        .localCheckpoint(eager=True)
    )
    cells = sorted(r["__cell"] for r in qtab.select("__cell").distinct().collect())
    codes = spark.read.parquet(os.path.join(path, "codes")).where(
        F.col("__cell").isin(cells)
    )
    routed = codes.join(F.broadcast(qtab), on="__cell")
    scored = routed.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        _adc_fold(n_subspaces, n_codes).alias("adc_dist"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


# ----- incremental maintenance (append + log-structured compaction) ---
#
# The vector-index leg of the base+delta discipline bm25.py and
# minhash_index.py already implement: streaming embedding ingest
# appends replay-idempotent ``vectors/delta=<batch_id>/__cell=K``
# partitions against a FROZEN coarse codebook (the FAISS ``add``
# contract — adding vectors never retrains the quantizer, so cell
# assignment of every existing vector is untouched and probes are
# bit-identical to a one-shot build over the union), and a
# threshold-triggered two-phase compaction folds committed deltas back
# into one base delta out of the query path. The vectors log is a
# client of operators/deltas.py (listing, commit, recovery, watermark,
# adoption); this module supplies the fold and the retrain hook.
# Probes need NO code change: partition discovery surfaces
# (delta, __cell) and the static ``__cell IN (...)`` filter prunes
# cell directories at either depth.


def _install_retrained(fs: IndexFS, root: str, work: str, commit: dict) -> None:
    """Phase-C hook of a RETRAIN commit (:func:`compact_ivf_index`):
    swap the staged codebook in and rewrite ``_META`` before the
    vectors move — both idempotent (the move is src-presence-guarded;
    the _META rewrite writes the same marker-recorded content on every
    replay). Probes between steps are excluded by the single-writer /
    no-concurrent-reader maintenance contract."""
    if commit.get("retrained"):
        move_in(
            fs, IndexFS.join(work, "codebook"), IndexFS.join(root, "codebook")
        )
        fs.write_json_atomic(IndexFS.join(root, "_META"), commit["meta"])


_IVF_LOG = DeltaLog(
    "ivf index maintenance", ("vectors",), adopt=True, install=_install_retrained
)


def append_to_ivf_index(batch: DataFrame, path: str, batch_id: int) -> None:
    """Append a batch of vectors as ``vectors/delta=<batch_id>`` —
    assignment under the index's FROZEN codebook (one Arrow pass +
    the partitioned write's hash exchange, exactly the build plan).
    Overwrite by stable batch id = replay-idempotent: a crashed
    micro-batch rewrites the same rows into the same directory.
    Codebook and _META are never touched. A one-shot build's flat
    ``vectors/__cell=K`` layout is adopted as ``delta=-1`` first."""
    spark = batch.sparkSession
    meta = _read_meta(spark, path)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    require_columns(batch, [id_col, vec_col])
    fs = IndexFS.for_path(path, "append_to_ivf_index")
    root = IndexFS.join(path, "vectors")
    adopt_flat_layout(fs, root)
    # normalize the batch's vector dtype to the INDEX's before
    # assignment: a double-element batch appended to a float-element
    # index writes a delta whose parquet physical type conflicts with
    # the base — every later union read fails with
    # SchemaColumnConvertNotSupported. Cast first, so assignment and
    # storage both see exactly what the index stores.
    existing = list_deltas(fs, root)
    if existing:
        want = spark.read.parquet(
            IndexFS.join(root, existing[0])
        ).schema[vec_col].dataType
        batch = batch.withColumn(vec_col, F.col(vec_col).cast(want))
    cell_of = _cell_of_udf(*_load_codebook(spark, path))
    assigned = fan_out(batch.select(id_col, vec_col)).select(
        id_col, vec_col, cell_of(F.col(vec_col)).alias("__cell")
    )
    assigned.write.mode("overwrite").partitionBy("__cell").parquet(
        os.path.join(path, "vectors", f"delta={batch_id}")
    )


def recover_ivf_compaction(path: str) -> None:
    """Resolve a half-done compaction at sink start / before every
    attempt (``operators/deltas.py::recover_log``), including a
    retrain commit's codebook swap. Also resumes a half-done flat-
    layout ADOPTION: a crash midway leaves ``vectors/`` mixed-depth and
    probes failing with CONFLICTING_DIRECTORY_STRUCTURES until the next
    append — sink-start recovery heals it immediately instead."""
    recover_log(path, _IVF_LOG)


def _fold_vectors(
    spark: SparkSession,
    path: str,
    retrain: bool = False,
    train_sample: int = 4096,
    train_iter: int = 10,
    train_seed: int = TRAIN_SEED,
):
    """Phase-A fold of the vectors log (the ``fold`` argument of
    ``operators/deltas.py::compact_log``). ``basePath`` makes the
    multiple delta roots (each with __cell= children) read as one
    partitioned table instead of tripping
    CONFLICTING_DIRECTORY_STRUCTURES. Without ``retrain`` it is a
    verbatim union; with it, a fresh codebook is trained on the folded
    corpus, staged in the work dir, and every vector reassigned."""

    def fold(src: dict, dst: dict, work: str) -> dict:
        meta = _read_meta(spark, path)
        id_col, vec_col = meta["id_col"], meta["vec_col"]
        out = (
            spark.read.option("basePath", IndexFS.join(path, "vectors"))
            .parquet(*src["vectors"])
            .select(id_col, vec_col, "__cell")
        )
        extra: dict = {}
        if retrain:
            from dask_datapipeline_spark.operators.similarity import (
                _kmeans_lloyd,
                _train_sample,
            )

            c_mat = _kmeans_lloyd(
                _train_sample(out, id_col, vec_col, train_sample, train_seed),
                meta["n_cells"],
                train_iter,
                train_seed,
                spherical=True,
            )
            c_ids = np.arange(meta["n_cells"], dtype=np.int64)
            cell_of = _cell_of_udf(c_ids, c_mat)
            out = fan_out(out.select(id_col, vec_col)).select(
                id_col, vec_col, cell_of(F.col(vec_col)).alias("__cell")
            )
            _write_codebook(spark, c_ids, c_mat, IndexFS.join(work, "codebook"))
            extra = {
                "retrained": True,
                "meta": {
                    **meta,
                    "trained": True,
                    "retrain_sample": int(train_sample),
                    "retrain_iter": int(train_iter),
                    "retrain_seed": int(train_seed),
                },
            }
        out.write.mode("overwrite").partitionBy("__cell").parquet(dst["vectors"])
        return extra

    return fold


def maybe_compact_ivf_index(
    spark: SparkSession,
    path: str,
    max_deltas: int,
    exclude_from: int | None = None,
    lease=None,
) -> bool:
    """Threshold-triggered two-phase compaction of the vector deltas —
    fold committed ``delta=*`` dirs into one fresh base out of the
    query path; probes are bit-identical before and after (the fold is
    a verbatim union; assignment never recomputes). Crash safety,
    recovery and the fresh base id are ``operators/deltas.py``'s.

    ``exclude_from`` is the REPLAY WATERMARK for in-sink calls (see
    ``maybe_compact_bm25_index``): deltas with batch id >=
    ``exclude_from`` are neither counted nor folded, preserving the
    in-flight batch's overwrite idempotency."""
    return compact_log(
        path, _IVF_LOG, _fold_vectors(spark, path), max_deltas, exclude_from, lease
    )


# ----- codebook drift: measurement + the retrain escape hatch ---------
#
# append_to_ivf_index freezes the codebook forever (the FAISS add
# contract) — correct per batch, but a long-running ingest whose
# distribution drifts away from the codebook's training sample
# silently degrades cell balance and probe recall, and nothing in the
# frozen-append path can see it. ivf_drift_report MEASURES the drift
# per delta (assignment distortion + cell-occupancy divergence vs the
# base); compact_ivf_index(retrain=True) is the ESCAPE HATCH — fold
# every delta through a freshly trained codebook with full
# reassignment, under the same two-phase COMMIT protocol.


def ivf_drift_report(spark: SparkSession, path: str) -> DataFrame:
    """Per-delta drift diagnostics of a built/incremental IVF index:
    ``(delta, n_vectors, mean_residual, max_residual, occ_l1)``.

    - ``mean_residual`` / ``max_residual``: assignment distortion —
      ``1 - cosine(vector, its stored cell's centroid)`` under the
      CURRENT codebook. A delta drawn from the codebook's training
      distribution scores like the base; a drifted delta scores
      visibly higher.
    - ``occ_l1``: L1 distance between the delta's cell-occupancy
      distribution and the BASE delta's (the lowest delta id —
      ``delta=-1`` after adoption). Drift that collapses new vectors
      onto few cells (the recall killer: probes scan giant cells)
      shows here even when residuals move little.

    Determinism (the lm_perplexity recipe, oracle-replayable): each
    residual / occupancy term is a pure IEEE expression over exact
    integers and strict-order dots, rounded to 9dp and summed as
    DECIMAL(19,9), so every aggregate is order-independent and
    bit-identical in DuckDB. Scale shape: ONE Arrow cosine pass over
    the index scan + bounded aggregates (deltas × cells rows); the
    base-occupancy collect is <= n_cells rows (the codebook's own
    driver contract)."""
    fs = IndexFS.for_path(path, "ivf_drift_report")
    base = path.rstrip("/")
    meta = _read_meta(spark, base)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    root = IndexFS.join(base, "vectors")
    deltas = list_deltas(fs, root)
    if deltas:
        vecs = (
            spark.read.option("basePath", root)
            .parquet(*[IndexFS.join(root, d) for d in deltas])
            .select(
                F.col("delta").cast("long").alias("delta"),
                F.col(id_col).alias("__vid"),
                F.col(vec_col).alias("__v"),
                F.col("__cell").cast("long").alias("__cell"),
            )
        )
        base_id = min(delta_id(d) for d in deltas)
    else:  # flat one-shot layout: the whole index is the base
        vecs = spark.read.parquet(root).select(
            F.lit(-1).cast("long").alias("delta"),
            F.col(id_col).alias("__vid"),
            F.col(vec_col).alias("__v"),
            F.col("__cell").cast("long").alias("__cell"),
        )
        base_id = -1

    book = spark.read.parquet(IndexFS.join(base, "codebook")).select(
        F.col("cell_id").alias("__cell"), F.col("centroid").alias("__c")
    )
    res = F.round(
        F.lit(1.0) - _cosine_batch_seq(F.col("__v"), F.col("__c")), 9
    )
    per_vec = vecs.join(F.broadcast(book), on="__cell").select(
        "delta", res.alias("__r")
    )
    dist = per_vec.groupBy("delta").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        (
            F.sum(F.col("__r").cast("decimal(19,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_residual"),
        F.max("__r").alias("max_residual"),
    )

    # occupancy: per-(delta, cell) counts; the base distribution is a
    # BOUNDED collect (<= n_cells rows) turned into a literal grid so
    # cells absent from a delta still contribute |0 - p_base| terms
    occ = vecs.groupBy("delta", "__cell").agg(F.count(F.lit(1)).alias("__n"))
    base_occ = {
        int(r["__cell"]): int(r["__n"])
        for r in occ.where(F.col("delta") == base_id).collect()
    }
    n_b = sum(base_occ.values())
    if n_b == 0:
        # an empty base would put a 0 divisor into the ANSI-mode plan
        raise ValueError(
            f"ivf_drift_report: base delta={base_id} holds no vectors"
        )
    delta_ids = sorted(delta_id(d) for d in deltas) or [-1]
    grid = spark.createDataFrame(
        [
            (int(d), int(c), int(n))
            for d in delta_ids
            for c, n in sorted(base_occ.items())
        ],
        "delta long, __cell long, __nb long",
    )
    # full outer keyed (delta, cell): Spark's named-key full join
    # COALESCES the keys (USING semantics) — the oracle replays with
    # explicit COALESCE
    both = occ.join(grid, on=["delta", "__cell"], how="full")
    totals = occ.groupBy("delta").agg(F.sum("__n").alias("__nd"))
    term = F.round(
        F.abs(
            F.coalesce(F.col("__n"), F.lit(0)) / F.col("__nd")
            - F.coalesce(F.col("__nb"), F.lit(0)) / F.lit(n_b)
        ),
        9,
    ).cast("decimal(19,9)")
    occ_l1 = (
        both.join(totals, on="delta")
        .groupBy("delta")
        .agg(F.sum(term).cast("double").alias("occ_l1"))
    )
    return dist.join(occ_l1, on="delta").select(
        "delta", "n_vectors", "mean_residual", "max_residual", "occ_l1"
    )


def maybe_retrain_ivf_index(
    spark: SparkSession,
    path: str,
    max_mean_residual: float | None = None,
    max_occ_l1: float | None = None,
    train_sample: int = 4096,
    train_iter: int = 10,
    train_seed: int = TRAIN_SEED,
) -> bool:
    """The maintenance POLICY connecting :func:`ivf_drift_report` to
    :func:`compact_ivf_index(retrain=True)` — the drift analogue of
    the ``maybe_compact_*`` thresholds: retrain when any NON-BASE
    delta's measured assignment distortion exceeds
    ``max_mean_residual`` or its cell-occupancy divergence exceeds
    ``max_occ_l1`` (pass either or both; at least one required).
    Returns whether a retrain fired. Idempotent as a policy: after a
    retrain everything lives in one fresh base, the report has no
    non-base delta rows, and the next call is a no-op until new
    drifted appends accumulate.

    OFFLINE-ONLY — stronger than the compaction sinks' single-writer
    contract: retrain folds EVERY delta (there is deliberately no
    replay watermark, because excluding an in-flight delta would leave
    its stored cells assigned under the replaced codebook — stale
    routing). Run it between streaming runs / from a scheduler when no
    micro-batch can be in flight; a foreachBatch replay racing a
    retrain would re-append rows the fold already absorbed."""
    if max_mean_residual is None and max_occ_l1 is None:
        raise ValueError(
            "pass max_mean_residual and/or max_occ_l1 — a policy with "
            "no threshold can never fire"
        )
    rep = ivf_drift_report(spark, path).collect()
    if len(rep) <= 1:
        return False  # base only — nothing appended since the last fold
    base_id = min(int(r["delta"]) for r in rep)
    tripped = any(
        (
            max_mean_residual is not None
            and float(r["mean_residual"]) > max_mean_residual
        )
        or (max_occ_l1 is not None and float(r["occ_l1"]) > max_occ_l1)
        for r in rep
        if int(r["delta"]) != base_id
    )
    if not tripped:
        return False
    return compact_ivf_index(
        spark,
        path,
        retrain=True,
        train_sample=train_sample,
        train_iter=train_iter,
        train_seed=train_seed,
    )


def compact_ivf_index(
    spark: SparkSession,
    path: str,
    retrain: bool = False,
    train_sample: int = 4096,
    train_iter: int = 10,
    train_seed: int = TRAIN_SEED,
) -> bool:
    """Unconditional full fold of every committed delta into one base
    (no threshold, no watermark — the same
    ``operators/deltas.py::compact_log`` commit and crash recovery as
    :func:`maybe_compact_ivf_index`).

    ``retrain=False``: a pure physical re-layout — probes bit-identical
    before and after (pytest-pinned).

    ``retrain=True``: the codebook-drift escape hatch — train a FRESH
    spherical-k-means codebook on a bounded deterministic sample of
    the FULL current corpus (base + every delta), reassign every
    vector under it (one Arrow pass — exactly the build plan), and
    swap vectors + codebook + ``_META`` in one commit. Assignments
    (and therefore probe results) CHANGE by design; recall against the
    drifted distribution recovers (pytest-pinned via the brute-force
    oracle). The new ``_META`` records ``trained=True`` and the
    retrain parameters. Crash safety: the new codebook lands in the
    work dir during phase A, the COMMIT marker records it plus the new
    meta, and phase C's swap is replay-idempotent
    (:func:`_install_retrained`)."""
    # a pure re-layout of a single delta changes nothing; a retrain
    # reassigns, so even one delta is worth folding
    return compact_log(
        path,
        _IVF_LOG,
        _fold_vectors(spark, path, retrain, train_sample, train_iter, train_seed),
        None if retrain else 1,
    )
