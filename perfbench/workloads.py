"""The three workloads. Each one prepares its seeded inputs and oracles
outside the timed region, then runs iterations that each start from
empty Spark caches. An iteration calls only the engine's public
functions; every output it produces is materialised in full (the real
sink or a collect of a bounded result, never a bare ``count``) and
fingerprinted after the clock stops.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen
from harness import fingerprint, now, since


class Check:
    """Untimed output checks; counts attempted and failed operations."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(what)


def _duck_views(con, tables: dict[str, list[str]]) -> None:
    for name, files in tables.items():
        lst = ", ".join(f"'{f}'" for f in files)
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet([{lst}])")


def _duck_fp(con, sql: str) -> tuple[int, str]:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return fingerprint(cols, res.fetchall())


def _file_bytes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``, Hadoop .crc sidecars and commit
    markers included: what the index costs on disk."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


class Ctx:
    """What an iteration needs: session, tracer, checks, work dir."""

    def __init__(self, session, tracer, check: Check, work: str, seed: int):
        self.session = session
        self.spark = session.spark
        self.tracer = tracer
        self.check = check
        self.work = work
        self.seed = seed
        # (wall, CPU) seconds of each request and of the part of the
        # iteration spent on its input rows (unset: the whole iteration)
        self.requests: list[tuple[float, float]] = []
        self.rows: tuple[float, float] | None = None

    def span(self, name: str, layer: str):
        return self.tracer.span(name, layer)


# ---------------------------------------------------------------------------
# household_etl
# ---------------------------------------------------------------------------


_HH_ORACLE = """
WITH tx AS (
  SELECT individual_id, CAST(date AS TIMESTAMP) AS ts,
         CAST(transaction_amount AS DECIMAL(18,2)) AS amt
  FROM read_csv('{tx}', header=true, all_varchar=true)
),
hh AS (SELECT CAST(hhid AS BIGINT) AS hhid, individual_id
       FROM read_csv('{hh}', header=true, all_varchar=true)),
dem AS (SELECT CAST(hhid AS BIGINT) AS hhid, CAST(num_inds AS BIGINT) AS num_inds,
               children_ind, hh_income_ind, age_ind, home_value_ind, state
        FROM read_csv('{dem}', header=true, all_varchar=true)),
f AS (
  SELECT hh.hhid,
         CAST(SUM(amt) FILTER (WHERE ts < TIMESTAMP '{start}') AS DOUBLE) AS total_amount_before_campaign,
         CAST(SUM(amt) FILTER (WHERE ts BETWEEN TIMESTAMP '{start}' AND TIMESTAMP '{end}') AS DOUBLE)
           AS total_amount_during_campaign,
         COUNT(amt) AS total_transactions
  FROM tx JOIN hh USING (individual_id)
  GROUP BY hh.hhid
)
SELECT dem.*, total_amount_before_campaign, total_amount_during_campaign, total_transactions
FROM dem JOIN f USING (hhid)
WHERE total_amount_before_campaign IS NOT NULL AND total_amount_during_campaign IS NOT NULL
"""

_HH_TYPES = {"hhid": int, "num_inds": int, "total_transactions": int,
             "total_amount_before_campaign": float, "total_amount_during_campaign": float}


def _read_csv_rows(path: str):
    import csv

    with open(path, newline="", encoding="utf-8") as f:
        r = csv.reader(f)
        cols = next(r)
        conv = [_HH_TYPES.get(c, str) for c in cols]
        rows = [tuple(None if v == "" else t(v) for t, v in zip(conv, row)) for row in r]
    return cols, rows


class HouseholdETL:
    """The paper's contract: three reference CSVs -> household features
    (parity form and one-pass form) -> one CSV each. Three untimed
    warm-up iterations let the JIT settle first (measured: the first
    iteration costs about 3x the CPU of the later ones, and the cost
    still falls for three more)."""

    name = "household_etl"
    warmup = 3
    #: wall seconds of one iteration on 4 cores, to turn --seconds into
    #: a fixed iteration count (see run.timed_iterations)
    iteration_s = 2.5

    def __init__(self, n_households: int = 8_000):
        self.n_households = n_households

    def prepare(self, ctx: Ctx) -> None:
        self.inputs = gen.household_inputs(os.path.join(ctx.work, "in"), ctx.seed, self.n_households)
        sql = _HH_ORACLE.format(tx=self.inputs["transactions"], hh=self.inputs["hh_ind"],
                                dem=self.inputs["demographics"], start=gen.CAMPAIGN_START,
                                end=gen.CAMPAIGN_END)
        self.expected = _duck_fp(duckdb.connect(), sql)
        if self.expected[0] == 0:
            raise RuntimeError("household oracle is empty: generator bug")
        self.input_bytes = _file_bytes(self.inputs.values())
        with open(self.inputs["transactions"]) as f:
            self.n_tx = sum(1 for _ in f) - 1
        self.rows_per_iter = 2 * self.n_tx
        self.out = os.path.join(ctx.work, "out")
        os.makedirs(self.out, exist_ok=True)

    def iteration(self, ctx: Ctx, warm: bool) -> list:
        from dask_datapipeline_spark.plans.reference_main import run_pipeline
        from dask_datapipeline_spark.sources.writers import write_csv

        inputs, done = self.inputs, []
        for onepass in (False, True):
            form = "onepass" if onepass else "parity"
            path = os.path.join(self.out, f"features_{form}.csv")
            try:
                with ctx.span(f"run_pipeline[{form}]", "plans"):
                    df = run_pipeline(ctx.spark, inputs["transactions"], inputs["hh_ind"],
                                      inputs["demographics"], onepass=onepass)
                with ctx.span(f"write_csv[{form}]", "operators"):
                    write_csv(df, path, single_file=True)
                done.append((form, self.expected, path))
            except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
                done.append((form, self.expected, e))
        return done

    def verify(self, ctx: Ctx, done: list) -> None:
        for form, expected, path in done:
            ctx.check.attempted += 1
            if isinstance(path, BaseException):
                ctx.check.fail(f"{form}: {type(path).__name__}: {path}")
                continue
            got = fingerprint(*_read_csv_rows(path))
            if got != expected:
                ctx.check.fail(f"{form}: fingerprint {got} != oracle {expected}")

    def stats(self) -> dict:
        """Per-iteration counts for the traced run."""
        paths = [os.path.join(self.out, f"features_{f}.csv") for f in ("parity", "onepass")]
        paths = [p for p in paths if os.path.exists(p)]
        return {"input_bytes": 2 * self.input_bytes, "output_files": len(paths),
                "output_bytes": _file_bytes(paths)}

    def bytes_stored_per_input_byte(self) -> float:
        """Bytes the two written feature CSVs hold per input CSV byte
        the two forms read."""
        st = self.stats()
        return st["output_bytes"] / st["input_bytes"]


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------


def lsh_bits(n_rows: int) -> int:
    """Corpus-sized SRP geometry: about eight rows per bucket at any
    corpus size (the ``_embedding_near_dup_scaled`` recipe)."""
    return max(8, math.ceil(math.log2(max(n_rows, 2048) / 8)))


_ND_TABLES, _ND_THRESHOLD, _ND_CAP = 16, 0.9, 64


def lsh_candidate_pairs(vecs: np.ndarray, bits: int, tables: int, cap: int) -> int:
    """Distinct pairs that share an uncapped SRP cell in any table —
    the work the near-dup verify is handed."""
    from dask_datapipeline_spark.operators.similarity import rademacher_planes

    planes = np.asarray(rademacher_planes(tables, bits, vecs.shape[1]), dtype=np.float64)
    n = len(vecs)
    keys = []
    for t in range(tables):
        sign = (vecs.astype(np.float64) @ planes[t].T) > 0
        cell = (sign * (1 << np.arange(bits))).sum(axis=1)
        order = np.argsort(cell, kind="stable")
        cs = cell[order]
        bounds = np.flatnonzero(np.diff(cs)) + 1
        for grp in np.split(order, bounds):
            if 1 < len(grp) <= cap:
                g = np.sort(grp)
                i, j = np.triu_indices(len(g), 1)
                keys.append(g[i] * n + g[j])
    return int(len(np.unique(np.concatenate(keys)))) if keys else 0


def min_label_components(ids, pairs) -> list[tuple[int, int, bool]]:
    """(id, smallest id in its connected component, id is that smallest)."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(i, find(i), find(i) == i) for i in ids]


def catalog_query(name: str):
    from dask_datapipeline_spark.plans.catalog import CATALOG, EXTRA_CATALOG

    return CATALOG[name] if name in CATALOG else EXTRA_CATALOG[name]


class CorpusDedup:
    """The LLM-curation family over a seeded documents + embeddings
    corpus: driver-side builds with eager actions, Arrow UDFs, shared
    shingle/signature persists and LSH self-join exchanges. Runs the
    operators in a fixed order, so shared persists are built by the
    same operator every iteration."""

    name = "corpus_dedup"
    warmup = 0
    iteration_s = 30.0
    OPS = ["script_route", "gopher_quality", "minhash_near_dup", "jaccard_near_dup",
           "routed_near_dup", "dup_clusters", "embedding_near_dup", "knn_join_lsh",
           "semantic_dedup"]

    def __init__(self, n_docs: int = 2000, n_vecs: int = 2000):
        self.n_docs, self.n_vecs = n_docs, n_vecs

    def prepare(self, ctx: Ctx) -> None:
        self.dir = os.path.join(ctx.work, "corpus")
        paths = gen.corpus_inputs(self.dir, ctx.seed, self.n_docs, self.n_vecs)
        self.input_bytes = _file_bytes(paths.values())
        self.rows_per_iter = self.n_docs + self.n_vecs
        self.bits = lsh_bits(self.n_vecs)
        self.builders = {n: catalog_query(n).fn for n in self.OPS if n != "embedding_near_dup"}
        self.builders["embedding_near_dup"] = self._embedding_near_dup
        con = duckdb.connect()
        _duck_views(con, {"documents": [paths["documents"]], "embeddings": [paths["embeddings"]]})
        self.expected = {n: _duck_fp(con, catalog_query(n).oracle) for n in self.OPS
                         if n not in ("embedding_near_dup", "dup_clusters")}
        # dup_clusters' SQL oracle closes reachability with a recursive
        # CTE (~15 s here); the same closure over the same verified
        # MinHash pairs is a union-find
        pairs = con.execute(f"SELECT id_a, id_b FROM ({catalog_query('minhash_near_dup').oracle})").fetchall()
        ids = [r[0] for r in con.execute("SELECT doc_id FROM documents").fetchall()]
        self.expected["dup_clusters"] = fingerprint(
            ["doc_id", "cluster_id", "is_canonical"], min_label_components(ids, pairs))
        vecs = np.asarray(pq.read_table(paths["embeddings"]).column("embedding").to_pylist(), dtype=np.float32)
        self.vecs = vecs
        self.candidates = lsh_candidate_pairs(vecs, self.bits, _ND_TABLES, _ND_CAP)

    def _embedding_near_dup(self, spark, sf_dir):
        from dask_datapipeline_spark.operators.similarity import embedding_near_dup_pairs
        from dask_datapipeline_spark.sources.readers import load_testdata

        return embedding_near_dup_pairs(
            load_testdata(spark, sf_dir, "embeddings"), threshold=_ND_THRESHOLD,
            bits_per_table=self.bits, num_tables=_ND_TABLES, plane_kind="rademacher",
            bucket_cap=_ND_CAP,
        )

    def iteration(self, ctx: Ctx, warm: bool) -> list:
        done = []
        for name in self.OPS:
            try:
                # the near-dup pairs kept per pair its LSH self-join
                # produced is the similarity layer's useful-work ratio
                layer = "similarity" if name == "embedding_near_dup" else "operators"
                with ctx.span(name, layer) as op:
                    with ctx.span(name, "plans"):
                        df = self.builders[name](ctx.spark, self.dir)
                    with ctx.span(name, "operators"):
                        rows = df.collect()
                    if op is not None and layer == "similarity":
                        op.counts["kept"] = len(rows)
                done.append((name, list(df.columns), rows))
            except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
                done.append((name, None, e))
        return done

    def verify(self, ctx: Ctx, done: list) -> None:
        for name, cols, rows in done:
            ctx.check.attempted += 1
            if isinstance(rows, BaseException):
                ctx.check.fail(f"{name}: {type(rows).__name__}: {str(rows)[:300]}")
                continue
            got = fingerprint(cols, (tuple(r) for r in rows))
            if name == "embedding_near_dup":
                bad = self._near_dup_problem(cols, rows)
                if bad:
                    ctx.check.fail(f"{name}: {bad}")
                    continue
                # no SQL oracle at corpus geometry: the first run of
                # this seed is the reference for every later one
                self.expected.setdefault(name, got)
            if got != self.expected[name]:
                ctx.check.fail(f"{name}: fingerprint {got} != oracle {self.expected[name]}")

    def _near_dup_problem(self, cols, rows) -> str | None:
        if not rows:
            return "no near-dup pairs: the similarity load is vacuous"
        a, b = cols.index("id_a") if "id_a" in cols else 0, cols.index("id_b") if "id_b" in cols else 1
        ia = np.array([r[a] for r in rows])
        ib = np.array([r[b] for r in rows])
        va, vb = self.vecs[ia].astype(np.float64), self.vecs[ib].astype(np.float64)
        cos = (va * vb).sum(1) / np.sqrt((va * va).sum(1) * (vb * vb).sum(1))
        if cos.min() < _ND_THRESHOLD - 1e-6:
            return f"pair below threshold: cosine {cos.min():.6f}"
        if len(rows) > self.candidates:
            return f"{len(rows)} pairs from {self.candidates} candidates"
        return None

    def stats(self) -> dict:
        return {"input_bytes": self.input_bytes}


# ---------------------------------------------------------------------------
# index_ingest
# ---------------------------------------------------------------------------


_IVF_K, _IVF_PROBE, _IVF_CELLS, _BM25_K = 5, 4, 16, 10


def _ivf_oracle_sql(query_ids: list[int]) -> str:
    """The knn_join_ivf oracle for our query set."""
    sql = catalog_query("knn_join_ivf").oracle
    anchor = "FROM embeddings WHERE vec_id < 10)"
    if sql.count(anchor) != 1:
        raise RuntimeError("knn_join_ivf oracle changed shape; update the rewrite here")
    return sql.replace(anchor, f"FROM embeddings WHERE vec_id IN ({', '.join(map(str, query_ids))}))")


class IndexIngest:
    """Writes beside reads: a single closed-loop client ingests the
    corpus in batches into the MinHash, BM25 and IVF indexes and issues
    a timed hybrid lookup (BM25 + IVF) after every batch. Row throughput
    counts ingest time only; the lookups are the requests. The seed
    index builds warm the code paths; with a compaction threshold of 1,
    every batch after the first also folds the previous delta into the
    base."""

    name = "index_ingest"
    warmup = 0
    #: wall seconds of one batch on 4 cores, to turn --seconds into a
    #: fixed batch count (see run.timed_iterations)
    iteration_s = 7.0
    COMPACT_MAX_DELTAS = 1
    MAX_BATCHES = 8

    def __init__(self, n_seed: int = 600, batch: int = 200):
        self.n_seed, self.batch = n_seed, batch

    def prepare(self, ctx: Ctx) -> None:
        from dask_datapipeline_spark.operators.bm25 import build_bm25_index
        from dask_datapipeline_spark.operators.ivf_index import build_ivf_index
        from dask_datapipeline_spark.operators.minhash_index import build_minhash_index

        self.root = os.path.join(ctx.work, "ingest")
        shutil.rmtree(self.root, ignore_errors=True)
        src = os.path.join(self.root, "src")
        os.makedirs(src)
        n_total = self.n_seed + self.batch * self.MAX_BATCHES
        docs = gen.documents_table(ctx.seed, n_total)
        vecs = gen.embeddings_table(ctx.seed, n_total)
        self.docs_files, self.vec_files = [], []
        for i, lo in enumerate([0] + [self.n_seed + k * self.batch for k in range(self.MAX_BATCHES)]):
            hi = self.n_seed if i == 0 else lo + self.batch
            for tbl, cols, files, kind in ((docs, ["doc_id", "text"], self.docs_files, "docs"),
                                           (vecs, ["vec_id", "embedding"], self.vec_files, "vecs")):
                p = os.path.join(src, f"{kind}-{i:03d}.parquet")
                pq.write_table(tbl.slice(lo, hi - lo).select(cols), p)
                files.append(p)
        r = np.random.default_rng([ctx.seed, 9])
        vocab = sorted({w for t in docs.column("text").slice(0, self.n_seed).to_pylist() if t for w in t.split()})
        self.term_sets = [sorted(r.choice(vocab, 3, replace=False).tolist()) for _ in range(16)]
        self.query_sets = [sorted(r.choice(self.n_seed, 8, replace=False).tolist()) for _ in range(16)]

        self.mh, self.bm25, self.ivf = (os.path.join(self.root, n) for n in ("minhash", "bm25", "ivf"))
        self.staged_docs, self.staged_vecs = (os.path.join(self.root, n) for n in ("staged_docs", "staged_vecs"))
        os.makedirs(self.staged_docs)
        os.makedirs(self.staged_vecs)
        spark = ctx.spark
        seed_docs = spark.read.parquet(self.docs_files[0])
        build_minhash_index(seed_docs, self.mh, num_hashes=16, bands=4, shingle_n=3, max_df=256)
        build_bm25_index(seed_docs, self.bm25)
        build_ivf_index(spark.read.parquet(self.vec_files[0]), self.ivf, n_cells=_IVF_CELLS)
        self.next_batch = 1
        self.input_bytes = _file_bytes([self.docs_files[0], self.vec_files[0]])
        self.rows_per_iter = self.batch
        ctx.session.clear_cache()

    def _stage(self, i: int) -> None:
        now = time.time()
        for files, staged in ((self.docs_files, self.staged_docs), (self.vec_files, self.staged_vecs)):
            dst = os.path.join(staged, f"chunk-{i:03d}.parquet")
            shutil.copyfile(files[i], dst)
            os.utime(dst, (now, now))

    def iteration(self, ctx: Ctx, warm: bool) -> list:
        from dask_datapipeline_spark.operators.bm25 import bm25_topk_from_index
        from dask_datapipeline_spark.operators.ivf_index import ivf_topk_from_index
        from dask_datapipeline_spark.operators.minhash_index import append_to_minhash_index
        from dask_datapipeline_spark.sources.readers import scan_parquet
        from dask_datapipeline_spark.streaming.windows import (
            stream_incremental_bm25_index,
            stream_incremental_ivf_index,
        )

        i = self.next_batch
        if i > self.MAX_BATCHES:
            raise RuntimeError("index_ingest ran out of generated batches; raise MAX_BATCHES")
        self.next_batch += 1
        self._stage(i)
        spark, done = ctx.spark, []
        t0 = now()
        try:
            append_to_minhash_index(scan_parquet(spark, self.docs_files[i]), self.mh,
                                    batch_tag=f"b{i:03d}")
            with ctx.span("stream_incremental_bm25_index", "streaming"):
                stream_incremental_bm25_index(
                    spark, self.staged_docs, self.bm25, schema="doc_id long, text string",
                    checkpoint_dir=self.bm25 + ".ckpt", compact_max_deltas=self.COMPACT_MAX_DELTAS)
            with ctx.span("stream_incremental_ivf_index", "streaming"):
                stream_incremental_ivf_index(
                    spark, self.staged_vecs, self.ivf, schema="vec_id long, embedding array<float>",
                    checkpoint_dir=self.ivf + ".ckpt", compact_max_deltas=self.COMPACT_MAX_DELTAS)
            done.append(("ingest", None, []))
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            done.append(("ingest", None, e))
            return done
        finally:
            ctx.rows = since(t0)
        self.input_bytes += _file_bytes([self.docs_files[i], self.vec_files[i]])
        # one request = a hybrid search: a BM25 and an IVF lookup
        k = i % len(self.term_sets)
        t0 = now()
        try:
            with ctx.span("bm25_topk_from_index", "plans"):
                df = bm25_topk_from_index(spark, self.bm25, self.term_sets[k], k=_BM25_K)
            with ctx.span("bm25_topk_from_index", "operators"):
                rows = df.collect()
            done.append((("bm25", i, k), list(df.columns), rows))
            # the IVF probe's scored join is the similarity layer's
            # candidate work: see layers.per_layer
            with ctx.span("ivf_topk_from_index", "similarity") as sim:
                with ctx.span("ivf_topk_from_index", "plans"):
                    q = spark.read.parquet(self.vec_files[0]).where(
                        f"vec_id IN ({', '.join(map(str, self.query_sets[k]))})")
                    df = ivf_topk_from_index(spark, self.ivf, q, k=_IVF_K, n_probe=_IVF_PROBE)
                with ctx.span("ivf_topk_from_index", "operators"):
                    rows = df.collect()
                if sim is not None:
                    sim.counts["kept"] = len(rows)
            done.append((("ivf", i, k), list(df.columns), rows))
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            done.append((("lookup", i, k), None, e))
        ctx.requests.append(since(t0))
        return done

    def verify(self, ctx: Ctx, done: list) -> None:
        from dask_datapipeline_spark.operators.bm25 import bm25_topk_oracle_sql

        # oracles see exactly the batches ingested when the lookup ran
        for what, cols, rows in done:
            ctx.check.attempted += 1
            if isinstance(rows, BaseException):
                ctx.check.fail(f"{what}: {type(rows).__name__}: {str(rows)[:300]}")
                continue
            if what == "ingest":
                # the sinks' contents are checked through the lookups
                continue
            kind, i, k = what
            con = duckdb.connect()
            _duck_views(con, {"documents": self.docs_files[: i + 1], "embeddings": self.vec_files[: i + 1]})
            if kind == "bm25":
                sql = bm25_topk_oracle_sql("documents", self.term_sets[k], k=_BM25_K)
            else:
                sql = _ivf_oracle_sql(self.query_sets[k])
            want = _duck_fp(con, sql)
            got = fingerprint(cols, (tuple(r) for r in rows))
            if got != want:
                ctx.check.fail(f"{what}: fingerprint {got} != oracle {want}")

    def stats(self) -> dict:
        files, size = self.index_stats()
        i = self.next_batch - 1
        return {"input_bytes": _file_bytes([self.docs_files[i], self.vec_files[i]]),
                "index_files": files, "index_bytes": size, "ingested_bytes": self.input_bytes}

    def index_stats(self) -> tuple[int, int]:
        """(files, bytes) of the three index directories."""
        files = size = 0
        for d in (self.mh, self.bm25, self.ivf):
            f, s = dir_stats(d)
            files, size = files + f, size + s
        return files, size

    def bytes_stored_per_input_byte(self) -> float:
        """Index bytes on disk per input byte ingested so far (the seed
        corpus included)."""
        return self.index_stats()[1] / self.input_bytes
