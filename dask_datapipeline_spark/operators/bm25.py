"""Okapi BM25 scored retrieval over a document corpus
(beyond-reference LLM-pipeline surface; SURVEY.md §2.2 text family).

The standard ranked-retrieval scorer (Robertson et al., TREC-3) —
what an LLM-data pipeline runs for decontamination probes ("which
training docs score highest against this benchmark question?"),
hard-negative mining seeds, and corpus QA. Two serving paths, one
scoring tail: ``bm25_topk`` scans the corpus (the one-shot probe
shape) and ``bm25_topk_from_index`` probes the materialized
``build_bm25_index`` postings (the repeated-query shape; maintained
incrementally by ``streaming/windows.py::stream_incremental_bm25_index``
and folded in place by ``maybe_compact_bm25_index``).

    score(D, Q) = Σ_{t in Q} idf(t) · tf(t,D)·(k1+1)
                               / (tf(t,D) + k1·(1 - b + b·|D|/avgdl))
    idf(t) = ln((N - df(t) + 0.5) / (df(t) + 0.5))

Scale shape (the point, at 100 TB):

- The query-term filter is a literal ``IN`` over a handful of terms —
  pure codegen, applied BEFORE any shuffle, so only postings of query
  terms ever leave the scan (a fraction of the corpus, exactly like
  probing an inverted index).
- One (doc_id, token)-keyed groupBy over those candidates for tf;
  df rides along as a token-keyed count window over the SAME small
  candidate frame — one scan total (a groupBy-and-join-back df would
  plan a second corpus scan; measured in docs/PLANS.md round 9).
- Top-k is ``orderBy(...).limit(k)`` → TakeOrderedAndProject: each
  partition keeps its local k, the driver merges — no global sort,
  no single-reducer window over the candidate set.
- Doc length and corpus stats: |D| is a row-local expression carried
  through the scan; N and Σ|D| are ONE bounded driver scalar
  (single-row aggregate, the ``tfidf_top_terms`` precedent).

Determinism (CLAUDE.md disciplines, all gate-proven elsewhere):

- ln drifts a ulp between JVM and libm → each per-term score is
  rounded to 9dp, cast DECIMAL(19,9), summed EXACTLY, cast back to
  double (the ``lm_perplexity`` recipe) — so the per-doc sum is
  order-independent under any partitioning and bit-identical in the
  DuckDB oracle.
- avgdl = Σ|D| / N is one IEEE division of exact integers — identical
  in Python (driver literal), Spark, and DuckDB.
- The top-k total order is (score DESC, doc_id ASC) — unique-key
  tiebreak on BOTH engines.

Constants are shared by import: the SQL builder lives in this module
and embeds the SAME ``BM25_K1``/``BM25_B`` Python floats the Column
builder uses, so the two engines cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dask_datapipeline_spark.operators.deltas import (
    DeltaLog,
    compact_log,
    recover_log,
)

BM25_K1 = 1.2
BM25_B = 0.75


def _score_and_rank(
    tf: DataFrame,
    n_docs: int,
    avgdl: float,
    k1: float,
    b: float,
    k: int,
) -> DataFrame:
    """Shared scoring tail of both BM25 paths: from a candidate frame
    of (doc_id, dl, token, tf) rows — ALL postings of each candidate
    term, whether tokenized live or read from the materialized index —
    compute df (token-keyed count window over the SAME frame: one row
    per (doc, token), so count(*) per token IS the document
    frequency), the per-term Robertson score (round-9dp → exact
    DECIMAL sum → double), and the (score DESC, doc_id) top-k via
    TakeOrderedAndProject. ONE function so the live and index-backed
    paths cannot drift."""
    joined = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("token"))
    )
    idf = F.log(
        (F.lit(n_docs) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    sat = (F.col("tf") * (F.lit(k1) + F.lit(1.0))) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0) - F.lit(b) + F.lit(b) * (F.col("dl") / F.lit(avgdl)))
    )
    term = F.round(idf * sat, 9).cast("decimal(19,9)")
    scored = joined.groupBy("doc_id").agg(
        F.sum(term).cast("double").alias("score")
    )
    topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w))


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k documents of ``docs`` (doc_id, text) by BM25 score
    against ``query_terms`` (lowercase literals).

    Returns (doc_id, score, rank) — rank 1-based, (score DESC,
    doc_id ASC) total order. Tokenization is the corpus convention:
    lowercased single-space split; |D| counts every split segment.
    NULL-text rows are excluded (module contract shared with the rest
    of the text family)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    base = docs.where(F.col("text").isNotNull())
    stats = base.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("sdl"),
    ).collect()[0]
    n_docs, sum_dl = int(stats["n"]), int(stats["sdl"] or 0)
    if n_docs == 0:
        raise ValueError("empty corpus")
    # float() each operand BEFORE dividing: the engines convert the
    # aggregate to double and then divide, and past 2^53 total tokens
    # Python's exact big-int true division would round differently
    # than convert-then-divide. Identical below 2^53 either way.
    avgdl = float(sum_dl) / float(n_docs)

    toks = base.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("dl"),
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"),
    ).where(F.col("token").isin(*query_terms))
    tf = toks.groupBy("doc_id", "dl", "token").agg(F.count(F.lit(1)).alias("tf"))
    # df as a token-keyed window over tf — NOT a groupBy + join back:
    # that plans a SECOND corpus scan for the df side (measured in
    # docs/PLANS.md round 9); see _score_and_rank
    return _score_and_rank(tf, n_docs, avgdl, k1, b, k)


def build_bm25_index(docs: DataFrame, index_dir: str) -> None:
    """Materialize the BM25 inverted index: ``<index_dir>/postings``
    holds (token, doc_id, tf, dl) — the full per-(term, doc) term
    frequency table, clustered on token (repartition + sort-within so
    every term's postings are contiguous and parquet min/max footers
    prune a term probe to a handful of row groups) — and
    ``<index_dir>/stats`` one row (n_docs, sum_dl), the corpus
    constants scoring needs that postings alone cannot reproduce
    (a doc whose every token is empty never reaches postings).

    This is the index the ``inverted_index`` catalog row sketches
    (capped display form) made SCORABLE: build once per corpus
    snapshot, then ``bm25_topk_from_index`` answers every query from
    the postings scan — at 100 TB the difference between a
    seconds-scale probe of query-term row groups and re-tokenizing
    the corpus per query. On a cluster, write bucketed
    (``bucketBy(token)``) for static pruning; plain clustered parquet
    keeps this self-contained."""
    postings, stats = postings_frames(docs)
    _write_postings(postings, index_dir.rstrip("/") + "/postings")
    stats.write.mode("overwrite").parquet(index_dir.rstrip("/") + "/stats")


def _write_postings(postings: DataFrame, path: str) -> None:
    """Write postings clustered on token — every writer of an index
    snapshot or delta goes through here, so all deltas share the
    layout row-group pruning relies on."""
    (
        postings.repartition("token")
        .sortWithinPartitions("token", "doc_id")
        .write.mode("overwrite")
        .parquet(path)
    )


def postings_frames(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The two frames a BM25 index snapshot holds, from a (doc_id,
    text) frame: postings (token, doc_id, tf, dl) and a ONE-ROW stats
    frame (n_docs, sum_dl). Shared by the batch builder and the
    streaming delta maintainer so an index is the same bytes whichever
    path wrote it. Stats must come from the BASE frame, not the
    postings (a doc whose every token is empty reaches stats but not
    postings)."""
    base = docs.where(F.col("text").isNotNull())
    toks = base.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("dl"),
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token"),
    )
    postings = toks.groupBy("token", "doc_id", "dl").agg(
        F.count(F.lit(1)).alias("tf")
    )
    stats = base.select(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("sum_dl"),
    )
    return postings, stats


def bm25_topk_from_index(
    spark,
    index_dir: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """``bm25_topk`` served from a materialized ``build_bm25_index``
    directory instead of the corpus: the query-term ``IN`` filter
    pushes into the postings parquet scan (row-group pruning on the
    token-clustered layout), so the per-query cost is the candidate
    postings — the corpus is never re-read or re-tokenized. Output is
    bit-identical to ``bm25_topk`` on the same corpus snapshot: the
    scoring tail is literally the same function, and tf/dl/df/stats
    are exact integers either way."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    # SUM over the stats rows: the batch builder writes one, the
    # streaming maintainer one per delta — both reduce to the same
    # exact-integer corpus constants (bounded: #batches rows)
    st = (
        spark.read.parquet(index_dir.rstrip("/") + "/stats")
        .agg(F.sum("n_docs").alias("n_docs"), F.sum("sum_dl").alias("sum_dl"))
        .first()
    )
    n_docs = int(st["n_docs"] or 0)
    if n_docs == 0:
        raise ValueError("empty corpus")
    avgdl = float(int(st["sum_dl"] or 0)) / float(n_docs)
    tf = spark.read.parquet(index_dir.rstrip("/") + "/postings").where(
        F.col("token").isin(*query_terms)
    )
    return _score_and_rank(tf, n_docs, avgdl, k1, b, k)


def bm25_topk_oracle_sql(
    table: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    """DuckDB replay of ``bm25_topk`` — same constants (imported, not
    retyped), same expression trees, same round-9dp → exact-decimal
    sum → double, same (score DESC, doc_id) top-k order."""
    terms = ", ".join("'" + t.replace("'", "''") + "'" for t in query_terms)
    k1p1 = repr(k1 + 1.0)
    k1r, br = repr(k1), repr(b)
    return f"""
WITH base AS (
  SELECT doc_id, text, len(string_split(text, ' ')) AS dl
  FROM {table} WHERE text IS NOT NULL
),
stats AS (
  SELECT COUNT(*) AS n, SUM(dl) / COUNT(*) AS avgdl FROM base
),
toks AS (
  SELECT doc_id, dl, unnest(string_split(lower(text), ' ')) AS token
  FROM base
),
cand AS (SELECT * FROM toks WHERE token IN ({terms})),
tf AS (
  SELECT doc_id, dl, token, COUNT(*) AS tf FROM cand GROUP BY 1, 2, 3
),
dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         CAST(SUM(CAST(round(
           ln(((SELECT n FROM stats) - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * ((tf.tf * {k1p1}) /
              (tf.tf + {k1r} * (1.0 - {br} + {br} *
                                (tf.dl / (SELECT avgdl FROM stats)))))
         , 9) AS DECIMAL(19,9))) AS DOUBLE) AS score
  FROM tf JOIN dfreq ON tf.token = dfreq.token
  GROUP BY tf.doc_id
)
SELECT doc_id, score, rank FROM (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM scored
) WHERE rank <= {k}
"""




# ----- incremental maintenance (delta appends + in-place compaction) --
#
# The index is a two-log client of operators/deltas.py: a micro-batch
# appends ``postings/delta=<id>`` + ``stats/delta=<id>``, and the
# compaction policy folds both logs in one commit. Crash safety,
# recovery, the replay watermark and one-shot adoption are the shared
# protocol; this module supplies only the fold.

_BM25_LOG = DeltaLog("bm25 index maintenance", ("postings", "stats"), adopt=True)


def append_to_bm25_index(batch: DataFrame, index_dir: str, batch_id: int) -> None:
    """Append a (doc_id, text) batch as ``postings/delta=<batch_id>``
    and ``stats/delta=<batch_id>``. Overwrite by stable batch id =
    replay-idempotent: a crashed micro-batch rewrites the same rows
    into the same directories. Postings are additive (a document
    arrives in exactly one batch), so the delta union IS the postings
    table and per-batch cost is O(batch). The index must already be in
    delta layout — :func:`recover_bm25_compaction` adopts a one-shot
    build."""
    postings, stats = postings_frames(batch)
    base = index_dir.rstrip("/")
    _write_postings(postings, f"{base}/postings/delta={batch_id}")
    stats.write.mode("overwrite").parquet(f"{base}/stats/delta={batch_id}")


def recover_bm25_compaction(index_dir: str) -> None:
    """Resolve a compaction a crash left half-done (called at sink
    start and before every compaction attempt) and adopt a one-shot
    ``build_bm25_index`` layout as ``delta=-1`` — see
    ``operators/deltas.py::recover_log``."""
    recover_log(index_dir, _BM25_LOG)


def maybe_compact_bm25_index(
    spark,
    index_dir: str,
    max_deltas: int,
    exclude_from: int | None = None,
    lease=None,
) -> bool:
    """The maintenance POLICY the streaming sink calls after each
    delta append: when the postings delta count exceeds ``max_deltas``,
    fold the whole index into one base delta IN PLACE — crash-safe,
    scores bit-identical (postings deltas are disjoint by doc_id;
    stats addition is exact integers; measured round 10: 64 deltas
    cost +60% probe latency, which is exactly the regression this
    bounds). Readers need no change: plain partition discovery, no
    manifest.

    The two-phase commit, recovery, fresh base id and replay watermark
    are ``operators/deltas.py::compact_log``. ``exclude_from`` is the
    REPLAY WATERMARK for in-sink calls: deltas with batch id >=
    ``exclude_from`` are NOT folded, so the in-flight batch's
    overwrite-by-batch-id append stays idempotent under a post-crash
    replay. SINGLE-WRITER contract, same as ``compact_minhash_index``.
    """

    def fold(src: dict, dst: dict, work: str) -> None:
        _write_postings(
            spark.read.parquet(*src["postings"]).select(
                "token", "doc_id", "dl", "tf"
            ),
            dst["postings"],
        )
        (
            spark.read.parquet(*src["stats"])
            .agg(
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("sum_dl").cast("long").alias("sum_dl"),
            )
            .write.mode("overwrite")
            .parquet(dst["stats"])
        )

    return compact_log(index_dir, _BM25_LOG, fold, max_deltas, exclude_from, lease)
