"""Seeded input generators for the three workloads.

Every generator is a pure function of ``(seed, size)``: the same seed
gives byte-identical files, and a different seed gives different
content at the same row counts and byte sizes (so run-to-run spread
measures the engine, not the input size).

- ``household_inputs``: the reference pipeline's three CSVs
  (transactions, hh_ind, demographics) with ``noValue`` sentinels and
  transactions stamped exactly on both campaign boundaries.
- ``corpus_inputs``: a ``documents`` + ``embeddings`` pair in the
  driver testdata schema, with planted near-duplicate documents and
  near-duplicate vectors so every dedup/similarity operator has
  non-empty work to verify.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# reference main.py:30-31 (plans/reference_main.py CAMPAIGN_*)
CAMPAIGN_START = "2021-09-06 00:00:00"
CAMPAIGN_END = "2021-09-13 23:59:59"
_DAY0 = np.datetime64("2021-08-09T00:00:00")  # 4 weeks before the campaign
_SPAN_S = 49 * 86400  # 7 weeks of transactions: before / during / after
_NO_VALUE = "noValue"
_STATES = ["CA", "CO", "NY", "TX", "WA", "WY", "FL", "IL", "OH", "GA"]

DIM = 64
_WORDS = (
    "data spark stream table query index batch merge filter group window "
    "scan shuffle join sort hash key value column row part order small big "
    "fast slow agg token corpus text page line word vector cluster bucket "
    "band sketch signal score rank model train test split sample shard "
    "file block cache disk memory task stage job driver worker plan node"
).split()


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def household_inputs(out_dir: str, seed: int, n_households: int) -> dict[str, str]:
    """Write the three reference CSVs; return their paths by role.

    About 2.5 individuals per household and 12 transactions per
    individual. 4% of households own no individual (they drop out of
    the inner joins); 3% of individuals are absent from hh_ind (their
    transactions drop out too).
    """
    r = _rng(seed, 1)
    os.makedirs(out_dir, exist_ok=True)
    hhids = np.arange(1, n_households + 1, dtype=np.int64) * 7 + int(r.integers(0, 7))

    sizes = r.integers(1, 5, size=n_households)
    sizes[r.random(n_households) < 0.04] = 0
    ind_hh = np.repeat(hhids, sizes)
    n_ind = len(ind_hh)
    ind_ids = np.char.add(f"I{seed % 1000:03d}", np.char.zfill(np.arange(n_ind).astype(str), 7))
    mapped = r.random(n_ind) >= 0.03

    def pick(options: list[str], share_no_value: float) -> np.ndarray:
        out = r.choice(np.array(options, dtype=object), n_households)
        out[r.random(n_households) < share_no_value] = _NO_VALUE
        return out

    _write_csv(os.path.join(out_dir, "demographics.csv"), {
        "hhid": hhids,
        "num_inds": sizes.astype(np.int64),
        "children_ind": pick(["0", "1", "2+"], 0.05),
        "hh_income_ind": pick(["0 to 50", "51 to 100", "101 to 200", "200+"], 0.08),
        "age_ind": pick(["18-29", "30-39", "40-64", "65+"], 0.04),
        "home_value_ind": pick(["0 to 100", "101 to 200", "201 to 500", "500+"], 0.1),
        "state": r.choice(np.array(_STATES, dtype=object), n_households),
    })
    _write_csv(os.path.join(out_dir, "hh_ind.csv"),
               {"hhid": ind_hh[mapped], "individual_id": ind_ids[mapped]})

    n_tx = n_ind * 12
    owner = ind_ids[r.integers(0, n_ind, size=n_tx)]
    ts = _DAY0 + r.integers(0, _SPAN_S, size=n_tx).astype("timedelta64[s]")
    # exact boundary instants: inclusive start and inclusive end
    edge = r.random(n_tx)
    ts[edge < 0.01] = np.datetime64(CAMPAIGN_START.replace(" ", "T"))
    ts[(edge >= 0.01) & (edge < 0.02)] = np.datetime64(CAMPAIGN_END.replace(" ", "T"))
    cents = r.integers(1, 50_000, size=n_tx)
    _write_csv(os.path.join(out_dir, "transactions.csv"), {
        "individual_id": owner,
        "date": pa.array(ts).cast(pa.string()),
        "transaction_amount": pc.binary_join_element_wise(
            pa.array(cents // 100).cast(pa.string()),
            pc.utf8_lpad(pa.array(cents % 100).cast(pa.string()), 2, "0"), "."),
    })
    return {
        t: os.path.join(out_dir, f"{t}.csv")
        for t in ("transactions", "hh_ind", "demographics")
    }


def _write_csv(path: str, cols: dict) -> None:
    """Unquoted CSV with a header (the reference files' dialect)."""
    tbl = pa.table({k: v if isinstance(v, pa.Array) else pa.array(v) for k, v in cols.items()})
    with open(path, "wb") as f:
        f.write((",".join(cols) + "\n").encode())
        pacsv.write_csv(tbl, f, pacsv.WriteOptions(include_header=False, quoting_style="none"))


def documents_table(seed: int, n_docs: int) -> pa.Table:
    """``documents`` rows (doc_id, text, lang, source, n_chars).

    One doc in eight is a near-duplicate of an earlier doc (a token
    in twenty replaced), so 3-shingle Jaccard of a planted pair is
    well above the catalog's 0.5 threshold.
    """
    r = _rng(seed, 2)
    # seed-chosen vocabulary: a prefix per seed keeps tokens of
    # different seeds disjoint (the gen_scale_corpus tiling idea)
    prefix = "abcdefghijklmnopqrstuvwxyz"[seed % 26]
    vocab = np.array([f"{prefix}{w}" for w in _WORDS] + [f"{prefix}w{i}" for i in range(400)])
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    zipf /= zipf.sum()
    texts: list[str | None] = []
    toks_of: list[np.ndarray] = []
    for i in range(n_docs):
        if i > 8 and r.random() < 0.125:
            src = toks_of[int(r.integers(0, i))].copy()
            flip = r.random(len(src)) < 0.05
            src[flip] = r.choice(vocab, int(flip.sum()))
            toks = src
        else:
            toks = r.choice(vocab, int(r.integers(30, 70)), p=zipf)
        toks_of.append(toks)
        texts.append(" ".join(toks.tolist()))
    nulls = r.random(n_docs) < 0.004
    for i in np.flatnonzero(nulls):
        texts[i] = None
    langs = r.choice(np.array(["en", "de", "fr", "es"]), n_docs, p=[0.7, 0.1, 0.1, 0.1])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(langs.tolist()),
            "source": pa.array([f"src{int(x)}" for x in r.integers(0, 20, n_docs)]),
            "n_chars": pa.array([None if t is None else len(t) for t in texts], type=pa.int64()),
        }
    )


def embeddings_table(seed: int, n_vecs: int) -> pa.Table:
    """``embeddings`` rows (vec_id, embedding float32[64], label).

    Isotropic Gaussian vectors rotated by a seed-chosen orthogonal
    matrix (SRP buckets re-mix per seed), with one vector in ten a
    near-duplicate (cosine > 0.95) of an earlier one.
    """
    r = _rng(seed, 3)
    v = r.standard_normal((n_vecs, DIM))
    dup = np.flatnonzero(r.random(n_vecs) < 0.1)
    dup = dup[dup > 0]
    src = (r.random(len(dup)) * dup).astype(np.int64)
    v[dup] = v[src] + 0.2 * r.standard_normal((len(dup), DIM))
    q, rr = np.linalg.qr(r.standard_normal((DIM, DIM)))
    v = (v @ (q * np.sign(np.diag(rr)))).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, 10, n_vecs).astype(np.int32)),
        }
    )


def corpus_inputs(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> dict[str, str]:
    """Write ``documents.parquet`` and ``embeddings.parquet`` (a
    testdata-shaped directory the catalog builders and the DuckDB
    oracles both read)."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {
        "documents": os.path.join(out_dir, "documents.parquet"),
        "embeddings": os.path.join(out_dir, "embeddings.parquet"),
    }
    pq.write_table(documents_table(seed, n_docs), paths["documents"])
    pq.write_table(embeddings_table(seed, n_vecs), paths["embeddings"])
    return paths
