"""Seeded input generator for the benchmark.

The program only ever sees files written here. A corpus is a directory
holding ``documents.parquet`` (doc_id, text, lang, source, n_chars),
``nation.parquet`` and ``region.parquet`` -- the three tables the tile
and spatial-join paths read. Its shape follows the repository's sf0.1
test corpus: 5,000 base documents of 10..100 words drawn from a 30-word
vocabulary, five languages, twenty sources. The base set is replicated
``mult`` times with re-keyed doc_ids (``doc_id * mult + rep``) and a
``replica <rep>`` text suffix, the same expansion the repository's
scaling bench applies. The seed picks the base doc_ids (and so every
point location, which the geocoder derives from doc_id), the texts,
languages, the held-back slices and the kNN query points.

Generation is cached on disk by (seed, mult); it is never part of a
timed region.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE_DOCS = 5_000
# base doc_ids are drawn from [0, BASE_DOCS * ID_SPREAD)
ID_SPREAD = 20
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
NATIONS = 25
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
KNN_QUERIES = 1_000
# held-back doc_id % 100 slices (the streaming probe's documents)
N_SLICES = 5


def _base_documents(rng: np.random.Generator) -> pd.DataFrame:
    ids = np.sort(rng.choice(BASE_DOCS * ID_SPREAD, BASE_DOCS, replace=False))
    n_words = rng.integers(10, 101, BASE_DOCS)
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(n_words.sum()))]
    ends = np.cumsum(n_words)
    texts = [" ".join(words[e - n:e]) for n, e in zip(n_words, ends)]
    dup = rng.random(BASE_DOCS) < 0.05
    texts = [t + " dup" if d else t for t, d in zip(texts, dup)]
    return pd.DataFrame({
        "doc_id": ids.astype(np.int64),
        "text": texts,
        "lang": np.asarray(LANGS)[rng.choice(len(LANGS), BASE_DOCS, p=LANG_P)],
        "source": ["src%d" % (i % 20) for i in ids],
    })


def _replicate(base: pd.DataFrame, mult: int) -> pd.DataFrame:
    if mult <= 1:
        out = base.copy()
    else:
        rep = np.tile(np.arange(mult, dtype=np.int64), len(base))
        out = base.loc[base.index.repeat(mult)].reset_index(drop=True)
        out["doc_id"] = out["doc_id"].to_numpy() * mult + rep
        out["text"] = out["text"] + " replica " + pd.Series(rep).astype(str)
    out["n_chars"] = out["text"].str.len().astype(np.int64)
    return out[["doc_id", "text", "lang", "source", "n_chars"]]


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def _dimension_tables(out: str) -> None:
    _write(pd.DataFrame({
        "n_nationkey": np.arange(NATIONS, dtype=np.int32),
        "n_name": ["NATION_%d" % i for i in range(NATIONS)],
        "n_regionkey": (np.arange(NATIONS) % len(REGIONS)).astype(np.int32),
    }), os.path.join(out, "nation.parquet"))
    _write(pd.DataFrame({
        "r_regionkey": np.arange(len(REGIONS), dtype=np.int32),
        "r_name": REGIONS,
    }), os.path.join(out, "region.parquet"))


def dir_bytes(path: str, skip=("manifest.jsonl",)) -> int:
    """Bytes of every file under ``path`` except those named in ``skip``."""
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f))
                     for f in files if f not in skip)
    return total


def make_inputs(work: str, seed: int, mult: int) -> dict:
    """Write (or reuse) the inputs for one seed and return their record.

    Layout under ``<work>/inputs/s<seed>_m<mult>/``:

    * ``corpus/`` -- the full replicated corpus plus dimension tables;
    * ``slices/slice_<k>.parquet`` -- ``N_SLICES`` held-back
      ``doc_id % 100`` slices, the streaming probe's arriving documents;
    * ``knn_queries.parquet`` -- (query_id, qlon, qlat) query points.
    """
    key = "s%d_m%d" % (seed, mult)
    out = os.path.join(work, "inputs", key)
    meta_path = os.path.join(out, "inputs.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    tmp = "%s.tmp-%d" % (out, os.getpid())
    for sub in ("corpus", "slices"):
        os.makedirs(os.path.join(tmp, sub))
    rng = np.random.default_rng(seed)
    docs = _replicate(_base_documents(rng), mult)
    _write(docs, os.path.join(tmp, "corpus", "documents.parquet"))
    # slice residues are distinct, seeded and fixed per input set
    residues = sorted(int(r) for r in rng.choice(100, N_SLICES, replace=False))
    held = docs["doc_id"].to_numpy() % 100
    for k, r in enumerate(residues):
        _write(docs[held == r], os.path.join(tmp, "slices", "slice_%d.parquet" % k))
    _dimension_tables(os.path.join(tmp, "corpus"))
    _write(pd.DataFrame({
        "query_id": np.arange(KNN_QUERIES, dtype=np.int64),
        "qlon": rng.uniform(-179.5, 179.5, KNN_QUERIES),
        "qlat": rng.uniform(-84.5, 84.5, KNN_QUERIES),
    }), os.path.join(tmp, "knn_queries.parquet"))
    meta = {
        "seed": seed, "mult": mult, "docs": int(len(docs)),
        "slice_residues": residues,
        "bytes": dir_bytes(os.path.join(tmp, "corpus")),
        "dir": out,
    }
    with open(os.path.join(tmp, "inputs.json"), "w") as f:
        json.dump(meta, f)
    try:
        os.rename(tmp, out)
    except OSError:
        # another run made the same inputs first; theirs are identical
        shutil.rmtree(tmp)
    return meta
