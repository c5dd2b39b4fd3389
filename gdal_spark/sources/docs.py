"""Deterministic `documents`/`embeddings` synthesis at arbitrary scale.

The driver ships sf0.001/0.01/0.1 parquet read-only; the r4 verdict's
"make the 100-TB claim measurable" item needs the dedup/ANN tier run
at a 10x scale factor (sf1: 50k docs).  This module synthesizes tables
of the driver's exact SHAPE — schema, dense doc_id, the 30-word
query-domain vocabulary, 8-100 word documents, the lang/source mix,
64-dim float32 embeddings with 10 planted clusters — as a pure
function of row id (splitmix counter hash, the sources/pages.py
discipline), so any scale materializes reproducibly with no external
data.  Exact-duplicate groups are planted at the driver's observed
rate (~1 group per 625 docs) by re-deriving text from a SOURCE id:
text(i) = f(i - (i % 625 == 1)) — a pure function of i still.

Not a re-generation of the driver's data (seed differs); the scaling
curves compare synthetic-to-synthetic, apples to apples.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

from gdal_spark.sources.pages import _rng_for

# the sf0.1 documents vocabulary, verbatim (30 words; "dup" is the
# driver's plant marker and intentionally not part of the base vocab)
VOCAB = np.array([
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch",
])

_LANGS = np.array(["en", "en", "en", "en", "es", "de", "zh", "fr", "en", "es"])


def synth_documents_pdf(start: int, count: int) -> pd.DataFrame:
    ids = np.arange(start, start + count, dtype=np.int64)
    # exact-dup plant: i % 625 == 1 re-derives from i - 1
    src_ids = np.where(ids % 625 == 1, ids - 1, ids)
    h = _rng_for(src_ids)
    n_words = (8 + (h >> np.uint64(12)) % np.uint64(93)).astype(np.int64)
    max_w = int(n_words.max()) if count else 0
    widx = (
        _rng_for(
            (h[:, None] + np.uint64(1)
             + np.arange(max_w, dtype=np.uint64)).astype(np.int64)
        ) % np.uint64(len(VOCAB))
    ).astype(np.int64)
    # long-tail rare tokens (3 per doc, ~10^6 token space): a
    # 30-word closed vocabulary makes EVERY character 3-gram exceed
    # the q19 df-cap at sf1 (the first scale run measured
    # sum_df2_capped == 0 — a degenerate fixture knob: nothing
    # discriminative survives).  Real corpora are Heaps-tailed;
    # these tails are pure functions of the SOURCE id, so planted
    # duplicates share them and the near-dup tiers stay exercised.
    tail = (
        _rng_for(
            (h[:, None] + np.uint64(101)
             + np.arange(3, dtype=np.uint64)).astype(np.int64)
        ) % np.uint64(1_000_000)
    ).astype(np.int64)
    texts = [
        " ".join(VOCAB[widx[r, : n_words[r]]])
        + f" w{tail[r, 0]} w{tail[r, 1]} w{tail[r, 2]}"
        for r in range(count)
    ]
    hid = _rng_for(ids)  # lang/source vary per row, not per source-id
    langs = _LANGS[(hid >> np.uint64(20)) % np.uint64(len(_LANGS))]
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": langs,
            "source": [f"src{1 + int(i) % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def synth_embeddings_pdf(start: int, count: int) -> pd.DataFrame:
    ids = np.arange(start, start + count, dtype=np.int64)
    h = _rng_for(ids)
    labels = (h % np.uint64(10)).astype(np.int32)
    d = np.arange(64, dtype=np.int64)
    centers = (((labels[:, None] * 37 + d[None, :] * 13) % 29) - 14) / 7.0
    noise_h = _rng_for(
        (h[:, None] + np.uint64(7) + d[None, :].astype(np.uint64))
        .astype(np.int64))
    noise = ((noise_h % np.uint64(1000)).astype(np.float64) / 1000.0
             - 0.5) * 0.6
    vecs = (centers + noise).astype(np.float32)
    return pd.DataFrame(
        {
            "vec_id": ids,
            "embedding": [vecs[r] for r in range(count)],
            "label": labels,
        }
    )


def write_scale_dir(path: str, n_docs: int, n_vecs: int,
                    chunk: int = 20_000) -> str:
    """Materialize {path}/documents.parquet + embeddings.parquet.

    Each table is a DIRECTORY of part files (one per ``chunk``), not
    a single parquet: a lone 30 MB file is ONE scan partition under
    maxPartitionBytes, and the whole dedup tier then runs serial no
    matter how many cores attend — measured: 8 and 32 cores IDENTICAL
    at 200k docs until the split.  A real 100-TB table is thousands
    of files; the probe's layout must match or the scaling numbers
    measure the file count, not the engine.

    Idempotent: a marker file records the materialized shape.  Without
    it, every table directory and older marker is cleared first: part
    files of a previous layout would otherwise survive beside the new
    ones and be read as duplicate rows."""
    marker = os.path.join(path, f".synth_v3_{n_docs}_{n_vecs}")
    if os.path.exists(marker):
        return path
    os.makedirs(path, exist_ok=True)
    for name in os.listdir(path):
        if name.startswith(".synth_"):
            os.remove(os.path.join(path, name))
    for sub, n, gen in (("documents.parquet", n_docs,
                         synth_documents_pdf),
                        ("embeddings.parquet", n_vecs,
                         synth_embeddings_pdf)):
        d = os.path.join(path, sub)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        # ~32 parts per table (floor 2500 rows) — one scan task per
        # core on the bench host, thousands-of-files-like at 100 TB
        ch = min(chunk, max(2_500, -(-n // 32)))
        for k, s in enumerate(range(0, n, ch)):
            gen(s, min(ch, n - s)).to_parquet(
                os.path.join(d, f"part-{k:04d}.parquet"), index=False)
    with open(marker, "w") as f:
        f.write("ok\n")
    return path
