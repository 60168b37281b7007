"""Seeded input generators, cached by seed under the benchmark's cache dir.

Two input sets:

- DSL tables ``r`` (600k rows: ra, rc, rd) and ``s`` (10k rows: sa, sf,
  sg) with the distributions of the reference's ``perftests/gen.py``:
  ra/sa uniform join keys in [0, 1000]; rc in [1, 9] for the first 75%
  of rows and 10 after; sf in [31, 99]; rd negative and sg positive
  30-bit payloads.
- A corpus built like the testdata sf0.1 ``documents``/``embeddings``
  tables, then perturbed like a replica of ``tools/gen_scale_probe.py``
  (see ``corpus_frames``).

Generation is deterministic in the seed and runs before the timed set-up.
Files are written to a temp name and renamed, so a crash never leaves a
partial input behind a cache hit.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np

NUMR, NUMS, AMAX = 600_000, 10_000, 1000
SELRATER = 0.75
# Measured on the testdata sf0.1 tables (5000 documents, 2000 embeddings):
# - 270,704 tokens over 31 words: the 30 of WORDS, each 3.26-3.39% of the
#   tokens (uniform), and RARE ("dup", 255 tokens, 0.09%);
# - doc length uniform over 10..100 tokens (flat histogram, mean 54.1);
# - 250 docs (5%) are the text of another doc plus " dup" (a few twice):
#   248 pairs at 5-gram Jaccard >= 0.5, median 0.98. The 8 exact duplicate
#   pairs are two such copies of one source. lang and source of a copy are
#   independent of its source's;
# - lang en/zh/es/fr/de = 0.412/0.151/0.149/0.148/0.140; source is
#   src{doc_id % 20}; n_chars is the text's length;
# - embeddings: 64-dim float32, unit norm, components of std 0.125 = 1/8
#   (normalised Gaussians), no pair above cosine 0.95; label uniform in 0..9
#   and independent of the vector (per-label means have norm ~0.07).
N_DOCS, N_VECS, DIM = 5000, 2000, 64
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
RARE = "dup"
LEN_LO, LEN_HI = 10, 100
NEAR_SHARE = 0.05
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
N_LABELS = 10
# The replica layer of tools/gen_scale_probe.py: replica r > 0 renames the
# token t at position i to "t_r" when a hash of (t, i, r) falls in the
# lowest 30%, independently of the doc, so near copies keep their overlap.
REPLICAS, RENAME_SHARE = 4, 0.3
KEEP_CACHED = 8  # input sets kept per workload; older ones are removed
with open(__file__, "rb") as _f:  # a changed generator never reuses old inputs
    GEN_VERSION = hashlib.sha1(_f.read()).hexdigest()[:8]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _cached(cache_dir: str, name: str, write) -> str:
    path = os.path.join(cache_dir, name)
    if not os.path.isdir(path):
        tmp = path + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        write(tmp)
        os.rename(tmp, path)
        prefix = name.split("-", 1)[0] + "-"
        old = sorted((e for e in os.listdir(cache_dir)
                      if e.startswith(prefix) and ".tmp" not in e and e != name),
                     key=lambda e: os.path.getmtime(os.path.join(cache_dir, e)))
        for e in old[: max(0, len(old) - KEEP_CACHED + 1)]:
            shutil.rmtree(os.path.join(cache_dir, e), ignore_errors=True)
    return path


def dsl_tables(seed: int) -> dict[str, dict[str, np.ndarray]]:
    rng = np.random.default_rng([seed, 1])
    n_sel = int(NUMR * SELRATER)
    r = {
        "ra": rng.integers(0, AMAX + 1, NUMR, dtype=np.int32),
        "rc": np.where(np.arange(NUMR) < n_sel,
                       rng.integers(1, 10, NUMR), 10).astype(np.int32),
        "rd": (-rng.integers(0, 2**30, NUMR)).astype(np.int32),
    }
    s = {
        "sa": rng.integers(0, AMAX + 1, NUMS, dtype=np.int32),
        "sf": rng.integers(31, 100, NUMS, dtype=np.int32),
        "sg": rng.integers(0, 2**30, NUMS, dtype=np.int32),
    }
    return {"r": r, "s": s}


def write_dsl_inputs(cache_dir: str, seed: int) -> str:
    """Directory holding r.parquet and s.parquet for ``seed``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(out):
        for name, cols in dsl_tables(seed).items():
            pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    return _cached(cache_dir, f"dsl-{GEN_VERSION}-{seed}", write)


def corpus_frames(seed: int):
    """(documents, embeddings) as pandas frames for ``seed``.

    A 4x replica of sf0.1 scaled down to sf0.1's size: the docs fall into
    REPLICAS blocks of N_DOCS / REPLICAS, near copies are drawn inside a
    block, and block r > 0 is perturbed as replica r. The seed draws the
    docs, the copies and the rename table (where gen_scale_probe uses a
    fixed hash). The vocabulary then has a head (WORDS, ~2.6% of tokens
    each), a middle (the renamed "word_r", ~0.25% each) and a tail (RARE
    and its renames)."""
    import pandas as pd

    rng = np.random.default_rng([seed, 2])
    block = N_DOCS // REPLICAS
    words = np.array(WORDS)
    docs = [list(words[rng.integers(0, len(WORDS), n)])
            for n in rng.integers(LEN_LO, LEN_HI + 1, N_DOCS)]
    for i in sorted(rng.choice(N_DOCS, int(N_DOCS * NEAR_SHARE), replace=False)):
        lo = i // block * block
        j = int(rng.integers(lo, lo + block - 1))
        docs[i] = docs[j + (j >= i)] + [RARE]
    vocab = {w: k for k, w in enumerate(WORDS + [RARE])}
    rename = rng.random((REPLICAS, len(vocab), max(map(len, docs)))) < RENAME_SHARE
    texts = []
    for d, toks in enumerate(docs):
        r = d // block
        if r:
            toks = [f"{t}_{r}" if rename[r, vocab[t], i] else t for i, t in enumerate(toks)]
        texts.append(" ".join(toks))
    docs = pd.DataFrame({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), N_DOCS, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((N_VECS, DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embs = pd.DataFrame({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, N_LABELS, N_VECS).astype(np.int32),
    })
    return docs, embs


def write_corpus_inputs(cache_dir: str, seed: int) -> str:
    """An sf-style dir for ``seed``. Each table is a parquet *directory*
    (one part file): the streaming entries then read it in place instead
    of staging a symlink dir under a hard-coded /tmp."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(out):
        for name, frame in zip(("documents", "embeddings"), corpus_frames(seed)):
            d = os.path.join(out, f"{name}.parquet")
            os.makedirs(d)
            table = pa.Table.from_pandas(frame, preserve_index=False)
            if name == "embeddings":
                table = table.set_column(
                    1, "embedding",
                    pa.array([list(map(float, v)) for v in frame["embedding"]],
                             type=pa.list_(pa.float32())))
            pq.write_table(table, os.path.join(d, "part-0.parquet"))

    return _cached(cache_dir, f"corpus-{GEN_VERSION}-{seed}", write)
