"""Seeded input generators, one per workload.

Every generator is a pure function of ``seed``: the same seed writes
byte-identical files. Sizes are fixed per workload (only content varies
with the seed), so two seeds cost the engine the same amount of work up
to data-dependent effects such as key skew.

- ``mr_text``      open-vocabulary Zipf text files for the map/reduce job
- ``corpus_table`` one documents table with a planted gate-failing share
                   and a planted near-duplicate share
- ``stream_pool``  document files staged for the streaming landing zone,
                   with a planted gate-failing share and a planted
                   near-duplicate share

Each returns a ``shares`` dict of the measured input properties
(gate-designed pass share, planted-duplicate share, distinct vocabulary,
top-key share of the map pairs).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ZIPF_S = 1.07
WORD_RE = re.compile(r"[A-Za-z]+")


def vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct letter-only words of 3-9 letters (the repo
    tokenizers split on non-letters, so digits would dissolve)."""
    n = size + size // 8 + 64
    chars = rng.integers(ord("a"), ord("z") + 1, size=(n, 9), dtype=np.uint8)
    chars[np.arange(9) >= rng.integers(3, 10, size=n)[:, None]] = 0
    words = chars.view("S9").ravel()          # trailing NULs drop out
    _, first = np.unique(words, return_index=True)
    if first.size < size:
        raise ValueError(f"vocabulary: {first.size} distinct < {size}")
    return words[np.sort(first)[:size]].astype("U9")


class ZipfSampler:
    """Zipf(s) rank draws by inverse CDF: one cumulative table, then a
    binary search per draw."""

    def __init__(self, size: int, s: float = ZIPF_S):
        p = np.arange(1, size + 1, dtype=np.float64) ** -s
        self.cdf = np.cumsum(p / p.sum())

    def draw(self, rng: np.random.Generator, n: int) -> np.ndarray:
        return np.minimum(np.searchsorted(self.cdf, rng.random(n)),
                          len(self.cdf) - 1)


# ---------------------------------------------------------------------------
# mapreduce_text

MR_FILES = 16          # > cores: the map stage has more tasks than slots
MR_WORDS_PER_FILE = 24_000
MR_VOCAB = 200_000


def mr_text(out_dir: str, seed: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    words = vocabulary(rng, MR_VOCAB)
    idx = ZipfSampler(MR_VOCAB).draw(rng, MR_FILES * MR_WORDS_PER_FILE)
    os.makedirs(out_dir, exist_ok=True)
    for f in range(MR_FILES):
        part = words[idx[f * MR_WORDS_PER_FILE:(f + 1) * MR_WORDS_PER_FILE]]
        lines = [" ".join(part[i:i + 12])
                 for i in range(0, len(part), 12)]
        with open(os.path.join(out_dir, f"pg-{f:03d}.txt"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    counts = np.bincount(idx, minlength=MR_VOCAB)
    return {"files": MR_FILES, "words": int(idx.size),
            "bytes": sum(os.path.getsize(os.path.join(out_dir, f))
                         for f in os.listdir(out_dir)),
            "distinct_vocab": int((counts > 0).sum()),
            "top_key_share": round(float(counts.max() / idx.size), 4)}


# ---------------------------------------------------------------------------
# stream_ingest: documents

DOC_VOCAB = 100_000
PASS_WORDS = (60, 90)       # words per gate-passing document
FAIL_KINDS = ("short", "digits", "repetitive")
N_SOURCES = 8


class DocMaker:
    """Builds gate-passing originals, gate-failing documents and light
    edits of earlier originals from one seeded vocabulary.

    Passing documents draw their words Zipf-distributed but distinct
    within the document, so they clear the length, alpha-ratio and
    repetition gates by a wide margin. A near-duplicate replaces one
    word of an original: word 3-gram Jaccard >= 0.90 for a 60-word
    document, where 16 bands of 4 rows miss a pair with probability
    (1 - 0.9^4)^16 < 1e-7, so every planted copy is found by a correct
    MinHash-LSH dedup. (Three replaced words bring a 60-word copy down to
    0.73, where that miss probability is 0.005 per pair.)"""

    def __init__(self, seed: int, salt: int):
        self.rng = np.random.default_rng([seed, salt])
        self.words = vocabulary(self.rng, DOC_VOCAB)
        self.zipf = ZipfSampler(DOC_VOCAB)

    def passing(self) -> str:
        n = int(self.rng.integers(*PASS_WORDS))
        draw = self.zipf.draw(self.rng, 3 * n)
        _, first = np.unique(draw, return_index=True)
        keep = draw[np.sort(first)][:n]
        return " ".join(self.words[keep])

    def failing(self, i: int) -> str:
        kind = FAIL_KINDS[i % len(FAIL_KINDS)]
        base = self.words[self.zipf.draw(self.rng, 40)]
        if kind == "short":
            return " ".join(base[:6])
        if kind == "digits":
            nums = self.rng.integers(10**6, 10**9, size=40)
            return " ".join(f"{w} {n}" for w, n in zip(base, nums))
        return " ".join(list(base[:4]) * 15)

    def near_dup(self, text: str) -> str:
        toks = text.split()
        present = set(toks)
        while True:
            w = str(self.words[self.rng.integers(0, DOC_VOCAB)])
            if w not in present:
                break
        toks[int(self.rng.integers(0, len(toks)))] = w
        return " ".join(toks)


def _docs_table(ids, texts) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(["en"] * len(ids)),
        "source": pa.array([f"src{i % N_SOURCES}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def plan_documents(maker: DocMaker, n_docs: int, fail_share: float,
                   dup_share: float):
    """Return (ids, texts, kinds, dup_of): kinds is 'pass' | 'fail' |
    'dup'; dup_of maps a planted near-duplicate to its original, which
    always has a smaller doc_id (the min-doc_id survivor rule)."""
    ids, texts, kinds, dup_of = [], [], [], {}
    originals: list[int] = []
    for doc_id in range(n_docs):
        u = maker.rng.random()
        if originals and u < dup_share:
            src = originals[int(maker.rng.integers(0, len(originals)))]
            texts.append(maker.near_dup(texts[src]))
            kinds.append("dup")
            dup_of[doc_id] = src
        elif u < dup_share + fail_share:
            texts.append(maker.failing(doc_id))
            kinds.append("fail")
        else:
            texts.append(maker.passing())
            kinds.append("pass")
            originals.append(doc_id)
        ids.append(doc_id)
    return ids, texts, kinds, dup_of


def _write_expected(out_dir: str, ids, kinds, dup_of) -> None:
    with open(os.path.join(out_dir, "expected.json"), "w") as fh:
        json.dump({"pass": [i for i, k in zip(ids, kinds) if k == "pass"],
                   "dup_of": {str(k): v for k, v in dup_of.items()}}, fh)


def _doc_shares(texts, kinds) -> dict:
    vocab = Counter(w for t in texts for w in WORD_RE.findall(t))
    n = len(kinds)
    return {"docs": n,
            "designed_pass_share": round(kinds.count("pass") / n, 4),
            "planted_dup_share": round(kinds.count("dup") / n, 4),
            "gate_fail_share": round(kinds.count("fail") / n, 4),
            "distinct_vocab": len(vocab),
            "top_key_share": round(max(vocab.values())
                                   / sum(vocab.values()), 4)}


# ---------------------------------------------------------------------------
# stream_ingest: a pool of landing files, each a small document batch

STREAM_FILE_DOCS = 100
STREAM_FILES = 16       # one landing file per 4 s for up to 60 s
# Two small warm-up batches: after one, the measured batch (the query's
# second) varied by about 0.2 between runs (quartile spread / median),
# after two by under 0.1.
STREAM_WARM_FILES = 2
STREAM_WARM_DOCS = 20
STREAM_FAIL_SHARE = 0.15
STREAM_DUP_SHARE = 0.15


def stream_pool(out_dir: str, seed: int) -> dict:
    """``STREAM_WARM_FILES`` small warm-up files of ``STREAM_WARM_DOCS``
    documents, then ``STREAM_FILES`` parquet files of
    ``STREAM_FILE_DOCS`` documents, in landing order. A planted
    duplicate's original is in the same or an earlier file, so arrival
    order never lets a copy beat its original (the condition under which
    incremental survivors equal batch survivors)."""
    maker = DocMaker(seed, 3)
    n_warm = STREAM_WARM_FILES * STREAM_WARM_DOCS
    ids, texts, kinds, dup_of = plan_documents(
        maker, n_warm + STREAM_FILES * STREAM_FILE_DOCS, STREAM_FAIL_SHARE,
        STREAM_DUP_SHARE)
    os.makedirs(out_dir, exist_ok=True)
    _write_expected(out_dir, ids, kinds, dup_of)

    def write(lo: int, n: int, name: str) -> None:
        pq.write_table(_docs_table(ids[lo:lo + n], texts[lo:lo + n]),
                       os.path.join(out_dir, name))
    for k in range(STREAM_WARM_FILES):
        write(k * STREAM_WARM_DOCS, STREAM_WARM_DOCS, f"warm-{k:04d}.parquet")
    for f in range(STREAM_FILES):
        write(n_warm + f * STREAM_FILE_DOCS, STREAM_FILE_DOCS,
              f"pool-{f:04d}.parquet")
    return _doc_shares(texts, kinds)


# ---------------------------------------------------------------------------
# corpus_build: one documents table in the program's catalog layout

CORPUS_DOCS = 1_500
CORPUS_WARM_DOCS = 200
CORPUS_FAIL_SHARE = 0.15
CORPUS_DUP_SHARE = 0.15


def corpus_table(out_dir: str, seed: int) -> dict:
    """``documents.parquet`` (the catalog's documents schema) of
    ``CORPUS_DOCS`` documents in an sf-directory layout, so the
    program's ``sf_dir`` entry points read it as they read the
    fixture; and a ``CORPUS_WARM_DOCS`` table of the same make under
    ``warm/`` for the untimed warm-up."""
    for sub, n_docs, salt in (("", CORPUS_DOCS, 2),
                              ("warm", CORPUS_WARM_DOCS, 4)):
        d = os.path.join(out_dir, sub)
        ids, texts, kinds, dup_of = plan_documents(
            DocMaker(seed, salt), n_docs, CORPUS_FAIL_SHARE,
            CORPUS_DUP_SHARE)
        os.makedirs(d, exist_ok=True)
        _write_expected(d, ids, kinds, dup_of)
        pq.write_table(_docs_table(ids, texts),
                       os.path.join(d, "documents.parquet"))
        if not sub:
            shares = _doc_shares(texts, kinds)
    return shares


GENERATORS = {"mapreduce_text": mr_text, "corpus_build": corpus_table,
              "stream_ingest": stream_pool}


def generate_cached(cache_root: str, workload: str, seed: int
                    ) -> tuple[str, dict]:
    """Generate ``workload``'s inputs for ``seed`` once; later calls with
    the same pair (and the same generator source) reuse the directory.
    Returns (input_dir, shares)."""
    with open(__file__, "rb") as fh:
        version = hashlib.sha1(fh.read()).hexdigest()[:8]
    d = os.path.join(cache_root, f"{workload}-{seed}-{version}")
    meta = os.path.join(d, "_shares.json")
    if os.path.exists(meta):
        with open(meta) as fh:
            return d, json.load(fh)
    tmp = f"{d}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    shares = GENERATORS[workload](tmp, seed)
    with open(os.path.join(tmp, "_shares.json"), "w") as fh:
        json.dump(shares, fh)
    try:
        os.replace(tmp, d)
    except OSError:  # a concurrent run of the same seed finished first
        shutil.rmtree(tmp)
    return d, shares
