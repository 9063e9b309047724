"""Seeded input generators with planted truth.

Every input the engine sees is written here from ``--seed``; the engine
receives only the generated files. Each generator returns the planted
truth the workload checks its outputs against.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# curate_batch: planted-truth parameters
CURATE_DOCS = 2000
CURATE_LOW_SHARE = 0.10  # docs too short to pass quality_filter(0.3)
CURATE_CLUSTERS = 100  # near-duplicate clusters ...
CURATE_CLUSTER_SIZE = 3  # ... of this many members each

# stream_ingest: planted-truth parameters
STREAM_FILES = 480
STREAM_DOCS_PER_FILE = 40
STREAM_FILES_PER_TRIGGER = 8
STREAM_DUP_SHARE = 0.10  # exact copies of a doc from >= 1 trigger earlier
STREAM_LOW_SHARE = 0.10  # short or repetitive docs the filters drop
STREAM_PII_SHARE = 0.20  # docs carrying an email and a phone number

# search_serve: planted-truth parameters
SEARCH_VECTORS = 8000
SEARCH_DIM = 64
SEARCH_CLUSTERS = 1000
SEARCH_APPEND = 500
SEARCH_LSH = 500  # base vectors the LSH pass in setup searches

_BASE_TS = 1_704_067_200  # 2024-01-01 UTC: every row shares one watermark era


def _vocab(rng: random.Random, n: int = 4000) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    return sorted(words)


def _good_text(rng: random.Random, vocab: list[str], lo: int = 60, hi: int = 110) -> str:
    return " ".join(rng.choice(vocab) for _ in range(rng.randint(lo, hi))) + "."


def curate_corpus(seed: int, path: str) -> dict:
    """Write ``path/documents.parquet`` (doc_id, text).

    Planted truth: low-quality docs (3-8 words, quality score < 0.3) and
    near-duplicate clusters whose members differ from the cluster's first
    doc by one substituted word (word 3-shingle Jaccard ~0.9 between any
    two members, far above the 0.8 threshold; unrelated docs share almost
    no shingles). The chain must keep exactly the good singletons and the
    lowest doc_id of each cluster.
    """
    rng = random.Random(seed * 7919 + 1)
    vocab = _vocab(rng)
    n_low = int(CURATE_DOCS * CURATE_LOW_SHARE)
    n_copies = CURATE_CLUSTERS * (CURATE_CLUSTER_SIZE - 1)
    n_single = CURATE_DOCS - n_low - n_copies
    texts: list[tuple[str, str, int]] = []  # (text, kind, cluster)
    for c in range(n_single):
        cluster = c if c < CURATE_CLUSTERS else -1
        texts.append((_good_text(rng, vocab), "good", cluster))
    for c in range(CURATE_CLUSTERS):
        words = texts[c][0].split(" ")
        for _ in range(CURATE_CLUSTER_SIZE - 1):
            w = list(words)
            j = rng.randrange(1, len(w) - 1)
            w[j] = rng.choice(vocab)
            texts.append((" ".join(w), "good", c))
    for _ in range(n_low):
        texts.append((" ".join(rng.choice(vocab) for _ in range(rng.randint(3, 8))), "low", -1))
    ids = rng.sample(range(10 * CURATE_DOCS), CURATE_DOCS)
    first_of_cluster: dict[int, int] = {}
    for i, (_, kind, cluster) in zip(ids, texts):
        if cluster >= 0:
            first_of_cluster[cluster] = min(i, first_of_cluster.get(cluster, i))
    keep = set()
    for i, (_, kind, cluster) in zip(ids, texts):
        if kind == "good" and (cluster < 0 or first_of_cluster[cluster] == i):
            keep.add(i)
    order = sorted(range(CURATE_DOCS), key=lambda k: ids[k])
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([ids[k] for k in order], pa.int64()),
                "text": pa.array([texts[k][0] for k in order], pa.string()),
            }
        ),
        os.path.join(path, "documents.parquet"),
    )
    return {"ids": set(ids), "keep": keep}


def stream_backlog(seed: int, path: str) -> dict:
    """Stage ``STREAM_FILES`` parquet files (doc_id, ts, text) in ``path``
    with strictly increasing modification times, so the file source
    drains them in file order.

    Planted truth: short and repetitive docs the filters drop, PII docs
    that survive redacted, and exact duplicates of a doc staged at least
    one full trigger (``STREAM_FILES_PER_TRIGGER`` files) earlier, so the
    original always lands in an earlier micro-batch and the duplicate
    must be dropped by the dedup state carried across batches. Returns
    ``keep_by_file``: the doc_ids each file must contribute to the sink.
    """
    rng = random.Random(seed * 104729 + 2)
    vocab = _vocab(rng)
    os.makedirs(path, exist_ok=True)
    keep_by_file: list[set[int]] = []
    originals: list[str] = []  # texts of kept docs, in file order
    kept_before: list[int] = []  # len(originals) when file f was started
    doc_id = 0
    for f in range(STREAM_FILES):
        kept_before.append(len(originals))
        n_eligible = kept_before[f - STREAM_FILES_PER_TRIGGER + 1] if f >= STREAM_FILES_PER_TRIGGER else 0
        ids, tss, txts, keep = [], [], [], set()
        for _ in range(STREAM_DOCS_PER_FILE):
            r = rng.random()
            if r < STREAM_DUP_SHARE and n_eligible:
                text = originals[rng.randrange(n_eligible)]
            elif r < STREAM_DUP_SHARE + STREAM_LOW_SHARE:
                if rng.random() < 0.5:
                    text = " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 6)))
                else:
                    text = " ".join([rng.choice(vocab)] * rng.randint(20, 40))
            else:
                text = _good_text(rng, vocab, 30, 60)
                if rng.random() < STREAM_PII_SHARE / (1 - STREAM_DUP_SHARE - STREAM_LOW_SHARE):
                    text += (
                        f" contact {rng.choice(vocab)}@{rng.choice(vocab)}.com or "
                        f"555-{rng.randint(100, 999)}-{rng.randint(1000, 9999)} today."
                    )
                keep.add(doc_id)
                originals.append(text)
            ids.append(doc_id)
            tss.append((_BASE_TS * 1000 + doc_id * 100) * 1000)  # 0.1 s apart
            txts.append(text)
            doc_id += 1
        fp = os.path.join(path, f"part-{f:05d}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(ids, pa.int64()),
                    "ts": pa.array(tss, pa.timestamp("us")),
                    "text": pa.array(txts, pa.string()),
                }
            ),
            fp,
        )
        os.utime(fp, (_BASE_TS + f, _BASE_TS + f))
        keep_by_file.append(keep)
    return {"keep_by_file": keep_by_file}


def search_vectors(seed: int, n: int, first_id: int, stream: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """``n`` unit-norm clustered vectors with ids ``first_id..``.

    The cluster centres depend only on ``seed``, so appended batches
    (``stream`` > 0) come from the distribution the index was trained on
    and pass the append drift gate."""
    centres = np.random.default_rng(seed).standard_normal((SEARCH_CLUSTERS, SEARCH_DIM))
    rng = np.random.default_rng([seed, stream])
    pts = centres[rng.integers(0, SEARCH_CLUSTERS, n)] + 0.15 * rng.standard_normal((n, SEARCH_DIM))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    return np.arange(first_id, first_id + n, dtype=np.int64), pts.astype(np.float32)


def write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            }
        ),
        path,
    )
