"""Seeded benchmark inputs.

Everything here is a pure function of its seed argument (and of the
fixed sf-s entity world): two runs with the same ``--seed`` send the
engine the same bboxes and kNN points, and the corpus documents and
embeddings come from one constant seed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BATCH_SIZE = 12  # bboxes per bbox_extract_batch call
BOX_POOL = BATCH_SIZE - 1  # seeded bboxes per run, one oracle computation each
KNN_Q = 100  # query points of the large kNN batch

_VOCAB = (
    "spark tile node way relation extract corpus doc span media street city "
    "map query join shuffle partition index range scan batch stream window "
    "value filter group order sort hash table vector column line part key "
    "data row fast slow big small merge agg the a"
).split()
_LANGS = ["en", "de", "fr", "zh", "es"]


def _systematic(seed: int, stream: int, n_items: int, n: int) -> np.ndarray:
    """``n`` indices evenly spaced through ``n_items`` from a seeded
    offset. The generator emits nodes cluster by cluster, so every seed
    gets the same mix of dense and sparse places, placed differently."""
    offset = np.random.default_rng([seed, stream]).uniform(0, n_items / n)
    return (offset + np.arange(n) * (n_items / n)).astype(np.int64)


def box_pool(seed: int, node_lat: np.ndarray, node_lon: np.ndarray) -> list[tuple]:
    """``BOX_POOL`` bboxes (min_lat, min_lon, max_lat, max_lon) centred on
    seeded nodes, with half-sizes spaced evenly in log scale from 0.005°
    (a few streets) to 90° (world-sized), clamped to the Web-Mercator
    range. The seed picks the centres and which size goes where."""
    centres = _systematic(seed, 1, len(node_lat), BOX_POOL)
    halves = np.geomspace(0.005, 90.0, BOX_POOL)
    np.random.default_rng([seed, 1]).shuffle(halves)
    return [
        (
            max(-85.0, node_lat[i] - h),
            max(-180.0, node_lon[i] - h),
            min(85.0, node_lat[i] + h),
            min(179.9999999, node_lon[i] + h),
        )
        for i, h in zip(centres, halves)
    ]


def knn_points(seed: int, node_lat: np.ndarray, node_lon: np.ndarray) -> list[tuple]:
    """``KNN_Q`` (query_id, lat, lon) points jittered ±0.001° around
    seeded nodes — the large-Q serving shape of ``knn_kring``."""
    idx = _systematic(seed, 2, len(node_lat), KNN_Q)
    jit = np.random.default_rng([seed, 2]).uniform(-0.001, 0.001, size=(KNN_Q, 2))
    return [
        (q, float(node_lat[i] + jit[q, 0]), float(node_lon[i] + jit[q, 1]))
        for q, i in enumerate(idx)
    ]


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    """(doc_id, text, lang, source, n_chars) in the shape of the corpus
    ``documents`` table. A quarter of the documents are near-duplicates:
    copies of an earlier document with a few words replaced, where the
    earlier document may itself be a copy, as templated and re-posted
    text is in real corpora."""
    rng = np.random.default_rng([seed, 3])
    texts: list[str] = []
    for d in range(n_docs):
        if d > 0 and rng.random() < 0.25:
            words = texts[int(rng.integers(d))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(len(words)))] = str(rng.choice(_VOCAB))
        else:
            words = list(rng.choice(_VOCAB, size=int(rng.integers(20, 90))))
        texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, size=n_docs),
            "source": [f"src{int(s)}" for s in rng.integers(0, 8, size=n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(seed: int, n_vecs: int, dim: int = 64, clusters: int = 16) -> pd.DataFrame:
    """(vec_id, embedding array<float>, label) — unit vectors drawn around
    ``clusters`` seeded centres, in the shape of the ``embeddings`` table."""
    rng = np.random.default_rng([seed, 4])
    centres = rng.normal(size=(clusters, dim))
    label = rng.integers(clusters, size=n_vecs)
    vecs = centres[label] + 0.6 * rng.normal(size=(n_vecs, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(vecs.astype(np.float32)),
            "label": label.astype(np.int32),
        }
    )


def write_parquet(df: pd.DataFrame, path: str) -> None:
    """Small row groups, as the fixture generator writes them: one row
    group is one scan task."""
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path, row_group_size=1_000)
