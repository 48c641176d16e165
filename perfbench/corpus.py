"""The benchmark's fixed inputs.

``data/`` holds byte copies of the two tables of the project's seed-42
``sf0.1`` test data that the workloads read: ``documents.parquet``
(5,000 documents) and ``embeddings.parquet`` (2,000 unit-norm 64-dim
float32 vectors). They belong to the benchmark, so a change to the
program cannot change its input. Only the ANN query vectors are made
here, from the workload seed.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
N_VECS = 2_000
DIM = 64
SHA256 = {
    "documents.parquet": "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82",
    "embeddings.parquet": "f5a6fe8c86ce87190f685e5d246b3e544155aa147a7f47af7d32bb6d8ebe0a95",
}


def sf_dir() -> str:
    """The input directory (an ``sf_dir`` for ``kg``), after checking
    that each table is the pinned file."""
    for name, want in SHA256.items():
        with open(os.path.join(DATA_DIR, name), "rb") as f:
            got = hashlib.sha256(f.read()).hexdigest()
        if got != want:
            raise ValueError(f"{name} is not the pinned input (sha256 {got})")
    return DATA_DIR


def query_vectors(seed: int, n: int) -> list[list[float]]:
    """Ad-hoc unit query vectors for the ANN loop, a function of ``seed``."""
    rng = np.random.default_rng(seed)
    q = rng.normal(size=(n, DIM))
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    return q.tolist()
