"""Gram-matrix query vs a numpy reference on the same quantization."""

from __future__ import annotations

import math

import numpy as np

from udacity_capstone_data_engineering_spark.queries.retrieval import (
    _GRAM_SCALE,
    embedding_gram_matrix,
)
from udacity_capstone_data_engineering_spark.sources.catalog import load_table


def test_gram_matches_numpy(spark, sf_dir):
    vecs = load_table(spark, sf_dir, "embeddings").collect()
    q = np.array(
        [
            [math.floor(float(x) * _GRAM_SCALE + 0.5) for x in r["embedding"]]
            for r in vecs
        ],
        dtype=np.int64,
    )
    want = q.T @ q
    got = {
        (r["i"], r["j"]): r["g"]
        for r in embedding_gram_matrix(spark, sf_dir).collect()
    }
    d = q.shape[1]
    assert len(got) == d * (d + 1) // 2
    for (i, j), g in got.items():
        assert i <= j
        assert g == want[i - 1, j - 1], (i, j)
    # diagonal entries are sums of squares
    assert all(got[(i, i)] >= 0 for i in range(1, d + 1))
