"""Python workers run package code they cannot import: the package ships
its code by value with every task (``__init__.py``), so operators called
directly, outside the catalog, run from any working directory."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

from tests.conftest import TEST_SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_direct_operator_calls_from_foreign_cwd():
    """A vanilla session built from a foreign working directory with no
    PYTHONPATH, before the package is imported; then ``ivf_topk``,
    ``kmeans_int`` in its distributed regime and a media operator, each
    of whose Python kernels calls package functions, run directly."""
    prog = f"""
import sys
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
sys.path.insert(0, {REPO!r})
from udacity_capstone_data_engineering_spark.operators import kmeans
from udacity_capstone_data_engineering_spark.operators.ivf import ivf_topk
from udacity_capstone_data_engineering_spark.operators.multimodal import (
    decode_image_stats, encode_ppm,
)
import numpy as np

emb = spark.read.parquet({TEST_SF_DIR!r} + "/embeddings.parquet")
n = emb.count()
assert ivf_topk(emb, "vec_id", "embedding", k=5).count() > 0
kmeans.KMEANS_DRIVER_MAX_BYTES = 0
assert kmeans.kmeans_int(emb, "vec_id", "embedding").count() == n
img = encode_ppm(np.arange(24).reshape(2, 4, 3))
df = spark.createDataFrame([(1, bytearray(img))], "doc_id long, payload binary")
[row] = decode_image_stats(df, "payload", "doc_id").collect()
assert row["status"] == "ok" and row["r_sum"] == sum(range(0, 24, 3)), row
print("DIRECT_CALLS_OK")
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", prog],
        cwd=tempfile.gettempdir(),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "DIRECT_CALLS_OK" in out.stdout, out.stderr[-3000:]
