"""The BM25 kernel (functions/bm25.py): one saturation expression that
gives bit-identical values as a Python float, a numpy array and a
Catalyst Column."""

import numpy as np

from pyspark.sql import functions as F

from elasticsearch_analysis_hashsplitter_spark.functions import bm25

from .test_spark_engine import TOKEN_CFG

K1, B, AVGDL = TOKEN_CFG.bm25_k1, TOKEN_CFG.bm25_b, 7.3


def test_norm_bit_identical_float_numpy_column(spark):
    rng = np.random.RandomState(11)
    tf = rng.randint(1, 60, size=2000)
    dl = rng.randint(0, 5000, size=2000)
    as_numpy = bm25.norm(tf, dl, K1, B, AVGDL)
    as_float = [bm25.norm(int(t), int(d), K1, B, AVGDL) for t, d in zip(tf, dl)]
    rows = (
        spark.createDataFrame(
            [(i, int(t), int(d)) for i, (t, d) in enumerate(zip(tf, dl))],
            "i long, tf long, dl long",
        )
        .select(
            "i",
            bm25.norm(
                F.col("tf").cast("double"), F.col("dl").cast("double"),
                K1, B, AVGDL,
            ).alias("n"),
        )
        .collect()
    )
    as_column = [r["n"] for r in sorted(rows, key=lambda r: r["i"])]
    assert as_float == as_numpy.tolist()
    assert as_column == as_numpy.tolist()
