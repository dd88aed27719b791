"""Shared fixtures.

``f1`` replicates the reference's unit-test measurement shape
(``/root/reference/src/libtsdb/unittest/fake_db.cc:16-40`` via FIXTURES.md
F1): arithmetic timestamps ``100 + 10*i``, three fields
(long / double / float), each independently NULL with p=0.25, seeded.
``f2`` is a multi-series variant with random strides (FIXTURES.md F2).
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from simple_tsdb_spark import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    return get_spark("tsdb-tests", shuffle_partitions=8)


def _f1_pandas(n: int = 1024) -> pd.DataFrame:
    rng = np.random.default_rng(1234)
    t = 100 + 10 * np.arange(n, dtype=np.int64)
    field1 = rng.integers(0, 2**32, size=n).astype("int64")
    field2 = rng.random(n)
    field3 = rng.random(n).astype("float32")
    pdf = pd.DataFrame(
        {
            "series": "series1",
            "time_ns": t,
            "field1": pd.array(field1, dtype="Int64"),
            "field2": field2,
            "field3": pd.array(field3, dtype="Float32"),
        }
    )
    for col in ("field1", "field2", "field3"):
        mask = rng.random(n) < 0.25
        pdf.loc[mask, col] = None
    return pdf


def _f2_pandas(n_per_series: int = 2000, n_series: int = 4) -> pd.DataFrame:
    rng = np.random.default_rng(99)
    frames = []
    for s in range(n_series):
        strides = rng.integers(1, 1001, size=n_per_series)
        t = 1_000_000 + np.cumsum(strides).astype("int64")
        pdf = pd.DataFrame(
            {
                "series": f"series_{s}",
                "time_ns": t,
                "value": rng.random(n_per_series) * 100,
            }
        )
        mask = rng.random(n_per_series) < 0.001
        pdf.loc[mask, "value"] = None
        frames.append(pdf)
    return pd.concat(frames, ignore_index=True)


@pytest.fixture(scope="session")
def f1_pdf():
    return _f1_pandas()


@pytest.fixture(scope="session")
def f1(spark, f1_pdf):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("series", T.StringType(), False),
            T.StructField("time_ns", T.LongType(), False),
            T.StructField("field1", T.LongType(), True),
            T.StructField("field2", T.DoubleType(), True),
            T.StructField("field3", T.FloatType(), True),
        ]
    )
    return spark.createDataFrame(f1_pdf, schema=schema).repartition(4).cache()


@pytest.fixture(scope="session")
def f2_pdf():
    return _f2_pandas()


@pytest.fixture(scope="session")
def f2(spark, f2_pdf):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("series", T.StringType(), False),
            T.StructField("time_ns", T.LongType(), False),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    return spark.createDataFrame(f2_pdf, schema=schema).repartition(4).cache()
