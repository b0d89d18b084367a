"""Unit tests for golang_etl_spark.functions.vector — the JVM-side
(zip_with/aggregate) vector math used by the similarity operators.
Each Column helper is checked element-for-element against numpy on
the same data, including the float32 -> float64 upcast path that the
``embeddings`` table exercises (array<float> storage)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, StructField, StructType

from golang_etl_spark.functions import vector as V

VECS = [
    ([1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
    ([0.5, -0.25, 0.125], [-1.0, 2.0, -4.0]),
    ([0.0, 0.0, 1.0], [0.0, 1.0, 0.0]),
    ([1e-3, 2e-3, -3e-3], [7.0, -8.0, 9.0]),
]


@pytest.fixture(scope="module")
def vec_df(spark):
    schema = StructType(
        [
            StructField("a", ArrayType(FloatType())),
            StructField("b", ArrayType(FloatType())),
        ]
    )
    return spark.createDataFrame(VECS, schema)


def _np_pairs():
    # Mirror the engine's float32 storage -> float64 math exactly.
    for a, b in VECS:
        yield (
            np.asarray(a, dtype=np.float32).astype(np.float64),
            np.asarray(b, dtype=np.float32).astype(np.float64),
        )


def test_dot_matches_numpy(vec_df):
    got = [r[0] for r in vec_df.select(V.dot("a", "b")).collect()]
    want = [float(np.dot(a, b)) for a, b in _np_pairs()]
    assert got == pytest.approx(want, rel=1e-12)


def test_l2_norm_matches_numpy(vec_df):
    got = [r[0] for r in vec_df.select(V.l2_norm("a")).collect()]
    want = [float(np.linalg.norm(a)) for a, _ in _np_pairs()]
    assert got == pytest.approx(want, rel=1e-12)


def test_normalize_is_unit_length(vec_df):
    rows = vec_df.select(V.normalize("a").alias("u")).collect()
    for (u,) in rows:
        assert math.isclose(
            sum(x * x for x in u), 1.0, rel_tol=1e-12
        ), "normalized vector must have unit L2 norm"


def test_cosine_similarity_matches_numpy(vec_df):
    got = [
        r[0] for r in vec_df.select(V.cosine_similarity("a", "b")).collect()
    ]
    want = [
        float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
        for a, b in _np_pairs()
    ]
    assert got == pytest.approx(want, rel=1e-12)


def test_cosine_bounds_and_self_similarity(vec_df):
    rows = vec_df.select(
        V.cosine_similarity("a", "a").alias("self"),
        V.cosine_similarity("a", "b").alias("cross"),
    ).collect()
    for r in rows:
        assert math.isclose(r["self"], 1.0, rel_tol=1e-12)
        assert -1.0 - 1e-12 <= r["cross"] <= 1.0 + 1e-12


# ---------------------------------------------------------------------------
# Quantizer-training sample sizing: the driver-side collect must be
# bounded by TRAIN_SAMPLE_TARGET, never by corpus size.
# ---------------------------------------------------------------------------
def test_derive_sample_mod_caps_sample_at_target():
    from golang_etl_spark.operators.similarity import (
        TRAIN_SAMPLE_TARGET,
        derive_sample_mod,
    )

    assert derive_sample_mod(0) == 1
    assert derive_sample_mod(500) == 1
    assert derive_sample_mod(TRAIN_SAMPLE_TARGET) == 1
    for n in (10**6, 10**9, 7 * 10**10 + 3):
        mod = derive_sample_mod(n)
        # expected sample size n/mod never exceeds the target
        assert math.ceil(n / mod) <= TRAIN_SAMPLE_TARGET, (n, mod)


def test_resolve_sample_mod_derives_from_corpus_count(monkeypatch):
    """Mocked-count check: at a 3.2M-vector corpus the training sample
    is drawn with mod 32 (a ~100k sample)."""
    import pandas as pd

    from golang_etl_spark.operators import similarity as sim

    filters = []

    class FakeDF:
        def count(self):
            return 3_200_000

        def filter(self, cond):
            filters.append(cond)
            return self

        def select(self, *cols):
            return self

        def orderBy(self, *cols):
            return self

        def toPandas(self):
            return pd.DataFrame({"vec_id": [0], "embedding": [[3.0, 4.0]]})

    monkeypatch.setattr(sim, "load_table", lambda *a, **k: FakeDF())
    X = sim._collect_normalized_sample(None, "/fake")
    assert filters == ["pmod(hash(vec_id), 32) = 0"]
    assert X.tolist() == [[0.6, 0.8]]
