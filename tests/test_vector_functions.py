"""Unit tests for the vector math of the similarity core — the one
JVM-side (zip_with/aggregate) dot product ``dedup._dot_spark``, the
norm and cosine the operators build from it, and the one float32 ->
float64 upcast ``dedup._EMB_DOUBLE_SPARK``. Each expression is checked
element-for-element against numpy on the same data, including the
upcast path that the ``embeddings`` table exercises (array<float>
storage)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql.types import ArrayType, FloatType, StructField, StructType

from golang_etl_spark.operators.dedup import _EMB_DOUBLE_SPARK, _dot_spark, _vectors

VECS = [
    ([1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
    ([0.5, -0.25, 0.125], [-1.0, 2.0, -4.0]),
    ([0.0, 0.0, 1.0], [0.0, 1.0, 0.0]),
    ([1e-3, 2e-3, -3e-3], [7.0, -8.0, 9.0]),
]


def _cosine(x: str, y: str) -> str:
    """The engine's cosine spelling over the one dot product."""
    return f"{_dot_spark(x, y)} / (sqrt({_dot_spark(x, x)}) * sqrt({_dot_spark(y, y)}))"


@pytest.fixture(scope="module")
def raw_df(spark):
    schema = StructType(
        [
            StructField("embedding", ArrayType(FloatType())),
            StructField("b", ArrayType(FloatType())),
        ]
    )
    return spark.createDataFrame(VECS, schema)


@pytest.fixture(scope="module")
def vec_df(raw_df):
    # both columns through the one float32 -> float64 upcast
    return raw_df.selectExpr(f"{_EMB_DOUBLE_SPARK} AS a", "b AS embedding").selectExpr(
        "a", f"{_EMB_DOUBLE_SPARK} AS b"
    )


def _np_pairs():
    # Mirror the engine's float32 storage -> float64 math exactly.
    for a, b in VECS:
        yield (
            np.asarray(a, dtype=np.float32).astype(np.float64),
            np.asarray(b, dtype=np.float32).astype(np.float64),
        )


def test_dot_matches_numpy(vec_df):
    got = [r[0] for r in vec_df.selectExpr(_dot_spark("a", "b")).collect()]
    want = [float(np.dot(a, b)) for a, b in _np_pairs()]
    assert got == pytest.approx(want, rel=1e-12)


def test_l2_norm_matches_numpy(raw_df):
    """The loader's ``nrm`` and its upcast ``emb``."""
    rows = _vectors(raw_df).select("emb", "nrm").collect()
    assert [r["emb"] for r in rows] == [a.tolist() for a, _ in _np_pairs()]
    want = [float(np.linalg.norm(a)) for a, _ in _np_pairs()]
    assert [r["nrm"] for r in rows] == pytest.approx(want, rel=1e-12)


def test_vectors_drops_all_zero_vectors(spark):
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, -0.0]), (2, [0.0, 1e-30]), (3, None)],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    assert [r["vec_id"] for r in _vectors(df).collect()] == [2]


def test_cosine_similarity_matches_numpy(vec_df):
    got = [r[0] for r in vec_df.selectExpr(_cosine("a", "b")).collect()]
    want = [
        float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
        for a, b in _np_pairs()
    ]
    assert got == pytest.approx(want, rel=1e-12)


def test_cosine_bounds_and_self_similarity(vec_df):
    rows = vec_df.selectExpr(
        f"{_cosine('a', 'a')} AS self", f"{_cosine('a', 'b')} AS cross"
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
