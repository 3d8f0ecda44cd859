"""The driver site's numpy rounding equals Spark's ``F.round`` bit for bit.

``wand._round_scores`` rounds driver-site BM25 scores in numpy and sends
only ``_round_half_up``'s band (scores within a few ulps of a half
quantum, and non-finite ones) to ``F.round``. Each case below runs its
values through ``F.round(·, SCORE_DECIMALS)`` in one Spark pass and
compares the float64 bit patterns.
"""

from __future__ import annotations

from decimal import Decimal

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from es_loaders_spark import wand
from es_loaders_spark.bm25 import SCORE_DECIMALS


def spark_round(spark, x: np.ndarray) -> np.ndarray:
    df = spark.createDataFrame(pa.table({"x": pa.array(x, pa.float64())}))
    return (
        df.select(F.round("x", SCORE_DECIMALS).alias("r")).toArrow()
        .column("r").to_numpy()
    )


def assert_bits_equal(got: np.ndarray, want: np.ndarray) -> None:
    bad = np.flatnonzero(got.view(np.int64) != want.view(np.int64))
    assert bad.size == 0, [(got[i], want[i]) for i in bad[:5]]


def half_quantum_ties(n: int, seed: int) -> np.ndarray:
    """The doubles nearest to n random decimals ``m.dddd5`` in [0, 50),
    with their ±1 and ±2 ulp neighbours."""
    rng = np.random.default_rng(seed)
    q = rng.integers(0, 50 * 10**SCORE_DECIMALS, n)
    ties = np.array([float(Decimal(int(m) * 10 + 5).scaleb(-SCORE_DECIMALS - 1))
                     for m in q])
    up1 = np.nextafter(ties, np.inf)
    down1 = np.nextafter(ties, -np.inf)
    return np.concatenate([
        ties, up1, np.nextafter(up1, np.inf), down1, np.nextafter(down1, -np.inf)
    ])


def test_numpy_round_equals_spark_round_on_bm25_range(spark):
    rng = np.random.default_rng(7)
    x = np.concatenate([
        rng.uniform(0, 50, 1_000_000),
        np.exp(rng.uniform(np.log(1e-6), np.log(200), 200_000)),
        -rng.uniform(0, 50, 50_000),  # HALF_UP is sign-symmetric
        [0.0, -0.0, 1e-5, -1e-5, 5e-5, -5e-5, 0.03125, -0.03125],
    ])
    rounded, band = wand._round_half_up(x)
    assert band.sum() < 10  # random scores almost never need the JVM
    assert_bits_equal(wand._round_scores(spark, x), spark_round(spark, x))


def test_half_quantum_ties_go_through_the_jvm(spark, monkeypatch):
    x = half_quantum_ties(50_000, seed=11)
    _, band = wand._round_half_up(x)
    assert band.all()  # every tie and its ±2-ulp neighbours
    sent = []
    jvm_round = wand._jvm_round

    def spy(spark_, scores):
        sent.append(scores.copy())
        return jvm_round(spark_, scores)

    monkeypatch.setattr(wand, "_jvm_round", spy)
    mixed = np.concatenate([x, [1.23456789, 7.0, np.nan, np.inf, -np.inf]])
    got = wand._round_scores(spark, mixed)
    assert len(sent) == 1  # one JVM call for the whole band
    assert sent[0].size == x.size + 3  # the ties and the non-finite scores
    assert_bits_equal(got, spark_round(spark, mixed))


def test_jdk_non_shortest_renderings(spark):
    """Doubles whose JVM ``Double.toString`` and Python ``repr`` are
    different decimals (JDK-4511638): found by rendering a sample in one
    Spark pass, then rounded both ways. JDK 17 renders some; a JVM that
    renders none has nothing to compare here, and the bit-equality
    cases above still hold on it."""
    rng = np.random.default_rng(3)
    sample = np.concatenate([
        rng.uniform(0, 50, 100_000),
        # random bit patterns: every exponent, where JDK 17 strays most
        rng.integers(0, 0x7FF0000000000000, 100_000, dtype=np.int64).view(np.float64),
    ])
    sample = sample[np.isfinite(sample)]
    df = spark.createDataFrame(pa.table({"x": pa.array(sample, pa.float64())}))
    java = df.select(F.col("x").cast("string").alias("s")).toArrow().column("s")
    differ = np.array([
        Decimal(j) != Decimal(repr(v)) for j, v in zip(java.to_pylist(), sample)
    ])
    found = sample[differ]
    if found.size == 0:  # JDK 19+ renders the shortest repr (JDK-4511638 fixed)
        pytest.skip("this JVM renders every sampled double as Python's repr")
    assert_bits_equal(wand._round_scores(spark, found), spark_round(spark, found))


@pytest.mark.parametrize("x", [1.00005, 0.00005, 2.5e-5, 12.34565, 1e300])
def test_known_edge_values(spark, x):
    v = np.array([x, -x])
    assert_bits_equal(wand._round_scores(spark, v), spark_round(spark, v))
