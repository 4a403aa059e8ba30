from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from timeseriescorrelation_spark.functions.pandas_oracle import pearson_all_pairs
from timeseriescorrelation_spark.operators.correlation import (
    build_vectors,
    candidate_pairs,
    corr_naive,
    corr_report,
    dft_sketch,
)

M = 128
N_NOISE = 40
THETA = 0.9


@pytest.fixture(scope="module")
def planted(spark):
    """FIXTURES.md §4: planted pairs (ρ=1, ρ≈0.95, anti), rest noise."""
    rng = np.random.default_rng(42)
    t = np.arange(M)
    vectors: dict[str, np.ndarray] = {}
    # 3 exact pairs: scaled/shifted copies (ρ=1)
    for i in range(3):
        base = rng.normal(size=M).cumsum()
        vectors[f"exact_{i}a"] = base
        vectors[f"exact_{i}b"] = 3.0 * base + 17.0
    # 3 strong pairs (ρ≈0.95)
    for i in range(3):
        base = rng.normal(size=M).cumsum()
        noisy = base + rng.normal(scale=0.12 * base.std(), size=M)
        vectors[f"strong_{i}a"] = base
        vectors[f"strong_{i}b"] = noisy
    # 2 anti-correlated pairs
    for i in range(2):
        base = np.sin(2 * np.pi * (i + 1) * t / M) + rng.normal(scale=0.05, size=M)
        vectors[f"anti_{i}a"] = base
        vectors[f"anti_{i}b"] = -base
    # independent series: random walks (the reference's tick-like shape —
    # energy concentrated in low DFT coeffs, where the grid can separate
    # them) plus a few white-noise series (worst case for the prune)
    for i in range(N_NOISE):
        vectors[f"noise_{i:02d}"] = rng.normal(size=M).cumsum()
    for i in range(6):
        vectors[f"white_{i:02d}"] = rng.normal(size=M)

    rows = []
    t0 = pd.Timestamp("2025-01-01")
    for sid, v in vectors.items():
        for j, x in enumerate(v):
            rows.append((sid, t0 + pd.Timedelta(minutes=j), float(x)))
    pdf = pd.DataFrame(rows, columns=["series_id", "grid_ts", "value"])
    df = spark.createDataFrame(pdf)
    df.cache()
    df.count()
    return df, vectors


def test_vectors_unit_norm(spark, planted):
    df, _ = planted
    v = build_vectors(df).toPandas()
    for vec in v["vec"]:
        assert abs(np.linalg.norm(np.array(vec)) - 1.0) < 1e-9


def test_report_equals_naive_and_numpy(spark, planted):
    df, vectors = planted
    report, counters = corr_report(df, THETA, k=4)
    got = report.toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)

    naive = (
        corr_naive(df, THETA)
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    want = (
        pearson_all_pairs(vectors, THETA)
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )

    # pruned == naive == numpy golden (pair sets identical, ρ to 1e-9)
    assert list(got["id_a"]) == list(naive["id_a"]) == list(want["id_a"])
    assert list(got["id_b"]) == list(naive["id_b"]) == list(want["id_b"])
    np.testing.assert_allclose(got["rho"], want["rho"], atol=1e-9)

    # planted structure recovered: all exact + strong pairs, no anti pairs
    pairs = set(zip(got["id_a"], got["id_b"]))
    for i in range(3):
        assert (f"exact_{i}a", f"exact_{i}b") in pairs
        assert (f"strong_{i}a", f"strong_{i}b") in pairs
    assert not any(a.startswith("anti") and b.startswith("anti")
                   for a, b in pairs)


def test_pruning_actually_prunes(spark, planted):
    df, _ = planted
    _, counters = corr_report(df, THETA, k=4)
    assert counters["checked"] < counters["all_pairs"] * 0.25, counters
    assert counters["reported"] >= 6
    assert counters["pruned"] + counters["checked"] == counters["all_pairs"]


def test_exact_pair_rho_is_one(spark, planted):
    df, _ = planted
    report, _ = corr_report(df, 0.999, k=4)
    got = report.toPandas()
    exact = got[got["id_a"].str.startswith("exact")]
    assert len(exact) == 3
    np.testing.assert_allclose(exact["rho"], 1.0, atol=1e-9)


def test_spearman_pruned_equals_naive_rank_corr(spark, planted):
    """Round-3 composition (VERDICT #1): rank_transform → tiered
    pipeline == all-pairs Pearson over the SAME rank vectors at θ.
    Spearman ρ(x,y) = Pearson ρ(rank x, rank y), so corr_naive on the
    ranked input is the golden all-pairs Spearman; pair-set equality
    proves the ε-grid prune stays sound after the rank transform
    (the sketch lower bound never assumed anything about the value
    distribution, only unit-normed vectors)."""
    from timeseriescorrelation_spark.operators.correlation import (
        exact_corr,
        rank_transform,
    )

    df, _ = planted
    ranked = rank_transform(df)
    vectors = dft_sketch(build_vectors(ranked), k=4).cache()
    cand = candidate_pairs(vectors, THETA)
    got = (
        exact_corr(cand, vectors, THETA)
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    naive = (
        corr_naive(ranked, THETA)
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    assert list(got["id_a"]) == list(naive["id_a"])
    assert list(got["id_b"]) == list(naive["id_b"])
    np.testing.assert_allclose(got["rho"], naive["rho"], atol=1e-9)
    # monotone planted pairs survive the rank transform
    pairs = set(zip(got["id_a"], got["id_b"]))
    for i in range(3):
        assert (f"exact_{i}a", f"exact_{i}b") in pairs
    vectors.unpersist()


@pytest.mark.parametrize("m", [2, 3, 5, 64, 128])
@pytest.mark.parametrize("k", [1, 4])
def test_dft_sketch_equals_numpy_rfft(spark, m, k):
    """The JVM sketch is numpy's scaled rfft prefix, re/im interleaved."""
    rng = np.random.default_rng(m * 10 + k)
    xs = [rng.normal(size=m) for _ in range(5)]
    vectors = spark.createDataFrame(
        [(f"s{i}", m, [float(v) for v in x]) for i, x in enumerate(xs)],
        "series_id string, m long, vec array<double>",
    )
    got = {r["series_id"]: r["sketch"] for r in dft_sketch(vectors, k).collect()}
    kk = max(1, min(k, (m - 1) // 2))
    for i, x in enumerate(xs):
        coef = np.fft.rfft(x)[1 : kk + 1] * np.sqrt(2.0 / m)
        want = np.empty(2 * len(coef))
        want[0::2], want[1::2] = coef.real, coef.imag
        np.testing.assert_allclose(got[f"s{i}"], want, rtol=0, atol=1e-12)
