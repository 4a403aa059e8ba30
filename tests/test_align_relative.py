"""align_relative (relative-time alignment feeding the correlation
report) against a pandas reference, row for row, plus one run of the
pipeline's corr stage against numpy all-pairs Pearson."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

from timeseriescorrelation_spark.functions.pandas_oracle import pearson_all_pairs
from timeseriescorrelation_spark.operators.gapfill import fill_locf
from timeseriescorrelation_spark.plans.pipeline import (
    PipelineConfig,
    align_relative,
    run,
)

M = 16
T0 = dt.datetime(2024, 5, 1, 9, 0, 0)
BASE = pd.Timestamp("2000-01-01")
SCHEMA = "conv_id string, metric string, ts timestamp, turn_idx int, value double"


def _series_rows():
    """(conv, metric, minute offsets): long and exact-m convs survive;
    a short one and a gapped one (dormant stretch inside its first m
    steps under max_gap_steps) must drop; 'other' is a second metric
    that must be ignored (the short conv is long there)."""
    plan = {
        ("long", "token_len"): [0, 2, 3, 7, 10, 14, 18, 20, 24, 28, 31, 33],
        ("exact", "token_len"): [5, 8, 11, 14, 17, 20],
        ("late", "token_len"): [61, 62, 65, 68, 70, 72, 75, 78, 80],
        ("short", "token_len"): [0, 3, 6, 9, 12],
        ("gapped", "token_len"): [0, 2, 4, 6, 30, 32, 34, 36, 38],
        ("short", "other"): list(range(0, 40, 2)),
        ("long", "other"): [1, 4, 9],
    }
    rows = []
    for (conv, metric), minutes in plan.items():
        for i, mi in enumerate(minutes):
            v = float((7 * i + len(conv) * mi) % 13)
            rows.append((conv, metric, T0 + dt.timedelta(minutes=mi, seconds=11), i, v))
    return rows


def _reference(filled: pd.DataFrame, metric: str, m: int) -> list[tuple]:
    s = filled[filled["metric"] == metric].copy()
    first = s.groupby("conv_id")["grid_ts"].transform("min")
    s["step"] = ((s["grid_ts"] - first) // pd.Timedelta(minutes=1)).astype(int)
    s = s[s["step"] < m]
    s = s[s.groupby("conv_id")["step"].transform("size") == m]
    return sorted(
        (c, BASE + pd.Timedelta(minutes=int(k)), float(v))
        for c, k, v in zip(s["conv_id"], s["step"], s["value"])
    )


def _rows(df) -> list[tuple]:
    return sorted(
        (r["series_id"], pd.Timestamp(r["grid_ts"]), r["value"])
        for r in df.collect()
    )


def test_align_relative_matches_pandas(spark):
    series = spark.createDataFrame(_series_rows(), SCHEMA)
    filled = fill_locf(series, "1m", max_gap_steps=4).cache()
    pdf = filled.toPandas()
    pdf["grid_ts"] = pd.to_datetime(pdf["grid_ts"])

    got = _rows(align_relative(filled, "token_len", M, 60))
    want = _reference(pdf, "token_len", M)
    assert got == want
    assert {r[0] for r in got} == {"long", "exact", "late"}
    assert len(got) == 3 * M
    filled.unpersist()


def test_pipeline_corr_stage(spark, tiny_transcripts, tmp_path):
    m, theta = 8, 0.5
    cfg = PipelineConfig(
        run_id="corr", n_parts=4, corr_steps=m, corr_theta=theta,
        stages=("series", "filled_1m", "corr"),
    )
    out = run(spark, tiny_transcripts, str(tmp_path / "wh"), cfg)

    pdf = out["filled_1m"].select("conv_id", "metric", "grid_ts", "value").toPandas()
    pdf["grid_ts"] = pd.to_datetime(pdf["grid_ts"])
    vectors: dict[str, list[float]] = {}
    for sid, _, v in _reference(pdf, cfg.corr_metric, m):
        vectors.setdefault(sid, []).append(v)
    vectors = {k: np.array(v) for k, v in vectors.items()}
    want = pearson_all_pairs(vectors, theta).sort_values(["id_a", "id_b"])

    counters = out["corr_counters"]
    n = sum(np.std(v) > 0 for v in vectors.values())
    assert counters["n_series"] == n >= 3
    assert counters["reported"] == len(want) > 0
    got = out["corr"].toPandas().sort_values(["id_a", "id_b"])
    assert list(zip(got["id_a"], got["id_b"])) == list(zip(want["id_a"], want["id_b"]))
    np.testing.assert_allclose(got["rho"], want["rho"], atol=1e-9)
