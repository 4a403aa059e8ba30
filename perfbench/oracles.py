"""Output checks the benchmark runs outside its timed spans.

Each check returns (ok, detail).  A failed check counts as a failed
operation; it never aborts the run.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TIER_FLOATS = ("sum", "min", "max", "first", "last")
RTOL = 1e-9
ATOL = 1e-12


def frames_match(got: pd.DataFrame, want: pd.DataFrame, keys, floats,
                 exact=()) -> tuple[bool, str]:
    """Same rows by `keys`; `exact` columns identical, `floats` within
    RTOL (summation-order rounding only)."""
    if len(got) != len(want):
        return False, f"rows {len(got)} != {len(want)}"
    got = got.sort_values(list(keys)).reset_index(drop=True)
    want = want.sort_values(list(keys)).reset_index(drop=True)
    for c in list(keys) + list(exact):
        if not (got[c].to_numpy() == want[c].to_numpy()).all():
            return False, f"column {c} differs"
    for c in floats:
        a = got[c].to_numpy(dtype=float)
        b = want[c].to_numpy(dtype=float)
        if not np.allclose(a, b, rtol=RTOL, atol=ATOL, equal_nan=True):
            return False, f"column {c} differs beyond rtol {RTOL}"
    return True, f"{len(got)} rows"


def _hash_agg(df: DataFrame, cols: list[str], round_cols=()) -> DataFrame:
    exprs = [
        F.round(F.col(c), 6) if c in round_cols else F.col(c) for c in cols
    ]
    h = F.xxhash64(*exprs).cast("decimal(38,0)")
    return df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h"))


def multiset_hashes(dfs: list[DataFrame], cols: list[str],
                    round_cols=()) -> list[tuple]:
    """Order-insensitive (row count, Σ xxhash64) of each frame over
    `cols`, in one job; `round_cols` are rounded to 6 dp first, because
    sums of the same doubles added in another order differ in the last
    bits."""
    aggs = [_hash_agg(df, cols, round_cols) for df in dfs]
    row = aggs[0]
    for i, a in enumerate(aggs[1:], 1):
        row = row.crossJoin(a.toDF(f"n{i}", f"h{i}"))
    vals = list(row.first())
    return [(int(vals[2 * i]), str(vals[2 * i + 1])) for i in range(len(dfs))]


def multiset_hash(df: DataFrame, cols: list[str], round_cols=()) -> tuple:
    return multiset_hashes([df], cols, round_cols)[0]


def tolerant_diff(a: DataFrame, b: DataFrame, keys: list[str],
                  exact: list[str], floats: list[str]) -> int:
    """Rows present on one side only, or differing: exact columns must
    be equal, float columns within RTOL."""
    ra = a.select(*keys, *[F.col(c).alias(f"a_{c}") for c in exact + floats])
    rb = b.select(*keys, *[F.col(c).alias(f"b_{c}") for c in exact + floats])
    j = ra.join(rb, keys, "full_outer")
    bad = F.col(f"a_{exact[0]}").isNull() | F.col(f"b_{exact[0]}").isNull()
    for c in exact:
        bad = bad | ~F.col(f"a_{c}").eqNullSafe(F.col(f"b_{c}"))
    for c in floats:
        x, y = F.col(f"a_{c}"), F.col(f"b_{c}")
        bad = bad | (F.abs(x - y) > F.lit(ATOL) + F.lit(RTOL) * F.abs(y))
    return j.where(bad).count()


def pearson_pairs(aligned: pd.DataFrame, theta: float) -> dict:
    """All-pairs Pearson ρ ≥ θ over the aligned vectors with one matrix
    product; constant series are dropped (ρ undefined), as in
    correlation.build_vectors."""
    wide = aligned.pivot(index="series_id", columns="grid_ts", values="value")
    ids = wide.index.to_numpy()
    x = wide.to_numpy(dtype=float)
    x = x - x.mean(axis=1, keepdims=True)
    norm = np.sqrt((x * x).sum(axis=1))
    keep = norm > 0
    ids, x = ids[keep], x[keep] / norm[keep, None]
    rho = x @ x.T
    ia, ib = np.nonzero(np.triu(rho >= theta - 1e-9, k=1))
    return {(ids[i], ids[j]): float(rho[i, j]) for i, j in zip(ia, ib)}


def report_matches(report_rows, want: dict, theta: float) -> tuple[bool, str]:
    """Same pair set and ρ within 1e-9; pairs within 1e-9 of θ may sit
    on either side of the cut."""
    got = {(r["id_a"], r["id_b"]): r["rho"] for r in report_rows}
    for pair in set(got) ^ set(want):
        rho = got.get(pair, want.get(pair))
        if abs(rho - theta) > 1e-9:
            return False, f"pair {pair} rho={rho} on one side only"
    for pair in set(got) & set(want):
        if abs(got[pair] - want[pair]) > 1e-9:
            return False, f"pair {pair}: {got[pair]} != {want[pair]}"
    return True, f"{len(got)} pairs"
