"""The benchmark's three closed-loop workloads.

Each workload builds its fixtures in `setup`, describes one pass as a
list of `Call`s, checks its outputs in `checks`, and measures its
layers one by one in `probe_layers` (traced run only).  The engine is
driven only through its public functions; it sees the generated
tables, never the seed.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
from dataclasses import dataclass
from typing import Callable

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from timeseriescorrelation_spark import synth
from timeseriescorrelation_spark.functions import pandas_oracle as po
from timeseriescorrelation_spark.functions.gorilla import (
    decode_chunk,
    encode_chunks_batch,
)
from timeseriescorrelation_spark.operators.chunks import (
    decode_chunks,
    encode_chunks,
)
from timeseriescorrelation_spark.operators.correlation import (
    build_vectors,
    candidate_pairs,
    corr_report,
    dft_sketch,
    exact_corr,
)
from timeseriescorrelation_spark.operators.gapfill import fill_locf
from timeseriescorrelation_spark.operators.manifest import ManifestStore
from timeseriescorrelation_spark.operators.refresh import (
    PART_COL,
    refresh_tier,
    retention_sweep,
    write_tier,
)
from timeseriescorrelation_spark.operators.rollup import (
    rollup_cascade_fused,
    rollup_raw,
    rollup_raw_upsertable,
    rollup_tier,
)
from timeseriescorrelation_spark.operators.series import derive_series
from timeseriescorrelation_spark.plans import pipeline

import oracles

# Input: the generator's conversations in order.  A skewed one (longer
# than any ordinary conversation can be) is taken while it still fits
# in the workload's `skew_turns`; ordinary ones are then taken until
# the input holds `base_turns + skew_turns` turns.  So every seed gives
# the same number of turns, with at least one skewed conversation;
# conversations stay whole.
# synth_transcripts' ordinary conversations have 5..74 turns (39.5 on
# average); the count starts at one conversation per 30 ordinary-budget
# turns, which usually fills the ordinary budget at once
SKEW_MIN_TURNS = 75
PROBE_TURNS_PER_CONV = 30
# conversations checked against the pandas oracle: the first few, plus
# the longest one for the tiers (a skewed conversation)
ORACLE_CONVS = 3
TIERS = ("1m", "1h", "1d")
TIER_KEYS = ["conv_id", "metric", "bucket_ts"]
THETA = 0.9
CORR_M = 64
RUN_ID = "bench"
# manifest pipeline partitions: two per core, as for a small cluster
PIPE_PARTS = 2 * len(os.sched_getaffinity(0))


@dataclass
class Call:
    """One engine call of a pass.  `build` returns a DataFrame that the
    harness materializes (noop write untraced, toRdd().count() traced),
    or runs the call itself and returns None.  `before` runs untimed
    right before the call."""

    name: str
    build: Callable[[], DataFrame | None]
    before: Callable[[], None] | None = None


@dataclass
class Check:
    name: str
    fn: Callable[[], tuple[bool, str]]


def noop_write(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def pick_convs(spark, seed: int, base_turns: int, skew_turns: int) -> dict:
    """The conversations of synth_transcripts(seed) that fill the turn
    budgets in order, plus the oracle subsets.  The generator's first
    conversations are counted; their number doubles until the budgets
    are full and at least one skewed conversation fits."""
    n_probe = base_turns // PROBE_TURNS_PER_CONV
    total = base_turns + skew_turns
    while True:
        counts = (
            synth.synth_transcripts(spark, n_convs=n_probe, seed=seed)
            .groupBy("conv_id").count().orderBy("conv_id").toPandas()
        )
        convs = list(zip(counts["conv_id"], counts["count"].astype(int)))
        keep, skew = [], 0
        for conv_id, n in convs:
            if n >= SKEW_MIN_TURNS and skew + n <= skew_turns:
                keep.append(conv_id)
                skew += n
        base = 0
        for conv_id, n in convs:
            if n < SKEW_MIN_TURNS and skew + base < total:
                keep.append(conv_id)
                base += n
        if skew + base >= total and skew > 0:
            keep.sort()
            break
        if n_probe > base_turns:
            raise ValueError(f"seed {seed}: {n_probe} conversations do not fill "
                             f"the budgets ({base} ordinary turns, {skew} skewed)")
        n_probe *= 2
    sizes = counts.set_index("conv_id")["count"].loc[keep]
    small = keep[:ORACLE_CONVS]
    return {
        "n_convs": len(keep),
        # generator conversations up to the last one kept
        "n_generated": int(counts.index[counts["conv_id"] == keep[-1]][0]) + 1,
        "n_turns": base + skew,
        "skewed_turns": skew,
        "n_skewed": int((sizes >= SKEW_MIN_TURNS).sum()),
        "longest_turns": int(sizes.max()),
        "convs": keep,
        "oracle_convs": small,
        "oracle_tier_convs": sorted(set(small) | {sizes.idxmax()}),
    }


class Workload:
    name = ""
    # turn budgets of the input (see pick_convs)
    base_turns = 0
    skew_turns = 0

    def __init__(self, spark, work: str, seed: int, inputs: dict | None = None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.inputs = inputs or pick_convs(
            spark, seed, self.base_turns, self.skew_turns)
        self.counts: dict = {}
        # per-layer values the checks compute on the way
        self.check_layers: dict = {}

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.path(name))

    def write_transcripts(self) -> None:
        df = synth.synth_transcripts(
            self.spark, n_convs=int(self.inputs["n_generated"]), seed=self.seed
        ).where(F.col("conv_id").isin(self.inputs["convs"]))
        df.repartition(len(os.sched_getaffinity(0)), "conv_id").sortWithinPartitions(
            "conv_id", "turn_idx"
        ).write.mode("overwrite").parquet(self.path("transcripts"))
        self.tr = self.read("transcripts")

    def fixtures(self) -> None:
        """Workload fixtures built from the written transcripts."""

    def calls(self) -> list[Call]:
        raise NotImplementedError

    def checks(self) -> list[Check]:
        raise NotImplementedError

    def points(self) -> int:
        """Series points one pass processes (printed as points/s)."""
        raise NotImplementedError

    def call_metrics(self, med: dict[str, float]) -> dict[str, float]:
        """The workload's named per-call metrics from median call times."""
        raise NotImplementedError

    def probe_layers(self, probe) -> dict[str, float]:
        """Traced run only: time each layer on its own."""
        return {}

    def probe_checks(self) -> list[Check]:
        """Traced run only: checks of what probe_layers ran."""
        return []


def _tiers_union(tiers: dict[str, DataFrame]) -> DataFrame:
    """All three tiers as one DataFrame, so one action produces them
    all (the tiers share the cascade's single exchange)."""
    out = None
    for t in TIERS:
        df = tiers[t].withColumn("tier", F.lit(t))
        out = df if out is None else out.unionByName(df)
    return out


class TierBuild(Workload):
    """transcripts → series → {cascade, day chunks, 1m LOCF grid}."""

    name = "tier_build"
    base_turns = 12_000
    skew_turns = 4_000

    def fixtures(self) -> None:
        derive_series(self.tr).write.mode("overwrite").parquet(self.path("series"))
        self.n_points = self.read("series").count()

    def points(self) -> int:
        return self.n_points

    # The calls of a pass.  The checks build the same DataFrames again
    # and compute what they need from them.
    def _series(self) -> DataFrame:
        return derive_series(self.read("transcripts"))

    def cascade(self) -> DataFrame:
        return _tiers_union(rollup_cascade_fused(self._series()))

    def chunks(self) -> DataFrame:
        return encode_chunks(self._series(), "day")

    def fill(self) -> DataFrame:
        return fill_locf(self._series(), "1m")

    def calls(self) -> list[Call]:
        return [Call("cascade", self.cascade), Call("chunks", self.chunks),
                Call("fill", self.fill)]

    def call_metrics(self, med):
        return {
            "tier_pts_per_s": self.n_points / med["cascade"],
            "chunk_pts_per_s": self.n_points / med["chunks"],
            "fill_pts_per_s": self.n_points / med["fill"],
        }

    def _subset(self, df: DataFrame, key: str = "oracle_convs") -> DataFrame:
        return df.where(F.col("conv_id").isin(self.inputs[key]))

    def _check_oracle_tiers(self):
        pdf = self._subset(self.read("series"), "oracle_tier_convs").toPandas()
        want = {"1m": po.rollup_raw(pdf, "1m")}
        want["1h"] = po.rollup_tier(want["1m"], "1h")
        want["1d"] = po.rollup_tier(want["1h"], "1d")
        got = self._subset(self.cascade(), "oracle_tier_convs").toPandas()
        for t in TIERS:
            ok, detail = oracles.frames_match(
                got[got["tier"] == t].drop(columns="tier"), want[t], TIER_KEYS,
                oracles.TIER_FLOATS, exact=("cnt",),
            )
            if not ok:
                return False, f"tier {t}: {detail}"
        return True, f"{len(pdf)} points of {self.inputs['oracle_tier_convs']}"

    def _check_full_hash(self):
        s = self.read("series")
        t1m = rollup_raw(s, "1m")
        t1h = rollup_tier(t1m, "1h")
        staged = {"1m": t1m, "1h": t1h, "1d": rollup_tier(t1h, "1d")}
        cols = ["tier"] + TIER_KEYS + ["cnt", "sum", "min", "max", "first", "last"]
        fused, per_stage = oracles.multiset_hashes(
            [self.cascade(), _tiers_union(staged)],
            cols, round_cols=("sum",))
        self.counts["tier_rows"] = fused[0]
        if fused != per_stage:
            return False, f"fused {fused} != per-stage {per_stage}"
        return True, "1m/1h/1d hashes equal"

    def _check_chunks(self):
        ch = self.chunks().cache()
        cols = ["conv_id", "metric", "ts", "value"]
        dec, ser = oracles.multiset_hashes([decode_chunks(ch), self.read("series")], cols)
        st = ch.agg(F.count(F.lit(1)), F.sum("raw_bytes"), F.sum("enc_bytes")).first()
        self.counts["chunks"] = int(st[0])
        self.counts["series_rows"] = ser[0]
        self.check_layers["chunks.compression_ratio"] = st[1] / st[2]
        ch.unpersist()
        if dec != ser:
            return False, f"decoded {dec} != series {ser}"
        return True, f"{dec[0]} points round-trip"

    def _check_locf(self):
        want = po.fill_locf(self._subset(self.read("series")).toPandas(), "1m")
        got = self._subset(self.fill()).toPandas()
        return oracles.frames_match(
            got, want, ["conv_id", "metric", "grid_ts"], ("value",),
            exact=("filled",),
        )

    def checks(self):
        return [
            Check("oracle_tiers", self._check_oracle_tiers),
            Check("fused_vs_staged_hash", self._check_full_hash),
            Check("chunk_roundtrip", self._check_chunks),
            Check("locf_oracle", self._check_locf),
        ]

    def probe_checks(self):
        return self.late.checks()

    def probe_layers(self, probe):
        tr = self.read("transcripts")
        out = {}
        rows, pm = probe.df("series", derive_series(tr))
        out["series.s"] = probe.last_s
        out["series.rows_out"] = rows
        out["series.shuffle_bytes"] = pm["plan_shuffle_bytes"]
        # each tier timed from the persisted tier below it
        derive_series(tr).write.mode("overwrite").parquet(self.path("l_series"))
        lower, lower_rows = self.read("l_series"), rows
        for t in TIERS:
            df = rollup_raw(lower, t) if t == "1m" else rollup_tier(lower, t)
            n_out, _ = probe.df(f"rollup.{t}", df)
            out[f"rollup.{t}.pts_per_s"] = lower_rows / probe.last_s
            df.write.mode("overwrite").parquet(self.path(f"l_{t}"))
            lower, lower_rows = self.read(f"l_{t}"), n_out
        rows, pm = probe.df("gapfill", fill_locf(derive_series(tr), "1m"))
        out["gapfill.s"] = probe.last_s
        out["gapfill.rows_out"] = rows
        out["gapfill.filled_frac"] = (
            fill_locf(derive_series(tr), "1m")
            .agg(F.avg(F.col("filled").cast("double"))).first()[0]
        )
        rows, pm = probe.df("chunks", encode_chunks(derive_series(tr), "day"))
        out["chunks.s"] = probe.last_s
        out["chunks.python_s"] = pm["python_ms"] / 1e3
        out["chunks.python_bytes_sent"] = pm["python_bytes_sent"]
        out.update(self._probe_gorilla(probe))
        # the refresh / retention / manifest layers, on the same
        # transcripts (the late_refresh workload times them end to end)
        self.late = LateRefresh(self.spark, self.work, self.seed, self.inputs)
        self.late.tr = self.tr
        self.late.fixtures()
        out.update(self.late.probe_layers(probe))
        self.counts.update({f"late.{k}": v for k, v in self.late.counts.items()})
        return out

    def _probe_gorilla(self, probe) -> dict:
        """Single-thread driver codec throughput on arrays pulled once."""
        pdf = (
            self._subset(self.read("series"), "oracle_tier_convs")
            .withColumn("day", F.date_trunc("day", "ts"))
            .orderBy("conv_id", "metric", "day", "ts", "turn_idx")
            .toPandas()
        )
        ts = pdf["ts"].to_numpy().astype("datetime64[us]").view(np.int64)
        vals = pdf["value"].to_numpy(dtype=np.float64)
        grp = pdf.groupby(["conv_id", "metric", "day"], sort=False).size()
        starts = np.concatenate([[0], np.cumsum(grp.to_numpy())]).astype(np.int64)
        n = len(vals)

        def rate(fn) -> float:
            reps, t0 = 0, time.perf_counter()
            while True:
                fn()
                reps += 1
                el = time.perf_counter() - t0
                if el > 0.5:
                    return reps * n / el

        with probe.span("gorilla.encode"):
            enc = rate(lambda: encode_chunks_batch(ts, vals, starts))
        blobs = encode_chunks_batch(ts, vals, starts)
        with probe.span("gorilla.decode"):
            dec = rate(lambda: [decode_chunk(b) for b in blobs])
        return {"gorilla.encode_pts_per_s": enc, "gorilla.decode_pts_per_s": dec}


class CorrReport(Workload):
    """1m LOCF grid (persisted) → align_relative → corr_report."""

    name = "corr_report"
    # more, shorter conversations: the report's cost grows with the
    # number of series pairs its sketches do not prune
    base_turns = 16_000
    skew_turns = 4_000

    def fixtures(self) -> None:
        fill_locf(derive_series(self.tr), "1m").write.mode("overwrite").parquet(
            self.path("grid"))

    def aligned(self) -> DataFrame:
        return pipeline.align_relative(self.read("grid"), "token_len", CORR_M, 60)

    def points(self) -> int:
        return self.counts["n_series"] * CORR_M

    def _pass(self) -> None:
        report, counters = corr_report(self.aligned(), THETA)
        self.report_rows = report.collect()
        for k in ("n_series", "checked", "reported", "pruned"):
            self.counts[k] = counters[k]

    def calls(self):
        # corr_report caches its sketches and candidates; drop the last
        # pass's so every pass computes them
        return [Call("corr", self._pass, before=self.spark.catalog.clearCache)]

    def call_metrics(self, med):
        return {"corr_report_s": med["corr"]}

    def _check_pearson(self):
        want = oracles.pearson_pairs(self.aligned().toPandas(), THETA)
        return oracles.report_matches(self.report_rows, want, THETA)

    def checks(self):
        return [Check("numpy_all_pairs", self._check_pearson)]

    def probe_layers(self, probe):
        # the timed passes leave corr_report's sketches and candidates
        # cached; the same plans below would read them from memory
        self.spark.catalog.clearCache()
        out = {}
        aligned = self.aligned()
        probe.df("align", aligned)
        out["align.s"] = probe.last_s
        with probe.span("corr.vectors"):
            vectors = dft_sketch(build_vectors(aligned), 4).cache()
            n = vectors.count()
            m = vectors.select("m").first()["m"]
        out["corr.vectors_s"] = probe.last_s
        with probe.span("corr.candidates"):
            cand = candidate_pairs(vectors, THETA).cache()
            n_checked = cand.count()
        out["corr.candidates_s"] = probe.last_s
        with probe.span("corr.exact"):
            rows = exact_corr(cand, vectors, THETA, n_elements=n * m).orderBy(
                F.desc("rho"), "id_a", "id_b").collect()
        out["corr.exact_s"] = probe.last_s
        self.spark.catalog.clearCache()
        all_pairs = n * (n - 1) // 2
        out.update({
            "corr.n_series": n,
            "corr.checked": n_checked,
            "corr.reported": len(rows),
            "corr.prune_frac": (all_pairs - n_checked) / all_pairs,
            "corr.precision": len(rows) / n_checked if n_checked else 0.0,
        })
        if [tuple(r) for r in rows] != [tuple(r) for r in self.report_rows]:
            probe.fail("corr stages differ from corr_report")
        return out


class LateRefresh(Workload):
    """Fold a late drop into the 1h tier, sweep retention, resume a
    half-redone manifest pipeline (agg_1h over a stored 1m tier)."""

    name = "late_refresh"
    base_turns = TierBuild.base_turns
    skew_turns = TierBuild.skew_turns

    def fixtures(self) -> None:
        """The late split, the stored 1h tier without the late drop, and
        a finished one-stage manifest pipeline (agg_1h over a stored
        agg_1m), each with a snapshot that passes restore from."""
        spark = self.spark
        derive_series(self.tr).write.mode("overwrite").parquet(self.path("series"))
        series = self.read("series")
        last_day = series.agg(F.max(F.date_trunc("day", "ts"))).first()[0]
        # the final day of turns, plus ~1% of earlier turns arriving late
        late = (F.date_trunc("day", "ts") == F.lit(last_day)) | (
            F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(self.seed)), F.lit(100))
            == 0)
        series.where(late).write.mode("overwrite").parquet(self.path("late"))
        for d in ("tier", "pipe", "snap"):
            shutil.rmtree(self.path(d), ignore_errors=True)
        write_tier(series.where(~late), self.path("tier"), "1h")
        self.cfg = pipeline.PipelineConfig(
            run_id=RUN_ID, n_parts=PIPE_PARTS, stages=("agg_1h",))
        rollup_raw(series, "1m").write.parquet(self.path("pipe", "agg_1m"))
        pipeline.run(spark, self.tr, self.path("pipe"), self.cfg)
        for d in ("tier", "pipe/manifest"):
            shutil.copytree(self.path(d), self.path("snap", d))
        first_day = min(
            n.split("=", 1)[1] for n in os.listdir(self.path("tier"))
            if n.startswith(PART_COL + "="))
        frontier = last_day.date()
        self.frontier = frontier.isoformat()
        span = (frontier - dt.date.fromisoformat(first_day)).days
        self.ttl = max(1, span // 2)
        self.cut = (frontier - dt.timedelta(days=self.ttl)).isoformat()
        self.n_late = self.read("late").count()
        self.uninterrupted = self._pipe_hash()

    def points(self) -> int:
        return self.n_late

    def _restore(self) -> None:
        for d in ("tier", "pipe/manifest"):
            shutil.rmtree(self.path(d))
            shutil.copytree(self.path("snap", d), self.path(d))

    def _crash(self) -> None:
        """Forget half of the agg_1h parts, as a crash mid-tier would."""
        store = ManifestStore(self.spark, self.path("pipe"))
        store.delete_stage_parts(RUN_ID, "agg_1h", 0.5)
        self.parts_before = store.read().count()

    def _refresh(self) -> None:
        self.days = refresh_tier(self.spark, self.path("tier"), self.read("late"), "1h")
        self.counts["days_rewritten"] = len(self.days)

    def _sweep(self) -> int:
        rep = retention_sweep(self.spark, {"1h": self.path("tier")},
                              {"1h": self.ttl}, self.frontier)
        return len(rep[0]["dropped"])

    def _resume(self) -> None:
        pipeline.run(self.spark, self.tr, self.path("pipe"), self.cfg)
        store = ManifestStore(self.spark, self.path("pipe"))
        self.counts["parts_redone"] = store.read().count() - self.parts_before

    def calls(self):
        return [
            Call("refresh", self._refresh, before=self._restore),
            Call("sweep", lambda: self.counts.update(days_dropped=self._sweep())),
            Call("resume", self._resume, before=self._crash),
        ]

    def call_metrics(self, med):
        return {"refresh_pts_per_s": self.n_late / med["refresh"],
                "resume_s": med["resume"]}

    def _pipe_hash(self) -> tuple:
        # a redone part sums its doubles in another order than the
        # uninterrupted run, so `sum` is compared to 6 dp
        cols = TIER_KEYS + ["cnt", "sum", "min", "max", "first", "last"]
        return oracles.multiset_hash(self.read("pipe/agg_1h"), cols,
                                     round_cols=("sum",))

    # The checks read the state the last pass left: tier refreshed and
    # swept, pipeline resumed.
    def _check_refresh(self):
        got = self.read("tier").drop(PART_COL)
        want = rollup_raw_upsertable(self.read("series"), "1h").where(
            F.date_format("bucket_ts", "yyyy-MM-dd") >= F.lit(self.cut))
        bad = oracles.tolerant_diff(
            got, want, TIER_KEYS, ["cnt", "fkey", "lkey"], list(oracles.TIER_FLOATS))
        return bad == 0, f"{bad} rows differ from rollup(base ∪ delta) since {self.cut}"

    def _check_sweep(self):
        again = self._sweep()
        return again == 0, f"second sweep dropped {again} days"

    def _check_resume(self):
        got = self._pipe_hash()
        return got == self.uninterrupted, f"resumed {got}, uninterrupted {self.uninterrupted}"

    def checks(self):
        return [
            Check("refresh_exact", self._check_refresh),
            Check("second_sweep_noop", self._check_sweep),
            Check("resume_hash", self._check_resume),
        ]

    def probe_layers(self, probe):
        out = {}
        self._restore()
        with probe.span("refresh", call=True) as rec:
            self._refresh()
        out["refresh.s"] = probe.last_s
        out["refresh.bytes_written"] = rec["spark"]["output_bytes"]
        rewritten = self.read("tier").where(F.col(PART_COL).isin(self.days))
        out["refresh.days_rewritten"] = len(self.days)
        out["refresh.rows_rewritten"] = rows = rewritten.count()
        partial = rollup_raw_upsertable(self.read("late"), "1h").count()
        out["refresh.write_amplification"] = rows / partial
        out["refresh.files_written"] = sum(
            1 for d in self.days
            for f in os.listdir(self.path("tier", f"{PART_COL}={d}"))
            if f.endswith(".parquet"))
        with probe.span("sweep", call=True):
            self.counts["days_dropped"] = self._sweep()
        out["retention.sweep_s"] = probe.last_s
        out["retention.days_dropped"] = self.counts["days_dropped"]
        self._crash()
        with probe.span("resume", call=True) as rec:
            self._resume()
        out["resume_s"] = probe.last_s
        out["refresh_pts_per_s"] = self.n_late / out["refresh.s"]
        out["manifest.jobs"] = rec["spark"]["jobs"]
        out["manifest.parts_redone"] = self.counts["parts_redone"]
        out["manifest.parts_skipped"] = self.parts_before
        return out


WORKLOADS = {w.name: w for w in (TierBuild, CorrReport, LateRefresh)}
