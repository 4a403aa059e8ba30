"""Layered pipeline benchmark for the rollup / retention engine.

    python3 perfbench/run.py --workload tier_build --seed 1 --seconds 10 --trace 0

Runs one closed-loop workload (see perfbench/README.md) in a single
driver process on local[nproc], checks its outputs, and prints a
human-readable summary followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics;
with --trace 1 they are its per_layer metrics, and the spans go to
.perfbench/traces/.  Every file the run writes stays under .perfbench/
in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
STATE = ROOT / ".perfbench"

MIN_PASSES = 3


def log(msg: str) -> None:
    print(f"# {msg}", flush=True)


class Probe:
    """Traced calls: a span per call with Spark's stage counters (and,
    for DataFrames, operator metrics) attached."""

    def __init__(self, tracer, metrics):
        self.tracer = tracer
        self.metrics = metrics
        self.last_s = 0.0
        self.failures: list[str] = []

    @contextmanager
    def span(self, name: str, **attrs):
        self.metrics.snapshot()
        with self.tracer.span(name, **attrs) as rec:
            yield rec
        self.last_s = rec["end"] - rec["start"]
        rec["spark"] = self.metrics.delta().as_dict()

    def df(self, name: str, df):
        from sparkmetrics import plan_metrics

        with self.span(name) as rec:
            rows, pm = plan_metrics(df)
        rec["spark"].update(pm)
        rec["rows"] = rows
        return rows, pm

    def fail(self, msg: str) -> None:
        self.failures.append(msg)


class Bench:
    def __init__(self, spark, args, work: Path, contract: dict):
        self.spark = spark
        self.args = args
        self.work = work
        self.contract = contract
        self.attempted = 0
        self.failed = 0

    def run_pass(self, wl, probe=None) -> dict[str, float] | None:
        """One closed-loop pass; returns per-call seconds, or None when
        a call failed (the pass is then not a sample)."""
        from pyspark.sql import DataFrame
        from sparkmetrics import plan_metrics
        from workloads import noop_write

        times, ok = {}, True
        for call in wl.calls():
            self.attempted += 1
            try:
                if call.before:
                    call.before()
                if probe is None:
                    t0 = time.perf_counter()
                    out = call.build()
                    if isinstance(out, DataFrame):
                        noop_write(out)
                    times[call.name] = time.perf_counter() - t0
                else:
                    plan = {}
                    with probe.span(call.name, call=True) as rec:
                        out = call.build()
                        if isinstance(out, DataFrame):
                            rec["rows"], plan = plan_metrics(out)
                    rec["spark"].update(plan)
                    times[call.name] = probe.last_s
            except Exception:  # a failed call is counted, not fatal
                self.failed += 1
                ok = False
                traceback.print_exc()
        return times if ok else None

    def loop(self, wl, seconds: float, probe=None) -> list[dict]:
        """Closed loop: the next pass starts when the previous one ends.
        With a probe, passes run in blocks of four: untraced, traced,
        traced, untraced.  A steady drift (the JVM still warming up)
        then cancels from the traced-minus-untraced difference, and two
        sample lists come back."""
        plain, traced = [], []
        t_end = time.perf_counter() + seconds
        n = 0
        while True:
            if probe is None:
                if len(plain) >= MIN_PASSES and time.perf_counter() >= t_end:
                    break
                use = None
            else:
                if n and n % 4 == 0 and time.perf_counter() >= t_end:
                    break
                use = probe if n % 4 in (1, 2) else None
            n += 1
            if use is None:
                t = self.run_pass(wl)
            else:
                use.tracer.pass_id = f"p{len(traced)}"
                with use.tracer.span("pass"):
                    t = self.run_pass(wl, use)
            if t is not None:
                (traced if use is not None else plain).append(t)
            elif self.failed > 3 * (len(plain) + len(traced) + 1):
                break
        return (plain, traced) if probe is not None else plain

    def run_checks(self, checks) -> bool:
        all_ok = True
        for chk in checks:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                ok, detail = chk.fn()
            except Exception:
                ok, detail = False, traceback.format_exc(limit=3)
            self.failed += 0 if ok else 1
            all_ok &= ok
            log(f"check {chk.name}: {'ok' if ok else 'FAILED'} ({detail}) "
                f"[{time.perf_counter() - t0:.2f}s]")
        return all_ok

    def run(self, session_s: float) -> dict:
        import host
        from workloads import WORKLOADS

        spark, args = self.spark, self.args
        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}")
        t0 = time.perf_counter()
        wl = WORKLOADS[args.workload](spark, str(self.work), args.seed)
        init_s = time.perf_counter() - t0
        # set-up = session + input choice + synthesis + workload
        # fixtures + one warm-up pass
        t0 = time.perf_counter()
        wl.write_transcripts()
        synth_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.fixtures()
        fixtures_s = time.perf_counter() - t0
        # warm-up: a pass that is not a sample (JIT and codegen
        # settle, Python workers start)
        t0 = time.perf_counter()
        warm_ok = self.run_pass(wl) is not None
        warm_s = time.perf_counter() - t0
        setup_s = session_s + init_s + synth_s + fixtures_s + warm_s
        log("inputs " + json.dumps({k: v for k, v in wl.inputs.items() if k != "convs"}))
        log(f"setup: session {session_s:.2f}s, inputs {init_s:.2f}s, "
            f"synthesis {synth_s:.2f}s, "
            f"fixtures {fixtures_s:.2f}s, warm-up pass {warm_s:.2f}s")
        # the checks run the workload's calls again, so running them
        # before the timed phase also warms the JVM further
        ok = self.run_checks(wl.checks()) and warm_ok

        calib0 = host.calibrate(spark)
        probe = None
        if args.trace:
            from sparkmetrics import SparkMetrics
            from spans import Tracer

            probe = Probe(Tracer(), SparkMetrics(spark))
        with host.RssSampler() as rss:
            samples = self.loop(wl, args.seconds, probe)
        if probe is not None:
            samples, traced_samples = samples
        per_call = {c: statistics.median(s[c] for s in samples) for c in samples[0]} if samples else {}
        pass_s = statistics.median(sum(s.values()) for s in samples) if samples else float("nan")
        log(f"{len(samples)} passes; per-call median s "
            f"{ {k: round(v, 3) for k, v in per_call.items()} }")

        layer: dict[str, float] = {}
        if probe is not None:
            layer = self.traced(wl, probe, pass_s, traced_samples)
        layer.update(wl.check_layers if args.trace else {})
        calib1 = host.calibrate(spark)
        hinfo = host.host_info()

        call_metrics = wl.call_metrics(per_call) if samples else {}
        for k, v in call_metrics.items():
            log(f"{k} = {v:.6g} (median of {len(samples)} passes)")
        e2e = {"pass_s": pass_s, "setup_s": setup_s}
        log(f"{wl.points()} points per pass, {wl.points() / pass_s:.6g} points/s")
        log(f"ops_failed_frac = {self.failed / max(self.attempted, 1):.6g} "
            f"({self.failed} of {self.attempted} calls+checks)")
        log(f"counts {json.dumps(wl.counts, sort_keys=True)}")
        log(f"host nproc={hinfo['nproc']} load1={hinfo['load1']:.2f} "
            f"calib {calib0:.3f}s -> {calib1:.3f}s, peak RSS {rss.peak_mb:.0f} MB")
        layer.update(call_metrics)
        layer.update({
            "calib.s": calib0,
            "calib.drift": calib1 / calib0 - 1.0,
            "host.nproc": hinfo["nproc"],
            "host.load1": hinfo["load1"],
            "host.peak_rss_mb": rss.peak_mb,
        })
        self.record(wl, e2e, layer, samples)
        wanted = self.contract["per_layer" if args.trace else "end_to_end"]
        values = e2e if not args.trace else {m["name"]: 0.0 for m in wanted} | layer
        unknown = set(values) - {m["name"] for m in wanted}
        if args.trace and unknown:
            raise SystemExit(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
        for m in wanted:
            log(f"{m['name']} = {values[m['name']]:.6g} {m['unit']}")
        return {
            "correct": bool(ok and self.failed == 0),
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                for m in wanted
            },
        }

    def traced(self, wl, probe, untraced_pass_s: float, samples) -> dict[str, float]:
        """Per-layer values from the traced passes (same calls, spans +
        Spark metrics), then each layer on its own.  Spans go to one
        file at the end."""
        import host

        tracer = probe.tracer
        out: dict[str, float] = {}
        if samples:
            traced_pass = statistics.median(sum(s.values()) for s in samples)
            out["trace.overhead_s"] = traced_pass - untraced_pass_s
            log(f"{len(samples)} traced passes; median {traced_pass:.3f}s")
        calls = [s for s in tracer.spans if s.get("call")]
        for name in {s["name"] for s in calls}:
            recs = [s["spark"] for s in calls if s["name"] == name]
            for key in ("jobs", "tasks", "shuffle_write_bytes", "spill_bytes",
                        "gc_s", "executor_cpu_s", "shuffle_read_partitions"):
                out[f"spark.{name}.{key}"] = statistics.median(r.get(key, 0) for r in recs)
            out[f"spark.{name}.python_boot_s"] = statistics.median(
                r.get("python_boot_ms", 0) for r in recs) / 1e3
            if name == "cascade":
                out["rollup.cascade.exchanges"] = recs[-1]["exchanges"]
                out["rollup.spill_bytes"] = statistics.median(
                    r["plan_spill_bytes"] for r in recs)
        tracer.pass_id = "layers"
        self.attempted += 1
        try:
            with tracer.span("layers"):
                out.update(wl.probe_layers(probe))
        except Exception:
            self.failed += 1
            traceback.print_exc()
        self.run_checks(wl.probe_checks())
        for msg in probe.failures:
            self.failed += 1
            log(f"trace check FAILED: {msg}")
        out["trace.spans"] = len(tracer.spans)
        traces = STATE / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        path = traces / f"{self.args.workload}-seed{self.args.seed}-{int(time.time())}.json"
        tracer.write(str(path), {"workload": self.args.workload, "seed": self.args.seed,
                                 "host": host.host_info()})
        log(f"spans written to {path.relative_to(ROOT)}")
        return out

    def record(self, wl, e2e, layer, samples) -> None:
        """Append this run's full record (counts included) for
        perfbench/steady.py's determinism check."""
        STATE.mkdir(exist_ok=True)
        rec = {
            "workload": self.args.workload, "seed": self.args.seed,
            "trace": self.args.trace, "time": time.time(),
            "inputs": wl.inputs, "counts": wl.counts, "e2e": e2e,
            "layer": layer, "passes": samples,
            "attempted": self.attempted, "failed": self.failed,
        }
        with open(STATE / "runs.jsonl", "a") as f:
            f.write(json.dumps(rec, default=str) + "\n")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    help="tier_build, corr_report or late_refresh")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    engine = ROOT / "timeseriescorrelation_spark" / "__init__.py"
    if not engine.is_file():
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    contract = json.loads((ROOT / "BENCHMARK.json").read_text())

    work = STATE / f"work-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # keep every file Spark, the JVMs and Python write inside the checkout
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, str(ROOT))

    import host
    from timeseriescorrelation_spark.session import get_spark

    host.wait_idle()
    n = host.nproc()
    t0 = time.perf_counter()
    spark = get_spark(
        master=f"local[{n}]",
        shuffle_partitions=max(8, n),
        extra_conf={
            "spark.driver.memory": "2g",
            # a heap sized up front: G1 growing it during the timed
            # passes made early passes slower
            "spark.driver.extraJavaOptions": "-Xms2g",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        result = Bench(spark, args, work, contract).run(session_s)
    finally:
        host.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
