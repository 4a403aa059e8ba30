"""Read Spark's own metrics around one call, from the driver.

Two sources, both reachable through py4j with the UI disabled:

- stage metrics from the application status store
  (``sc._jsc.sc().statusStore()``), diffed by stage/job id around a
  call: jobs, tasks, executor CPU, GC, shuffle write, spill;
- operator metrics from the executed physical plan of a DataFrame,
  after materializing it with ``queryExecution().toRdd().count()``:
  Python/Arrow boundary time and bytes, shuffle bytes, spill, and the
  post-AQE shuffle-read partition count.  A noop write does not leave
  these populated, which is why the traced run uses ``toRdd``.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass

# operator metric name -> the per-call key it is summed into
_PLAN_KEYS = {
    "pythonTotalTime": "python_ms",
    "pythonBootTime": "python_boot_ms",
    "pythonDataSent": "python_bytes_sent",
    "shuffleBytesWritten": "plan_shuffle_bytes",
    "spillSize": "plan_spill_bytes",
}


@dataclass
class StageDelta:
    """Spark-engine counters of the jobs one call launched."""

    jobs: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0

    def as_dict(self) -> dict:
        return asdict(self)


class SparkMetrics:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._seen_stages: set[tuple[int, int]] = set()
        self._seen_jobs: set[int] = set()
        self.snapshot()

    def _drain(self) -> None:
        # listener events are delivered asynchronously; wait until the
        # status store has seen every event of the finished call
        self._jsc.listenerBus().waitUntilEmpty()

    def _stages(self):
        seq = self._store.stageList(None, False, False, self._no_quantiles, None)
        return [seq.apply(i) for i in range(seq.size())]

    def _job_ids(self) -> set[int]:
        seq = self._store.jobsList(None)
        return {seq.apply(i).jobId() for i in range(seq.size())}

    def snapshot(self) -> None:
        """Mark every stage and job so far as seen."""
        self._drain()
        self._seen_stages = {(s.stageId(), s.attemptId()) for s in self._stages()}
        self._seen_jobs = self._job_ids()

    def delta(self) -> StageDelta:
        """Counters of the stages and jobs since the last snapshot/delta."""
        self._drain()
        d = StageDelta()
        for s in self._stages():
            key = (s.stageId(), s.attemptId())
            if key in self._seen_stages:
                continue
            self._seen_stages.add(key)
            d.tasks += s.numCompleteTasks()
            d.executor_cpu_s += s.executorCpuTime() / 1e9
            d.gc_s += s.jvmGcTime() / 1e3
            d.shuffle_write_bytes += s.shuffleWriteBytes()
            d.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
            d.output_bytes += s.outputBytes()
        jobs = self._job_ids()
        d.jobs = len(jobs - self._seen_jobs)
        self._seen_jobs |= jobs
        return d


def _scala_map(m) -> dict:
    out, it = {}, m.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def walk_plan(node, visit) -> None:
    """Depth-first over an executed plan, through AQE wrappers and
    query stages; a reused exchange is not re-entered (its metrics
    belong to the exchange it reuses)."""
    name = node.getClass().getSimpleName()
    visit(name, node)
    if name == "AdaptiveSparkPlanExec":
        walk_plan(node.executedPlan(), visit)
        return
    if name.endswith("QueryStageExec"):
        walk_plan(node.plan(), visit)
        return
    children = node.children()
    for i in range(children.size()):
        walk_plan(children.apply(i), visit)


def plan_metrics(df) -> tuple[int, dict]:
    """Materialize `df` without a driver collect; return (row count,
    summed operator metrics of its executed plan)."""
    qe = df._jdf.queryExecution()
    rows = qe.toRdd().count()
    acc = {v: 0 for v in _PLAN_KEYS.values()}
    acc.update(exchanges=0, shuffle_read_partitions=0)

    def visit(name, node):
        ms = _scala_map(node.metrics())
        for k, v in ms.items():
            if k in _PLAN_KEYS:
                acc[_PLAN_KEYS[k]] += v
        if name == "ShuffleExchangeExec":
            acc["exchanges"] += 1
        elif name == "AQEShuffleReadExec":
            acc["shuffle_read_partitions"] += ms.get("numPartitions", 0)

    walk_plan(qe.executedPlan(), visit)
    return rows, acc
