"""Counters read from Spark's own status store, diffed over intervals.

Everything here is read from outside the engine: the application status
store (jobs, stages, cached RDD blocks) through
``spark._jsc.sc().statusStore()`` and the SQL status store (per-node SQL
metrics of the Arrow/pandas Python operators) through the session's
shared state. Job and stage lists are serialized to JSON on the JVM
side with the Jackson mapper Spark already ships, so reading either is
one py4j call.
"""

from __future__ import annotations

import json
import re
import threading
import time

# SQL metric names the Python-UDF operators (ArrowEvalPython,
# MapInPandas, FlatMap*InPandas, ...) register; any plan node carrying
# the first one is a Python node.
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
PY_RUN = "time to run Python workers"
PY_ROWS = "number of output rows"

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_sql_metric(text: str) -> float:
    """Numeric value of one formatted SQL metric: a row count
    (``12,345``), a size (``404.3 KiB``) in bytes or a duration
    (``5.3 s``, ``345 ms``) in seconds. Multi-task metrics carry a
    ``total (min, med, max ...)`` header line; the total is the first
    value of the second line."""
    line = text.split("\n")[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparseable SQL metric value {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    if unit:
        raise ValueError(f"unknown SQL metric unit {unit!r} in {text!r}")
    return value


class StoreTruncated(RuntimeError):
    """A unit's jobs or stages were evicted from the status store before
    they were read, so any count over them would be short."""


class StatusStore:
    def __init__(self, spark):
        jvm = spark._jvm
        self._sc = spark._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(
            jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        conf = self._sc.conf()
        self.retained_jobs = int(conf.get("spark.ui.retainedJobs", "1000"))
        self.retained_stages = int(conf.get("spark.ui.retainedStages", "1000"))
        self.retained_executions = int(
            conf.get("spark.sql.ui.retainedExecutions", "1000"))
        self.slots = spark.sparkContext.defaultParallelism

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event posted so
        far, so the store holds the final state of every ended job."""
        self._sc.listenerBus().waitUntilEmpty()

    # -- raw reads ---------------------------------------------------------
    def jobs(self) -> list:
        return self._json(self._store.jobsList(None))

    def stages(self) -> list:
        # Spark 4.1: stageList(statuses, withDetail, withSummaries,
        # unsortedQuantiles, taskStatus)
        return self._json(self._store.stageList(
            None, False, False, self._no_quantiles, None))

    def cached_bytes(self) -> int:
        """Storage memory held by cached RDD/DataFrame blocks right now
        (broadcast pieces excluded)."""
        rdds = self._store.rddList(True)
        return sum(int(rdds.apply(i).memoryUsed()) for i in range(rdds.size()))

    def storage_pool_bytes(self) -> int:
        ex = self._json(self._store.executorList(True))
        return sum(int(e.get("maxMemory") or 0) for e in ex)

    def next_execution_id(self) -> int:
        total = int(self._sql.executionsCount())
        if total == 0:
            return 0
        return int(self._sql.executionsList(total - 1, 1).apply(0).executionId()) + 1

    def executions_since(self, first_id: int) -> list:
        """(execution id, submission ms, {python metric name: value})
        for every SQL execution with id >= ``first_id``."""
        seq = self._sql.executionsList(0, int(self._sql.executionsCount()))
        out = []
        for i in range(seq.size() - 1, -1, -1):  # ordered by execution id
            ex = seq.apply(i)
            eid = int(ex.executionId())
            if eid < first_id:
                break
            names = {m["name"] for m in self._json(ex.metrics())}
            py = self._python_metrics(eid) if PY_SENT in names else {}
            out.append((eid, int(ex.submissionTime()), py))
        ids = sorted(e[0] for e in out)
        if ids and ids != list(range(first_id, first_id + len(ids))):
            raise StoreTruncated(
                f"SQL executions from {first_id} evicted before they were read "
                f"(spark.sql.ui.retainedExecutions={self.retained_executions})")
        return out

    def _python_metrics(self, execution_id) -> dict:
        values = self._json(self._sql.executionMetrics(execution_id))
        graph = self._sql.planGraph(execution_id)
        nodes = graph.allNodes()
        sums = {PY_SENT: 0.0, PY_RECEIVED: 0.0, PY_RUN: 0.0, PY_ROWS: 0.0}
        for i in range(nodes.size()):
            metrics = self._json(nodes.apply(i).metrics())
            by_name = {m["name"]: m["accumulatorId"] for m in metrics}
            if PY_SENT not in by_name:
                continue
            for name in sums:
                raw = values.get(str(by_name.get(name)))
                if raw:
                    sums[name] += parse_sql_metric(raw)
        return sums


def interval_union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def empty_counters() -> dict:
    return {
        "spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0,
        "spark.job_busy_s": 0.0, "spark.executor_run_s": 0.0,
        "spark.executor_cpu_s": 0.0, "spark.gc_s": 0.0,
        "spark.input_bytes": 0, "spark.output_bytes": 0,
        "spark.shuffle_read_bytes": 0, "spark.shuffle_write_bytes": 0,
        "spark.spill_bytes": 0,
        "pyudf.rows": 0.0, "pyudf.bytes_to_python": 0.0,
        "pyudf.bytes_from_python": 0.0, "pyudf.exec_s": 0.0,
    }


class Snapshot:
    """Jobs, stages and SQL executions recorded since a mark, with the
    completeness checks that make counts over them trustworthy."""

    def __init__(self, store: StatusStore, jobs: list, stages: list,
                 executions: list, first_job: int):
        self.jobs = [j for j in jobs if j["jobId"] >= first_job]
        self.stages = {}
        for s in stages:
            self.stages.setdefault(s["stageId"], []).append(s)
        self.executions = executions
        ids = sorted(j["jobId"] for j in self.jobs)
        if ids and ids != list(range(first_job, ids[-1] + 1)):
            missing = sorted(set(range(first_job, ids[-1] + 1)) - set(ids))
            raise StoreTruncated(
                f"jobs {missing[:5]}... evicted before they were read "
                f"(spark.ui.retainedJobs={store.retained_jobs})")
        for j in self.jobs:
            gone = [s for s in j["stageIds"] if s not in self.stages]
            if gone:
                raise StoreTruncated(
                    f"stages {gone[:5]} of job {j['jobId']} evicted before "
                    f"they were read (spark.ui.retainedStages="
                    f"{store.retained_stages})")
        n_stages = sum(len(j["stageIds"]) for j in self.jobs)
        if (len(self.jobs) > store.retained_jobs // 2
                or n_stages > store.retained_stages // 2):
            # a unit this size could outrun the store between two reads
            raise StoreTruncated(
                f"one unit ran {len(self.jobs)} jobs / {n_stages} stages, over "
                "half of spark.ui.retainedJobs/retainedStages; raise them or "
                "shrink the unit")

    def counters(self, t0: float, t1: float, job_filter=None) -> dict:
        """spark.* and pyudf.* counters of the jobs and SQL executions
        submitted in [t0, t1) (seconds since the epoch). With
        ``job_filter`` only the selected jobs count and pyudf.* stay 0
        (SQL executions do not split by job)."""
        lo, hi = t0 * 1000.0, t1 * 1000.0
        jobs = [j for j in self.jobs
                if j["submissionTime"] is not None and lo <= j["submissionTime"] < hi
                and (job_filter is None or job_filter(j))]
        out = empty_counters()
        out["spark.jobs"] = len(jobs)
        busy = []
        seen_stages = set()
        for j in jobs:
            end = j["completionTime"] or hi
            busy.append((max(j["submissionTime"], lo), min(end, hi)))
            for sid in j["stageIds"]:
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                for s in self.stages[sid]:
                    if s["status"] in ("SKIPPED", "PENDING"):
                        continue
                    out["spark.stages"] += 1
                    out["spark.tasks"] += s["numTasks"]
                    out["spark.executor_run_s"] += s["executorRunTime"] / 1e3
                    out["spark.executor_cpu_s"] += s["executorCpuTime"] / 1e9
                    out["spark.gc_s"] += s["jvmGcTime"] / 1e3
                    out["spark.input_bytes"] += s["inputBytes"]
                    out["spark.output_bytes"] += s["outputBytes"]
                    out["spark.shuffle_read_bytes"] += s["shuffleReadBytes"]
                    out["spark.shuffle_write_bytes"] += s["shuffleWriteBytes"]
                    out["spark.spill_bytes"] += (s["memoryBytesSpilled"]
                                                 + s["diskBytesSpilled"])
        out["spark.job_busy_s"] = interval_union(busy) / 1e3
        if job_filter is None:
            for _eid, sub, py in self.executions:
                if lo <= sub < hi and py:
                    out["pyudf.rows"] += py[PY_ROWS]
                    out["pyudf.bytes_to_python"] += py[PY_SENT]
                    out["pyudf.bytes_from_python"] += py[PY_RECEIVED]
                    out["pyudf.exec_s"] += py[PY_RUN]
        return out


class Marker:
    """Position in the status store; ``snapshot()`` returns everything
    recorded after it."""

    def __init__(self, store: StatusStore):
        self.store = store
        store.drain()
        jobs = store.jobs()
        self.first_job = max((j["jobId"] for j in jobs), default=-1) + 1
        self.first_execution = store.next_execution_id()

    def snapshot(self) -> Snapshot:
        self.store.drain()
        return Snapshot(self.store, self.store.jobs(), self.store.stages(),
                        self.store.executions_since(self.first_execution),
                        self.first_job)


class StoragePoller:
    """Samples cached-block storage memory every ``interval`` seconds on
    a background thread, so the peak inside any interval can be read
    afterwards (cached blocks come and go within one unit)."""

    def __init__(self, store: StatusStore, interval: float = 0.2):
        self.store = store
        self.interval = interval
        self.samples: list = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="storage-poller",
                                        daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.samples.append((time.time(), self.store.cached_bytes()))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=30)
        if self._thread.is_alive():
            raise RuntimeError("storage poller did not stop")
        return False

    def peak_mb(self, t0: float | None = None, t1: float | None = None) -> float:
        vals = [b for t, b in self.samples
                if (t0 is None or t >= t0) and (t1 is None or t <= t1)]
        return max(vals, default=0) / float(1 << 20)
