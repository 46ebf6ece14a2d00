"""Layered benchmark for the deepchecks_spark engine.

    python3 perfbench/run.py --workload corpus_validation --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. One process, ``local[4]``, 4 shuffle
partitions, a 2 GB driver heap. Inputs are generated from ``--seed`` and
staged under ``.perfbench_work/`` before Spark starts. Then the session
is built twice, once in a fresh child process and once in this process
(``setup_s`` is the median of the two, so their mean); one cold unit runs
(``cold_unit_s``), a warm-up unit runs, and units run in a closed loop
for ``--seconds`` (all clients together; a unit started before the
deadline runs to its end). Every unit's output is checked against a
reference computed outside the engine; a unit fails when it raises or
its output is wrong.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is the
separate traced run: it alternates traced and untraced units, then runs
one breakdown unit with spans around the engine functions it calls and
its thread pools run one task at a time, diffs Spark status-store
counters per span and reports the per-layer metrics plus the tracing
overhead. The spans are written to ``.perfbench_work/traces/``.

The last stdout line is the result object; the line before it is the
full report (host, sizes, every metric, tail sample counts, layer table).

The benchmark itself runs in a child process that leads a session of
its own. When it ends, this process ends whatever is left in that
session (the JVMs' Python worker daemons are not its children and can
outlive them) and waits until each is gone.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

CORES = 4
DRIVER_MEM = "2g"
# the second unit of a process is still ~20% slower than later ones
WARMUP_UNITS = 1
# stop starting units once the run is this old, so it ends inside 180 s
DEADLINE_S = 140.0
# session builds per run (fresh child processes, then this process);
# setup_s is their median. Each build costs 3.5-10 s on a 4-core host,
# so a third would add that to every run.
SETUP_SAMPLES = 2
# the breakdown unit runs the engine's thread pools one task at a time;
# it is flagged when its wall leaves [1/x, x] of the traced unit median
BREAKDOWN_SHARE = 2.0

END_TO_END = {
    "setup_s": "s", "cold_unit_s": "s", "unit_p50_s": "s", "rows_per_s": "1/s",
}
LAYERS = ("io", "stats", "runner", "core", "checks", "drift", "ml")
PER_LAYER_UNITS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_busy_s": "s", "driver.self_s": "s",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.slot_busy_frac": "fraction",
    "spark.input_bytes": "bytes", "spark.output_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "pyudf.rows": "count", "pyudf.bytes_to_python": "bytes",
    "pyudf.bytes_from_python": "bytes", "pyudf.exec_s": "s",
    "cache.storage_mb": "MB", "trace.overhead_s": "s",
    **{f"layer.{l}.self_s": "s" for l in LAYERS},
    **{f"layer.{l}.jobs": "count" for l in LAYERS},
}


def host_facts() -> dict:
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": os.cpu_count(), "ram_gb": round(mem_kb / 2**20, 1),
            "pyspark": pyspark.__version__, "python": sys.version.split()[0]}


def configure_env(root: str, work_dir: str) -> None:
    """Python workers import the package from the checkout; Spark's
    scratch space and the JVM's temp dir stay inside it."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["TMPDIR"] = tmp


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def build_session():
    from deepchecks_spark.session import get_spark

    return get_spark("perfbench", cores=CORES, shuffle_partitions=CORES)


def setup_probe() -> None:
    """Child process: build the session, print its build time, stop it."""
    t0 = time.perf_counter()
    spark = build_session()
    elapsed = time.perf_counter() - t0
    stop_spark(spark)
    print(json.dumps({"setup_s": elapsed}))


def setup_in_child(root: str) -> float:
    """``setup_s`` of one session build in a fresh Python process."""
    code = f"import sys; sys.path.insert(0, {HERE!r}); import run; run.setup_probe()"
    out = subprocess.run([sys.executable, "-c", code], cwd=root, check=True,
                         stdout=subprocess.PIPE, timeout=120, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])["setup_s"]


def java_version(spark) -> str:
    return str(spark._jvm.java.lang.System.getProperty("java.version"))


class Runner:
    def __init__(self, workload):
        self.w = workload
        self.attempted = 0
        self.failed = 0
        self.errors: list = []

    def one(self, tracer=None, span="unit"):
        """Run and check one unit; returns (start, end, ok, unit span).
        With a tracer the unit runs inside a span named ``span``."""
        t0 = time.time()
        ok, sp = True, None
        try:
            if tracer is None:
                out = self.w.unit()
            else:
                with tracer.span(span, "bench", workload=self.w.name) as sp:
                    out = self.w.unit(tracer)
            t1 = time.time()
            why = self.w.check(out)
        except Exception:  # a unit that raises counts as failed
            t1 = time.time()
            why = traceback.format_exc()
            print(why, file=sys.stderr)
        if why is not None:
            ok = False
            self.errors.append(why[-500:])
        self.attempted += 1
        self.failed += 0 if ok else 1
        return t0, t1, ok, sp

    def loop(self, seconds: float, run_start: float):
        """Closed loop in rounds: every client runs one unit per round,
        and the clients start each round together, so with two clients
        every timed unit overlaps the other's. Rounds repeat until
        ``seconds`` have passed and the workload's ``min_units`` ran.
        Returns the unit walls and the input rows per second summed
        over clients, each client's rate being the rows of its correct
        units over the time its units ran (output checks and the wait
        for the other client are not counted)."""
        walls, rates = [], []
        lock = threading.Lock()
        state = {"start": None, "rounds": 0, "stop": False}

        def end_of_round():  # runs once per barrier trip, before release
            now = time.time()
            if state["start"] is None:
                state["start"] = now
                return
            state["rounds"] += 1
            state["stop"] = (
                (now - state["start"] >= seconds
                 and state["rounds"] >= self.w.min_units)
                or now - run_start > DEADLINE_S)

        barrier = threading.Barrier(self.w.clients, action=end_of_round)

        def client():
            barrier.wait()
            mine, rows = [], 0
            while not state["stop"]:
                t0, t1, ok, _ = self.one()
                mine.append(t1 - t0)
                rows += self.w.rows_per_unit if ok else 0
                barrier.wait()
            with lock:
                walls.extend(mine)
                rates.append(rows / sum(mine))

        if self.w.clients == 1:
            client()
        else:
            threads = [threading.Thread(target=client, name=f"client-{i}")
                       for i in range(self.w.clients)]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
        return walls, sum(rates)


def tail(walls: list) -> dict:
    """Highest percentile with at least 10 samples beyond it."""
    n = len(walls)
    if n < 11:
        return {"value": None, "percentile": None, "samples": n,
                "note": "fewer than 11 samples"}
    s = sorted(walls)
    rank = n - 10  # 1-based rank of the value with 10 samples above it
    return {"value": s[rank - 1], "percentile": round(100.0 * rank / n, 1),
            "rank": rank, "samples": n}


def timed_run(w, runner, seconds, run_start, report):
    t0, t1, _, _ = runner.one()
    report["cold_unit_s"] = t1 - t0
    report["warmup_walls_s"] = []
    for _ in range(WARMUP_UNITS):
        t0, t1, _, _ = runner.one()
        report["warmup_walls_s"].append(t1 - t0)
    t0 = time.time()
    walls, report["rows_per_s"] = runner.loop(seconds, run_start)
    report["loop_s"] = time.time() - t0
    report["unit_p50_s"] = statistics.median(walls)
    report["unit_tail_s"] = tail(walls)
    report["unit_walls_s"] = walls


def traced_run(w, runner, seconds, run_start, store, poller, work_dir, report):
    from sparkstore import Marker
    from tracing import Tracer, serial_pools, spans_around

    tracer = Tracer()

    def attribute(unit_id, mark):
        unit = tracer.attribute(unit_id, mark.snapshot())
        for s in tracer.unit_spans(unit_id):
            s["cache_mb"] = poller.peak_mb(s["start"], s["end"])
        return unit

    runner.one()                          # cold
    for _ in range(WARMUP_UNITS):
        runner.one()
    traced, untraced = [], []
    t_loop = time.time()
    while True:
        mark = Marker(store)
        _, _, _, sp = runner.one(tracer)
        traced.append(attribute(sp["id"], mark))
        t0, t1, _, _ = runner.one()
        untraced.append(t1 - t0)
        if time.time() - t_loop >= seconds or time.time() - run_start > DEADLINE_S:
            break
    # the breakdown: one more unit, with spans around the engine
    # functions it calls and its thread pools run serially
    layer_units = traced
    targets = w.breakdown_targets()
    if targets:
        mark = Marker(store)
        with spans_around(tracer, targets), serial_pools(tracer):
            _, _, _, b = runner.one(tracer, span="breakdown")
        layer_units = [attribute(b["id"], mark)]

    def med(values):
        return statistics.median(values) if values else 0.0

    metrics = {}
    for key in ("spark.jobs", "spark.stages", "spark.tasks", "spark.job_busy_s",
                "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
                "spark.input_bytes", "spark.output_bytes",
                "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
                "spark.spill_bytes", "pyudf.rows", "pyudf.bytes_to_python",
                "pyudf.bytes_from_python", "pyudf.exec_s"):
        metrics[key] = med([u["total"][key] for u in traced])
    walls = [u["end"] - u["start"] for u in traced]
    metrics["driver.self_s"] = med(
        [wl - u["total"]["spark.job_busy_s"] for wl, u in zip(walls, traced)])
    metrics["spark.slot_busy_frac"] = med(
        [u["total"]["spark.executor_run_s"] / (wl * store.slots)
         for wl, u in zip(walls, traced)])
    metrics["cache.storage_mb"] = med([u["cache_mb"] for u in traced])
    metrics["trace.overhead_s"] = med(walls) - med(untraced)
    layer_table = {}
    for lay in LAYERS:
        self_s, jobs = [], []
        for unit in layer_units:
            spans = [s for s in tracer.unit_spans(unit["id"]) if s["layer"] == lay]
            self_s.append(sum(s["self_s"] for s in spans))
            jobs.append(sum(s["self"]["spark.jobs"] for s in spans))
        metrics[f"layer.{lay}.self_s"] = med(self_s)
        metrics[f"layer.{lay}.jobs"] = med(jobs)
    for unit in layer_units:
        for s in tracer.unit_spans(unit["id"]):
            row = layer_table.setdefault(s["name"], {"calls": 0, "self_s": 0.0,
                                                     "jobs": 0, "stages": 0})
            row["calls"] += 1
            row["self_s"] += s["self_s"]
            row["jobs"] += s["self"]["spark.jobs"]
            row["stages"] += s["self"]["spark.stages"]
    report["per_layer"] = metrics
    report["span_table"] = layer_table
    report["traced_unit_p50_s"] = med(walls)
    report["untraced_unit_p50_s"] = med(untraced)
    report["traced_units"] = len(traced)
    if targets:
        wall = b["end"] - b["start"]
        report["breakdown_wall_s"] = wall
        report["breakdown_vs_traced_unit"] = wall / med(walls)
        report["breakdown_diverges"] = not (
            1 / BREAKDOWN_SHARE <= wall / med(walls) <= BREAKDOWN_SHARE)
    trace_dir = os.path.join(work_dir, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    path = os.path.join(trace_dir, f"{w.name}-seed{report['seed']}.json")
    tracer.dump(path)
    report["trace_file"] = os.path.relpath(path)
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    run_start = time.time()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "deepchecks_spark", "__init__.py")):
        print(f"no deepchecks_spark package under {root}; run from the root of a "
              "checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work_dir = os.path.join(root, ".perfbench_work")
    configure_env(root, work_dir)
    w = WORKLOADS[args.workload](work_dir, args.seed)
    report = {"workload": w.name, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "clients": w.clients, "host": host_facts()}

    t0 = time.time()
    w.stage_inputs()
    report["gen_s"] = time.time() - t0

    from sparkstore import StatusStore, StoragePoller

    samples = [setup_in_child(root) for _ in range(SETUP_SAMPLES - 1)]
    t0 = time.perf_counter()
    spark = build_session()
    samples.append(time.perf_counter() - t0)
    report["setup_s"] = statistics.median(samples)
    report["setup_samples_s"] = samples
    try:
        spark.sparkContext.setLogLevel("ERROR")
        report["host"]["java"] = java_version(spark)
        store = StatusStore(spark)
        w.open(spark)
        runner = Runner(w)
        with StoragePoller(store) as poller:
            if args.trace:
                metrics = traced_run(w, runner, args.seconds, run_start, store,
                                     poller, work_dir, report)
                units = PER_LAYER_UNITS
            else:
                timed_run(w, runner, args.seconds, run_start, report)
                metrics = {k: report[k] for k in END_TO_END}
                units = END_TO_END
            report["cache_peak_mb"] = poller.peak_mb()
        report["storage_pool_mb"] = store.storage_pool_bytes() / float(1 << 20)
    finally:
        stop_spark(spark)
    report.update(w.facts)
    report["attempted"] = runner.attempted
    report["failed"] = runner.failed
    report["failed_frac"] = runner.failed / runner.attempted
    report["errors"] = runner.errors[:5]
    report["run_s"] = time.time() - run_start
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


# the benchmark child's role; set in its environment by supervise()
CHILD_ENV = "PERFBENCH_CHILD"
# how long leftover session members get to exit on their own, then how
# long they get to vanish after SIGKILL
LINGER_S = 15.0
KILL_WAIT_S = 15.0


def session_members(sid: int) -> list:
    """Live (non-zombie) processes whose session id is ``sid``."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # ended while we looked
            continue
        # fields after "(comm)": state, ppid, pgrp, session, ...
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[3]) == sid and fields[0] not in ("Z", "X"):
            pids.append(int(name))
    return pids


def wait_gone(sid: int, seconds: float) -> list:
    deadline = time.time() + seconds
    while True:
        left = session_members(sid)
        if not left or time.time() > deadline:
            return left
        time.sleep(0.1)


def kill_all(pids) -> None:
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def end_session(sid: int, linger: float) -> list:
    """Give the session ``linger`` seconds to empty, SIGKILL what is
    left, wait for it to vanish; returns the pids that would not end."""
    left = wait_gone(sid, linger)
    if left:
        print(f"perfbench: killing leftover processes {left}", file=sys.stderr)
        kill_all(left)
        left = wait_gone(sid, KILL_WAIT_S)
    return left


def _die_with_parent() -> None:
    """In the child: get SIGKILL when the supervisor dies (Linux). The
    JVM exits when its stdin pipe from Python closes, and its worker
    daemons when the JVM goes."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG
    except (OSError, AttributeError):
        pass


def supervise(argv: list) -> int:
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__)] + argv,
        env=dict(os.environ, **{CHILD_ENV: "1"}),
        start_new_session=True, preexec_fn=_die_with_parent)
    signals = []

    def on_signal(signum, _frame):
        # the wait below returns once the child is killed; waiting here
        # would deadlock on the wait it interrupted
        signals.append(signum)
        kill_all(session_members(child.pid))

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, on_signal)
    code = child.wait()
    if end_session(child.pid, 0.0 if signals else LINGER_S):
        print("perfbench: processes of the run would not end", file=sys.stderr)
        return code or 1
    return 128 + signals[0] if signals else code


if __name__ == "__main__":
    if os.environ.get(CHILD_ENV) == "1":
        sys.exit(main())
    sys.exit(supervise(sys.argv[1:]))
