"""Repository benchmark for the dedup engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Generates the workload's inputs from ``--seed``, starts one Spark session on
``local[<cores>]`` pinned to the process's cores, and drives the engine's
public entry points. ``--trace 0`` times the workload's operations for about
``--seconds`` seconds and reports the end-to-end metrics; ``--trace 1`` runs
the workload once layer by layer under spans with Spark's event log on, then
once untraced, and reports the per-layer metrics. Every run checks the
outputs against the generator's ground truth and the workload-shape guards.
perfbench/README.md defines every metric and workload.

stdout ends with one JSON line: ``{"correct", "attempted", "failed",
"metrics"}``. The line before it holds the run's context (seed, host, core
pinning, load average, per-workload figures). A failed shape guard exits
with code 3 and no result; an engine that cannot be imported, with code 2.
Spark's scratch files go under ``.bench_work/`` at the repository root;
traces are kept in ``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# session set-ups (session start, load and cache the input) per timed run;
# setup_s is their median. The first also starts the JVM.
SETUPS = 3
# below the floor the engine's output counts as wrong; between it and the
# target it is a recall shortfall, recorded in the context line
RECALL_FLOOR, RECALL_TARGET = 0.9, 0.99

WORKLOADS = ("boilerplate_html", "incremental")

E2E_UNITS = {
    "setup_s": "s", "docs_per_s": "docs/s", "op_p50_s": "s",
    "dup_pair_recall": "ratio", "peak_rss_mb": "MB", "success_rate": "ratio",
}


def make_workload(name: str, seed: int, cores: int, work: str):
    import gen
    import workloads as w

    if name == "boilerplate_html":
        return w.BoilerplateHtml(gen.boilerplate_html(seed, 800), cores)
    return w.Incremental(gen.incremental(seed, 1200, 120, 12, 30), cores, work)


# ------------------------------------------------------------------ host


def _proc_tree_rss() -> dict[str, int]:
    """Resident bytes of this process and all its descendants (the JVM and
    the Python workers), from /proc, summed per command name."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    out: dict[str, int] = {}
    todo = [os.getpid()]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * page
            with open(f"/proc/{pid}/comm") as fh:
                name = fh.read().strip()
        except (OSError, IndexError, ValueError):
            continue
        out[name] = out.get(name, 0) + rss
    return out


class PeakRss:
    """Samples the process tree's resident set every 0.2 s on a thread, from
    start until ``stop`` (called when the first operation ends, so the peak
    does not depend on how many operations fit in the run)."""

    def __init__(self) -> None:
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        now = _proc_tree_rss()
        if sum(now.values()) > self.peak:
            self.peak, self.at_peak = sum(now.values()), now

    def _loop(self) -> None:
        while not self._done.wait(0.2):
            self._sample()

    def stop(self) -> None:
        if not self._done.is_set():
            self._done.set()
            self._thread.join()
            self._sample()

    def mb(self) -> float:
        return self.peak / 1e6


def host_info(cores: list[int]) -> dict:
    mem = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0]) * 1024
    import pyspark

    return {
        "nproc": len(cores), "cpu_count": os.cpu_count(), "pinned_cores": cores,
        "mem_total_mb": round(mem["MemTotal"] / 1e6), "mem_available_mb": round(mem["MemAvailable"] / 1e6),
        "loadavg_start": os.getloadavg(), "python": sys.version.split()[0], "pyspark": pyspark.__version__,
    }


# ------------------------------------------------------------------ session


def start_session(cores: int, work: str, events: str | None):
    from cqaduplicatefind_spark.session import build_session

    extra = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # a small heap, committed and touched at JVM start: the inputs are
        # small and the machine is shared, and on a VM whose memory is backed
        # lazily, heap growth mid-operation costs page-fault storms that made
        # the same operation vary by a third from run to run
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": (
            f"-Xms2g -XX:+AlwaysPreTouch -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if events:
        extra.update({
            "spark.eventLog.enabled": "true", "spark.eventLog.dir": events,
            # one plain JSON-lines file (Spark 4 defaults to rolling, compressed logs)
            "spark.eventLog.rolling.enabled": "false", "spark.eventLog.compress": "false",
        })
    spark = build_session(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra=extra
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------------ runs


def tail(walls: list[float]) -> dict:
    """The highest latency percentile with at least ten samples beyond it."""
    w = sorted(walls)
    n = len(w)
    if n < 11:
        return {"value_s": None, "percentile": None, "samples": n}
    return {"value_s": w[n - 11], "percentile": round(100.0 * (n - 10) / n, 1), "samples": n}


def timed(wl, spark, seconds: float, setups: list[float], rss: PeakRss) -> tuple[dict, dict]:
    m = wl.measure(spark, seconds, rss.stop)
    x = m.extra
    recall = x.get("dup_pair_recall", 0.0)
    correct = m.failed == 0 and bool(m.walls) and x.get("clusters_ok", False)
    metrics = {
        "setup_s": statistics.median(setups),
        "docs_per_s": m.docs_per_s() if m.walls else 0.0,
        "op_p50_s": statistics.median(m.walls) if m.walls else 0.0,
        "dup_pair_recall": recall,
        "peak_rss_mb": rss.mb(),
        "success_rate": 1.0 - m.failed / max(1, m.attempted),
    }
    info = {
        "ops": len(m.walls), "op_walls_s": m.walls, "setups_s": setups,
        "error_rate": m.failed / max(1, m.attempted), "op_tail": tail(m.walls),
        "recall_target_met": recall >= RECALL_TARGET, "checks": x,
        "rss_at_peak_mb": {k: round(v / 1e6) for k, v in rss.at_peak.items()},
    }
    result = {"correct": correct and recall >= RECALL_FLOOR,
              "attempted": m.attempted, "failed": m.failed, "metrics": metrics}
    return result, info


def traced(wl, spark, events: str) -> tuple[dict, dict, object]:
    """The staged run first, in the same position after the worker warm-up
    as a timed run's operation, the first in its JVM; then the same work
    untraced, whose result must hash equal. The untraced replay runs second,
    warm, so ``trace.overhead_ratio`` leans high by the cold start."""
    import spans

    tracer = spans.Tracer(spark.sparkContext)
    h, counts = wl.traced(spark, tracer)
    ref_hash, ref_wall = wl.reference(spark)
    spark.stop()  # flushes the event log
    jobs, tasks = spans.read_event_log(events)
    metrics = {name: 0.0 for name in spans.PER_LAYER}
    metrics.update(spans.layer_metrics(tracer.spans, jobs, tasks))
    metrics.update(counts)
    layers_s = tracer.layer_walls()
    metrics.update({"trace.layers_s": layers_s, "trace.untraced_s": ref_wall,
                    "trace.overhead_ratio": layers_s / ref_wall})
    info = {"untraced_hash": ref_hash, "traced_hash": h, "spans": len(tracer.spans)}
    return {"correct": h == ref_hash, "attempted": 2, "failed": 0, "metrics": metrics}, info, tracer


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    cores = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, cores)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    events = os.path.join(work, "events") if args.trace else None
    for d in filter(None, (os.path.join(work, "tmp"), events)):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        # both JVMs (spark-submit's launcher and the driver) would otherwise
        # write hsperfdata files under /tmp; a run writes only in the checkout
        "JAVA_TOOL_OPTIONS": " ".join(
            filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"])),
    })
    info = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "host": host_info(cores)}

    # wall clock of each phase of the run, for the run-time budget
    phases, t_phase = {}, time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    wl = make_workload(args.workload, args.seed, len(cores), work)
    phase("generate")
    rss = PeakRss()
    spark = None
    code = 0
    try:
        setups = []
        for i in range(1 if args.trace else SETUPS):
            t0 = time.perf_counter()
            spark = start_session(len(cores), work, events)
            wl.load(spark)
            setups.append(time.perf_counter() - t0)
            if i < SETUPS - 1 and not args.trace:
                wl.unload()
                spark.stop()
        phase("setups")
        wl.prepare(spark)
        phase("prepare")
        if args.trace:
            result, info["traced"], tracer = traced(wl, spark, events)
        else:
            result, info["timed"] = timed(wl, spark, args.seconds, setups, rss)
    except workloads.ShapeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        code = 3
    finally:
        if spark is not None:
            spark.stop()
        phase("measure_and_check")
        stop_jvm()
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)
        phase("stop")
    if code:
        return code
    info["host"]["loadavg_end"] = os.getloadavg()
    info["phases_s"] = phases
    if args.trace:
        import spans

        traces = os.path.join(ROOT, ".bench_work", "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"),
                    {"info": info, "metrics": result["metrics"]})
        units = spans.PER_LAYER
    else:
        units = E2E_UNITS
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()}
    print(json.dumps({"perfbench": info}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
