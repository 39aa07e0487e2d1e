"""Benchmark command: one seeded workload against the package's public API.

    python3 perfbench/run.py --workload {build,serve} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Spark runs in this process at
local[$(nproc)]. The last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
Caches (generated corpora, the serve index) live under perfbench/.work;
a run record with the pinned environment and the spans goes to
perfbench/.work/records. See perfbench/README.md for what each workload
and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
# get_spark defaults to 24g; a 15 GB machine without swap cannot back that
DRIVER_MEM = "4g"


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _java_version() -> str:
    out = subprocess.run(["java", "-version"], capture_output=True, text=True,
                         timeout=60)
    return next(line for line in (out.stderr or out.stdout).splitlines()
                if "version" in line)


def pin_environment(run_dir: str, traced: bool, cores: int) -> dict:
    """Environment both sides of a comparison run with; set before the JVM
    starts. Spark, the JVM and Python workers keep their scratch inside
    the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    submit = []
    if traced:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{log_dir}",
                   "--conf", "spark.eventLog.compress=false"]
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": local,
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher and `java -version` too:
        # temp files in the run directory, no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
    }
    os.environ.update(env)
    return env


def _steal_share(before: tuple[int, int]) -> float:
    steal, total = _cpu_ticks()
    return (steal - before[0]) / max(1, total - before[1])


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM and its pyspark.daemon workers), sampled from /proc."""

    def __init__(self, period_s: float = 0.2):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def tree() -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    @staticmethod
    def rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def reset(self) -> None:
        self.peak_kb = 0

    def run(self) -> None:
        while not self._stop_evt.wait(self.period_s):
            self.peak_kb = max(self.peak_kb,
                               sum(self.rss_kb(p) for p in self.tree()))

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait until
    every descendant process has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while len(RssSampler.tree()) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in RssSampler.tree()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_process = time.perf_counter()
    traced = bool(args.trace)

    spec = _spec()
    sys.path[0] = ROOT  # the checkout root, not perfbench/, heads the path
    import elasticsearch_eslib_spark  # noqa: F401 — fails fast without the package

    from perfbench import tracing, workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}")
    cores = len(os.sched_getaffinity(0))
    cache_dir = os.path.join(WORK, "cache")
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(cache_dir, exist_ok=True)
    os.makedirs(run_dir)
    env = pin_environment(run_dir, traced, cores)
    import pyspark

    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "env": env,
              "python": sys.version.split()[0],
              "pyspark": pyspark.__version__, "java": _java_version(),
              "loadavg_before": _loadavg()}
    ticks_before = _cpu_ticks()
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        from elasticsearch_eslib_spark.config import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=f"local[{cores}]",
                          shuffle_partitions=cores)
        get_spark_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        # warm-up: the first job, and the Python workers and Arrow path
        # that every workload's first pandas UDF would otherwise start
        spark.range(0, cores, 1, cores).mapInPandas(
            lambda it: it, "id long").collect()
        warmup_s = time.perf_counter() - t0
        tracer = tracing.Tracer(spark, traced)
        ctx = workloads.Context(spark, tracer, args.seed, args.seconds,
                                traced, cache_dir, run_dir, cores,
                                generated=rss.reset)
        res = workloads.WORKLOADS[args.workload](ctx)
        res.metrics["setup_s"] = (get_spark_s + warmup_s
                                  + res.notes.get("setup_open_s", 0.0)
                                  + res.notes.get("setup_warmup_s", 0.0))
        res.layers["config.get_spark_s"] = get_spark_s
        t0 = time.perf_counter()
        stop_spark(spark)
        spark = None
        res.notes["stop_s"] = time.perf_counter() - t0
    finally:
        if spark is not None:
            stop_spark(spark)
            shutil.rmtree(run_dir, ignore_errors=True)
        rss.stop()
    res.layers["process.peak_rss_mb"] = rss.peak_kb / 1024

    record.update({"get_spark_s": get_spark_s, "first_job_s": warmup_s,
                   "peak_rss_mb": rss.peak_kb / 1024,
                   "notes": res.notes,
                   "loadavg_after": _loadavg(),
                   # share of CPU time the hypervisor gave to other guests
                   "cpu_steal_share": _steal_share(ticks_before),
                   "process_s": time.perf_counter() - t_process})
    records = os.path.join(WORK, "records")
    os.makedirs(records, exist_ok=True)
    if traced:
        res.layers.update(tracing.engine_metrics(
            os.path.join(run_dir, "eventlog"), tracer, cores))
        record["spans"] = tracer.spans
        res.layers["trace.spans"] = float(len(tracer.spans))
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{args.workload}-{args.seed}-t{args.trace}-{stamp}.json"
    with open(os.path.join(records, name), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(record, default=str)[:2000], file=sys.stderr)

    wanted = spec["per_layer"] if traced else spec["end_to_end"]
    have = res.layers if traced else res.metrics
    metrics = {}
    for m in wanted:
        if m["name"] not in have and not traced:
            raise RuntimeError(f"metric {m['name']} was not measured")
        # a layer this workload bypasses reads 0
        metrics[m["name"]] = {"value": float(have.get(m["name"], 0.0)),
                              "unit": m["unit"]}
    print(json.dumps({"correct": res.failed == 0,
                      "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
