"""Benchmark launcher: run one named workload from a seed.

    python3 perfbench/run.py --workload crawl_heavy --seed 1 --seconds 20 --trace 0

Pins the environment (parallelism = nproc, driver heap below physical RAM,
every scratch file inside a temporary directory of the checkout that is
removed at exit), generates the seeded inputs, starts the session, runs the
output checks on a seeded sample (which also warms the code paths), then
runs closed-loop jobs for ``--seconds`` and checks each job's outputs.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` a traced job gives the per-layer ones and
its spans are written to ``.perfbench_out/``.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "entity_extractor_linker_api_v2_spark"
DRIVER_MEMORY_MB = 3072  # capped below at a quarter of physical RAM
TRACE_BUDGET_S = 110  # skip the one-core timing past this much run time


def declared_units(section: str) -> dict[str, str]:
    """Metric name -> unit of one BENCHMARK.json section: the printed
    metrics are exactly the declared ones."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def _proc_stat_cpu() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def environment(spark) -> dict:
    """Facts for reading noise; never used to discard a run."""
    cpu = _proc_stat_cpu()
    return {"nproc": len(os.sched_getaffinity(0)),
            "steal_ticks": cpu[7] if len(cpu) > 7 else None,
            "loadavg": os.getloadavg(),
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version()}


def descendants() -> list[int]:
    """Pids of every live descendant of this process."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, stack = [], list(kids.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack += kids.get(pid, [])
    return out


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until it and every Python
    worker it forked have exited."""
    from pyspark import SparkContext
    pids = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        if gateway.proc is not None:
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline, killed = time.monotonic() + 15, False
    while pids:
        time.sleep(0.05)
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if pids and time.monotonic() > deadline:
            if killed:
                break
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline, killed = time.monotonic() + 5, True


def pss_kb(pid: int) -> int:
    """Proportional set size of one process, 0 once it has gone."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def live_heap_bytes(pid: int) -> int:
    """Bytes of live objects on a JVM's heap: the total of the class
    histogram that ``jcmd <pid> GC.class_histogram`` takes after a full
    collection.  Heap in use after System.gc() is no such measure: on one
    job it read 340 MB in one checkout and 480 MB in another."""
    java_bin = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "jcmd")
    jcmd = java_bin if os.path.isfile(java_bin) else "jcmd"
    out = subprocess.run([jcmd, str(pid), "GC.class_histogram"],
                         capture_output=True, text=True, check=True,
                         timeout=60).stdout
    return int(out.strip().splitlines()[-1].split()[2])  # "Total <n> <bytes>"


def physical_mb() -> int:
    with open("/proc/meminfo") as f:
        return int(f.readline().split()[1]) // 1024  # MemTotal, kB


def pin_environment(work: str) -> int:
    cpus = len(os.sched_getaffinity(0))
    heap_mb = min(DRIVER_MEMORY_MB, physical_mb() // 4)
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": f"{work}/local",
        "TMPDIR": f"{work}/tmp",
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    return cpus


def start_session(work: str, cpus: int, trace: bool):
    from entity_extractor_linker_api_v2_spark.session import get_spark
    conf = {"spark.local.dir": f"{work}/local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false"}
    if trace:
        with socket.socket() as s:
            s.bind(("127.0.0.1", 0))
            port = s.getsockname()[1]
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": str(port)})
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Run:
    def __init__(self, workload, seed: int, seconds: int, trace: bool,
                 work: str, cpus: int):
        self.w, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work, self.cpus = work, cpus
        self.data = f"{work}/data"
        self.checks: list[tuple[str, bool]] = []
        self.retained: list[float] = []
        self.info: dict = {"workload": workload.name, "seed": seed,
                           "trace": int(trace)}
        self.spark = None

    def check(self, name: str, ok: bool) -> None:
        self.checks.append((name, bool(ok)))

    def setup(self) -> float:
        """Input generation, session start and the sample output check
        (the warm-up): everything before the first timed operation."""
        t0 = time.perf_counter()
        self.info["inputs"] = self.w.generate(self.data, self.seed)
        self.info["input_gen_s"] = time.perf_counter() - t0
        t = time.perf_counter()
        self.spark = start_session(self.work, self.cpus, self.trace)
        self.info["session_start_s"] = time.perf_counter() - t
        self.info["env_start"] = environment(self.spark)
        self.ctx = self.w.prepare(self.spark, self.data)
        if "join_regime" in self.ctx:
            self.info["join_regime"] = self.ctx["join_regime"]
        t = time.perf_counter()
        for name, ok in self.w.check(self.spark, self.data, self.ctx):
            self.check(name, ok)
        self.info["check_s"] = time.perf_counter() - t
        return time.perf_counter() - t0

    def one_job(self, i: int, reference: dict | None) -> tuple[float | None, dict | None]:
        """One timed job, then its untimed output check.  A job that raises
        counts as failed, as does a check that fails."""
        out = f"{self.work}/out/{i}"
        t = time.perf_counter()
        try:
            collected = self.w.job(self.spark, self.data, out, self.ctx)
        except Exception as e:  # a failed job is a measured outcome
            self.check(f"job{i}.ran", False)
            self.info.setdefault("errors", []).append(repr(e)[:300])
            return None, reference
        dt = time.perf_counter() - t
        self.check(f"job{i}.ran", True)
        self.retained.append(self.retained_mb())
        # measured above with the job's caches still held; dropped now so
        # that no job inherits another's (link_mentions caches its keys)
        self.spark.catalog.clearCache()
        v = self.w.verify(self.spark, out, collected, self.ctx)
        facts = {"counts": v["counts"], "stats": v["stats"]}
        self.check(f"job{i}.outputs", v["ok"] and (reference is None
                                                   or facts == reference))
        self.info.setdefault("output_counts", v["counts"])
        shutil.rmtree(out, ignore_errors=True)
        return dt, reference or facts

    def retained_mb(self) -> float:
        """Memory the session holds once a job has returned: live objects
        on the JVM heap, JVM non-heap in use, and the PSS of the Python
        workers.  Unlike the resident peak it does not depend on how far the
        collector let the heap grow, so persisted data is what moves it."""
        from pyspark import SparkContext
        jvm = self.spark._jvm
        jvm.System.gc()
        time.sleep(0.3)  # let the context cleaner drop unreachable broadcasts
        nonheap = (jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
                   .getNonHeapMemoryUsage().getUsed())
        gateway = SparkContext._gateway.proc.pid
        workers_kb = sum(pss_kb(p) for p in descendants() if p != gateway)
        return ((live_heap_bytes(gateway) + nonheap) / 2 ** 20
                + workers_kb / 1024)

    def measure(self) -> dict:
        jobs, ref, i = [], None, 0
        start = time.perf_counter()
        while True:
            dt, ref = self.one_job(i, ref)
            i += 1
            if dt is not None:
                jobs.append(dt)
            if time.perf_counter() - start >= self.seconds:
                break
        self.info["job_s"] = jobs
        self.info["retained_mb"] = self.retained
        pages = self.info["inputs"]["pages"]
        return {"pages_per_s": pages / statistics.median(jobs) if jobs else 0.0,
                "peak_retained_mb": max(self.retained, default=0.0)}

    def traced(self) -> dict:
        """One untimed-by-the-window e2e job, then the traced job, the
        workload's extra traced layers and (crawl_heavy) a one-core job."""
        from tracing import Tracer
        from workloads import dir_bytes, layer_metrics
        e2e, _ = self.one_job(0, None)
        tr = Tracer(self.spark, f"{self.w.name}-seed{self.seed}")
        out = f"{self.work}/out/traced"
        f = self.w.traced_job(self.spark, tr, self.data, out, self.ctx)
        extra, checks = self.w.traced_extra(self.spark, tr, self.data,
                                            self.work, f, self.ctx)
        for name, ok in checks:
            self.check(name, ok)
        sm = tr.stage_metrics()
        m = layer_metrics(tr, sm, f, extra, self.cpus)
        m["sink.bytes_written"] = dir_bytes(out)
        # Spark's stage inputBytes counts only the parquet footers of local
        # reads; the bytes the JVM read during the span, less its shuffle
        # reads, are the parquet pages the scan read
        m["tables.input_bytes"] = max(tr.read_bytes("tables") - sm.get(
            "tables", {}).get("shuffleReadBytes", 0), 0)
        self.info["corpus_file_bytes"] = dir_bytes(f"{self.data}/corpus")
        m["session.start_s"] = self.info["session_start_s"]
        m["trace.job_s"] = tr.duration("job")
        m["trace.overhead_s"] = tr.duration("job") - (e2e or 0.0)
        self.info["e2e_job_s"] = e2e
        self.info["self_s"] = {s: tr.self_time(s) for s in
                               {sp["name"] for sp in tr.spans}}
        if self.w.one_core_baseline:
            self.info["one_core"] = self.one_core(e2e)
        os.makedirs(f"{ROOT}/.perfbench_out", exist_ok=True)
        path = f"{ROOT}/.perfbench_out/trace-{self.w.name}-seed{self.seed}.json"
        tr.write(path, {"metrics": m, "stage_metrics": sm, "info": self.info})
        self.info["spans_file"] = os.path.relpath(path, ROOT)
        return m

    def one_core(self, e2e: float | None) -> dict:
        """The same job on a one-core session (single-thread baseline and
        the 1 -> nproc scaling efficiency).  Information only."""
        if e2e is None or time.perf_counter() - self.t_start > TRACE_BUDGET_S:
            return {"skipped": "run time budget"}
        self.spark.stop()
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        self.spark = start_session(self.work, 1, False)
        t = time.perf_counter()
        self.w.job(self.spark, self.data, f"{self.work}/out/one_core",
                   self.w.prepare(self.spark, self.data))
        one = time.perf_counter() - t
        return {"job_s": one, "cores": self.cpus,
                "efficiency": (one / e2e) / self.cpus}

    def execute(self) -> dict:
        self.t_start = time.perf_counter()
        steal0 = _proc_stat_cpu()
        setup_s = self.setup()
        if self.trace:
            metrics = self.traced()
            units = declared_units("per_layer")
        else:
            metrics = {"setup_s": setup_s, **self.measure()}
            units = declared_units("end_to_end")
        steal1 = _proc_stat_cpu()
        # untimed: input properties read back through the package's own scan
        self.info["inputs"].update(self.w.input_facts(
            self.spark, self.data, self.info["inputs"]))
        self.info["steal_ticks_during_run"] = (steal1[7] - steal0[7]
                                               if len(steal1) > 7 else None)
        failed = sum(1 for _, ok in self.checks if not ok)
        self.info["failed_checks"] = [n for n, ok in self.checks if not ok]
        self.info["failed_ratio"] = failed / max(len(self.checks), 1)
        self.info["setup_s"] = setup_s
        return {"correct": failed == 0, "attempted": max(len(self.checks), 1),
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u}
                            for k, u in units.items()}}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found next to {HERE}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    sys.dont_write_bytecode = True
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(f"{ROOT}/.perfbench_work", exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=f"{ROOT}/.perfbench_work")
    run = None
    try:
        run = Run(WORKLOADS[args.workload], args.seed, args.seconds,
                  bool(args.trace), work, pin_environment(work))
        result = run.execute()
    finally:
        if run is not None and run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(f"{ROOT}/.perfbench_work")
        except OSError:
            pass
    for k, v in result["metrics"].items():
        print(f"perfbench metric {k} = {v['value']:.6g} {v['unit']}")
    print("perfbench info " + json.dumps(run.info, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
