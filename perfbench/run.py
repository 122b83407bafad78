"""Benchmark of the enrichment engine: one command per seeded workload.

    python3 perfbench/run.py --workload enrich_full --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 1 --trace 0

Run from the repository root.  A run

1. sets up a warmed SparkSession three times (the first also launches
   the JVM) and reports the median as ``setup_s``;
2. builds the workload's inputs from ``--seed``, or reuses those an
   earlier run built for that seed, under ``perfbench/.work/inputs``
   (not timed; ``input_gen_s`` is printed);
3. runs one untimed warm-up job, then the workload's job, one at a
   time, until ``--seconds`` have passed and at least MIN_JOBS have
   run, checks every job's output outside the timed region, and
   reports medians;
4. prints one line per metric (name, value, unit, samples) and, last,
   one JSON object with ``correct``, ``attempted``, ``failed`` and
   ``metrics``.

The first job in a JVM is about 1.5 times as slow as the later ones
(query compilation and JIT warm-up) and its time depends on how much
ran before it, so it is the warm-up and only later jobs are timed; its
time is printed as ``first_job_s``.  BENCHMARK.json asks for one
second, which times exactly MIN_JOBS jobs per run.

With ``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json.
With ``--trace 1`` the run sets up once, times only the warm-up job,
then one traced job at local[nproc] and one at local[1], each the
first job in a fresh process, and reports the per-layer metrics of
``perfbench/layers.py``.

Session settings are pinned here, not taken from the environment:
local[nproc], DRIVER_MEM of driver heap (all of it resident from the
start), SHUFFLE_PARTITIONS shuffle partitions, the repository root on
the Python workers' PYTHONPATH, and every temporary file under
``perfbench/.work``.  Every process a run starts has ended when it
exits.  They and the load
average at start are printed on the ``settings`` line.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
NPROC = len(os.sched_getaffinity(0))
DRIVER_MEM = "2g"
SHUFFLE_PARTITIONS = 2 * NPROC
SETUPS = 3
MIN_JOBS = 2


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   help="a workload of perfbench/workloads.py, or all")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def process_tree(pid: int) -> dict[int, tuple[int, float]]:
    """Resident bytes and CPU seconds (its own and its reaped children's)
    of process ``pid`` and of each process under it."""
    kids: dict[int, list[int]] = {}
    stats: dict[int, tuple[int, float]] = {}
    tick = os.sysconf("SC_CLK_TCK")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(st[1]), []).append(int(d))
        stats[int(d)] = (int(st[21]) * os.sysconf("SC_PAGE_SIZE"),
                         sum(map(int, st[11:15])) / tick)
    out, todo = {}, [pid]
    while todo:
        p = todo.pop()
        out[p] = stats.get(p, (0, 0.0))
        todo.extend(kids.get(p, []))
    return out


def executable(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_cpu_s(pid: int) -> float:
    return sum(c for _, c in process_tree(pid).values())


def steal_s() -> float:
    """CPU steal: seconds the hypervisor gave the CPUs to other guests."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak resident memory of the driver JVM plus every process under it
    (the Python workers), sampled every 20 ms between ``start`` and
    ``stop``.  A process the JVM has forked but that has not yet exec'd
    the program it runs shares the JVM's pages and still runs the JVM's
    executable; it is not counted."""

    def __init__(self, pid: int):
        self.pid, self.peak, self._on = pid, 0, threading.Event()
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._on.wait(0.1):
                tree = process_tree(self.pid)
                jvm = executable(self.pid)
                self.peak = max(self.peak, tree.get(self.pid, (0,))[0] + sum(
                    r for p, (r, _) in tree.items()
                    if p != self.pid and executable(p) != jvm))
                time.sleep(0.02)

    def start(self) -> None:
        self.peak = 0
        self._on.set()

    def stop(self) -> int:
        self._on.clear()
        return self.peak

    def close(self) -> None:
        self._stop.set()
        self._t.join()


def session(run_dir: str, master: str, event_log: str | None = None):
    """A warmed SparkSession: built, then one Arrow UDF job on every slot
    so the JVM, codegen and the Python workers are up."""
    from pyspark.sql import functions as F

    from p3_osm_transformer_spark.functions.s2cell import s2_cellid
    from p3_osm_transformer_spark.session import get_spark
    confs = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.executorEnv.PYTHONPATH": ROOT,
        # the whole heap resident from the start, so peak RSS does not
        # depend on how far the heap has grown by the time a job runs
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file:" + event_log,
                      "spark.eventLog.compress": "false"})
    spark = get_spark(app_name="perfbench", master=master,
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_confs=confs)
    n = int(master[6:-1])
    spark.range(0, 4096 * n, 1, n).select(
        s2_cellid(F.col("id") / 100.0, F.col("id") / 200.0, 12).alias("s")
    ).agg(F.count("s")).collect()
    return spark


def running(pid: int) -> bool:
    """Whether process ``pid`` exists and has not ended (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def shutdown_jvm() -> None:
    """End the JVM this process launched (it exits when its stdin closes)
    and wait until it and every process under it (the Python workers)
    have ended."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    pids = list(process_tree(proc.pid))
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(map(running, pids[1:])):
        time.sleep(0.1)
    SparkContext._gateway = None
    SparkContext._jvm = None


def become_subreaper() -> None:
    """Make this process the parent of every orphaned process under it."""
    import ctypes
    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def live_descendants() -> list[int]:
    """Reap this process's ended children; return every process under it."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            break
        if not pid:
            break
    me = os.getpid()
    return [p for p in process_tree(me) if p != me and running(p)]


def stop_descendants(grace: float = 10.0) -> None:
    """Terminate every process still under this one, kill those left
    after ``grace`` seconds, and wait until all have ended."""
    for sig, wait in ((signal.SIGTERM, grace), (signal.SIGKILL, 10.0)):
        pids = live_descendants()
        if not pids:
            return
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait
        while live_descendants() and time.monotonic() < deadline:
            time.sleep(0.05)


def measure(wl, spark, tr, seconds: float, min_jobs: int,
            rss: RssSampler | None):
    """Run one warm-up job, then jobs until ``seconds`` of wall time have
    passed and at least ``min_jobs`` have run; returns one record per job,
    the warm-up's first: wall seconds, peak RSS bytes, CPU seconds of
    the JVM and its workers, CPU steal seconds, problems found, and the
    result."""
    jvm = spark.sparkContext._gateway.proc.pid

    def job() -> dict:
        wl.reset()
        if rss:
            rss.start()
        cpu0, steal0 = tree_cpu_s(jvm), steal_s()
        t0 = time.perf_counter()
        try:
            out = wl.run(spark, tr)
            dt = time.perf_counter() - t0
            cpu, steal = tree_cpu_s(jvm) - cpu0, steal_s() - steal0
            peak = rss.stop() if rss else 0
            errs = wl.check(spark, out)
        except Exception as e:  # a failed job counts; the run goes on
            dt, peak, out = time.perf_counter() - t0, 0, None
            cpu = steal = 0.0
            if rss:
                rss.stop()
            traceback.print_exc()
            errs = [f"{type(e).__name__}: {e}".splitlines()[0]]
        for e in errs:
            print(f"job {len(recs) + 1} failed: {e}", file=sys.stderr)
        return {"job_s": dt, "rss": peak, "errs": errs, "out": out,
                "cpu_s": cpu, "steal_s": steal}

    recs = []
    recs.append(job())
    t_end = time.perf_counter() + seconds
    while len(recs) <= min_jobs or time.perf_counter() < t_end:
        recs.append(job())
    return recs


def traced(args, run_dir: str, cache: str, untraced_s: float):
    """The legs of a traced run, each in a fresh process with a fresh JVM
    (a SparkContext started once, which the UDF profiler needs): one
    traced job at local[nproc] for the per-layer metrics, one at
    local[1] for the scaling efficiency.  Each is the first job in its
    JVM, as is the untraced warm-up job that took ``untraced_s``.
    Returns the per-layer metrics and both jobs' problems."""
    import subprocess
    shutdown_jvm()
    legs = {}
    for cores in (NPROC, 1):
        out = os.path.join(run_dir, f"leg-{cores}.json")
        # the leg's own lines go to stderr: the last line of stdout is ours
        subprocess.run([sys.executable, "-m", "perfbench.layers", args.workload,
                        str(args.seed), run_dir, cache, str(cores), out],
                       cwd=ROOT, stdout=sys.stderr, check=True)
        with open(out) as f:
            legs[cores] = json.load(f)
    leg, one = legs[NPROC], legs[1]
    m = leg["metrics"]
    m["spark.scaling_eff_1to4"] = (one["job_s"] / (NPROC * leg["job_s"]), "ratio")
    m["trace.overhead_s"] = (leg["job_s"] - untraced_s, "s")
    print(f"traced job_s {leg['job_s']:.3f} at local[{NPROC}], "
          f"{one['job_s']:.3f} at local[1]; untraced first job {untraced_s:.3f}")
    print("dominant layers by self s (of %.2f task s, plus driver): %s" % (
        leg["task_s"], ", ".join(f"{k} {v:.2f}" for k, v in leg["dominant"])))
    for k, (v, u) in m.items():
        print(f"{k} {v:.6g} {u}")
    for c, lg in legs.items():
        for e in lg["errs"]:
            print(f"traced job at local[{c}] failed: {e}", file=sys.stderr)
    return ({k: {"value": v, "unit": u} for k, (v, u) in m.items()},
            [leg["errs"], one["errs"]])


def run_all(args) -> int:
    """``--workload all``: every workload of BENCHMARK.json, one process
    each, then one JSON line over all of them."""
    import subprocess
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        print(f"== {name}", flush=True)
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)], stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode or not lines:
            return proc.returncode or 1
        res = json.loads(lines[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        total["metrics"].update(
            {f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(total))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "p3_osm_transformer_spark")):
        print(f"perfbench: package p3_osm_transformer_spark not found under "
              f"{ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    load0 = os.getloadavg()[0]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    # inputs are cached per seed across runs; the warm-up job, not input
    # generation, brings the JVM to the state the timed jobs start from
    cache = os.path.join(WORK, "inputs")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # every JVM spark-submit starts: temp files in the run's directory,
    # and no /tmp/hsperfdata_* file
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    import tempfile
    tempfile.tempdir = None
    # orphans under this process (Python workers whose JVM has gone)
    # become its children, so the run can stop and reap every one
    become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return bench(args, WORKLOADS[args.workload](), run_dir, cache, load0)
    finally:
        try:
            shutdown_jvm()
        finally:
            stop_descendants()
            shutil.rmtree(run_dir, ignore_errors=True)


def bench(args, wl, run_dir: str, cache: str, load0: float) -> int:
    from perfbench import layers
    master = f"local[{NPROC}]"
    setups = []
    t0, spark = T_START, None
    for _ in range(1 if args.trace else SETUPS):
        if spark is not None:
            spark.stop()
            t0 = time.perf_counter()
        spark = session(run_dir, master)
        setups.append(time.perf_counter() - t0)
    settings = {"master": master, "driver_memory": DRIVER_MEM,
                "shuffle_partitions": SHUFFLE_PARTITIONS,
                "worker_pythonpath": ROOT, "load_avg_1m_at_start": load0}
    print("settings " + json.dumps(settings))
    g0 = time.perf_counter()
    wl.prepare(spark, run_dir, cache, args.seed)
    print(f"input_gen_s {time.perf_counter() - g0:.3f} (seed {args.seed}, "
          f"not timed)")

    # a traced run times only the warm-up job, which its traced legs,
    # each the first job in its JVM, are compared with
    min_jobs, seconds = (0, 0.0) if args.trace else (MIN_JOBS, args.seconds)
    rss = RssSampler(spark.sparkContext._gateway.proc.pid)
    try:
        recs = measure(wl, spark, layers.NullTracer(), seconds, min_jobs, rss)
    finally:
        rss.close()
    spark.stop()
    attempted, failed = len(recs), sum(bool(r["errs"]) for r in recs)
    first, recs = recs[0], recs[1:]
    print(f"first_job_s {first['job_s']:.3f} (warm-up, not in job_s)")
    print("setup_samples_s " + " ".join(f"{s:.3f}" for s in setups))
    if args.trace:
        metrics, errs = traced(args, run_dir, cache, first["job_s"])
        attempted, failed = attempted + 2, failed + sum(map(bool, errs))
    else:
        metrics = end_to_end(wl, setups, recs)
    print(f"failed_frac {failed / attempted:.4f} ({failed}/{attempted} jobs)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def end_to_end(wl, setups: list[float], recs: list[dict]) -> dict:
    """The end-to-end metrics of BENCHMARK.json from the set-up times and
    the timed jobs' records, each printed with its sample count."""
    job_s = [r["job_s"] for r in recs]
    ok = [r for r in recs if not r["errs"]]
    med_job = statistics.median(job_s)
    e2e = {
        "setup_s": (statistics.median(setups), "s", len(setups)),
        "job_s": (med_job, "s", len(job_s)),
        "rows_per_s": (wl.rows / med_job, "1/s", len(job_s)),
        "job_cpu_s": (statistics.median(r["cpu_s"] for r in recs), "s",
                      len(recs)),
        "peak_rss_mb": (statistics.median(r["rss"] for r in ok) / 2**20
                        if ok else 0.0, "MB", len(ok)),
    }
    print("job_samples_s " + " ".join(f"{s:.3f}" for s in job_s))
    print("job_cpu_s " + " ".join(f"{r['cpu_s']:.2f}" for r in recs)
          + "; steal_s " + " ".join(f"{r['steal_s']:.2f}" for r in recs))
    for k, (v, unit, n) in e2e.items():
        print(f"{k} {v:.6g} {unit} (median of {n})")
    return {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}


if __name__ == "__main__":
    sys.exit(main())
