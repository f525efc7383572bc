"""Layered benchmark of the engine: one workload per run.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15 --trace 1

Run it from the repository root. It generates the workload's inputs
from --seed, sets the engine up several times (session start, plus
the base index build where the workload has one) and reports the
median, warms up, then measures operations for --seconds and checks
every result against the engine's DuckDB oracles.

--trace 0 measures the end-to-end metrics with tracing off. --trace 1
instead runs four windows of one operation cycle each (untraced,
traced, traced, untraced; spans around every call into a layer while
traced), then reads the Spark status store once and prints the
per-layer metrics plus the tracing overhead (traced vs untraced
median operation latency). Each run also writes an artifact under
perfbench/out/ (environment, sizes, samples, metrics and, when
traced, every span). The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "mapreduce_distributed_systems_spark"
# the inputs are a few MB; a heap this size fills up in every run, which
# keeps peak RSS steady across runs (the engine's 16g default is more
# than a 15 GB box has)
DRIVER_MEM = "1g"
DEADLINE_S = 150  # with the bounded teardown below, a run ends inside 180 s
OUT = os.path.join(HERE, "out")
# display-only: no progress bars on stderr
QUIET_CONF = {"spark.ui.showConsoleProgress": "false"}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies from /proc/stat: steal is time the host
    gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7]


def pin_environment(work: str) -> dict:
    """The engine reads its core count and driver heap from the
    environment; its defaults (32 cores, 16g) oversubscribe a small
    box. Python workers need the package on PYTHONPATH, and every
    scratch file (Python tempfiles, JVM tmpdir, shuffle and spill
    files) goes under the run's work directory."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        # compiler threads that live as long as the JVM, so the CPU time
        # they spend can be told apart from the engine's (cpu_seconds)
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads",
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return env


def _source_digest() -> str:
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _git_sha() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of the driver JVM and its Python
    workers: every process this run started."""
    total = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _ticks(path: str, last: int) -> int:
    with open(path) as f:
        return sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:last])


def cpu_split() -> tuple[float, float]:
    """(all, JIT) CPU seconds so far: user + system time, reaped
    children included, of this process, the driver JVM and its Python
    workers; and the part of it the JVM's JIT compiler threads spent."""
    total = jit = 0
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            total += _ticks(f"/proc/{pid}/stat", 15)
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if f.read().startswith(_JIT_THREADS):
                        jit += _ticks(f"/proc/{pid}/task/{tid}/stat", 13)
        except (OSError, IndexError, ValueError):
            continue
    hz = os.sysconf("SC_CLK_TCK")
    return total / hz, jit / hz


def cpu_seconds() -> float:
    """The clock the CPU metrics read: all CPU time less the JIT's.
    Unlike wall time it leaves out the time other tenants of a shared
    host hold the CPUs. The JIT compiles what crossed its thresholds,
    on its own threads and schedule, so its share of one operation
    varies from run to run; it is the JVM warming up, not work the
    engine was asked for (the run's total is in the artifact)."""
    total, jit = cpu_split()
    return total - jit


class Ctx:
    """What a workload needs from the run: its seed, its scratch
    directory, the tracer and the CPU clock."""

    def __init__(self, seed: int, work: str, tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.cpu = cpu_seconds


def _measure(bench, window: str, tally: dict, seconds: float) -> int:
    """Run whole operation cycles until `seconds` have passed (at least
    one cycle), so every window holds the workload's full mix."""
    t_end = time.perf_counter() + seconds
    n = 0
    while n % bench.cycle or n == 0 or time.perf_counter() < t_end:
        n += 1
        tally["attempted"] += 1
        bench.ctx.tracer.op_id = tally["attempted"]
        try:
            ok = bench.op(window)
        except Exception:  # an engine failure is a failed operation
            traceback.print_exc()
            ok = False
        tally["failed"] += not ok
    return n


def _stop(spark) -> None:
    """Stop Spark, shut the JVM gateway down and wait until the JVM
    and every Python worker it started have exited."""
    from pyspark import SparkContext

    kids = _descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=15)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 10
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break  # exited; reaped by its parent
            except OSError:
                break
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}") and time.time() >= deadline:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def run_one(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: the engine package {PACKAGE}/ is not next to perfbench/", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        env = pin_environment(work)
        sys.path.insert(0, ROOT)
        sys.path.insert(0, HERE)
        from spans import Tracer, harvest, layer_metrics
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)} or all",
                  file=sys.stderr)
            return 2
        load_start = os.getloadavg()
        ticks_start = _cpu_ticks()
        tracer = Tracer(None, bool(args.trace))
        bench = WORKLOADS[args.workload](Ctx(args.seed, work, tracer))
        phases = {}
        t0 = time.perf_counter()
        sizes = bench.generate()
        phases["generate_s"] = time.perf_counter() - t0

        from mapreduce_distributed_systems_spark.session import get_spark

        setups, setup_cpu = [], []
        for i in range(bench.setups):
            if spark is not None:
                tracer.rebind(None)
                spark.stop()
            t0, c0 = time.perf_counter(), cpu_seconds()
            with tracer.span("session.get_spark", cold=(i == 0)):
                spark = get_spark(f"perfbench-{args.workload}", extra_conf=QUIET_CONF)
            tracer.rebind(spark.sparkContext)
            bench.setup(spark, tracer, i)
            setups.append(time.perf_counter() - t0)
            setup_cpu.append(cpu_seconds() - c0)

        phases["setup_s"] = sum(setups)
        tally = {"attempted": 0, "failed": 0}
        tracer.scope = "warm"
        t0 = time.perf_counter()
        a, f = bench.warm_up()
        phases["warm_up_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        tally["attempted"] += a
        tally["failed"] += f
        n_ops = 0
        if args.trace:
            # untraced and traced windows of one operation cycle each,
            # in ABBA order so the warm-up drift cancels out of the
            # overhead; per-layer numbers come from the traced ones
            for window in ("plain", "trace", "trace", "plain"):
                traced = window == "trace"
                tracer.enabled, tracer.scope = traced, "op" if traced else "plain"
                n = _measure(bench, window, tally, 0)
                n_ops += n if traced else 0
            tracer.enabled, tracer.scope = False, "gate"
        else:
            _measure(bench, "e2e", tally, args.seconds)
        phases["measure_s"] = time.perf_counter() - t0
        rss = peak_rss_mb()
        t0 = time.perf_counter()
        a, f = bench.gate()
        tally["attempted"] += a
        tally["failed"] += f
        phases["gate_s"] = time.perf_counter() - t0

        artifact = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "env": {
                **env,
                "git_sha": _git_sha(),
                "source_sha256_16": _source_digest(),
                "spark_version": spark.version,
                "confs": {k: spark.conf.get(k, None) for k in (
                    "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
                    "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold",
                    "spark.sql.execution.arrow.pyspark.enabled")},
                "loadavg_start": load_start,
                "loadavg_end": os.getloadavg(),
                "cpu_steal_pct": _steal_pct(ticks_start, _cpu_ticks()),
            },
            "sizes": sizes,
            "phases": phases,
            "setup_samples_s": setups,
            "setup_cpu_samples_s": setup_cpu,
            "jit_cpu_s": cpu_split()[1],
            "tally": tally,
            "samples": bench.samples(),
        }
        if args.trace:
            plain, traced = bench.op_latency("plain"), bench.op_latency("trace")
            store = harvest(spark)
            layers = layer_metrics(tracer.spans, store, int(env["SPARK_GRAFT_CPUS"]), n_ops, bench.setups)
            layers.update(bench.layer_extras())
            layers["trace.overhead_pct"] = (
                100.0 * (statistics.median(traced) / statistics.median(plain) - 1.0)
                if plain and traced else 0.0
            )
            metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in sorted(layers.items())}
            artifact.update(spans=tracer.spans, op_latency={"plain": plain, "trace": traced},
                            jobs_seen=len(store["jobs"]))
        else:
            e2e, named = bench.metrics()
            e2e["setup_s"] = (statistics.median(setup_cpu), "s")
            e2e["peak_rss_mb"] = (rss, "MB")
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in sorted(e2e.items())}
            named.update(setup_s=e2e["setup_s"], setup_wall_s=(statistics.median(setups), "s"),
                         peak_rss_mb=e2e["peak_rss_mb"])
            named["error_rate"] = (tally["failed"] / max(1, tally["attempted"]), "ratio")
            for k, (v, u) in sorted(named.items()):
                print(f"{args.workload:13s} {k:18s} {v:12.4f} {u}")
        artifact["metrics"] = metrics
        os.makedirs(OUT, exist_ok=True)
        kind = "trace" if args.trace else "e2e"
        with open(os.path.join(OUT, f"{args.workload}-seed{args.seed}-{kind}.json"), "w") as fh:
            json.dump(artifact, fh, indent=1, default=str)
    finally:
        if spark is not None or "pyspark" in sys.modules:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass
    print(json.dumps({
        "correct": tally["failed"] == 0,
        "attempted": tally["attempted"],
        "failed": tally["failed"],
        "metrics": metrics,
    }))
    return 0


def _steal_pct(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    total = t1[0] - t0[0]
    return 100.0 * (t1[1] - t0[1]) / total if total else 0.0


def _layer_unit(name: str) -> str:
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_pct", "%"), ("task_util", "ratio"),
                         ("bytes_per_doc", "B")):
        if name.endswith(suffix):
            return unit
    return "count"


def run_all(args) -> int:
    """Every workload in its own process; a combined last line."""
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed",
               str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = res.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if res.returncode != 0 or not lines:
            print(f"error: workload {name} exited with {res.returncode}", file=sys.stderr)
            return 1
        last = json.loads(lines[-1])
        out["correct"] &= last["correct"]
        out["attempted"] += last["attempted"]
        out["failed"] += last["failed"]
        out["metrics"].update({f"{name}.{k}": v for k, v in last["metrics"].items()})
    print(json.dumps(out))
    return 0


class Deadline(BaseException):
    """Raised by the alarm; not an Exception, so no per-operation
    handler can swallow it."""


def main(argv=None) -> int:
    args = _parse(argv)

    def _deadline(signum, frame):
        raise Deadline(f"run exceeded {DEADLINE_S} s")

    if args.workload == "all":
        return run_all(args)
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
