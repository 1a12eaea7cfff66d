"""KB-population benchmark: one workload, one seed, one result line.

    python3 kbbench/run.py --workload kb_bulk --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark (first run in a checkout), generates
the workload's inputs from the seed, runs it in one JVM with at most
``nproc`` (capped at 4) Spark task threads, checks the outputs and prints,
as the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The line before it
is the run record: commit, seed, host size, JVM and Spark settings, and the
host load sampled across the run.

Workloads and metrics are declared in BENCHMARK.json at the checkout root.
All files the run writes stay under the build directory of the checkout.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import emit  # noqa: E402

ROOT = build.ROOT
BENCH = build.BENCH
MAX_THREADS = 4
PARTITIONS = 4
JVM_BUDGET_S = 170.0

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for ln in f:
            if ln.startswith("MemTotal:"):
                return int(ln.split()[1]) / 1024
    return 0.0


def heap_mb() -> int:
    return int(max(1024, min(4096, mem_total_mb() / 4)))


class HostSampler(threading.Thread):
    """Samples the 1-minute load average and the number of busy cores
    (non-idle share of /proc/stat jiffies times the core count)."""

    def __init__(self, period=1.0):
        super().__init__(daemon=True)
        self.period = period
        self.load, self.busy = [], []
        self.stop_evt = threading.Event()

    @staticmethod
    def _cpu():
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        idle = v[3] + (v[4] if len(v) > 4 else 0)
        return sum(v), idle

    def run(self):
        ncpu = os.cpu_count() or 1
        last = self._cpu()
        while not self.stop_evt.wait(self.period):
            with open("/proc/loadavg") as f:
                self.load.append(float(f.read().split()[0]))
            cur = self._cpu()
            dt, di = cur[0] - last[0], cur[1] - last[1]
            if dt > 0:
                self.busy.append(round(ncpu * (dt - di) / dt, 3))
            last = cur

    def summary(self):
        def stats(xs):
            if not xs:
                return None
            s = sorted(xs)
            return {"min": s[0], "median": s[len(s) // 2], "max": s[-1], "n": len(s)}
        return {"loadavg_1m": stats(self.load), "busy_cores": stats(self.busy)}


def git_commit():
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=str(ROOT.parent))
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
                           capture_output=True, text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    t_start = time.time()
    # a terminated run still stops its JVM (the finally block below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec = emit.load_spec(ROOT / "BENCHMARK.json")
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        print(f"unknown workload {a.workload}", file=sys.stderr)
        return 2
    try:
        b = build.ensure()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 1
    t_built = time.time()

    threads = min(MAX_THREADS, nproc())
    heap = heap_mb()
    work = build.build_dir() / "work" / f"{a.workload}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    out = work / "raw.json"
    cmd = (["java", f"-Xmx{heap}m", "-XX:+UseParallelGC", "-Xss4m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{b['classes']}{os.pathsep}{b['jars'] / '*'}", "kbbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", str(work), "--out", str(out),
              "--threads", str(threads), "--partitions", str(PARTITIONS),
              "--data", str(BENCH / "data" / "sf0.01"),
              "--expected", str(BENCH / "expected_queries.tsv")])

    # the build may take long; the run itself gets the JVM budget
    budget = JVM_BUDGET_S - (0.0 if b["built"] else t_built - t_start)
    sampler = HostSampler()
    sampler.start()
    proc = None
    try:
        # JVM output (Spark logs, RECORD lines of the query pass) goes to stderr
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
        rc = proc.wait(timeout=budget)
        raw = json.loads(out.read_text()) if rc == 0 and out.is_file() else None
    except subprocess.TimeoutExpired:
        rc, raw = "timeout", None
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        sampler.stop_evt.set()
        sampler.join()
        shutil.rmtree(work, ignore_errors=True)
    if raw is None:
        print(f"benchmark JVM failed ({rc})", file=sys.stderr)
        return 1

    res, zero_filled = emit.result(spec, raw, bool(a.trace))
    record = {
        "commit": git_commit(), "source_digest": b["source_digest"],
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "nproc": nproc(), "mem_total_mb": round(mem_total_mb()),
        "jvm_xmx_mb": heap, "spark_threads": threads,
        "shuffle_partitions": PARTITIONS, "build_s": round(t_built - t_start, 2),
        "wall_s": round(time.time() - t_start, 2), **sampler.summary(),
        "zero_filled": zero_filled, "raw": raw,
    }
    print(emit.line({"run_record": record}))
    print(emit.line(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
