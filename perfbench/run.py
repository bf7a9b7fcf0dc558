"""graft benchmark: one command, run from the repository root.

    python3 perfbench/run.py --workload web --seed 1 --seconds 20 --trace 0

Builds graft and the JVM harness from source (see build.py), generates the
seeded inputs, runs the build, query and ingest phases (and, traced, the
curate suite), checks every output, and prints as its last line one JSON
object with the keys
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` they are the per-layer
ones from a traced run. The line before it carries the run's provenance;
a traced run also prints its layer table. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("web", "short")
WORK_DIR = ".bench_work"
JVM_TIMEOUT_S = 170

# what spark-submit passes on JDK 17 (JavaModuleOptions.defaultModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    """nproc: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def heap_mb():
    """A quarter of MemTotal, between 2 and 4 GiB: the machine is shared, and
    the inputs are sized to fit well inside this."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(2048, min(4096, kb // 4096))


def cpu_jiffies():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_window(j0, j1):
    """sys, steal and idle shares of all CPU time between two /proc/stat reads."""
    d = [b - a for a, b in zip(j0, j1)]
    total = sum(d) or 1
    return {"sys_pct": round(100.0 * d[2] / total, 1),
            "steal_pct": round(100.0 * d[7] / total, 1) if len(d) > 7 else 0.0,
            "idle_pct": round(100.0 * d[3] / total, 1)}


def git_state(root):
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        if sha.returncode != 0:
            return None, None
        dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"],
                               cwd=root, capture_output=True, text=True, timeout=10)
        return sha.stdout.strip(), bool(dirty.stdout.strip())
    except (OSError, subprocess.SubprocessError):
        return None, None


def run_jvm(cmd, log_path):
    """Run the harness in its own process group and wait for it; on timeout
    the whole group is killed and reaped."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = Path.cwd().resolve()
    try:
        classes = build.build(root)
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")

    # one benchmark-owned scratch directory for corpora, indexes, shuffle
    # files and JVM temp files, swept before and after every run
    work = root / WORK_DIR
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    raw_path = work / "raw.json"
    n, heap = cores(), heap_mb()
    # the JIT compiles after a twentieth of its default invocation and loop
    # counts, so the build and search paths reach steady state within the
    # warm-up
    cmd = (["java", f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:ReservedCodeCacheSize=512m",
            "-XX:CompileThresholdScaling=0.05",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(root, classes), "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", str(work), "--out", str(raw_path),
              "--cores", str(n)])
    j0, t0 = cpu_jiffies(), time.time()
    rc = run_jvm(cmd, root / build.BUILD_DIR / "last-run.log")
    j1 = cpu_jiffies()
    if rc != 0 or not raw_path.exists():
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"perfbench: harness {'timed out' if rc is None else f'exited {rc}'}; "
                 f"see {build.BUILD_DIR}/last-run.log")
    raw = json.loads(raw_path.read_text())
    # the raw samples, spans and stage records stay next to the run log
    shutil.copy(raw_path, root / build.BUILD_DIR / "last-run.json")
    shutil.rmtree(work, ignore_errors=True)

    sha, dirty = git_state(root)
    provenance = {
        "git_sha": sha, "dirty": dirty, "source_hash": classes.name.split("-", 1)[1],
        "workload": a.workload, "config": raw["config"], "seed": a.seed,
        "seconds": a.seconds, "trace": a.trace,
        "nproc": n, "heap_mb": heap, "host": host_window(j0, j1),
        "wall_s": round(time.time() - t0, 2),
        "samples": {k: len(v) for k, v in raw["samples"].items()},
        "failures": raw["failures"],
    }
    print(json.dumps({"provenance": provenance}))
    if a.trace:
        print(json.dumps({"layer_table": report.layer_table(raw)}))
    result = report.result_line(raw)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
