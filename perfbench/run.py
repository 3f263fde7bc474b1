#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its metrics.

    python3 perfbench/run.py --workload ppr_query --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The first run compiles the engine
(src/main/scala) together with the harness (perfbench/src) with the Scala
compiler that ships in the Spark jars; later runs reuse the build while the
sources are unchanged. Every run starts a fresh JVM with local[nproc], builds
the workload's graph four times, draws the operations' sources from --seed,
runs the workload's operation in a closed loop with one client for
--seconds, checks every result, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones. Each run keeps its record, with the host context, under
the build directory (.bench_build/perfbench/runs/); a traced run also writes
its spans and per-span self-time table there. The generated pages are cached
under the build directory too.
Nothing outside the checkout is written, and nothing is read but the Java
runtime and the Spark jars ($SPARK_HOME/jars, else the directory build.sbt
compiles against). See README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import summary  # noqa: E402

WORKLOADS = ("ppr_query", "graph_batch")
RUN_TIMEOUT_S = 170    # the harness JVM is killed after this
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return (d if d.is_absolute() else ROOT / d) / "perfbench"


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the sbt build compiles
    against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      sbt.read_text() if sbt.exists() else "")
        jars = Path(m.group(1)) if m else None
    if jars is None or not any(jars.glob("spark-core_*.jar")):
        fail("no Spark jars found; set SPARK_HOME")
    return jars


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    harness = sorted((HERE / "src").rglob("*.scala"))
    if not engine:
        fail("engine sources not found under %s" % (ROOT / "src/main/scala"))
    if not harness:
        fail("harness sources not found under %s" % (HERE / "src"))
    return engine + harness


def build(java, jars):
    """Compile engine + harness once per source tree; returns the classes dir."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    key = h.hexdigest()[:16]
    out = build_dir() / ("classes-" + key)
    if (out / ".done").exists():
        return out, key
    for old in build_dir().glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    out.mkdir(parents=True)
    t0 = time.time()
    r = subprocess.run(
        [java, "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", str(jars / "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(out)]
        + [str(p) for p in srcs],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=800)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    (out / ".done").write_text("%.1f s\n" % (time.time() - t0))
    return out, key


def heap():
    """The Tier-1 heap rule: half the box's memory, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return "%dg" % min(8, max(2, g))


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def commit():
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=10)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, for the share of CPU time the
    hypervisor gave to other guests during a run."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7] if len(v) > 7 else 0, sum(v)
    except (OSError, ValueError):
        return 0, 0


def run_harness(java, jars, classes, a, work, out_file, cores, xmx):
    # no hsperfdata file: the JVM would write it under /tmp
    cmd = [java, "-XX:-UsePerfData", "-Xmx" + xmx,
           "-Djava.io.tmpdir=" + str(work / "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", "%s%s%s" % (classes, os.pathsep, jars / "*"),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores),
            "--cache", str(build_dir() / "pages"), "--work", str(work / "run"),
            "--out", str(out_file)]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(work / "harness.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=str(work))
        try:
            return p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def main():
    # a terminated run still stops its JVM (run_harness's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    java = shutil.which("java") or fail("no java on PATH")
    jars = spark_jars()
    classes, src_key = build(java, jars)

    slot = "%s-s%d-t%d" % (a.workload, a.seed, a.trace)
    runs = build_dir() / "runs"
    work = build_dir() / "work" / slot
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    runs.mkdir(parents=True, exist_ok=True)
    out_file = runs / (slot + ".record.json")
    out_file.unlink(missing_ok=True)
    cores, xmx = nproc(), heap()
    host = {"nproc": cores, "loadavg": list(os.getloadavg()), "heap": xmx,
            "commit": commit(), "sources": src_key}

    steal0, total0 = cpu_ticks()
    code = run_harness(java, jars, classes, a, work, out_file, cores, xmx)
    steal1, total1 = cpu_ticks()
    if code != 0 or not out_file.exists():
        log = (work / "harness.log").read_text(errors="replace")[-4000:]
        sys.stderr.write(log)
        fail("harness %s" % ("timed out" if code is None else "exited %s" % code))
    shutil.rmtree(work, ignore_errors=True)

    rec = json.loads(out_file.read_text())
    host["spark"] = rec.get("spark_version")
    host["loadavg_end"] = list(os.getloadavg())
    host["steal_pct"] = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)
    rec["host"] = host
    out_file.write_text(json.dumps(rec))

    defs = summary.PER_LAYER if a.trace else summary.END_TO_END
    values = (summary.per_layer if a.trace else summary.end_to_end)(rec)
    failed = len(rec["failures"])
    attempted = max(rec["attempted"], 1)
    for f in rec["failures"]:
        print("FAILED: " + f)
    print("host: " + json.dumps(host))
    n = len(summary.timed_ops(rec))
    p = summary.tail_percentile(n)
    print("ops: %d timed, failed share %.3f, tail percentile: %s" % (
        n, summary.failure_share(min(failed, attempted), attempted),
        "none, median only" if p is None else "p%g" % p))
    if a.trace:
        rows = summary.selftime_table(rec.get("spans", []))
        table = summary.format_table(rows)
        (runs / (slot + ".selftime.txt")).write_text("\n".join(table) + "\n")
        (runs / (slot + ".spans.json")).write_text(json.dumps(rec.get("spans", [])))
        print("\n".join(table))
    metrics = {n: {"value": values[n], "unit": u} for n, u, _ in defs}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": min(failed, attempted), "metrics": metrics}))


if __name__ == "__main__":
    main()
