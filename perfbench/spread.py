#!/usr/bin/env python3
"""Run workloads over several seeds and report each metric's median and
quartile spread (the distance between the first and third quartile as a
share of the median), the way the benchmark's bounds are checked.

    python3 perfbench/spread.py --seeds 1-10 [--workload NAME ...] [--trace 1]
        [--out FILE]

Each run is one `perfbench/run.py` invocation of BENCHMARK.json's
run_seconds, one after another. It also checks that the figures which do not
depend on the seed (the graph_batch analytics and index results) are the same
in every run. With --out, every run's printed result is kept as a JSON list
for later reading.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402
import summary  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values):
    if len(values) < 2:
        return 0.0
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q[2] - q[0]) / med if med else 0.0


# per workload, the figures that depend on the fixed graph only, not on the
# seed
INVARIANTS = {"graph_batch": ("components", "triangles", "labels", "cc_rounds",
                              "checksum", "hubppr_checksum",
                              "backward_checksum")}


def record(workload, seed, trace):
    f = run.build_dir() / "runs" / ("%s-s%d-t%d.record.json" % (workload, seed, trace))
    return json.loads(f.read_text()) if f.exists() else None


def invariants(workload, seed_list, trace):
    """Print whether the seed-independent results agree across the runs."""
    seen = {}
    for s in seed_list:
        rec = record(workload, s, trace)
        for o in (rec or {}).get("ops", []):
            for k in INVARIANTS.get(workload, ()):
                if k in o:
                    seen.setdefault(k, set()).add(o[k])
    for k, vals in seen.items():
        print("invariant %-18s %s across %d runs: %s" % (
            k, "identical" if len(vals) == 1 else "DIFFERS",
            len(seed_list), sorted(vals)))


def overhead(workload, seed_list):
    """Tracing overhead: end-to-end metrics of the traced runs minus those
    of untraced runs of the same seeds, from the kept run records."""
    pairs = []
    for s in seed_list:
        recs = [record(workload, s, t) for t in (0, 1)]
        if all(recs):
            pairs.append([summary.end_to_end(r) for r in recs])
    if not pairs:
        print("tracing overhead: no untraced runs of these seeds")
        return
    for name, unit, _ in summary.END_TO_END:
        off = statistics.median([p[0][name] for p in pairs])
        on = statistics.median([p[1][name] for p in pairs])
        print("tracing overhead %-10s untraced %.4f traced %.4f (%+.1f%%) %s, %d seeds"
              % (name, off, on, 100 * (on - off) / off if off else 0.0,
                 unit, len(pairs)))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    ap.add_argument("--workload", action="append", choices=run.WORKLOADS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    secs = bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    kept = []
    for w in a.workload or run.WORKLOADS:
        results = []
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(secs),
                 "--trace", str(a.trace)],
                stdout=subprocess.PIPE, text=True)
            wall = time.time() - t0
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            if p.returncode != 0 or not last.startswith("{"):
                print("%s seed %d: exit %d, no result" % (w, s, p.returncode))
                continue
            r = json.loads(last)
            r.update(workload=w, seed=s, wall_s=wall)
            results.append(r)
            kept.append(r)
            print("%s seed %d: %.0f s, correct=%s attempted=%d failed=%d" % (
                w, s, wall, r["correct"], r["attempted"], r["failed"]), flush=True)
        if not results:
            continue
        defs = summary.PER_LAYER if a.trace else summary.END_TO_END
        print("%-24s %12s %8s %7s" % (w, "median", "spread", "bound"))
        for name, unit, _ in defs:
            vals = [r["metrics"][name]["value"] for r in results]
            b = bounds.get(name)
            print("%-24s %12.4f %8.3f %7s %s" % (
                name, statistics.median(vals), spread(vals),
                "" if b is None else b, unit))
        print("run wall: median %.1f s, max %.1f s" % (
            statistics.median([r["wall_s"] for r in results]),
            max(r["wall_s"] for r in results)))
        invariants(w, [r["seed"] for r in results], a.trace)
        if a.trace:
            overhead(w, [r["seed"] for r in results])
    if a.out:
        Path(a.out).write_text(json.dumps(kept, indent=1))


if __name__ == "__main__":
    main()
