#!/usr/bin/env python3
"""Per-session two-level efficiencies for the r06 sized sessions.

eff = (T_low / T_high) / (P_high / P_low), same-session pairs only.
Prints one row per workload: its median efficiency over the sessions
that contain both levels, each session's efficiency and times, and the
lowest T8 with its session. Without arguments it reads every
BENCH/scaling_sessions800_r06_s*.jsonl.
"""
import glob
import json
import statistics
import sys

WORKLOADS = {
    "pagerank20": "t_pagerank20",
    "fora64": "t_fora64",
    "fora64+index": "t_fora64_idx",
    "walk-heavy": "t_fora64_wh",
    "walk-heavy+index": "t_fora64_wh_idx",
    "ingest(1rep)": "t_ingest",
}


def main(files):
    per_wl = {}
    for f in files:
        lines = [json.loads(x) for x in open(f)]
        lo = [d for d in lines if d["cpus"] == 2]
        hi = [d for d in lines if d["cpus"] == 8]
        if not lo or not hi:
            print(f"{f}: missing a level, skipped")
            continue
        lo, hi = lo[-1], hi[-1]
        for ck in [k for k in hi if k.startswith("checksum")]:
            assert hi[ck] == lo[ck], f"{f} {ck} differs across levels"
        ratio = hi["cpus"] / lo["cpus"]
        for wl, key in WORKLOADS.items():
            if key in lo and key in hi:
                eff = (lo[key] / hi[key]) / ratio
                per_wl.setdefault(wl, []).append((f, eff, lo[key], hi[key]))
    for wl, rows in per_wl.items():
        effs = [e for _, e, _, _ in rows]
        med = statistics.median(effs)
        fastest = min(rows, key=lambda r: r[3])  # session with the lowest T8
        print(f"{wl:18s} median={med:.2f}  "
              + "  ".join(f"{session(f)}:{e:.2f}"
                          f"(T2={t2:.1f},T8={t8:.1f})"
                          for f, e, t2, t8 in rows)
              + f"  fastest-T8={fastest[3]:.1f}({session(fastest[0])})")


def session(path):
    return path.split("_")[-1].split(".")[0]


if __name__ == "__main__":
    main(sys.argv[1:] or sorted(
        glob.glob("BENCH/scaling_sessions800_r06_s*.jsonl")))
