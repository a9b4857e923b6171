#!/usr/bin/env python3
"""Record sets of benchmark runs and compare two of them.

Record: run every workload on every seed and append one JSON line per run
({"workload", "seed", "trace", "result"}) to a file:

    python3 perfbench/diff.py record --out base.jsonl --seeds 1-10 [--trace 1] [--workloads a,b]

Compare two sets, workload by workload and metric by metric:

    python3 perfbench/diff.py compare base.jsonl change.jsonl

For every metric it prints each side's median and quartiles and the
pairs-won fraction (runs paired by workload and seed; ties count for
neither side). End-to-end metrics get a verdict against the bounds in
BENCHMARK.json:

  better     the change wins at least 9/10 of the pairs and the medians
             differ by more than the base's own quartile spread;
  regressed  the change's median is worse than the base's by more than
             the bound;
  unresolved the base's quartile spread is wider than the bound, so a
             difference inside it cannot be told from noise (unless every
             change run beats every base run);
  within     otherwise.

Per-layer metrics (traced runs) have no bounds; they get the same
medians, quartiles and pairs-won, plus the relative change of the median.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def record(a):
    spec = load_spec()
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    with open(a.out, "a") as out:
        for w in workloads:
            for s in seeds_of(a.seeds):
                cmd = spec["command"] + ["--workload", w, "--seed", str(s),
                                         "--seconds", str(spec["run_seconds"]), "--trace", str(a.trace)]
                p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
                lines = p.stdout.strip().splitlines()
                try:
                    result = json.loads(lines[-1])
                except (IndexError, ValueError):
                    result = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
                out.write(json.dumps({"workload": w, "seed": s, "trace": a.trace,
                                      "result": result}) + "\n")
                out.flush()
                print(f"{w} seed {s}: exit {p.returncode}", file=sys.stderr)


def load_runs(path):
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                runs[(r["workload"], r["seed"], r.get("trace", 0))] = r["result"]
    return runs


def quartiles(vs):
    if len(vs) == 1:
        return vs[0], vs[0], vs[0]
    q = statistics.quantiles(vs, n=4)
    return q[0], statistics.median(vs), q[2]


def verdict(base, change, better, bound, won, n_pairs):
    b1, bm, b3 = quartiles(base)
    _, cm, _ = quartiles(change)
    sign = 1 if better == "higher" else -1
    gain = sign * (cm - bm)
    spread = b3 - b1
    if n_pairs and won >= 0.9 * n_pairs and gain > spread:
        return "better"
    if bm and bound is not None and -gain > bound * abs(bm):
        return "regressed"
    all_beat = all(sign * (c - b) > 0 for c in change for b in base)
    if bm and bound is not None and spread > bound * abs(bm) and not all_beat:
        return "unresolved"
    return "within"


def compare(a):
    spec = load_spec()
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    layer = {m["name"]: m for m in spec["per_layer"]}
    base, change = load_runs(a.base), load_runs(a.change)
    keys = sorted({(k[0], k[2]) for k in base} | {(k[0], k[2]) for k in change})
    status = 0
    for workload, trace in keys:
        seeds = sorted({k[1] for k in base if k[0] == workload and k[2] == trace} |
                       {k[1] for k in change if k[0] == workload and k[2] == trace})
        print(f"\n== {workload} ({'traced' if trace else 'untraced'}), seeds {seeds}")
        print(f"{'metric':34} {'base q1/med/q3':>32} {'change q1/med/q3':>32} {'won':>7}  verdict")
        names = e2e if not trace else layer
        for name, m in names.items():
            def vals(runs):
                return [runs[(workload, s, trace)]["metrics"][name]["value"] for s in seeds
                        if (workload, s, trace) in runs and name in runs[(workload, s, trace)]["metrics"]]
            bv, cv = vals(base), vals(change)
            if not bv or not cv:
                continue
            better = m.get("better", "lower")
            sign = 1 if better == "higher" else -1
            pairs = [(base[(workload, s, trace)]["metrics"][name]["value"],
                      change[(workload, s, trace)]["metrics"][name]["value"])
                     for s in seeds if (workload, s, trace) in base and (workload, s, trace) in change]
            won = sum(1 for b, c in pairs if sign * (c - b) > 0)
            bq, cq = quartiles(bv), quartiles(cv)
            if trace:
                rel = (cq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
                v = f"{rel:+.1%}"
            else:
                v = verdict(bv, cv, better, m.get("bound"), won, len(pairs))
                if v == "regressed":
                    status = 1
            fmt = "{:.4g}/{:.4g}/{:.4g}"
            print(f"{name:34} {fmt.format(*bq):>32} {fmt.format(*cq):>32} "
                  f"{won:>3}/{len(pairs):<3}  {v}")
    sys.exit(status)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("record")
    r.add_argument("--out", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--workloads")
    c = sub.add_parser("compare")
    c.add_argument("base")
    c.add_argument("change")
    a = ap.parse_args()
    record(a) if a.cmd == "record" else compare(a)


if __name__ == "__main__":
    main()
