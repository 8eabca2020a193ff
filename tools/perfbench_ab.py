#!/usr/bin/env python3
"""Same-period A/B of one perfbench workload between two checkouts.

    python3 tools/perfbench_ab.py --parent DIR --change DIR \
        --workload mapreduce_ingest --pairs 10 --seed 3401 \
        --out artifacts/ab_NAME.json [--trace 0|1] [--seconds 16]

Runs `perfbench/run.py` from the root of each checkout, alternating which
side runs first (pair i uses seed + i; even pairs run the parent first).
Each checkout builds its own engine from its own sources. For every
end-to-end metric in the parent's BENCHMARK.json (per-layer metrics with
--trace 1) the output holds each side's values, quartiles, the change's
pair wins, and two verdicts:

- claim: the change wins at least nine tenths of the pairs (ties count
  for neither) and the medians differ by more than the parent's
  interquartile range;
- bound (end-to-end metrics only): "regression" when the change's median
  is worse than the parent's by more than the metric's bound,
  "unresolved" when it is not but either side's interquartile range is
  wider than the bound (unless every change run beats every parent run),
  else "within_bound".

Every run also keeps each op's cold ms and warm median ms, read from the
`[perfbench] op ...` lines of its stderr, so a move in `cold_pass_s` can
be attributed to an op from the artifact alone. With --trace 1 every
`layer` line of the run's report is kept, and the run's span file gives
the Spark jobs inside each micro-batch span.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

LINE = re.compile(r"^\s+(layer\s+)?(\S+)\s+(-?[0-9.]+(?:e[-+]?\d+)?|nan|inf)\s+(\S+)$")
OP = re.compile(r"^\[perfbench\] op (\S+)\s+cold\s+(\S+) ms\s+warm median\s+(\S+) ms")


def quartiles(xs):
    if len(xs) < 2:
        return [xs[0]] * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return [q1, q2, q3]


def run_once(root, a, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace)]
    t = time.time()
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run failed in {root} (seed {seed}, exit {p.returncode})")
    out = p.stdout.splitlines()
    res = json.loads(next(l for l in reversed(out) if l.startswith("{")))
    values = {}
    for l in out:
        m = LINE.match(l)
        if m:
            values[m.group(2)] = float(m.group(3))
    run = {"seed": seed, "wall_s": round(time.time() - t, 1), "correct": res["correct"],
           "attempted": res["attempted"], "failed": res["failed"],
           "metrics": {k: v["value"] for k, v in res["metrics"].items()},
           "ops": {m.group(1): {"cold_ms": float(m.group(2)), "warm_median_ms": float(m.group(3))}
                   for m in map(OP.match, p.stderr.splitlines()) if m}}
    if a.trace:
        run["layers"] = values
        spans = os.path.join(root, ".bench_work", "traces", f"{a.workload}-seed{seed}.json")
        if os.path.exists(spans):
            run["jobs_per_micro_batch"] = jobs_per_batch(json.load(open(spans)))
    return run


def jobs_per_batch(spans):
    """Jobs whose span lies inside a 'batch N' span of the same op."""
    jobs = [s for s in spans if s["name"].startswith("job ")]
    return [sum(1 for j in jobs if j["op"] == b["op"] and b["start"] <= j["start"] and j["end"] <= b["end"])
            for b in spans if b["name"].startswith("batch ")]


def op_medians(runs):
    """Per op and side: the median over runs of its cold ms and warm median ms."""
    names = sorted({n for rs in runs.values() for r in rs for n in r["ops"]})
    return {n: {f"{side}_{k}": statistics.median([r["ops"][n][k] for r in rs if n in r["ops"]])
                for side, rs in runs.items() for k in ("cold_ms", "warm_median_ms")}
            for n in names}


def compare(parent, change, better, bound):
    sign = 1 if better == "higher" else -1
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    pq, cq = quartiles(parent), quartiles(change)
    iqr = pq[2] - pq[0]
    out = {"parent": parent, "change": change,
           "parent_q1_median_q3": [round(x, 4) for x in pq],
           "change_q1_median_q3": [round(x, 4) for x in cq],
           "median_ratio_change_over_parent": round(cq[1] / pq[1], 4) if pq[1] else None,
           "change_wins": f"{wins}/{len(pairs)}",
           "median_gap_exceeds_parent_iqr": sign * (cq[1] - pq[1]) > iqr,
           "claim_met": wins >= 0.9 * len(pairs) and sign * (cq[1] - pq[1]) > iqr}
    if bound is not None and pq[1]:
        worse = sign * (pq[1] - cq[1]) / pq[1]
        spread = max(iqr / pq[1], (cq[2] - cq[0]) / cq[1] if cq[1] else 0)
        dominates = min(sign * c for c in change) > max(sign * p for p in parent)
        out["bound"] = bound
        out["bound_check"] = ("regression" if worse > bound else
                              "unresolved" if spread > bound and not dominates else "within_bound")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    spec = json.load(open(os.path.join(sides["parent"], "BENCHMARK.json")))
    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run_once(sides[side], a, a.seed + i)
            r["order"] = order.index(side)
            runs[side].append(r)
            print(f"pair {i + 1}/{a.pairs} {side}: " + json.dumps(r["metrics"]), file=sys.stderr, flush=True)
    chosen = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in chosen:
        p = [r["metrics"][m["name"]] for r in runs["parent"]]
        c = [r["metrics"][m["name"]] for r in runs["change"]]
        metrics[m["name"]] = dict(better=m["better"], **compare(p, c, m["better"], m.get("bound")))
    doc = {"command": " ".join(sys.argv), "workload": a.workload, "pairs": a.pairs,
           "seconds": a.seconds, "trace": a.trace,
           "cpus": os.cpu_count(),
           "correct_all": all(r["correct"] for side in runs.values() for r in side),
           "failed_ops": {s: sum(r["failed"] for r in rs) for s, rs in runs.items()},
           "attempted_ops": {s: sum(r["attempted"] for r in rs) for s, rs in runs.items()},
           "metrics": metrics, "ops": op_medians(runs), "runs": runs}
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(doc, f, indent=1)
    for name, m in metrics.items():
        print(f"{name:36s} parent {m['parent_q1_median_q3']} change {m['change_q1_median_q3']} "
              f"wins {m['change_wins']} claim {m['claim_met']} {m.get('bound_check', '')}")


if __name__ == "__main__":
    main()
