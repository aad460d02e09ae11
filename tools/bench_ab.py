#!/usr/bin/env python3
"""Compare two checkouts on the repository benchmark, in alternating pairs.

    python3 tools/bench_ab.py --parent DIR --change DIR --out DIR \
        --workload nc4_io [--pairs 10] [--seed 1] [--seconds 15] [--trace 0]

Runs each checkout's own, unmodified `perfbench/run.py` from the root of
that checkout, N pairs in all. Pair i runs both sides on seed `--seed`
+ i; even pairs run the parent first, odd pairs the change first, so a
slow spell on the machine does not always land on the same side.

For every metric in the last line of the runs it prints, per side, the
median and the lower and upper quartile, then the change's wins out of
the pairs (ties count for neither side; "better" comes from the
parent's BENCHMARK.json, lower for a metric it does not list), and
whether the change meets the claim rule: it wins at least nine tenths
of the pairs and its median beats the parent's by more than the
parent's own interquartile distance.

For every end-to-end metric with a `bound` in the parent's
BENCHMARK.json it also states the no-regression rule as one verdict:

  worse       the change's median is worse than the parent's by more
              than the bound (a fraction of the parent's median);
  unresolved  the parent's own IQR/median exceeds the bound, and not
              every change run beats every parent run, so the runs
              spread too widely to tell;
  holds       otherwise.

Everything this script writes goes under --out: each run's last stdout
line as `<side>_<pair>.json`, its stderr as `<side>_<pair>.err`, and
the table as `summary.json`. The runs themselves keep their build cache
and scratch inside their own checkouts, as run.py does.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(values):
    """(lower quartile, median, upper quartile), inclusive method."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def run_once(checkout, args, seed, out_dir, tag):
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
    with open(os.path.join(out_dir, tag + ".err"), "w") as err:
        p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=err, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        print("%s: run.py exited %s" % (tag, p.returncode), file=sys.stderr)
        return None
    with open(os.path.join(out_dir, tag + ".json"), "w") as f:
        f.write(lines[-1] + "\n")
    return json.loads(lines[-1])


def rules_of(checkout):
    """(metric name -> "higher" | "lower", end-to-end metric name -> bound),
    from a BENCHMARK.json."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}
    bounds = {m["name"]: m["bound"] for m in bench.get("end_to_end", []) if "bound" in m}
    return better, bounds


def verdict(parent, change, pq, cq, sign, bound):
    """The no-regression verdict on one metric's runs (see the module doc)."""
    if pq[1] and sign * (cq[1] - pq[1]) / abs(pq[1]) < -bound:
        return "worse"
    spread = (pq[2] - pq[0]) / abs(pq[1]) if pq[1] else float("inf")
    if spread > bound and not all(sign * (c - p) > 0 for c in change for p in parent):
        return "unresolved"
    return "holds"


def summarize(results, better, bounds=None):
    names = sorted({n for side in results.values() for r in side if r for n in r["metrics"]})
    table = {}
    for name in names:
        pairs = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
                 for p, c in zip(results["parent"], results["change"])
                 if p and c and name in p["metrics"] and name in c["metrics"]]
        if not pairs:
            continue
        direction = better.get(name, "lower")
        sign = 1 if direction == "higher" else -1
        wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
        losses = sum(1 for p, c in pairs if sign * (c - p) < 0)
        parent = [p for p, _ in pairs]
        change = [c for _, c in pairs]
        pq = quartiles(parent)
        cq = quartiles(change)
        gain = sign * (cq[1] - pq[1])
        table[name] = {
            "better": direction, "pairs": len(pairs), "wins": wins, "losses": losses,
            "parent": {"q1": pq[0], "median": pq[1], "q3": pq[2]},
            "change": {"q1": cq[0], "median": cq[1], "q3": cq[2]},
            "median_change_frac": (cq[1] - pq[1]) / pq[1] if pq[1] else None,
            "claim_met": wins * 10 >= 9 * len(pairs) and gain > pq[2] - pq[0],
        }
        if bounds and name in bounds:
            table[name]["bound"] = bounds[name]
            table[name]["verdict"] = verdict(parent, change, pq, cq, sign, bounds[name])
    return table


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="root of the parent checkout")
    ap.add_argument("--change", required=True, help="root of the changed checkout")
    ap.add_argument("--out", required=True, help="directory for raw lines and the summary")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of pair 0; pair i uses seed + i")
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    args = ap.parse_args()

    os.makedirs(args.out, exist_ok=True)
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    results = {"parent": [], "change": []}
    for i in range(args.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run_once(sides[side], args, args.seed + i, args.out, "%s_%02d" % (side, i))
            results[side].append(r)
            if r:
                print("pair %d %s seed %d: correct=%s failed=%s" % (
                    i, side, args.seed + i, r.get("correct"), r.get("failed")), file=sys.stderr)

    table = summarize(results, *rules_of(sides["parent"]))
    failed = {s: sum(r["failed"] for r in rs if r) for s, rs in results.items()}
    incorrect = {s: sum(1 for r in rs if not r or not r.get("correct")) for s, rs in results.items()}
    verdicts = {n: m["verdict"] for n, m in table.items() if "verdict" in m}
    summary = {"workload": args.workload, "pairs": args.pairs, "seed": args.seed,
               "seconds": args.seconds, "trace": args.trace, "failed_ops": failed,
               "incorrect_or_missing_runs": incorrect, "verdicts": verdicts, "metrics": table}
    with open(os.path.join(args.out, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)

    print("%-34s %-28s %-28s %6s %6s %-5s %s" % (
        "metric", "parent q1 / median / q3", "change q1 / median / q3", "wins", "delta", "claim",
        "verdict"))
    for name, m in table.items():
        fmt = lambda q: "%8.4g %8.4g %8.4g" % (q["q1"], q["median"], q["q3"])
        delta = m["median_change_frac"]
        print("%-34s %-28s %-28s %3d/%-2d %+6.1f%% %-5s %s" % (
            name, fmt(m["parent"]), fmt(m["change"]), m["wins"], m["pairs"],
            100 * delta if delta is not None else float("nan"), "met" if m["claim_met"] else "-",
            m.get("verdict", "")))
    print("failed operations: parent %d, change %d; incorrect or missing runs: parent %d, change %d" % (
        failed["parent"], failed["change"], incorrect["parent"], incorrect["change"]))
    return 0 if all(v == 0 for v in incorrect.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
