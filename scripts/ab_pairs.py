#!/usr/bin/env python3
"""Alternating A/B pairs of the repository benchmark.

    python3 scripts/ab_pairs.py PARENT_DIR CHANGE_DIR WORKLOAD FIRST_SEED PAIRS [--log PATH]

PARENT_DIR and CHANGE_DIR are two checkouts of the repository (for example
a `git archive` of the parent commit and the working tree). Pair i runs
`python3 perfbench/run.py --workload WORKLOAD --seed FIRST_SEED+i
--seconds <run_seconds> --trace 0` once in each checkout, the parent first
in even pairs and the change first in odd ones, so a drift in machine load
falls on both sides alike. `run_seconds` and the end-to-end metric names,
`better` directions and bounds come from BENCHMARK.json next to this
script, read-only; nothing is written under perfbench/.

Every run is appended to the log (default
ab_pairs-WORKLOAD-sFIRST_SEED-nPAIRS.jsonl in the current directory) as one
JSON line: pair, seed, side, order in the pair, exit code and the run's
result line. At the end the script prints, per metric, both sides' median
and quartiles, how many pairs the change won, the median change, the bound
check (WORSE when the median is worse by more than the metric's bound,
unresolved when the parent's interquartile range exceeds the bound and not
every change run beats every parent run, else ok) and whether the gain rule
holds: the change is better in at least 9 of 10 pairs and its median beats
the parent's by more than the parent's interquartile range. It also prints
each side's count of failed operations. It exits 1 if any run failed or
reported `correct: false`.

Each log line also carries the run's op and write counts (`op_samples`,
`write_samples`), read from the run's artifact
<checkout>/.bench_build/artifacts/WORKLOAD-seedN-trace0/summary.json. A
faster op leaves room for more writes in the fixed run window, and every
write adds files, so the script also prints store_bytes_per_row and recall
medians per side grouped by write count: compare those at equal counts.
"""

import argparse
import json
import math
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    result = None
    for line in reversed(p.stdout.splitlines()):
        if line.startswith("{"):
            try:
                result = json.loads(line)
                break
            except ValueError:
                pass
    return p.returncode, result, p.stderr[-2000:]


def samples(checkout, workload, seed):
    """The run's (op_samples, write_samples) from its summary artifact,
    None for a count the artifact does not hold."""
    path = os.path.join(checkout, ".bench_build", "artifacts",
                        f"{workload}-seed{seed}-trace0", "summary.json")
    try:
        with open(path) as fh:
            facts = json.load(fh).get("facts", {})
    except (OSError, ValueError):
        return None, None
    def count(key):
        v = facts.get(key)
        return int(v) if v is not None and v.isdigit() else None
    return count("op_samples"), count("write_samples")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("workload")
    ap.add_argument("first_seed", type=int)
    ap.add_argument("pairs", type=int)
    ap.add_argument("--log")
    a = ap.parse_args()
    if a.pairs < 1:
        ap.error("PAIRS must be at least 1")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {a.workload}")
    metrics = spec["end_to_end"]
    dirs = {"parent": os.path.abspath(a.parent_dir),
            "change": os.path.abspath(a.change_dir)}
    log = a.log or f"ab_pairs-{a.workload}-s{a.first_seed}-n{a.pairs}.jsonl"

    values = {s: {m["name"]: [] for m in metrics} for s in SIDES}
    ops = {s: [0, 0] for s in SIDES}  # attempted, failed
    # (write count, store_bytes_per_row, recall) of each complete pair's run
    by_writes = {s: [] for s in SIDES}
    bad = []
    with open(log, "a") as out:
        for i in range(a.pairs):
            seed = a.first_seed + i
            order = SIDES if i % 2 == 0 else SIDES[::-1]
            pair, writes = {}, {}
            for k, side in enumerate(order):
                code, r, err = run(dirs[side], a.workload, seed,
                                   spec["run_seconds"])
                op_n, write_n = samples(dirs[side], a.workload, seed)
                rec = {"pair": i, "seed": seed, "side": side, "order": k,
                       "exit": code, "op_samples": op_n,
                       "write_samples": write_n, "result": r}
                if code != 0 or r is None or not r.get("correct"):
                    rec["stderr_tail"] = err
                    bad.append(f"seed {seed} {side}: exit {code}, "
                               f"correct={None if r is None else r.get('correct')}")
                out.write(json.dumps(rec) + "\n")
                out.flush()
                pair[side] = r
                writes[side] = write_n
                status = "ok" if code == 0 and r and r.get("correct") else "FAILED"
                print(f"pair {i} seed {seed} {side}: {status}", file=sys.stderr)
            # a metric enters the comparison only from pairs where both
            # sides produced a result, so wins are counted per pair
            if all(pair[s] is not None for s in SIDES):
                for s in SIDES:
                    ops[s][0] += pair[s]["attempted"]
                    ops[s][1] += pair[s]["failed"]
                    for m in metrics:
                        values[s][m["name"]].append(
                            pair[s]["metrics"][m["name"]]["value"])
                    by_writes[s].append((
                        writes[s],
                        pair[s]["metrics"]["store_bytes_per_row"]["value"],
                        pair[s]["metrics"]["recall"]["value"]))

    n = len(values["parent"][metrics[0]["name"]])
    need = math.ceil(0.9 * n)
    print(f"{a.workload}: {n} complete pairs of {a.pairs}, seeds "
          f"{a.first_seed}-{a.first_seed + a.pairs - 1}, log {log}")
    print(f"{'metric':<22}{'parent q1/med/q3':>30}{'change q1/med/q3':>30}"
          f"{'wins':>8}{'median':>9}{'bound':>7}{'bound check':>12}  gain rule")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        p, c = values["parent"][name], values["change"][name]
        if not p:
            continue
        pq, cq = quartiles(p), quartiles(c)
        wins = sum((cv < pv) if lower else (cv > pv) for pv, cv in zip(p, c))
        gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        rel = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
        worse = -rel if not lower else rel
        gain = wins >= need and gap > pq[2] - pq[0]
        # the bound cannot be judged when the parent's own spread exceeds
        # it, unless every change run beats every parent run
        spread = (pq[2] - pq[0]) / abs(pq[1]) if pq[1] else 0.0
        all_better = (max(c) < min(p)) if lower else (min(c) > max(p))
        if worse > m["bound"]:
            regress = "WORSE"
        elif spread > m["bound"] and not all_better:
            regress = "unresolved"
        else:
            regress = "ok"
        print(f"{name:<22}"
              f"{'/'.join(f'{v:.4g}' for v in pq):>30}"
              f"{'/'.join(f'{v:.4g}' for v in cq):>30}"
              f"{f'{wins}/{n}':>8}{rel:>+9.1%}{m['bound']:>7.0%}"
              f"{regress:>12}  {'holds' if gain else 'no'}")
    print(f"{'side':<8}{'writes':>7}{'runs':>6}"
          f"{'store_bytes_per_row med':>25}{'recall med':>12}")
    for s in SIDES:
        groups = {}
        for w, b, r in by_writes[s]:
            groups.setdefault(w, []).append((b, r))
        for w in sorted(groups, key=lambda w: (w is None, w or 0)):
            g = groups[w]
            print(f"{s:<8}{'?' if w is None else w:>7}{len(g):>6}"
                  f"{statistics.median(b for b, _ in g):>25.4g}"
                  f"{statistics.median(r for _, r in g):>12.4g}")
    for s in SIDES:
        att, fail = ops[s]
        print(f"{s}: {fail} of {att} ops failed")
    if bad:
        print("failed runs: " + "; ".join(bad))
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
