#!/usr/bin/env python3
"""Alternating parent/change pairs of one benchmark workload.

    python3 tools/ab_pairs.py --workload etl_full --seeds 201-210

Measures the uncommitted change in this checkout against the commit it sits
on (`HEAD`). Runs `perfbench/run.py` once per seed in a checkout of `HEAD`
and once in this checkout, for the `run_seconds` that `BENCHMARK.json` fixes,
alternating which side runs first (the first pair starts with the parent).
Prints every pair, then each end-to-end metric's median and quartiles per
side. For `op_p50_s` it prints the win count and the verdict under the rule:
a gain needs wins in at least nine tenths of the pairs (ties count for
neither side), medians that differ by more than the distance between the
parent's quartiles, and no more failed operations than at the parent. Every
end-to-end metric that is not a gain, `op_p50_s` included, is checked against
the bound `BENCHMARK.json` fixes for it: it is a REGRESSION when its median
is worse by more than the bound, and
UNRESOLVED when the parent's own spread (quartile distance over median) is
wider than the bound, unless every change run beats every parent run.

The parent checkout is a `git worktree` of `HEAD` under `target/ab/`, made
on first use and reused after; it has its own `target/`, so the two sides
never share compiled classes. Do not copy a checkout that includes
`target/` instead: sbt's incremental compiler then treats the copied class
files as its own and deletes the other side's. Remove the worktree with
`git worktree remove target/ab/<sha>` when done.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_TIMEOUT_S = 1200  # the first run in a checkout includes its build
CLAIM = "op_p50_s"


def git(*args, cwd=ROOT):
    return subprocess.run(["git"] + list(args), cwd=cwd, check=True, capture_output=True, text=True).stdout.strip()


def parent_checkout():
    if subprocess.run(["git", "diff", "--quiet", "HEAD"], cwd=ROOT).returncode == 0:
        sys.exit("ab_pairs: the working tree equals HEAD; measure the change before committing it")
    sha = git("rev-parse", "HEAD")
    path = os.path.join(ROOT, "target", "ab", sha[:12])
    if not os.path.isdir(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        git("worktree", "add", "--detach", path, sha)
    elif git("rev-parse", "HEAD", cwd=path) != sha:
        sys.exit("ab_pairs: %s is not at %s" % (path, sha))
    return path


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    res = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=RUN_TIMEOUT_S)
    lines = [l for l in res.stdout.splitlines() if l.strip()]
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stderr[-4000:])
        sys.exit("ab_pairs: run failed in %s (seed %d)" % (checkout, seed))
    out = json.loads(lines[-1])
    metrics = {k: v["value"] for k, v in out["metrics"].items()}
    metrics["failed"] = int(out["failed"])
    metrics["failed_share"] = metrics["failed"] / max(1, int(out["attempted"]))
    return metrics


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=["etl_full", "query_suite"])
    p.add_argument("--seeds", required=True, help="e.g. 201-210 or 1,5,9")
    a = p.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    spec = {m["name"]: m for m in bench["end_to_end"]}
    names = list(spec) + ["failed_share"]
    sides = {"parent": parent_checkout(), "change": ROOT}

    pairs = []
    for k, seed in enumerate(parse_seeds(a.seeds)):
        order = ["parent", "change"] if k % 2 == 0 else ["change", "parent"]
        got = {side: run(sides[side], a.workload, seed, bench["run_seconds"]) for side in order}
        pairs.append(got)
        print("seed %d (%s first): " % (seed, order[0]) + "  ".join(
            "%s %.4g/%.4g" % (n, got["parent"][n], got["change"][n]) for n in names), flush=True)

    failed = {side: sum(pr[side]["failed"] for pr in pairs) for side in sides}
    print("\n%s, %d pairs, parent/change (failed ops %d/%d):" % (
        a.workload, len(pairs), failed["parent"], failed["change"]))
    for n in names:
        par = [pr["parent"][n] for pr in pairs]
        chg = [pr["change"][n] for pr in pairs]
        mp, mc = statistics.median(par), statistics.median(chg)
        (pq1, pq3), (cq1, cq3) = quartiles(par), quartiles(chg)
        line = "  %-22s median %.4g/%.4g  quartiles %.4g-%.4g / %.4g-%.4g" % (n, mp, mc, pq1, pq3, cq1, cq3)
        lower = spec.get(n, {}).get("better", "lower") == "lower"
        gain = False
        if n == CLAIM:
            wins = sum(1 for x, y in zip(par, chg) if (y < x if lower else y > x))
            losses = sum(1 for x, y in zip(par, chg) if (y > x if lower else y < x))
            gain = (wins >= 0.9 * len(pairs) and abs(mp - mc) > pq3 - pq1 and (mc < mp if lower else mc > mp)
                    and failed["change"] <= failed["parent"])
            line += "  wins %d, losses %d, ties %d of %d: %s" % (
                wins, losses, len(pairs) - wins - losses, len(pairs), "GAIN" if gain else "no gain")
        if n in spec and not gain:
            bound = spec[n]["bound"]
            worse = ((mc - mp) if lower else (mp - mc)) / mp if mp else 0.0
            spread = (pq3 - pq1) / mp if mp else 0.0
            dominates = max(chg) < min(par) if lower else min(chg) > max(par)
            verdict = ("  UNRESOLVED (parent spread %.1f%%)" % (100 * spread)
                       if spread > bound and not dominates
                       else "  REGRESSION" if worse > bound else "")
            line += "  worse by %+.1f%% (bound %.0f%%)%s" % (100 * worse, 100 * bound, verdict)
        print(line)


if __name__ == "__main__":
    main()
