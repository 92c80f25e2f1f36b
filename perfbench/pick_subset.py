#!/usr/bin/env python3
"""Chooses the queries a query_suite round runs, from the full-pass record.

    python3 perfbench/pick_subset.py [--k N] [--check]

Reads src/main/resources/queries.tsv (written by `perfbench.Main --record`:
every registered query run once cold and once traced) and writes
src/main/resources/subset.txt. With --check it only verifies that
subset.txt is what the rule gives.

The rule: leave out any query whose two answers differed. Share the k slots between packages in proportion to
each package's share of the full pass's warm time (largest remainder, at
least one each). In a package, sort the queries by warm time and take the
middle query of each of its slots' equal-count strata, so the chosen
queries spread over the package's latency range.

It then prints how much of each cost the record measures the subset
carries: as a raw share of the full pass, and as the full-pass total the
subset estimates when each chosen query stands for its stratum.
"""
import argparse
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RES = os.path.join(HERE, "src", "main", "resources")
RECORD = os.path.join(RES, "queries.tsv")
SUBSET = os.path.join(RES, "subset.txt")
COLS = ["query", "package", "rows", "hash", "stable", "cold_s", "warm_s", "build_s", "exec_s", "jobs",
        "build_jobs", "stages", "serial_stages", "tasks"]


def load():
    out = []
    with open(RECORD) as fh:
        for line in fh:
            if line.startswith("#") or not line.strip():
                continue
            f = line.rstrip("\n").split("\t")
            if len(f) != len(COLS):
                out.append({"query": f[0], "package": f[1], "stable": "error"})
                continue
            r = dict(zip(COLS, f))
            for k in COLS[5:]:
                r[k] = float(r[k])
            r["serial"] = 1.0 if r["stages"] > 0 and r["serial_stages"] == r["stages"] else 0.0
            out.append(r)
    return out


def allocate(times, k):
    """Slots per package: proportional to time, largest remainder, >= 1 each."""
    total = sum(times.values())
    exact = {p: max(1.0, k * t / total) for p, t in times.items()}
    slots = {p: int(v) for p, v in exact.items()}
    for p in sorted(exact, key=lambda p: (slots[p] - exact[p], p))[:max(0, k - sum(slots.values()))]:
        slots[p] += 1
    return slots


def pick(rows, k):
    eligible = [r for r in rows if r.get("stable") == "true"]
    packages = sorted({r["package"] for r in eligible})
    times = {p: sum(r["warm_s"] for r in eligible if r["package"] == p) for p in packages}
    chosen = []
    for p, n in sorted(allocate(times, k).items()):
        qs = sorted((r for r in eligible if r["package"] == p), key=lambda r: (r["warm_s"], r["query"]))
        for j in range(n):
            lo, hi = len(qs) * j // n, len(qs) * (j + 1) // n
            r = qs[(lo + hi) // 2]
            chosen.append((r, (hi - lo)))
    return eligible, chosen


def report(rows, eligible, chosen):
    measured = [r for r in rows if "warm_s" in r]
    print("record: %d queries, %d with a stable answer, %d errors" % (
        len(rows), sum(r.get("stable") == "true" for r in rows), len(rows) - len(measured)))
    print("%-16s %12s %12s %12s" % ("cost", "full pass", "subset", "estimate"))
    for name, f in [("queries", lambda r: 1.0), ("warm_s", lambda r: r["warm_s"]),
                    ("build_s", lambda r: r["build_s"]), ("exec_s", lambda r: r["exec_s"]),
                    ("jobs", lambda r: r["jobs"]), ("build_jobs", lambda r: r["build_jobs"]),
                    ("serial_stages", lambda r: r["serial_stages"]), ("serial_queries", lambda r: r["serial"]),
                    ("tasks", lambda r: r["tasks"])]:
        full = sum(f(r) for r in eligible)
        sub = sum(f(r) for r, _ in chosen)
        est = sum(f(r) * w for r, w in chosen)
        print("%-16s %12.2f %12.2f %12.2f  (subset carries %.1f%%)" % (name, full, sub, est, 100 * sub / full if full else 0))

    def share(rs, w):
        warm = sum(r["warm_s"] * w(r) for r in rs)
        return 100 * sum(r["build_s"] * w(r) for r in rs) / warm if warm else 0
    print("build share of warm time: full pass %.1f%%, subset %.1f%%, estimate %.1f%%" % (
        share(eligible, lambda r: 1), share([r for r, _ in chosen], lambda r: 1),
        100 * sum(r["build_s"] * w for r, w in chosen) / sum(r["warm_s"] * w for r, w in chosen)))
    for r, w in chosen:
        print("  %-32s %-10s warm %.3f s build %.3f s jobs %d serial %d  stands for %d" % (
            r["query"], r["package"], r["warm_s"], r["build_s"], r["jobs"], r["serial"], w))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--k", type=int, default=12)
    p.add_argument("--check", action="store_true")
    a = p.parse_args()
    if a.check:
        with open(SUBSET) as fh:
            a.k = int(fh.readline().split("--k")[1].split()[0])
    rows = load()
    eligible, chosen = pick(rows, a.k)
    names = [r["query"] for r, _ in chosen]
    if a.check:
        with open(SUBSET) as fh:
            have = [l.strip() for l in fh if l.strip() and not l.startswith("#")]
        if have != names:
            sys.exit("subset.txt differs from the rule: %s vs %s" % (have, names))
    else:
        with open(SUBSET, "w") as fh:
            fh.write("# written by pick_subset.py --k %d from queries.tsv\n" % a.k)
            fh.write("\n".join(names) + "\n")
    report(rows, eligible, chosen)


if __name__ == "__main__":
    main()
