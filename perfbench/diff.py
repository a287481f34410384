"""Compare two sets of benchmark runs, workload by workload.

  python3 perfbench/diff.py <parent_results> <change_results>

Each side is a directory of result files as run.py keeps them
(`.bench_build/results/<workload>-seed<n>-trace0.json`; copy the directory
away between the two commits). Runs of the two sides are paired by
workload and seed.

For every workload x end-to-end metric of BENCHMARK.json it prints each
side's median and quartiles, the pairs the change won, and a verdict:

  failing     the change's runs failed more operations or output checks
              than the parent's, whatever the timings say;
  improved    the change wins at least 9/10 of all pairs (ties count for
              neither) and the medians differ, in the better direction, by
              more than the parent's own spread (its interquartile range);
  no worse    the change's median is not worse than the parent's by more
              than the metric's bound, and the parent's spread is within
              the bound; or the spread is wider than the bound but every
              change run reads better than every parent run;
  worse       the change's median is worse by more than the bound, with
              the parent's spread within the bound;
  unresolved  anything else.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    """{(workload, seed): result summary} of the untraced runs in `path`."""
    out = {}
    for name in sorted(os.listdir(path)):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(path, name)) as f:
            r = json.load(f)
        if not r.get("trace"):
            out[(r["workload"], r["seed"])] = r["summary"]
    return out


def failures(summaries):
    """Failed operations and checks over a side's runs; an incorrect run
    counts at least once."""
    return sum(max(s["failed"], 0 if s["correct"] else 1) for s in summaries)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def fmt(q):
    return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"


def verdict(a, b, bound, lower_is_better=True):
    """(verdict, pairs won by the change, pairs) for paired samples."""
    sign = 1.0 if lower_is_better else -1.0
    won = sum(1 for x, y in zip(a, b) if sign * (y - x) < 0)
    n = len(a)
    qa1, ma, qa3 = quartiles(a)
    _, mb, _ = quartiles(b)
    spread = (qa3 - qa1) / ma if ma else float("inf")
    worse_by = sign * (mb - ma) / ma if ma else float("inf")
    if n and won >= 0.9 * n and sign * (ma - mb) > (qa3 - qa1):
        return "improved", won, n
    if spread <= bound:
        return ("no worse" if worse_by <= bound else "worse"), won, n
    if all(sign * (y - x) < 0 for x in a for y in b):
        return "no worse", won, n
    return "unresolved", won, n


def compare(parent, change, bench):
    """One row per workload x end-to-end metric over the paired runs:
    (workload, metric, parent quartiles, change quartiles, won, pairs,
    verdict), or quartiles None where no runs pair up."""
    rows = []
    for w in bench["workloads"]:
        seeds = sorted(s for (wl, s) in parent if wl == w["name"] and (wl, s) in change)
        failing = (failures(change[(w["name"], s)] for s in seeds) >
                   failures(parent[(w["name"], s)] for s in seeds))
        for m in bench["end_to_end"]:
            a = [parent[(w["name"], s)]["metrics"][m["name"]]["value"] for s in seeds]
            b = [change[(w["name"], s)]["metrics"][m["name"]]["value"] for s in seeds]
            if not a:
                rows.append((w["name"], m["name"], None, None, 0, 0, "no paired runs"))
                continue
            v, won, n = verdict(a, b, m["bound"], m["better"] == "lower")
            rows.append((w["name"], m["name"], quartiles(a), quartiles(b), won, n,
                         "failing" if failing else v))
    return rows


def main(argv):
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    print(f"{'workload':<15} {'metric':<14} {'parent median [q1, q3]':<30} "
          f"{'change median [q1, q3]':<30} {'delta':>8} {'won':>6}  verdict")
    for w, m, qa, qb, won, n, v in compare(load(argv[1]), load(argv[2]), bench):
        if qa is None:
            print(f"{w:<15} {m:<14} {v}")
            continue
        delta = (qb[1] - qa[1]) / qa[1] if qa[1] else float("nan")
        print(f"{w:<15} {m:<14} {fmt(qa):<30} {fmt(qb):<30} "
              f"{delta:>+8.1%} {won:>3}/{n:<2}  {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
