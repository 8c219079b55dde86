"""Compare two sets of benchmark runs, workload by workload.

    python3 connbench/compare.py PARENT_RESULTS CHANGE_RESULTS
    python3 connbench/compare.py RESULTS        # one set: its spread only

Each argument is a directory of result files written by ``run.py``
(untraced runs only are read). Runs are paired by seed when both sides
used the same seeds, otherwise in the order they ran. For every workload
and end-to-end metric it prints both sides' median and quartiles, the
share of pairs the change wins, both sides' failed-op share and a
verdict: improved, no worse within bound, unresolved, or worse (rules in
``stats.verdict``). Bounds and directions come from BENCHMARK.json. Exits
1 when any verdict is "worse".
"""

import argparse
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(directory):
    """{workload: [result, ...]} of the untraced runs, oldest first."""
    out = {}
    for p in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(p) as f:
            r = json.load(f)
        if r.get("trace") == 0:
            out.setdefault(r["workload"], []).append(r)
    return out


def paired(a, b):
    """Both sides' runs, paired by seed when the seeds match."""
    sa, sb = [r["seed"] for r in a], [r["seed"] for r in b]
    if len(set(sa)) == len(sa) and set(sa) == set(sb):
        by_seed = {r["seed"]: r for r in b}
        return a, [by_seed[s] for s in sa]
    n = min(len(a), len(b))
    return a[:n], b[:n]


def failed_share(runs):
    attempted = sum(r["attempted"] for r in runs)
    return sum(r["failed"] for r in runs) / attempted if attempted else 0.0


def compare(parent, change, metrics):
    """Rows of (workload, metric, parent q, change q, win rate, failed
    shares, verdict)."""
    rows = []
    for wl in sorted(set(parent) | set(change)):
        if wl not in parent or wl not in change:
            rows.append((wl, None, None, None, None, None, None,
                         "missing on one side"))
            continue
        a, b = paired(parent[wl], change[wl])
        fa, fb = failed_share(a), failed_share(b)
        for m in metrics:
            va = [r["e2e"][m["name"]] for r in a]
            vb = [r["e2e"][m["name"]] for r in b]
            rows.append((wl, m["name"], stats.quartiles(va), stats.quartiles(vb),
                         stats.win_rate(va, vb, m["better"]), fa, fb,
                         stats.verdict(va, vb, m["better"], m["bound"], fa, fb)))
    return rows


def print_spread(runs, metrics):
    """Median, quartiles and inter-quartile spread (share of the median)
    of each workload x metric in one run set, against the metric's bound."""
    print(f"{'workload':14} {'metric':15} {'runs':>4} {'median [q1-q3]':34} "
          f"{'spread':>7} {'bound':>6}")
    for wl in sorted(runs):
        for m in metrics:
            v = [r["e2e"][m["name"]] for r in runs[wl]]
            q1, med, q3 = stats.quartiles(v)
            print(f"{wl:14} {m['name']:15} {len(v):4} "
                  f"{'%.5g [%.5g-%.5g]' % (med, q1, q3):34} "
                  f"{stats.spread(v):7.3f} {m['bound']:6.2f}")
        print(f"{wl:14} {'failed ops':15} {failed_share(runs[wl]):.4f}")
    return 0


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--bench", default=os.path.join(ROOT, "BENCHMARK.json"))
    args = ap.parse_args(argv)
    with open(args.bench) as f:
        metrics = json.load(f)["end_to_end"]
    if args.change is None:
        return print_spread(load(args.parent), metrics)
    rows = compare(load(args.parent), load(args.change), metrics)

    def q(t):
        return "%.4g [%.4g-%.4g]" % (t[1], t[0], t[2])
    print(f"{'workload':14} {'metric':15} {'parent median [q1-q3]':32} "
          f"{'change median [q1-q3]':32} {'wins':>5} {'failed':>11}  verdict")
    for wl, name, qa, qb, win, fa, fb, verdict in rows:
        if name is None:
            print(f"{wl:14} {'':15} {verdict}")
            continue
        print(f"{wl:14} {name:15} {q(qa):32} {q(qb):32} {win:5.2f} "
              f"{fa:5.3f}/{fb:5.3f}  {verdict}")
    return 1 if any(r[-1] == "worse" for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main())
