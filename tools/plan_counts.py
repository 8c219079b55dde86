#!/usr/bin/env python3
"""Compare per-section exchange counts of two PlanAudit outputs.

Usage: python3 tools/plan_counts.py <committed PLANS.md> <fresh PlanAudit output>

For every `## <query>` section it counts shuffle `Exchange`s,
`BroadcastExchange`s, `ReusedExchange`s and `SinglePartition` mentions,
prints each section whose counts differ, and exits 1 if any does (or if
the two files audit different query sets).
"""
import re
import sys

KINDS = {
    "Exchange": re.compile(r"(?<![A-Za-z])Exchange\b"),
    "BroadcastExchange": re.compile(r"\bBroadcastExchange\b"),
    "ReusedExchange": re.compile(r"\bReusedExchange\b"),
    "SinglePartition": re.compile(r"\bSinglePartition\b"),
}


def sections(path):
    """`## <query>` sections by name; a repeated name gets a `#<n>` suffix."""
    out, name, buf = {}, None, []

    def close():
        if name is not None:
            key, n = name, 1
            while key in out:
                n += 1
                key = f"{name}#{n}"
            out[key] = "".join(buf)

    for line in open(path, encoding="utf-8"):
        m = re.match(r"^## (\S+)\s*$", line)
        if m:
            close()
            name, buf = m.group(1), []
        elif name is not None:
            buf.append(line)
    close()
    return out


def counts(text):
    return {k: len(r.findall(text)) for k, r in KINDS.items()}


def main():
    old, new = sections(sys.argv[1]), sections(sys.argv[2])
    bad = 0
    if set(old) != set(new):
        bad += 1
        print(f"query sets differ: only old {sorted(set(old) - set(new))}, "
              f"only new {sorted(set(new) - set(old))}")
    same_text = 0
    for q in sorted(set(old) & set(new)):
        a, b = counts(old[q]), counts(new[q])
        same_text += old[q] == new[q]
        if a != b:
            bad += 1
            print(f"{q}: {a} -> {b}")
    totals = {k: sum(counts(t)[k] for t in old.values()) for k in KINDS}
    print(f"{len(old)} sections vs {len(new)}; {bad} differ in counts; "
          f"{same_text} byte-identical; committed totals {totals}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
