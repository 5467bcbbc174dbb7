#!/usr/bin/env python3
"""Compare the per-query counters of two graft.Bench captures.

Usage: python3 tools/counters_diff.py A.json B.json

A and B are `bench.json` files (the full JSON line Bench writes), each with
a "counters" map: query -> one object per timed rep. Job counts, stage
counts and input bytes do not depend on host load, so they are compared
exactly. Task counts and shuffle bytes move a little between reps (row
order under compression, and AQE sizes partitions from those bytes), so
they are compared within a fixed 1% tolerance.

Bench may time a different number of reps of a query in each capture, so
a field is compared over its range across reps, [min, max]: exactly for
the exact fields, each end within the tolerance for the others. A field
that differs prints one line with both per-rep lists. The jobs of a query
ROSE when B's largest per-rep job count exceeds A's; a lower count on one
rep of A alone is the known rep-to-rep variance of a few queries, not a
rise. The exit status is 1 when any query's jobs rose, 0 when none did,
and 2 when the arguments or a capture cannot be used.
"""
import json
import sys

EXACT = ("jobs", "stages", "input_b")
TOLERANT = ("tasks", "shuffle_read_b", "shuffle_write_b")
TOLERANCE = 0.01


def counters(path):
    with open(path) as f:
        c = json.load(f).get("counters")
    if c is None:
        print(f"{path}: no \"counters\" map (a capture older than per-query counters?)",
              file=sys.stderr)
        sys.exit(2)
    return c


def within(a, b):
    return abs(a - b) <= TOLERANCE * max(abs(a), abs(b))


def main(a_path, b_path):
    a, b = counters(a_path), counters(b_path)
    for name in sorted(set(a) ^ set(b)):
        print(f"{name}: only in {a_path if name in a else b_path}")
    rose, differing = [], 0
    common = sorted(set(a) & set(b))
    for q in common:
        lines = []
        for field in EXACT + TOLERANT:
            va = [r.get(field, 0) for r in a[q]] or [0]
            vb = [r.get(field, 0) for r in b[q]] or [0]
            ends = [(min(va), min(vb)), (max(va), max(vb))]
            if all(x == y if field in EXACT else within(x, y) for x, y in ends):
                continue
            tag = ""
            if field == "jobs" and max(vb) > max(va):
                tag = "  ROSE"
                rose.append(q)
            lines.append(f"{field} {va} -> {vb}{tag}")
        if lines:
            differing += 1
            print(f"{q}:")
            for line in lines:
                print(f"  {line}")
    print(f"{len(common)} queries compared, {differing} differ, "
          f"jobs rose in {len(rose)}{': ' + ', '.join(rose) if rose else ''}")
    return 1 if rose else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))
