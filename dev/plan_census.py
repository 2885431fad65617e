#!/usr/bin/env python3
"""Operator census of physical plans written by `BenchExtra explain`.

Usage:
    sbt -batch "runMain graft.BenchExtra explain <dir> [name-substrings...]"
    python3 dev/plan_census.py <dir>

Reads every <dir>/<query>.txt (Spark's `explain("formatted")`) and prints
one line per query with the number of plan nodes of each kind:
Exchange (shuffle, broadcast and reused exchanges), Scan, *Join,
MapPartitions, Generate and Window. Nodes are counted from the formatted
plan's numbered detail section, where each node appears once as
"(<id>) <name> ...".
"""
import os
import re
import sys

NODE = re.compile(r"^\((\d+)\) (\S+)")

KINDS = [
    ("Exchange", lambda n: n.endswith("Exchange")),
    ("Scan", lambda n: n.startswith("Scan")),
    ("*Join", lambda n: n.endswith("Join")),
    ("MapPartitions", lambda n: n == "MapPartitions"),
    ("Generate", lambda n: n == "Generate"),
    ("Window", lambda n: n == "Window"),
]


def census(path):
    """Counts per kind, over the distinct numbered nodes of one plan."""
    nodes = {}
    with open(path) as f:
        for line in f:
            m = NODE.match(line)
            if m:
                nodes[m.group(1)] = m.group(2)
    return [sum(1 for n in nodes.values() if match(n)) for _, match in KINDS]


def main(argv):
    if len(argv) != 2 or not os.path.isdir(argv[1]):
        sys.exit(__doc__)
    names = sorted(f for f in os.listdir(argv[1]) if f.endswith(".txt"))
    if not names:
        sys.exit(f"no <query>.txt plans under {argv[1]}")
    width = max(len("query"), *(len(n) - 4 for n in names))
    print(f"{'query':<{width}}  " + "  ".join(k for k, _ in KINDS))
    for name in names:
        counts = census(os.path.join(argv[1], name))
        print(f"{name[:-4]:<{width}}  " + "  ".join(
            f"{c:>{len(k)}}" for c, (k, _) in zip(counts, KINDS)))


if __name__ == "__main__":
    main(sys.argv)
