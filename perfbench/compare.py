#!/usr/bin/env python3
"""Compares two benchmark result records, metric by metric.

    python3 perfbench/compare.py <before.json> <after.json>

A record is what run.py writes to .perfbench/results/. Records from hosts
with different fingerprints (cores, memory, JDK, Spark, SPARK_GRAFT_CPUS)
are refused: numbers are never compared across hosts.
"""
import json
import sys


def compare(before, after):
    """Lines of the comparison; raises ValueError across hosts or workloads."""
    if before["host"] != after["host"]:
        raise ValueError(f"host fingerprints differ: {before['host']} vs {after['host']}")
    if (before["workload"], before["trace"]) != (after["workload"], after["trace"]):
        raise ValueError("records are of different workloads or trace modes")
    lines = []
    for name, m in before["metrics"].items():
        a, b = m["value"], after["metrics"].get(name, {}).get("value")
        if b is None:
            lines.append(f"{name}: missing after")
            continue
        ratio = f"{b / a:.3f}x" if a else "n/a"
        lines.append(f"{name}: {a:.6g} -> {b:.6g} {m['unit']} ({ratio})")
    return lines


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    before, after = (json.load(open(p)) for p in argv[1:])
    try:
        print("\n".join(compare(before, after)))
    except ValueError as e:
        print(f"refused: {e}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
