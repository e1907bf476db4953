#!/usr/bin/env python3
"""Compare two saved results (``run.py --save FILE``) metric by metric.

    python3 perfbench/compare.py BEFORE.json AFTER.json

Results measured on different hosts (cores, heap, JDK or Spark version) are
not comparable: the comparison is refused, exit code 3.
"""
import json
import sys


def compare(before, after):
    if before["host"] != after["host"]:
        return None
    out = {}
    for name, m in before["result"]["metrics"].items():
        b = m["value"]
        a = after["result"]["metrics"].get(name, {}).get("value")
        out[name] = None if a is None or not b else a / b
    return out


def main(argv):
    with open(argv[0]) as f:
        before = json.load(f)
    with open(argv[1]) as f:
        after = json.load(f)
    ratios = compare(before, after)
    if ratios is None:
        print(f"refused: host tags differ\n  {before['host']}\n  {after['host']}", file=sys.stderr)
        return 3
    for name, r in ratios.items():
        print(f"{name}\t{'n/a' if r is None else f'{r:.3f}'}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
