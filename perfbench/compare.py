"""Compare two sets of benchmark results, per workload and metric.

    python3 perfbench/compare.py base.jsonl head.jsonl

Each file holds records appended by ``run.py`` (``results.jsonl``).
Each side's median and quartile spread (quartile distance over median)
is printed per metric, and the median share of CPU time the host stole
during the pass.  Results are compared only when every record on
both sides carries the same machine stamp; otherwise the script refuses
and exits 1.
"""

from __future__ import annotations

import json
import statistics
import sys



def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles of
    ``statistics.quantiles(values, n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def stamps_agree(records: list[dict]) -> bool:
    return len({json.dumps(r["stamp"], sort_keys=True) for r in records}) <= 1


def summary(records: list[dict]) -> dict[tuple[str, int, str], list[float]]:
    out: dict[tuple[str, int, str], list[float]] = {}
    for r in records:
        for name, m in r["metrics"].items():
            out.setdefault((r["workload"], r["trace"], name), []).append(m["value"])
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, head = load(argv[0]), load(argv[1])
    if not stamps_agree(base + head):
        print("refusing to compare: the records' machine stamps differ", file=sys.stderr)
        return 1
    for label, records in (("base", base), ("head", head)):
        steal = [r["steal_share"] for r in records if "steal_share" in r]
        if steal:
            print(f"{label}: median share of CPU stolen by the host during the pass {statistics.median(steal):.3f}")
    a, b = summary(base), summary(head)
    for key in sorted(a.keys() & b.keys()):
        ma, mb = statistics.median(a[key]), statistics.median(b[key])
        ratio = f"{mb / ma:.3f}" if ma else "n/a"
        print(f"{key[0]:12s} trace={key[1]} {key[2]:32s} base {ma:.6g} ({spread(a[key])}, n={len(a[key])})  "
              f"head {mb:.6g} ({spread(b[key])}, n={len(b[key])})  head/base {ratio}")
    return 0


def spread(values: list[float]) -> str:
    if len(values) < 2 or not statistics.median(values):
        return "spread n/a"
    return f"spread {quartile_spread(values):.3f}"


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
