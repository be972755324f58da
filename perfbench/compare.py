"""Compare two sets of benchmark records, refusing mismatched configs.

    python3 perfbench/compare.py BEFORE.jsonl AFTER.jsonl

Each file holds run records, one JSON object per line, as ``run.py``
appends them to ``.perfbench_work/records.jsonl``. Records are grouped
by workload and trace mode. Two groups are compared only when every
record in both was measured on the same configuration (cpus, Spark
cores, driver heap, Spark, Python, scale factor); otherwise the command says so and exits 2,
because a difference in cores or versions reads as a speed change.
"""

from __future__ import annotations

import json
import statistics
import sys

CONFIG = ("cpus", "spark_cores", "driver_mem", "spark", "python", "sf")


def load(path: str) -> dict[tuple, list[dict]]:
    groups: dict[tuple, list[dict]] = {}
    with open(path) as fh:
        for line in fh:
            if line.strip():
                rec = json.loads(line)
                groups.setdefault((rec["workload"], rec["traced"]), []).append(rec)
    return groups


def configs(records: list[dict]) -> set[tuple]:
    return {tuple(r.get(k) for k in CONFIG) for r in records}


def compare(before: dict, after: dict) -> int:
    status = 0
    for key in sorted(set(before) & set(after)):
        a, b = before[key], after[key]
        ca, cb = configs(a), configs(b)
        if len(ca | cb) != 1:
            print(f"{key[0]} traced={key[1]}: refused, configs differ: "
                  f"{sorted(ca)} vs {sorted(cb)} as {CONFIG}")
            status = 2
            continue
        field = "per_layer" if key[1] else "metrics"
        names = sorted(set(a[0][field]) & set(b[0][field]))
        print(f"{key[0]} traced={key[1]} ({len(a)} vs {len(b)} runs)")
        for n in names:
            va = [r[field][n] for r in a if r[field].get(n) is not None]
            vb = [r[field][n] for r in b if r[field].get(n) is not None]
            if va and vb:
                ma, mb = statistics.median(va), statistics.median(vb)
                ratio = f"{mb / ma:.3f}" if ma else "n/a"
                print(f"  {n:40s} {ma:14.4f} {mb:14.4f}  x{ratio}")
    return status


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(compare(load(sys.argv[1]), load(sys.argv[2])))
