"""Compare benchmark records written by ``perfbench/run.py``.

    python3 perfbench/compare.py --base .perfbench_out/A*.json --new .perfbench_out/B*.json

Prints, for each metric, the median over each side's records and the
new/base ratio.  Refuses (exit 2) when the records do not all share one
workload, one trace mode and one host fingerprint: numbers taken on
different cores, RAM, Spark, pyarrow, Python or JDK are not comparable.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys


def load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as fh:
            out.append(json.load(fh))
    return out


def metrics_of(rec: dict) -> dict[str, float]:
    if rec["trace"]:
        return {k: v["value"] for k, v in rec["per_layer"].items()}
    return dict(rec["end_to_end"])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args(argv)
    base, new = load(args.base), load(args.new)
    keys = {(r["workload"], r["trace"], json.dumps(r["host"], sort_keys=True)) for r in base + new}
    if len(keys) != 1:
        print("refusing to compare records from different workloads, trace modes "
              "or host fingerprints:", file=sys.stderr)
        for k in sorted(keys):
            print(f"  {k}", file=sys.stderr)
        return 2
    names = list(metrics_of(base[0]))
    print(f"workload {base[0]['workload']}: {len(base)} base vs {len(new)} new records")
    for n in names:
        b = statistics.median(metrics_of(r)[n] for r in base)
        c = statistics.median(metrics_of(r)[n] for r in new)
        ratio = f"{c / b:.4f}" if b else "n/a"
        print(f"{n:48s} base {b:14.6g}  new {c:14.6g}  new/base {ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
