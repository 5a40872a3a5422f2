#!/usr/bin/env python3
"""Compare two traced runs of the lakehouse benchmark, layer by layer.

    python3 lakebench/layer_diff.py BEFORE AFTER

BEFORE and AFTER are each either a traced run's saved standard output (its
last line is the result) or its `record.json` from `lakebench/.work/`, for
the same workload and seed. Only the steal-immune metrics are compared:
counts, bytes, and row and file ratios. Times, task CPU seconds included,
are on the runs' `# layers:` lines and never decide. A traced run does a
fixed amount of work per seed, so two runs of the same code give the same
counts. The script prints every metric that changed by more than 5% and
names the layers (`table`, `v2`, `streaming`, `exec`, `catalyst`, `plan`,
...) that moved.
"""
import json
import re
import sys

THRESHOLD = 0.05


def load(path):
    text = open(path).read().strip()
    try:
        d = json.loads(text)
    except json.JSONDecodeError:
        d = json.loads(text.splitlines()[-1])
    if "layers" in d:
        return {k: float(v) for k, v in d["layers"].items()}
    return {k: float(v["value"]) for k, v in d["metrics"].items()}


def steal_immune(name):
    """Counts, bytes and row or file ratios; not times or CPU shares."""
    if re.search(r"[._]ms($|_)", name) or name.endswith("_s"):
        return False
    return name != "exec.cpu_ratio"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    b, c = load(sys.argv[1]), load(sys.argv[2])
    moved = {}
    print(f"{'metric':45s} {'before':>14s} {'after':>14s} {'change':>9s}")
    for k in sorted(set(b) | set(c)):
        x, y = b.get(k, 0.0), c.get(k, 0.0)
        if not steal_immune(k):
            continue
        rel = (y - x) / abs(x) if x else (0.0 if y == 0 else float("inf"))
        if abs(rel) > THRESHOLD:
            print(f"{k:45s} {x:14.6g} {y:14.6g} {rel:+9.1%}")
            moved.setdefault(k.split(".")[0], []).append(k)
    if moved:
        for layer, ks in sorted(moved.items(), key=lambda kv: -len(kv[1])):
            print(f"moved: {layer} ({len(ks)} metric(s): {', '.join(ks)})")
    else:
        print(f"moved: none (no steal-immune metric changed by more than {THRESHOLD:.0%})")


if __name__ == "__main__":
    main()
