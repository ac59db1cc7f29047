"""Compare two sets of benchmark results, e.g. a parent and a child commit.

    python3 perfbench/compare.py PARENT_DIR CHILD_DIR

Each directory holds the standard output of ``perfbench/run.py``, one
file per run, named ``<workload>-<seed>.out``.  For every workload and
end-to-end metric this prints each side's median and quartiles, the
change of the child's median against the parent's, the bound from
``BENCHMARK.json``, how many same-seed pairs the child won, and a verdict:

- ``worse``: the child's median is worse by more than the bound,
- ``unresolved``: the parent's own quartile spread is wider than the
  bound, so a change within it cannot be told from noise,
- ``ok``: otherwise.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(directory: str) -> dict[str, dict[int, dict]]:
    """workload -> seed -> result line; a run without a passing result
    line is an error, not a missing sample."""
    out: dict[str, dict[int, dict]] = {}
    for name in sorted(os.listdir(directory)):
        if not name.endswith(".out"):
            continue
        workload, _, seed = name[:-4].rpartition("-")
        with open(os.path.join(directory, name)) as f:
            lines = [l for l in f.read().splitlines() if l.strip()]
        result = json.loads(lines[-1]) if lines else {}
        if not result.get("correct"):
            raise ValueError(f"{name}: run did not pass its checks")
        out.setdefault(workload, {})[int(seed)] = result
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(parent: list[float], child: list[float], better: str, bound: float) -> str:
    p1, pm, p3 = quartiles(parent)
    cm = statistics.median(child)
    worse = (cm - pm) / pm if better == "lower" else (pm - cm) / pm
    if worse > bound:
        return "worse"
    if (p3 - p1) / pm > bound:
        return "unresolved"
    return "ok"


def compare(parent: dict, child: dict, spec: dict) -> list[str]:
    rows = []
    for m in spec["end_to_end"]:
        for workload in sorted(set(parent) & set(child)):
            seeds = sorted(set(parent[workload]) & set(child[workload]))
            p = [parent[workload][s]["metrics"][m["name"]]["value"] for s in seeds]
            c = [child[workload][s]["metrics"][m["name"]]["value"] for s in seeds]
            if not seeds:
                continue
            sign = -1 if m["better"] == "lower" else 1
            wins = sum(sign * (cv - pv) > 0 for pv, cv in zip(p, c))
            pq, cq = quartiles(p), quartiles(c)
            change = (cq[1] - pq[1]) / pq[1]
            rows.append(
                f"{workload:<20} {m['name']:<20} parent {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}]"
                f"  child {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]  change {change:+.1%}"
                f"  bound {m['bound']:.0%}  wins {wins}/{len(seeds)}"
                f"  {verdict(p, c, m['better'], m['bound'])}"
            )
    return rows


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    rows = compare(load(argv[0]), load(argv[1]), spec)
    print("\n".join(rows))
    return 1 if any(r.endswith("worse") for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
