"""Compare two benchmark result files, the JSON lines run.py appends.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

For every workload and end-to-end metric it prints the median and quartiles
of both files and the change of the median, and flags the metric when NEW is
worse than BASE by more than the metric's bound in BENCHMARK.json. Then, per
workload, it prints the per-layer medians of the traced runs, with the layers
ranked by how much their task time changed. Exits 1 when a metric is flagged.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path

SPEC = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def load(path: Path) -> dict[tuple[str, int], dict[str, list[float]]]:
    """{(workload, trace): {metric: [value per run]}} over correct runs."""
    out: dict[tuple[str, int], dict[str, list[float]]] = {}
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            rec = json.loads(line)
            if not rec["result"]["correct"]:
                continue
            bucket = out.setdefault((rec["workload"], rec["trace"]), {})
            for name, m in rec["result"]["metrics"].items():
                bucket.setdefault(name, []).append(m["value"])
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def change(base: float, new: float) -> float:
    return (new - base) / base if base else 0.0


def regressed(base: float, new: float, better: str, bound: float) -> bool:
    return change(base, new) > bound if better == "lower" else change(base, new) < -bound


def layer_task_s(layer: str, deltas: dict[str, float]) -> float:
    """A layer's task-time change: its metrics that count task seconds."""
    return sum(d for name, d in deltas.items()
               if name.startswith(layer + ".") and "task_s" in name)


def compare(base_path: Path, new_path: Path, spec: dict) -> tuple[list[str], int]:
    base, new = load(base_path), load(new_path)
    lines, flagged = [], 0
    workloads = [w["name"] for w in spec["workloads"]]
    for wl in workloads:
        b, n = base.get((wl, 0), {}), new.get((wl, 0), {})
        lines.append(f"== {wl} (end to end; {len(next(iter(b.values()), []))} vs "
                     f"{len(next(iter(n.values()), []))} runs)")
        for m in spec["end_to_end"]:
            name = m["name"]
            if name not in b or name not in n:
                lines.append(f"  {name:24s} missing")
                continue
            bq, nq = quartiles(b[name]), quartiles(n[name])
            bad = regressed(bq[1], nq[1], m["better"], m["bound"])
            flagged += bad
            lines.append(
                f"  {name:24s} base {bq[1]:.6g} [{bq[0]:.6g}, {bq[2]:.6g}]  "
                f"new {nq[1]:.6g} [{nq[0]:.6g}, {nq[2]:.6g}]  "
                f"{change(bq[1], nq[1]):+.1%} (bound {m['bound']:.0%}, {m['better']} is better)"
                + ("  REGRESSED" if bad else ""))
    for wl in workloads:
        b, n = base.get((wl, 1), {}), new.get((wl, 1), {})
        names = [m["name"] for m in spec["per_layer"] if m["name"] in b and m["name"] in n]
        if not names:
            continue
        med = {k: (statistics.median(b[k]), statistics.median(n[k])) for k in names}
        deltas = {k: nv - bv for k, (bv, nv) in med.items()}
        layers = sorted({k.split(".")[0] for k in names},
                        key=lambda layer: -abs(layer_task_s(layer, deltas)))
        lines.append(f"== {wl} (per layer, ranked by task-time change)")
        for layer in layers:
            lines.append(f"  {layer}: task_s {layer_task_s(layer, deltas):+.4g}")
            for k in names:
                if k.startswith(layer + "."):
                    bv, nv = med[k]
                    lines.append(f"    {k:36s} {bv:12.6g} -> {nv:12.6g}  ({nv - bv:+.4g})")
    return lines, flagged


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("base", type=Path)
    p.add_argument("new", type=Path)
    p.add_argument("--spec", type=Path, default=SPEC)
    args = p.parse_args(argv)
    spec = json.loads(args.spec.read_text())
    lines, flagged = compare(args.base, args.new, spec)
    print("\n".join(lines))
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
