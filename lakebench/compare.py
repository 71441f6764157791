"""Print the per-metric and per-operation deltas between two run records.

    python3 lakebench/compare.py .lakebench/records/A.json .lakebench/records/B.json

Deltas are B relative to A. The records should come from the same workload,
seconds and cores; a mismatch is printed as a warning, not refused.
"""

from __future__ import annotations

import argparse
import json


def _delta(a, b) -> str:
    if a is None or b is None:
        return "n/a"
    if a == 0:
        return "same" if b == 0 else "new"
    return f"{(b - a) / a:+.1%}"


def _fmt(v) -> str:
    return "-" if v is None else f"{v:.4g}"


def table(a: dict, b: dict) -> list[str]:
    lines = []
    for key in ("workload", "seconds", "cores", "trace"):
        if a.get(key) != b.get(key):
            lines.append(f"warning: {key} differs: {a.get(key)!r} vs {b.get(key)!r}")
    lines.append(f"A: {a['run_id']}  commit={a.get('commit')}  seed={a['seed']}")
    lines.append(f"B: {b['run_id']}  commit={b.get('commit')}  seed={b['seed']}")
    lines.append("")
    lines.append(f"{'metric':40s} {'A':>12s} {'B':>12s} {'delta':>8s}")
    for group in ("end_to_end", "per_layer"):
        ma, mb = a.get(group) or {}, b.get(group) or {}
        for name in sorted(set(ma) | set(mb)):
            lines.append(f"{name:40s} {_fmt(ma.get(name)):>12s} {_fmt(mb.get(name)):>12s} "
                         f"{_delta(ma.get(name), mb.get(name)):>8s}")
    lines.append(f"{'fail_ratio':40s} {_fmt(a['fail_ratio']):>12s} {_fmt(b['fail_ratio']):>12s}")
    lines.append("")
    lines.append(f"{'operation (median s)':32s} {'build A':>9s} {'build B':>9s} {'delta':>8s} "
                 f"{'exec A':>9s} {'exec B':>9s} {'delta':>8s}")
    oa, ob = a.get("ops", {}), b.get("ops", {})
    for name in sorted(set(oa) | set(ob)):
        x, y = oa.get(name, {}), ob.get(name, {})
        lines.append(
            f"{name:32s} {_fmt(x.get('build_s')):>9s} {_fmt(y.get('build_s')):>9s} "
            f"{_delta(x.get('build_s'), y.get('build_s')):>8s} {_fmt(x.get('execute_s')):>9s} "
            f"{_fmt(y.get('execute_s')):>9s} {_delta(x.get('execute_s'), y.get('execute_s')):>8s}")
    return lines


def main() -> None:
    ap = argparse.ArgumentParser(description="Compare two lakebench run records.")
    ap.add_argument("a")
    ap.add_argument("b")
    args = ap.parse_args()
    with open(args.a) as fa, open(args.b) as fb:
        print("\n".join(table(json.load(fa), json.load(fb))))


if __name__ == "__main__":
    main()
