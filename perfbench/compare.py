"""Diff two sets of benchmark records, workload by workload, metric by
metric and layer by layer, and report the tracing overhead.

    python3 perfbench/compare.py BASE NEW
    python3 perfbench/compare.py RECORDS

BASE, NEW and RECORDS are files or directories holding saved standard
output of ``perfbench/run.py`` (any line that is a JSON object with a
``"perfbench"`` key counts).  Records are grouped by workload and by
trace mode; several records of one group are reduced to their median per
figure.

For each group it prints every figure that both sides have, as
``base -> new (change)``, with the spread of the base records (distance
between their quartiles over their median).  It marks a change that is
beyond both ``THRESHOLD`` and that spread, and ends with the layers that
moved, largest change first.  Layers are the figure-name
prefixes: ``session``, ``setup``, ``op`` (construct / plan / exec, jobs,
stages, tasks, shuffle, spill), ``jvm``, ``serving``, ``cli``, ``writer``,
``maintain``, ``streaming`` and ``mix`` (per query group and per query).

For each side that holds both traced and untraced records of a workload,
it also prints the tracing overhead: each end-to-end metric of the traced
records against that of the untraced ones.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

SECTIONS = ("end_to_end", "layers", "detail")
THRESHOLD = 0.05  # relative change that counts as moved
TRACED = " (traced)"


def load(path: Path) -> dict[str, list[dict]]:
    """Records by workload and trace mode from a file or every file in a
    directory."""
    files = sorted(p for p in path.rglob("*") if p.is_file()) if path.is_dir() else [path]
    out: dict[str, list[dict]] = defaultdict(list)
    for f in files:
        for line in f.read_text(errors="replace").splitlines():
            line = line.strip()
            if not line.startswith("{"):
                continue
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                continue
            if isinstance(rec, dict) and "perfbench" in rec:
                out[rec["workload"] + (TRACED if rec.get("trace") else "")].append(rec)
    return out


def figures(records: list[dict]) -> dict[str, list[float]]:
    vals: dict[str, list[float]] = defaultdict(list)
    for rec in records:
        for sec in SECTIONS:
            for k, v in rec.get(sec, {}).items():
                if isinstance(v, (int, float)) and not isinstance(v, bool):
                    vals[k].append(float(v))
    return vals


def spread(values: list[float]) -> float:
    """Quartile distance over the median; 0 for fewer than two values."""
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return 0.0
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / abs(med)


def change(a: float, b: float) -> float:
    if a == b:
        return 0.0
    if a == 0:
        return float("inf")
    return (b - a) / abs(a)


def compare(base: dict, new: dict) -> list[str]:
    lines = []
    for wl in sorted(set(base) & set(new)):
        fa, fb = figures(base[wl]), figures(new[wl])
        lines.append(f"== {wl}: {len(base[wl])} base vs {len(new[wl])} new records")
        moved: dict[str, list[tuple[float, str]]] = defaultdict(list)
        for k in sorted(set(fa) & set(fb)):
            a, b, noise = statistics.median(fa[k]), statistics.median(fb[k]), spread(fa[k])
            c = change(a, b)
            flag = "  *" if abs(c) > max(THRESHOLD, noise) else ""
            lines.append(f"  {k:40s} {a:14.4f} -> {b:14.4f}  {c:+8.1%}"
                         f"  (base spread {noise:.1%}){flag}")
            if flag and "." in k:
                moved[k.split(".")[0]].append((c, k))
        if moved:
            lines.append("  layers that moved:")
            order = sorted(moved, key=lambda L: -max(abs(c) for c, _ in moved[L]))
            for layer in order:
                items = sorted(moved[layer], key=lambda t: -abs(t[0]))
                shown = ", ".join(f"{k} {c:+.1%}" for c, k in items[:6])
                lines.append(f"    {layer}: {shown}")
        else:
            lines.append("  no layer moved beyond the threshold")
    only = sorted(set(base) ^ set(new))
    if only:
        lines.append("workloads on one side only: " + ", ".join(only))
    return lines


def overhead(side: str, records: dict) -> list[str]:
    """Traced against untraced end-to-end medians, per workload."""
    lines = []
    for wl in sorted(w for w in records if w + TRACED in records):
        plain = figures([{"end_to_end": r["end_to_end"]} for r in records[wl]])
        traced = figures([{"end_to_end": r["end_to_end"]} for r in records[wl + TRACED]])
        lines.append(f"== tracing overhead, {side}: {wl}, {len(records[wl + TRACED])} traced "
                     f"vs {len(records[wl])} untraced records")
        for k in sorted(set(plain) & set(traced)):
            a, b = statistics.median(plain[k]), statistics.median(traced[k])
            lines.append(f"  {k:40s} {a:14.4f} -> {b:14.4f}  {change(a, b):+8.1%}"
                         f"  (untraced spread {spread(plain[k]):.1%})")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base", type=Path)
    ap.add_argument("new", type=Path, nargs="?")
    args = ap.parse_args(argv)
    base = load(args.base)
    new = load(args.new) if args.new else None
    if not base or new == {}:
        print("no benchmark records found", file=sys.stderr)
        return 2
    lines = compare(base, new) if new else []
    lines += overhead("base" if new else "records", base)
    if new:
        lines += overhead("new", new)
    print("\n".join(lines or ["no workload has both traced and untraced records"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
