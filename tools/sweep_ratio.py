#!/usr/bin/env python3
"""Per-query ratio table between two Bench archive JSONs.

Usage: tools/sweep_ratio.py <base.json> <probe.json> [data_ratio]

Prints queries sorted by wall ratio (probe/base), flagging anything whose
ratio exceeds the data ratio (default 3.33 for sf30->sf100) by more than
1.5x as SUPERLINEAR, and failed queries as FAIL: those named in the
archive's `failed` list (their entry is the wall spent before failing), or
the -1.0 entries of archives written before that list existed.
"""
import json, sys

base_f, probe_f = sys.argv[1], sys.argv[2]
data_ratio = float(sys.argv[3]) if len(sys.argv) > 3 else 10.0 / 3.0

base = json.load(open(base_f))["queries"]
probe_doc = json.load(open(probe_f))
probe = probe_doc["queries"]
failed = set(probe_doc.get("failed", []))

rows, fails = [], []
for q, p in probe.items():
    b = base.get(q)
    if p < 0 or q in failed:
        fails.append(q)
        continue
    if b is None or b <= 0:
        rows.append((float("inf"), q, b, p))
        continue
    rows.append((p / b, q, b, p))

rows.sort(reverse=True)
print(f"{'query':32s} {'base':>8s} {'probe':>9s} {'ratio':>6s}  flag")
for r, q, b, p in rows[:40]:
    flag = "SUPERLINEAR" if r > data_ratio * 1.5 else ""
    bs = f"{b:8.1f}" if b is not None else "     n/a"
    print(f"{q:32s} {bs} {p:9.1f} {r:6.2f}  {flag}")
for q in fails:
    print(f"{q:32s} FAILED ({probe[q]:.1f})")
n_super = sum(1 for r, *_ in rows if r > data_ratio * 1.5)
print(f"\n{len(probe)} queries: {len(fails)} failed, {n_super} superlinear "
      f"(> {data_ratio * 1.5:.2f}x for {data_ratio:.2f}x data), "
      f"total probe {sum(p for _, _, _, p in rows):.1f}s")
