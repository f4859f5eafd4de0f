#!/usr/bin/env python3
"""Compare two BENCH_DETAIL.json files on their common query subset.

Usage: python3 tools/benchcmp.py <old_detail.json> <new_detail.json>

Prints per-query medians, the ratio, rep-stability flags (any rep >2x
its sibling reps), and the common-subset totals. When both files carry
ledger `legs` (Bench records each entry's measured reps per leg), it
also prints per-leg differences — wall, jobs, stage busy time and
driver time — for the common legs, so an A/B names the leg that moved.
"""
import json, sys

def load(p):
    d = json.load(open(p))
    return {k: v for k, v in d["queries"].items() if v.get("median", -1) >= 0}

LEG_FIELDS = [("wallMs", "wall"), ("jobs", "jobs"),
              ("stageBusyMs", "busy"), ("driverMs", "driver")]

def leg_rows(qa, qb, common):
    """Per-leg differences for entries whose both sides carry legs."""
    rows = []
    for k in common:
        la = {l["leg"]: l for l in qa[k].get("legs", [])}
        lb = {l["leg"]: l for l in qb[k].get("legs", [])}
        for leg in sorted(set(la) & set(lb)):
            cells = []
            for f, name in LEG_FIELDS:
                va, vb = la[leg].get(f, 0), lb[leg].get(f, 0)
                cells.append(f"{name} {va}->{vb}")
            rows.append(f"  {leg}: " + "  ".join(cells))
        for leg in sorted(set(la) ^ set(lb)):
            side = "old" if leg in la else "new"
            rows.append(f"  {leg}: {side} only")
    return rows

def main(a, b):
    qa, qb = load(a), load(b)
    common = sorted(set(qa) & set(qb))
    ta = tb = 0.0
    rows = []
    for k in common:
        ma, mb = qa[k]["median"], qb[k]["median"]
        ta += ma
        tb += mb
        reps = qb[k].get("reps", [])
        tail = bool(reps) and max(reps) > 2 * min(reps)
        flag = ""
        if mb > 1.25 * ma:
            flag += " REGRESSED"
        if tail:
            flag += f" TAIL{[round(r,2) for r in reps]}"
        if flag:
            rows.append(f"  {k}: {ma:.2f} -> {mb:.2f} ({mb/ma:.2f}x){flag}")
    print(f"common subset: {len(common)} queries")
    print(f"totals: {ta:.1f}s -> {tb:.1f}s ({tb/ta:.2f}x)")
    print("regressions >1.25x or unstable reps:")
    print("\n".join(rows) if rows else "  (none)")
    only_b = sorted(set(qb) - set(qa))
    if only_b:
        tn = sum(qb[k]["median"] for k in only_b)
        print(f"new-only queries: {len(only_b)} totalling {tn:.1f}s")
    if any(qa[k].get("legs") for k in common) and \
            any(qb[k].get("legs") for k in common):
        print("per-leg (summed over the measured reps; wall/busy/driver in ms):")
        print("\n".join(leg_rows(qa, qb, common)) or "  (none)")

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
