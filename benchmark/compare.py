#!/usr/bin/env python3
"""Compare two sets of run records, parent against change.

    python3 benchmark/compare.py PARENT_DIR CHANGE_DIR

Each directory holds the records `run.py` wrote under
`benchmark/.work/records/` for one commit. For every workload and
end-to-end metric it prints both medians and quartiles and a verdict by
the pair rule (`stats.verdict`; runs are paired by seed, with the bound
from BENCHMARK.json). For attribution it then prints the per-key warm
time deltas and, from the traced records, the per-layer deltas.
"""
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402


def load(d):
    """{workload: {trace: [record]}}"""
    out = {}
    for f in sorted(Path(d).glob("*.json")):
        if f.name.endswith(".spans.json"):
            continue
        r = json.loads(f.read_text())
        out.setdefault(r["workload"], {}).setdefault(r["trace"], []).append(r)
    return out


def paired(a, b):
    """Records of both sides restricted to seeds both have, in seed order."""
    by_a = {r["seed"]: r for r in a}
    by_b = {r["seed"]: r for r in b}
    seeds = sorted(by_a.keys() & by_b.keys())
    return [by_a[s] for s in seeds], [by_b[s] for s in seeds]


def key_medians(records):
    out = {}
    for r in records:
        for key, by_pass in r["per_key_pass_s"].items():
            warm = [v for p, vs in by_pass.items() if p != "0" for v in vs]
            if warm:
                out.setdefault(key, []).append(stats.median(warm))
    return {k: stats.median(v) for k, v in out.items()}


def fmt(x):
    return f"{x:.4g}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    parent, change = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':11s} {'metric':14s} {'parent p50 [q1,q3]':28s} "
          f"{'change p50 [q1,q3]':28s} {'wins':>6s}  verdict")
    for wl in sorted(set(parent) & set(change)):
        pa, ch = paired(parent[wl].get(0, []), change[wl].get(0, []))
        if not pa:
            continue
        for m in spec["end_to_end"]:
            pv = [r["end_to_end"][m["name"]] for r in pa]
            cv = [r["end_to_end"][m["name"]] for r in ch]
            q = [stats.quartiles(v) for v in (pv, cv)]
            wins = sum(1 for p, c in zip(pv, cv) if stats.worse(p, c, m["better"]))
            v = stats.verdict(pv, cv, m["better"], m["bound"])
            side = [f"{fmt(x[1])} [{fmt(x[0])},{fmt(x[2])}]" for x in q]
            print(f"{wl:11s} {m['name']:14s} {side[0]:28s} {side[1]:28s} "
                  f"{wins:>3d}/{len(pv):<2d}  {v}")
    for wl in sorted(set(parent) & set(change)):
        pa, ch = paired(parent[wl].get(0, []), change[wl].get(0, []))
        kp, kc = key_medians(pa), key_medians(ch)
        deltas = sorted(((kc[k] - kp[k], k) for k in kp.keys() & kc.keys()),
                        key=lambda x: -abs(x[0]))
        print(f"\n{wl}: per-key warm median deltas (s), largest first")
        for d, k in deltas[:15]:
            print(f"  {k:32s} {fmt(kp[k]):>9s} -> {fmt(kc[k]):>9s}  {d:+.4f}")
        tp, tc = paired(parent[wl].get(1, []), change[wl].get(1, []))
        if not tp:
            continue
        print(f"\n{wl}: per-layer medians over traced runs, largest relative change first")
        rows = []
        for name in tp[0]["per_layer"]:
            a = stats.median([r["per_layer"][name] for r in tp])
            b = stats.median([r["per_layer"][name] for r in tc])
            rel = (b - a) / abs(a) if a else (0.0 if b == a else float("inf"))
            rows.append((rel, name, a, b))
        for rel, name, a, b in sorted(rows, key=lambda x: -abs(x[0]))[:25]:
            print(f"  {name:36s} {fmt(a):>10s} -> {fmt(b):>10s}  {rel:+.1%}")


if __name__ == "__main__":
    main()
