#!/usr/bin/env python3
"""Compare two graft.Bench JSON lines (e.g. sf0.1 vs the GenScaleTier sf1
tier) per query: emit a combined artifact with per-query times and ratios,
sorted by ratio descending, and flag queries whose scale-up exceeds the
bound (default: data factor x 1.4 shuffle/scheduling slack — the
linearity fence of the retired BenchScaleSmoke,
git show aab9049:src/main/scala/graft/tools/BenchScaleSmoke.scala, applied to the full query set).

usage: bench_sf_ratio.py <base.json> <scaled.json> <out.json> [factor]
"""
import json
import sys


def load(path):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line.startswith("{") and '"metric"' in line:
                return json.loads(line)
    raise SystemExit(f"no bench JSON line in {path}")


def main():
    base_p, scaled_p, out_p = sys.argv[1], sys.argv[2], sys.argv[3]
    factor = float(sys.argv[4]) if len(sys.argv) > 4 else 10.0
    bound = factor * 1.4
    base, scaled = load(base_p), load(scaled_p)
    bq, sq = base["queries"], scaled["queries"]
    rows = []
    for name in sorted(bq):
        if name not in sq:
            continue
        t1, t10 = bq[name], sq[name]
        # 50 ms floor: ratios over timer noise are meaningless
        ratio = t10 / max(t1, 0.05)
        rows.append({"query": name, "base_sec": t1, "scaled_sec": t10,
                     "ratio": round(ratio, 2)})
    rows.sort(key=lambda r: -r["ratio"])
    over = [r for r in rows if r["ratio"] > bound]
    out = {
        "factor": factor,
        "bound": bound,
        "base_sf": base.get("sf"),
        "scaled_sf": scaled.get("sf"),
        "base_total_sec": base.get("value"),
        "scaled_total_sec": scaled.get("value"),
        "base_calibration_sec": base.get("calibration_sec"),
        "scaled_calibration_sec": scaled.get("calibration_sec"),
        "n_queries": len(rows),
        "n_over_bound": len(over),
        "over_bound": [r["query"] for r in over],
        "queries": rows,
    }
    with open(out_p, "w") as f:
        json.dump(out, f, indent=1)
    for r in rows[:15]:
        print(f"{r['query']:32s} {r['base_sec']:7.2f} -> {r['scaled_sec']:8.2f}  x{r['ratio']}")
    print(f"\n{len(rows)} queries; {len(over)} over bound {bound}: "
          f"{[r['query'] for r in over]}")


if __name__ == "__main__":
    main()
