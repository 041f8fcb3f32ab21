#!/usr/bin/env python3
"""Assemble tools/bench_r14_sf10.json from the three tier bench lines +
the protocol-smoke log (r13 verdict task 6: the d/e index-lifecycle
queries at sf0.1 -> sf1 -> sf10 with per-decade ratios, and the
pending-build/ownership protocol exercised at the sf10 tier)."""
import json, re, sys

def load(path):
    with open(path) as f:
        return json.loads(f.read().strip().splitlines()[-1])

b01, b1, b10 = load("/tmp/b14_sf01.json"), load("/tmp/b14_sf1.json"), load("/tmp/b14_sf10.json")
proto = open("/tmp/proto_sf10.log").read().strip().splitlines()

out = {
    "desc": ("d/e index-lifecycle per-decade scaling (r13 verdict task 6): "
             "d17/d18 (LSH build+ingest+forget) and e11/e13 (IVF-SQ8/PQ ANN) "
             "at sf0.1/sf1/sf10, one boot per tier after a /tmp sweep; plus "
             "the ownership/pending-build protocol exercised at sf10 "
             "(IndexProtocolSmoke, now fenced by IndexLifecycleSpec; "
             "git show aab9049:src/main/scala/graft/tools/IndexProtocolSmoke.scala)"),
    "commit": b10.get("commit"),
    "calibration_sec": {"sf01": b01.get("calibration_sec"),
                        "sf1": b1.get("calibration_sec"),
                        "sf10": b10.get("calibration_sec")},
    "queries": {},
    "protocol_smoke_sf10": proto,
}
ok = True
for q in sorted(b01["queries"]):
    t01, t1, t10 = b01["queries"][q], b1["queries"][q], b10["queries"][q]
    r1, r10 = round(t1 / t01, 2), round(t10 / t1, 2)
    out["queries"][q] = {"sf01_sec": t01, "sf1_sec": t1, "sf10_sec": t10,
                         "ratio_1_01": r1, "ratio_10_1": r10}
    if max(r1, r10) >= 10:
        ok = False
        print(f"SUPERLINEAR {q}: {r1}x / {r10}x per decade", file=sys.stderr)
out["all_subdecade"] = ok
with open("tools/bench_r14_sf10.json", "w") as f:
    json.dump(out, f, indent=1)
print(json.dumps(out["queries"], indent=1))
print("protocol:", len(proto), "lines,", "OK" if any("PROTO OK" in l for l in proto) else "FAILED")
print("all_subdecade:", ok)
