#!/usr/bin/env python3
"""Refresh selected bench_ref.json entries from a fresh
docs/bench_detail.json, normalizing by that run's canary drift so the
committed value is what a drift=1.0 (canary-parity) box would measure.

r16 ratchet guard: every ref row carries provenance
{value, drift, round, note} and a refresh REFUSES to run without
--note (why the re-baseline is justified) and --round (the build round
doing it) — a silent self-baseline can no longer overwrite an audited
one. The 2x bench flag and compare tools read row["value"].

Usage:
  python3 tools/refresh_ref.py --round 16 --note "why" q219_... [more...]
"""
import argparse
import json
import os

REF = "docs/bench_ref.json"
DETAIL = "docs/bench_detail.json"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--note", required=True,
                    help="why this re-baseline is justified (required: "
                         "the provenance schema refuses silent refreshes)")
    ap.add_argument("--round", required=True, type=int,
                    help="build round performing the refresh")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    if not args.note.strip():
        ap.error("--note must be non-empty")

    ref = json.load(open(REF))
    det = json.load(open(DETAIL))
    meas = det["queries"]
    # a reference holds one scale point's timings (Bench uses it only
    # for runs on that scale point)
    run_sf = os.path.basename(os.path.normpath(det.get("sf", "")))
    if run_sf != ref.get("sf"):
        print(f"detail is a {run_sf or '?'} run, the reference holds {ref.get('sf')}; aborting")
        return 1
    drift = det.get("canary_drift", -1.0)
    if drift <= 0:
        print("no canary drift in detail; aborting")
        return 1
    for n in args.names:
        if n not in meas or meas[n] < 0:
            print(f"SKIP {n}: not measured")
            continue
        old = ref["queries"].get(n)
        old_v = old["value"] if isinstance(old, dict) else old
        new = round(meas[n] / drift, 3)
        # "value" stays the FIRST key: Bench's dependency-free regex
        # parse relies on it
        ref["queries"][n] = {"value": new, "drift": drift,
                             "round": args.round, "note": args.note}
        print(f"{n}: {old_v} -> {new} (measured {meas[n]}, drift {drift})")
    json.dump(ref, open(REF, "w"), indent=1)
    print("written", REF)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
