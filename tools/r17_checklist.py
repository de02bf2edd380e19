#!/usr/bin/env python3
"""Generate the OPTIMIZATION_r17 per-operator checklist table from the
committed r16 and r17 snapshots plus the DuckDB baseline TSV.

Usage: python3 tools/r17_checklist.py results/bench_r17.json
Prints markdown to stdout; the narrative status column marks the keys
this round touched and carries the r16 adjudication for the rest.
"""
import json, sys

r17_path = sys.argv[1] if len(sys.argv) > 1 else "results/bench_r17.json"
r16 = json.load(open("results/bench_r16.json"))["queries"]
r17s = json.load(open(r17_path))
r17 = r17s["queries"]
runs17 = r17s.get("query_runs", {})
duck = {}
for line in open("results/baseline_duckdb.tsv"):
    if line.startswith("#") or not line.strip():
        continue
    k, v = line.split("\t")
    if float(v) >= 0:
        duck[k] = float(v)

attempt_paths = sys.argv[2].split(",") if len(sys.argv) > 2 else []
attempts = [json.load(open(p))["queries"] for p in attempt_paths]

TOUCHED = {
    "e2_q3_join": "size-gated customer broadcast (SS2); plan at sf0.1 bit-identical",
    "e3_q5_multijoin": "size-gated supplier broadcast (SS2); plan at sf0.1 bit-identical; sf50 residual closed as accepted constant (SS4)",
    "b13_stream_index": "saveMeta overlapped with ingest stream (SS6); paired A/B median 0.938",
}
FAMS = [("A. Vector primitives", "a"), ("B. ANN / index pipeline", "b"),
        ("C. LLM-data pipeline", "c"), ("D. Events / streaming", "d"),
        ("E. Relational analytics", "e")]

med = r17s.get("drift", {}).get("median_ratio")
print(f"Snapshot: {r17_path} — total {r17s['value']:.1f} s, drift "
      f"{r17s.get('drift', {}).get('verdict')} (sentinel "
      f"{r17s.get('drift', {}).get('worst_sentinel_ratio')}x, median {med}x), "
      f"host load1={r17s.get('host', {}).get('load1')}")
print()
for title, pre in FAMS:
    keys = sorted(k for k in r17 if k.startswith(pre))
    n = len(keys)
    print(f"### {title} ({n}/{n} examined)\n")
    print("| key | r16 -> r17 s (min-of-3) | floor-of-6-attempts | duck s | status |")
    print("|---|---|---|---|---|")
    for k in keys:
        a = r16.get(k)
        b = r17[k]
        # a -1 failure sentinel or a key missing from an attempt file is
        # not a time: the floor is over the valid attempts only
        valid = [t[k] for t in attempts if t.get(k, -1) >= 0]
        fl = f"{min(valid):.2f}" if valid else ("-" if attempts else f"{b:.2f}")
        ds = f"{duck[k]:.3f}" if k in duck else "-"
        if k in TOUCHED:
            st = "**touched this round**: " + TOUCHED[k]
        else:
            st = "untouched; delta is the machine era (drift-stamped), r16 adjudication stands"
        av = f"{a:.2f}" if a is not None else "new"
        print(f"| {k} | {av} -> {b:.2f} | {fl} | {ds} | {st} |")
    print()
