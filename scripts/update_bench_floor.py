#!/usr/bin/env python3
"""Min-merge a Bench JSON line into bench_floor.json.

Usage: python3 scripts/update_bench_floor.py BENCH_OUT_c<cpus>.json
The input is the one-line record Bench writes to BENCH_OUT_c<cpus>.json
({"metric":"total",...,"queries":{...}}); the stdout line carries no
per-query times.
Floors are each query's best observed t1 at sf0.1. Bench compares min(t1, t2)
vs max(floor, 0.3s): warn at ratio>1.5 & excess>0.3s, fail at ratio>2.5 &
excess>1.0s.
"""
import json
import sys

FLOOR_FILE = "bench_floor.json"

def main() -> None:
    with open(sys.argv[1]) as f:
        # Bench lines captured through sbt carry an "[info] " prefix —
        # accept the JSON from anywhere in the line.
        line = next(l[l.index('{"metric"'):] for l in f if '{"metric"' in l)
    bench = json.loads(line)
    try:
        with open(FLOOR_FILE) as f:
            floors = json.load(f).get("floors", {})
    except FileNotFoundError:
        floors = {}
    updated = 0
    for q, t in bench.get("queries", {}).items():
        if t is None or t <= 0:
            continue
        if q not in floors or t < floors[q]:
            floors[q] = round(t, 3)
            updated += 1
    out = {
        "_doc": "Per-query t1 floors (sec) at sf0.1 - min over recorded runs. "
                "Bench compares min(t1,t2) vs max(floor,0.3): warn ratio>1.5 & "
                "excess>0.3s, fail ratio>2.5 & excess>1.0s.",
        "floors": dict(sorted(floors.items())),
    }
    with open(FLOOR_FILE, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"{updated} floors updated, {len(floors)} total")

if __name__ == "__main__":
    main()
