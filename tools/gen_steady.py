#!/usr/bin/env python3
"""Build STEADY.json (the bench stall guard's committed per-query steady
references — flat {"name": seconds}) from one or more bench per-query
records (BENCH_QUERIES.json files, or any JSON whose "queries" object maps
name -> seconds).

Steady = per-query MIN across the given records (quiet-box runs), optionally
overridden by explicit values measured with graft.tools.Prof via --override name=sec
(e.g. mx27's standalone steady, which bench-session memo riding understates).

Usage: python3 tools/gen_steady.py out.json rec1.json [rec2.json ...] \
           [--override q_pagerank=3.9 ...]
"""
import json
import sys


def load_queries(path):
    with open(path) as f:
        doc = json.load(f)
    qs = doc.get("queries", doc)
    return {k: float(v) for k, v in qs.items() if isinstance(v, (int, float))}


def main(argv):
    out, rest = argv[1], argv[2:]
    overrides = {}
    recs = []
    for a in rest:
        if a.startswith("--override"):
            continue
        if "=" in a and not a.endswith(".json"):
            k, v = a.split("=", 1)
            overrides[k] = float(v)
        else:
            recs.append(load_queries(a))
    if not recs:
        sys.exit("need at least one bench record")
    steady = {}
    for rec in recs:
        for k, v in rec.items():
            steady[k] = min(steady.get(k, v), v)
    steady.update(overrides)
    with open(out, "w") as f:
        json.dump(dict(sorted(steady.items())), f, indent=0,
                  sort_keys=True, separators=(",", ":"))
        f.write("\n")
    print(f"wrote {out}: {len(steady)} steady references "
          f"({len(overrides)} explicit overrides)")


if __name__ == "__main__":
    main(sys.argv)
