#!/usr/bin/env python3
"""Freeze the ``queries_mix`` reference: ``perfbench/queries.json``.

    python3 perfbench/freeze_queries.py

Runs every registered query over the suite's sf0.1 tables (``data/sf0.1``) in
two JVMs, code-cold then code-warm (same harness, same digest action as the
benchmark), and records, per query, its family prefix, row count, result
digest, the ``Shared`` memo frames it builds or reads, and reference cost
(its code-warm time). A query is eligible for sampling only if it ran
without error and its digest was the same in both passes. The results are also dumped with ``graft.Verify`` and compared
against DuckDB with ``tools/check.py``; a query whose oracle comparison fails
or does not finish is not eligible. Run from the root of a checkout; it takes about 40
minutes on 4 cores.
"""

import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as bench  # noqa: E402

FREEZE_TIMEOUT_S = 1800


def one_pass(cp, data_dir, warm_dir, run_dir):
    os.makedirs(run_dir, exist_ok=True)
    plan = {"workload": "queries_mix", "out_dir": os.path.join(run_dir, "out"),
            "cpus": len(os.sched_getaffinity(0)), "trace": False, "queries": None,
            "data_dir": data_dir, "warm_dir": warm_dir}
    rep, _ = bench.run_jvm(cp, plan, run_dir, FREEZE_TIMEOUT_S)
    return rep


def oracle_results(cp, data_dir, names):
    """name -> 'pass' | 'fail' | 'timeout' from graft.Verify + tools/check.py."""
    out = os.path.join(bench.WORK, "freeze", "verify")
    shutil.rmtree(out, ignore_errors=True)
    cmd = ["java"] + bench.JVM_OPTS + ["-cp", cp, "graft.Verify", data_dir, out]
    subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                   timeout=FREEZE_TIMEOUT_S, check=False)
    p = subprocess.run([sys.executable, os.path.join(bench.ROOT, "tools", "check.py"),
                        data_dir, out] + names, capture_output=True, text=True,
                       timeout=FREEZE_TIMEOUT_S * 2, env=dict(os.environ, GRAFT_ORACLE_TIMEOUT="60"))
    res = {}
    for line in p.stdout.splitlines():
        m = re.match(r"(PASS|FAIL)\s+([\w.-]+)(.*)", line)
        if m:
            res[m.group(2).rstrip(":")] = "timeout" if "oracle_timeout" in m.group(3) \
                else m.group(1).lower()
    return res


def main():
    cp = bench.build()
    data_dir = bench.table_dir(bench.BENCH_SF)
    reps = [one_pass(cp, data_dir, warm, os.path.join(bench.WORK, "freeze", name))
            for name, warm in (("cold", None), ("warm", bench.table_dir(bench.WARM_SF)))]
    with_oracle = set(reps[0].get("oracle", []))
    queries = {}
    for o in reps[0]["ops"]:
        name = o["name"]
        runs = [next(x for x in r["ops"] if x["name"] == name) for r in reps]
        errors = [x["error"] for x in runs if x["error"]]
        digests = {x.get("digest") for x in runs}
        q = {"family": re.match(r"[a-z]+", name).group(0),
             "ref_s": round(runs[-1]["seconds"], 3),
             "rows": runs[0].get("rows"), "digest": runs[0].get("digest"),
             "memo": sorted({k for x in runs for k in x.get("memo", [])}),
             "oracle": "none"}
        if errors:
            q["excluded"] = f"error: {errors[0][:200]}"
        elif len(digests) != 1:
            q["excluded"] = "result digest differs between passes (nondeterministic output)"
        queries[name] = q
    checked = oracle_results(cp, data_dir, sorted(n for n in queries if n in with_oracle))
    for name, q in queries.items():
        if name in with_oracle:
            q["oracle"] = checked.get(name, "timeout")
            if q["oracle"] == "fail" and "excluded" not in q:
                q["excluded"] = "Spark result differs from the DuckDB oracle on these tables"
            elif q["oracle"] == "timeout" and "excluded" not in q:
                q["excluded"] = "the DuckDB oracle did not finish, so the digest is unconfirmed"
    for q in queries.values():
        q["eligible"] = "excluded" not in q
    out = {"data": {"sf": bench.BENCH_SF,
                    "tables": os.path.relpath(data_dir, bench.ROOT)},
           "queries": dict(sorted(queries.items()))}
    with open(os.path.join(HERE, "queries.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=False)
        f.write("\n")
    n_ok = sum(q["eligible"] for q in queries.values())
    print(f"{len(queries)} queries, {n_ok} eligible")


if __name__ == "__main__":
    main()
