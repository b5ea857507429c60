"""A traced ETL run leaves the same outputs and state as an untraced one.

Tracing swaps every plugin for a wrapper that delegates to the real one; this
test runs each ETL workload with the same seed untraced and traced and
compares what the pipeline wrote: per-delivery survivors, the curated output,
the committed state stores and cursor (``etl_incremental``), and the upserted
table (``etl_finance_ml``). It builds the program on first use and takes a
few minutes. Run from the root of a checkout:

    python3 -m unittest perfbench/tests/test_trace_equivalence.py
"""

import contextlib
import io
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run as bench  # noqa: E402

SEED, SECONDS = 11, 5


def run_once(workload, trace):
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = bench.main(["--workload", workload, "--seed", str(SEED),
                         "--seconds", str(SECONDS), "--trace", str(trace)])
    result = json.loads(out.getvalue().strip().splitlines()[-1])
    run_dir = os.path.join(bench.WORK, "runs", f"{workload}-t{trace}")
    with open(os.path.join(run_dir, "report.json")) as f:
        return rc, result, json.load(f), os.path.join(run_dir, "out")


def parquet_rows(path):
    import pyarrow.parquet as pq
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
                   if f.endswith(".parquet"))
    rows = []
    for f in files:
        t = pq.read_table(f)
        rows += [json.dumps(r, sort_keys=True, default=str) for r in t.to_pylist()]
    return sorted(rows)


def curated(out):
    rows = []
    d = os.path.join(out, "curated")
    for f in sorted(os.listdir(d)):
        if f.startswith("part-"):
            with open(os.path.join(d, f)) as fh:
                rows += [json.dumps(json.loads(l), sort_keys=True) for l in fh if l.strip()]
    return sorted(rows)


class TraceEquivalenceTest(unittest.TestCase):
    def pair(self, workload):
        plain = run_once(workload, 0)
        traced = run_once(workload, 1)
        for rc, result, _, _ in (plain, traced):
            self.assertEqual(rc, 0)
            self.assertTrue(result["correct"])
            self.assertEqual(result["failed"], 0)
        return plain, traced

    def test_etl_incremental(self):
        (_, _, rep0, out0), (_, _, rep1, out1) = self.pair("etl_incremental")
        ids = lambda rep: [o["survivor_ids"] for o in rep["ops"] if o["kind"] == "delivery"]
        self.assertEqual(ids(rep0), ids(rep1))
        self.assertEqual(curated(out0), curated(out1))
        for store in ("exact/fingerprints", "exact/manifest", "near/signatures",
                      "near/band_index", "near/manifest"):
            a = parquet_rows(os.path.join(out0, "state", store))
            self.assertTrue(a, store)
            self.assertEqual(a, parquet_rows(os.path.join(out1, "state", store)), store)
        with open(os.path.join(out0, "state", "cursor.json")) as a, \
                open(os.path.join(out1, "state", "cursor.json")) as b:
            self.assertEqual(json.load(a), json.load(b))

    def test_etl_finance_ml(self):
        (_, _, rep0, _), (_, _, rep1, _) = self.pair("etl_finance_ml")
        self.assertEqual(sorted(map(tuple, rep0["table"])), sorted(map(tuple, rep1["table"])))
        rows = lambda rep: [o["table_rows"] for o in rep["ops"] if o["kind"] == "delivery"]
        self.assertEqual(rows(rep0), rows(rep1))


if __name__ == "__main__":
    unittest.main()
