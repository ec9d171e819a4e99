#!/usr/bin/env python3
"""Regression test for check_oracle.py's cost guardrail (the r10/r11
"done" criterion left untested until round 12): a deliberately slow
oracle query must die with a NAMED TIMEOUT line and be listed in the
BUDGET-KILLED summary — not hang the sweep, not pass, not crash the
checker for the queries after it.

Run: python3 tools/test_check_oracle.py [fixture_dir]    (exit 0 = green)
The fixture dir defaults to SF below; any fixture with the engine's
tables works, since the slow query does not read them.
Dev tooling only — not part of the library.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
SF = "/root/testdata/sf0.001"


def main(sf):
    out = tempfile.mkdtemp(prefix="check-oracle-selftest-")
    try:
        # one slow query (a cross join of two generated ranges: 1e16
        # tuples whatever the fixture's size, unfinishable inside any sane
        # budget) and one healthy query that must still PASS after the
        # interrupt — proving the connection survives a budget kill and
        # the sweep continues.
        oracle = {
            "q_slow": ("SELECT count(*) AS n FROM range(100000000) a, "
                       "range(100000000) b WHERE (a.range * 31 + b.range) % 1000003 = 7"),
            "q_after": "SELECT count(*) AS n FROM region",
        }
        with open(os.path.join(out, "oracle_sql.json"), "w") as f:
            json.dump(oracle, f)
        # spark-side stand-ins: content only matters for q_after
        os.makedirs(os.path.join(out, "q_slow"))
        pq.write_table(pa.table({"n": pa.array([0], type=pa.int64())}),
                       os.path.join(out, "q_slow", "part-0.parquet"))
        os.makedirs(os.path.join(out, "q_after"))
        import duckdb
        n_region = duckdb.sql(
            f"SELECT count(*) FROM '{sf}/region.parquet'").fetchone()[0]
        pq.write_table(pa.table({"n": pa.array([n_region], type=pa.int64())}),
                       os.path.join(out, "q_after", "part-0.parquet"))

        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "check_oracle.py"),
             sf, out, "--timeout", "3"],
            capture_output=True, text=True, timeout=120)
        got = p.stdout
        ok = True

        def expect(cond, msg):
            nonlocal ok
            if not cond:
                ok = False
                print(f"SELFTEST FAIL: {msg}\n--- checker stdout ---\n{got}")

        expect("TIMEOUT q_slow" in got,
               "no named 'TIMEOUT q_slow' line for the budget kill")
        expect("PASS q_after" in got,
               "q_after did not PASS after the interrupt — connection "
               "not reusable or sweep aborted")
        expect("BUDGET-KILLED" in got and "q_slow[TIMEOUT]" in got,
               "q_slow missing from the BUDGET-KILLED summary")
        expect(p.returncode != 0,
               f"exit code {p.returncode}: a budget-killed sweep must be red")
        if ok:
            print("SELFTEST PASS: budget kill is named, summarized, "
                  "nonzero-exit, and the sweep continues past it")
        return 0 if ok else 1
    finally:
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else SF))
