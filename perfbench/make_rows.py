#!/usr/bin/env python3
"""Regenerate perfbench/rows_sf0.1.tsv, the expected outputs of the declared rows.

usage: python3 perfbench/make_rows.py SF_DIR WORK_DIR

Runs every oracle-gated row of graft.SparkEntry.queries on SF_DIR through the
benchmark's fingerprint mode (row count + order-insensitive hash of every
column, and the row's cost), which also dumps each row's output as parquet
with oracle_sql.json beside it. tools/check_oracle.py then compares those
dumps with DuckDB, and only the rows it passes are written to the table: the
fingerprints the benchmark checks come from a run the oracle accepted.
Run from the root of a checkout.
"""
import os
import subprocess
import sys


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sf, work = sys.argv[1], sys.argv[2]
    subprocess.run([sys.executable, "perfbench/run.py", "--fingerprint", sf, work], check=True)
    r = subprocess.run([sys.executable, "tools/check_oracle.py", sf, work],
                       capture_output=True, text=True)
    passed = {line.split()[1] for line in r.stdout.splitlines() if line.startswith("PASS ")}
    failed = [line for line in r.stdout.splitlines() if line.startswith("FAIL ")]
    for line in failed:
        print(line, file=sys.stderr)
    with open(os.path.join(work, "rows.tsv")) as f:
        header, *rows = [line for line in f.read().splitlines() if line]
    kept = [row for row in rows if row.split("\t")[0] in passed]
    with open("perfbench/rows_sf0.1.tsv", "w") as f:
        f.write("\n".join([header] + kept) + "\n")
    print(f"{len(kept)} of {len(rows)} rows kept; {len(failed)} failed the oracle")


if __name__ == "__main__":
    main()
