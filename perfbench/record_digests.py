#!/usr/bin/env python3
"""Record the `catalog` workload's expected result digests.

    python3 perfbench/record_digests.py

Run from the root of a checkout. It runs every catalog key once on the fixed
tables, writes each result as parquet together with the keys' DuckDB oracle
SQL, and compares them cell by cell with `tools/check.py` (the repo's oracle
check, unchanged). Only when every oracled key matches does it write the
digests to perfbench/catalog_digests.json, which each `catalog` run checks
its results against.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "catalog_dump",
         "--seed", "0", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, check=True, stdout=subprocess.PIPE, text=True).stdout
    digests = json.loads(out.strip().splitlines()[-1])["digests"]
    sys.path.insert(0, HERE)
    import gen
    data = os.path.join(HERE, ".work", "data", f"sf0.1-seed{gen.TABLE_SEED}")
    dump = os.path.join(HERE, ".work", "catalog_dump")
    check = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), data, dump],
                           cwd=ROOT)
    if check.returncode != 0:
        sys.exit("oracle check failed; digests not recorded")
    with open(os.path.join(HERE, "catalog_digests.json"), "w") as f:
        json.dump(digests, f, indent=2, sort_keys=True)
        f.write("\n")
    print(f"recorded {len(digests)} digests")


if __name__ == "__main__":
    main()
