"""Checks batch query results against DuckDB running the program's own
oracle SQL (graft.SparkEntry.oracleSql) over the same parquet tables.

The comparison is the repository's oracle gate itself: tools/check_oracle.py
is imported and its check_one run on every dumped query, with one retry on
a fresh connection for a failure, as that gate does.
"""
import json
import os
import sys


def check(root, data_dir, results_dir, names):
    """Returns one line per query whose result disagrees with the oracle."""
    sys.path.insert(0, os.path.join(root, "tools"))
    import check_oracle
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        sql = json.load(f)
    check_oracle._init(data_dir, results_dir, sql)
    bad = [n for n in names if not check_oracle.check_one(n)[2]]
    if bad:
        check_oracle._init(data_dir, results_dir, sql)
    return [line for n in bad for _, line, ok in [check_oracle.check_one(n)] if not ok]
