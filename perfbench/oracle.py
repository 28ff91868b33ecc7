"""DuckDB oracle check for warehouse_queries results.

The comparison is the engine's own oracle rule from tools/check.py: columns
matched by sorted name, each column's dtype class must agree, and the
canonicalized rows must agree as a sorted multiset.
"""
import os
import sys

sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
import check  # noqa: E402  (tools/check.py)


def run(con, oracle_sql, result_dir):
    """(ok, reason) for one query's Spark result files against its oracle."""
    got = check.load_spark(con, result_dir)
    try:
        want = con.execute(oracle_sql).df()
    except Exception as e:  # an oracle that cannot run is a failed check
        return False, f"oracle error: {str(e)[:200]}"
    return check.compare(os.path.basename(result_dir), got, want)


def selftest():
    """The oracle compare must reject a wrong value, a wrong type and a
    missing row, and accept a reordered copy."""
    import pandas as pd
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0]})
    assert check.compare("same", want.iloc[::-1].reset_index(drop=True), want)[0]
    wrong = want.copy()
    wrong.loc[1, "v"] = 1.26
    assert not check.compare("value", wrong, want)[0], "a wrong value passed the oracle"
    assert not check.compare("dtype", want.astype({"k": "float64"}), want)[0], "a wrong dtype passed"
    assert not check.compare("row", want.iloc[:2], want)[0], "a missing row passed"
    print("oracle compare: catches a wrong value, a wrong dtype and a missing row")
