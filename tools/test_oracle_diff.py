#!/usr/bin/env python3
"""Self-test for tools/oracle_diff.py on the sf0.001 tables (TESTDATA.md).

1. identical dumps list nothing;
2. a renamed CTE is listed, and its two results are equal;
3. a changed constant is listed, and its two results are unequal.

Run: python3 tools/test_oracle_diff.py [sf dir]   (exit 0 = all cases behave)
"""
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from oracle_diff import diff_dumps  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

BASE = {
    "q_same": "SELECT n_name FROM nation ORDER BY n_name",
    "q_cte": """WITH t AS (SELECT n_regionkey, count(*) AS c
                FROM nation GROUP BY 1)
                SELECT * FROM t ORDER BY 1""",
    "q_const": "SELECT count(*) AS c FROM nation WHERE n_nationkey < 5",
}


def dump(d, tmp, name):
    path = os.path.join(tmp, name)
    with open(path, "w") as f:
        json.dump(d, f)
    return path


def main():
    with tempfile.TemporaryDirectory() as tmp:
        a = dump(BASE, tmp, "a.json")
        # whitespace-only edits do not count as a difference
        spaced = dict(BASE, q_same="SELECT  n_name\n FROM nation ORDER BY n_name")
        assert diff_dumps(a, dump(spaced, tmp, "s.json"), SF) == [], \
            "identical dumps listed a key"

        renamed = dict(BASE, q_cte=BASE["q_cte"]
                       .replace("WITH t AS", "WITH per_region AS")
                       .replace("FROM t ", "FROM per_region "))
        got = diff_dumps(a, dump(renamed, tmp, "r.json"), SF)
        assert got == [("q_cte", "equal")], got

        changed = dict(BASE, q_const=BASE["q_const"].replace("< 5", "< 6"))
        got = diff_dumps(a, dump(changed, tmp, "c.json"), SF)
        assert got == [("q_const", "UNEQUAL")], got

        # without --sf only the keys are listed
        assert diff_dumps(a, dump(changed, tmp, "c.json")) == \
            [("q_const", None)]
    print("oracle_diff self-test: 3 cases OK")


if __name__ == "__main__":
    main()
