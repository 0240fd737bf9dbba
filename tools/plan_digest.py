"""Print the executed plan of named registry rows, normalized for diff.

Expression ids (``#123``) and ``plan_id=N`` counters differ between
sessions, so they are stripped; what is left is comparable across
checkouts with a plain ``diff``.

Usage (from the repo root):
    python tools/plan_digest.py SF_DIR ROW [ROW ...] > plans.txt
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str]) -> None:
    from vrl_spark import registry
    from vrl_spark.session import get_spark

    sf_dir, names = argv[0], argv[1:]
    spark = get_spark(master="local[2]")
    queries = registry.queries()
    for name in names:
        plan = queries[name](spark, sf_dir)._jdf.queryExecution().executedPlan()
        text = re.sub(r"plan_id=\d+", "plan_id", re.sub(r"#\d+L?", "", plan.toString()))
        print(f"== {name} ==\n{text}")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
