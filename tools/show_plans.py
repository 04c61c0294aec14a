"""Print formatted physical plans for the headline queries
(registry.HEADLINE; the source of docs/PLANS.md).
Usage: python tools/show_plans.py [query ...]"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rippledb_spark.registry import HEADLINE, all_queries
from rippledb_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    names = sys.argv[1:] or list(HEADLINE)
    spark = get_spark(app_name="show_plans")
    qs = all_queries()
    for name in names:
        print(f"\n{'=' * 70}\n{name}\n{'=' * 70}")
        qs[name](spark, sf_dir).explain("formatted")


if __name__ == "__main__":
    main()
