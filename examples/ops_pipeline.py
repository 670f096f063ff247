"""Example gallery: an operational data-pipeline pass over the star schema —
quality audit → referential integrity → skew diagnosis → incremental MV
refresh → CDC snapshot diff. The round-5 operator families composed the way
a daily pipeline would run them.

Run: python examples/ops_pipeline.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkfusion.session import get_session
from sparkfusion.suite.analytics_suite import (
    cdc2_snapshot_diff,
    mv1_incremental_refresh,
)
from sparkfusion.suite.quality_suite import (
    dq2_constraints_lineitem,
    dq3_referential_orphans,
    dq4_partition_skew,
)


def main(sf_dir: str = "/root/testdata/sf0.001") -> None:
    spark = get_session("example-ops", cpus=8)
    print("== constraint audit (one scan) ==")
    dq2_constraints_lineitem(spark, sf_dir).show(truncate=False)
    print("== referential integrity ==")
    dq3_referential_orphans(spark, sf_dir).show(truncate=False)
    print("== join-key skew (top heavy keys) ==")
    dq4_partition_skew(spark, sf_dir).show()
    print("== incremental MV refresh (merged == from-scratch) ==")
    mv1_incremental_refresh(spark, sf_dir).orderBy("o_orderstatus", "month").show(5)
    print("== CDC change feed between snapshot versions ==")
    cdc2_snapshot_diff(spark, sf_dir).groupBy("op").count().show()


if __name__ == "__main__":
    main(*sys.argv[1:2])
