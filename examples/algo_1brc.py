"""Example gallery: the one-billion-row-challenge pattern (mirrors
``examples/algo/one_billion_row_challenge.rs``) — headerless CSV, struct
parse, grouped min/max/median.

Run: python examples/algo_1brc.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkfusion.session import get_session
from sparkfusion.suite.udfs import algo_1brc_csv_pipeline


def main(sf_dir: str = "/root/testdata/sf0.001") -> None:
    spark = get_session("example-1brc", cpus=8)
    algo_1brc_csv_pipeline(spark, sf_dir).show(10)


if __name__ == "__main__":
    main(*sys.argv[1:2])
