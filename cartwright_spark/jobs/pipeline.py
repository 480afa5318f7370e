"""spark-submit entry point.

    spark-submit --py-files cartwright_spark.zip \
        cartwright_spark/jobs/pipeline.py --rows 1000000 --workdir /tmp/cw

Re-running with the same workdir resumes from committed snapshots.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# direct `python .../jobs/x.py` runs: put the repo root on the path
# (spark-submit --py-files provides it via the shipped zip instead)
_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=100_000)
    ap.add_argument("--workdir", default="/tmp/cartwright_spark_pipeline")
    ap.add_argument("--s2-level", type=int, default=10)
    ap.add_argument("--zoom", type=int, default=8)
    ap.add_argument("--force", action="store_true")
    ap.add_argument("--time-partition", default="year",
                    choices=["day", "month", "year"],
                    help="pages/extracted hive-partition granularity: "
                         "'day' for production crawl spans, coarser for "
                         "the decades-wide synthetic corpus")
    args = ap.parse_args()

    from cartwright_spark.plans.pipeline import run_pipeline
    from cartwright_spark.session import get_spark

    spark = get_spark("cartwright_pipeline")
    summary = run_pipeline(spark, args.workdir, n_pages=args.rows,
                           s2_level=args.s2_level, zoom=args.zoom,
                           force=args.force,
                           time_partition=args.time_partition)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
