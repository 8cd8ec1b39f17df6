"""CLI entrypoint — parity with the reference's job-args resolution
(``getResolvedOptions(sys.argv, ['TempDir','JOB_NAME'])``,
glue_rds_to_redshift.py:5,23) as plain argparse.

    python -m aws_glue_pyspark_incrementality_and_parallelism_spark \
        --sf-dir /root/testdata/sf0.01 --output /tmp/reports
"""

from __future__ import annotations

import argparse
import logging

from . import pipeline
from .session import build_spark
from .sources.io import DEFAULT_SF_DIR

log = logging.getLogger("engine")


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description="Incremental two-report ETL")
    parser.add_argument("--sf-dir", default=DEFAULT_SF_DIR, help="testdata directory")
    parser.add_argument("--output", required=True, help="report output directory")
    parser.add_argument("--bookmarks", default=None, help="bookmark state file path")
    args = parser.parse_args(argv)

    logging.basicConfig(level=logging.INFO, format="%(asctime)s %(name)s %(message)s")
    spark = build_spark(app_name="engine-etl")
    log.info("starting incremental ETL: sf_dir=%s output=%s", args.sf_dir, args.output)
    result = pipeline.run_etl(spark, args.sf_dir, args.output, bookmark_path=args.bookmarks)
    if not result.report_rows:
        log.info("no new rows above bookmark %s; nothing to do", result.committed_hwm)
    else:
        log.info("committed hwm=%s reports=%s", result.committed_hwm, result.report_rows)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
