"""spark-submit entrypoint (north rule: `spark-submit --py-files pipeline.zip job.py`).

Example:
    zip -r /tmp/pipeline.zip pdf_extract_sys_spark
    spark-submit --py-files /tmp/pipeline.zip -m pdf_extract_sys_spark.job \\
        --run-id r1 --input /data/corpus --output /data/extracted \\
        --checkpoint /data/checkpoints --partitions 4096

Re-running the same command after a failure resumes from the checkpoint table —
completed partitions are skipped (the driver collects their ids once and filters
the corpus to the rest), half-written ones are atomically overwritten.
"""

from __future__ import annotations

import argparse
import json
import sys

from .checkpoint import DEFAULT_NUM_PARTITIONS, run_extraction
from .pipeline import DEFAULT_SALT_THRESHOLD, default_session


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="pdf-extract-sys-spark extraction job")
    p.add_argument("--run-id", required=True)
    p.add_argument("--input", required=True, help="corpus parquet path / table")
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--partitions", type=int, default=DEFAULT_NUM_PARTITIONS)
    p.add_argument("--salt-threshold", type=int, default=DEFAULT_SALT_THRESHOLD)
    p.add_argument("--salted-parallelism", type=int, default=None)
    p.add_argument("--master", default=None, help="override master (tests only)")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    args = p.parse_args(argv)

    spark = default_session(master=args.master, shuffle_partitions=args.shuffle_partitions)
    try:
        summary = run_extraction(
            spark,
            run_id=args.run_id,
            input_path=args.input,
            output_path=args.output,
            checkpoint_path=args.checkpoint,
            num_partitions=args.partitions,
            salt_threshold=args.salt_threshold,
            salted_parallelism=args.salted_parallelism,
        )
        print(json.dumps(summary.__dict__))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
