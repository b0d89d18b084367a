"""CLI entry point — the runnable counterpart of the reference's
``go run extractor.go`` (/root/reference/extractor.go:232-300).

    python -m golang_etl_spark --jobspec jobs.yaml [--master local[8]]

Loads the YAML job spec (shards, table jobs, tuning knobs), runs every
extract job through the tuned session (up to four jobs at once, on
driver threads), and prints one JSON line of rows-written per job —
the same lifecycle the reference hard-codes in main(), driven by
config instead.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="golang_etl_spark",
        description="Run a YAML-defined extract pipeline (scan -> parquet).",
    )
    p.add_argument("--jobspec", required=True, help="path to the YAML job spec")
    p.add_argument(
        "--master", default=None, help="Spark master override (default: env)"
    )
    args = p.parse_args(argv)

    from golang_etl_spark.etl import run_jobspec
    from golang_etl_spark.jobspec import JobSpec
    from golang_etl_spark.session import get_spark

    spec = JobSpec.from_yaml(args.jobspec)
    if not spec.jobs:
        print("jobspec has no jobs", file=sys.stderr)
        return 2
    spark = get_spark(app_name="golang_etl_spark_cli", master=args.master)
    try:
        counts = run_jobspec(spark, spec)
    finally:
        spark.stop()
    print(json.dumps({"rows_written": counts}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
