"""Capture the executed physical plan of registered queries, normalised
so that two builds of the same code compare equal.

Usage:
    python plans/capture_plans.py SF_DIR OUT_DIR [QUERY ...]

Writes ``OUT_DIR/<query>.txt`` for every named query, or for every
registered query when none is named. Each file holds
``executedPlan().toString()`` with the expression ids (``#123``) and
exchange ids (``[id=#12]``; Spark 4 prints ``[plan_id=12]``) removed:
Spark renumbers both on every build of a plan, so without the
normalisation no two captures match.
A query that fails to build gets its error in the file instead.

Compare two captures with ``diff -r OUT_A OUT_B``. Plans that read
files under a per-process directory (the persisted dedup and IVF
indexes) name that directory, so they differ between any two runs;
capture the same side twice to tell such noise from a real change.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from golang_etl_spark.registry import queries  # noqa: E402
from golang_etl_spark.session import get_spark  # noqa: E402

_EXCHANGE_ID = re.compile(r"\[(?:plan_)?id=#?\d+\]")
_EXPR_ID = re.compile(r"#\d+")


def normalise(plan: str) -> str:
    return _EXPR_ID.sub("", _EXCHANGE_ID.sub("", plan))


def main(argv: list[str]) -> int:
    if len(argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    sf_dir, out_dir, names = argv[0], Path(argv[1]), argv[2:]
    registered = queries()
    unknown = [n for n in names if n not in registered]
    if unknown:
        print(f"unknown queries: {', '.join(unknown)}", file=sys.stderr)
        return 2
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(app_name="plan_capture")
    try:
        for name in names or registered:
            try:
                df = registered[name](spark, sf_dir)
                text = normalise(df._jdf.queryExecution().executedPlan().toString())
            except Exception as exc:  # recorded in the capture, the run goes on
                text = f"ERROR {type(exc).__name__}: {exc}\n"
            (out_dir / f"{name}.txt").write_text(text)
            for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                jrdd.unpersist(True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
