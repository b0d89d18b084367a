"""CLI round-trip: python -m golang_etl_spark on a YAML jobspec —
the runnable-binary parity with the reference's main()."""

import json
import subprocess
import sys
import textwrap

import duckdb


def test_cli_runs_jobspec(tmp_path, sf_dir):
    spec = tmp_path / "jobs.yaml"
    out_region = tmp_path / "out" / "region"
    spec.write_text(
        textwrap.dedent(
            f"""
            shards:
              shard0: {sf_dir}
            source_format: parquet
            jobs:
              - table: region
                output: {out_region}
                primary_key: r_regionkey
                db: shard0
            """
        )
    )
    proc = subprocess.run(
        [sys.executable, "-m", "golang_etl_spark", "--jobspec", str(spec),
         "--master", "local[2]"],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    payload = json.loads(proc.stdout.strip().splitlines()[-1])
    assert payload["rows_written"]["shard0.region"] == 5
    # the sink really landed and matches the source
    n = duckdb.sql(f"SELECT COUNT(*) FROM read_parquet('{out_region}/*.parquet')").fetchone()[0]
    assert n == 5


def test_cli_rejects_empty_jobspec(tmp_path):
    spec = tmp_path / "empty.yaml"
    spec.write_text("shards: {}\njobs: []\n")
    proc = subprocess.run(
        [sys.executable, "-m", "golang_etl_spark", "--jobspec", str(spec)],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 2
    assert "no jobs" in proc.stderr


def test_cli_runs_two_table_jobspec(tmp_path, sf_dir):
    """Both jobs of a two-table spec (run on the runner's thread pool,
    the Python variant's mode, py_extractor.py:96-105) land, complete
    and correct."""
    spec = tmp_path / "jobs.yaml"
    out_region = tmp_path / "out" / "region"
    out_nation = tmp_path / "out" / "nation"
    spec.write_text(
        textwrap.dedent(
            f"""
            shards:
              shard0: {sf_dir}
            source_format: parquet
            jobs:
              - table: region
                output: {out_region}
                primary_key: r_regionkey
                db: shard0
              - table: nation
                output: {out_nation}
                primary_key: n_nationkey
                db: shard0
            """
        )
    )
    proc = subprocess.run(
        [sys.executable, "-m", "golang_etl_spark", "--jobspec", str(spec),
         "--master", "local[4]"],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    payload = json.loads(proc.stdout.strip().splitlines()[-1])
    assert payload["rows_written"]["shard0.region"] == 5
    assert payload["rows_written"]["shard0.nation"] == 25
    for out, n in ((out_region, 5), (out_nation, 25)):
        got = duckdb.sql(
            f"SELECT COUNT(*) FROM read_parquet('{out}/*.parquet')"
        ).fetchone()[0]
        assert got == n
