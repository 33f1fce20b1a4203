"""Every queries() entry vs its DuckDB oracle at sf0.001 (fast smoke of the
driver's sf0.01 gate; tools/check_oracle.py runs the full-size version)."""

import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"

spec = importlib.util.spec_from_file_location("entrymod", os.path.join(REPO, "__spark_entry__.py"))
entrymod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entrymod)

from pocket_etl_spark.oracle import compare_frames, duckdb_oracle  # noqa: E402

QUERY_NAMES = sorted(entrymod.queries().keys())


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, name):
    fn = entrymod.queries()[name]
    got = fn(spark, SF_DIR).toPandas()
    sql = entrymod.oracle_sql().get(name)
    if sql is None:
        pytest.skip("rows-only query (no SQL oracle)")
    want = duckdb_oracle(sql, SF_DIR)
    problems = compare_frames(got, want)
    assert not problems, f"{name}: {problems}"


def test_scratch_root_lives_under_tmpdir_and_is_removed_at_exit(tmp_path):
    """The query-side build cache: in a process that starts no Spark, the
    scratch root is created under the process's TMPDIR, holds one memoised
    build per (query, sf) while the process runs, and is gone after exit."""
    import subprocess
    import sys

    code = """
import os
from pyspark import SparkContext
from pocket_etl_spark.queries import scratch_build, scratch_root

def build(d):
    open(os.path.join(d, "artifact"), "w").close()

p = scratch_build("q", "sf", build)
assert scratch_build("q", "sf", None) == p  # memoised: no second build
assert scratch_build("q", "other_sf", build) != p
assert os.path.dirname(p) == scratch_root()
assert os.path.isfile(os.path.join(p, "artifact"))
assert SparkContext._active_spark_context is None
print(scratch_root())
"""
    env = {**os.environ, "TMPDIR": str(tmp_path), "PYTHONPATH": REPO}
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr
    root = out.stdout.strip().splitlines()[-1]
    assert os.path.dirname(root) == str(tmp_path)
    assert not os.path.exists(root)
