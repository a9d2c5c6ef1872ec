"""Shared pytest fixtures: one small local SparkSession for the whole
run (local[4] — worker-startup cost dominates tiny unit tests, not
compute), plus the driver-generated parquet fixture dirs."""

from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from etl_tiki_webscraping_spark.session import get_spark

    s = get_spark("unit-tests", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


@pytest.fixture()
def tmp_parquet_dir(tmp_path):
    return str(tmp_path / "table")


@pytest.fixture()
def assert_no_attempt_leftovers():
    """Checker for a snapshot table dir after a commit that did not
    land: no staging dir or manifest (``*.stage-*``), no ``*.claim``
    token, and ``data/`` holds only pools the current manifest
    references."""
    import json

    def check(table_dir: str) -> None:
        entries = os.listdir(table_dir)
        leftovers = [e for e in entries if ".stage-" in e or e.endswith(".claim")]
        assert not leftovers, leftovers
        pool_root = os.path.join(table_dir, "data")
        if os.path.isdir(pool_root):
            with open(os.path.join(table_dir, "_LATEST")) as fh:
                cur = fh.read().strip()
            with open(os.path.join(table_dir, cur + ".json")) as fh:
                partitions = json.load(fh).get("partitions") or {}
            referenced = {rel.split(os.sep)[1] for rel in partitions.values()}
            pools = set(os.listdir(pool_root))
            assert pools <= referenced, (pools, referenced)

    return check
