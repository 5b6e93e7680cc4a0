"""The two shared primitives: ``driver_queries._stage_once`` (staged
intermediates keyed on their inputs' files, tmpfs only when it has room)
and ``session.observed`` (``observe()`` metrics read without blocking)."""

import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from debezium_connector_cockroachdb_spark.plans import driver_queries as dq
from debezium_connector_cockroachdb_spark.session import observed

def _sf(tmp_path) -> str:
    """An sf dir holding a small documents.parquet."""
    pq.write_table(pa.table({"doc_id": list(range(50)), "text": ["some words"] * 50}),
                   tmp_path / "documents.parquet")
    return str(tmp_path)


def _free(n: int):
    return lambda _path: shutil._ntuple_diskusage(n, 0, n)


def test_stage_once_reuses_key_and_stages_under_work_when_tmpfs_full(tmp_path, monkeypatch):
    sf = _sf(tmp_path)
    monkeypatch.setattr(dq, "_STAGE", {})
    monkeypatch.setenv("BENCH_TMPFS", "1")
    monkeypatch.setattr(shutil, "disk_usage", _free(0))
    builds = []

    def build(path):
        builds.append(path)
        return path

    a = dq._stage_once("probe", sf, ["documents"], (1,), build)
    b = dq._stage_once("probe", sf, ["documents"], (1,), build)
    assert a == b and builds == [a]
    assert a.startswith(os.path.join(dq._WORK, "probe") + os.sep)
    # another param is another stage
    c = dq._stage_once("probe", sf, ["documents"], (2,), build)
    assert c != a and len(builds) == 2
    # new input content (same path) is another stage
    os.utime(os.path.join(sf, "documents.parquet"), ns=(1, 1))
    dq._stage_once("probe", sf, ["documents"], (1,), build)
    assert len(builds) == 3


@pytest.mark.skipif(not os.path.isdir("/dev/shm"), reason="no tmpfs")
def test_stage_root_needs_headroom_over_input_bytes(tmp_path, monkeypatch):
    marker = dq._input_marker(_sf(tmp_path), ["documents"])
    need = dq._TMPFS_HEADROOM * sum(size for _rel, size, _mtime in marker)
    monkeypatch.setenv("BENCH_TMPFS", "1")
    monkeypatch.setattr(shutil, "disk_usage", _free(need))
    assert dq._stage_root(marker) == dq._WORK
    monkeypatch.setattr(shutil, "disk_usage", _free(need + 1))
    assert dq._stage_root(marker).startswith("/dev/shm/")
    monkeypatch.setenv("BENCH_TMPFS", "0")
    assert dq._stage_root(marker) == dq._WORK


def test_observed_returns_posted_metrics(spark):
    obs = Observation()
    spark.range(10).observe(obs, F.count(F.lit(1)).alias("n")).collect()
    assert observed(obs, fallback=lambda: pytest.fail("fallback ran")) == {"n": 10}


def test_observed_falls_back_when_observed_plan_never_runs(spark):
    obs = Observation()
    spark.range(10).observe(obs, F.count(F.lit(1)).alias("n"))  # no action
    t0 = time.monotonic()
    assert observed(obs, fallback=lambda: {"n": -1}) == {"n": -1}
    with pytest.raises(RuntimeError, match="never posted"):
        observed(obs)
    assert time.monotonic() - t0 < 5


def test_observed_falls_back_when_optimizer_drops_the_observe_node(spark):
    # a constant-false filter folds the plan to an empty relation: the
    # query runs, and Spark completes the observation with an empty row
    obs = Observation()
    spark.range(5).observe(obs, F.count(F.lit(1)).alias("n")).filter(F.lit(False)).collect()
    assert observed(obs, fallback=lambda: {"n": -1}) == {"n": -1}
