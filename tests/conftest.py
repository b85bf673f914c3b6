"""Shared fixtures: one SparkSession per test session."""

from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
SMOKE_DIR = "/root/testdata/sf0.001"


@contextlib.contextmanager
def job_group(sc, group: str):
    """Run the block's Spark jobs under job group ``group`` (read them back
    with ``sc.statusTracker().getJobIdsForGroup(group)``)."""
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)


def ran_stages(sc, job_ids) -> dict[int, tuple[int, list[str]]]:
    """Stages of these jobs that ran tasks (not skipped) → (task count,
    operator names of the stage's graph in Spark's status store)."""
    st, store = sc.statusTracker(), sc._jsc.sc().statusStore()

    def names(cluster):
        yield cluster.name()
        it = cluster.childClusters().iterator()
        while it.hasNext():
            yield from names(it.next())

    out = {}
    for j in job_ids:
        for s in st.getJobInfo(j).stageIds:
            info = st.getStageInfo(s)
            if info is not None and info.numCompletedTasks > 0:
                graph = store.operationGraphForStage(s).rootCluster()
                out[s] = (info.numTasks, list(names(graph)))
    return out


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("biobloom_spark_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


@pytest.fixture(scope="session")
def force_budget():
    """``with force_budget(cap):`` runs the operators called inside as if
    ``session._broadcast_budget`` were ``cap`` bytes — the one place every
    size-guarded route (filter shards, word-range chunks, miBF segments,
    saturation label groups) reads its budget."""
    from biobloom_spark import session

    @contextlib.contextmanager
    def force(cap: int):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(session, "_broadcast_budget", lambda spark: cap)
            yield

    return force
