"""Concurrent per-batch fan-out (runner.fan_out over parallel.run_concurrently).

Each micro-batch's collection merge and sink hooks run at the same time,
one thread per branch, under the caller's Spark job group; the batch
waits for every branch and raises the first error. The IVM and
delta-join write pairs use the same helper, so their jobs keep the
caller's job group too.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.request

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc2vec_spark import runner
from cdc2vec_spark.parallel import run_concurrently

GROUP = "fanout-test-group"


@pytest.fixture
def job_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup(GROUP, "fan-out test", interruptOnCancel=True)
    yield sc
    for key in ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel"):
        sc.setLocalProperty(key, None)


def _ungrouped_jobs(sc) -> set[int]:
    """Ids of the jobs that ran under no job group."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def _points(spark, n: int = 8):
    return spark.createDataFrame(
        [(f"k{i}", [1.0, float(i)], "c", i) for i in range(n)],
        "id string, vector array<float>, op string, lsn long",
    )


class _Recorder:
    """Stand-in collection: records each batch's epoch and point count."""

    def __init__(self):
        self.seen: list = []

    def apply_points(self, pts, epoch_id):
        self.seen.append((epoch_id, pts.count()))


def test_run_concurrently_returns_results_in_order(spark):
    def slow():
        time.sleep(0.2)
        return "slow"

    assert run_concurrently(spark, slow, lambda: "fast") == ["slow", "fast"]
    assert run_concurrently(spark) == []


def test_fan_out_runs_branches_concurrently(spark):
    """Two hooks that each wait for the other complete; run one after
    the other, the first would time out on the barrier."""
    barrier = threading.Barrier(2, timeout=30)
    ran = []

    def hook(name):
        def h(pts):
            barrier.wait()
            ran.append(name)

        return h

    coll = _Recorder()
    out = runner.fan_out(
        _points(spark), coll, [("a", hook("a")), ("b", hook("b"))], 7
    )
    assert sorted(ran) == ["a", "b"]
    assert coll.seen == [(7, 8)]
    assert out["points_out"] == 8
    # branch wall times: the collection first, then the hooks in config order
    assert list(out["branch_ms"]) == ["collection", "a", "b"]
    assert all(v >= 0 for v in out["branch_ms"].values())


def test_fan_out_failure_waits_for_every_branch_before_unpersist(spark):
    """A failing hook fails the batch, but only after the other branches
    finished; the points stay cached until then."""
    pts = _points(spark)
    slow_done = []

    def slow(p):
        time.sleep(1.0)
        slow_done.append(p.storageLevel.useMemory)

    def boom(p):
        raise ValueError("sink down")

    with pytest.raises(ValueError, match="sink down"):
        runner.fan_out(pts, _Recorder(), [("boom", boom), ("slow", slow)], 0)
    assert slow_done == [True]
    assert not pts.storageLevel.useMemory


def test_fan_out_branches_keep_the_caller_job_group(spark, job_group):
    sc = job_group
    groups = []

    def hook(pts):
        groups.append(sc.getLocalProperty("spark.jobGroup.id"))
        pts.where(F.col("lsn") > 2).count()

    class Coll(_Recorder):
        def apply_points(self, pts, epoch_id):
            groups.append(sc.getLocalProperty("spark.jobGroup.id"))
            super().apply_points(pts, epoch_id)

    before = _ungrouped_jobs(sc)
    runner.fan_out(_points(spark), Coll(), [("a", hook), ("b", hook)], 1)
    assert groups == [GROUP] * 3
    assert _ungrouped_jobs(sc) - before == set()
    assert sc.statusTracker().getJobIdsForGroup(GROUP)


class _CountingProvider:
    """Deterministic embedder that counts the texts it embeds."""

    supports_fused_normalize = True

    def __init__(self, acc, dim: int = 8):
        self.acc, self.dim = acc, dim

    def udf(self, normalize: bool = False):
        acc, dim = self.acc, self.dim

        @F.pandas_udf(T.ArrayType(T.DoubleType()))
        def embed(texts: pd.Series) -> pd.Series:
            acc.add(int(texts.notna().sum()))
            return texts.map(
                lambda t: None if t is None else [float(len(t))] * dim
            )

        return embed


def test_fan_out_embeds_each_point_once_for_three_hooks(spark, tmp_path):
    from cdc2vec_spark.cdc.pipeline import run_batch
    from cdc2vec_spark.config import EngineConfig, Mapping

    cfg = EngineConfig(
        mappings=(
            Mapping(table="public.documents", id_column="pk",
                    text_columns=("after_title",), metadata_columns=()),
        ),
        vector_size=8,
    )
    changes = spark.createDataFrame(
        [("c", "public.documents", str(i), f"title number {i}", i)
         for i in range(12)],
        "op string, tbl string, pk string, after_title string, lsn long",
    )
    acc = spark.sparkContext.accumulator(0)
    pts = run_batch(changes, cfg, _CountingProvider(acc))

    def hook(p):
        p.select("id", "vector").collect()

    coll = runner.PointsCollection(spark, str(tmp_path / "state"))
    out = runner.fan_out(pts, coll, [("a", hook), ("b", hook), ("c", hook)], 0)
    assert out["points_out"] == 12
    assert acc.value == 12
    assert coll.live().count() == 12


def test_ivm_write_jobs_keep_the_caller_job_group(spark, job_group, tmp_path):
    """IncrementalGroupAgg.apply_batch stages its agg and state writes
    concurrently; both jobs must carry the caller's job group."""
    from cdc2vec_spark.cdc.ivm import IncrementalGroupAgg

    sc = job_group
    ivm = IncrementalGroupAgg(spark, str(tmp_path / "ivm"), n_buckets=4)
    batch = spark.createDataFrame(
        [(1, "c", "public.documents", "k1", "aaa", "bbb", "g1"),
         (2, "c", "public.documents", "k2", "ccc", "", "g2")],
        "lsn long, op string, tbl string, pk string, "
        "after_title string, after_content string, after_author string",
    )
    before = _ungrouped_jobs(sc)
    ivm.apply_batch(batch)
    assert _ungrouped_jobs(sc) - before == set()
    got = {r["grp"]: (r["n"], r["chars"]) for r in ivm.read().collect()}
    assert got == {"g1": (1, 7), "g2": (1, 3)}


def test_boot_reports_branch_ms_per_sink(spark, tmp_path):
    """/healthz carries each fan-out branch's wall time, collection first,
    then the sinks in config order (a repeated sink type numbered)."""
    from dataclasses import replace

    from cdc2vec_spark.cdc.changelog import MAPPED, changes_df
    from cdc2vec_spark.cdc.transform import filter_mapped
    from cdc2vec_spark.config import DEFAULT_CONFIG, PipelineConfig, SinkConfig
    from cdc2vec_spark.streaming.source import write_chunks
    from tests.conftest import SF0001

    ch = filter_mapped(changes_df(spark, SF0001), MAPPED)
    chunks = str(tmp_path / "chunks")
    write_chunks(ch, chunks, n_chunks=1, order_col="lsn")
    cfg = PipelineConfig(
        engine=replace(DEFAULT_CONFIG, vector_size=8),
        sink=SinkConfig(type="group_agg", options={"path": str(tmp_path / "g1")}),
        extra_sinks=(
            SinkConfig(type="group_agg", options={"path": str(tmp_path / "g2")}),
        ),
    )
    query, coll, server = runner.boot(
        spark, config=cfg, changes_dir=chunks, changes_schema=ch.schema,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"), health_port=0,
    )
    try:
        query.processAllAvailable()
        with urllib.request.urlopen(
            f"http://127.0.0.1:{server.server_address[1]}/healthz", timeout=5
        ) as r:
            snap = json.load(r)
    finally:
        query.stop()
        server.shutdown()
    assert list(snap["branch_ms"]) == ["collection", "group_agg", "group_agg_2"]
    assert snap["points_out"] > 0 and coll.read().count() > 0
