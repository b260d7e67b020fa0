"""Streaming BM25 index maintenance (29ar): the maintained
postings + integer stats served through the shared scoring tail must
reproduce the registered batch ranking exactly after an append-only
replay, independent of delivery order, across save/load restarts,
and back out erased documents exactly."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mvrs_dspa_spark.operators.retrieval import bm25_search
from mvrs_dspa_spark.streaming.bm25_stream import (
    Bm25IndexMaintainer,
)
from mvrs_dspa_spark.streaming.monitor import drain
from mvrs_dspa_spark.tables import table

SF = "/root/testdata/sf0.001"


def _slices(spark, k=4):
    d = table(spark, SF, "documents")
    return [d.where(F.pmod(F.col("doc_id"), F.lit(k)) == i) for i in range(k)]


def _want(spark):
    return sorted(tuple(r) for r in bm25_search(spark, SF).collect())


def test_streaming_bm25_equals_batch(spark, tmp_path):
    d = table(spark, SF, "documents")
    replay = str(tmp_path / "replay")
    os.makedirs(replay)
    for i, s in enumerate(_slices(spark)):
        s.coalesce(1).write.parquet(f"{replay}/batch_{i}")
    src = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{replay}/batch_*")
    )
    mon = Bm25IndexMaintainer(src.sparkSession)
    drain(src, str(tmp_path / "ckpt"), mon.update)
    assert mon.n_batches >= 4
    got = sorted(tuple(r) for r in mon.report().collect())
    assert len(got) > 0
    assert got == _want(spark)


def test_bm25_maintainer_replay_order_independent(spark):
    slices = _slices(spark)

    def run(order):
        mon = Bm25IndexMaintainer(spark)
        for i in order:
            mon.update(slices[i], i)
        return sorted(tuple(r) for r in mon.report().collect())

    fwd, rev = run([0, 1, 2, 3]), run([3, 2, 1, 0])
    assert fwd and fwd == rev


def test_bm25_maintainer_save_load_restart(spark, tmp_path):
    slices = _slices(spark)
    full = Bm25IndexMaintainer(spark)
    for i in range(4):
        full.update(slices[i], i)
    want = sorted(tuple(r) for r in full.report().collect())

    first = Bm25IndexMaintainer(spark)
    first.update(slices[0], 0)
    first.update(slices[1], 1)
    path = str(tmp_path / "idx")
    first.save(path)
    resumed = Bm25IndexMaintainer.load(spark, path)
    resumed.update(slices[2], 2)
    resumed.update(slices[3], 3)
    got = sorted(tuple(r) for r in resumed.report().collect())
    assert got and got == want


def test_bm25_maintainer_erasure_exact(spark):
    """Erasing docs == never having indexed them: feed all docs, erase
    the odd ones, and the report must equal a maintainer that only
    ever saw the even ones (per-doc state makes erasure exact, unlike
    the counts-only drift grids)."""
    d = table(spark, SF, "documents")
    even = d.where(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
    odd_ids = [
        r.doc_id
        for r in d.where(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
        .select("doc_id")
        .collect()
    ]

    all_mon = Bm25IndexMaintainer(spark)
    all_mon.update(d, 0)
    all_mon.erase_docs(odd_ids)

    even_mon = Bm25IndexMaintainer(spark)
    even_mon.update(even, 0)

    got = sorted(tuple(r) for r in all_mon.report().collect())
    want = sorted(tuple(r) for r in even_mon.report().collect())
    assert got and got == want
    assert all_mon.n_docs == even_mon.n_docs
    assert all_mon.sum_dl == even_mon.sum_dl


def test_bm25_maintainer_empty_state(spark):
    mon = Bm25IndexMaintainer(spark)
    assert mon.report().collect() == []
    mon.erase_docs([1])
