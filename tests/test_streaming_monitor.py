"""The shared monitor protocol (`streaming/monitor.py`), checked on
every `Monitor` subclass: an empty micro-batch changes nothing, and a
monitor saved after two of four batches, reloaded and fed the last
two holds exactly the state of the uninterrupted run. A guard keeps
every foreachBatch monitor in `streaming/*_stream.py` on the base."""

from __future__ import annotations

import importlib
import inspect
import pathlib

import pytest
from pyspark.sql import functions as F

import mvrs_dspa_spark.streaming as streaming_pkg
from mvrs_dspa_spark.streaming.monitor import Monitor
from mvrs_dspa_spark.tables import table

SF = "/root/testdata/sf0.001"

# driver-side numpy state, no Spark frames to checkpoint or save
NOT_ON_BASE = {"HeavyHitterMonitor"}


def _stream_modules():
    root = pathlib.Path(streaming_pkg.__file__).parent
    return [
        importlib.import_module(f"{streaming_pkg.__name__}.{p.stem}")
        for p in sorted(root.glob("*_stream.py"))
    ]


def _monitor_classes():
    _stream_modules()
    found, todo = {}, list(Monitor.__subclasses__())
    while todo:
        cls = todo.pop()
        found[cls.__name__] = cls
        todo.extend(cls.__subclasses__())
    return [found[n] for n in sorted(found)]


def _split_us(ev) -> int:
    r = ev.agg(
        F.min(F.unix_micros("ts")).alias("mn"),
        F.max(F.unix_micros("ts")).alias("mx"),
    ).collect()[0]
    return r.mn + (r.mx - r.mn) // 2


def _setup(spark, name):
    """(input frame, id column to slice it on, constructor args)."""
    if name == "EmbeddingDriftMonitor":
        return table(spark, SF, "embeddings"), "vec_id", ()
    if name == "AnnMaintenanceMonitor":
        from tests.test_streaming_ann_maintenance import _trained_cents

        emb = table(spark, SF, "embeddings").select("vec_id", "embedding")
        return emb, "vec_id", (_trained_cents(spark),)
    if name == "Bm25IndexMaintainer":
        return table(spark, SF, "documents"), "doc_id", ()
    if name == "AlsFoldInServer":
        from tests.test_streaming_als import _frozen_items, _interactions

        inter = _interactions(spark).orderBy("event_id").limit(400)
        return inter, "event_id", (_frozen_items(spark),)
    ev = table(spark, SF, "events")
    split = (_split_us(ev),)
    args = {
        "PsiMonitor": split,
        "WassersteinMonitor": split,
        "CaptureMonitor": split,
    }.get(name, ())
    return ev, "event_id", args


def _canon(v):
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _rows(df):
    return sorted((_canon(tuple(r)) for r in df.collect()), key=repr)


@pytest.mark.parametrize(
    "cls", _monitor_classes(), ids=lambda c: c.__name__
)
def test_monitor_protocol_empty_batch_and_restart(spark, tmp_path, cls):
    df, id_col, args = _setup(spark, cls.__name__)
    slices = [
        df.where(F.pmod(F.col(id_col), F.lit(4)) == k) for k in range(4)
    ]

    mon = cls(spark, *args)
    mon.update(slices[0], 0)
    before = {attr: getattr(mon, attr) for attr in cls.STATE}
    mon.update(df.limit(0), 1)
    assert mon.n_batches == 1
    for attr, frame in before.items():
        assert getattr(mon, attr) is frame, attr

    mon.update(slices[1], 2)
    path = str(tmp_path / "state")
    mon.save(path)
    resumed = cls.load(spark, path, *args)
    for k in (2, 3):
        mon.update(slices[k], k + 1)
        resumed.update(slices[k], k + 1)
    for attr in cls.STATE:
        want = _rows(getattr(mon, attr))
        assert want, attr
        assert _rows(getattr(resumed, attr)) == want, attr


def test_every_stream_monitor_is_built_on_the_base():
    seen = set()
    for mod in _stream_modules():
        for name, cls in inspect.getmembers(mod, inspect.isclass):
            if cls.__module__ != mod.__name__:
                continue
            params = inspect.signature(cls.__init__).parameters
            assert not [p for p in params if p.startswith("compact_")], name
            update = getattr(cls, "update", None)
            if update is None or list(
                inspect.signature(update).parameters
            ) != ["self", "batch_df", "batch_id"]:
                continue
            seen.add(name)
            if name in NOT_ON_BASE:
                assert not issubclass(cls, Monitor), name
            else:
                assert issubclass(cls, Monitor), name
    assert NOT_ON_BASE <= seen
