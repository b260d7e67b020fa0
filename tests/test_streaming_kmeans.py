"""Streaming K-means with decaying weights (reference
KMeansClusteringTestSuite analog: convergence + decay semantics)."""

from __future__ import annotations

from mvrs_dspa_spark.streaming.kmeans import StreamingKMeansModel, streaming_kmeans

SCHEMA = "pid long, vec array<double>"


def _blob(center, n, spread=1.0):
    # deterministic grid around the center (no RNG: reproducible)
    out = []
    for i in range(n):
        dx = ((i * 7) % 11 - 5) / 5.0 * spread
        dy = ((i * 13) % 11 - 5) / 5.0 * spread
        out.append([center[0] + dx, center[1] + dy])
    return out


def test_model_update_moves_centroids(spark):
    model = StreamingKMeansModel(centroids=[[1.0, 1.0], [9.0, 9.0]], decay=0.8)
    pts = _blob((0, 0), 30) + _blob((10, 10), 30)
    df = spark.createDataFrame([(i, v) for i, v in enumerate(pts)], SCHEMA)
    model.update(df, "vec")
    assert abs(model.centroids[0][0]) < 1.0 and abs(model.centroids[0][1]) < 1.0
    assert abs(model.centroids[1][0] - 10) < 1.0 and abs(model.centroids[1][1] - 10) < 1.0
    assert model.weights == [30.0, 30.0]

    # decay: an empty next batch decays weights, keeps centroids
    before = [list(c) for c in model.centroids]
    empty = spark.createDataFrame([], SCHEMA)
    model.update(empty, "vec")
    assert model.centroids == before
    assert model.weights == [24.0, 24.0]


def test_streaming_convergence_and_decay(spark, tmp_path):
    # 3 micro-batches; the second blob drifts from (10,10) to (14,14) —
    # decay lets centroid 1 follow the drift.
    batches = [
        _blob((0, 0), 40) + _blob((10, 10), 40),
        _blob((0, 0), 40) + _blob((12, 12), 40),
        _blob((0, 0), 40) + _blob((14, 14), 40),
    ]
    src = str(tmp_path / "km_in")
    for i, pts in enumerate(batches):
        df = spark.createDataFrame(
            [(i * 1000 + j, v) for j, v in enumerate(pts)], SCHEMA
        )
        df.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(src)
    )
    model = StreamingKMeansModel(centroids=[[1.0, 1.0], [9.0, 9.0]], decay=0.5)
    q = streaming_kmeans(stream, model, "vec", str(tmp_path / "km_ckpt"))
    assert q.awaitTermination(180)

    assert model.batches_seen == 3
    # stable blob: centroid 0 stays at the origin
    assert abs(model.centroids[0][0]) < 1.0
    # drifting blob: centroid 1 tracked past the historical mean (12)
    # toward the latest position (14) because old batches are decayed
    assert model.centroids[1][0] > 12.0
    assert model.weights[0] > 0 and model.weights[1] > 0

    assigned = model.assign(
        spark.createDataFrame([(0, [0.5, 0.5]), (1, [13.5, 13.9])], SCHEMA), "vec"
    ).collect()
    got = {r.pid: r.cluster for r in assigned}
    assert got == {0: 0, 1: 1}


def test_parse_parameter_lines():
    import pytest

    from mvrs_dspa_spark.streaming.kmeans import parse_parameter_line

    assert parse_parameter_line("k = 4") == [("k", 4)]
    assert parse_parameter_line("decay = 0.85") == [("decay", 0.85)]
    assert parse_parameter_line("label:3 = Outlier") == [("label", (3, "outlier"))]
    assert parse_parameter_line("# comment") == []
    assert parse_parameter_line("   ") == []
    for bad in ("k 4", "label:x = y", "frobnicate = 1"):
        with pytest.raises(ValueError):
            parse_parameter_line(bad)


def test_ensure_k_split_and_shrink():
    model = StreamingKMeansModel(
        centroids=[[0.0, 0.0], [10.0, 10.0]], weights=[1.0, 9.0]
    )
    model.ensure_k(4)
    assert model.k == 4
    # heaviest cluster (idx 1) split first: twins straddle (10,10) with
    # half the weight each; second split divides one of those twins
    assert sorted(model.weights) == [1.0, 2.25, 4.5, 4.5] or sorted(
        model.weights
    ) == [1.0, 2.25, 2.25, 4.5]
    for c in model.centroids[1:]:
        assert abs(c[0] - 10.0) < 1e-9 and abs(c[1] - 10.0) < 1e-9
    assert len({tuple(c) for c in model.centroids}) == 4  # twins distinct

    model.ensure_k(2)
    assert model.k == 2
    assert len(model.weights) == 2
    # survivors are the heaviest two
    assert min(model.weights) >= 1.0


def test_collapse_duplicates_restores_k():
    model = StreamingKMeansModel(
        centroids=[[5.0, 5.0], [5.0, 5.0], [0.0, 0.0]],
        weights=[3.0, 1.0, 2.0],
    )
    merged = model.collapse_duplicates()
    assert merged == 1
    assert model.k == 3
    assert len({tuple(c) for c in model.centroids}) == 3
    # merged weight 4.0 was re-split in half across the twins
    assert sorted(model.weights) == [2.0, 2.0, 2.0]


def test_control_file_updates_mid_stream(spark, tmp_path):
    # reference ClusteringParameter/KMeansClusterFunction analog: k and
    # decay are hot-reloaded from a control file between micro-batches
    import json
    import os
    import time

    control = str(tmp_path / "control.txt")
    with open(control, "w") as f:
        f.write("# initial params\ndecay = 0.5\n")

    src = str(tmp_path / "kmc_in")
    os.makedirs(src)
    # batch 1 makes the (10,10) cluster clearly heaviest, so the k=3
    # split targets it; the later batches introduce a blob at (20,0)
    # that the hi-offset twin peels off to over two Lloyd updates
    later = _blob((0, 0), 30) + _blob((10, 10), 30) + _blob((20, 0), 30)
    batches = [
        _blob((0, 0), 30) + _blob((10, 10), 60),
        later,
        later,
        later,
    ]
    applied = []
    model = StreamingKMeansModel(centroids=[[1.0, 1.0], [9.0, 9.0]], decay=0.9)

    # run batch 1, then rewrite the control file, then the rest — one
    # availableNow run per batch against the same checkpoint so the
    # rewrite is strictly between micro-batches
    for i, pts in enumerate(batches):
        df = spark.createDataFrame(
            [(i * 1000 + j, v) for j, v in enumerate(pts)], SCHEMA
        )
        df.coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        q = streaming_kmeans(
            stream, model, "vec", str(tmp_path / "kmc_ckpt"), control_path=control
        )
        assert q.awaitTermination(180)
        applied.append((model.k, model.decay))
        if i == 0:
            with open(control, "w") as f:
                f.write("decay = 0.25\nk = 3\nlabel:2 = newcomers\n")

    assert applied[0] == (2, 0.5)   # first file applied before batch 1
    assert applied[1] == (3, 0.25)  # rewrite applied before batch 2
    assert model.labels == {2: "newcomers"}
    # the split third centroid separated and captured the new blob
    assert any(abs(c[0] - 20.0) < 3.0 and abs(c[1]) < 3.0 for c in model.centroids)

    assigned = model.assign(
        spark.createDataFrame([(0, [20.0, 0.0])], SCHEMA), "vec"
    ).collect()
    assert assigned[0].cluster_label in (None, "newcomers")
