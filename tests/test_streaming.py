"""Structured-Streaming operators: the streamed result must equal the
batch computation of the same frames (availableNow trigger -> memory
sink vs a plain batch DataFrame over the same input)."""

from __future__ import annotations

import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from spatial4n_spark.functions.udfs import geohash_udf
from spatial4n_spark.streaming import (
    events_as_stream,
    streaming_radius_alerts,
    streaming_tile_counts,
)
from spatial4n_spark.streaming.tile_stream import derive_coords

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-000.parquet")
    return str(d)


def _run_stream(df, tmp_base: str):
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append" if df.isStreaming else "append")
        .option("checkpointLocation", f"{tmp_base}/ckpt_{name}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return name


@pytest.mark.parametrize("index", ["geohash", "s2", "h3"])
def test_streaming_tile_counts_equals_batch(spark, events_dir, tmp_path, index):
    stream = events_as_stream(spark, events_dir)
    agg = streaming_tile_counts(
        stream, level=3, window="1 hour", watermark="0 seconds", index=index
    )
    # complete/update would emit partial windows; with availableNow +
    # append, only watermark-finalized windows emit — use a huge advance
    # by re-running in 'update' mode instead: simplest exact comparison is
    # 'complete' mode (aggregations support it)
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory").queryName(name).outputMode("complete")
        .option("checkpointLocation", f"{tmp_path}/c1")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    got = spark.sql(f"select window.start as ws, cell, n, sum_value from {name}").toPandas()

    batch = derive_coords(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    if index == "s2":
        from spatial4n_spark.functions.udfs import s2_udf

        enc = s2_udf(3)
    elif index == "h3":
        from spatial4n_spark.functions.udfs import h3_udf

        enc = h3_udf(3)
    else:
        enc = geohash_udf(3)
    batch = batch.withColumn("cell", enc(F.col("lat"), F.col("lon")))
    want = (
        batch.groupBy(F.window("ts", "1 hour").alias("window"), "cell")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("window.start").alias("ws"), "cell", "n", "sum_value")
        .toPandas()
    )
    key = ["ws", "cell"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want) and len(got) > 0
    assert (got["n"].values == want["n"].values).all()
    assert got["sum_value"].values == pytest.approx(want["sum_value"].values)


def test_streaming_radius_alerts_equals_batch(spark, events_dir, tmp_path):
    centers = [("a1", 2.3125, 48.875, 500.0), ("a2", 179.9375, -16.5, 800.0)]
    stream = events_as_stream(spark, events_dir)
    out = streaming_radius_alerts(stream, centers).select("alert_id", "event_id")
    name = _run_stream(out, str(tmp_path))
    got = {(r["alert_id"], r["event_id"]) for r in spark.sql(f"select * from {name}").collect()}

    batch = derive_coords(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    want = {
        (r["alert_id"], r["event_id"])
        for r in streaming_radius_alerts(batch, centers).select("alert_id", "event_id").collect()
    }
    assert got == want and len(want) > 0


def test_stream_is_incremental(spark, tmp_path):
    """Two files arriving over two triggers both land in the sink."""
    import pandas as pd

    d = tmp_path / "incr"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt_incr")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "f1.parquet")
    stream = events_as_stream(spark, str(d), max_files_per_trigger=1)

    out_dir = str(tmp_path / "out_incr")

    def run():
        # file sink: the production shape (memory sink cannot resume)
        q = (
            stream.select("event_id").writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)  # shared offsets checkpoint
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        return spark.read.parquet(out_dir).count()

    n1 = run()
    # second batch of data arrives; a resumed run picks up only the new file
    pdf = pd.read_parquet(f"{SF_DIR}/events.parquet").head(10)
    pdf["event_id"] += 10_000_000
    pdf.to_parquet(d / "f2.parquet")
    n2 = run()
    assert n1 == 1000
    assert n2 == 1010  # resumed run appended ONLY the new file's rows


def test_stateful_sessionization(spark, tmp_path):
    """applyInPandasWithState sessions: a later micro-batch closes earlier
    sessions; state persists across batches via the checkpoint."""
    import pandas as pd
    from spatial4n_spark.streaming.sessions import spatial_sessions
    from spatial4n_spark.streaming.tile_stream import EVENTS_SCHEMA, derive_coords

    d = tmp_path / "sess"
    d.mkdir()
    ckpt = str(tmp_path / "sess_ckpt")
    t0 = pd.Timestamp("2026-01-01 00:00:00")

    def mk(rows, path):
        df = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        # Spark's timestamp reader wants annotated us, not pandas' raw ns
        df["ts"] = df["ts"].astype("datetime64[us]")
        df.to_parquet(path)

    # batch 1: user 1 has two close events; user 2 one event
    mk(
        [
            (1, t0, 1, "m", 1.0, ""),
            (2, t0 + pd.Timedelta(minutes=10), 1, "m", 1.0, ""),
            (3, t0, 2, "m", 1.0, ""),
        ],
        d / "f1.parquet",
    )

    def run(qname):
        raw = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )
        out = spatial_sessions(derive_coords(raw), gap_minutes=30.0)
        q = (
            out.writeStream.format("parquet")
            .option("path", str(tmp_path / "sess_out"))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        try:
            return spark.read.parquet(str(tmp_path / "sess_out")).toPandas()
        except Exception:
            return pd.DataFrame()

    out1 = run("s1")
    assert len(out1) == 0  # nothing closed yet

    # batch 2: user 1 returns after 2h -> closes the first session
    mk([(4, t0 + pd.Timedelta(hours=2), 1, "m", 1.0, "")], d / "f2.parquet")
    out2 = run("s2")
    assert len(out2) == 1
    r = out2.iloc[0]
    assert r["user_id"] == 1 and r["n_events"] == 2
    assert pd.Timestamp(r["session_start"]) == t0
    assert pd.Timestamp(r["session_end"]) == t0 + pd.Timedelta(minutes=10)
    assert r["n_cells"] >= 1 and isinstance(r["first_cell"], str)


@pytest.fixture(scope="module")
def images_dir(tmp_path_factory, spark):
    """Two parquet files of generated images with event timestamps —
    streamed over two triggers."""
    from spatial4n_spark.sources.images import images_df

    d = tmp_path_factory.mktemp("images_stream")
    base = images_df(spark, 2000, with_bytes=True, partitions=2)
    with_ts = base.withColumn(
        "ts",
        F.to_timestamp(F.lit("2026-01-01 00:00:00"))
        + (F.col("phash") % 7200).cast("int") * F.expr("INTERVAL 1 SECOND"),
    )
    with_ts.where(F.col("phash") % 2 == 0).write.parquet(f"{d}/f0")
    with_ts.where(F.col("phash") % 2 != 0).write.parquet(f"{d}/f1")
    # flatten: file source wants a flat dir of parquet files
    import glob
    import shutil as sh

    flat = tmp_path_factory.mktemp("images_stream_flat")
    n = 0
    for f in glob.glob(f"{d}/f*/part-*.parquet"):
        sh.copy(f, flat / f"part-{n:03d}.parquet")
        n += 1
    return str(flat)


def test_streaming_chips_duplicate_ids_keep_own_ts(spark):
    """A replayed stream record (same image_id, different ts) must keep its
    OWN event time on its chips — the round-2 dict lookup gave every copy
    the last row's ts (round-3 ADVICE fix)."""
    import datetime

    import pandas as pd

    from spatial4n_spark.sources.images import images_df
    from spatial4n_spark.streaming.image_stream import (
        IMAGES_TS_SCHEMA,
        streaming_image_chips,
    )

    base = images_df(spark, 3, with_bytes=True, partitions=1).collect()
    t1 = datetime.datetime(2026, 1, 1, 0, 0, 0)
    t2 = datetime.datetime(2026, 1, 1, 5, 0, 0)
    data = [tuple(r) + (t1,) for r in base]
    # replay base[1] with a different event time, adjacent to the original
    data.insert(2, tuple(base[1]) + (t2,))
    df = spark.createDataFrame(data, IMAGES_TS_SCHEMA).coalesce(1)
    chips = streaming_image_chips(df, level=4).toPandas()
    dup_id = base[1]["image_id"]
    one = chips[chips.image_id == dup_id]
    per_ts = one.groupby("ts").size()
    assert set(per_ts.index) == {pd.Timestamp(t1), pd.Timestamp(t2)}
    assert per_ts.nunique() == 1  # equal chip count per occurrence
    assert (chips[chips.image_id != dup_id].ts == pd.Timestamp(t1)).all()


def test_streaming_chips_keep_own_row_ts_at_odd_chip_size(spark):
    """At a chip size that cuts edge chips (12 px over 8-32 px images)
    every chip carries its own input row's ts, a replayed row included,
    and each row yields its full chip grid."""
    import datetime
    import math

    from spatial4n_spark.sources.images import images_df
    from spatial4n_spark.streaming.image_stream import (
        IMAGES_TS_SCHEMA,
        streaming_image_chips,
    )

    base = images_df(spark, 6, with_bytes=True, partitions=1).collect()
    t0 = datetime.datetime(2026, 1, 1)
    data = [tuple(r) + (t0 + datetime.timedelta(hours=i),) for i, r in enumerate(base)]
    data.insert(3, tuple(base[2]) + (t0 + datetime.timedelta(hours=50),))
    df = spark.createDataFrame(data, IMAGES_TS_SCHEMA).coalesce(1)
    chips = streaming_image_chips(df, level=4, chip_px=12).toPandas()
    got = chips.groupby(["image_id", "ts"]).size().to_dict()
    want = {
        (r[0], r[-1]): math.ceil(r[2] / 12) * math.ceil(r[3] / 12) for r in data
    }
    assert {(i, t.to_pydatetime()): n for (i, t), n in got.items()} == want
    assert (chips["chip_w"] < 12).any()


def test_streaming_image_mosaics_equals_batch(spark, images_dir, tmp_path):
    """Streamed decode->gate->chip->windowed mosaic == batch over the same
    frames (exact integer sums; bit-equality by construction)."""
    from spatial4n_spark.streaming.image_stream import (
        images_as_stream,
        streaming_image_chips,
        streaming_image_mosaics,
    )

    stream = images_as_stream(spark, images_dir, max_files_per_trigger=1)
    agg = streaming_image_mosaics(stream, level=4, window="1 hour")
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory").queryName(name).outputMode("complete")
        .option("checkpointLocation", f"{tmp_path}/cimg")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    got = spark.sql(
        f"select window.start as ws, cell, n_chips, n_images, sum_px, sum_val from {name}"
    ).toPandas()

    batch_imgs = spark.read.parquet(images_dir)
    chips = streaming_image_chips(batch_imgs, level=4)
    want = (
        chips.groupBy(F.window("ts", "1 hour").alias("window"), "cell")
        .agg(
            F.count(F.lit(1)).alias("n_chips"),
            F.sum(((F.col("chip_row") == 0) & (F.col("chip_col") == 0)).cast("long")).alias("n_images"),
            F.sum(F.col("chip_w") * F.col("chip_h")).alias("sum_px"),
            F.sum("chip_sum").alias("sum_val"),
        )
        .select(F.col("window.start").alias("ws"), "cell", "n_chips", "n_images", "sum_px", "sum_val")
        .toPandas()
    )
    key = ["ws", "cell"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want) and len(got) > 0
    for c in ["n_chips", "n_images", "sum_px", "sum_val"]:
        assert (got[c].values == want[c].values).all(), c


@pytest.mark.parametrize("index", ["geohash", "s2", "h3"])
def test_streaming_pip_join_equals_batch(spark, events_dir, tmp_path, index):
    """The flagship PIP join run as a stream-static join over the event
    stream returns exactly the batch join's rows — structurally the same
    plan (stateless), pinned here over both cell backends."""
    from spatial4n_spark.streaming import streaming_pip_join
    from spatial4n_spark.suite import layer

    stream = events_as_stream(spark, events_dir)
    hits = streaming_pip_join(stream, layer(), level=3, index=index).select(
        "event_id", "poly_id"
    )
    name = _run_stream(hits, str(tmp_path))
    got = spark.sql(f"select event_id, poly_id from {name}").toPandas()

    from spatial4n_spark.operators.spatial_join import spatial_join_points_polygons

    batch = derive_coords(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    want = (
        spatial_join_points_polygons(batch, layer(), level=3, index=index)
        .select("event_id", "poly_id")
        .toPandas()
    )
    key = ["event_id", "poly_id"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(want) > 0
    assert got.equals(want)


def test_streaming_polygon_counts_equals_batch(spark, events_dir, tmp_path):
    """Watermarked per-polygon windowed rollup == the batch groupBy over
    the same joined frames."""
    from spatial4n_spark.streaming import streaming_polygon_counts
    from spatial4n_spark.suite import layer

    stream = events_as_stream(spark, events_dir)
    agg = streaming_polygon_counts(
        stream, layer(), window="1 hour", watermark="0 seconds", level=3
    )
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory").queryName(name).outputMode("complete")
        .option("checkpointLocation", f"{tmp_path}/cpoly")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    got = spark.sql(
        f"select window.start as ws, poly_id, n, sum_value from {name}"
    ).toPandas()

    from spatial4n_spark.operators.spatial_join import spatial_join_points_polygons

    batch = derive_coords(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    want = (
        spatial_join_points_polygons(batch, layer(), level=3)
        .groupBy(F.window("ts", "1 hour").alias("window"), "poly_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("window.start").alias("ws"), "poly_id", "n", "sum_value")
        .toPandas()
    )
    key = ["ws", "poly_id"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(want) > 0
    assert got.equals(want)


@pytest.mark.parametrize("index", ["geohash", "s2"])
def test_streaming_tile_pyramid_equals_batch(spark, events_dir, tmp_path, index):
    """The one-stateful-shuffle streaming pyramid equals a batch
    computation of the same windows, with the coarse levels checked
    INDEPENDENTLY against a direct encode at that level (no shared
    truncation code), and the rollup invariant checked in-stream."""
    from spatial4n_spark.cellindex import cell_backend
    from spatial4n_spark.streaming import streaming_tile_pyramid

    stream = events_as_stream(spark, events_dir)
    agg = streaming_tile_pyramid(
        stream, level=3, min_level=1, window="1 hour",
        watermark="0 seconds", index=index,
    )
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", f"{tmp_path}/cp")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    got = spark.sql(
        f"select window.start as ws, lvl, cell, n, sum_value from {name}"
    ).toPandas()
    assert len(got) > 0

    # independent batch twin per level: encode DIRECTLY at that level
    # (exact cell nesting makes direct encode == parent truncation)
    batch = derive_coords(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    batch = batch.withColumn("ws", F.date_trunc("hour", F.col("ts")))
    for L in (1, 2, 3):
        enc = cell_backend(index).udf(L)
        want = (
            batch.withColumn("cell", enc(F.col("lat"), F.col("lon")))
            .groupBy("ws", "cell")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
            .toPandas()
        )
        sub = got[got["lvl"] == L]
        key = ["ws", "cell"]
        sub = sub.sort_values(key).reset_index(drop=True)
        want = want.sort_values(key).reset_index(drop=True)
        assert len(sub) == len(want) and len(sub) > 0, L
        assert (sub["n"].values == want["n"].values).all(), L
        assert abs(sub["sum_value"].values - want["sum_value"].values).max() < 1e-6, L
    # rollup invariant inside the streamed result itself
    for L in (1, 2):
        assert got[got["lvl"] == L]["n"].sum() == got[got["lvl"] == 3]["n"].sum()


def test_streaming_tile_pyramid_rejects_h3(spark, events_dir):
    from spatial4n_spark.streaming import streaming_tile_pyramid

    with pytest.raises(ValueError, match="nest"):
        streaming_tile_pyramid(events_as_stream(spark, events_dir), index="h3")
