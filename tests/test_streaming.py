"""Structured Streaming surface: incremental tiling over a growing
spans table equals the batch result."""

from __future__ import annotations

import pandas as pd

import kml2geojson_spark as k2gs
from kml2geojson_spark.streaming import (
    stream_documents,
    stream_tile_counts,
    stream_to_lineage,
)
from kml2geojson_spark.spatial import tile_assignments_from_docs


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def test_stream_tile_counts_equals_batch(spark, tmp_path):
    src = str(tmp_path / "incoming")
    docs = k2gs.synthesize_documents_kml(spark, 40, seed=21, max_placemarks=8)
    docs.write.parquet(src)

    stream = stream_documents(spark, src, max_files_per_trigger=2)
    assert stream.isStreaming
    tiles = stream_tile_counts(stream, res=6)
    q = (tiles.writeStream.format("memory").queryName("tiles_mem")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = spark.sql("SELECT * FROM tiles_mem").toPandas()
    batch = (tile_assignments_from_docs(spark.read.parquet(src), 6)
             .select("cell_id", "n_features").toPandas())
    assert _sorted(got).equals(_sorted(batch))


def test_stream_to_lineage_foreachbatch(spark, tmp_path):
    src = str(tmp_path / "incoming2")
    docs = k2gs.synthesize_documents_kml(spark, 20, seed=22, max_placemarks=5)
    docs.write.parquet(src)

    writer = stream_to_lineage(
        stream_documents(spark, src), res=6,
        out_root=str(tmp_path / "stages"),
        checkpoint_dir=str(tmp_path / "sck"))
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(120)

    from kml2geojson_spark.lineage import LineageLog
    log = LineageLog(tmp_path / "stages")
    latest = log.latest("tiles")
    assert latest is not None and latest["status"] == "committed"
    assert latest["total_rows"] > 0
    assert all(p["cells"] is not None for p in latest["partitions"])


def test_stream_windowed_counts_matches_batch(spark, tmp_path):
    """Watermarked tumbling windows over a static directory processed
    as a stream equal the batch group-by (no late data in the corpus)."""
    from pyspark.sql import functions as F
    from kml2geojson_spark.streaming import stream_events, stream_windowed_counts

    src = str(tmp_path / "ev")
    e = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
         .withColumn("ts", F.col("ts").cast("timestamp")))
    e.write.parquet(src)

    out = stream_windowed_counts(stream_events(spark, src))
    q = (out.writeStream.format("memory").queryName("win_mem")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "wck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM win_mem").toPandas()

    batch = (e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.round(F.sum(F.col("value") * 100.0)).cast("long")
                  .alias("value_c"))
             .select(F.col("w.start").alias("window_start"), "event_type",
                     "n_events", "value_c")
             .toPandas())
    # append mode only emits windows sealed by the watermark; every
    # emitted window must match the batch result exactly, and most
    # windows must have been sealed
    merged = got.merge(batch, on=["window_start", "event_type"],
                       suffixes=("_s", "_b"))
    assert len(merged) == len(got) > 0
    assert (merged["n_events_s"] == merged["n_events_b"]).all()
    assert (merged["value_c_s"] == merged["value_c_b"]).all()


def test_stream_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState sessionization: closed sessions match the
    batch window-lag sessionization for sessions sealed by event time."""
    import pandas as pd
    from pyspark.sql import functions as F
    from kml2geojson_spark.streaming import stream_events, stream_sessionize

    src = str(tmp_path / "ev2")
    base = pd.Timestamp("2024-01-01")
    rows = []
    eid = 0
    for user in range(5):
        t = base + pd.Timedelta(minutes=user)
        for s in range(3):          # 3 sessions per user
            for k in range(4):      # 4 events each, 5 min apart
                rows.append((eid, t, user, "click", 1.0, "{}"))
                eid += 1
                t += pd.Timedelta(minutes=5)
            t += pd.Timedelta(minutes=90)   # gap > 30 min closes session
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                      "event_type", "value", "props"])
    spark.createDataFrame(pdf).write.parquet(src)

    out = stream_sessionize(stream_events(spark, src), gap_minutes=30)
    q = (out.writeStream.format("memory").queryName("sess_mem")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "sck2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM sess_mem").toPandas()

    # each user: sessions 1 and 2 close via the gap; session 3 stays in
    # state (no timeout fires in availableNow) -> 2 closed per user
    assert len(got) == 10
    assert (got.groupby("user_id").size() == 2).all()
    assert (got["n_events"] == 4).all()
    dur = got["session_end_us"] - got["session_start_us"]
    assert (dur == 15 * 60_000_000).all()


def test_stream_sessionize_late_event_does_not_regress(spark, tmp_path):
    """A late (out-of-order, within-watermark) event arriving in a
    LATER micro-batch must merge into the open session without moving
    its frontier backwards — the next on-time event must not spuriously
    split the session."""
    import pandas as pd
    from kml2geojson_spark.streaming import stream_events, stream_sessionize

    src = tmp_path / "ev3"
    src.mkdir()
    ckpt = str(tmp_path / "sck3")
    base = pd.Timestamp("2024-01-01 12:00:00")

    def write_batch(name, rows):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                          "event_type", "value", "props"])
        spark.createDataFrame(pdf).coalesce(1).write.parquet(
            str(src / name))

    sink = str(tmp_path / "sess_out")

    def run_pass():
        out = stream_sessionize(
            stream_events(spark, str(src) + "/*"), gap_minutes=30)
        q = (out.writeStream.format("parquet")
             .option("path", sink)
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    # batch 1: events at T and T+20min (one open session)
    write_batch("b1", [(0, base, 1, "click", 1.0, "{}"),
                       (1, base + pd.Timedelta(minutes=20), 1, "click", 1.0, "{}")])
    run_pass()
    # batch 2 (same checkpoint → state restored): a LATE event at
    # T+5min, then an on-time event at T+40min (gap to frontier 20min)
    write_batch("b2", [(2, base + pd.Timedelta(minutes=5), 1, "click", 1.0, "{}"),
                       (3, base + pd.Timedelta(minutes=40), 1, "click", 1.0, "{}")])
    run_pass()
    got = spark.read.parquet(sink).toPandas()
    # everything is ONE session (max true gap is 20 min < 30); nothing
    # may have been emitted as closed
    assert len(got) == 0


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Watermarked purchase-click stream-stream join equals the batch
    interval join over a static directory processed as a stream."""
    from pyspark.sql import functions as F
    from kml2geojson_spark.streaming import (stream_events,
                                             stream_purchase_click_join)

    src = str(tmp_path / "ev4")
    e = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
         .withColumn("ts", F.col("ts").cast("timestamp")))
    e.write.parquet(src)

    out = stream_purchase_click_join(stream_events(spark, src),
                                     join_window_minutes=60)
    q = (out.writeStream.format("memory").queryName("ssj_mem")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "jck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = spark.sql("SELECT * FROM ssj_mem").toPandas()

    p = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts"))
    c = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts"))
    batch = (p.join(c, (F.col("p_user") == F.col("c_user"))
                    & (F.col("c_ts") <= F.col("p_ts"))
                    & (F.col("c_ts") >= F.col("p_ts")
                       - F.expr("INTERVAL 60 MINUTES")))
             .select(F.col("p_user").alias("user_id"), "purchase_id",
                     "click_id")
             .toPandas())
    gk = ["user_id", "purchase_id", "click_id"]
    assert len(got) == len(batch) > 0
    assert (sorted(map(tuple, got[gk].values.tolist()))
            == sorted(map(tuple, batch[gk].values.tolist())))
    assert (got["gap_us"] >= 0).all()


def test_stream_dedup_new_docs_across_batches(spark, tmp_path):
    """Exact-dup suppression with cross-batch state: a duplicate
    arriving in a LATER micro-batch is suppressed; each content emits
    exactly one keeper."""
    import kml2geojson_spark as k2gs
    from pyspark.sql import functions as F
    from kml2geojson_spark.streaming import (stream_dedup_new_docs,
                                             stream_documents)

    import glob
    import os

    src = str(tmp_path / "dd")
    base = k2gs.synthesize_documents_kml(spark, 6, seed=51, max_placemarks=3)
    # file 1: docs as-is; file 2: same CONTENTS under new doc ids
    base.coalesce(1).write.parquet(src)
    first_files = set(glob.glob(src + "/*.parquet"))
    dup = base.coalesce(1).select(
        F.concat(F.lit("zz-copy-"), F.col("doc_id")).alias("doc_id"), "spans")
    dup.write.mode("append").parquet(src)
    # the file source orders batches by modification time: force the
    # copy file strictly LATER so batch order (and thus which batch the
    # duplicates arrive in) is deterministic on coarse-mtime filesystems
    later = max(os.path.getmtime(f) for f in first_files) + 10
    for f in set(glob.glob(src + "/*.parquet")) - first_files:
        os.utime(f, (later, later))

    out = stream_dedup_new_docs(
        stream_documents(spark, src, max_files_per_trigger=1))
    q = (out.writeStream.format("memory").queryName("dd_mem")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ddck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM dd_mem").collect()
    # one keeper per distinct content; the copy file is mtime-forced
    # into a LATER batch, so every keeper is an original id
    assert len(rows) == 6
    hashes = [r["content_hash"] for r in rows]
    assert len(set(hashes)) == 6
    assert all(not r["doc_id"].startswith("zz-copy-") for r in rows)


def test_stream_dedup_ttl_reemits_after_horizon(spark, tmp_path):
    """With ttl_minutes set, state is event-time-bounded: a content
    hash whose last sighting fell more than TTL behind the watermark is
    dropped from state, so a recurrence AFTER the horizon is re-emitted
    (and within the horizon still suppressed)."""
    import os

    import kml2geojson_spark as k2gs
    from pyspark.sql import functions as F
    from kml2geojson_spark.engine import DOCUMENTS_KML_SCHEMA
    from kml2geojson_spark.streaming import stream_dedup_new_docs

    src = str(tmp_path / "ddttl")

    def write_batch(stamp, doc_id, content, ts):
        df = (spark.createDataFrame([(doc_id, k2gs.pack_spans(content))],
                                    k2gs.spans_schema())
              .withColumn("ingest_ts",
                          F.lit(ts).cast("timestamp")))
        sub = str(tmp_path / f"stage{stamp}")
        df.coalesce(1).write.parquet(sub)
        import glob
        import shutil
        os.makedirs(src, exist_ok=True)
        for i, f in enumerate(sorted(glob.glob(sub + "/*.parquet"))):
            dst = f"{src}/b{stamp}_{i}.parquet"
            shutil.copy(f, dst)
            os.utime(dst, (1_700_000_000 + stamp * 100,) * 2)

    A = "<kml><Placemark><name>A</name></Placemark></kml>"
    B = "<kml><Placemark><name>B</name></Placemark></kml>"
    C = "<kml><Placemark><name>C</name></Placemark></kml>"
    # batch 1: A at 10:00 (timeout arms at 11:00)
    write_batch(1, "a1", A, "2024-01-01 10:00:00")
    # batch 2: duplicate of A at 10:20 — within horizon: suppressed,
    # timeout refreshed to 11:20; watermark after this batch = 10:20
    write_batch(2, "a-dup", A, "2024-01-01 10:20:00")
    # batch 3: B at 12:00 — watermark after = 12:00 (> 11:20)
    write_batch(3, "b1", B, "2024-01-01 12:00:00")
    # batch 4: C at 12:10 — A gets NO data this batch and the watermark
    # (12:00) has passed its timeout (11:20): state for A is removed
    write_batch(4, "c1", C, "2024-01-01 12:10:00")
    # batch 5: A recurs at 12:20 — after the horizon: RE-EMITTED
    write_batch(5, "a2-late", A, "2024-01-01 12:20:00")

    schema = DOCUMENTS_KML_SCHEMA + ", ingest_ts timestamp"
    docs = (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src))
    out = stream_dedup_new_docs(docs, ttl_minutes=60.0)
    q = (out.writeStream.format("memory").queryName("ddttl_mem")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ddttlck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM ddttl_mem ORDER BY doc_id").collect()
    got = [(r["content_hash"], r["doc_id"]) for r in rows]
    keepers = {r["doc_id"] for r in rows}
    # a-dup suppressed (within horizon); a2-late re-emitted (after it)
    assert keepers == {"a1", "b1", "c1", "a2-late"}, got
    h = {r["doc_id"]: r["content_hash"] for r in rows}
    assert h["a1"] == h["a2-late"]  # same content, two emissions


def test_stream_dedup_ttl_survives_null_event_times(spark, tmp_path):
    """A batch whose rows carry NULL event times must not crash the
    TTL query (NaT.value is INT64_MIN — an illegal timeout timestamp);
    the row still dedups, it just arms no timeout."""
    import os

    import kml2geojson_spark as k2gs
    from pyspark.sql import functions as F
    from kml2geojson_spark.engine import DOCUMENTS_KML_SCHEMA
    from kml2geojson_spark.streaming import stream_dedup_new_docs

    src = str(tmp_path / "ddnull")
    os.makedirs(src, exist_ok=True)
    A = "<kml><Placemark><name>NA</name></Placemark></kml>"
    df = (spark.createDataFrame([("n1", k2gs.pack_spans(A))],
                                k2gs.spans_schema())
          .withColumn("ingest_ts", F.lit(None).cast("timestamp")))
    df.coalesce(1).write.parquet(str(tmp_path / "stage_null"))
    import glob
    import shutil
    for i, f in enumerate(sorted(glob.glob(str(tmp_path / "stage_null")
                                           + "/*.parquet"))):
        shutil.copy(f, f"{src}/b0_{i}.parquet")

    schema = DOCUMENTS_KML_SCHEMA + ", ingest_ts timestamp"
    docs = (spark.readStream.schema(schema).parquet(src))
    out = stream_dedup_new_docs(docs, ttl_minutes=60.0)
    q = (out.writeStream.format("memory").queryName("ddnull_mem")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ddnullck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM ddnull_mem").collect()
    assert [r["doc_id"] for r in rows] == ["n1"]


def test_stream_burst_dedup_matches_batch_in_order(spark, tmp_path):
    """In-order streaming burst dedup emits exactly the batch
    keepers (event_dedup_bursts) — keeper ids, per-key counts, and
    timestamps all agree."""
    import pandas as pd
    from kml2geojson_spark.eventops import event_dedup_bursts
    from kml2geojson_spark.streaming import (stream_burst_dedup,
                                             stream_events)

    src = str(tmp_path / "evb")
    base = pd.Timestamp("2024-01-01")
    rows, eid = [], 0
    for user in range(4):
        t = base + pd.Timedelta(seconds=user)
        for burst in range(3):
            for k in range(3):  # 3 retries, 20s apart (gap 60 chains)
                rows.append((eid, t, user, "click", 1.0, "{}"))
                eid += 1
                t += pd.Timedelta(seconds=20)
            t += pd.Timedelta(minutes=10)  # > gap: next burst
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                      "event_type", "value", "props"])
    df = spark.createDataFrame(pdf)
    df.write.parquet(src)

    out = stream_burst_dedup(stream_events(spark, src), gap_seconds=60)
    q = (out.writeStream.format("memory").queryName("burst_mem")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "bck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM burst_mem").toPandas()

    batch = (event_dedup_bursts(df, key_cols=["user_id", "event_type"],
                                gap_seconds=60)
             .select("user_id", "event_type", "keeper_id").toPandas())
    assert len(got) == len(batch) == 12  # 4 users x 3 bursts
    assert (set(map(tuple, got[["user_id", "keeper_id"]].values))
            == set(map(tuple, batch[["user_id", "keeper_id"]].values)))


def test_stream_burst_dedup_chained_burst_single_keeper(spark, tmp_path):
    """A burst chained past the gap from its opener still emits only
    the opener (gap is between CONSECUTIVE events, not to the
    keeper)."""
    import pandas as pd
    from kml2geojson_spark.streaming import (stream_burst_dedup,
                                             stream_events)

    src = str(tmp_path / "evc")
    base = pd.Timestamp("2024-01-01")
    rows = [(i, base + pd.Timedelta(seconds=50 * i), 1, "x", 1.0, "{}")
            for i in range(5)]  # 0,50,100,... all chained at gap=60
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                      "event_type", "value", "props"])
    spark.createDataFrame(pdf).write.parquet(src)
    out = stream_burst_dedup(stream_events(spark, src), gap_seconds=60)
    q = (out.writeStream.format("memory").queryName("burst_mem2")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "bck2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM burst_mem2").toPandas()
    assert len(got) == 1 and got.iloc[0]["keeper_id"] == 0


def test_stream_rolling_zscore_batch_parity_across_batches(spark, tmp_path):
    """Streaming rolling z-score equals the batch operator on an
    in-order corpus, including when the stream delivers it across
    several micro-batches (state carries the trailing window)."""
    import glob
    import os
    import random

    from datetime import datetime, timedelta

    from pyspark.sql import functions as F
    from kml2geojson_spark.relational import rolling_zscore
    from kml2geojson_spark.streaming import stream_rolling_zscore

    random.seed(59)
    base = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(4):
        for i in range(40):
            v = random.randint(-100, 100) if i != 30 else 5000
            rows.append((eid, base + timedelta(seconds=10 * i), u,
                         float(v)))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double")

    # batch reference (identical params; value integerized the same way)
    b = df.select("user_id", "event_id",
                  F.col("ts").cast("timestamp").cast("long").alias("o"),
                  F.col("value").cast("long").alias("v"))
    ref = {(r["user_id"], r["id"]): r for r in
           rolling_zscore(b, value_col="v", order_col="o",
                          id_col="event_id", group_cols=["user_id"],
                          window=8, min_periods=3,
                          threshold_milli=2500).collect()}

    # stream the same rows split across two files forced into two
    # micro-batches (first 20 per user, then the rest)
    src = str(tmp_path / "rz")
    first = df.where(F.col("event_id") % 40 < 20)
    rest = df.where(F.col("event_id") % 40 >= 20)
    first.coalesce(1).write.parquet(src)
    f1 = set(glob.glob(src + "/*.parquet"))
    rest.coalesce(1).write.mode("append").parquet(src)
    later = max(os.path.getmtime(f) for f in f1) + 10
    for f in set(glob.glob(src + "/*.parquet")) - f1:
        os.utime(f, (later, later))

    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = stream_rolling_zscore(stream, window=8, min_periods=3,
                                threshold_milli=2500)
    q = (out.writeStream.format("memory").queryName("rz_mem")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "rzck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["key"], r["id"]): r for r in
           spark.sql("SELECT * FROM rz_mem").collect()}

    assert set(got) == set(ref)
    n_anom = 0
    for k, rr in ref.items():
        g = got[k]
        assert g["n_window"] == rr["n_window"]
        assert g["value"] == rr["value"]
        if rr["z"] is None:
            assert g["z"] is None
        else:
            assert g["z"] == rr["z"]  # identical IEEE expression
        assert g["is_anomaly"] == rr["is_anomaly"]
        n_anom += g["is_anomaly"]
    assert n_anom >= 4  # each user's injected spike flagged


def test_stream_rolling_zscore_validation():
    import pytest as _pytest

    from kml2geojson_spark.streaming import stream_rolling_zscore

    with _pytest.raises(ValueError, match="min_periods"):
        stream_rolling_zscore(None, window=4, min_periods=5)
    with _pytest.raises(ValueError, match="threshold_milli"):
        stream_rolling_zscore(None, threshold_milli=0)
