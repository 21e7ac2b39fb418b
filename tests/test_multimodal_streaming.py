"""Multimodal plumbing and Structured Streaming equivalence tests."""

import hashlib
import os

import pytest

from pyspark.sql import functions as F

from precios_nexo_sperant_etl_spark.operators.multimodal import (
    attach_binary, extract_features, real_decode_placeholder)
from precios_nexo_sperant_etl_spark.operators.windows import tumbling_agg
from precios_nexo_sperant_etl_spark.sources.tables import load_tables
from precios_nexo_sperant_etl_spark.streaming.stream_kpis import (
    run_available_now, stream_events, streaming_tumbling_counts)

SF_DIR = "/root/testdata/sf0.001"


def test_attach_binary_schema(spark):
    docs = spark.createDataFrame([(1, "héllo wörld")], "doc_id long, text string")
    out = attach_binary(docs).collect()[0]
    assert isinstance(out["payload"], (bytes, bytearray))
    assert out["meta"]["byte_len"] == len("héllo wörld".encode())


def test_extract_features_matches_hashlib(spark):
    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta gamma")], "doc_id long, text string")
    feats = {r["doc_id"]: r for r in
             extract_features(attach_binary(docs)).collect()}
    for doc_id, text in [(1, "alpha"), (2, "beta gamma")]:
        raw = text.encode()
        r = feats[doc_id]
        assert r["byte_len"] == len(raw)
        assert r["fake_width"] == len(raw) % 640
        assert r["fake_height"] == len(raw) % 480
        assert r["content_md5"] == hashlib.md5(raw).hexdigest()


def test_real_decode_is_explicit_stub():
    with pytest.raises(NotImplementedError):
        real_decode_placeholder(b"\x89PNG")


def test_stateful_user_profiles_match_batch(spark):
    """applyInPandasWithState running profiles: after draining all input,
    each user's final state row must equal the batch groupBy answer."""
    import tempfile

    from precios_nexo_sperant_etl_spark.streaming.stateful import \
        running_user_profiles

    stream = running_user_profiles(stream_events(spark, SF_DIR))
    with tempfile.TemporaryDirectory() as ckpt:
        q = (stream.writeStream.format("memory").queryName("profiles")
             .option("checkpointLocation", ckpt)
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination(120)
    # last emitted row per user = final state
    got = {}
    for r in spark.table("profiles").collect():
        got[r["user_id"]] = (r["n_events"], r["total_value"], r["event_types"])

    ev = load_tables(spark, SF_DIR)["events"]
    batch = (ev.groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("tv"),
                  F.array_join(F.array_sort(F.collect_set("event_type")), ",")
                   .alias("et"))
             .collect())
    assert len(got) == len(batch) > 0
    for r in batch:
        n, tv, et = got[r["user_id"]]
        assert n == r["n"] and et == r["et"]
        assert abs(tv - r["tv"]) < 1e-6


def test_streaming_matches_batch_tumbling(spark):
    """AvailableNow streaming run must equal the batch plan EXACTLY on
    the set of windows the final watermark closed: every emitted row
    matches batch, and every batch window older than the watermark
    horizon (max ts - 30 min delay) was emitted — full end-to-end
    equality, with the withheld tail accounted for explicitly."""
    import datetime

    stream_rows = run_available_now(
        streaming_tumbling_counts(stream_events(spark, SF_DIR)))
    events = load_tables(spark, SF_DIR)["events"]
    batch = {(r["win_start"], r["event_type"]): r["n_events"]
             for r in tumbling_agg(events).collect()}
    assert len(stream_rows) > 0
    stream = {(r["win_start"], r["event_type"]): r["n_events"]
              for r in stream_rows}
    for k, n in stream.items():
        assert batch[k] == n
    # completeness: the final watermark is max(ts) - 30min; every batch
    # window that closed strictly before it must have been emitted
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - datetime.timedelta(minutes=30)
    closed = {k for k in batch
              if k[0] + datetime.timedelta(minutes=10) < horizon}
    assert closed <= set(stream), (
        f"windows closed by the watermark but never emitted: "
        f"{sorted(closed - set(stream))[:5]}")


def test_streaming_session_windows_match_batch(spark):
    """Watermarked session windows drained with AvailableNow must equal
    the batch sessionize answer for every session the watermark closed."""
    import datetime

    from precios_nexo_sperant_etl_spark.operators.windows import sessionize
    from precios_nexo_sperant_etl_spark.streaming.stream_kpis import \
        streaming_session_windows

    stream_rows = run_available_now(
        streaming_session_windows(stream_events(spark, SF_DIR)),
        query_name="sessions_stream")
    assert stream_rows, "no sessions emitted"
    stream = {(r["user_id"], r["session_start"]): r["n_events"]
              for r in stream_rows}
    batch = {(r["user_id"], r["session_start"]): r["n_events"]
             for r in sessionize(load_tables(spark, SF_DIR)["events"]).collect()}
    for k, n in stream.items():
        assert batch[k] == n, f"session {k}: stream {n} != batch {batch[k]}"
    # completeness: a session emits once the watermark passes its end
    # (= last event + gap); recompute batch sessions WITH their ends and
    # require every session ending before the horizon to have emitted
    events = load_tables(spark, SF_DIR)["events"]
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - datetime.timedelta(minutes=30)
    ends = (events.groupBy("user_id",
                           F.session_window("ts", "30 minutes").alias("win"))
                  .agg(F.count(F.lit(1)).alias("n"))
                  .select("user_id", F.col("win.start").alias("session_start"),
                          F.col("win.end").alias("session_end"))
            .collect())
    closed = {(r["user_id"], r["session_start"]) for r in ends
              if r["session_end"] < horizon}
    missing = closed - set(stream)
    assert not missing, f"closed sessions never emitted: {sorted(missing)[:5]}"


def test_stream_stream_join_matches_batch(spark):
    """The stream-stream attribution join (click × purchase within the
    gap, per user) must produce exactly the batch join's pairs when the
    input is drained with AvailableNow."""
    from precios_nexo_sperant_etl_spark.streaming.stream_kpis import \
        streaming_click_purchase_join

    stream_rows = run_available_now(
        streaming_click_purchase_join(stream_events(spark, SF_DIR)),
        query_name="ssj")
    assert stream_rows, "stream-stream join produced no pairs"

    e = load_tables(spark, SF_DIR)["events"]
    # batch twin on the same predicate (NTZ timestamps; session is UTC so
    # wall-times agree with the streaming TIMESTAMP reading)
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"))
    buys = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("buy_ts"),
        F.col("value").alias("buy_value"))
    batch = clicks.join(
        buys,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("buy_ts") >= F.col("click_ts"))
        & (F.col("buy_ts") <= F.col("click_ts") + F.expr("INTERVAL 10 minutes")),
        "inner")
    batch_set = {(r["click_id"], str(r["buy_ts"]), r["buy_value"])
                 for r in batch.collect()}
    stream_set = {(r["click_id"], str(r["buy_ts"]), r["buy_value"])
                  for r in stream_rows}
    assert stream_set == batch_set


def test_streaming_dedup_matches_batch(spark):
    """Streaming dedup must keep exactly one row per event_id (the events
    fixture has unique ids, so the streaming output equals the batch
    distinct-key set — and proves re-delivery within the watermark would
    be dropped rather than double-counted)."""
    from precios_nexo_sperant_etl_spark.streaming.stream_kpis import \
        streaming_dedup_events

    stream_rows = run_available_now(
        streaming_dedup_events(stream_events(spark, SF_DIR)),
        query_name="dedup_stream")
    batch_ids = {r["event_id"] for r in
                 load_tables(spark, SF_DIR)["events"]
                 .select("event_id").distinct().collect()}
    stream_ids = [r["event_id"] for r in stream_rows]
    assert len(stream_ids) == len(set(stream_ids))  # no duplicates emitted
    assert set(stream_ids) == batch_ids             # nothing lost


def test_streaming_parquet_upsert_idempotent(spark, tmp_path):
    """foreachBatch + dynamic partition overwrite: the lake table equals
    the batch-deduped input, and replaying the stream converges to the
    same table instead of appending duplicates."""
    from precios_nexo_sperant_etl_spark.streaming.stream_kpis import (
        stream_events, streaming_parquet_upsert)
    from precios_nexo_sperant_etl_spark.sources.tables import load_tables
    out = str(tmp_path / "lake")
    streaming_parquet_upsert(stream_events(spark, SF_DIR), out)
    batch = load_tables(spark, SF_DIR)["events"]
    expect = batch.count()
    got1 = spark.read.parquet(out).count()
    assert got1 == expect
    # replay: same source again — idempotent, not doubled
    streaming_parquet_upsert(stream_events(spark, SF_DIR), out)
    assert spark.read.parquet(out).count() == expect


def test_streaming_parquet_upsert_multi_batch_no_loss(spark, tmp_path):
    """The merge must survive MULTI-batch streams: two micro-batches that
    share a partition value (event_type) — a plain per-batch dynamic
    overwrite would have batch 2 wipe batch 1's rows in the shared
    partition. Also checks key-upsert semantics (batch 2 re-keys one of
    batch 1's rows) and that the shared session's overwrite-mode conf is
    left untouched."""
    from precios_nexo_sperant_etl_spark.streaming.stream_kpis import (
        streaming_parquet_upsert)
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(conf_key, None)
    import pyarrow as pa
    import pyarrow.parquet as pq
    src = tmp_path / "drops"
    src.mkdir()
    cols = "event_id long, event_type string, value double"
    pa_schema = pa.schema([("event_id", pa.int64()),
                           ("event_type", pa.string()),
                           ("value", pa.float64())])
    pq.write_table(pa.table({"event_id": [1, 2],
                             "event_type": ["view", "click"],
                             "value": [1.0, 2.0]}, schema=pa_schema),
                   src / "f1.parquet")
    pq.write_table(pa.table({"event_id": [2, 3],
                             "event_type": ["click", "view"],
                             "value": [99.0, 3.0]}, schema=pa_schema),
                   src / "f2.parquet")
    # Pin arrival order: the file source processes oldest-mtime first.
    os.utime(src / "f1.parquet", (1_700_000_000, 1_700_000_000))
    os.utime(src / "f2.parquet", (1_700_000_100, 1_700_000_100))
    stream = (spark.readStream.schema(cols)
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src)))
    out = str(tmp_path / "lake")
    streaming_parquet_upsert(stream, out, key_cols=["event_id"])
    rows = {r["event_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(rows) == {1, 2, 3}          # nothing lost across batches
    assert rows[2]["value"] == 99.0        # later batch won the key
    assert rows[1]["event_type"] == "view"
    assert spark.conf.get(conf_key, None) == before


def test_streaming_curation_matches_batch(spark, tmp_path):
    """The curation gates are streaming twins of the batch expressions:
    gate-only output matches the batch gate row-for-row, dedup keeps
    exactly one row per distinct canonical hash, and the lake landing is
    partitioned by lang with nothing lost."""
    from pyspark.sql import functions as F

    from precios_nexo_sperant_etl_spark.operators.dedup_fuzzy import (
        canonical_text)
    from precios_nexo_sperant_etl_spark.operators.text import (
        BPE_ISH_PATTERN, lang_pred_expr, quality_expr)
    from precios_nexo_sperant_etl_spark.streaming.stream_curation import (
        curated_doc_stream, stream_curated_to_lake, stream_documents)

    sf = "/root/testdata/sf0.001"
    batch = spark.read.parquet(f"{sf}/documents.parquet")
    batch_gated = (batch.select(
        "doc_id",
        quality_expr(F.col("text")).alias("quality"),
        lang_pred_expr(F.col("text")).alias("lang_pred"),
        F.md5(canonical_text(F.col("text"))).alias("text_hash"))
        .filter((F.col("quality") >= 0.5) & (F.col("lang_pred") != "und")))
    want_ids = {r["doc_id"] for r in batch_gated.collect()}
    want_hashes = {r["text_hash"] for r in batch_gated.collect()}

    # gate-only stream == batch gate, row for row
    gate_only = curated_doc_stream(stream_documents(spark, sf), dedup=False)
    q = (gate_only.writeStream.format("memory").queryName("cur_gate")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.table("cur_gate").collect()
    assert {r["doc_id"] for r in got} == want_ids

    # dedup keeps exactly one row per distinct hash
    deduped = curated_doc_stream(stream_documents(spark, sf), dedup=True)
    q = (deduped.writeStream.format("memory").queryName("cur_dedup")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.table("cur_dedup").collect()
    assert len(rows) == len(want_hashes)
    assert {r["text_hash"] for r in rows} == want_hashes

    # lake landing: partitioned by lang, same number of curated docs
    out = str(tmp_path / "curated_lake")
    stream_curated_to_lake(spark, sf, out)
    landed = spark.read.parquet(f"{out}/docs")
    assert landed.count() == len(want_hashes)
    import glob
    assert glob.glob(f"{out}/docs/lang=*"), "not partitioned by lang"


def test_streaming_curation_restart_is_exactly_once(spark, tmp_path):
    """Restarting the availableNow lake landing with the SAME checkpoint
    must be a no-op: the file-sink write-ahead log already recorded the
    batch, so no documents are duplicated or lost."""
    from precios_nexo_sperant_etl_spark.streaming.stream_curation import (
        stream_curated_to_lake)

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "curated_lake_restart")
    stream_curated_to_lake(spark, sf, out)
    first = spark.read.parquet(f"{out}/docs").count()
    assert first > 0
    # same checkpoint dir: the source sees no new files, sink replays nothing
    stream_curated_to_lake(spark, sf, out)
    assert spark.read.parquet(f"{out}/docs").count() == first


def test_stream_neardup_ingest_gates_increments(spark, tmp_path):
    """Drop two file batches: the second contains an exact dup of a
    landed doc, a near-dup (shares most shingles), and a novel doc —
    only the novel doc may land. A replayed (retried) copy of batch 2
    must be a no-op because the gate screens against the lake."""
    import glob
    import shutil

    from precios_nexo_sperant_etl_spark.streaming.stream_curation import (
        stream_neardup_ingest)

    src = str(tmp_path / "drop")
    out = str(tmp_path / "lake")
    os.makedirs(src)
    base = ("uno dos tres cuatro cinco seis siete ocho nueve diez "
            "once doce trece catorce quince")
    b1 = spark.createDataFrame(
        [(1, base, "es", "s0", len(base)),
         (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa",
          "en", "s0", 10)],
        "doc_id long, text string, lang string, source string, n_chars long")
    b1.coalesce(1).write.parquet(str(tmp_path / "b1"))
    for f in glob.glob(str(tmp_path / "b1") + "/*.parquet"):
        shutil.copy(f, os.path.join(src, "batch1.parquet"))
    stream_neardup_ingest(spark, src, out, threshold=0.5)
    landed1 = {r["doc_id"] for r in
               spark.read.parquet(out + "/docs").collect()}
    assert landed1 == {1, 2}

    b2 = spark.createDataFrame(
        [(3, base, "es", "s1", len(base)),                      # exact dup of 1
         (4, base + " dieciseis", "es", "s1", 10),              # near-dup of 1
         (5, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do",
          "en", "s1", 10)],                                     # novel
        "doc_id long, text string, lang string, source string, n_chars long")
    b2.coalesce(1).write.parquet(str(tmp_path / "b2"))
    for f in glob.glob(str(tmp_path / "b2") + "/*.parquet"):
        shutil.copy(f, os.path.join(src, "batch2.parquet"))
    stream_neardup_ingest(spark, src, out, threshold=0.5)
    landed2 = {r["doc_id"] for r in
               spark.read.parquet(out + "/docs").collect()}
    assert landed2 == {1, 2, 5}

    # replay: same checkpoint, no new files → nothing changes
    stream_neardup_ingest(spark, src, out, threshold=0.5)
    assert {r["doc_id"] for r in
            spark.read.parquet(out + "/docs").collect()} == {1, 2, 5}


# --- real BMP / WAV decode (round 6): the decode seam is genuine for
# the two uncompressed container formats stdlib+numpy can handle; only
# compressed codecs remain behind real_decode_placeholder.

def _make_bmp(w, h, rgb_fn):
    """Hand-packed 24-bpp bottom-up BMP; rgb_fn(x, y) -> (r, g, b)."""
    import struct
    stride = (w * 3 + 3) // 4 * 4
    pix = bytearray()
    for y in range(h - 1, -1, -1):          # bottom-up row order
        row = bytearray()
        for x in range(w):
            r, g, b = rgb_fn(x, y)
            row += bytes((b, g, r))         # BGR on disk
        row += b"\x00" * (stride - len(row))
        pix += row
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pix), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix),
                       2835, 2835, 0, 0)
    return bytes(header + info + pix)


def _make_wav(rate, frames):
    """Hand-packed mono 16-bit PCM RIFF/WAVE; frames = list of ints."""
    import struct
    data = b"".join(struct.pack("<h", v) for v in frames)
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def test_decode_bmp_real_pixels():
    from precios_nexo_sperant_etl_spark.operators.multimodal import decode_bmp
    # 5x3 gradient: r = 10x, g = 20y, b = 7
    bmp = _make_bmp(5, 3, lambda x, y: (10 * x, 20 * y, 7))
    d = decode_bmp(bmp)
    assert (d["width"], d["height"], d["bits_per_pixel"]) == (5, 3, 24)
    n = 15
    assert d["mean_b_milli"] == 7000
    assert d["mean_g_milli"] == sum(20 * y for y in range(3)) * 5 * 1000 // n
    assert d["mean_r_milli"] == sum(10 * x for x in range(5)) * 3 * 1000 // n


def test_decode_wav_real_pcm():
    from precios_nexo_sperant_etl_spark.operators.multimodal import decode_wav
    frames = [0, 1000, -1000, 2000, -2000, 30000, -30000, 5]
    wav = _make_wav(8000, frames)
    d = decode_wav(wav)
    assert (d["channels"], d["sample_rate"], d["n_frames"]) == (1, 8000, 8)
    assert d["duration_ms"] == 8 * 1000 // 8000
    assert d["ms_amplitude"] == sum(v * v for v in frames) // len(frames)


def test_extract_media_features_routes_by_magic(spark):
    from precios_nexo_sperant_etl_spark.operators.multimodal import (
        extract_media_features)
    bmp = _make_bmp(4, 2, lambda x, y: (x, y, x + y))
    wav = _make_wav(16000, [100, -100, 200, -200])
    rows = [(0, bytearray(bmp)), (1, bytearray(wav)),
            (2, bytearray(b"plain text payload")),
            (3, bytearray(b"BM\x01corrupt"))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r.asDict()
           for r in extract_media_features(df).collect()}
    assert got[0]["mime_detected"] == "image/bmp"
    assert (got[0]["width"], got[0]["height"]) == (4, 2)
    assert got[1]["mime_detected"] == "audio/wav"
    assert got[1]["sample_rate"] == 16000
    assert got[1]["ms_amplitude"] == (100**2 + 100**2 + 200**2 + 200**2) // 4
    assert got[2]["mime_detected"] == "application/octet-stream"
    assert got[2]["width"] is None and got[2]["sample_rate"] is None
    assert got[3]["mime_detected"] == "corrupt/bmp"
    assert all(got[i]["byte_len"] == len(rows[i][1]) for i in got)


def test_decode_bmp_top_down_negative_height():
    """Top-down BMPs store height negative; channel means are row-order
    independent so they must match the bottom-up packing exactly."""
    import struct
    from precios_nexo_sperant_etl_spark.operators.multimodal import decode_bmp
    up = _make_bmp(4, 2, lambda x, y: (3 * x, 5 * y, 9))
    buf = bytearray(up)
    struct.pack_into("<i", buf, 22, -2)  # height → -2 (top-down)
    d_up, d_down = decode_bmp(up), decode_bmp(bytes(buf))
    assert d_down["height"] == 2
    assert {k: v for k, v in d_down.items() if k.startswith("mean")} == \
           {k: v for k, v in d_up.items() if k.startswith("mean")}


def test_decode_wav_stereo_interleaved():
    import struct
    from precios_nexo_sperant_etl_spark.operators.multimodal import decode_wav
    frames = [(100, -200), (300, -400)]       # L/R interleaved
    data = b"".join(struct.pack("<hh", l, r) for l, r in frames)
    fmt = struct.pack("<HHIIHH", 1, 2, 44100, 44100 * 4, 4, 16)
    body = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    wav = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    d = decode_wav(wav)
    assert (d["channels"], d["sample_rate"], d["n_frames"]) == (2, 44100, 2)
    flat = [v for fr in frames for v in fr]
    assert d["ms_amplitude"] == sum(v * v for v in flat) // len(flat)


def test_extract_media_features_null_payload_row(spark):
    """A NULL payload yields a null feature row instead of crashing the
    Arrow batch (len(None))."""
    from precios_nexo_sperant_etl_spark.operators.multimodal import (
        extract_media_features)
    df = spark.createDataFrame([(0, bytearray(b"x")), (1, None)],
                               "doc_id long, payload binary")
    got = {r["doc_id"]: r.asDict()
           for r in extract_media_features(df).collect()}
    assert got[0]["mime_detected"] == "application/octet-stream"
    assert got[1]["mime_detected"] is None and got[1]["byte_len"] is None


def _hand_png(px_rows, filters):
    """Independent PNG encoder (shares no code with encode_png): raw
    rows + explicit per-row filter types, spec-direct filter math."""
    import struct
    import zlib
    stride = len(px_rows[0]) if px_rows else 0
    w, h = stride // 3, len(px_rows)

    def chunk(t, data):
        return (struct.pack(">I", len(data)) + t + data
                + struct.pack(">I", zlib.crc32(t + data) & 0xFFFFFFFF))

    lines, prior = bytearray(), bytes(stride)
    for row, ft in zip(px_rows, filters):
        out = bytearray()
        for x in range(stride):
            a = row[x - 3] if x >= 3 else 0
            b = prior[x]
            c = prior[x - 3] if x >= 3 else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc
                                                          else c)
            out.append((row[x] - pred) & 0xFF)
        lines.append(ft)
        lines += out
        prior = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(lines)))
            + chunk(b"IEND", b""))


def test_decode_png_all_five_filters():
    """Every PNG filter type (None/Sub/Up/Average/Paeth) reconstructs
    bit-exactly, verified against an independent hand encoder."""
    import random
    from precios_nexo_sperant_etl_spark.operators.multimodal import decode_png
    rng = random.Random(11)
    rows = [bytes(rng.randrange(256) for _ in range(15)) for _ in range(6)]
    png = _hand_png(rows, [0, 1, 2, 3, 4, 4])
    d = decode_png(png)
    flat = b"".join(rows)
    n = len(flat) // 3
    for i, key in enumerate(("mean_r_milli", "mean_g_milli",
                             "mean_b_milli")):
        assert d[key] == sum(flat[i::3]) * 1000 // n
    assert (d["width"], d["height"]) == (5, 6)


def test_encode_png_roundtrip_and_idempotent_means():
    from precios_nexo_sperant_etl_spark.operators.multimodal import (
        decode_png, encode_png)
    rgb = bytes(range(256)) * 3  # 768 bytes = 64 px rows of width 4
    d = decode_png(encode_png(rgb, 4))
    n = len(rgb) // 3
    assert (d["width"], d["height"]) == (4, n // 4)
    for i, key in enumerate(("mean_r_milli", "mean_g_milli",
                             "mean_b_milli")):
        assert d[key] == sum(rgb[i::3]) * 1000 // n


def test_decode_png_rejects_corruption():
    import pytest
    from precios_nexo_sperant_etl_spark.operators.multimodal import (
        decode_png, encode_png)
    png = bytearray(encode_png(bytes(range(60)), 4))
    flipped = bytearray(png)
    flipped[-5] ^= 0xFF                       # IEND CRC
    with pytest.raises(ValueError):
        decode_png(bytes(flipped))
    torn = bytes(png[:len(png) // 2])         # torn chunk list
    with pytest.raises(ValueError):
        decode_png(torn)
    body_flip = bytearray(png)
    body_flip[40] ^= 0xFF                     # IDAT byte (CRC now stale)
    with pytest.raises(ValueError):
        decode_png(bytes(body_flip))


def test_media_batch_routes_png(spark):
    from precios_nexo_sperant_etl_spark.operators.multimodal import (
        encode_png, extract_media_features)
    png = encode_png(bytes([10, 20, 30] * 8), 4)
    df = spark.createDataFrame([(7, bytearray(png))],
                               "doc_id long, payload binary")
    row = extract_media_features(df).collect()[0]
    assert row["mime_detected"] == "image/png"
    assert (row["width"], row["height"]) == (4, 2)
    assert (row["mean_r_milli"], row["mean_g_milli"],
            row["mean_b_milli"]) == (10000, 20000, 30000)
    assert row["channels"] is None            # image row: audio cols null


def test_probe_jpeg_walks_markers():
    import struct
    import pytest
    from precios_nexo_sperant_etl_spark.operators.multimodal import probe_jpeg

    def seg(marker, data):
        return bytes([0xFF, marker]) + struct.pack(">H", len(data) + 2) + data

    sof0 = struct.pack(">BHHB", 8, 240, 320, 3) + b"\x01\x22\x00" * 3
    jpeg = (b"\xff\xd8" + seg(0xE0, b"JFIF\x00rest") + b"\xff\x01"
            + seg(0xFE, b"a comment") + seg(0xC0, sof0) + b"\xff\xd9")
    d = probe_jpeg(jpeg)
    assert (d["width"], d["height"], d["precision"],
            d["n_components"], d["progressive"]) == (320, 240, 8, 3, False)

    # progressive SOF2 + RST standalone markers
    sof2 = struct.pack(">BHHB", 8, 7, 9, 1) + b"\x01\x11\x00"
    jpeg2 = b"\xff\xd8" + b"\xff\xd0" + seg(0xC2, sof2) + b"\xff\xd9"
    d2 = probe_jpeg(jpeg2)
    assert (d2["width"], d2["height"], d2["progressive"]) == (9, 7, True)

    with pytest.raises(ValueError, match="no SOF"):
        probe_jpeg(b"\xff\xd8" + seg(0xFE, b"only a comment") + b"\xff\xd9")
    with pytest.raises(ValueError, match="truncated"):
        probe_jpeg((b"\xff\xd8" + seg(0xC0, sof0))[:-5])
    with pytest.raises(ValueError, match="SOI"):
        probe_jpeg(b"\x00\x00")


def test_media_batch_routes_jpeg(spark):
    import struct
    from precios_nexo_sperant_etl_spark.operators.multimodal import (
        extract_media_features)
    sof0 = struct.pack(">BHHB", 8, 10, 20, 3) + b"\x01\x22\x00" * 3
    jpeg = (b"\xff\xd8\xff\xc0" + struct.pack(">H", len(sof0) + 2) + sof0
            + b"\xff\xd9")
    df = spark.createDataFrame(
        [(1, bytearray(jpeg)), (2, bytearray(b"\xff\xd8\xff\xfe"))],
        "doc_id long, payload binary")
    got = {r["doc_id"]: r.asDict()
           for r in extract_media_features(df).collect()}
    assert got[1]["mime_detected"] == "image/jpeg"
    assert (got[1]["width"], got[1]["height"], got[1]["channels"]) == (20, 10, 3)
    assert got[1]["mean_r_milli"] is None     # pixel decode stays stubbed
    assert got[2]["mime_detected"] == "corrupt/jpeg"


def test_decode_gzip_verifies_trailers():
    import gzip
    import pytest
    from precios_nexo_sperant_etl_spark.operators.multimodal import decode_gzip
    body = b"hello gzip world" * 10
    assert decode_gzip(gzip.compress(body)) == body
    with pytest.raises(ValueError, match="not a gzip"):
        decode_gzip(b"\x00" * 20)
    bad = bytearray(gzip.compress(body))
    bad[-6] ^= 0xFF                            # flip a CRC-32 byte
    with pytest.raises(ValueError, match="corrupt gzip"):
        decode_gzip(bytes(bad))
    with pytest.raises(ValueError, match="corrupt gzip"):
        decode_gzip(gzip.compress(body)[:-4])  # torn trailer


def test_downsample_box2_floor_and_orientation():
    """2x2 box resize: exact floor means, odd trailing row/col dropped,
    and bottom-up BMP storage decodes to image orientation."""
    import numpy as np
    from precios_nexo_sperant_etl_spark.operators.multimodal import (
        bmp_pixels, downsample_box2)
    px = np.arange(5 * 3 * 3, dtype=np.uint8).reshape(5, 3, 3)
    small = downsample_box2(px)
    assert small.shape == (2, 1, 3)          # floor(5/2), floor(3/2)
    blk = px[0:2, 0:2].astype(np.int64)
    assert (small[0, 0] == blk.sum(axis=(0, 1)) // 4).all()

    # bottom-up storage flips to image orientation; rgb_fn returns
    # (r, g, b) and the array keeps disk order (b, g, r)
    bmp = _make_bmp(2, 2, lambda x, y: (x, y, x + y))
    img = bmp_pixels(bmp)
    assert img.shape == (2, 2, 3)
    assert img[0, 1].tolist() == [1, 0, 1]   # y=0, x=1: (b=1, g=0, r=1)
    assert img[1, 0].tolist() == [1, 1, 0]   # y=1, x=0: (b=1, g=1, r=0)


def test_png_adam7_interlaced_roundtrip():
    import numpy as np
    from precios_nexo_sperant_etl_spark.operators.multimodal import (
        decode_png, encode_png)
    rng = np.random.RandomState(3)
    # odd geometries exercise empty and partial Adam7 passes
    for (w, h) in [(16, 16), (17, 13), (7, 5), (1, 1), (3, 9), (8, 1)]:
        rgb = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        d0 = decode_png(encode_png(rgb.tobytes(), w))
        d1 = decode_png(encode_png(rgb.tobytes(), w, interlace=True))
        assert np.array_equal(d0["rgb"], rgb)
        assert np.array_equal(d1["rgb"], rgb)
        assert d1["interlaced"] and not d0["interlaced"]
    # a truncated interlaced stream is corrupt, not silently partial
    import pytest
    j = encode_png(rng.randint(0, 256, size=(16, 16, 3),
                               dtype=np.uint8).tobytes(), 16,
                   interlace=True)
    import struct, zlib
    # rebuild with one pass's bytes chopped from the inflated stream
    pos = 8
    chunks = {}
    while pos + 12 <= len(j):
        ln, typ = struct.unpack_from(">I4s", j, pos)
        chunks.setdefault(typ, b"")
        chunks[typ] += j[pos + 8:pos + 8 + ln]
        pos += 12 + ln
    raw = zlib.decompress(chunks[b"IDAT"])
    bad_idat = zlib.compress(raw[:-5])

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))
    sig = j[:8]
    bad = (sig + chunk(b"IHDR", chunks[b"IHDR"])
           + chunk(b"IDAT", bad_idat) + chunk(b"IEND", b""))
    with pytest.raises(ValueError):
        decode_png(bad)


def test_gif_lzw_roundtrip_and_corruption():
    import numpy as np
    import pytest
    from precios_nexo_sperant_etl_spark.operators.multimodal import (
        decode_gif, encode_gif, _gif_lzw_decode, _gif_lzw_encode)
    rng = np.random.RandomState(11)
    # LZW layer alone: random + repetitive streams, all min code sizes
    for mcs in range(2, 9):
        n = 1 << mcs
        for kind in range(3):
            if kind == 0:
                s = rng.randint(0, n, size=400, dtype=np.uint8).tobytes()
            elif kind == 1:
                s = bytes((i % n for i in range(4000)))   # dict growth
            else:
                s = bytes(200) + bytes((n - 1,)) * 200    # long runs
            assert _gif_lzw_decode(_gif_lzw_encode(s, mcs), mcs) == s
    # container roundtrip, both interlace modes
    idx = (np.add.outer(np.arange(24), np.arange(17)) % 8).astype(np.uint8)
    pal = rng.randint(0, 256, size=(8, 3), dtype=np.uint8)
    for inter in (False, True):
        d = decode_gif(encode_gif(idx, pal, interlace=inter))
        assert np.array_equal(d["rgb"], pal[idx])
        assert d["interlaced"] == inter
    # odd-sized 16-colour image once reported as "truncated" on decode
    ix = (np.random.RandomState(6).randint(0, 256, (14, 23)) % 16
          ).astype(np.uint8)
    for n_col in (16, 32, 256):
        pal16 = rng.randint(0, 256, size=(n_col, 3), dtype=np.uint8)
        for inter in (False, True):
            d = decode_gif(encode_gif(ix, pal16, interlace=inter))
            assert np.array_equal(d["rgb"], pal16[ix])
    # corruption taxonomy: truncated sub-blocks, bad index, non-GIF
    j = encode_gif(idx, pal)
    with pytest.raises(ValueError):
        decode_gif(j[:len(j) // 2])
    with pytest.raises(ValueError):
        decode_gif(b"NOTAGIF" + j)
    # a chopped tail (lost sub-block terminator + trailer) is corrupt
    with pytest.raises(ValueError):
        decode_gif(j[:-10])


def test_g711_companded_wav_decode():
    import numpy as np
    import struct
    import pytest
    from precios_nexo_sperant_etl_spark.operators.multimodal import (
        decode_wav, _ulaw_expand, _alaw_expand)

    def wav(fmt, data, ch=1, rate=8000, bits=8):
        fmtc = struct.pack("<HHIIHH", fmt, ch, rate,
                           rate * ch * bits // 8, ch * bits // 8, bits)
        body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmtc)) + fmtc
                + b"data" + struct.pack("<I", len(data)) + data
                + (b"\0" if len(data) & 1 else b""))
        return b"RIFF" + struct.pack("<I", len(body)) + body

    u = np.arange(256)
    xu, xa = _ulaw_expand(u), _alaw_expand(u)
    # classic 16-bit G.711 tables: mu-law +-32124, A-law +-32256;
    # 0xFF / 0x7F are mu-law zero; sign bit negates exactly
    assert (xu.max(), xu.min()) == (32124, -32124)
    assert (xa.max(), xa.min()) == (32256, -32256)
    assert xu[0xFF] == 0 and xu[0x7F] == 0
    b = np.arange(128)
    assert np.all(xu[b] == -xu[b | 0x80])
    assert np.all(xa[b | 0x80] == -xa[b])
    # A-law segment-0 quantization step is 16 (values 8, 24, 40, ...)
    seg0 = np.sort(np.unique(np.abs(xa[xa != 0])))[:4]
    assert list(seg0[:2]) == [8, 24]
    # container decode carries exact integer stats
    d = decode_wav(wav(7, bytes(range(256))))
    assert d["audio_format"] == 7 and d["n_frames"] == 256
    assert d["sample_sum"] == int(xu.sum())
    assert d["ms_amplitude"] == int((xu * xu).sum() // 256)
    d = decode_wav(wav(6, bytes(range(256))))
    assert d["sample_sum"] == int(xa.sum())
    # companded frames must be 8-bit; 16-bit mu-law is corrupt
    with pytest.raises(ValueError):
        decode_wav(wav(7, bytes(16), bits=16))
    # PCM regression
    d = decode_wav(wav(1, struct.pack("<4h", 100, -100, 200, -200),
                       bits=16))
    assert d["ms_amplitude"] == (2 * 100 * 100 + 2 * 200 * 200) // 4
