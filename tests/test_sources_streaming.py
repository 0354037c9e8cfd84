"""Source/sink round-trips (SURVEY §2.1) + streaming + multimodal tests."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from covid19_etl_pipeline_spark.catalog import load_table, register_tables, table_stats
from covid19_etl_pipeline_spark.operators.multimodal import extract_features, frame_sample_plan
from covid19_etl_pipeline_spark.sources.io import read_csv, validate_source, write_parquet
from covid19_etl_pipeline_spark.streaming.daily_rollup import (
    read_events_stream,
    run_to_memory_sink,
    streaming_daily_rollup,
)

CSV_SCHEMA = T.StructType(
    [T.StructField("col1", T.LongType()), T.StructField("col2", T.StringType())]
)


def test_csv_roundtrip_explicit_schema(spark, tmp_path):
    """Reference CSV round-trip (tests/test_transformer.py:63-78), with
    the engine's explicit-schema contract instead of inference."""
    import pytest

    p = tmp_path / "t.csv"
    p.write_text("col1,col2\n1,a\n2,b\n3,c\n")
    df = read_csv(spark, str(p), schema=CSV_SCHEMA)
    assert df.count() == 3
    assert dict(df.dtypes) == {"col1": "bigint", "col2": "string"}
    assert validate_source(df)
    # the schema binds by header name: reordered columns plus an
    # undeclared one read as declared, the extra column dropped
    q = tmp_path / "reordered.csv"
    q.write_text("extra,col2,col1\nx,a,1\ny,b,2\n")
    df = read_csv(spark, str(q), schema=CSV_SCHEMA)
    assert df.columns == ["col1", "col2"]
    assert sorted(map(tuple, df.collect())) == [(1, "a"), (2, "b")]
    # a declared column the header lacks raises
    q.write_text("col2,other\na,1\n")
    with pytest.raises(ValueError, match="col1"):
        read_csv(spark, str(q), schema=CSV_SCHEMA)


def test_parquet_roundtrip_partitioned(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 2020), (2, "b", 2021), (3, "c", 2021)], ["id", "v", "year"]
    )
    out = str(tmp_path / "pq")
    write_parquet(df, out, partition_by=("year",))
    back = spark.read.parquet(out)
    assert back.count() == 3
    # partition pruning: only the year=2021 directory is scanned
    pruned = back.filter(F.col("year") == 2021)
    assert pruned.count() == 2
    files = pruned.select(F.input_file_name().alias("f")).distinct().collect()
    assert all("year=2021" in r["f"] for r in files)


def test_validate_source_rejects_empty(spark):
    empty = spark.createDataFrame([], T.StructType([T.StructField("a", T.LongType())]))
    assert not validate_source(empty)


def test_register_tables_and_stats(spark, sf_dir):
    registered = register_tables(spark, sf_dir)
    assert "lineitem" in registered
    assert spark.sql("SELECT count(*) AS n FROM lineitem").first()["n"] == 6000
    stats = table_stats(spark, ("lineitem", "orders"))
    assert stats == {"lineitem": 6000, "orders": 1500}


def test_streaming_daily_rollup_matches_batch(spark, sf_dir, tmp_path):
    """Drive the file-source stream to completion; the windowed rollup
    must agree with the batch groupBy on the same data."""
    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "events_stream")
    write_parquet(events, src)

    stream = read_events_stream(spark, src, max_files_per_trigger=2)
    run_to_memory_sink(streaming_daily_rollup(stream), query_name="t_stream")
    got = {
        r["event_date"]: (round(r["total_value"], 4), r["users_reporting"])
        for r in spark.sql("SELECT * FROM t_stream").collect()
    }
    expected = {
        r["event_date"]: (round(r["tv"], 4), r["n"])
        for r in events.groupBy(F.to_date("ts").alias("event_date"))
        .agg(F.sum("value").alias("tv"), F.count("user_id").alias("n"))
        .collect()
    }
    assert got == expected


def _assets(spark):
    rows = [
        (1, "image/png", bytearray(b"\x89PNG fake bytes"), 640, 480, None),
        (2, "video/mp4", bytearray(b"\x00\x00ftyp fake"), 1920, 1080, 3500),
        (3, "image/jpeg", None, 32, 32, None),
    ]
    return spark.createDataFrame(
        rows, "asset_id long, mime_type string, payload binary, "
              "width int, height int, duration_ms long"
    )


def test_multimodal_feature_extraction(spark):
    out = extract_features(_assets(spark)).collect()
    by_id = {r["asset_id"]: r for r in out}
    assert by_id[1]["n_bytes"] == 15
    assert len(by_id[1]["features"]) == 8
    assert abs(sum(by_id[1]["features"]) - 1.0) < 1e-3   # histogram normalized
    assert by_id[3]["n_bytes"] == 0
    # determinism: same payload → same features
    again = {r["asset_id"]: r for r in extract_features(_assets(spark)).collect()}
    assert again[1]["features"] == by_id[1]["features"]


def test_multimodal_frame_sample_plan(spark):
    frames = frame_sample_plan(_assets(spark), every_ms=1000).collect()
    # 3500ms video at 1fps → frames at 0,1000,2000,3000
    assert [r["frame_ts_ms"] for r in frames] == [0, 1000, 2000, 3000]


def test_wav_codec_roundtrip():
    """Pure-python WAV codec: encode→decode must be identity on
    samples, rate, and channels; extra chunks and padding tolerated."""
    import struct

    from covid19_etl_pipeline_spark.operators.multimodal import (
        decode_wav,
        encode_wav_pcm16,
    )

    samples = [0, 1, -1, 32767, -32768, 1234, -4321]
    blob = encode_wav_pcm16(samples, sample_rate=16000)
    rate, ch, back = decode_wav(blob)
    assert (rate, ch, back) == (16000, 1, samples)

    # tolerate an extra (odd-length, word-padded) chunk before data
    extra = struct.pack("<4sI", b"LIST", 3) + b"abc\x00"
    patched = blob[:12] + extra + blob[12:]
    assert decode_wav(patched)[2] == samples

    import pytest

    with pytest.raises(ValueError):
        decode_wav(b"not a wav")
    # non-PCM fmt rejected
    bad = bytearray(blob)
    bad[20] = 3  # audio_fmt = IEEE float
    with pytest.raises(ValueError):
        decode_wav(bytes(bad))


def test_wav_rms_segments(spark):
    """Distributed decode+RMS: a constant-amplitude square wave has
    RMS exactly equal to its amplitude in every window."""
    from covid19_etl_pipeline_spark.operators.multimodal import (
        encode_wav_pcm16,
        wav_rms_segments,
    )

    amp = 1000
    samples = [amp if k % 2 == 0 else -amp for k in range(300)]
    assets = spark.createDataFrame(
        [(7, bytearray(encode_wav_pcm16(samples)))], "asset_id long, payload binary"
    )
    rows = wav_rms_segments(assets, window=160, hop=80).collect()
    assert [r["seg_start"] for r in rows] == [0, 80, 160, 240]
    assert all(r["n_samples"] == 300 for r in rows)
    assert all(abs(r["rms"] - amp) < 1e-9 for r in rows)


def test_png_codec_roundtrip():
    """Pure-python PNG codec: encode→decode identity for every
    supported channel count. The encoder cycles scanline filters
    (row % 5), so any image with ≥5 rows exercises ALL five unfilter
    paths — a pixel-exact round trip proves each one."""
    import numpy as np
    import pytest

    from covid19_etl_pipeline_spark.operators.multimodal import (
        decode_image,
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(42)
    for shape in [(9, 7, 3), (6, 4, 1), (8, 5, 4), (5, 6, 2), (7, 3)]:
        px = rng.integers(0, 256, size=shape, dtype=np.uint8)
        w, h, back = decode_png(encode_png(px))
        exp = px[:, :, None] if px.ndim == 2 else px
        assert (w, h) == (exp.shape[1], exp.shape[0])
        assert np.array_equal(back, exp)

    # deterministic blobs (fixture/fingerprint contract)
    assert encode_png(px) == encode_png(px)
    # decode_image dispatches PNG; a JPEG-sniffed but malformed payload
    # hits the real SOF0 codec and raises ValueError (not the stub
    # path); lossy WebP raises ValueError via the VP8L dispatch, while
    # formats with no in-repo codec (AVIF) still raise honestly
    w, h, _ = decode_image(encode_png(px))
    assert (w, h) == (3, 7)
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0 fake jpeg")
    with pytest.raises(ValueError):
        decode_image(b"RIFF\x10\x00\x00\x00WEBPVP8 \x04\x00\x00\x00abcd")
    with pytest.raises(NotImplementedError):
        decode_image(b"\x00\x00\x00\x1cftypavif fake avif payload")
    with pytest.raises(ValueError):
        decode_png(b"not a png")


def test_ppm_codec_roundtrip():
    """Pure-stdlib binary-netpbm codec: P6 (RGB) and P5 (grayscale)
    encode→decode identity, comment-tolerant header parsing, and the
    raise-rather-than-mis-decode contract for malformed payloads."""
    import numpy as np
    import pytest

    from covid19_etl_pipeline_spark.operators.multimodal import (
        decode_image,
        decode_ppm,
        encode_ppm,
    )

    rng = np.random.default_rng(7)
    for shape in [(9, 7, 3), (6, 4, 1), (5, 6)]:
        px = rng.integers(0, 256, size=shape, dtype=np.uint8)
        w, h, back = decode_ppm(encode_ppm(px))
        exp = px[:, :, None] if px.ndim == 2 else px
        assert (w, h) == (exp.shape[1], exp.shape[0])
        assert np.array_equal(back, exp)

    # deterministic blobs + decode_image dispatch
    assert encode_ppm(px) == encode_ppm(px)
    w, h, _ = decode_image(encode_ppm(px))
    assert (w, h) == (6, 5)
    # netpbm allows '#' comments anywhere between header tokens
    commented = b"P6\n# a comment\n2 1\n# another\n255\n" + bytes(6)
    w, h, back = decode_ppm(commented)
    assert (w, h) == (2, 1) and back.shape == (1, 2, 3)
    # malformed payloads raise ValueError, never mis-decode
    with pytest.raises(ValueError):
        decode_ppm(b"P6\n2 1\n65535\n" + bytes(12))  # 16-bit maxval
    with pytest.raises(ValueError):
        decode_ppm(b"P6\n2 1\n255\n" + bytes(3))  # short raster
    with pytest.raises(ValueError):
        decode_ppm(b"P6\nx 1\n255\n" + bytes(6))  # non-numeric header
    # a 4-channel array has no netpbm form
    with pytest.raises(ValueError):
        encode_ppm(np.zeros((2, 2, 4), dtype=np.uint8))
    # non-netpbm payload falls through decode_image to the stub path
    with pytest.raises(NotImplementedError):
        decode_image(b"P9 not a real magic")
    # CRLF after maxval (Windows writers): when the length proves the
    # LF is the separator's second byte, skip it — identical pixels
    crlf = b"P6\n2 1\n255\r\n" + bytes(range(6))
    w, h, back = decode_ppm(crlf)
    assert (w, h) == (2, 1) and back.tobytes() == bytes(range(6))
    # ...when the length proves the LF is the FIRST raster byte, keep it
    strict = b"P6\n2 1\n255\r" + b"\n" + bytes(5)
    w, h, back = decode_ppm(strict)
    assert back.tobytes() == b"\n" + bytes(5)
    # ...a strict \r-separated payload whose raster begins with \n AND
    # carries trailing bytes keeps the strict reading (trailing bytes
    # were always tolerated; the exact-CRLF fit is the ONLY override —
    # ADVICE r06)
    w, h, back = decode_ppm(strict + b"trailing junk")
    assert back.tobytes() == b"\n" + bytes(5)
    # ...and a genuinely short raster still raises — never shift
    with pytest.raises(ValueError):
        decode_ppm(b"P6\n2 1\n255\r\n" + bytes(4))


def test_bmp_sniff_tolerates_zero_bfsize():
    """Many real-world BMP writers emit bfSize=0 (the field is
    unreliable in the wild); the sniff accepts 0 or the true payload
    length and still rejects a random 'BM'-prefixed blob, so external
    BMPs decode instead of bouncing to NotImplementedError."""
    import numpy as np
    import pytest

    from covid19_etl_pipeline_spark.operators.multimodal import (
        _sniff_bmp,
        decode_bmp,
        decode_image,
        encode_bmp,
    )

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    blob = bytearray(encode_bmp(px))
    assert _sniff_bmp(bytes(blob))
    # zero out bfSize (bytes 2..6) — still a decodable BMP
    blob[2:6] = b"\x00\x00\x00\x00"
    assert _sniff_bmp(bytes(blob))
    w, h, back = decode_image(bytes(blob))
    assert (w, h) == (3, 2) and np.array_equal(back, px)
    # a WRONG nonzero bfSize is still rejected (not a sniff match)...
    blob[2:6] = (len(blob) + 7).to_bytes(4, "little")
    assert not _sniff_bmp(bytes(blob))
    # ...and a 'BM'-prefixed non-BMP blob never sniffs as BMP
    assert not _sniff_bmp(b"BM" + bytes(60))
    # decode_bmp itself still enforces its contract on truncated input
    good = encode_bmp(px)
    with pytest.raises(ValueError):
        decode_bmp(good[:40])


def test_png_resize_nn_and_stats(spark):
    """Distributed decode→NN-resize→re-encode→decode: a constant-color
    image stays constant through resize; dims follow the integer
    fit-into-box rule; per-channel stats read the true pixel values."""
    import numpy as np

    from covid19_etl_pipeline_spark.operators.multimodal import (
        encode_png,
        png_channel_stats,
        png_resize_nn,
    )

    px = np.full((20, 40, 3), 0, dtype=np.uint8)
    px[:, :, 0] = 7
    px[:, :, 1] = 200
    px[:, :, 2] = 55
    assets = spark.createDataFrame(
        [(3, bytearray(encode_png(px)))], "asset_id long, payload binary"
    )
    resized = png_resize_nn(assets, box=16)
    rows = png_channel_stats(resized).orderBy("channel").collect()
    # 40x20 → longer side 40 → 16x8
    assert all((r["width"], r["height"]) == (16, 8) for r in rows)
    assert [r["mean_value"] for r in rows] == [7.0, 200.0, 55.0]
    assert [r["min_value"] for r in rows] == [7, 200, 55]
    assert [r["max_value"] for r in rows] == [7, 200, 55]
    assert [r["sum_value"] for r in rows] == [v * 16 * 8 for v in (7, 200, 55)]


def test_csv_write_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b,with comma"), (3, None)],
                               "id long, name string")
    out = str(tmp_path / "c")
    df.write.option("header", "true").csv(out)
    back = read_csv(spark, out, schema=df.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_load_table_pins_utc(spark, sf_dir):
    """load_table must repair a non-UTC caller session — date bucketing
    and the TZ-naive oracle both assume UTC wall time."""
    from pyspark.sql import functions as F

    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        ev = load_table(spark, sf_dir, "events")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        first_day = ev.agg(F.min(F.to_date("ts"))).first()[0]
        assert str(first_day) == "2024-01-01"   # UTC date, not shifted to 2023-12-31
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def _assert_bound_as_inferred(spark, path: str) -> None:
    """``read_parquet`` binds ``path``'s schema from its footer, and the
    bound schema is the one Spark's own inference gives."""
    from covid19_etl_pipeline_spark.sources.io import parquet_schema, read_parquet

    assert parquet_schema(spark, path)[0] is not None, path
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema, path


def test_read_parquet_binds_catalog_schemas(spark):
    from covid19_etl_pipeline_spark.catalog import TABLES, table_path

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        for name in TABLES:
            _assert_bound_as_inferred(spark, table_path(sf, name))


def test_read_parquet_binds_spark_partitioned_dir(spark, tmp_path):
    """A Spark-written, year-partitioned directory with a timestamp and
    nulls: the footer gives the data schema, partition discovery still
    appends ``year`` last, and the rows read are the rows written."""
    from covid19_etl_pipeline_spark.sources.io import read_parquet

    df = spark.createDataFrame(
        [(1, 2020, "a"), (2, 2021, None), (3, None, "c")], "id long, year int, v string"
    ).withColumn("ts", F.when(F.col("id") != 2, F.current_timestamp()))
    out = str(tmp_path / "by_year")
    write_parquet(df, out, partition_by=("year",))
    _assert_bound_as_inferred(spark, out)
    back = read_parquet(spark, out)
    assert back.columns == ["id", "v", "ts", "year"]
    assert back.exceptAll(spark.read.parquet(out)).count() == 0
    assert back.count() == 3


def test_read_parquet_nanos_as_long(spark, tmp_path):
    """A pyarrow-written TIMESTAMP(NANOS) column binds as LongType, what
    inference gives under ``nanosAsLong``; without that conf the read
    raises as Spark's own does."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from covid19_etl_pipeline_spark.sources.io import NANOS_AS_LONG, read_parquet

    path = str(tmp_path / "nanos.parquet")
    ts = pa.array([1_700_000_000_123_456_789, None], pa.timestamp("ns"))
    pq.write_table(pa.table({"id": [1, 2], "ts": ts}), path)
    old = spark.conf.get(NANOS_AS_LONG)
    try:
        spark.conf.set(NANOS_AS_LONG, "false")
        with pytest.raises(Exception, match="TIMESTAMP\\(NANOS"):
            read_parquet(spark, path)
        spark.conf.set(NANOS_AS_LONG, "true")
        _assert_bound_as_inferred(spark, path)
        back = read_parquet(spark, path)
        assert back.schema["ts"].dataType == T.LongType()
        assert back.orderBy("id").first()["ts"] == 1_700_000_000_123_456_789
    finally:
        spark.conf.set(NANOS_AS_LONG, old)


def test_read_parquet_uint32_as_spark_reads_it(spark, tmp_path):
    """Where ``from_arrow_type`` rejects a footer type or maps it
    otherwise, the bound schema gives Spark's parquet-reader type:
    unsigned ints widen (uint32 to LongType, values above the int32
    range intact), a duration is its INT64, an all-null column INT32."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from covid19_etl_pipeline_spark.sources.io import read_parquet

    path = str(tmp_path / "unsigned.parquet")
    table = pa.table(
        {
            "u32": pa.array([4_000_000_000, None], pa.uint32()),
            "u64": pa.array([2**64 - 1, 1], pa.uint64()),
            "u8s": pa.array([[255], None], pa.list_(pa.uint8())),
            "dur": pa.array([5, None], pa.duration("us")),
            "nul": pa.array([None, None], pa.null()),
        }
    )
    pq.write_table(table, path)
    _assert_bound_as_inferred(spark, path)
    back = read_parquet(spark, path)
    assert back.schema["u32"].dataType == T.LongType()
    assert back.orderBy("u32").collect() == spark.read.parquet(path).orderBy("u32").collect()
    assert back.agg(F.max("u32")).first()[0] == 4_000_000_000


def test_read_parquet_infers_where_the_footer_does_not_decide(spark, tmp_path):
    """INT96 timestamps, a session reading binary as string, and a TIME
    column Spark's reader refuses: nothing is bound, Spark infers, so
    the schema (or the error) is Spark's own."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from covid19_etl_pipeline_spark.sources.io import parquet_schema, read_parquet

    int96, binary, time = (str(tmp_path / f"{n}.parquet") for n in ("int96", "binary", "time"))
    ts = pa.array([1_700_000_000_000_000, None], pa.timestamp("us"))
    pq.write_table(pa.table({"ts": ts}), int96, use_deprecated_int96_timestamps=True)
    pq.write_table(pa.table({"b": pa.array([b"x", None])}), binary)
    pq.write_table(pa.table({"t": pa.array([1, None], pa.time64("us"))}), time)
    assert parquet_schema(spark, int96)[0] is None
    assert read_parquet(spark, int96).schema == spark.read.parquet(int96).schema
    assert parquet_schema(spark, time)[0] is None
    with pytest.raises(Exception, match="TIME"):
        read_parquet(spark, time)
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    assert parquet_schema(spark, binary)[0] is not None
    try:
        spark.conf.set(key, "true")
        assert parquet_schema(spark, binary)[0] is None
        assert read_parquet(spark, binary).schema == spark.read.parquet(binary).schema
        assert read_parquet(spark, binary).schema["b"].dataType == T.StringType()
    finally:
        spark.conf.set(key, old)


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    from covid19_etl_pipeline_spark.sources.io import compact_parquet

    out = str(tmp_path / "fragmented")
    df = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    df.repartition(16).write.parquet(out)
    import os
    before = sum(1 for f in os.listdir(out) if f.endswith(".parquet"))
    assert before == 16
    after = compact_parquet(spark, out, target_partitions=2)
    assert after == 2
    back = spark.read.parquet(out)
    assert back.count() == 1000
    assert back.agg(F.sum("v")).first()[0] == 2 * sum(range(1000))


def test_write_zordered_skips_files_on_both_dims(spark, sf_dir, tmp_path):
    """Z-ordered layout concentrates any narrow predicate on EITHER
    z-dimension into a subset of files — measured by which files still
    produce rows under a selective filter, z-ordered vs random layout
    (where every file matches). Rows must survive the rewrite intact."""
    from pyspark.sql import functions as F

    from covid19_etl_pipeline_spark.sources.io import write_zordered

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    n_files = 8
    zpath = str(tmp_path / "zordered")
    rpath = str(tmp_path / "random")
    write_zordered(li, zpath, ["l_partkey", "l_suppkey"], num_files=n_files)
    li.repartition(n_files).write.parquet(rpath)

    def files_matching(path, col, hi):
        return (
            spark.read.parquet(path)
            .filter(F.col(col) <= hi)
            .select(F.input_file_name())
            .distinct()
            .count()
        )

    bounds = li.agg(
        F.expr("percentile(l_partkey, 0.15)").alias("pk"),
        F.expr("percentile(l_suppkey, 0.15)").alias("sk"),
    ).collect()[0]
    for col, hi in (("l_partkey", bounds["pk"]), ("l_suppkey", bounds["sk"])):
        z_hit = files_matching(zpath, col, hi)
        r_hit = files_matching(rpath, col, hi)
        assert z_hit < r_hit, (col, z_hit, r_hit)
    assert spark.read.parquet(zpath).count() == li.count()


def test_observe_quality_rides_the_action(spark):
    """Observation metrics must report row + null counts from the SAME
    job that materializes the DataFrame — no second scan issued."""
    from covid19_etl_pipeline_spark.sources.io import observe_quality

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, None)], ["id", "v"]
    )
    observed, obs = observe_quality(df, columns=["v"])
    assert observed.count() == 4
    assert obs.get == {"n_rows": 4, "null_v": 2}


def test_dynamic_partition_overwrite_replaces_only_landed(spark, sf_dir, tmp_path):
    """Re-landing one priority partition leaves the others intact and
    fully replaces that partition's rows (no append-duplication)."""
    from covid19_etl_pipeline_spark.sources.io import overwrite_partitions_dynamic

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    out = str(tmp_path / "dyn")
    overwrite_partitions_dynamic(orders, out, ["o_orderpriority"])
    before = spark.read.parquet(out).count()

    one = orders.filter(orders.o_orderpriority == "1-URGENT")
    relanded = one.limit(3)
    overwrite_partitions_dynamic(relanded, out, ["o_orderpriority"])

    after = spark.read.parquet(out)
    assert after.filter(after.o_orderpriority == "1-URGENT").count() == 3
    assert (
        after.filter(after.o_orderpriority != "1-URGENT").count()
        == before - one.count()
    )
    # session default restored
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").upper()
        == "STATIC"
    )


def test_reliable_checkpoint_truncates_lineage(spark, sf_dir, tmp_path):
    """With CHECKPOINT_DIR_CONF set, a barrier's frame reads back
    identical rows and its plan is a checkpoint scan, not the original
    join tree."""
    from covid19_etl_pipeline_spark.operators.partitioning import (
        CHECKPOINT_DIR_CONF,
        barrier,
    )

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    joined = nation.join(region, nation.n_regionkey == region.r_regionkey)
    spark.conf.set(CHECKPOINT_DIR_CONF, str(tmp_path / "ckpt"))
    try:
        ck = barrier(joined)
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)
    assert ck.count() == joined.count()
    plan = ck._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan and "Join" not in plan


def test_streaming_neardup_probe_matches_batch_multibatch(spark, sf_dir, tmp_path):
    """The stateless stream-static band probe must equal its batch
    twin under MULTI-batch arrival: stage documents as 4 files with
    maxFilesPerTrigger=1 so the stream drains in 4 micro-batches, and
    compare per-doc (n_band_hits, status) to the same probe computed
    as one batch join."""
    from covid19_etl_pipeline_spark.operators import dedup, text

    docs = load_table(spark, sf_dir, "documents")
    src = str(tmp_path / "docs_stream")
    docs.repartition(4).write.parquet(src)

    old_idx = (
        dedup.lsh_band_table(
            docs.filter(F.col("doc_id") % 5 != 0), "doc_id", "text"
        )
        .select("band", "sig")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    sh = text.shingles(text.tokens("text"), k=3)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|",
                    dedup.minhash_value(sh, 2 * b),
                    dedup.minhash_value(sh, 2 * b + 1),
                ).alias("sig"),
            )
            for b in range(4)
        ]
    )

    def probe(frame):
        return (
            frame.filter(F.col("doc_id") % 5 == 0)
            .select(F.col("doc_id"), F.explode(band_structs).alias("bs"))
            .select(
                "doc_id",
                F.col("bs.band").alias("band"),
                F.col("bs.sig").alias("sig"),
            )
            .join(F.broadcast(old_idx), ["band", "sig"], "left")
        )

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    from covid19_etl_pipeline_spark.streaming.daily_rollup import (
        run_to_memory_sink,
    )

    run_to_memory_sink(probe(stream), "t_neardup_probe", output_mode="append")

    def verdicts(df):
        return {
            r["doc_id"]: r["n"]
            for r in df.groupBy("doc_id")
            .agg(
                F.sum(
                    F.when(F.col("__hit").isNotNull(), 1).otherwise(0)
                ).alias("n")
            )
            .collect()
        }

    got = verdicts(spark.table("t_neardup_probe"))
    expected = verdicts(probe(docs))
    assert got == expected
    assert got, "probe produced no verdicts"
