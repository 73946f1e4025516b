"""Streaming filter (stateful dedup, availableNow drain) and multimodal
plumbing tests, plus compare/report and source-registry coverage."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from piperider_spark.datagen import generate_transcripts, write_transcripts_parquet
from piperider_spark.oracle import oracle_labels


@pytest.fixture(scope="module")
def stream_dirs(tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    inp = base / "in"
    inp.mkdir()
    write_transcripts_parquet(str(inp / "part0.parquet"), n_turns=2000, seed=13)
    return {
        "input": str(inp),
        "output": str(base / "out"),
        "checkpoint": str(base / "ckpt"),
    }


def test_streaming_matches_batch_oracle(spark, stream_dirs):
    """The streaming plan (keyed-state dedup + shared spec) must produce the
    same keep/drop + scrubbed text as the pandas oracle."""
    from piperider_spark.streaming.filter_stream import run_stream_once

    run_stream_once(
        spark, stream_dirs["input"], stream_dirs["output"], stream_dirs["checkpoint"]
    )
    got = (
        spark.read.parquet(stream_dirs["output"])
        .select("conv_id", "turn_idx", "keep", "text_scrubbed")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    pdf = generate_transcripts(2000, seed=13)
    want = oracle_labels(pdf).reset_index(drop=True)
    assert len(got) == len(want)
    assert (got["conv_id"].values == want["conv_id"].values).all()
    # digest-exact duplicate state ⇒ streaming == batch row-for-row
    agree = (got["keep"].values == want["keep"].values).mean()
    assert agree == 1.0, f"keep agreement {agree:.4f}"
    # scrub parity on kept rows (the pipeline short-circuits dropped rows)
    kept = got["keep"].values & want["keep"].values
    scr_ok = (
        got.loc[kept, "text_scrubbed"].fillna("\x00")
        == want.loc[kept, "text_scrubbed"].fillna("\x00")
    ).mean()
    assert scr_ok == 1.0


def test_streaming_keep_rate_agg(spark, stream_dirs):
    from piperider_spark.streaming.filter_stream import (
        keep_rate_by_minute,
        stream_decisions,
    )
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("role", StringType()),
            StructField("text", StringType()),
            StructField("tool", StringType()),
            StructField("ts", TimestampType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(stream_dirs["input"])
    agg = keep_rate_by_minute(stream_decisions(stream))
    q = (
        agg.writeStream.format("memory")
        .queryName("keeprate")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("select sum(n_turns) s, sum(n_kept) k from keeprate").collect()[0]
    # append mode emits only watermark-closed windows; most of the synthetic
    # time range is closed by the final watermark
    assert rows.s is not None and rows.s > 0
    assert 0 < rows.k <= rows.s


def test_media_features_and_resize(spark):
    from piperider_spark.multimodal.media import (
        extract_image_features,
        fake_encode_image,
        media_metadata_stats,
        resize_images,
    )

    rows = [
        (i, fake_encode_image(32 + i, 24 + i, seed=i), "image", (32 + i, 24 + i, None, None))
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows,
        "id long, media binary, media_type string, "
        "meta struct<width:int, height:int, sample_rate:int, n_frames:int>",
    )
    feats = extract_image_features(df).collect()
    assert len(feats) == 20
    by_id = {r.id: r for r in feats}
    assert by_id[0].width == 32 and by_id[0].height == 24
    assert all(0 <= r.mean_r <= 255 for r in feats)
    assert all(len(r.embedding) == 16 for r in feats)
    # determinism: same payload → same features
    feats2 = {r.id: r for r in extract_image_features(df).collect()}
    assert feats2[3].embedding == by_id[3].embedding

    small = resize_images(df, 8, 6).collect()
    assert all(r.width == 8 and r.height == 6 for r in small)
    assert all(len(bytes(r.media)) == 4 + 8 + 8 * 6 * 3 for r in small)

    stats = media_metadata_stats(df).collect()
    assert stats[0].n == 20 and stats[0].total_bytes > 0


def test_compare_reports_changeset():
    from piperider_spark.profiler.compare import compare_reports, summary_markdown

    base = {
        "tables": {
            "t1": {
                "row_count": 10,
                "col_count": 2,
                "columns": {
                    "a": {"type": "integer", "nulls": 0, "distinct": 10, "duplicates": 0},
                    "b": {"type": "string", "nulls": 1, "distinct": 9, "duplicates": 0},
                },
            },
            "gone": {"row_count": 5, "col_count": 1, "columns": {}},
        }
    }
    target = {
        "tables": {
            "t1": {
                "row_count": 12,
                "col_count": 2,
                "columns": {
                    "a": {"type": "integer", "nulls": 0, "distinct": 12, "duplicates": 0},
                    "b": {"type": "string", "nulls": 1, "distinct": 9, "duplicates": 0},
                },
            },
            "new": {"row_count": 3, "col_count": 1, "columns": {}},
        }
    }
    cs = compare_reports(base, target)
    assert cs["summary"] == {"added": 1, "removed": 1, "changed": 1, "unchanged": 0}
    assert cs["tables"]["t1"]["columns"]["a"]["changed"]  # distinct moved
    assert not cs["tables"]["t1"]["columns"]["b"]["changed"]
    md = summary_markdown(cs)
    assert "t1" in md and "changed" in md


def test_source_registry(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from piperider_spark.sources import DataSource

    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame({"x": [1, 2, 3]})), str(tmp_path / "nums.parquet")
    )
    (tmp_path / "letters.csv").write_text("c1,c2\na,1\nb,2\n")
    src = DataSource("t", path=str(tmp_path))
    assert src.list_tables(spark) == ["letters", "nums"]
    assert src.read_table(spark, "nums").count() == 3
    csv_df = src.read_table(spark, "letters")
    assert csv_df.count() == 2
    assert [f.name for f in src.reflect_schema(spark, "letters").fields] == ["c1", "c2"]
    with pytest.raises(FileNotFoundError):
        src.read_table(spark, "missing")


def test_untyped_csv_profile_invalids(spark, tmp_path):
    """CSV ingest through the untyped staging path: unparsable cells count
    as invalids in the profile (reference dynamic-typing algebra) instead
    of silently nulling at scan time."""
    from piperider_spark.profiler.core import ProfilerConfig, profile_table
    from piperider_spark.sources import DataSource

    (tmp_path / "m.csv").write_text(
        "amount,when,flag\n1,2021-01-01,true\noops,2021-01-02,1\n3,nope,7\n,,\n"
    )
    src = DataSource("t", path=str(tmp_path))
    raw, declared = src.read_table_untyped(spark, "m")
    assert declared == {"amount": "integer", "when": "datetime", "flag": "boolean"}
    r = profile_table(raw, "m", ProfilerConfig(declared_types=declared))["columns"]
    a = r["amount"]
    assert a["non_nulls"] == 3 and a["valids"] == 2 and a["invalids"] == 1
    w = r["when"]
    assert w["valids"] == 2 and w["invalids"] == 1
    f = r["flag"]
    assert f["valids"] == 2 and f["invalids"] == 1

    # parquet stays typed: empty declared map
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"x": [1, 2]}), str(tmp_path / "p.parquet"))
    _, d2 = src.read_table_untyped(spark, "p")
    assert d2 == {}


def test_audio_features_and_frame_sampling(spark):
    """Audio decode/feature path and video frame-sampling path: real Spark
    plumbing (mapInPandas batch shapes), deterministic fake codecs."""
    from piperider_spark.multimodal.media import (
        extract_audio_features,
        extract_image_features,
        fake_encode_audio,
        fake_encode_video,
        sample_frames,
    )

    audio = spark.createDataFrame(
        [(i, fake_encode_audio(16000, 16000 * 2, seed=i), "audio", (None, None, 16000, None))
         for i in range(8)],
        "id long, media binary, media_type string, "
        "meta struct<width:int, height:int, sample_rate:int, n_frames:int>",
    )
    feats = {r.id: r for r in extract_audio_features(audio).collect()}
    assert len(feats) == 8
    assert all(abs(r.duration_sec - 2.0) < 1e-6 for r in feats.values())
    assert all(0 < r.rms < 1 and 0 < r.zero_cross_rate < 1 for r in feats.values())
    # determinism
    again = {r.id: r for r in extract_audio_features(audio).collect()}
    assert again[3].rms == feats[3].rms

    video = spark.createDataFrame(
        [(i, fake_encode_video(16, 12, 25, seed=i), "video", (16, 12, None, 25))
         for i in range(4)],
        "id long, media binary, media_type string, "
        "meta struct<width:int, height:int, sample_rate:int, n_frames:int>",
    )
    frames = sample_frames(video, stride=10)
    rows = frames.collect()
    # 25 frames, stride 10 -> frame_idx 0, 10, 20 per video
    assert len(rows) == 4 * 3
    assert sorted({r.frame_idx for r in rows}) == [0, 10, 20]
    # sampled frames chain directly into the image feature extractor
    ff = extract_image_features(
        frames.select("id", "media")
    ).collect()
    assert len(ff) == 12 and all(r.width == 16 and r.height == 12 for r in ff)


def test_stream_exact_dedup_matches_batch(spark, tmp_path):
    """Streaming first-seen-wins dedup == batch exact dedup (canonical =
    first by (ts, conv_id, turn_idx))."""
    from pyspark.sql import Window
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from piperider_spark.functions.text import fingerprint
    from piperider_spark.streaming.filter_stream import stream_exact_dedup

    inp = tmp_path / "in"
    inp.mkdir()
    write_transcripts_parquet(str(inp / "p0.parquet"), n_turns=1500, seed=21)

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("role", StringType()),
            StructField("text", StringType()),
            StructField("tool", StringType()),
            StructField("ts", TimestampType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(str(inp))
    out = stream_exact_dedup(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "select conv_id, turn_idx, is_first from dedup_stream"
    ).toPandas()

    batch = spark.read.parquet(str(inp))
    w = Window.partitionBy("fp").orderBy("ts", "conv_id", "turn_idx")
    want = (
        batch.where(F.col("text").isNotNull())
        .withColumn("fp", fingerprint("text"))
        .withColumn("rn", F.row_number().over(w))
        .select("conv_id", "turn_idx", (F.col("rn") == 1).alias("is_first"))
        .toPandas()
    )
    g = {(r.conv_id, r.turn_idx): r.is_first for _, r in got.iterrows()}
    mismatch = [
        (r.conv_id, r.turn_idx)
        for _, r in want.iterrows()
        if g[(r.conv_id, r.turn_idx)] != r.is_first
    ]
    assert not mismatch, mismatch[:5]
    assert sum(g.values()) == int(want["is_first"].sum())


def test_stream_exact_dedup_state_survives_restart(spark, tmp_path):
    """Checkpoint kill-and-resume (VERDICT r3 'Next round' #6): run the
    dedup stream over batch 1, terminate, drop a second batch whose texts
    DUPLICATE batch 1's, restart the identical query from the same
    checkpoint dir — the fingerprint state must survive the restart, so no
    duplicate earns is_first=true in the resumed run."""
    import pandas as pd
    import pyarrow.parquet as pq
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from piperider_spark.streaming.filter_stream import stream_exact_dedup

    inp = tmp_path / "in"
    inp.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    write_transcripts_parquet(str(inp / "p0.parquet"), n_turns=800, seed=31)

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("role", StringType()),
            StructField("text", StringType()),
            StructField("tool", StringType()),
            StructField("ts", TimestampType()),
        ]
    )

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(inp))
        q = (
            stream_exact_dedup(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # trigger 1: state built from p0

    # batch 2: the SAME texts under new conv_ids + later timestamps — every
    # non-null fingerprint is already in state from before the restart
    import pyarrow as pa

    t0 = pq.read_table(str(inp / "p0.parquet"))
    p0 = t0.to_pandas()
    p1 = p0.assign(
        conv_id="re_" + p0["conv_id"].astype(str),
        ts=p0["ts"] + pd.Timedelta(hours=1),
    )
    pq.write_table(
        pa.Table.from_pandas(p1, schema=t0.schema, preserve_index=False),
        str(inp / "p1.parquet"),
    )

    run_once()  # trigger 2: fresh query object, same checkpoint → resume

    res = spark.read.parquet(out)
    resumed = res.where(F.col("conv_id").startswith("re_"))
    assert resumed.count() == len(p1)  # second batch fully processed
    dup_firsts = resumed.where(F.col("is_first") & F.col("text").isNotNull()).count()
    assert dup_firsts == 0, f"{dup_firsts} duplicates won is_first after restart"
    # and across BOTH runs each non-null fingerprint has exactly one winner
    from piperider_spark.functions.text import fingerprint

    winners = (
        res.where(F.col("text").isNotNull())
        .withColumn("fp", fingerprint("text"))
        .groupBy("fp")
        .agg(F.sum(F.col("is_first").cast("long")).alias("n_first"))
        .where(F.col("n_first") != 1)
        .count()
    )
    assert winners == 0


def test_text_source_format(spark, tmp_path):
    from piperider_spark.sources import DataSource

    (tmp_path / "corpus.txt").write_text("doc one line\ndoc two line\n")
    src = DataSource("t", path=str(tmp_path))
    assert "corpus" in src.list_tables(spark)
    df = src.read_table(spark, "corpus")
    assert df.columns == ["value"] and df.count() == 2


def test_bmp_codec_roundtrip_exact():
    """Real BMP codec (pure numpy): encode→decode is byte-exact for RGB
    arrays, including widths that need 4-byte row padding, and top-down
    (negative height) layouts decode identically."""
    import struct

    import numpy as np

    from piperider_spark.multimodal.media import _decode_bmp, encode_bmp

    rng = np.random.default_rng(7)
    for (h, w) in [(2, 3), (5, 5), (1, 7), (13, 4)]:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        payload = encode_bmp(img)
        assert payload[:2] == b"BM"
        assert np.array_equal(_decode_bmp(payload), img)
    # top-down variant: flip rows, negate height
    img = rng.integers(0, 256, size=(4, 3, 3), dtype=np.uint8)
    p = bytearray(encode_bmp(img[::-1]))
    p[22:26] = struct.pack("<i", -4)
    # rows in the file are bottom-up of img[::-1] == img top-down
    assert np.array_equal(_decode_bmp(bytes(p)), img)
    # compressed/paletted rejected explicitly
    bad = bytearray(encode_bmp(img))
    bad[30:34] = struct.pack("<I", 1)  # BI_RLE8
    try:
        _decode_bmp(bytes(bad))
        raise AssertionError("compressed BMP must be rejected")
    except ValueError:
        pass


def test_wav_codec_roundtrip_and_stereo():
    import numpy as np

    from piperider_spark.multimodal.media import _decode_wav, encode_wav

    pcm = (np.sin(np.linspace(0, 40, 1600)) * 12000).astype(np.int16)
    rate, got = _decode_wav(encode_wav(16000, pcm))
    assert rate == 16000 and np.array_equal(got, pcm)
    # stereo mono-izes by channel mean
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(2)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        inter = np.empty(10, dtype=np.int16)
        inter[0::2] = 100
        inter[1::2] = 300
        wf.writeframes(inter.tobytes())
    rate, got = _decode_wav(buf.getvalue())
    assert rate == 8000 and np.all(got == 200)


def test_real_codecs_through_spark_pipeline(spark):
    """End-to-end over REAL formats: BMP payloads through decode →
    feature-extract → resize (re-encoded as BMP), WAV payloads through the
    audio features — the same mapInPandas plumbing as the fake codecs,
    now over formats any external tool can produce/read. 'auto' sniffs
    magic per payload."""
    import numpy as np

    from piperider_spark.multimodal.media import (
        _decode_bmp,
        encode_bmp,
        encode_wav,
        extract_audio_features,
        extract_image_features,
        resize_images,
    )

    rng = np.random.default_rng(11)
    imgs = {i: rng.integers(0, 256, size=(12, 16, 3), dtype=np.uint8) for i in range(4)}
    df = spark.createDataFrame(
        [(i, bytearray(encode_bmp(img))) for i, img in imgs.items()],
        "id long, media binary",
    )
    feats = {r.id: r for r in extract_image_features(df, codec="bmp").collect()}
    assert len(feats) == 4
    for i, img in imgs.items():
        assert (feats[i].width, feats[i].height) == (16, 12)
        assert abs(feats[i].mean_r - img[:, :, 0].mean()) < 1e-3
    # auto-sniffing gives identical results
    auto = {r.id: r for r in extract_image_features(df, codec="auto").collect()}
    assert all(auto[i].mean_g == feats[i].mean_g for i in imgs)

    resized = {r.id: r for r in resize_images(df, 8, 6, codec="bmp").collect()}
    for i, img in imgs.items():
        out = _decode_bmp(bytes(resized[i].media))
        assert out.shape == (6, 8, 3)
        # nearest-neighbour exactness against the numpy oracle
        yi = (np.arange(6) * 12 // 6).clip(0, 11)
        xi = (np.arange(8) * 16 // 8).clip(0, 15)
        assert np.array_equal(out, img[np.ix_(yi, xi)])

    pcm = (np.sin(np.linspace(0, 100, 8000)) * 10000).astype(np.int16)
    adf = spark.createDataFrame(
        [(1, bytearray(encode_wav(16000, pcm)))], "id long, media binary"
    )
    arow = extract_audio_features(adf, codec="wav").collect()[0]
    assert arow.sample_rate == 16000
    assert abs(arow.duration_sec - 0.5) < 1e-6
    x = pcm.astype(np.float32) / 2**15
    assert abs(arow.rms - float(np.sqrt(np.mean(x * x)))) < 1e-5


def test_minhash_band_keys_match_batch_signatures(spark):
    """The row-local band keys (streaming shape) must equal the batch
    explode+groupBy signatures recombined with the same banding formula —
    the two signature paths cannot drift."""
    from piperider_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n_hashes, n_bands = 8, 4
    rows_per = n_hashes // n_bands
    sigs = dedup.minhash_signatures(docs, n_hashes=n_hashes, hash_fn="xxhash64")
    want = {}
    for r in sigs.collect():
        want[r.id] = [
            "-".join([str(b)] + [str(r[f"sig_{b * rows_per + j}"]) for j in range(rows_per)])
            for b in range(n_bands)
        ]
    got = {
        r.doc_id: list(r.keys)
        for r in docs.select(
            F.col("doc_id"),
            dedup.minhash_band_keys("text", n_hashes, n_bands).alias("keys"),
        ).collect()
        if r.keys[0] is not None
    }
    assert got == want


def test_stream_near_dup_candidates_match_batch(spark, tmp_path):
    """Streaming LSH bucket state == the batch window oracle (first doc per
    band key by id), and every batch-verified LSH near-dup pair has its
    larger-id member flagged as a streaming candidate."""
    from pyspark.sql import Window
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from piperider_spark.operators import dedup
    from piperider_spark.streaming.filter_stream import stream_near_dup_candidates

    inp = tmp_path / "docs"
    inp.mkdir()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.select("doc_id", "text", "lang", "source", "n_chars").write.parquet(
        str(inp / "p0.parquet"), mode="overwrite"
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(str(inp / "p0.parquet"))
    out = stream_near_dup_candidates(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("near_dup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "select doc_id, band_key, is_first, first_doc_id from near_dup_stream"
    ).collect()

    # batch oracle: same row-local keys, first per key = min doc_id
    keyed = docs.select(
        "doc_id", F.explode(dedup.minhash_band_keys("text")).alias("band_key")
    ).where(F.col("band_key").isNotNull())
    w = Window.partitionBy("band_key").orderBy("doc_id")
    want = {
        (r.doc_id, r.band_key): (r.rn == 1, r.first)
        for r in keyed.withColumn("rn", F.row_number().over(w))
        .withColumn("first", F.min("doc_id").over(Window.partitionBy("band_key")))
        .collect()
    }
    assert len(got) == len(want)
    for r in got:
        exp_first, exp_owner = want[(r.doc_id, r.band_key)]
        assert r.is_first == exp_first and r.first_doc_id == exp_owner, r

    # recall vs the batch-verified near-dup pairs: the larger-id member of
    # every verified pair must be a streaming candidate (is_first=false
    # somewhere)
    flagged = {r.doc_id for r in got if not r.is_first}
    pairs = dedup.minhash_lsh_pairs(
        docs, n_hashes=8, n_bands=4, threshold=0.5, hash_fn="xxhash64"
    ).collect()
    missing = [(p.id_a, p.id_b) for p in pairs if max(p.id_a, p.id_b) not in flagged]
    assert not missing, missing[:5]


def test_png_codec_roundtrip_all_filters():
    """Real PNG codec (stdlib zlib + numpy): decode reconstructs every
    scanline filter type (the encoder's vectorized forward filters pin the
    decoder's sequential inverse), all four 8-bit color types normalize to
    RGB, an externally-encoded fixture decodes, and CRC-corrupt payloads
    are rejected explicitly."""
    import base64
    import struct

    import numpy as np

    from piperider_spark.multimodal.media import _decode_png, encode_png

    rng = np.random.default_rng(3)
    # gradient: filters genuinely transform bytes (and compress hard)
    y, x = np.mgrid[0:20, 0:14]
    grad = np.stack([(y * 3) % 256, (x * 7) % 256, (y + x) % 256], axis=2).astype(np.uint8)
    for ft in range(5):
        assert np.array_equal(_decode_png(encode_png(grad, filter_type=ft)), grad), ft
    # random images across shapes incl. 1-pixel edges
    for (h, w) in [(1, 1), (2, 3), (7, 5), (13, 4)]:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        for ft in range(5):
            assert np.array_equal(_decode_png(encode_png(img, filter_type=ft)), img)
    # gray broadcasts, alpha drops
    g = rng.integers(0, 256, size=(5, 6), dtype=np.uint8)
    assert np.array_equal(_decode_png(encode_png(g)), np.repeat(g[:, :, None], 3, 2))
    rgba = rng.integers(0, 256, size=(4, 4, 4), dtype=np.uint8)
    assert np.array_equal(_decode_png(encode_png(rgba, filter_type=4)), rgba[:, :, :3])
    # externally-encoded fixture (canonical 1x1 RGBA)
    ext = base64.b64decode(
        "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mNk"
        "+M9QDwADhgGAWjR9awAAAABJRU5ErkJggg=="
    )
    assert _decode_png(ext).shape == (1, 1, 3)
    # corrupt CRC rejected
    bad = bytearray(encode_png(grad))
    bad[-5] ^= 0xFF  # flip a bit inside IEND's CRC
    with pytest.raises(ValueError, match="CRC"):
        _decode_png(bytes(bad))
    # paletted-without-PLTE + bad depth-for-type rejected with descriptive
    # errors (paletted/interlaced images themselves now DECODE — see
    # test_png_paletted_interlaced_and_depths)
    p = bytearray(encode_png(grad))
    # IHDR data starts at 8 (sig) + 8 (len+type); color type byte is offset 9 in IHDR
    import zlib as _z

    ihdr = bytearray(p[16 : 16 + 13])
    ihdr[9] = 3  # paletted, but no PLTE chunk present
    p[16 : 16 + 13] = ihdr
    p[29:33] = struct.pack(">I", _z.crc32(b"IHDR" + bytes(ihdr)) & 0xFFFFFFFF)
    with pytest.raises(ValueError, match="PLTE"):
        _decode_png(bytes(p))
    ihdr[9] = 2
    ihdr[8] = 4  # depth 4 is invalid for truecolor
    p[16 : 16 + 13] = ihdr
    p[29:33] = struct.pack(">I", _z.crc32(b"IHDR" + bytes(ihdr)) & 0xFFFFFFFF)
    with pytest.raises(ValueError, match="bit depth"):
        _decode_png(bytes(p))


def test_png_paletted_interlaced_and_depths():
    """Round-5 PNG widening: Adam7 interlaced encode/decode (independent
    directions pin each other and must agree with the flat encoding),
    paletted color type 3 at bit depths 1/2/4/8, sub-byte grayscale with
    full-range scaling, and 16-bit high-byte downscale. The 16-bit and
    depth-2 gray payloads are hand-built byte streams (filter 0), NOT
    products of the encoder — an independent construction of the format."""
    import struct
    import zlib

    import numpy as np

    from piperider_spark.multimodal.media import (
        _adam7_pass_dims,
        _decode_png,
        _png_chunk,
        encode_png,
        encode_png_paletted,
    )

    rng = np.random.default_rng(41)
    # Adam7 pass grid covers every pixel exactly once at awkward sizes
    for (w, h) in [(1, 1), (9, 13), (8, 8), (7, 3), (16, 5), (2, 9)]:
        seen = np.zeros((h, w), dtype=int)
        for x0, y0, dx, dy, pw, ph in _adam7_pass_dims(w, h):
            seen[y0::dy, x0::dx] += 1
        assert (seen == 1).all(), (w, h)
    # interlaced roundtrip == flat roundtrip == original, all color types,
    # incl. sizes where several passes are empty
    for (h, w) in [(1, 1), (2, 3), (7, 5), (13, 9), (16, 16), (4, 20)]:
        rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(_decode_png(encode_png(rgb, interlace=True)), rgb)
    rgba = rng.integers(0, 256, size=(10, 6, 4), dtype=np.uint8)
    assert np.array_equal(
        _decode_png(encode_png(rgba, interlace=True)), rgba[:, :, :3]
    )
    gray = rng.integers(0, 256, size=(9, 11), dtype=np.uint8)
    assert np.array_equal(
        _decode_png(encode_png(gray, interlace=True)),
        np.repeat(gray[:, :, None], 3, 2),
    )
    # paletted at every legal depth; palette lookup exact, index packing
    # exercised at sub-byte widths (w=7 forces partial trailing bytes)
    pal16 = (rng.integers(0, 16, size=(11, 7, 1)) * 17).astype(np.uint8).repeat(3, 2)
    for d in (4, 8):
        assert np.array_equal(_decode_png(encode_png_paletted(pal16, bit_depth=d)), pal16)
    duo = (rng.integers(0, 2, size=(5, 9, 1)) * 255).astype(np.uint8).repeat(3, 2)
    for d in (1, 2, 4, 8):
        assert np.array_equal(_decode_png(encode_png_paletted(duo, bit_depth=d)), duo)
    # palette index out of PLTE range rejected
    with pytest.raises(ValueError, match="palette index"):
        bad = encode_png_paletted(pal16, bit_depth=8)
        # shrink PLTE to 2 entries and re-CRC: indices up to 15 now invalid
        magic, rest = bad[:8], bad[8:]
        chunks = []
        pos = 0
        while pos < len(rest):
            (ln,) = struct.unpack(">I", rest[pos : pos + 4])
            ctype = rest[pos + 4 : pos + 8]
            data = rest[pos + 8 : pos + 8 + ln]
            if ctype == b"PLTE":
                data = data[:6]
            chunks.append(_png_chunk(ctype, data))
            pos += 12 + ln
        _decode_png(magic + b"".join(chunks))
    # hand-built 16-bit RGB (2x2, filter 0): decoder keeps the high byte
    hi = np.array(
        [[[10, 20, 30], [40, 50, 60]], [[70, 80, 90], [100, 110, 120]]], np.uint8
    )
    raw16 = b""
    for y in range(2):
        row = b"\x00"  # filter 0
        for x in range(2):
            for c in range(3):
                row += bytes([hi[y, x, c], 0xAB])  # low byte must be ignored
        raw16 += row
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    png16 = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw16))
        + _png_chunk(b"IEND", b"")
    )
    assert np.array_equal(_decode_png(png16), hi)
    # hand-built depth-2 grayscale 1x5 (levels 0..3 scale to 0/85/170/255);
    # 5 two-bit samples pack MSB-first into 2 bytes: 00 01 10 11 | 00 ...
    packed = bytes([0b00011011, 0b00000000])
    ihdr = struct.pack(">IIBBBBB", 5, 1, 2, 0, 0, 0, 0)
    png2 = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" + packed))
        + _png_chunk(b"IEND", b"")
    )
    want = np.repeat(np.array([[0, 85, 170, 255, 0]], np.uint8)[:, :, None], 3, 2)
    assert np.array_equal(_decode_png(png2), want)


def test_gif_codec_roundtrip_interlace_and_fixture():
    """Real GIF codec (pure stdlib+numpy LZW both directions): palette
    roundtrips at sizes forcing code-width growth AND a dictionary reset,
    a hand-built external fixture (the classic 1x1 transparent tracking
    pixel) decodes against the spec, interlaced and local-color-table
    variants decode, and >256-color input is rejected."""
    import struct

    import numpy as np
    import pytest

    from piperider_spark.multimodal.media import _decode_gif, encode_gif

    rng = np.random.default_rng(43)
    # small roundtrips across palette sizes (code width 3..8 bits)
    for n_colors, (h, w) in [(2, (1, 1)), (5, (7, 9)), (16, (12, 16)), (200, (20, 30))]:
        pal = rng.integers(0, 256, size=(n_colors, 3), dtype=np.uint8)
        img = pal[rng.integers(0, n_colors, size=(h, w))]
        assert np.array_equal(_decode_gif(encode_gif(img)), img)
    # 128x96 random 16-color: ~12k pixels of noise grows the LZW table to
    # 4096 and exercises the CLEAR/reset path in encoder and decoder
    pal = (rng.integers(0, 16, size=(16, 3)) * 17).astype(np.uint8)
    big = pal[rng.integers(0, 16, size=(128, 96))]
    assert np.array_equal(_decode_gif(encode_gif(big)), big)
    # external fixture: 1x1 GIF89a tracking pixel (white/black GCT, GCE
    # transparency on index 0) — transparent pixel keeps the background
    # color (GCT[bg_idx]=white). Hand-assembled bytes, not encoder output.
    pixel = (
        b"GIF89a\x01\x00\x01\x00\x80\x00\x00\xff\xff\xff\x00\x00\x00"
        b"\x21\xf9\x04\x01\x00\x00\x00\x00"
        b"\x2c\x00\x00\x00\x00\x01\x00\x01\x00\x00\x02\x02\x44\x01\x00\x3b"
    )
    assert np.array_equal(_decode_gif(pixel), np.full((1, 1, 3), 255, np.uint8))
    # interlaced: encode the rows pre-permuted into GIF's 4-pass stream
    # order, then set the interlace flag — the decoder must un-permute
    img = pal[rng.integers(0, 16, size=(13, 8))]
    permuted = np.concatenate([img[0::8], img[4::8], img[2::4], img[1::2]])
    buf = bytearray(encode_gif(permuted))
    gct_len = 3 * (2 << (buf[10] & 0x07))
    desc = 13 + gct_len  # image separator 0x2c
    assert buf[desc] == 0x2C
    buf[desc + 9] |= 0x40
    assert np.array_equal(_decode_gif(bytes(buf)), img)
    # local color table: move the GCT into the frame (clear LSD flag,
    # set descriptor flag, relocate the table bytes after the descriptor)
    buf = bytearray(encode_gif(img))
    bits = buf[10] & 0x07
    gct_len = 3 * (2 << bits)
    table = bytes(buf[13 : 13 + gct_len])
    lsd_packed = buf[10] & ~0x80
    desc_packed = buf[13 + gct_len + 9] | 0x80 | bits  # same size field as the LSD carried
    lct_gif = (
        bytes(buf[:10]) + bytes([lsd_packed]) + bytes(buf[11:13])
        + bytes(buf[13 + gct_len : 13 + gct_len + 9]) + bytes([desc_packed])
        + table + bytes(buf[13 + gct_len + 10 :])
    )
    assert np.array_equal(_decode_gif(lct_gif), img)
    # >256 colors rejected with the no-quantizer message
    i = np.arange(18 * 18, dtype=np.uint32)  # 324 distinct (r, g) pairs
    grad = np.stack([i & 0xFF, i >> 8, np.zeros_like(i)], axis=1).reshape(18, 18, 3)
    with pytest.raises(ValueError, match="256 colors"):
        encode_gif(grad.astype(np.uint8))
    with pytest.raises(ValueError, match="not a GIF"):
        _decode_gif(b"JUNK")


def test_gif_through_spark_pipeline_auto(spark):
    """GIF payloads through the mapInPandas pipeline under codec='auto',
    mixed with PNG in one batch: features match the numpy oracle and
    resize keeps each row's native format — GIF re-encode works without a
    quantizer because nearest-neighbour output is a palette subset."""
    import numpy as np

    from piperider_spark.multimodal.media import (
        _decode_gif,
        _decode_png,
        encode_gif,
        encode_png,
        extract_image_features,
        resize_images,
    )

    rng = np.random.default_rng(29)
    pal = rng.integers(0, 256, size=(32, 3), dtype=np.uint8)
    imgs = {i: pal[rng.integers(0, 32, size=(12, 16))] for i in range(4)}
    payloads = {
        i: (encode_gif(img) if i % 2 == 0 else encode_png(img))
        for i, img in imgs.items()
    }
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in payloads.items()], "id long, media binary"
    )
    feats = {r.id: r for r in extract_image_features(df, codec="auto").collect()}
    for i, img in imgs.items():
        assert (feats[i].width, feats[i].height) == (16, 12)
        assert abs(feats[i].mean_g - img[:, :, 1].mean()) < 1e-3
    resized = {r.id: r for r in resize_images(df, 8, 6, codec="auto").collect()}
    yi = (np.arange(6) * 12 // 6).clip(0, 11)
    xi = (np.arange(8) * 16 // 8).clip(0, 15)
    for i, img in imgs.items():
        buf = bytes(resized[i].media)
        if i % 2 == 0:
            assert buf[:6] in (b"GIF87a", b"GIF89a")  # stayed GIF
            out = _decode_gif(buf)
        else:
            assert buf[:8] == b"\x89PNG\r\n\x1a\n"
            out = _decode_png(buf)
        assert np.array_equal(out, img[np.ix_(yi, xi)])


def test_png_through_spark_pipeline_mixed_auto(spark):
    """PNG payloads through the full mapInPandas pipeline, mixed with BMP in
    one batch under codec='auto': features match the numpy oracle and
    resize re-encodes each row in its own sniffed native format."""
    import numpy as np

    from piperider_spark.multimodal.media import (
        _decode_bmp,
        _decode_png,
        encode_bmp,
        encode_png,
        extract_image_features,
        resize_images,
    )

    rng = np.random.default_rng(17)
    imgs = {i: rng.integers(0, 256, size=(12, 16, 3), dtype=np.uint8) for i in range(4)}
    payloads = {
        i: (encode_png(img, filter_type=4) if i % 2 == 0 else encode_bmp(img))
        for i, img in imgs.items()
    }
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in payloads.items()], "id long, media binary"
    )
    feats = {r.id: r for r in extract_image_features(df, codec="auto").collect()}
    for i, img in imgs.items():
        assert (feats[i].width, feats[i].height) == (16, 12)
        assert abs(feats[i].mean_r - img[:, :, 0].mean()) < 1e-3
    resized = {r.id: r for r in resize_images(df, 8, 6, codec="auto").collect()}
    yi = (np.arange(6) * 12 // 6).clip(0, 11)
    xi = (np.arange(8) * 16 // 8).clip(0, 15)
    for i, img in imgs.items():
        buf = bytes(resized[i].media)
        if i % 2 == 0:
            assert buf[:8] == b"\x89PNG\r\n\x1a\n"  # stayed PNG
            out = _decode_png(buf)
        else:
            assert buf[:2] == b"BM"  # stayed BMP
            out = _decode_bmp(buf)
        assert np.array_equal(out, img[np.ix_(yi, xi)])
    # explicit codec='png' end-to-end as well
    pdf = spark.createDataFrame(
        [(9, bytearray(encode_png(imgs[0])))], "id long, media binary"
    )
    out = resize_images(pdf, 4, 4, codec="png").collect()[0]
    assert bytes(out.media)[:8] == b"\x89PNG\r\n\x1a\n"
    assert _decode_png(bytes(out.media)).shape == (4, 4, 3)


def test_stream_near_dup_verified_match_batch(spark, tmp_path):
    """Stream-side exact verify == the batch owner-pair oracle: for every
    non-owner (doc, band) row the streaming jaccard equals exact Jaccard
    over distinct word shingles vs the bucket owner, and ``verified``
    matches the threshold — with the input split across two micro-batches
    so verification provably runs from persisted state."""
    from pyspark.sql import Window
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from piperider_spark.operators import dedup
    from piperider_spark.streaming.filter_stream import stream_near_dup_verified

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    med = docs.approxQuantile("doc_id", [0.5], 0)[0]
    inp = tmp_path / "docs"
    inp.mkdir()
    docs.where(F.col("doc_id") <= med).coalesce(1).write.parquet(str(inp / "f0.parquet"))
    docs.where(F.col("doc_id") > med).coalesce(1).write.parquet(str(inp / "f1.parquet"))

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(inp) + "/*.parquet")
    )
    out = stream_near_dup_verified(stream, threshold=0.5)
    q = (
        out.writeStream.format("memory")
        .queryName("near_dup_verified_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from near_dup_verified_stream").collect()

    # batch oracle: owner per bucket = min doc_id over the SAME row-local
    # keys; exact Jaccard over distinct word shingles driver-side
    keyed = docs.select(
        "doc_id", F.explode(dedup.minhash_band_keys("text")).alias("band_key")
    ).where(F.col("band_key").isNotNull())
    owners = keyed.withColumn(
        "owner", F.min("doc_id").over(Window.partitionBy("band_key"))
    )
    shingle_sets = {
        r.doc_id: set(r.sh)
        for r in docs.select(
            "doc_id", dedup.word_shingles("text", 3).alias("sh")
        ).collect()
    }

    def jac(a, b):
        sa, sb = shingle_sets[a], shingle_sets[b]
        u = len(sa | sb)
        return round(len(sa & sb) / u, 6) if u else 0.0

    want = {}
    for r in owners.collect():
        if r.doc_id != r.owner:
            want[(r.doc_id, r.band_key)] = (r.owner, jac(r.owner, r.doc_id))

    non_owner = [r for r in got if not r.is_first]
    assert len(non_owner) == len(want)
    for r in non_owner:
        exp_owner, exp_j = want[(r.doc_id, r.band_key)]
        assert r.first_doc_id == exp_owner
        assert abs(r.jaccard - exp_j) < 1e-9, (r, exp_j)
        assert r.verified == (exp_j >= 0.5)
    # owner rows never verify against themselves
    for r in got:
        if r.is_first:
            assert r.jaccard is None and r.verified is False
    # recall: every batch-verified pair whose smaller member owns a shared
    # bucket appears as a streaming verified row
    stream_verified = {(r.first_doc_id, r.doc_id) for r in got if r.verified}
    for (did, bk), (owner, j) in want.items():
        if j >= 0.5:
            assert (owner, did) in stream_verified


def test_stream_near_dup_owner_replay_not_self_candidate(spark, tmp_path):
    """At-least-once delivery: a re-delivered row for the bucket-owner doc
    itself must NOT be emitted as a candidate against its own doc_id — in
    both the candidates op and the verified op."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from piperider_spark.streaming.filter_stream import (
        stream_near_dup_candidates,
        stream_near_dup_verified,
    )

    text = "the quick brown fox jumps over the lazy dog again and again today"
    inp = tmp_path / "replay"
    inp.mkdir()
    spark.createDataFrame([(1, text)], "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(inp / "f0.parquet"))
    # batch 2 replays doc 1 and introduces the exact near-dup doc 2
    spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(inp / "f1.parquet"))

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )

    def drain(op, name):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(inp) + "/*.parquet")
        )
        q = (
            op(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.sql(f"select * from {name}").collect()

    cand = drain(stream_near_dup_candidates, "replay_cand")
    # doc 1 appears twice per band (original + replay) — ALL its rows keep
    # is_first=true; doc 2's rows are candidates naming doc 1
    for r in cand:
        if r.doc_id == 1:
            assert r.is_first, r
        else:
            assert not r.is_first and r.first_doc_id == 1, r

    ver = drain(stream_near_dup_verified, "replay_ver")
    for r in ver:
        if r.doc_id == 1:
            assert r.is_first and r.jaccard is None and r.verified is False, r
        else:
            assert r.verified and abs(r.jaccard - 1.0) < 1e-9, r


def test_avi_codec_roundtrip_and_rejects():
    """Real AVI codec (RIFF + uncompressed DIB frames, stdlib+numpy):
    encode→iterate is frame-exact incl. odd widths needing row padding;
    compressed handlers and non-24-bit frames are rejected explicitly."""
    import numpy as np
    import pytest as _pytest

    from piperider_spark.multimodal.media import _iter_avi_frames, encode_avi

    rng = np.random.default_rng(5)
    for (n, h, w) in [(1, 2, 2), (5, 7, 9), (3, 6, 3)]:
        frames = rng.integers(0, 256, size=(n, h, w, 3), dtype=np.uint8)
        out = list(_iter_avi_frames(encode_avi(frames, fps=12)))
        assert len(out) == n
        for fi, ww, hh, f in out:
            assert (ww, hh) == (w, h) and np.array_equal(f, frames[fi])
    p = bytearray(encode_avi(rng.integers(0, 256, size=(2, 4, 4, 3), dtype=np.uint8)))
    i = p.find(b"vids") + 4
    p[i : i + 4] = b"MJPG"
    with _pytest.raises(ValueError, match="compressed"):
        list(_iter_avi_frames(bytes(p)))
    with _pytest.raises(ValueError, match="not an AVI"):
        list(_iter_avi_frames(b"RIFF\x04\x00\x00\x00WAVE"))


def test_avi_frames_through_spark_pipeline(spark):
    """Real AVI payloads through sample_frames: sampled frames come out as
    REAL BMP payloads that feed straight into the image ops; codec='auto'
    handles a mixed AVI + fake-video batch."""
    import numpy as np

    from piperider_spark.multimodal.media import (
        _decode_bmp,
        encode_avi,
        extract_image_features,
        fake_encode_video,
        sample_frames,
    )

    rng = np.random.default_rng(23)
    vids = {i: rng.integers(0, 256, size=(7, 8, 10, 3), dtype=np.uint8) for i in range(2)}
    rows = [(i, bytearray(encode_avi(v, fps=5))) for i, v in vids.items()]
    rows.append((9, bytearray(fake_encode_video(10, 8, 7, seed=3))))
    df = spark.createDataFrame(rows, "id long, media binary")

    out = sample_frames(df, stride=3, codec="auto").collect()
    # frames 0, 3, 6 of each video
    assert sorted({r.frame_idx for r in out}) == [0, 3, 6]
    for r in out:
        if r.id in vids:
            got = _decode_bmp(bytes(r.media))  # real BMP payload
            assert np.array_equal(got, vids[r.id][r.frame_idx])
        else:
            assert bytes(r.media)[:4] == b"FIMG"
    # sampled real frames feed the image features via auto sniffing
    fdf = spark.createDataFrame(
        [(r.id * 100 + r.frame_idx, r.media) for r in out], "id long, media binary"
    )
    feats = {r.id: r for r in extract_image_features(fdf, codec="auto").collect()}
    k = 0 * 100 + 3
    exp = vids[0][3]
    assert abs(feats[k].mean_b - exp[:, :, 2].mean()) < 1e-3


def test_stream_near_dup_verified_bounded_state_cap(spark, tmp_path):
    """max_state_shingles bounds the per-bucket state: identical docs still
    verify at jaccard 1.0 under a tiny cap (both sides keep the same
    bottom-k hashes), and the capped estimate stays deterministic and in
    [0, 1] for partially-overlapping docs."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from piperider_spark.streaming.filter_stream import stream_near_dup_verified

    base = " ".join(f"tok{i}" for i in range(60))
    near = " ".join(f"tok{i}" for i in range(50)) + " zeta yota kappa mu nu xi omicron pi rho sigma"
    inp = tmp_path / "cap"
    inp.mkdir()
    spark.createDataFrame(
        [(1, base), (2, base), (3, near)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(inp / "f0.parquet"))

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    stream = spark.readStream.schema(schema).parquet(str(inp) + "/*.parquet")
    q = (
        stream_near_dup_verified(stream, threshold=0.5, max_state_shingles=8)
        .writeStream.format("memory")
        .queryName("cap_ver")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from cap_ver").collect()
    by_doc = {}
    for r in got:
        if not r.is_first:
            by_doc.setdefault(r.doc_id, set()).add(r.jaccard)
    # doc 2 is byte-identical to the bucket owner: capped sets are equal
    assert by_doc[2] == {1.0}
    for j in by_doc.get(3, set()):
        assert 0.0 <= j <= 1.0


def test_png_adaptive_filter_mixes_rows():
    """Default 'adaptive' mode picks the min-abs-residual filter per row
    (the libpng heuristic): mixed-filter streams roundtrip exactly and
    compress at least as well as every uniform-filter encoding."""
    import struct
    import zlib

    import numpy as np

    from piperider_spark.multimodal.media import _decode_png, encode_png

    rng = np.random.default_rng(3)
    y, x = np.mgrid[0:40, 0:30]
    grad = np.stack([(y * 3) % 256, (x * 7) % 256, (y + x) % 256], axis=2).astype(np.uint8)
    noise = rng.integers(0, 256, size=(40, 30, 3), dtype=np.uint8)
    img = np.concatenate([grad, noise], axis=0)
    p = encode_png(img)  # adaptive default
    assert np.array_equal(_decode_png(p), img)
    # the stream genuinely mixes filter types row-by-row
    pos, idat = 8, []
    while pos + 8 <= len(p):
        (ln,) = struct.unpack(">I", p[pos : pos + 4])
        if p[pos + 4 : pos + 8] == b"IDAT":
            idat.append(p[pos + 8 : pos + 8 + ln])
        pos += 12 + ln
    stream = zlib.decompress(b"".join(idat))
    stride = 30 * 3 + 1
    fts = {stream[i] for i in range(0, len(stream), stride)}
    assert len(fts) >= 2, fts
    # never worse than the best uniform filter (small zlib-context slack)
    best_uniform = min(len(encode_png(img, ft)) for ft in range(5))
    assert len(p) <= best_uniform * 1.05


def test_stream_conversation_rollup_matches_batch(spark, tmp_path):
    """Session-window conversation rollup over the decisions stream equals
    the batch conversation_rollup row-for-row once the watermark closes the
    sessions (every test conversation spans << gap, so one session each).
    Emission is append-mode exactly-once: a conversation's row appears only
    after its session is closed by watermark advance (the flush batches)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from piperider_spark.pipeline import build_decisions, conversation_rollup
    from piperider_spark.streaming.filter_stream import (
        stream_conversation_rollup,
        stream_decisions,
    )

    inp = tmp_path / "in"
    inp.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    pdf = generate_transcripts(1500, seed=21)
    main_tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(main_tbl, str(inp / "p0.parquet"))

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("role", StringType()),
            StructField("text", StringType()),
            StructField("tool", StringType()),
            StructField("ts", TimestampType()),
        ]
    )

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(inp))
        rolled = stream_conversation_rollup(
            stream_decisions(stream), gap="30 days", watermark="1 second"
        )
        q = (
            rolled.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # ingest the real conversations; their sessions stay open

    # flush batches: far-future singleton conversations advance the
    # watermark past every real session's end (last ts + gap)
    for i, days in enumerate((400, 800)):
        flush = pd.DataFrame(
            {
                "conv_id": [f"zz_flush_{i}"],
                "turn_idx": pd.array([0], dtype="int32"),
                "role": ["user"],
                "text": ["flush"],
                "tool": [None],
                "ts": [pdf["ts"].max() + pd.Timedelta(days=days)],
            }
        )
        pq.write_table(
            pa.Table.from_pandas(flush, schema=main_tbl.schema, preserve_index=False),
            str(inp / f"flush_{i}.parquet"),
        )
        run_once()

    got = (
        spark.read.parquet(out)
        .where(~F.col("conv_id").startswith("zz_flush"))
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    exp = (
        conversation_rollup(build_decisions(spark.createDataFrame(pdf)))
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    assert list(got["conv_id"]) == list(exp["conv_id"])
    for col in ("n_turns", "n_kept", "n_roles", "ts_min", "ts_max", "keep_frac", "conv_keep"):
        assert list(got[col]) == list(exp[col]), col


def test_stream_conversation_exact_dedup_two_query_chain(spark, tmp_path):
    """The conversation dedup streaming topology: query 1 emits completed-
    session fingerprints (session_window + stable-order \\x1e fingerprint,
    byte-identical to the batch key), query 2 applies first-seen keyed
    state over them — chained through parquet storage because Spark
    forbids arbitrary stateful ops after an aggregation in one query.
    Group membership must equal the batch conversation_exact_dup_groups."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from piperider_spark.functions.text import fingerprint
    from piperider_spark.operators import dedup as bdedup
    from piperider_spark.streaming.filter_stream import (
        stream_conversation_exact_dedup,
        stream_conversation_fingerprints,
    )

    inp = tmp_path / "in"
    inp.mkdir()
    sessions = str(tmp_path / "sessions")
    out = str(tmp_path / "out")
    ck1, ck2 = str(tmp_path / "ck1"), str(tmp_path / "ck2")

    pdf = generate_transcripts(900, seed=33)
    dup_src = sorted(pdf["conv_id"].unique())[:2]
    copies = pdf[pdf["conv_id"].isin(dup_src)].copy()
    copies["conv_id"] = copies["conv_id"] + "_copy"
    copies["ts"] = copies["ts"] + pd.Timedelta(hours=1)  # originals come first
    both = pd.concat([pdf, copies], ignore_index=True)
    both["ts"] = both["ts"].astype("datetime64[us]")  # Spark timestamp = micros
    main_tbl = pa.Table.from_pandas(both, preserve_index=False)
    pq.write_table(main_tbl, str(inp / "p0.parquet"))

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("role", StringType()),
            StructField("text", StringType()),
            StructField("tool", StringType()),
            StructField("ts", TimestampType()),
        ]
    )

    def run_q1():
        stream = spark.readStream.schema(schema).parquet(str(inp))
        q = (
            stream_conversation_fingerprints(stream, gap="30 days", watermark="1 second")
            .writeStream.format("parquet")
            .option("path", sessions)
            .option("checkpointLocation", ck1)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_q1()
    for i, days in enumerate((400, 800)):  # advance watermark -> close sessions
        flush = pd.DataFrame(
            {
                "conv_id": [f"zz_flush_{i}"],
                "turn_idx": pd.array([0], dtype="int32"),
                "role": ["user"],
                "text": ["flush"],
                "tool": [None],
                "ts": [both["ts"].max() + pd.Timedelta(days=days)],
            }
        )
        pq.write_table(
            pa.Table.from_pandas(flush, schema=main_tbl.schema, preserve_index=False),
            str(inp / f"flush_{i}.parquet"),
        )
        run_q1()

    sess_schema = "conv_id string, fp string, n_turns long, ts_min timestamp, ts_max timestamp"
    q2 = (
        stream_conversation_exact_dedup(
            spark.readStream.schema(sess_schema).parquet(sessions)
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck2)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()

    got = (
        spark.read.parquet(out)
        .where(~F.col("conv_id").startswith("zz_flush"))
        .toPandas()
    )
    assert len(got) == both["conv_id"].nunique()

    # fingerprints match the batch key byte-for-byte
    batch_fp = {
        r.conv_id: r.fp
        for r in bdedup.conversation_text(spark.createDataFrame(both), sep="\x1e")
        .select("conv_id", fingerprint("conv_text").alias("fp"))
        .collect()
    }
    assert dict(zip(got["conv_id"], got["fp"])) == batch_fp

    # group membership == batch conversation_exact_dup_groups; exactly one
    # is_first per group, and it is the earliest-ts member (the original)
    groups = bdedup.conversation_exact_dup_groups(spark.createDataFrame(both)).collect()
    assert {g.fp for g in groups} == set(got.loc[got.duplicated("fp", keep=False), "fp"])
    for g in groups:
        members = got[got["fp"] == g.fp]
        assert len(members) == g.n_convs == 2
        assert members.loc[members["is_first"], "conv_id"].tolist() == [g.min_conv_id]
    # singletons are all first
    singles = got[~got.duplicated("fp", keep=False)]
    assert singles["is_first"].all()


def test_stream_exact_dedup_state_ttl_evicts_idle_fingerprints(spark, tmp_path):
    """state_ttl bounds dedup state: a fingerprint idle past the TTL is
    evicted (the processing-time timer fires on a later micro-batch), so a
    later duplicate is flagged first again — the documented TTL-horizon
    semantics. TTL runs under a CONTINUOUS trigger (processing-time timers
    keep an availableNow query alive forever — see the stream_exact_dedup
    docstring), so this test drives one long-running query and stops it."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from piperider_spark.streaming.filter_stream import stream_exact_dedup

    inp = tmp_path / "in"
    inp.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("role", StringType()),
            StructField("text", StringType()),
            StructField("tool", StringType()),
            StructField("ts", TimestampType()),
        ]
    )

    def write_batch(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        )
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf["tool"] = pdf["tool"].astype("string")  # all-None would infer non-string
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), str(inp / name))

    t = "the duplicated transcript text under test"
    write_batch("p0.parquet", [("a", 0, "user", t, None, "2021-01-01 00:00:00")])

    q = (
        stream_exact_dedup(
            spark.readStream.schema(schema).parquet(str(inp)),
            state_ttl="50 milliseconds",
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:

        def wait_for(n_convs, deadline=60):
            t0 = _time.time()
            while _time.time() - t0 < deadline:
                try:
                    if spark.read.parquet(out).select("conv_id").distinct().count() >= n_convs:
                        return
                except Exception:
                    pass  # sink not initialized yet
                _time.sleep(0.5)
            raise AssertionError(f"sink never reached {n_convs} conversations")

        wait_for(1)          # a processed; fp(t) armed with 50 ms TTL
        _time.sleep(1.5)     # let the timer expire and cleanup batches fire
        write_batch("p1.parquet", [("b", 0, "user", "unrelated filler", None, "2021-01-01 00:01:00")])
        wait_for(2)
        _time.sleep(1.5)
        write_batch("p2.parquet", [("c", 0, "user", t, None, "2021-01-01 00:02:00")])
        wait_for(3)          # fp(t) was evicted -> duplicate is first again
    finally:
        q.stop()

    got = spark.read.parquet(out).toPandas()
    by_conv = dict(zip(got["conv_id"], got["is_first"]))
    assert by_conv == {"a": True, "b": True, "c": True}

    # contrast: without a TTL the same input flags the re-arrival False
    out2, ck2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    q2 = (
        stream_exact_dedup(spark.readStream.schema(schema).parquet(str(inp)))
        .writeStream.format("parquet")
        .option("path", out2)
        .option("checkpointLocation", ck2)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    got2 = spark.read.parquet(out2).toPandas()
    by_conv2 = dict(zip(got2["conv_id"], got2["is_first"]))
    assert by_conv2 == {"a": True, "b": True, "c": False}


# ---------------------------------------------------------------------------
# codec property tests (pure python/numpy — no Spark session needed)
# ---------------------------------------------------------------------------


def test_png_roundtrip_property():
    """Distilled from the round-5 fuzz sweep: every color type × interlace ×
    adversarial shape (1×N, N×1, odd sizes) roundtrips exactly under the
    documented (h, w, 3) normalization (gray broadcast, alpha dropped)."""
    import itertools

    import numpy as np

    from piperider_spark.multimodal.media import _decode_png, encode_png

    rng = np.random.default_rng(7)
    shapes = [(1, 1), (1, 7), (7, 1), (2, 3), (16, 9), (31, 2)]
    for (h, w), ch, interlace in itertools.product(shapes, [1, 2, 3, 4], [False, True]):
        img = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
        if ch == 1:
            img = img[:, :, 0]
        dec = _decode_png(encode_png(img, interlace=interlace))
        a = img if img.ndim == 3 else img[:, :, None]
        ref = np.repeat(a[:, :, :1], 3, axis=2) if ch in (1, 2) else a[:, :, :3]
        assert np.array_equal(dec, ref), (h, w, ch, interlace)


def test_gif_and_bmp_and_avi_roundtrip_property():
    import numpy as np

    from piperider_spark.multimodal.media import (
        _decode_bmp,
        _decode_gif,
        _iter_avi_frames,
        encode_avi,
        encode_bmp,
        encode_gif,
    )

    rng = np.random.default_rng(11)
    for h, w in [(1, 1), (1, 7), (7, 1), (2, 3), (16, 9), (31, 2)]:
        gif_img = rng.integers(0, 5, (h, w, 3), dtype=np.uint8) * 47  # ≤125 colors
        assert np.array_equal(_decode_gif(encode_gif(gif_img))[:, :, :3], gif_img), (h, w)
        bmp_img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        assert np.array_equal(_decode_bmp(encode_bmp(bmp_img)), bmp_img), (h, w)
    for h, w, n in [(1, 1, 1), (3, 5, 2), (8, 8, 7)]:
        frames = rng.integers(0, 256, (n, h, w, 3), dtype=np.uint8)
        arr = np.stack([f for *_, f in _iter_avi_frames(encode_avi(frames))])
        assert np.array_equal(arr, frames), (h, w, n)


def test_stream_dsir_scoring_matches_batch(spark, tmp_path):
    """DSIR scoring on a STREAM: the fitted log-ratio rides the plan as an
    array literal (dsir.dsir_score_col is a stateless projection — no
    stateful op, no watermark), so streaming scores == batch scores turn
    for turn. Fit happens offline on the batch corpus, the realistic
    deployment shape."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from piperider_spark.operators import dsir

    inp = tmp_path / "in"
    inp.mkdir()
    write_transcripts_parquet(str(inp / "p0.parquet"), n_turns=1200, seed=29)
    batch = spark.read.parquet(str(inp))
    ratio = dsir.fit_bucket_log_ratio(
        batch, batch.where(F.col("role") == "assistant"), n_buckets=512
    )
    arr = dsir.log_ratio_array(ratio, n_buckets=512)

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("role", StringType()),
            StructField("text", StringType()),
            StructField("tool", StringType()),
            StructField("ts", TimestampType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(str(inp))
    scored = stream.select(
        "conv_id", "turn_idx", dsir.dsir_score_col("text", arr).alias("dsir_score")
    )
    q = (
        scored.writeStream.format("memory")
        .queryName("dsir_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.conv_id, r.turn_idx): r.dsir_score
        for r in spark.sql("select * from dsir_stream").collect()
    }
    want = {
        (r.conv_id, r.turn_idx): r.s
        for r in batch.select(
            "conv_id", "turn_idx", dsir.dsir_score_col("text", arr).alias("s")
        ).collect()
    }
    assert got == want and len(got) == batch.count()


def test_bloom_gate_is_streaming_safe(spark, tmp_path):
    """The Bloom incremental gate is a stateless projection (JVM hash
    positions + broadcast-bitset probe), so it must drop into a readStream
    unchanged — the live-ingest twin of gating a new batch against corpus
    history. Flags on the stream must equal the batch application row for
    row (deterministic positions, pure probe — no state, no watermark)."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from piperider_spark.operators.dedup import bloom_seen_flags, build_fingerprint_bloom

    hist = tmp_path / "hist.parquet"
    inp = tmp_path / "in"
    inp.mkdir()
    write_transcripts_parquet(str(hist), n_turns=800, seed=31)
    # overlap: new data re-delivers some history texts (same seed prefix)
    write_transcripts_parquet(str(inp / "p0.parquet"), n_turns=400, seed=31)
    write_transcripts_parquet(str(inp / "p1.parquet"), n_turns=400, seed=32)

    bloom = build_fingerprint_bloom(spark.read.parquet(str(hist)), fpp=0.01)

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("role", StringType()),
            StructField("text", StringType()),
            StructField("tool", StringType()),
            StructField("ts", TimestampType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(str(inp))
    q = (
        bloom_seen_flags(stream, bloom)
        .select("conv_id", "turn_idx", "maybe_seen")
        .writeStream.format("memory")
        .queryName("bloom_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = (
        spark.sql("select * from bloom_stream")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = (
        bloom_seen_flags(spark.read.parquet(str(inp)), bloom)
        .select("conv_id", "turn_idx", "maybe_seen")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)
    # the overlap makes the test meaningful: some rows gate seen, some not
    assert got["maybe_seen"].any() and not got["maybe_seen"].all()


def test_window_bloom_probe_is_streaming_safe(spark, tmp_path):
    """window_seen_stats is a stateless projection (row-local JVM window
    hashes + broadcast-bitset probe), so it drops into a readStream
    unchanged — live substring-overlap gating against 10^12 history tokens
    with zero state. Stream output must equal the batch application row
    for row."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from piperider_spark.operators.dedup import build_window_bloom, window_seen_stats

    hist = tmp_path / "hist.parquet"
    inp = tmp_path / "in"
    inp.mkdir()
    write_transcripts_parquet(str(hist), n_turns=600, seed=41)
    # overlap: one batch re-delivers history text (same seed), one is fresh
    write_transcripts_parquet(str(inp / "p0.parquet"), n_turns=300, seed=41)
    write_transcripts_parquet(str(inp / "p1.parquet"), n_turns=300, seed=42)

    bloom = build_window_bloom(spark.read.parquet(str(hist)), k_tokens=5, fpp=0.01)

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("role", StringType()),
            StructField("text", StringType()),
            StructField("tool", StringType()),
            StructField("ts", TimestampType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(str(inp))
    q = (
        window_seen_stats(stream, bloom, k_tokens=5)
        .select("conv_id", "turn_idx", "seen_windows", "seen_token_cov", "seen_frac")
        .writeStream.format("memory")
        .queryName("window_bloom_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = (
        spark.sql("select * from window_bloom_stream")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = (
        window_seen_stats(spark.read.parquet(str(inp)), bloom, k_tokens=5)
        .select("conv_id", "turn_idx", "seen_windows", "seen_token_cov", "seen_frac")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)
    # the overlap makes the test meaningful: some turns carry history
    # substrings, some don't
    assert (got["seen_windows"] > 0).any() and (got["seen_windows"] == 0).any()


def test_stream_apply_bpe_matches_batch(spark, tmp_path):
    """BPE encoding on a STREAM: apply_bpe is a stateless projection (JVM
    pre-tokenize + Arrow-batched merge application — no state, no
    watermark), so a learned tokenizer drops into a readStream unchanged
    and streaming subword streams == batch, turn for turn. Fit happens
    offline on the batch corpus — the deployment shape for tokenizing an
    arriving feed with a frozen tokenizer."""
    from piperider_spark.operators.bpe import apply_bpe, bpe_word_counts, train_bpe
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    inp = tmp_path / "in"
    inp.mkdir()
    write_transcripts_parquet(str(inp / "p0.parquet"), n_turns=600, seed=31)
    batch = spark.read.parquet(str(inp))
    merges = train_bpe(
        bpe_word_counts(batch, "text", min_count=2, top_words=2000), n_merges=64
    )
    assert merges

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("role", StringType()),
            StructField("text", StringType()),
            StructField("tool", StringType()),
            StructField("ts", TimestampType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(str(inp))
    q = (
        apply_bpe(stream, merges)
        .select("conv_id", "turn_idx", "bpe_tokens", "n_bpe_subwords")
        .writeStream.format("memory")
        .queryName("bpe_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.conv_id, r.turn_idx): (tuple(r.bpe_tokens), r.n_bpe_subwords)
        for r in spark.sql("select * from bpe_stream").collect()
    }
    want = {
        (r.conv_id, r.turn_idx): (tuple(r.bpe_tokens), r.n_bpe_subwords)
        for r in apply_bpe(batch, merges)
        .select("conv_id", "turn_idx", "bpe_tokens", "n_bpe_subwords")
        .collect()
    }
    assert got == want and len(got) == batch.count()


def test_stream_classifier_scoring_matches_batch(spark, tmp_path):
    """Learned-classifier scoring on a STREAM: classifier_score_col is a
    stateless weight-literal fold (no state, no watermark), so a frozen
    model scores an arriving feed with streaming == batch equality turn
    for turn — the same deployment shape as the DSIR scorer."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from piperider_spark.operators import classifier as C
    from piperider_spark.pipeline import build_decisions

    inp = tmp_path / "in"
    inp.mkdir()
    write_transcripts_parquet(str(inp / "p0.parquet"), n_turns=800, seed=33)
    batch = spark.read.parquet(str(inp))
    model = C.fit_quality_classifier(
        build_decisions(batch).select("text", "keep"), epochs=2, n_buckets=512
    )

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("role", StringType()),
            StructField("text", StringType()),
            StructField("tool", StringType()),
            StructField("ts", TimestampType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(str(inp))
    q = (
        stream.select(
            "conv_id", "turn_idx", C.classifier_score_col("text", model).alias("s")
        )
        .writeStream.format("memory")
        .queryName("clf_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.conv_id, r.turn_idx): r.s
        for r in spark.sql("select * from clf_stream").collect()
    }
    want = {
        (r.conv_id, r.turn_idx): r.s
        for r in batch.select(
            "conv_id", "turn_idx", C.classifier_score_col("text", model).alias("s")
        ).collect()
    }
    assert got == want and len(got) == batch.count()


def test_langid_scored_is_streaming_safe(spark, tmp_path):
    """The learned langid scorer (operators/langid_model.langid_scored) is
    three chained row-local projections — staged prefix, gram buckets, one
    margins fold — so it must drop into a readStream unchanged (no state,
    no watermark): the live-ingest shape of classifying turns as they
    arrive. Stream rows must equal the batch application row for row."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from piperider_spark.operators import langid_model as L

    inp = tmp_path / "in"
    inp.mkdir()
    write_transcripts_parquet(str(inp / "p0.parquet"), n_turns=300, seed=41)
    write_transcripts_parquet(str(inp / "p1.parquet"), n_turns=300, seed=42)

    # hand-built 2-class model: nonzero weights on a few buckets + distinct
    # biases — the scorer contract (argmax + softmax max-prob) is what's
    # pinned, not the trainer (pinned in test_operators)
    # bucket-parity weights beat the bias gap after mean normalization, so
    # both classes fire on real text
    rng_w = [3.0 if b % 2 == 0 else -3.0 for b in range(64)]
    model = {
        "classes": ["alpha", "beta"],
        "weights": [rng_w, [-x for x in rng_w]],
        "bias": [0.01, -0.01],
        "n_buckets": 64,
        "hash_fn": "xxhash64",
        "ns": (2, 3),
        "max_chars": 256,
        "include_words": True,
    }

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("role", StringType()),
            StructField("text", StringType()),
            StructField("tool", StringType()),
            StructField("ts", TimestampType()),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(str(inp))
    q = (
        L.langid_scored(stream, model)
        .select("conv_id", "turn_idx", "ft_lang", "ft_lang_prob")
        .writeStream.format("memory")
        .queryName("langid_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = (
        spark.sql("select * from langid_stream")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = (
        L.langid_scored(spark.read.parquet(str(inp)), model)
        .select("conv_id", "turn_idx", "ft_lang", "ft_lang_prob")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)
    assert set(got["ft_lang"].unique()) <= {"alpha", "beta"}
    assert got["ft_lang"].nunique() == 2  # both classes actually fire


def test_stream_pq_encode_matches_batch(spark, tmp_path):
    """PQ encoding on a STREAM: the codebooks ride the plan as literals
    (pq.pq_encode is a stateless projection — no stateful op, no
    watermark), so streaming codes == batch codes row for row. Train
    happens offline on the batch corpus — the ingest-time encode shape
    for the compressed (id, cell, pq_code) at-rest layout."""
    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    from piperider_spark.operators import pq

    rng = np.random.default_rng(31)
    X = rng.integers(-8, 9, size=(120, 8)).astype(np.float64) / 8.0
    inp = tmp_path / "in"
    inp.mkdir()
    spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id int, embedding array<double>",
    ).write.parquet(str(inp / "p0.parquet"))
    batch = spark.read.parquet(str(inp / "p0.parquet"))
    books = pq.train_pq_codebooks(X, m=2, ksub=4, iters=3)

    schema = StructType(
        [
            StructField("vec_id", IntegerType()),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(str(inp / "p0.parquet"))
    q = (
        pq.pq_encode(stream, books)
        .writeStream.format("memory")
        .queryName("pq_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.vec_id: tuple(r.pq_code)
        for r in spark.sql("select * from pq_stream").collect()
    }
    want = {
        r.vec_id: tuple(r.pq_code) for r in pq.pq_encode(batch, books).collect()
    }
    assert got == want and len(got) == len(X)


def test_stream_near_dup_null_doc_id_not_poison(spark, tmp_path):
    """Review finding: a NULL doc_id row passed the band-key filter (keys
    depend only on text) and reached the stateful fn as NaN, where
    int(NaN) raised and permanently wedged the query. NULL-id rows must
    be filtered out and the query must complete."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from piperider_spark.streaming.filter_stream import stream_near_dup_candidates

    inp = tmp_path / "docs"
    inp.mkdir()
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (None, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(inp / "p0.parquet")
    )
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    stream = spark.readStream.schema(schema).parquet(str(inp / "p0.parquet"))
    q = (
        stream_near_dup_candidates(stream)
        .writeStream.format("memory")
        .queryName("null_id_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()  # would raise on the poisoned task pre-fix
    got = spark.sql("select * from null_id_stream").collect()
    ids = {r.doc_id for r in got}
    assert None not in ids
    # doc 2 is still flagged as a candidate against owner doc 1
    assert any(r.doc_id == 2 and r.first_doc_id == 1 for r in got)


def test_stream_dup_flag_late_arrival_is_conservative(spark, tmp_path):
    """Review finding: a turn arriving BELOW the conversation's committed
    frontier (cross-micro-batch reordering) was compared against the
    frontier digest — the wrong neighbour. Late rows must flag False
    (conservative keep) and leave the frontier state intact; in-order
    conversations keep exact batch equality. A turn_idx repeated inside
    one micro-batch compares like an in-order row, as the batch lag
    window does; repeated in a later micro-batch it is late."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from piperider_spark.streaming.filter_stream import with_streaming_dup_flag

    import datetime as _dt

    t0 = _dt.datetime(2026, 1, 1)
    inp = tmp_path / "in"
    inp.mkdir()
    schema_ddl = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    # micro-batch 1: turns 0 and 2 (turn 1 delayed)
    spark.createDataFrame(
        [
            ("c", 0, "user", "hello", None, t0),
            ("c", 2, "assistant", "same text", None, t0),
            ("o", 0, "user", "aaa", None, t0),
            ("o", 1, "user", "aaa", None, t0),
            # turn 1 twice in one micro-batch, byte-equal text
            ("t", 0, "user", "x", None, t0),
            ("t", 1, "user", "y", None, t0),
            ("t", 1, "user", "y", None, t0),
        ],
        schema_ddl,
    ).write.parquet(str(inp / "b1.parquet"))

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("role", StringType()),
            StructField("text", StringType()),
            StructField("tool", StringType()),
            StructField("ts", TimestampType()),
        ]
    )

    sink = str(tmp_path / "sink")

    def drain(qname):
        stream = spark.readStream.schema(schema).parquet(str(inp) + "/*.parquet")
        q = (
            with_streaming_dup_flag(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r.conv_id, r.turn_idx): r.r_duplicate_turn
            for r in spark.read.parquet(sink).collect()
        }

    def flags_t():
        rows = spark.read.parquet(sink).where(F.col("conv_id") == "t").collect()
        return sorted((r.turn_idx, r.r_duplicate_turn) for r in rows)

    got1 = drain("late1")
    assert got1[("o", 1)] is True  # in-order conversation: exact lag
    assert got1[("c", 2)] is False
    # the in-batch repeat is flagged once, as the batch lag window flags it
    from piperider_spark.rules.heuristics import duplicate_turn_col

    batch_t = (
        spark.read.parquet(str(inp / "b1.parquet"))
        .where(F.col("conv_id") == "t")
        .select("turn_idx", duplicate_turn_col().alias("d"))
        .collect()
    )
    want_t = sorted((r.turn_idx, bool(r.d)) for r in batch_t)
    assert want_t == [(0, False), (1, False), (1, True)]
    assert flags_t() == want_t

    # micro-batch 2: the LATE turn 1 whose text equals turn 2's — the
    # frontier digest; pre-fix it was flagged True against the wrong row
    spark.createDataFrame(
        [
            ("c", 1, "assistant", "same text", None, t0),
            ("t", 1, "user", "y", None, t0),  # replay at the frontier: late
        ],
        schema_ddl,
    ).write.parquet(str(inp / "b2.parquet"))
    got2 = drain("late2")
    assert got2[("c", 1)] is False
    assert flags_t() == [(0, False), (1, False), (1, False), (1, True)]


def test_image_features_tiny_image_no_nan_and_dim_guard(spark):
    """Review findings: images smaller than the pooling grid produced NaN
    embedding cells (empty slices), and a non-square embed_dim silently
    returned g² cells. Tiny images must pool finite values; bad dims must
    raise."""
    import numpy as np

    from piperider_spark.multimodal import media as M

    img = np.full((2, 2, 3), 77, dtype=np.uint8)
    payload = M._FAKE_MAGIC + __import__("struct").pack("<II", 2, 2) + img.tobytes()
    df = spark.createDataFrame([(1, bytearray(payload))], "id long, media binary")
    row = M.extract_image_features(df, codec="fake").collect()[0]
    emb = np.asarray(row.embedding, dtype=float)
    assert emb.shape == (16,) and np.isfinite(emb).all()
    assert np.allclose(emb, 77.0)

    with pytest.raises(ValueError, match="perfect square"):
        M.extract_image_features(df, codec="fake", embed_dim=20)


def test_avi_top_down_frames_not_flipped(spark):
    """Review finding: negative biHeight (top-down DIB rows) was collapsed
    with abs() and the bottom-up flip applied unconditionally — such AVIs
    decoded upside down. Build a top-down AVI by patching the strf height
    negative and pre-flipping rows; the decoded frame must equal the
    original image."""
    import struct as _struct

    import numpy as np

    from piperider_spark.multimodal import media as M

    rng = np.random.default_rng(71)
    img = rng.integers(0, 255, size=(6, 5, 3), dtype=np.uint8)
    avi = M.encode_avi(img[None, :, :, :])
    # locate the strf BITMAPINFOHEADER: biSize=40 little-endian followed by
    # our w,h — patch h to -h and flip the stored rows to top-down order
    marker = _struct.pack("<Iii", 40, 5, 6)
    at = avi.find(marker)
    assert at != -1
    patched = bytearray(avi)
    patched[at + 4 : at + 12] = _struct.pack("<ii", 5, -6)
    # stored frame: find the movi '00db' chunk and rewrite rows top-down
    row_bytes = (5 * 3 + 3) & ~3
    dpos = avi.find(b"00db") + 8
    frame = np.frombuffer(avi, dtype=np.uint8, count=6 * row_bytes, offset=dpos).reshape(6, row_bytes).copy()
    patched[dpos : dpos + 6 * row_bytes] = frame[::-1].tobytes()

    out = list(M._iter_avi_frames(bytes(patched)))
    assert len(out) == 1
    _, w, h, rgb = out[0]
    assert (w, h) == (5, 6)
    assert np.array_equal(rgb, img)
