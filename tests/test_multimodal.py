"""Multimodal plumbing: binary columns + metadata structs through
mapInPandas (Arrow-batched). Kernels are the deterministic fakes; the
schema/partitioning/batch plumbing under test is the real operator."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from denormalized_spark.operators import multimodal
from denormalized_spark.sources.avro_codec import decode_avro_python


@pytest.fixture(scope="module")
def binary_df(spark):
    rows = [(i, hashlib.md5(str(i).encode()).digest()) for i in range(20)]
    return spark.createDataFrame(
        rows, T.StructType([
            T.StructField("img_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ])
    )


def test_image_features_fake_kernel(binary_df):
    out = multimodal.image_features(binary_df, "payload", dim=8, fake=True)
    assert out.schema["features"].dataType == T.ArrayType(T.FloatType())
    rows = out.collect()
    assert len(rows) == 20
    for r in rows:
        assert len(r["features"]) == 8
        assert all(0.0 <= x < 1.0 for x in r["features"])
        # deterministic: must equal the driver-side fake
        expected = multimodal._fake_features(bytes(r["payload"]), 8)
        assert r["features"] == pytest.approx(expected, abs=1e-6)


def test_image_features_real_kernel_null_on_undecodable(binary_df):
    """The real path decodes BMP/PNG; payloads no stdlib codec covers
    yield NULL features, never a task failure."""
    out = multimodal.image_features(binary_df, "payload", fake=False).collect()
    assert len(out) == 20 and all(r["features"] is None for r in out)
    with pytest.raises(ValueError, match="perfect square"):
        multimodal.image_features(binary_df, "payload", dim=12, fake=False)


class TestImageFeaturesReal:
    def test_grid_matches_analytic(self, spark):
        """4×4 mean-pool luma grid over synthesized PNGs must equal
        the integer-exact driver-side computation (one IEEE division
        per cell)."""
        import numpy as np

        df = spark.createDataFrame([(i,) for i in (3, 7, 40)], ["img_id"])
        pngs = multimodal.synthesize_png_payloads(df, "img_id")
        got = {
            r["img_id"]: r["features"]
            for r in multimodal.image_features(pngs, "payload", dim=16).collect()
        }
        for i in (3, 7, 40):
            rgb = multimodal._gradient_rgb(i).astype(np.int64)
            L = 299 * rgb[..., 0] + 587 * rgb[..., 1] + 114 * rgb[..., 2]
            h, w = L.shape
            cy, cx = np.arange(h) * 4 // h, np.arange(w) * 4 // w
            exp = []
            for ci in range(4):
                for cj in range(4):
                    cell = L[np.ix_(cy == ci, cx == cj)]
                    exp.append(cell.sum() / cell.size / 1000.0)
            assert got[i] == pytest.approx(exp, rel=1e-6)

    def test_bmp_and_png_agree(self, spark):
        df = spark.createDataFrame([(i,) for i in range(8)], ["img_id"])
        fb = {
            r["img_id"]: r["features"]
            for r in multimodal.image_features(
                multimodal.synthesize_bmp_payloads(df, "img_id"), "payload"
            ).collect()
        }
        fp = {
            r["img_id"]: r["features"]
            for r in multimodal.image_features(
                multimodal.synthesize_png_payloads(df, "img_id"), "payload"
            ).collect()
        }
        assert fb == fp

    def test_real_features_feed_similarity(self, spark):
        from denormalized_spark.operators import similarity

        df = spark.createDataFrame([(i,) for i in range(12)], ["img_id"])
        feats = multimodal.image_features(
            multimodal.synthesize_png_payloads(df, "img_id"), "payload", dim=16
        )
        pairs = similarity.lsh_bucketed_neighbors(
            feats, dim=16, num_planes=2, id_col="img_id", vec_col="features"
        )
        assert pairs.columns == ["id_a", "id_b", "cosine_sim"]
        pairs.count()


class TestImagePhash:
    def test_identical_content_across_containers(self, spark):
        """The same pixel grid hashed through BMP and PNG containers
        must produce the identical 64-bit hash — the hash is over
        pixels, not bytes."""
        df = spark.createDataFrame([(i,) for i in range(10)], ["img_id"])
        hb = {
            r["img_id"]: (r["phash_hi"], r["phash_lo"])
            for r in multimodal.image_phash(
                multimodal.synthesize_bmp_payloads(df, "img_id"), "payload"
            ).collect()
        }
        hp = {
            r["img_id"]: (r["phash_hi"], r["phash_lo"])
            for r in multimodal.image_phash(
                multimodal.synthesize_png_payloads(df, "img_id"), "payload"
            ).collect()
        }
        assert hb == hp
        for hi, lo in hb.values():
            assert 0 <= hi < 2**32 and 0 <= lo < 2**32

    def test_unparseable_hash_is_null(self, binary_df):
        out = multimodal.image_phash(binary_df, "payload").collect()
        assert all(r["phash_hi"] is None and r["phash_lo"] is None for r in out)
        with pytest.raises(ValueError, match="dhash|ahash"):
            multimodal.image_phash(binary_df, "payload", method="md5")

    def test_near_dups_finds_planted_perturbation(self, spark):
        """A brightness-perturbed copy of a noise image must pair with
        its original at small hamming; images from independent seeds
        (~32/64 differing bits) must not pair with it. (The gradient
        synthesizers are useless here: all gradient images share local
        gradient signs, so dhash treats the whole family as one
        near-dup class — hence the md5-noise synthesizer.)"""
        rows = [(1, 10, 0), (2, 10, 3), (3, 20, 0), (4, 30, 0)]
        df = spark.createDataFrame(rows, ["img_id", "seed", "shift"])
        imgs = multimodal.synthesize_noise_png_payloads(
            df, "seed", shift_col="shift"
        )
        for method in ("dhash", "ahash"):
            pairs = {
                (r["id_a"], r["id_b"]): r["hamming"]
                for r in multimodal.image_near_dups(
                    imgs, "img_id", "payload", method=method
                ).collect()
            }
            assert (1, 2) in pairs and pairs[(1, 2)] <= 6, (method, pairs)
            assert not any(
                3 in p or 4 in p for p in pairs
            ), f"unrelated image matched under {method}: {pairs}"


def test_features_feed_similarity(binary_df):
    """Extracted features must compose with operators.similarity —
    the multimodal → embedding-dedup pipeline contract."""
    from denormalized_spark.operators import similarity

    feats = multimodal.image_features(binary_df, "payload", dim=8, fake=True)
    pairs = similarity.lsh_bucketed_neighbors(
        feats, dim=8, num_planes=2, id_col="img_id", vec_col="features"
    )
    assert pairs.columns == ["id_a", "id_b", "cosine_sim"]
    pairs.count()  # executes the composed plan


def test_resize_passthrough(binary_df):
    out = multimodal.resize_images(binary_df, "payload", fake=True)
    assert out.schema == binary_df.schema
    assert out.count() == 20


def test_sample_frames_fanout(binary_df):
    out = multimodal.sample_frames(binary_df, "payload", n_frames=4, fake=True)
    rows = out.collect()
    assert len(rows) == 80  # 20 videos × 4 frames
    by_id = {}
    for r in rows:
        by_id.setdefault(r["img_id"], []).append(r["frame_idx"])
    assert all(sorted(v) == [0, 1, 2, 3] for v in by_id.values())
    # frames are deterministic md5 chains
    r0 = next(r for r in rows if r["img_id"] == 0 and r["frame_idx"] == 1)
    expected = hashlib.md5(hashlib.md5(b"0").digest() + b"1").digest()
    assert bytes(r0["frame"]) == expected


def test_attach_image_meta(binary_df):
    out = multimodal.attach_image_meta(binary_df, "payload", mime="image/jpeg")
    meta = out.select("payload_meta").first()["payload_meta"]
    assert meta["mime"] == "image/jpeg"
    assert meta["width"] is None


def test_audio_chunks_fake_kernel(binary_df):
    import hashlib

    from denormalized_spark.operators.multimodal import audio_chunks

    out = audio_chunks(
        binary_df, "payload", chunk_ms=1, sample_rate=4000, bytes_per_sample=1, fake=True
    ).collect()  # chunk_bytes = 4
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.img_id, []).append(r)
    for _img, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_idx)
        payload = bytes(next(r for r in rows).payload)
        joined = b"".join(bytes(r.chunk) for r in rows)
        assert joined == payload  # chunks reassemble the payload
        for i, r in enumerate(rows):
            assert r.chunk_idx == i and r.offset_bytes == i * 4
            assert r.chunk_hash == hashlib.md5(bytes(r.chunk)).hexdigest()


def test_audio_chunks_unsupported_codec_raises(binary_df):
    import pytest

    from denormalized_spark.operators.multimodal import audio_chunks

    with pytest.raises(NotImplementedError, match="ffmpeg"):
        audio_chunks(binary_df, "payload", codec="mp3")


def _make_wav(samples, sample_rate=8000, channels=1, sampwidth=2) -> bytes:
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(sampwidth)
        w.setframerate(sample_rate)
        w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


class TestRealWavKernels:
    def test_audio_features_parses_real_wav(self, spark):
        from denormalized_spark.operators.multimodal import audio_features

        # 1 kHz-ish square wave: +1000 x4, -1000 x4, repeated 8x
        samples = ([1000] * 4 + [-1000] * 4) * 8
        df = spark.createDataFrame(
            [(1, _make_wav(samples)), (2, b"not a wav"), (3, None)],
            "audio_id int, payload binary",
        )
        got = {r.audio_id: r for r in audio_features(df, "payload").collect()}
        ok = got[1]
        assert (ok.sample_rate, ok.n_channels, ok.n_samples) == (8000, 1, 64)
        assert ok.duration_ms == 8.0
        assert ok.rms == 1000.0 and ok.peak == 1000
        assert ok.zero_crossings == 15  # 16 blocks -> 15 sign flips
        # corrupt and NULL payloads -> NULL features, no task failure
        for bad in (got[2], got[3]):
            assert bad.rms is None and bad.sample_rate is None

    def test_audio_features_stereo_and_8bit(self, spark):
        from denormalized_spark.operators.multimodal import audio_features

        import io
        import wave

        import numpy as np

        # stereo 16-bit: channel 0 is ±500, channel 1 is noise-like
        ch0 = np.array(([500] * 2 + [-500] * 2) * 4, dtype="<i2")
        ch1 = np.arange(16, dtype="<i2")
        inter = np.empty(32, dtype="<i2")
        inter[0::2], inter[1::2] = ch0, ch1
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(2)
            w.setsampwidth(2)
            w.setframerate(16000)
            w.writeframes(inter.tobytes())
        df = spark.createDataFrame([(1, buf.getvalue())], "i int, payload binary")
        r = audio_features(df, "payload").collect()[0]
        assert (r.n_channels, r.n_samples, r.peak) == (2, 16, 500)
        assert r.rms == 500.0  # channel 0 only

    def test_audio_chunks_wav_codec_decodes_then_chunks(self, spark):
        import hashlib

        from denormalized_spark.operators.multimodal import audio_chunks

        samples = list(range(-8, 8)) * 4  # 64 samples -> 128 PCM bytes
        wav = _make_wav(samples, sample_rate=8000)
        df = spark.createDataFrame(
            [(1, wav), (2, b"corrupt")], "audio_id int, payload binary"
        )
        # chunk_ms=2 @8kHz/16-bit mono -> 32-byte chunks -> 4 chunks
        out = audio_chunks(df, "payload", chunk_ms=2, codec="wav").collect()
        good = sorted(
            (r for r in out if r.audio_id == 1), key=lambda r: r.chunk_idx
        )
        assert [r.chunk_idx for r in good] == [0, 1, 2, 3]
        assert [r.offset_bytes for r in good] == [0, 32, 64, 96]
        import numpy as np

        pcm = np.asarray(samples, dtype="<i2").tobytes()
        assert b"".join(bytes(r.chunk) for r in good) == pcm  # decoded, not raw
        assert all(
            r.chunk_hash == hashlib.md5(bytes(r.chunk)).hexdigest() for r in good
        )
        bad = [r for r in out if r.audio_id == 2]
        assert len(bad) == 1 and bad[0].chunk_hash is None

    def test_synthesize_round_trip_closed_form(self, spark):
        from denormalized_spark.operators.multimodal import (
            audio_features,
            synthesize_wav_payloads,
        )

        df = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
        wavs = synthesize_wav_payloads(df, "doc_id", sample_rate=8000)
        got = {r.doc_id: r for r in audio_features(wavs, "payload").collect()}
        for i in range(20):
            h, b, amp = i % 7 + 1, i % 50 + 10, (i % 30 + 1) * 1000
            r = got[i]
            assert r.n_samples == b * h
            assert r.rms == float(amp) and r.peak == amp
            assert r.zero_crossings == b - 1


class TestRealBmpKernels:
    def test_image_stats_parses_handcrafted_bmp(self, spark):
        """2x2 24-bit BMP with known pixels, W*3=6 bytes -> 8-byte
        padded rows, bottom-up storage — exact means back out."""
        import numpy as np

        from denormalized_spark.operators.multimodal import image_stats

        # pixels (RGB): top row (255,0,0),(0,255,0); bottom (0,0,255),(10,20,30)
        top = [(255, 0, 0), (0, 255, 0)]
        bottom = [(0, 0, 255), (10, 20, 30)]
        rows_bgr = []
        for row in (bottom, top):  # bottom-up file order
            rb = b"".join(bytes((b, g, r)) for r, g, b in row)
            rows_bgr.append(rb + b"\x00\x00")  # pad 6 -> 8
        pixel_data = b"".join(rows_bgr)
        hdr = (
            b"BM" + (54 + len(pixel_data)).to_bytes(4, "little")
            + b"\x00\x00\x00\x00" + (54).to_bytes(4, "little")
            + (40).to_bytes(4, "little")
            + (2).to_bytes(4, "little") + (2).to_bytes(4, "little")
            + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
            + (0).to_bytes(4, "little") + len(pixel_data).to_bytes(4, "little")
            + (2835).to_bytes(4, "little") * 2 + (0).to_bytes(4, "little") * 2
        )
        df = spark.createDataFrame(
            [(1, hdr + pixel_data), (2, b"JFIF not a bmp"), (3, None)],
            "img_id int, payload binary",
        )
        got = {r.img_id: r for r in image_stats(df, "payload").collect()}
        ok = got[1]
        assert (ok.width, ok.height) == (2, 2)
        assert ok.mean_r == np.mean([255, 0, 0, 10])
        assert ok.mean_g == np.mean([0, 255, 0, 20])
        assert ok.mean_b == np.mean([0, 0, 255, 30])
        for bad in (got[2], got[3]):
            assert bad.width is None and bad.mean_r is None

    def test_synthesize_round_trip_closed_form(self, spark):
        from denormalized_spark.operators.multimodal import (
            image_stats,
            synthesize_bmp_payloads,
        )

        df = spark.createDataFrame([(i,) for i in range(24)], "doc_id long")
        got = {
            r.doc_id: r
            for r in image_stats(
                synthesize_bmp_payloads(df, "doc_id"), "payload"
            ).collect()
        }
        for i in range(24):
            w, h = i % 16 + 4, i % 12 + 4
            r = got[i]
            assert (r.width, r.height) == (w, h)
            assert r.mean_r == sum((7 * x + i) % 256 for x in range(w)) / w
            assert r.mean_g == sum((11 * y + 2 * i) % 256 for y in range(h)) / h


class TestRealBmpResize:
    def test_resize_bmp_nearest_neighbor(self, spark):
        from denormalized_spark.operators.multimodal import (
            image_stats,
            resize_images,
            synthesize_bmp_payloads,
        )

        df = spark.createDataFrame([(5,), (11,)], "doc_id long")
        bmps = synthesize_bmp_payloads(df, "doc_id")
        small = resize_images(bmps, "payload", size=(3, 2))
        got = {r.doc_id: r for r in image_stats(small, "payload").collect()}
        assert all((r.width, r.height) == (3, 2) for r in got.values())
        # nearest-neighbor of the closed-form gradient: column x of the
        # 3-wide output samples source column (x*W)//3; r depends only
        # on source column
        for i in (5, 11):
            w = i % 16 + 4
            cols = [(x * w) // 3 for x in range(3)]
            exp_r = sum((7 * c + i) % 256 for c in cols) / 3
            assert got[i].mean_r == exp_r

    def test_resize_non_bmp_nulls(self, spark):
        from denormalized_spark.operators.multimodal import resize_images

        df = spark.createDataFrame([(1, b"nope")], "i int, payload binary")
        assert resize_images(df, "payload", size=(4, 4)).collect()[0].payload is None


class TestRealPngKernels:
    @staticmethod
    def _filtered_png(rgb, filters):
        """Hand-encode a PNG using a chosen filter type per scanline —
        exercises every unfilter branch of the decoder."""
        import struct
        import zlib

        import numpy as np

        h, w = rgb.shape[:2]
        stride = w * 3
        flat = rgb.reshape(h, stride).astype(np.int16)
        raw = bytearray()
        for y in range(h):
            f = filters[y % len(filters)]
            cur = flat[y]
            prior = flat[y - 1] if y else np.zeros(stride, np.int16)
            enc = np.zeros(stride, np.int16)
            for x in range(stride):
                a = int(cur[x - 3]) if x >= 3 else 0
                b = int(prior[x])
                c = int(prior[x - 3]) if x >= 3 else 0
                if f == 0:
                    pred = 0
                elif f == 1:
                    pred = a
                elif f == 2:
                    pred = b
                elif f == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[x] = (int(cur[x]) - pred) & 0xFF
            raw.append(f)
            raw.extend(enc.astype(np.uint8).tobytes())

        def chunk(typ, data):
            return (
                struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
        )

    def test_all_filter_types_decode(self, spark):
        """Every PNG filter type (None/Sub/Up/Average/Paeth) decodes
        back to the exact source pixels."""
        import numpy as np

        from denormalized_spark.operators.multimodal import _parse_png

        rng_rgb = (
            np.arange(5 * 7 * 3, dtype=np.uint8).reshape(5, 7, 3) * 37 % 256
        ).astype(np.uint8)
        png = self._filtered_png(rng_rgb, filters=[0, 1, 2, 3, 4])
        parsed = _parse_png(png)
        assert parsed is not None
        w, h, rgb = parsed
        assert (w, h) == (7, 5)
        assert np.array_equal(rgb, rng_rgb)

    def test_png_round_trip_stats(self, spark):
        from denormalized_spark.operators.multimodal import (
            image_stats,
            synthesize_png_payloads,
        )

        df = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
        got = {
            r.doc_id: r
            for r in image_stats(
                synthesize_png_payloads(df, "doc_id"), "payload"
            ).collect()
        }
        for i in range(12):
            w = i % 16 + 4
            r = got[i]
            assert (r.width, r.height) == (w, i % 12 + 4)
            assert r.mean_r == sum((7 * x + i) % 256 for x in range(w)) / w

    def test_resize_accepts_png(self, spark):
        from denormalized_spark.operators.multimodal import (
            image_stats,
            resize_images,
            synthesize_png_payloads,
        )

        df = spark.createDataFrame([(3,)], "doc_id long")
        small = resize_images(
            synthesize_png_payloads(df, "doc_id"), "payload", size=(4, 4)
        )
        r = image_stats(small, "payload").collect()[0]
        assert (r.width, r.height) == (4, 4)

    def test_rgba_png_alpha_dropped(self, spark):
        import struct
        import zlib

        import numpy as np

        from denormalized_spark.operators.multimodal import _parse_png

        h, w = 2, 3
        rgba = np.zeros((h, w, 4), np.uint8)
        rgba[:, :, 0] = 100
        rgba[:, :, 3] = 255
        raw = bytearray()
        for y in range(h):
            raw.append(0)
            raw.extend(rgba[y].tobytes())

        def chunk(typ, data):
            return (
                struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0)
        png = (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
        )
        parsed = _parse_png(png)
        assert parsed is not None and parsed[:2] == (3, 2)
        assert parsed[2][0, 0, 0] == 100 and parsed[2].shape == (2, 3, 3)


class TestImageNearGate:
    ROWS = [
        # (img_id, minute, seed, shift): dups arrive within the
        # 0-second-watermark retention horizon (state for an event
        # time expires once the watermark PASSES it, i.e. one
        # micro-batch-minute later): 2 = near-dup of 1 (brightness
        # shift, next minute), 4 = exact dup of 3 (next minute),
        # 99 = distinct sentinel that closes the emit windows
        (1, 0, 10, 0),
        (2, 1, 10, 3),
        (3, 1, 20, 0),
        (4, 2, 20, 0),
        (99, 4, 30, 0),
    ]

    def _imgs(self, spark):
        import datetime

        t0 = datetime.datetime(2024, 1, 1, 9, 0, 0)
        df = spark.createDataFrame(
            [
                (i, t0 + datetime.timedelta(minutes=m), s, sh)
                for i, m, s, sh in self.ROWS
            ],
            "img_id long, ts timestamp, seed int, shift int",
        )
        return multimodal.synthesize_noise_png_payloads(
            df, "seed", shift_col="shift"
        ).select("img_id", "ts", "payload")

    def test_batch_gate_drops_near_and_exact_dups(self, spark):
        out = multimodal.image_near_gate_batch(self._imgs(spark), "img_id")
        assert {r["img_id"] for r in out.collect()} == {1, 3, 99}

    def test_batch_gate_beyond_horizon_note(self, spark):
        """The batch twin has no TTL: a dup arriving ANY time later is
        still gated — the stream only matches within its watermark
        horizon (the same contract the text gate documents)."""
        import datetime

        t0 = datetime.datetime(2024, 1, 1, 9, 0, 0)
        df = spark.createDataFrame(
            [(1, t0, 10, 0), (2, t0 + datetime.timedelta(hours=5), 10, 0)],
            "img_id long, ts timestamp, seed int, shift int",
        )
        imgs = multimodal.synthesize_noise_png_payloads(
            df, "seed", shift_col="shift"
        ).select("img_id", "ts", "payload")
        out = multimodal.image_near_gate_batch(imgs, "img_id")
        assert {r["img_id"] for r in out.collect()} == {1}

    def test_stream_matches_batch_twin(self, spark):
        """Drain the images through the two-stateful-operator
        streaming plan, one file per micro-batch in event-time order;
        the emitted set must equal the batch twin (the sentinel's own
        unclosed trailing window excepted)."""
        import os
        import tempfile

        imgs = self._imgs(spark).collect()
        stage = tempfile.mkdtemp(prefix="ig_stage_")
        schema = "img_id long, ts timestamp, payload binary"
        by_minute: dict = {}
        for r in imgs:
            by_minute.setdefault(r["ts"], []).append(r)
        for k, (_, chunk) in enumerate(sorted(by_minute.items())):
            path = os.path.join(stage, f"part{k}")
            spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(path)
            for f in os.listdir(path):
                os.utime(os.path.join(path, f), (1_000_000 + k,) * 2)

        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(stage, "part*"))
        )
        gated = multimodal.image_near_gate(sdf, "img_id")
        emitted = []
        q = (
            gated.writeStream.outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ig_ck_"))
            .foreachBatch(lambda df, _e: emitted.extend(df.collect()))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = {r["img_id"] for r in emitted}
        assert len(got) == len(emitted), "duplicate emission"
        assert got == {1, 3}  # 99's window never closes; 2 and 4 gated


def test_near_dups_bucket_cap_parity_and_drop(spark):
    """With a cap no bucket exceeds, results equal the uncapped run;
    with a tiny cap the oversized buckets (and only those) stop
    producing pairs — the recall-loss direction."""
    rows = [(i, i % 3, 0) for i in range(9)]  # 3 classes of 3 identical images
    df = spark.createDataFrame(rows, ["img_id", "seed", "shift"])
    imgs = multimodal.synthesize_noise_png_payloads(df, "seed", shift_col="shift")
    free = {
        (r["id_a"], r["id_b"])
        for r in multimodal.image_near_dups(imgs, "img_id").collect()
    }
    capped_big = {
        (r["id_a"], r["id_b"])
        for r in multimodal.image_near_dups(
            imgs, "img_id", max_bucket_size=10
        ).collect()
    }
    assert capped_big == free and len(free) == 9  # C(3,2) per class
    capped_small = {
        (r["id_a"], r["id_b"])
        for r in multimodal.image_near_dups(
            imgs, "img_id", max_bucket_size=2
        ).collect()
    }
    assert capped_small == set()  # every bucket holds 3 > cap


def test_near_dedup_images_facade_polymorphism(spark):
    """DataStream.near_dedup_images routes batch frames to the
    deterministic twin and requires an event-time column."""
    import datetime

    from denormalized_spark.datastream import DataStream

    t0 = datetime.datetime(2024, 1, 1, 9, 0, 0)
    df = spark.createDataFrame(
        [(1, t0, 10, 0), (2, t0 + datetime.timedelta(minutes=1), 10, 0),
         (3, t0, 20, 0)],
        "img_id long, ts timestamp, seed int, shift int",
    )
    imgs = multimodal.synthesize_noise_png_payloads(
        df, "seed", shift_col="shift"
    ).select("img_id", "ts", "payload")
    out = DataStream(imgs, event_time="ts").near_dedup_images("img_id")
    assert {r["img_id"] for r in out.df.collect()} == {1, 3}
    with pytest.raises(ValueError, match="event-time"):
        DataStream(imgs).near_dedup_images("img_id")


class TestAudioFingerprint:
    def test_loudness_invariance_and_discrimination(self, spark):
        """A gain-scaled copy fingerprints IDENTICALLY (energy-delta
        signs are scale-invariant); independent seeds differ in ~half
        the 63 bits."""
        rows = [(1, 5, 0), (2, 5, 2), (3, 6, 0)]
        df = spark.createDataFrame(rows, ["clip_id", "seed", "gain"])
        wavs = multimodal.synthesize_noise_wav_payloads(
            df, "seed", gain_col="gain"
        )
        fp = {
            r["clip_id"]: (r["fp_hi"], r["fp_lo"])
            for r in multimodal.audio_fingerprint(wavs, "payload").collect()
        }
        assert fp[1] == fp[2]
        diff = bin(fp[1][0] ^ fp[3][0]).count("1") + bin(
            fp[1][1] ^ fp[3][1]
        ).count("1")
        assert diff > 10, f"independent seeds too close: {diff} bits"
        for hi, lo in fp.values():
            assert 0 <= hi < 2**32 and 0 <= lo < 2**31

    def test_near_dups_pairs_scaled_copies(self, spark):
        rows = [(1, 5, 0), (2, 5, 2), (3, 6, 0), (4, 7, 1)]
        df = spark.createDataFrame(rows, ["clip_id", "seed", "gain"])
        wavs = multimodal.synthesize_noise_wav_payloads(
            df, "seed", gain_col="gain"
        )
        pairs = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in multimodal.audio_near_dups(wavs, "clip_id").collect()
        }
        assert pairs == {(1, 2): 0}

    def test_undecodable_and_short_clips_null(self, spark, binary_df):
        out = multimodal.audio_fingerprint(binary_df, "payload").collect()
        assert all(r["fp_hi"] is None and r["fp_lo"] is None for r in out)
        # a clip shorter than n_frames samples can't be framed
        df = spark.createDataFrame([(1, 5)], ["clip_id", "seed"])
        tiny = multimodal.synthesize_noise_wav_payloads(df, "seed", n_samples=10)
        row = multimodal.audio_fingerprint(tiny, "payload").collect()[0]
        assert row["fp_hi"] is None

    def test_square_wave_corpus_degenerate_by_design(self, spark):
        """The closed-form square-wave corpus has constant per-frame
        energy, so its fingerprints collapse — documented behavior,
        and why the noise-WAV synthesizer exists (the audio analogue
        of the gradient-image collision)."""
        # ids chosen so n_samples = h·b ≥ 64 frames (id 6: 7·16=112,
        # id 48: 7·58=406); constant |amplitude| → every frame energy
        # equal → every delta bit 0 → all fingerprints collapse to 0
        df = spark.createDataFrame([(i,) for i in (6, 48)], ["clip_id"])
        wavs = multimodal.synthesize_wav_payloads(df, "clip_id")
        fps = {
            (r["fp_hi"], r["fp_lo"])
            for r in multimodal.audio_fingerprint(wavs, "payload").collect()
        }
        assert fps == {(0, 0)}

    def test_n_frames_bounds_rejected(self, spark):
        """Regression (round 9): n_frames must be in [50, 65]. Below 50
        the lo half has ≤16 bits so the shiftright(lo,16) LSH band is 0
        for EVERY clip (one global bucket → quadratic pairs); above 65
        the lo half exceeds 32 bits and the band math can overflow.
        49 is the sharp edge: lo would have exactly 16 bits."""
        df = spark.createDataFrame([(1, 5)], ["clip_id", "seed"])
        wavs = multimodal.synthesize_noise_wav_payloads(df, "seed")
        for bad in (33, 49, 66):
            with pytest.raises(ValueError, match=r"\[50, 65\]"):
                multimodal.audio_fingerprint(wavs, "payload", n_frames=bad)
        # boundary values are accepted and yield in-range halves
        for ok in (50, 65):
            row = multimodal.audio_fingerprint(
                wavs, "payload", n_frames=ok
            ).collect()[0]
            assert 0 <= row["fp_hi"] < 2**32 and 0 <= row["fp_lo"] < 2**32
            assert row["fp_lo"] >= 0


class TestAudioNearGate:
    def _clips(self, spark):
        import datetime

        t0 = datetime.datetime(2024, 1, 1, 9, 0, 0)
        rows = [
            # 2 = loudness-scaled copy of 1 (next minute, inside the
            # retention horizon); 3 = distinct seed; 99 = sentinel
            (1, 0, 5, 0),
            (2, 1, 5, 2),
            (3, 1, 6, 0),
            (99, 3, 7, 0),
        ]
        df = spark.createDataFrame(
            [
                (i, t0 + datetime.timedelta(minutes=m), s, g)
                for i, m, s, g in rows
            ],
            "clip_id long, ts timestamp, seed int, gain int",
        )
        return multimodal.synthesize_noise_wav_payloads(
            df, "seed", gain_col="gain"
        ).select("clip_id", "ts", "payload")

    def test_batch_gate_drops_scaled_copy(self, spark):
        out = multimodal.audio_near_gate_batch(self._clips(spark), "clip_id")
        assert {r["clip_id"] for r in out.collect()} == {1, 3, 99}

    def test_stream_matches_batch_twin(self, spark):
        import os
        import tempfile

        clips = self._clips(spark).collect()
        stage = tempfile.mkdtemp(prefix="ag_stage_")
        schema = "clip_id long, ts timestamp, payload binary"
        by_minute: dict = {}
        for r in clips:
            by_minute.setdefault(r["ts"], []).append(r)
        for k, (_, chunk) in enumerate(sorted(by_minute.items())):
            path = os.path.join(stage, f"part{k}")
            spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(path)
            for f in os.listdir(path):
                os.utime(os.path.join(path, f), (1_000_000 + k,) * 2)

        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(stage, "part*"))
        )
        gated = multimodal.audio_near_gate(sdf, "clip_id")
        emitted = []
        q = (
            gated.writeStream.outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ag_ck_"))
            .foreachBatch(lambda df, _e: emitted.extend(df.collect()))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = {r["clip_id"] for r in emitted}
        assert len(got) == len(emitted), "duplicate emission"
        assert got == {1, 3}  # 99's window never closes; 2 gated

    def test_facade_polymorphism(self, spark):
        from denormalized_spark.datastream import DataStream

        clips = self._clips(spark)
        out = DataStream(clips, event_time="ts").near_dedup_audio("clip_id")
        assert {r["clip_id"] for r in out.df.collect()} == {1, 3, 99}
        with pytest.raises(ValueError, match="event-time"):
            DataStream(clips).near_dedup_audio("clip_id")


def _corrupt_payloads() -> dict:
    """One of each way a media payload arrives broken."""
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(np.arange(8, dtype="<i2").tobytes())
    wav = buf.getvalue()  # 44-byte header, 8 frames of 16-bit PCM
    return {
        "null": None,
        "empty": b"",
        "junk": b"\x00junk\xffbytes" * 3,
        "bmp_header": multimodal._write_bmp(multimodal._gradient_rgb(3))[:30],
        "zero_width_png": multimodal._write_png(np.zeros((4, 0, 3), np.uint8)),
        "wav_header": wav[:20],
        "wav_pcm": wav[:47],  # header intact, PCM cut mid-sample
    }


_AVRO_SCHEMA = (
    '{"type": "record", "name": "r", "fields": ['
    '{"name": "a", "type": "long"}, {"name": "s", "type": "string"}]}'
)

#: op → (DataFrame → decoded DataFrame, the columns it derives)
_DECODERS = {
    "image_stats": (
        multimodal.image_stats,
        ["width", "height", "mean_r", "mean_g", "mean_b", "mean_luma"],
    ),
    "image_features": (multimodal.image_features, ["features"]),
    "image_phash": (multimodal.image_phash, ["phash_hi", "phash_lo"]),
    "resize_images": (lambda df: multimodal.resize_images(df, size=(4, 4)), ["payload"]),
    "audio_features": (
        multimodal.audio_features,
        ["sample_rate", "n_channels", "n_samples", "duration_ms", "rms", "peak",
         "zero_crossings"],
    ),
    "audio_fingerprint": (multimodal.audio_fingerprint, ["fp_hi", "fp_lo"]),
    "audio_chunks_wav": (
        lambda df: multimodal.audio_chunks(df, codec="wav"), ["chunk", "chunk_hash"]
    ),
    "decode_avro_python": (
        lambda df: decode_avro_python(
            df.select(F.col("payload").alias("value")), _AVRO_SCHEMA
        ),
        ["a", "s"],
    ),
}

#: (op, payload) → the derived values that survive: a WAV whose header
#: parses keeps its header fields (the chunker, like the decoders,
#: gives a cut-short data chunk its NULL row)
_SURVIVORS = {
    ("audio_features", "wav_pcm"): {
        "sample_rate": 8000, "n_channels": 1, "n_samples": 8, "duration_ms": 1.0,
    },
}


@pytest.mark.parametrize("op", sorted(_DECODERS))
def test_corrupt_payloads_decode_to_null(spark, op):
    """Every decoder turns every broken payload into NULL derived
    columns; no task fails. (Avro decode returns only the decoded
    fields, so its rows are checked without their payload names.)"""
    payloads = _corrupt_payloads()
    names = list(payloads)
    df = spark.createDataFrame(
        list(enumerate(payloads.values())), "doc_id long, payload binary"
    )
    build, derived = _DECODERS[op]
    rows = [r.asDict() for r in build(df).collect()]
    assert len(rows) == len(names)
    for r in rows:
        payload = names[r["doc_id"]] if "doc_id" in r else None
        kept = _SURVIVORS.get((op, payload), {})
        for c in derived:
            assert r[c] == kept.get(c), (payload, c, r[c])


def test_row_maps_share_one_scaffold():
    """Every per-row Python map runs through operators._rows.map_rows;
    only the two fan-out kernels call mapInPandas themselves."""
    import ast
    from pathlib import Path

    pkg = Path(multimodal.__file__).resolve().parents[1]
    sites = [
        f"{path.relative_to(pkg).as_posix()}:{getattr(top, 'name', '<module>')}"
        for path in sorted(pkg.rglob("*.py"))
        for top in ast.parse(path.read_text()).body
        for node in ast.walk(top)
        if isinstance(node, ast.Attribute) and node.attr == "mapInPandas"
    ]
    assert sites == [
        "operators/_rows.py:map_rows",
        "operators/multimodal.py:audio_chunks",
        "operators/multimodal.py:sample_frames",
    ], sites
