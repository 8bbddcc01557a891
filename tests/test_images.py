"""Image pipeline tests: codec round-trips, phash invariants,
decode-verify operator, perceptual dedup recall."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd

from osm2shp_spark.functions import image as I
from osm2shp_spark.operators.images import decode_stats, extract_features, phash_near_dups
from osm2shp_spark.sources.fixtures import IMAGE_SCHEMA, generate_images_pdf, image_table, make_image


class TestCodecs:
    def test_ppm_roundtrip_exact(self):
        arr = make_image(1)
        assert np.array_equal(I.decode_ppm(I.encode_ppm(arr)), arr)

    def test_png_roundtrip_exact(self):
        arr = make_image(2)
        assert np.array_equal(I.decode_png(I.encode_png(arr)), arr)

    def test_png_all_filters_decode(self):
        """Build a PNG whose scanlines use filters 1-4 explicitly and
        check the decoder reconstructs the original pixels."""
        rng = np.random.default_rng(5)
        arr = rng.integers(0, 256, (5, 7, 3), dtype=np.uint8)
        h, w, _ = arr.shape
        bpp = 3
        flat = arr.reshape(h, w * 3).astype(np.int32)
        lines = []
        filters = [0, 1, 2, 3, 4]
        for y, ft in enumerate(filters):
            cur = flat[y]
            prev = flat[y - 1] if y > 0 else np.zeros(w * 3, np.int32)
            left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
            ul = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]])
            if ft == 0:
                enc = cur
            elif ft == 1:
                enc = cur - left
            elif ft == 2:
                enc = cur - prev
            elif ft == 3:
                enc = cur - (left + prev) // 2
            else:
                pa = I._paeth(
                    left.astype(np.uint8), prev.astype(np.uint8), ul.astype(np.uint8)
                ).astype(np.int32)
                enc = cur - pa
            lines.append(bytes([ft]) + bytes((enc & 0xFF).astype(np.uint8)))
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        data = (
            I._PNG_SIG
            + I._chunk(b"IHDR", ihdr)
            + I._chunk(b"IDAT", zlib.compress(b"".join(lines)))
            + I._chunk(b"IEND", b"")
        )
        assert np.array_equal(I.decode_png(data), arr)

    def test_unsupported_format_raises(self):
        import pytest

        with pytest.raises(NotImplementedError):
            I.encode_image(make_image(0), "jpeg")

    def test_dcx_psnr_gate(self):
        """Lossy DCT codec must clear the input_hint's PSNR >= 40 dB
        bar on every fixture image (noisy gradients — worst case for a
        transform codec)."""
        for i in range(24):
            arr = make_image(i)
            rt = I.decode_dcx(I.encode_dcx(arr))
            assert rt.shape == arr.shape
            assert I.psnr(arr, rt) >= 40.0, f"image {i}"

    def test_dcx_deterministic(self):
        arr = make_image(7)
        assert I.encode_dcx(arr) == I.encode_dcx(arr.copy())

    def test_dcx_odd_dimensions(self):
        """Non-multiple-of-8 sizes exercise the edge padding path."""
        rng = np.random.default_rng(9)
        for h, w in ((9, 13), (8, 17), (31, 8), (1, 1), (16, 16)):
            arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            rt = I.decode_dcx(I.encode_dcx(arr))
            assert rt.shape == (h, w, 3)

    def test_dcx_smooth_image_near_lossless(self):
        """A pure gradient (no noise) has all its energy in a few DCT
        coefficients — PSNR should be far above the gate."""
        yy, xx = np.mgrid[0:48, 0:64]
        arr = np.stack(
            [np.clip(64 + xx + yy, 0, 255)] * 3, axis=2
        ).astype(np.uint8)
        assert I.psnr(arr, I.decode_dcx(I.encode_dcx(arr))) >= 50.0

    def test_dcx_second_generation_stable(self):
        """decode→re-encode→decode (what decode_stats measures) must
        also clear 40 dB — fixtures store generation-1 bytes."""
        g1 = I.decode_dcx(I.encode_dcx(make_image(5)))
        g2 = I.decode_dcx(I.encode_dcx(g1))
        assert I.psnr(g1, g2) >= 40.0


class TestPhash:
    def test_stable(self):
        arr = make_image(3)
        assert I.average_phash(arr) == I.average_phash(arr.copy())

    def test_robust_to_small_noise(self):
        arr = make_image(4).astype(np.int32)
        rng = np.random.default_rng(0)
        noisy = np.clip(arr + rng.integers(-2, 3, arr.shape), 0, 255).astype(np.uint8)
        d = I.hamming64(I.average_phash(arr.astype(np.uint8)), I.average_phash(noisy))
        assert d <= 6

    def test_distinct_images_differ(self):
        d = I.hamming64(I.average_phash(make_image(10)), I.average_phash(make_image(11)))
        assert d > 6

    def test_psnr(self):
        arr = make_image(6)
        assert I.psnr(arr, arr) == float("inf")
        off = np.clip(arr.astype(np.int32) + 2, 0, 255).astype(np.uint8)
        assert I.psnr(arr, off) > 40.0


class TestImageOperators:
    def test_image_table_matches_driver_generation(self, spark):
        """The distributed fixture must equal the driver-side generator
        exactly — bytes, phash and georeference included: the golden
        oracles recompute from ``generate_images_pdf``."""
        got = image_table(spark, 30).toPandas()
        want = generate_images_pdf(30)
        got["bytes"] = got["bytes"].map(bytes)
        pd.testing.assert_frame_equal(
            got.sort_values("image_id").reset_index(drop=True),
            want.sort_values("image_id").reset_index(drop=True),
            check_dtype=False,
            check_exact=True,
        )

    def test_decode_stats_invariants(self, spark):
        df = decode_stats(image_table(spark, 60)).toPandas()
        assert df.decode_ok.all()
        assert df.width_matches.all()
        assert df.phash_matches.all()
        assert (df.psnr >= 40.0).all()  # lossless → 1e9 sentinel

    def test_feature_extraction(self, spark):
        df = extract_features(image_table(spark, 30)).toPandas()
        assert df.thumb.map(len).eq(16).all()
        assert df.contrast.gt(0).all()

    def test_phash_near_dups_recall(self, spark):
        pdf = generate_images_pdf(50)
        # inject perceptual near-dups: same pixels re-encoded (phash
        # identical), new ids
        dup = pdf.iloc[:10].copy()
        dup["image_id"] = dup.image_id + "-dup"
        aug = spark.createDataFrame(
            pd.concat([pdf, dup], ignore_index=True), schema=IMAGE_SCHEMA
        )
        pairs = phash_near_dups(aug, max_hamming=3).toPandas()
        got = set(zip(pairs.img_a, pairs.img_b))
        for i in range(10):
            pid = f"img-{i:08d}"
            assert (pid, pid + "-dup") in got
