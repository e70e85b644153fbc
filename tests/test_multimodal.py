"""Multimodal tests: the JVM-side media plans, the real WAV/BMP codecs
end-to-end through mapInPandas, and the declared codec seam."""

from __future__ import annotations

import hashlib

from dataquality_box_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    extract_features,
    frame_sample_plan,
    gen_media,
    payload_integrity,
)


def _media_df(spark):
    pdf = gen_media(200, seed=7)
    pdf["width"] = pdf["width"].astype("Int32")
    pdf["height"] = pdf["height"].astype("Int32")
    pdf["duration_ms"] = pdf["duration_ms"].astype("Int32")
    return spark.createDataFrame(pdf, schema=MEDIA_SCHEMA), pdf


def test_feature_extraction_roundtrip(spark):
    df, pdf = _media_df(spark)
    decodable = df.filter(df["kind"] != "video")
    n_in = int((pdf["kind"] != "video").sum())
    feats = extract_features(decodable).toPandas().set_index("media_id").sort_index()
    assert len(feats) == n_in
    # deterministic features: recompute one row independently
    i = int(pdf.index[pdf["kind"] != "video"][0])
    b = pdf.loc[i, "payload"]
    assert feats.loc[i, "payload_sha1"] == hashlib.sha1(b).hexdigest()
    assert feats.loc[i, "n_bytes"] == len(b)
    assert len(feats.loc[i, "feat"]) == 8
    assert 0.0 <= feats.loc[i, "entropy"] <= 8.0


def test_frame_sample_plan(spark):
    df, pdf = _media_df(spark)
    plan = frame_sample_plan(df, every_ms=1000).toPandas()
    vids = pdf[pdf["kind"] == "video"]
    assert set(plan["media_id"]) == set(vids["media_id"])
    g = plan.groupby("media_id")["frame_idx"].agg(["min", "max", "count"])
    assert (g["min"] == 0).all()
    assert (g["count"] == g["max"] + 1).all()
    assert (plan["frame_ms"] == plan["frame_idx"] * 1000).all()


def test_payload_integrity_jvm_side(spark):
    df, pdf = _media_df(spark)
    stats = payload_integrity(df).toPandas().set_index("kind")
    for kind in ("image", "audio", "video"):
        sub = pdf[pdf["kind"] == kind]
        assert stats.loc[kind, "n"] == len(sub)
        assert stats.loc[kind, "total_bytes"] == sub["payload"].map(len).sum()


def test_wav_decode_is_real(spark):
    """Real stdlib WAV decode end-to-end through mapInPandas: known sine
    tone -> exact duration and analytic rms/peak."""
    import math

    import pandas as pd

    from dataquality_box_spark.operators.multimodal import synth_wav_bytes

    wav = synth_wav_bytes(freq_hz=440.0, ms=500, rate=8000, amp=0.5)
    pdf = pd.DataFrame(
        {
            "media_id": [0],
            "conv_id": ["c0"],
            "kind": ["audio"],
            "mime": ["audio/wav"],
            "payload": [wav],
            "width": pd.array([None], dtype="Int32"),
            "height": pd.array([None], dtype="Int32"),
            "duration_ms": pd.array([500], dtype="Int32"),
        }
    )
    df = spark.createDataFrame(pdf, schema=MEDIA_SCHEMA)
    feat = extract_features(df).collect()[0]["feat"]
    duration_s, n_ch, rate_n, rms, peak, zcr, mean, _std = feat
    assert duration_s == 0.5 and n_ch == 1.0
    assert abs(rate_n - 8000 / 48000) < 1e-6  # float32 round-trip
    # sine at amp 0.5: rms = amp/sqrt(2), peak ~ amp, ~2 zero crossings
    # per cycle (440 Hz over 8 kHz sampling -> 880/8000 sign flips/sample)
    assert abs(rms - 0.5 / math.sqrt(2)) < 0.01
    assert 0.45 <= peak <= 0.5
    assert abs(zcr - 2 * 440 / 8000) < 0.01
    assert abs(mean) < 0.01


def test_bmp_decode_is_real(spark):
    """Real BMP decode: parse header + padded bottom-up BGR rows; channel
    means must equal the source pixel field exactly."""
    import numpy as np
    import pandas as pd

    from dataquality_box_spark.operators.multimodal import synth_bmp_bytes

    # odd width 5 -> row padding exercised (5*3=15 -> padded to 16)
    bmp = synth_bmp_bytes(width=5, height=4, seed=3)
    rng = np.random.default_rng(3)
    rgb = rng.integers(0, 256, (4, 5, 3), dtype=np.uint8).astype(np.float64)
    pdf = pd.DataFrame(
        {
            "media_id": [0],
            "conv_id": ["c0"],
            "kind": ["image"],
            "mime": ["image/bmp"],
            "payload": [bmp],
            "width": pd.array([5], dtype="Int32"),
            "height": pd.array([4], dtype="Int32"),
            "duration_ms": pd.array([None], dtype="Int32"),
        }
    )
    df = spark.createDataFrame(pdf, schema=MEDIA_SCHEMA)
    feat = extract_features(df).collect()[0]["feat"]
    w_n, h_n, mr, mg, mb, _sg, ming, maxg = feat
    assert (w_n, h_n) == (5 / 4096, 4 / 4096)
    for got, chan in ((mr, 0), (mg, 1), (mb, 2)):
        assert abs(got - rgb[..., chan].mean() / 255.0) < 1e-5
    gray = rgb.mean(axis=2)
    assert abs(ming - gray.min() / 255.0) < 1e-5
    assert abs(maxg - gray.max() / 255.0) < 1e-5


def test_codec_seam_names_undecoded_mimes():
    """Only WAV and BMP decode in-container; every other mime raises
    NotImplementedError naming the mime it was given."""
    import pytest

    from dataquality_box_spark.operators import multimodal as mm

    for mime in ("image/png", "image/jpeg", "video/mp4", "x-unknown/thing"):
        with pytest.raises(NotImplementedError, match=mime):
            mm.decode_payload(mime, b"\x00" * 64)
    wav_feat = mm.decode_payload("audio/wav", mm.synth_wav_bytes(ms=50))
    bmp_feat = mm.decode_payload("image/bmp", mm.synth_bmp_bytes(4, 4, seed=1))
    assert len(wav_feat) == 8 and len(bmp_feat) == 8
