"""Multimodal plumbing: ``extract_features_csv`` over ``doc_media``
against hand-computed codepoint histograms."""

from __future__ import annotations

from dedupe_algo_spark.multimodal import doc_media, extract_features_csv


def test_extract_features_end_to_end(spark):
    texts = ["abc", "", "héllo wörld", "日本語 ok", "ÿĀ"]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    feats = {
        r["media_id"]: r for r in extract_features_csv(doc_media(docs)).collect()
    }
    assert [feats[i]["kind"] for i in range(3)] == ["image", "audio", "video"]
    for i, text in enumerate(texts):
        hist = [int(x) for x in feats[i]["feature_csv"].split(",")]
        assert len(hist) == 16
        # histogram mass equals the codepoint count; n_bytes is UTF-8 size
        assert sum(hist) == len(text)
        assert feats[i]["n_bytes"] == len(text.encode("utf-8"))
        # codepoints >= 255 are clipped into the last bin (240..255)
        assert hist[15] == sum(ord(c) >= 240 for c in text)
    assert feats[0]["feature_csv"] == ",".join(["0"] * 6 + ["3"] + ["0"] * 9)
    assert feats[4]["feature_csv"].endswith(",2")
