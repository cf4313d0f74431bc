"""SimHash pairs, multimodal plumbing, lang/quality operators."""

from __future__ import annotations

import pandas as pd
import pytest

from cuda_selection_criteria_spark.functions import (
    frame_sample,
    lang_predict,
    media_features,
    media_thumbnails,
    quality_scores,
    simhash_docs,
    simhash_pairs,
    synthetic_media,
)


@pytest.fixture(scope="module")
def docs(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "the quick brown fox jumps over the lazy dog again and again today",
                "the quick brown fox jumps over the lazy dog again and again tonight",
                "el rapido zorro la marron salta y sobre el perro que los duerme",
                "x",
            ],
            "lang": ["en", "en", "es", "und"],
            "source": ["a"] * 4,
            "n_chars": [66, 67, 60, 1],
        }
    )
    return spark.createDataFrame(pdf)


def test_simhash_deterministic_and_near(docs, spark):
    sh = {r.doc_id: r.simhash for r in simhash_docs(docs).collect()}
    sh2 = {r.doc_id: r.simhash for r in simhash_docs(docs).collect()}
    assert sh == sh2
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_pairs(docs, max_hamming=6).collect()}
    assert (1, 2) in pairs  # one-token difference
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_lang_predict(docs):
    got = {r.doc_id: r.lang_pred for r in lang_predict(docs).collect()}
    assert got[1] == "en" and got[2] == "en"
    assert got[3] == "es"
    assert got[4] == "und"


def test_quality_scores(docs):
    rows = {r.doc_id: r for r in quality_scores(docs).collect()}
    assert rows[1].passes_length_gate == 1
    assert rows[4].passes_length_gate == 0
    assert rows[1].stopword_ratio_x1000 > 0


def test_media_features_shape(spark):
    media = synthetic_media(spark, n_rows=16)
    feats = media_features(media, feat_dim=16).collect()
    assert len(feats) == 16
    assert all(len(r.feature) == 16 for r in feats)
    # deterministic
    feats2 = media_features(media, feat_dim=16).collect()
    assert [r.feature for r in sorted(feats, key=lambda r: r.media_id)] == [
        r.feature for r in sorted(feats2, key=lambda r: r.media_id)
    ]


def test_media_thumbnails_bounded(spark):
    media = synthetic_media(spark, n_rows=8)
    rows = media_thumbnails(media, max_side=8).collect()
    assert all(0 < r.thumb_w <= 8 and 0 < r.thumb_h <= 8 for r in rows)
    assert all(len(r.thumb) == r.thumb_w * r.thumb_h for r in rows)


def test_frame_sample(spark):
    media = synthetic_media(spark, n_rows=8)
    rows = frame_sample(media, every_n=10).collect()
    for r in rows:
        assert r.frame_no % 10 == 0
