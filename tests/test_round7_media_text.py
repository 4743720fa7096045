"""Round-7 media/text wave: MP3 frame-chain parse, Flesch readability,
sequence trigram mining. Registry entries are oracle-checked; these pin
the byte-level and formula-level contracts: parser round-trips, garbage
rejection, hand-computed scores on punctuated text the synthetic corpus
doesn't contain, and hand-built event paths.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# make_mp3 / parse_mp3_header
# ---------------------------------------------------------------------------
def test_mp3_roundtrip_all_parameter_corners():
    from cyrela_etl_spark.operators.multimodal import (
        MP3_BITRATES_KBPS,
        MP3_SAMPLE_RATES,
        make_mp3,
        parse_mp3_header,
    )

    for sr_idx in range(3):
        for br_idx in (1, 7, 14):
            for n_frames in (1, 3):
                for tag in (0, 127):
                    b = make_mp3(sr_idx, br_idx, n_frames, tag)
                    meta = parse_mp3_header(b)
                    assert meta is not None, (sr_idx, br_idx, n_frames, tag)
                    sr = MP3_SAMPLE_RATES[sr_idx]
                    assert meta["sample_rate"] == sr
                    assert meta["bitrate_kbps"] == MP3_BITRATES_KBPS[br_idx]
                    assert meta["n_frames"] == n_frames
                    assert meta["duration_ms"] == n_frames * 1152 * 1000 // sr


def test_mp3_parser_rejects_non_mp3_and_truncated():
    from cyrela_etl_spark.operators.multimodal import make_bmp, make_mp3, parse_mp3_header

    assert parse_mp3_header(b"") is None
    assert parse_mp3_header(b"not audio at all") is None
    assert parse_mp3_header(make_bmp(4, 4)) is None
    whole = make_mp3(0, 5, 2, 10)
    assert parse_mp3_header(whole[:-7]) is None  # torn final frame
    # frame chain with trailing garbage is not a clean stream
    assert parse_mp3_header(whole + b"xyz") is None


def test_mp3_id3_tag_is_skipped_not_counted():
    from cyrela_etl_spark.operators.multimodal import make_mp3, parse_mp3_header

    with_tag = make_mp3(1, 3, 2, tag_size=90)
    without = make_mp3(1, 3, 2, tag_size=0)
    assert parse_mp3_header(with_tag) == parse_mp3_header(without)
    assert len(with_tag) == len(without) + 90


def test_media_meta_strict_still_raises_on_unknown(spark):
    """Adding the mp3 branch must not swallow the strict-mode contract
    for genuinely unknown containers."""
    import pandas as pd

    from cyrela_etl_spark.operators.multimodal import extract_media_meta

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "payload": [b"\x00\x01unknowncontainer"],
                      "media_type": ["application/octet-stream"]})
    )
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        extract_media_meta(df, strict=True).collect()


# ---------------------------------------------------------------------------
# text_readability
# ---------------------------------------------------------------------------
def test_readability_hand_computed_on_punctuated_text(spark, monkeypatch):
    """'the cat sat. the dog ran!' → 6 words, 2 sentences, 6 vowel
    groups → FRE = 206.835 − 1.015·3 − 84.6·1 = 119.19."""
    import pandas as pd

    from cyrela_etl_spark.queries import textq

    pdf = pd.DataFrame({"doc_id": [1], "text": ["the cat sat. the dog ran!"]})

    monkeypatch.setattr(
        textq, "read_table", lambda s, d, name: spark.createDataFrame(pdf)
    )
    out = textq.text_readability(spark, SF).collect()[0]
    assert out["n_words"] == 6
    assert out["n_sentences"] == 2
    assert out["n_syllables"] == 6
    assert abs(out["flesch_score"] - (206.835 - 1.015 * 3.0 - 84.6 * 1.0)) < 1e-9


def test_readability_zero_word_docs_excluded(spark, monkeypatch):
    import pandas as pd

    from cyrela_etl_spark.queries import textq

    pdf = pd.DataFrame({"doc_id": [1, 2], "text": ["   ", "a b"]})
    monkeypatch.setattr(
        textq, "read_table", lambda s, d, name: spark.createDataFrame(pdf)
    )
    out = textq.text_readability(spark, SF).toPandas()
    assert list(out["doc_id"]) == [2]


def test_readability_plan_is_exchange_free(spark):
    from cyrela_etl_spark.queries.textq import text_readability

    plan = text_readability(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# events_sequence_trigrams
# ---------------------------------------------------------------------------
def test_trigrams_hand_built_paths(spark, monkeypatch):
    """User 1: a,b,c,b,c → trigrams abc, bcb, cbc. User 2: a,b,c →
    abc. Counts: abc×2, bcb×1, cbc×1; ordering by count then lexicographic."""
    import datetime

    import pandas as pd

    from cyrela_etl_spark.queries import temporalq

    rows = []
    for uid, types in [(1, list("abcbc")), (2, list("abc"))]:
        for i, t in enumerate(types):
            rows.append(
                {
                    "event_id": uid * 100 + i,
                    "ts": datetime.datetime(2026, 1, 1, 0, i),
                    "user_id": uid,
                    "event_type": t,
                    "value": 1.0,
                    "props": "{}",
                }
            )
    ev = spark.createDataFrame(pd.DataFrame(rows))
    monkeypatch.setattr(temporalq, "read_table", lambda s, d, name: ev)
    out = [
        (r["step1"], r["step2"], r["step3"], r["n_paths"])
        for r in temporalq.events_sequence_trigrams(spark, SF).collect()
    ]
    assert out == [("a", "b", "c", 2), ("b", "c", "b", 1), ("c", "b", "c", 1)]


def test_trigrams_never_cross_users(spark, monkeypatch):
    """Two users with 2 events each produce NO trigrams — lead() windows
    are per-user, so paths must not stitch across user boundaries."""
    import datetime

    import pandas as pd

    from cyrela_etl_spark.queries import temporalq

    rows = []
    for uid in (1, 2):
        for i in (0, 1):
            rows.append(
                {
                    "event_id": uid * 10 + i,
                    "ts": datetime.datetime(2026, 1, 1, 0, i),
                    "user_id": uid,
                    "event_type": "x",
                    "value": 1.0,
                    "props": "{}",
                }
            )
    ev = spark.createDataFrame(pd.DataFrame(rows))
    monkeypatch.setattr(temporalq, "read_table", lambda s, d, name: ev)
    assert temporalq.events_sequence_trigrams(spark, SF).count() == 0
