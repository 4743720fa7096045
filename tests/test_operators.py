"""Per-operator unit tests for the LLM-pipeline extension operators
(dedup / similarity / text / temporal / multimodal) — semantics and plan
properties the oracle harness can't see.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from cyrela_etl_spark.operators import dedup as D
from cyrela_etl_spark.operators import multimodal as M
from cyrela_etl_spark.operators import text as X
from cyrela_etl_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_arrow,
    embedding_neardup_pairs,
    rhp_lsh_topk,
)
from cyrela_etl_spark.operators.temporal import asof_join
from cyrela_etl_spark.session import scoped_conf


# -- safety guards ----------------------------------------------------------
def test_ngram_jaccard_requires_blocking(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError, match="block_cols"):
        D.ngram_jaccard_pairs(docs)


def test_neardup_requires_blocking(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="block_col"):
        embedding_neardup_pairs(emb)


def test_rhp_dim_mismatch_raises(spark, sf_dir):
    # The guard rides the plan (no extra driver job when dim is passed),
    # so the mismatch surfaces at execution time as a raise_error.
    from pyspark.errors.exceptions.base import PySparkException

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.selectExpr("vec_id AS query_id", "embedding")
    with pytest.raises(PySparkException, match="dim=128"):
        rhp_lsh_topk(emb, q, dim=128).collect()


# -- similarity: arrow path parity ------------------------------------------
def test_cosine_topk_arrow_matches_exact(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter("vec_id < 6").selectExpr("vec_id AS query_id", "embedding")
    exact = sorted(map(tuple, cosine_topk(emb, q, k=7).collect()))
    arrow = sorted(map(tuple, cosine_topk_arrow(emb, q, k=7).collect()))
    assert exact == arrow


def test_cosine_topk_arrow_rejects_oversized_query_set(spark, sf_dir):
    # VERDICT r7 item 3: the "queries are small" contract is enforced, not
    # documented — an oversized query table raises instead of being
    # collected through the driver.
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.selectExpr("vec_id AS query_id", "embedding")
    with pytest.raises(ValueError, match="max_queries=5"):
        cosine_topk_arrow(emb, q, k=3, max_queries=5)


# -- dedup: planted duplicates are found ------------------------------------
def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "unique doc")],
        ["doc_id", "text"],
    )
    out = {r["content_md5"]: r for r in D.exact_dedup(df).collect()}
    assert len(out) == 2  # whitespace/case-normalized dup group + singleton
    grp = next(r for r in out.values() if r["n_dups"] == 2)
    assert grp["canonical_id"] == 1


def test_minhash_lsh_finds_planted_neardup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra token"), (3, "совершенно other content entirely " * 5)],
        ["doc_id", "text"],
    )
    pairs = D.minhash_lsh_pairs(df, num_hashes=16, bands=4, threshold=0.5).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    assert pairs[0]["jaccard"] > 0.7


@pytest.mark.slow  # r18 slow tier: heavy model-check/e2e; default run skips (driver verify budget), full suite = -m ""
def test_empty_and_whitespace_docs_excluded_from_pairing(spark):
    """Zero-token documents (empty/whitespace-only text) yield the empty
    shingle set and MUST be excluded from pairwise dedup: their Jaccard is
    0/0 — NULL with ANSI off (pairs silently dropped), DIVIDE_BY_ZERO
    error with ANSI ON (the driver's default session). The planted real
    near-dup must still be found, and no emitted pair may touch an
    empty doc — under BOTH ANSI settings."""
    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    rows = [
        (1, base),
        (2, base + " extra token"),
        (3, ""),
        (4, "   \t\n  "),
        (5, "solitary"),
    ]
    for ansi in ("true", "false"):
        with scoped_conf(spark, {"spark.sql.ansi.enabled": ansi}):
            df = spark.createDataFrame(rows, ["doc_id", "text"])
            lsh = D.minhash_lsh_pairs(df, num_hashes=16, bands=4, threshold=0.5).collect()
            assert [(p["id_a"], p["id_b"]) for p in lsh] == [(1, 2)], f"ansi={ansi}"
            ng = D.ngram_jaccard_pairs(df, n=3, threshold=0.5, allow_full_scan=True).collect()
            assert [(p["id_a"], p["id_b"]) for p in ng] == [(1, 2)], f"ansi={ansi}"
            # signatures remain TOTAL: one row per doc, sentinel for empty
            sigs = {r["id"]: r["signature"] for r in D.minhash_signatures(df).collect()}
            assert set(sigs) == {1, 2, 3, 4, 5}
            from cyrela_etl_spark.functions.hashing import MERSENNE_PRIME

            assert sigs[3] == [MERSENNE_PRIME] * 16


def test_repetition_features_gopher_signals(spark):
    """Bigram repetition fractions: a fully-repetitive doc scores
    dup_gram_frac 1.0, natural-ish prose scores low, and sub-2-token
    docs are absent (zero grams — no 0/0 row)."""
    from cyrela_etl_spark.operators.text import repetition_features

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam"),       # one bigram repeated 4x
            (2, "the quick brown fox jumps home"), # all bigrams unique
            (3, "one"),                            # zero bigrams -> absent
            (4, ""),                               # zero tokens  -> absent
            (5, "a b a b c"),                      # 'a b' x2 of 4 grams
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in repetition_features(df).collect()}
    assert set(out) == {1, 2, 5}
    assert out[1]["n_grams"] == 4 and out[1]["dup_gram_frac"] == 1.0
    assert out[2]["dup_gram_frac"] == 0.0 and out[2]["top_gram_n"] == 1
    assert out[5]["n_grams"] == 4 and out[5]["top_gram_n"] == 2
    assert out[5]["top_gram_frac"] == 0.5 and out[5]["dup_gram_frac"] == 0.5


def test_simhash_pairs_hamming_bound(spark):
    # An exact token-multiset copy has Hamming 0 — guaranteed to share
    # every chunk, so the banding must surface it (near-copies are only
    # probabilistically close at bits=16; the oracle queries cover those).
    base = "alpha beta gamma delta epsilon zeta eta theta " * 4
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "wholly different words here " * 6)],
        ["doc_id", "text"],
    )
    pairs = D.simhash_pairs(df, bits=16, max_hamming=2).collect()
    found = {(p["id_a"], p["id_b"]): p["hamming"] for p in pairs}
    assert found[(1, 2)] == 0
    assert all(h <= 2 for h in found.values())


# -- temporal: as-of join edges ---------------------------------------------
def _ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


def test_asof_join_edges(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), "k"),
         (2, _ts("2024-01-01T12:00:00"), "k"),
         (3, _ts("2024-01-01T09:00:00"), "k")],
        ["id", "ts", "key"],
    )
    right = spark.createDataFrame(
        [(_ts("2024-01-01T10:00:00"), "k", 100.0),   # equal ts → visible (<=)
         (_ts("2024-01-01T11:00:00"), "k", 200.0)],
        ["rts", "key", "val"],
    )
    out = {
        r["id"]: r["val_asof"]
        for r in asof_join(left, right, on="key", left_ts="ts", right_ts="rts",
                           right_value_cols=["val"]).collect()
    }
    assert out[3] is None          # before any right row → null
    assert out[1] == 100.0         # equal-timestamp right row IS visible
    assert out[2] == 200.0         # latest prior wins


# -- text -------------------------------------------------------------------
def test_language_id_markers_and_ties(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog is here"),
         (2, "der hund und die katze ist da"),
         (3, "xyzzy plugh")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["lang_pred"] for r in X.language_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "und"}


def test_quality_features_bounds(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = X.quality_features(docs)
    bad = q.filter(~F.col("quality_score").between(0.0, 1.0)).count()
    assert bad == 0


# -- multimodal: column pruning + plumbing ----------------------------------
def test_multimodal_metadata_only_prunes_payload(spark, sf_dir, tmp_path):
    """A metadata-only query over a binary table must not read the payload
    column at all — the parquet ReadSchema is the proof (the property that
    makes metadata ops ~free at 100 TB of media bytes)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "media")
    M.binarize_text(docs).write.parquet(path)
    binary = spark.read.parquet(path)
    meta_only = binary.select("doc_id", "media_type").filter(F.col("doc_id") < 10)
    plan = meta_only._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "payload" not in read_schema
    assert meta_only.count() > 0


def test_media_meta_roundtrip(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    meta = M.extract_media_meta(M.binarize_text(docs)).collect()
    assert len(meta) == 20
    for r in meta:
        assert r["n_bytes"] > 0 and len(r["content_hash"]) == 32
        assert 16 <= r["width"] <= 271 and 16 <= r["height"] <= 271


def test_media_meta_strict_raises(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(2)
    meta = M.extract_media_meta(M.binarize_text(docs), strict=True)
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        meta.collect()


def test_minmax_window_parity_with_grouped_map(spark, sf_dir):
    """The JVM window path and the grouped-map (Arrow) path are the same
    relation — the grouped-map version exists to exercise the pandas-UDF
    surface, the window version is the production path."""
    import pandas as pd

    from cyrela_etl_spark.operators.grouped import minmax_normalize, minmax_normalize_window
    from cyrela_etl_spark.sources.parquet import read_events

    ev = read_events(spark, sf_dir)
    a = minmax_normalize(ev).toPandas().sort_values("event_id").reset_index(drop=True)
    b = minmax_normalize_window(ev).toPandas().sort_values("event_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b[a.columns])


def test_cents_half_away_matches_sql_round():
    """pandas .round() is half-to-even; the engine must round half AWAY
    from zero to agree with SQL round() on exact .5-cent products."""
    import pandas as pd

    from cyrela_etl_spark.operators.grouped import _cents_half_away

    vals = pd.Series([0.125, -0.125, 1.005, 0.1, -2.675])
    got = list(_cents_half_away(vals))
    # 0.125*100 = 12.5 and -2.675*100 = -267.5 are exact halves in binary
    # → away from zero (13 / -268), NOT pandas half-even (12 / -268 is
    # where they differ: Series.round gives 12). 1.005*100 = 100.49999…
    # is not a half → 100 in every engine.
    assert got == [13, -13, 100, 10, -268]


def test_bmp_wav_build_parse_roundtrip():
    """Real container headers: what make_* writes, parse_*_header reads
    back — byte-level layout verified without any codec library."""
    from cyrela_etl_spark.operators.multimodal import (
        make_bmp,
        make_wav,
        parse_bmp_header,
        parse_wav_header,
    )

    b = make_bmp(33, 7)
    assert parse_bmp_header(b) == {"width": 33, "height": 7}
    # 24-bpp rows are padded to 4 bytes: 33*3=99 → 100 per row
    assert len(b) == 54 + 100 * 7
    assert parse_wav_header(b) is None

    w = make_wav(11025, 500)
    got = parse_wav_header(w)
    assert got == {
        "sample_rate": 11025,
        "channels": 1,
        "n_frames": 500,
        "duration_ms": 500 * 1000 // 11025,
    }
    assert len(w) == 44 + 500 * 2
    assert parse_bmp_header(w) is None
    # garbage is neither
    assert parse_bmp_header(b"\x00" * 100) is None
    assert parse_wav_header(b"RIFFxxxx") is None


def test_media_decode_real_headers_via_spark(spark, sf_dir):
    from cyrela_etl_spark.operators.multimodal import extract_media_meta, synthesize_media

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    meta = {r["doc_id"]: r for r in extract_media_meta(synthesize_media(docs), strict=True).collect()}
    for i, r in meta.items():
        if i % 4 == 0:
            assert r["media_kind"] == "bmp"
            assert r["width"] == 1 + i % 64 and r["height"] == 1 + (i // 64) % 64
            assert r["sample_rate"] is None
        elif i % 4 == 1:
            assert r["media_kind"] == "wav"
            assert r["sample_rate"] == 8000 + (i % 8) * 1000
            assert r["n_frames"] == 1 + i % 1000
            assert r["width"] is None
        elif i % 4 == 2:
            assert r["media_kind"] == "jpeg"
            assert r["width"] == 1 + i % 200 and r["height"] == 1 + (i // 200) % 200
            assert r["sample_rate"] is None and r["n_frames"] == 1
        else:
            assert r["media_kind"] == "gif"
            assert r["width"] == 1 + i % 320 and r["height"] == 1 + (i // 320) % 320
            assert r["n_bytes"] == 34
            assert r["sample_rate"] is None and r["n_frames"] == 1


def test_png_header_parse():
    import struct
    import zlib

    from cyrela_etl_spark.operators.multimodal import parse_png_header

    ihdr = struct.pack(">II", 640, 480) + b"\x08\x02\x00\x00\x00"
    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR" + ihdr + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    )
    assert parse_png_header(png) == {"width": 640, "height": 480}
    assert parse_png_header(b"\x89PNGxxxx" + b"\x00" * 20) is None


def test_lsh_xxhash_fast_path_finds_planted_neardup(spark):
    """hash_fn='xxhash64' (production base hash — not oracle-portable)
    must find the same planted near-dup structure as the md5 path, and
    reject unknown hash names."""
    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra token"), (3, "совершенно other content entirely " * 5)],
        ["doc_id", "text"],
    )
    pairs = D.minhash_lsh_pairs(df, num_hashes=16, bands=4, threshold=0.5, hash_fn="xxhash64").collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    sh = D.simhash_pairs(df.withColumn("text", F.col("text")), hash_fn="xxhash64").collect()
    assert all(p["hamming"] <= 2 for p in sh)
    with pytest.raises(ValueError, match="md5|xxhash64"):
        D.minhash_signatures(df, hash_fn="fnv")


def test_incremental_agg_merge_equals_full_recompute(spark, sf_dir):
    """The algebraic-merge contract: folding per-batch partial states —
    in any batch split and any merge order — must equal the single-pass
    aggregate over the union. Decimal sums make this exact equality."""
    from cyrela_etl_spark.operators.incremental import (
        finalize_agg_state,
        merge_agg_states,
        partial_agg_state,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    keys = ["o_orderpriority"]
    # 4-way split on a key unrelated to the group key
    batches = [orders.filter(F.col("o_orderkey") % 4 == i) for i in range(4)]
    states = [partial_agg_state(b, keys, "o_totalprice") for b in batches]
    # two different merge trees: left fold vs pairwise
    flat = finalize_agg_state(merge_agg_states(states, keys), keys)
    pair = finalize_agg_state(
        merge_agg_states(
            [merge_agg_states(states[:2], keys), merge_agg_states(states[2:], keys)], keys
        ),
        keys,
    )
    full = finalize_agg_state([partial_agg_state(orders, keys, "o_totalprice")][0], keys)
    rows_flat = {r["o_orderpriority"]: r.asDict() for r in flat.collect()}
    rows_pair = {r["o_orderpriority"]: r.asDict() for r in pair.collect()}
    rows_full = {r["o_orderpriority"]: r.asDict() for r in full.collect()}
    assert rows_flat == rows_full
    assert rows_pair == rows_full
    assert merge_agg_states(states, keys).columns == ["o_orderpriority", "agg_cnt", "agg_sum", "agg_min", "agg_max"]
    with pytest.raises(ValueError, match="at least one"):
        merge_agg_states([], keys)


def test_jpeg_build_parse_roundtrip():
    """JPEG SOF marker walk: what make_jpeg writes into SOF0,
    parse_jpeg_header reads back; total size matches the pinned
    overhead constant the oracle relies on."""
    from cyrela_etl_spark.operators.multimodal import (
        JPEG_OVERHEAD_BYTES,
        make_jpeg,
        parse_bmp_header,
        parse_jpeg_header,
        parse_wav_header,
    )

    j = make_jpeg(129, 47, entropy_len=333)
    assert parse_jpeg_header(j) == {"width": 129, "height": 47}
    assert len(j) == JPEG_OVERHEAD_BYTES + 333
    assert parse_bmp_header(j) is None and parse_wav_header(j) is None
    # SOF must be found by WALKING segments, not by byte scanning: an
    # APP segment containing an embedded fake SOF byte pair must be
    # skipped via its declared length.
    import struct as _s

    trap = (
        b"\xff\xd8"
        + b"\xff\xe1" + _s.pack(">H", 12) + b"\xff\xc0" + b"\x00" * 8
        + b"\xff\xc0" + _s.pack(">HBHHB", 17, 8, 10, 20, 3) + bytes(9)
    )
    assert parse_jpeg_header(trap) == {"width": 20, "height": 10}
    # truncated / non-JPEG payloads
    assert parse_jpeg_header(b"\xff\xd8\xff") is None
    assert parse_jpeg_header(b"GIF89a....") is None
    # SOS before any SOF → no dimensions, not a crash
    nos = b"\xff\xd8" + b"\xff\xda" + _s.pack(">H", 4) + b"\x00\x00"
    assert parse_jpeg_header(nos) is None


def test_gif_header_parse():
    from cyrela_etl_spark.operators.multimodal import (
        GIF_OVERHEAD_BYTES,
        make_gif,
        parse_bmp_header,
        parse_gif_header,
    )

    g = make_gif(320, 1)
    assert len(g) == GIF_OVERHEAD_BYTES
    assert parse_gif_header(g) == {"width": 320, "height": 1}
    # GIF87a variant parses too
    assert parse_gif_header(b"GIF87a" + g[6:]) == {"width": 320, "height": 1}
    assert parse_gif_header(b"GIF89") is None  # truncated signature
    assert parse_gif_header(b"\x00" * 100) is None
    assert parse_bmp_header(g) is None
