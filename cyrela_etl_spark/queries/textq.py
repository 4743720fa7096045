"""Text-analysis + deduplication queries over `documents`, each with a
DuckDB oracle.

The synthetic documents table has no duplicates, so dedup queries run over
a planted corpus: documents ∪ exact copies (every 10th doc) ∪ near copies
(every 7th doc, one appended token) — the same deterministic construction
on both engines. That way exact_dedup/minhash/simhash outputs are
non-trivial instead of vacuously empty.

All hash outputs are md5-derived (functions/hashing.py) so the oracle can
reproduce them bit-for-bit: Spark ``conv(substring(md5(x),1,15),16,10)`` ==
DuckDB ``('0x' || substr(md5(x),1,15))::BIGINT``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cyrela_etl_spark.functions.hashing import MERSENNE_PRIME
from cyrela_etl_spark.operators import dedup as D
from cyrela_etl_spark.operators import text as X
from cyrela_etl_spark.queries import register
from cyrela_etl_spark.sources.parquet import fan_out

# ---------------------------------------------------------------------------
# Shared SQL fragments (the DuckDB spellings of functions/hashing.py and
# operators/text.py primitives).
# ---------------------------------------------------------------------------
P = MERSENNE_PRIME


def sql_hex64(expr: str) -> str:
    """DuckDB twin of hashing.hex_prefix_long (60-bit md5 prefix)."""
    return f"CAST(CONCAT('0x', SUBSTR(md5({expr}), 1, 15)) AS BIGINT)"


def sql_tokens(expr: str) -> str:
    """DuckDB twin of text.tokens: lowercase whitespace split, no empties."""
    return f"list_filter(string_split_regex(lower({expr}), '\\s+'), t -> t <> '')"


def sql_norm(expr: str) -> str:
    """Whitespace-normalized lowercase content (dedup identity)."""
    return f"trim(regexp_replace(lower({expr}), '\\s+', ' ', 'g'))"


def sql_shingles(tokens_expr: str, n: int) -> str:
    """DuckDB twin of dedup.word_shingles over a tokens list expression."""
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len({tokens_expr}) - {n - 1}, 1)), "
        f"i -> array_to_string({tokens_expr}[i:i+{n - 1}], ' ')))"
    )


def _docs(spark: SparkSession, sf_dir: str, fan: bool = True) -> DataFrame:
    """Shared documents reader, fanned out to session parallelism — the
    single-row-group file otherwise pins every tokenize/md5/shingle pass
    above it to one task (see sources/parquet.py fan_out; no-op on
    splittable inputs). ``fan=False`` for consumers that shuffle first
    (see corpus())."""
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return fan_out(raw) if fan else raw


# Planted-duplicate corpus (same construction both engines).
CORPUS_SQL = """
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 100000, text, lang FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 200000, text || ' zyx extra', lang FROM documents WHERE doc_id % 7 = 0
"""


def corpus(spark: SparkSession, sf_dir: str, fan: bool = True) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text", "lang")
    exact = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang"
    )
    near = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zyx extra")).alias("text"),
        "lang",
    )
    # fan_out AFTER the (cheap) union so the md5/shingle/fold map work
    # every consumer stacks on top runs at session parallelism instead
    # of the 3 tasks the single-row-group file layout allows (r17
    # optimization; no-op on splittable inputs — sources/parquet.py).
    # ``fan=False``: consumers whose FIRST operation is itself a shuffle
    # (hash-agg / window keyed on doc id or content hash) gain nothing
    # from pre-exchange parallelism and measurably pay the extra
    # exchange — each opt-out below cites its paired A/B.
    out = docs.unionByName(exact).unionByName(near)
    return fan_out(out) if fan else out


# ---------------------------------------------------------------------------
# text_quality — quality_features (ratios of exact ints → bit-stable).
# ---------------------------------------------------------------------------
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    out = X.quality_features(docs)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_chars_measured").cast("long").alias("n_chars_measured"),
        "avg_token_len",
        "punct_ratio",
        "stopword_ratio",
        "quality_score",
    )


_SW = ", ".join(f"'{w}'" for w in X.STOPWORDS_EN)
ORACLE_QUALITY = f"""
WITH base AS (
  SELECT doc_id,
         len(list_filter({sql_tokens('text')}, t -> t <> '')) AS n_tokens,
         length(text) AS n_chars,
         length(regexp_replace(text, '\\s+', '', 'g')) AS n_nospace,
         length(regexp_replace(text, '{X.PUNCT_CLASS}', '', 'g')) AS n_punct,
         len(list_filter({sql_tokens('text')}, t -> t IN ({_SW}))) AS n_stop
  FROM documents
)
SELECT doc_id,
       n_tokens,
       n_chars AS n_chars_measured,
       n_nospace / n_tokens AS avg_token_len,
       n_punct / n_chars AS punct_ratio,
       n_stop / n_tokens AS stopword_ratio,
       (least(n_tokens, 100) / 100
        + least((n_stop / n_tokens) * 4, 1.0)
        + (1.0 - least((n_punct / n_chars) * 10, 1.0))) / 3.0 AS quality_score
FROM base
"""
register("text_quality", text_quality, ORACLE_QUALITY)


# ---------------------------------------------------------------------------
# text_language_id — marker-word argmax with fixed tie-break.
# ---------------------------------------------------------------------------
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    out = X.language_id(docs)
    return out.select(
        "doc_id",
        "lang_pred",
        *[F.col(f"score_{lang}").cast("long").alias(f"score_{lang}") for lang in X.LANG_ORDER],
    )


def _lang_oracle() -> str:
    score_exprs = []
    for lang in X.LANG_ORDER:
        markers = ", ".join(f"'{w}'" for w in X.LANG_MARKERS[lang])
        score_exprs.append(f"len(list_filter(tok, t -> t IN ({markers}))) AS score_{lang}")
    greatest = "greatest(" + ", ".join(f"score_{lang}" for lang in X.LANG_ORDER) + ")"
    case = "CASE"
    for lang in X.LANG_ORDER:
        case += f" WHEN score_{lang} = best THEN '{lang}'"
    case += " ELSE 'und' END"
    scores = ", ".join(f"score_{lang}" for lang in X.LANG_ORDER)
    return f"""
WITH tokd AS (SELECT doc_id, {sql_tokens('text')} AS tok FROM documents),
scored AS (SELECT doc_id, {', '.join(score_exprs)} FROM tokd),
best AS (SELECT doc_id, {scores}, {greatest} AS best FROM scored)
SELECT doc_id,
       CASE WHEN best = 0 THEN 'und' ELSE {case} END AS lang_pred,
       {scores}
FROM best
"""


register("text_language_id", text_language_id, _lang_oracle())


# ---------------------------------------------------------------------------
# text_fingerprint — md5 + portable 60-bit content hash.
# ---------------------------------------------------------------------------
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return X.fingerprint(docs)


register(
    "text_fingerprint",
    text_fingerprint,
    f"""
SELECT doc_id, md5({sql_norm('text')}) AS content_md5,
       {sql_hex64(sql_norm('text'))} AS fingerprint64
FROM documents
""",
)


# ---------------------------------------------------------------------------
# text_token_counts — whitespace + BPE-ish token counting.
# The BPE-ish oracle re-expresses the Java lookaround split as an RE2
# extraction: a piece is a letter-run, a digit-run, or a non-alnum char
# optionally fused with the following letter/digit-run (same piece set).
# ---------------------------------------------------------------------------
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        X.token_count(F.col("text")).cast("long").alias("n_ws_tokens"),
        X.bpe_ish_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"),
    )


register(
    "text_token_counts",
    text_token_counts,
    f"""
SELECT doc_id,
       len({sql_tokens('text')}) AS n_ws_tokens,
       len(regexp_extract_all(lower(text), '[^a-z0-9\\s](?:[a-z]+|[0-9]+)?|[a-z]+|[0-9]+')) AS n_bpe_tokens
FROM documents
""",
)


# ---------------------------------------------------------------------------
# dedup_exact — md5 hash-agg duplicate groups over the planted corpus.
# ---------------------------------------------------------------------------
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(corpus(spark, sf_dir, fan=False)).select(
        "content_md5", F.col("n_dups").cast("long").alias("n_dups"), "canonical_id"
    )


register(
    "dedup_exact",
    dedup_exact,
    f"""
WITH corpus AS ({CORPUS_SQL})
SELECT md5({sql_norm('text')}) AS content_md5,
       count(*) AS n_dups,
       min(doc_id) AS canonical_id
FROM corpus
GROUP BY 1
""",
)


# ---------------------------------------------------------------------------
# dedup_ngram_jaccard — blocked pairwise shingle Jaccard. The block key is
# CONTENT-DERIVED: md5 of the first 4 normalized tokens. Block size is then
# bounded by exact-prefix collisions (near-dups share it; unrelated docs
# almost never do), unlike an attribute block like `lang` where one value
# covers ~a whole corpus and sum-of-block² degenerates to ~n². Prefix
# blocking trades recall for bound (an edit inside the first 4 tokens
# escapes the block) — MinHash-LSH (`dedup_minhash_lsh`) is the
# recall-tunable alternative.
# ---------------------------------------------------------------------------
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = corpus(spark, sf_dir)
    blk = F.md5(F.concat_ws(" ", F.slice(X.tokens(F.col("text")), 1, 4)))
    return D.ngram_jaccard_pairs(
        c.withColumn("prefix_blk", blk), block_cols=["prefix_blk"], n=3, threshold=0.8
    )


register(
    "dedup_ngram_jaccard",
    dedup_ngram_jaccard,
    f"""
WITH corpus AS ({CORPUS_SQL}),
sh AS (SELECT doc_id AS id,
              md5(array_to_string({sql_tokens('text')}[1:4], ' ')) AS prefix_blk,
              {sql_shingles(sql_tokens('text'), 3)} AS shingles
       FROM corpus
       -- zero-shingle (empty/whitespace-only) docs are excluded from
       -- pairing on both engines: their Jaccard is 0/0 (undefined)
       WHERE len({sql_tokens('text')}) > 0)
SELECT a.id AS id_a, b.id AS id_b,
       len(list_intersect(a.shingles, b.shingles)) / len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
FROM sh a JOIN sh b ON a.prefix_blk = b.prefix_blk AND a.id < b.id
WHERE len(list_intersect(a.shingles, b.shingles)) / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.8
""",
)


# ---------------------------------------------------------------------------
# dedup_containment_pairs — asymmetric shingle containment (operators/
# dedup.py containment_pairs; Broder 1997's containment measure):
# C(A→B) = |S(A)∩S(B)|/|S(A)| catches quote/subset/boilerplate-inclusion
# duplicates that the Jaccard family structurally misses (short-in-long
# pairs have high containment, low Jaccard). Candidates come from rare-
# shingle co-occurrence (2 ≤ df ≤ 5 — the link-prediction generator:
# position-independent, unlike prefix blocks, so mid-document quotes
# still pair); containment is exact for every candidate.
# ---------------------------------------------------------------------------
_CONT_DF_MIN, _CONT_DF_MAX, _CONT_N, _CONT_THRESHOLD = 2, 5, 3, 0.5


def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    posting = docs.select(
        F.col("doc_id"), F.explode(D.word_shingles(F.col("text"), n=_CONT_N)).alias("g")
    )
    df_ok = (
        posting.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= _CONT_DF_MIN) & (F.col("df") <= _CONT_DF_MAX))
        .select("g")
    )
    # kept is self-joined (a × b) and its lineage re-runs the full
    # posting explode per branch — persist it once (same rationale and
    # measurement as dedup_dup_ngram_fraction above).
    kept = posting.join(df_ok, "g").persist()  # release: caller (cache contract, queries/__init__)
    a, b = kept.alias("a"), kept.alias("b")
    # r18 note — the grouped-map treatment (explicit hash repartition
    # before this distinct, to undo AQE's byte-based coalescing of the
    # ~831 KB candidate payload to one task, profiled as a 0.83 s
    # single-task job) was MEASURED AND REJECTED: interleaved A/B at
    # sf0.1 (5 reps, identical checksums) read 2.408 s with the
    # repartition vs 2.390 s shipped — the added exchange costs what the
    # extra parallelism buys back. The single-task distinct stands.
    cand = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    return D.containment_pairs(
        docs, cand, n=_CONT_N, threshold=_CONT_THRESHOLD
    )


register(
    "dedup_containment_pairs",
    dedup_containment_pairs,
    f"""
WITH toks AS (SELECT doc_id, {sql_tokens('text')} AS t FROM documents),
sh AS (
  SELECT doc_id AS id, {sql_shingles('t', _CONT_N)} AS shingles
  FROM toks WHERE len(t) > 0
),
posting AS (SELECT id, unnest(shingles) AS g FROM sh),
df_ok AS (
  SELECT g FROM posting GROUP BY g
  HAVING count(*) BETWEEN {_CONT_DF_MIN} AND {_CONT_DF_MAX}
),
kept AS (SELECT p.id, p.g FROM posting p JOIN df_ok USING (g)),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM kept a JOIN kept b ON a.g = b.g AND a.id < b.id
),
scored AS (
  SELECT c.id_a, c.id_b,
         CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT) AS n_shared,
         round(len(list_intersect(sa.shingles, sb.shingles)) / len(sa.shingles), 6) AS containment_a,
         round(len(list_intersect(sa.shingles, sb.shingles)) / len(sb.shingles), 6) AS containment_b
  FROM cand c JOIN sh sa ON c.id_a = sa.id JOIN sh sb ON c.id_b = sb.id
)
SELECT id_a, id_b, n_shared, containment_a, containment_b
FROM scored
WHERE greatest(containment_a, containment_b) >= {_CONT_THRESHOLD}
""",
)


# ---------------------------------------------------------------------------
# dedup_minhash_lsh — banded MinHash-LSH candidates + exact verification.
# ---------------------------------------------------------------------------
_NUM_HASHES, _BANDS, _SHINGLE_N, _MH_THRESHOLD = 16, 4, 3, 0.5


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_pairs(
        corpus(spark, sf_dir),
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        shingle_n=_SHINGLE_N,
        threshold=_MH_THRESHOLD,
    )


def _minhash_oracle() -> str:
    rows = _NUM_HASHES // _BANDS
    hashed = f"list_transform(shingles, s -> ({sql_hex64('s')} % {P}))"
    sig_exprs = []
    for i, (a, b) in enumerate(D.minhash_params(_NUM_HASHES)):
        sig_exprs.append(f"list_min(list_transform(hs, x -> (x * {a} + {b}) % {P})) AS h{i}")
    band_selects = []
    for bi in range(_BANDS):
        parts = ", ".join(f"CAST(h{bi * rows + r} AS VARCHAR)" for r in range(rows))
        band_selects.append(f"SELECT id, {bi} AS band, concat_ws('-', {parts}) AS bucket FROM sig")
    banded = " UNION ALL ".join(band_selects)
    return f"""
WITH corpus AS ({CORPUS_SQL}),
sh AS (SELECT doc_id AS id, {sql_shingles(sql_tokens('text'), _SHINGLE_N)} AS shingles FROM corpus
       WHERE len({sql_tokens('text')}) > 0),
hashed AS (SELECT id, shingles, {hashed} AS hs FROM sh),
sig AS (SELECT id, {', '.join(sig_exprs)} FROM hashed),
banded AS ({banded}),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
)
SELECT c.id_a, c.id_b,
       len(list_intersect(sa.shingles, sb.shingles)) / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
FROM cand c JOIN sh sa ON c.id_a = sa.id JOIN sh sb ON c.id_b = sb.id
WHERE len(list_intersect(sa.shingles, sb.shingles)) / len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= {_MH_THRESHOLD}
"""


register("dedup_minhash_lsh", dedup_minhash_lsh, _minhash_oracle())


# ---------------------------------------------------------------------------
# dedup_simhash — Charikar fingerprints + Manku-banded Hamming pairs.
# ---------------------------------------------------------------------------
_SH_BITS, _SH_MAXHAM = 16, 2


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(corpus(spark, sf_dir), bits=_SH_BITS).select(
        "id", F.col("simhash").cast("long").alias("simhash")
    )


def _simhash_sql(table: str) -> str:
    """CTE body computing (id, simhash) from a (doc_id, text) table."""
    hashed = f"list_transform({sql_tokens('text')}, t -> {sql_hex64('t')})"
    terms = []
    for j in range(_SH_BITS):
        ones = f"len(list_filter(hs, h -> ((h >> {j}) & 1) = 1))"
        terms.append(f"(CASE WHEN 2 * {ones} > len(hs) THEN {1 << j} ELSE 0 END)")
    fp = " + ".join(terms)
    return f"""
hashed AS (SELECT doc_id AS id, {hashed} AS hs FROM {table}),
fps AS (SELECT id, CAST({fp} AS BIGINT) AS simhash FROM hashed)
"""


register(
    "dedup_simhash",
    dedup_simhash,
    f"WITH corpus AS ({CORPUS_SQL}), {_simhash_sql('corpus')} SELECT id, simhash FROM fps",
)


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_pairs(
        corpus(spark, sf_dir), bits=_SH_BITS, max_hamming=_SH_MAXHAM
    ).select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def _simhash_pairs_oracle() -> str:
    chunks = _SH_MAXHAM + 1
    chunk_bits = _SH_BITS // chunks
    mask = (1 << chunk_bits) - 1
    band_selects = " UNION ALL ".join(
        f"SELECT id, simhash, {ci} AS chunk, (simhash >> {ci * chunk_bits}) & {mask} AS value FROM fps"
        for ci in range(chunks)
    )
    return f"""
WITH corpus AS ({CORPUS_SQL}), {_simhash_sql('corpus')},
banded AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.simhash AS sh_a, b.simhash AS sh_b
  FROM banded a JOIN banded b ON a.chunk = b.chunk AND a.value = b.value AND a.id < b.id
)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {_SH_MAXHAM}
"""


register("dedup_simhash_pairs", dedup_simhash_pairs, _simhash_pairs_oracle())


# ---------------------------------------------------------------------------
# dedup_components — duplicate-CLUSTER resolution: connected components
# over the union of two pair sources (exact content-md5 pairs + prefix-key
# pairs), the step after pair generation that a keep policy actually
# consumes — pipelines merge edges from several detectors before picking
# survivors. Spark runs min-label propagation with pointer doubling
# (O(log diameter) shuffle rounds); the oracle computes the same
# components with a recursive transitive-closure CTE — feasible at oracle
# SF, while the propagation form is the one that scales. (Multi-hop
# correctness on the dense simhash-pair graph is pinned separately in
# tests/test_corpus_ops.py against a union-find reference.)
# ---------------------------------------------------------------------------
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = corpus(spark, sf_dir)
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    keyed = c.select(
        F.col("doc_id").alias("id"),
        F.md5(norm).alias("k_exact"),
        F.md5(F.concat_ws(" ", F.slice(X.tokens(F.col("text")), 1, 6))).alias("k_prefix"),
    )

    def _pairs(key: str) -> DataFrame:
        a, b = keyed.alias("a"), keyed.alias("b")
        return a.join(b, (F.col(f"a.{key}") == F.col(f"b.{key}")) & (F.col("a.id") < F.col("b.id"))).select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )

    edges = _pairs("k_exact").unionByName(_pairs("k_prefix"))
    return D.connected_components(edges)


_COMPONENTS_EDGES_SQL = f"""
keyed AS (
  SELECT doc_id AS id,
         md5({sql_norm('text')}) AS k_exact,
         md5(array_to_string({sql_tokens('text')}[1:6], ' ')) AS k_prefix
  FROM corpus
),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b FROM keyed a JOIN keyed b
    ON a.k_exact = b.k_exact AND a.id < b.id
  UNION ALL
  SELECT a.id, b.id FROM keyed a JOIN keyed b
    ON a.k_prefix = b.k_prefix AND a.id < b.id
)
"""

register(
    "dedup_components",
    dedup_components,
    f"""
WITH RECURSIVE corpus AS ({CORPUS_SQL}),
{_COMPONENTS_EDGES_SQL.strip()},
e AS (SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(id, r) AS (
  SELECT s, d FROM e
  UNION
  SELECT reach.id, e.d FROM reach JOIN e ON reach.r = e.s
)
SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id
""",
)


# ---------------------------------------------------------------------------
# dedup_minhash_signatures — raw signature vectors (stringified for a
# stable cross-engine representation).
# ---------------------------------------------------------------------------
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = D.minhash_signatures(
        corpus(spark, sf_dir), num_hashes=_NUM_HASHES, shingle_n=_SHINGLE_N
    )
    return sigs.select(
        "id",
        F.concat_ws("-", *[F.col("signature")[i].cast("string") for i in range(_NUM_HASHES)]).alias("signature"),
    )


def _sig_oracle() -> str:
    hashed = f"list_transform(shingles, s -> ({sql_hex64('s')} % {P}))"
    # coalesce to the sentinel P for zero-shingle docs: DuckDB's
    # list_min([]) is NULL where the Spark fold keeps its init value
    # (operators/dedup.py minhash_signature_expr).
    sig_exprs = [
        f"coalesce(list_min(list_transform(hs, x -> (x * {a} + {b}) % {P})), {P})"
        for (a, b) in D.minhash_params(_NUM_HASHES)
    ]
    parts = ", ".join(f"CAST({e} AS VARCHAR)" for e in sig_exprs)
    return f"""
WITH corpus AS ({CORPUS_SQL}),
sh AS (SELECT doc_id AS id, {sql_shingles(sql_tokens('text'), _SHINGLE_N)} AS shingles FROM corpus),
hashed AS (SELECT id, {hashed} AS hs FROM sh)
SELECT id, concat_ws('-', {parts}) AS signature FROM hashed
"""


register("dedup_minhash_signatures", dedup_minhash_signatures, _sig_oracle())


# ---------------------------------------------------------------------------
# curation_pipeline — the end-to-end training-data curation flow as ONE
# relation: quality gate → language keep-list → exact-dedup canonical pick
# → per-language corpus stats. Composes quality_features, language_id and
# exact_dedup over the planted-duplicate corpus.
# ---------------------------------------------------------------------------
_MIN_QUALITY = 0.5
_KEEP_LANGS = ("en", "de", "es", "fr")


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = corpus(spark, sf_dir)
    # Quality, language and fingerprint are all per-row expressions over
    # `text`, so the gate is ONE corpus scan — no per-feature joins (a
    # join per feature re-reads the corpus and adds a doc_id shuffle each;
    # at 100 TB that's the whole job's cost). Two-level projection: the
    # HOF-heavy score/quality trees are materialized once as columns, and
    # the multi-reference lang CASE reads the refs — HOFs are interpreted
    # (no codegen CSE), so inlining would re-evaluate each tree ~3×.
    t = F.col("text")
    qc = X.quality_columns(t)
    scores = X.language_scores(t)
    norm = F.trim(F.regexp_replace(F.lower(t), r"\s+", " "))
    inner = c.select(
        "doc_id",
        F.md5(norm).alias("content_md5"),
        qc["quality_score"].alias("quality_score"),
        qc["n_tokens"].alias("n_tokens"),
        *[e.alias(n) for n, e in scores.items()],
    )
    pred = X.language_pred({n: F.col(n) for n in scores})
    kept = (
        inner.select("doc_id", "content_md5", "quality_score", "n_tokens", pred.alias("lang_pred"))
        .filter((F.col("quality_score") >= _MIN_QUALITY) & F.col("lang_pred").isin(*_KEEP_LANGS))
    )
    # Canonical pick: min doc_id per surviving content group (exact dedup).
    canonical = kept.groupBy("content_md5").agg(
        F.min("doc_id").alias("doc_id"),
        F.first("lang_pred").alias("lang_pred"),  # same content → same lang
        F.first("n_tokens").alias("n_tokens"),
    )
    return canonical.groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_tokens").cast("long")).alias("total_tokens"),
        F.min("doc_id").alias("min_doc_id"),
    )


def _curation_oracle() -> str:
    sw = ", ".join(f"'{w}'" for w in X.STOPWORDS_EN)
    score_exprs = []
    for lang in X.LANG_ORDER:
        markers = ", ".join(f"'{w}'" for w in X.LANG_MARKERS[lang])
        score_exprs.append(f"len(list_filter(tok, t -> t IN ({markers}))) AS score_{lang}")
    greatest = "greatest(" + ", ".join(f"score_{lang}" for lang in X.LANG_ORDER) + ")"
    case = "CASE"
    for lang in X.LANG_ORDER:
        case += f" WHEN score_{lang} = best THEN '{lang}'"
    case += " ELSE 'und' END"
    keep = ", ".join(f"'{l}'" for l in _KEEP_LANGS)
    return f"""
WITH corpus AS ({CORPUS_SQL}),
base AS (
  SELECT doc_id, text, {sql_tokens('text')} AS tok,
         md5({sql_norm('text')}) AS content_md5
  FROM corpus
),
feat AS (
  SELECT doc_id, content_md5,
         len(tok) AS n_tokens,
         len(list_filter(tok, t -> t IN ({sw}))) AS n_stop,
         length(regexp_replace(text, '{X.PUNCT_CLASS}', '', 'g')) AS n_punct,
         length(text) AS n_chars,
         {', '.join(score_exprs)}
  FROM base
),
scored AS (
  SELECT doc_id, content_md5, n_tokens,
         (least(n_tokens, 100) / 100
          + least((n_stop / n_tokens) * 4, 1.0)
          + (1.0 - least((n_punct / n_chars) * 10, 1.0))) / 3.0 AS quality_score,
         {greatest} AS best,
         {', '.join('score_' + l for l in X.LANG_ORDER)}
  FROM feat
),
kept AS (
  SELECT doc_id, content_md5, n_tokens,
         CASE WHEN best = 0 THEN 'und' ELSE {case} END AS lang_pred
  FROM scored
  WHERE quality_score >= {_MIN_QUALITY}
    AND (CASE WHEN best = 0 THEN 'und' ELSE {case} END) IN ({keep})
),
canonical AS (
  SELECT content_md5, min(doc_id) AS doc_id,
         any_value(lang_pred) AS lang_pred,
         any_value(n_tokens) AS n_tokens
  FROM kept GROUP BY content_md5
)
SELECT lang_pred, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       min(doc_id) AS min_doc_id
FROM canonical
GROUP BY lang_pred
"""


register("curation_pipeline", curation_pipeline, _curation_oracle())


# ---------------------------------------------------------------------------
# corpus_chunking — overlapping token-window chunks (chunk_size 64,
# overlap 16): the pretraining ingestion unit. Generator expansion, no
# shuffle; both engines compute chunk i = tokens[i·48, i·48+64).
# ---------------------------------------------------------------------------
_CHUNK, _OVERLAP = 64, 16


def corpus_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.corpus import chunk_documents

    docs = _docs(spark, sf_dir)
    out = chunk_documents(docs, chunk_size=_CHUNK, overlap=_OVERLAP)
    return out.select(
        "doc_id",
        F.col("chunk_index").cast("long").alias("chunk_index"),
        F.col("n_chunk_tokens").cast("long").alias("n_chunk_tokens"),
        "chunk_text",
    )


_STEP = _CHUNK - _OVERLAP
register(
    "corpus_chunking",
    corpus_chunking,
    f"""
WITH tokd AS (
  SELECT doc_id, {sql_tokens('text')} AS tok FROM documents
),
sized AS (
  SELECT doc_id, tok,
         CAST(greatest(ceil((len(tok) - {_OVERLAP}) / {_STEP}), 1) AS BIGINT) AS n_chunks
  FROM tokd
),
idx AS (
  SELECT doc_id, tok, unnest(range(0, n_chunks)) AS chunk_index FROM sized
)
SELECT doc_id,
       CAST(chunk_index AS BIGINT) AS chunk_index,
       CAST(len(tok[chunk_index * {_STEP} + 1 : chunk_index * {_STEP} + {_CHUNK}]) AS BIGINT)
         AS n_chunk_tokens,
       array_to_string(tok[chunk_index * {_STEP} + 1 : chunk_index * {_STEP} + {_CHUNK}], ' ')
         AS chunk_text
FROM idx
""",
)


# ---------------------------------------------------------------------------
# corpus_dataset_split — deterministic train/val/test via portable id hash:
# a document's split never changes as the corpus grows (eval-contamination
# guard). Pure projection.
# ---------------------------------------------------------------------------
def corpus_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.corpus import dataset_split

    docs = _docs(spark, sf_dir)
    out = dataset_split(docs, train_pct=80, val_pct=10)
    return out.select("doc_id", F.col("bucket").cast("long").alias("bucket"), "split")


register(
    "corpus_dataset_split",
    corpus_dataset_split,
    f"""
SELECT doc_id,
       {sql_hex64('CAST(doc_id AS VARCHAR)')} % 100 AS bucket,
       CASE WHEN {sql_hex64('CAST(doc_id AS VARCHAR)')} % 100 < 80 THEN 'train'
            WHEN {sql_hex64('CAST(doc_id AS VARCHAR)')} % 100 < 90 THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
)


# ---------------------------------------------------------------------------
# corpus_pii_redact — email/phone scrubbing with per-kind audit counts.
# The synthetic docs carry no PII, so the query plants a deterministic
# contact line on every 5th document (same construction both engines) —
# the counts and the redacted text are then non-vacuous.
# ---------------------------------------------------------------------------
def corpus_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.corpus import redact_pii

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or +15550100"),
                (F.col("doc_id") % 100).cast("string"),
            ),
        ).otherwise(F.col("text")),
    )
    out = redact_pii(planted)
    return out.select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_phone").cast("long").alias("n_phone"),
        F.md5("redacted_text").alias("redacted_md5"),
    )


def _pii_oracle() -> str:
    from cyrela_etl_spark.operators.corpus import PII_PATTERNS

    email, phone = PII_PATTERNS["email"], PII_PATTERNS["phone"]
    return f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com or +15550100' || CAST(doc_id % 100 AS VARCHAR)
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{email}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(regexp_replace(text, '{email}', '[PII]', 'g'), '{phone}')) AS BIGINT) AS n_phone,
       md5(regexp_replace(regexp_replace(text, '{email}', '[PII]', 'g'), '{phone}', '[PII]', 'g')) AS redacted_md5
FROM planted
"""


register("corpus_pii_redact", corpus_pii_redact, _pii_oracle())


# ---------------------------------------------------------------------------
# corpus_token_pack — contiguous token-budget bin assignment within hash
# shards (context-window packing). The windowed cumsum is partition-local
# by construction — each shard packs independently.
# ---------------------------------------------------------------------------
_BUDGET, _N_SHARDS = 2048, 8


def corpus_token_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.corpus import pack_token_budget

    # fan=False: r18 interleaved A/B (5 reps, tools/ab_fan.py) — fanned
    # 0.504 s vs raw 0.485 s median; the shard window's exchange is the
    # first operation, so the pre-exchange fan only adds a shuffle.
    docs = _docs(spark, sf_dir, fan=False)
    out = pack_token_budget(docs, budget=_BUDGET, n_shards=_N_SHARDS)
    return out.select(
        "doc_id", F.col("shard").cast("long").alias("shard"), "n_tokens", "bin_id"
    )


register(
    "corpus_token_pack",
    corpus_token_pack,
    f"""
WITH base AS (
  SELECT doc_id,
         {sql_hex64('CAST(doc_id AS VARCHAR)')} % {_N_SHARDS} AS shard,
         CAST(len({sql_tokens('text')}) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT doc_id, shard, n_tokens,
       CAST(floor(CAST(sum(n_tokens) OVER w - n_tokens AS DOUBLE) / {_BUDGET}) AS BIGINT) AS bin_id
FROM base
WINDOW w AS (PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
""",
)


# ---------------------------------------------------------------------------
# text_term_stats — TF/DF corpus statistics (the vocabulary + document-
# frequency tables behind TF-IDF, vocab pruning, stopword induction): top-5
# terms per document by term frequency with each term's corpus document
# frequency attached. All counts exact ints; idf's log() is deliberately
# left to consumers (transcendentals are excluded from value-hash oracles).
# Plan: ONE explode → one (doc, term) hash agg, consumed twice (Spark's
# ReuseExchange shares the aggregation's shuffle): the window rank reads
# it partitioned by doc, and document frequency is a row-count per term
# OVER THE TF RELATION — tf already holds exactly one row per distinct
# (doc, term), so counting rows per term IS df. This replaces the naive
# explode → countDistinct(doc_id) formulation, whose two-phase distinct
# re-shuffled every raw (term, doc) OCCURRENCE (measured 3.2× slower at
# sf0.1, and the occurrence-level shuffle is the part that grows with
# corpus size — the tf relation is bounded by |doc|×|vocab_per_doc|).
# The df join is broadcast at test SF; at 100 TB Catalyst picks a
# shuffled join by size — same logical plan.
# ---------------------------------------------------------------------------
_TOP_TERMS = 5


def text_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # fan=False: r18 interleaved A/B (5 reps, tools/ab_fan.py) — fanned
    # 1.600 s vs raw 1.497 s median; the (doc, term) hash agg shuffles
    # immediately above the explode, so the fan's exchange is pure cost.
    docs = _docs(spark, sf_dir, fan=False)
    terms = docs.select("doc_id", F.explode(X.tokens(F.col("text"))).alias("term"))
    # r14 tail diet: tf feeds the document-frequency agg AND the ranked
    # top-k — persist or the tokenize + doc-term shuffle runs twice.
    # release: caller. Size note (ADVICE r14): tf is CORPUS-scale (one
    # row per distinct doc-term) — prefer StorageLevel.DISK_ONLY at 100x+
    # scales where the cache would pressure executor memory.
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")).persist()
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.col("tf").desc(), F.col("term").asc())
    top = tf.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= _TOP_TERMS)
    return top.join(df_, "term").select(
        "doc_id",
        F.col("rnk").cast("long").alias("rnk"),
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
    )


register(
    "text_term_stats",
    text_term_stats,
    f"""
WITH terms AS (
  SELECT doc_id, unnest({sql_tokens('text')}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
ranked AS (
  SELECT doc_id, term, tf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term ASC) AS rnk
  FROM tf
)
SELECT r.doc_id, r.rnk, r.term, r.tf, d.df
FROM ranked r JOIN df d ON r.term = d.term
WHERE r.rnk <= {_TOP_TERMS}
""",
)


# ---------------------------------------------------------------------------
# text_winnow_fingerprints — MOSS winnowing (Schleimer et al. 2003): distinct
# min-per-window k-gram hashes per document (operators/text.py). The oracle
# is the same pipeline in DuckDB list functions over the identical md5-hash
# space — both engines take plain BY-VALUE window minima, so selection is
# engine-independent.
# ---------------------------------------------------------------------------
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.text import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir))


register(
    "text_winnow_fingerprints",
    text_winnow_fingerprints,
    """
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' '),
                     t -> t <> '') AS toks
  FROM documents
),
grams AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, greatest(length(toks) - 2, 1)),
           i -> array_to_string(list_slice(toks, i, i + 2), ' ')
         ) AS gs
  FROM tok
),
hashes AS (
  SELECT doc_id,
         list_transform(gs,
           g -> CAST(CONCAT('0x', SUBSTR(MD5(g), 1, 15)) AS BIGINT)) AS hs
  FROM grams
),
kept AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(length(hs) - 3, 1)),
           i -> list_min(list_slice(hs, i, i + 3))
         )) AS fps
  FROM hashes
)
SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fingerprint
FROM kept
""",
)


# ---------------------------------------------------------------------------
# corpus_stratified_sample — deterministic exact-fraction stratified
# sampling by per-stratum hash rank (operators/corpus.py): every lang
# contributes exactly ceil(20%) of its documents, selection reproducible
# in any engine from the md5 hash order.
# ---------------------------------------------------------------------------
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.corpus import stratified_sample

    docs = _docs(spark, sf_dir)
    return stratified_sample(docs, stratum_col="lang", keep_pct=20)


register(
    "corpus_stratified_sample",
    corpus_stratified_sample,
    f"""
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {sql_hex64("CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC
         ) AS h_rank,
         count(*) OVER (PARTITION BY lang) AS n_stratum
  FROM documents
)
SELECT doc_id, lang, CAST(h_rank AS BIGINT) AS h_rank
FROM ranked
WHERE h_rank <= ceil(n_stratum * 20 / 100)
""",
)


# ---------------------------------------------------------------------------
# text_repetition — Gopher-style within-document repetition signals over
# word bigrams (operators/text.py repetition_features): total/top bigram
# counts plus top- and duplicate-gram fractions. Exact ints + single
# divisions; sub-2-token docs are absent on both engines (explode/unnest
# emit no rows for an empty gram list).
# ---------------------------------------------------------------------------
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.repetition_features(_docs(spark, sf_dir))


_SQL_BIGRAMS = (
    "list_transform(generate_series(1, greatest(len(t) - 1, 0)), "
    "i -> array_to_string(t[i:i+1], ' '))"
)
register(
    "text_repetition",
    text_repetition,
    f"""
WITH toks AS (SELECT doc_id, {sql_tokens('text')} AS t FROM documents),
grams AS (SELECT doc_id, unnest({_SQL_BIGRAMS}) AS gram FROM toks),
gc AS (SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_grams,
       CAST(max(c) AS BIGINT) AS top_gram_n,
       CAST(max(c) AS BIGINT) / CAST(sum(c) AS BIGINT) AS top_gram_frac,
       CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) / CAST(sum(c) AS BIGINT) AS dup_gram_frac
FROM gc
GROUP BY doc_id
""",
)


# ---------------------------------------------------------------------------
# dedup_contamination — train/eval benchmark decontamination (broadcast
# eval shingle probe; operators/contamination.py). Eval split = base docs
# with doc_id % 7 == 0; train = the planted corpus minus the eval docs
# themselves, so the planted near-copies (+200000, one appended token) and
# exact copies (+100000) of eval docs surface as contaminated — the
# GPT-3-style overlap scenario, non-vacuous by construction.
# ---------------------------------------------------------------------------
_CONTAM_N = 5


def dedup_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.contamination import contamination_report

    base = _docs(spark, sf_dir).select("doc_id", "text")
    eval_df = base.filter(F.col("doc_id") % 7 == 0)
    train = corpus(spark, sf_dir).filter(
        ~((F.col("doc_id") < 100000) & (F.col("doc_id") % 7 == 0))
    )
    return contamination_report(train, eval_df, n=_CONTAM_N)


def _contamination_oracle() -> str:
    sh = sql_shingles(sql_tokens("text"), _CONTAM_N)
    return f"""
WITH corpus AS ({CORPUS_SQL}),
train AS (
  SELECT doc_id, text FROM corpus
  WHERE NOT (doc_id < 100000 AND doc_id % 7 = 0)
),
eval_docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
t_sh AS (
  SELECT doc_id AS train_id, CAST(len({sh}) AS BIGINT) AS n_shingles,
         unnest({sh}) AS shingle
  FROM train
),
e_sh AS (
  SELECT DISTINCT eval_id, shingle FROM (
    SELECT doc_id AS eval_id, unnest({sh}) AS shingle FROM eval_docs
  )
),
hits AS (
  SELECT t.train_id, t.n_shingles, t.shingle, e.eval_id
  FROM t_sh t JOIN e_sh e USING (shingle)
  WHERE t.shingle <> ''
)
SELECT train_id, n_shingles,
       CAST(count(DISTINCT shingle) AS BIGINT) AS n_overlap_shingles,
       CAST(count(DISTINCT eval_id) AS BIGINT) AS n_eval_docs,
       CAST(count(DISTINCT shingle) AS BIGINT) / n_shingles AS contamination_ratio
FROM hits
GROUP BY train_id, n_shingles
"""


register("dedup_contamination", dedup_contamination, _contamination_oracle())


# ---------------------------------------------------------------------------
# text_lm_score — corpus-trained bigram-LM quality score in exact integer
# space (operators/text.py bigram_lm_scores): each bigram occurrence
# contributes floor(1e6 · add-one-smoothed P(w2|w1)); the per-doc average
# is one int/int division. No transcendental functions anywhere, so the
# DuckDB twin is bit-identical (the CCNet-style filter without the ulp
# risk of summed log-probs).
# ---------------------------------------------------------------------------
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.bigram_lm_scores(_docs(spark, sf_dir, fan=False))


register(
    "text_lm_score",
    text_lm_score,
    f"""
WITH toks AS (SELECT doc_id, {sql_tokens('text')} AS t FROM documents),
occ AS (
  SELECT doc_id, unnest(list_transform(
           generate_series(1, greatest(len(t) - 1, 0)),
           i -> array_to_string(t[i:i+1], ' '))) AS bg
  FROM toks
),
c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM occ GROUP BY bg),
c1t AS (
  SELECT string_split(bg, ' ')[1] AS w1, CAST(count(*) AS BIGINT) AS c1
  FROM occ GROUP BY 1
),
v AS (
  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab
  FROM (SELECT unnest(t) AS tok FROM toks)
),
model AS (
  SELECT c2.bg, c2.c2, c1t.c1
  FROM c2 JOIN c1t ON string_split(c2.bg, ' ')[1] = c1t.w1
),
scored AS (
  SELECT o.doc_id, (1000000 * (m.c2 + 1)) // (m.c1 + v.vocab) AS ppm
  FROM occ o JOIN model m USING (bg) CROSS JOIN v
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(ppm) AS BIGINT) AS sum_ppm,
       CAST(sum(ppm) AS BIGINT) / CAST(count(*) AS BIGINT) AS avg_prob_ppm
FROM scored
GROUP BY doc_id
""",
)


# ---------------------------------------------------------------------------
# quality_classifier_filter — linear-model keep/drop inference
# (operators/text.py quality_classifier): fixed exported weights applied in
# one projection; margin fold is a literal left-to-right multiply-add chain
# the oracle replicates operation-for-operation.
# ---------------------------------------------------------------------------
def quality_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.quality_classifier(_docs(spark, sf_dir))


def _quality_clf_oracle() -> str:
    w = X.QUALITY_CLF_WEIGHTS
    return f"""
WITH base AS (
  SELECT doc_id,
         len({sql_tokens('text')}) AS n_tokens,
         length(text) AS n_chars,
         length(regexp_replace(text, '{X.PUNCT_CLASS}', '', 'g')) AS n_punct,
         len(list_filter({sql_tokens('text')}, t -> t IN ({_SW}))) AS n_stop
  FROM documents
),
sig AS (
  SELECT doc_id,
         least(n_tokens, 100) / 100 AS length_sig,
         least((n_stop / n_tokens) * 4, 1.0) AS stopword_sig,
         1.0 - least((n_punct / n_chars) * 10, 1.0) AS punct_sig
  FROM base
)
SELECT doc_id, length_sig, stopword_sig, punct_sig,
       {w['bias']} + {w['length_sig']} * length_sig
                   + {w['stopword_sig']} * stopword_sig
                   + {w['punct_sig']} * punct_sig AS margin,
       ({w['bias']} + {w['length_sig']} * length_sig
                    + {w['stopword_sig']} * stopword_sig
                    + {w['punct_sig']} * punct_sig) > {X.QUALITY_CLF_THRESHOLD} AS keep
FROM sig
"""


register("quality_classifier_filter", quality_classifier_filter, _quality_clf_oracle())


# ---------------------------------------------------------------------------
# text_bm25_topk — BM25-shaped term retrieval in exact integer space
# (operators/text.py bm25_lite_topk): rational log-free idf, ppm-floored
# contributions, BIGINT sums; the oracle reproduces every integer op.
# ---------------------------------------------------------------------------
_BM25_TERMS = ["data", "table", "join", "stream"]
_BM25_K = 20


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return X.bm25_lite_topk(
        _docs(spark, sf_dir, fan=False), _BM25_TERMS, k=_BM25_K
    )


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
WITH toks AS (SELECT doc_id, {sql_tokens('text')} AS t FROM documents),
sized AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS dl FROM toks),
totals AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_len
  FROM sized
),
occ AS (
  SELECT doc_id, dl, unnest(t) AS term FROM sized
),
matched AS (SELECT * FROM occ WHERE term IN ({terms})),
tf AS (
  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
  FROM matched GROUP BY doc_id, dl, term
),
dfreq AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM matched GROUP BY term
),
scored AS (
  SELECT tf.doc_id,
         (1000000 * (2*t.n_docs - 2*d.df + 1) * 22 * tf.tf * t.total_len) //
         ((2*d.df + 1) * (10*tf.tf*t.total_len + 3*t.total_len + 9*tf.dl*t.n_docs))
           AS contrib_ppm
  FROM tf JOIN dfreq d USING (term) CROSS JOIN totals t
),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
         CAST(sum(contrib_ppm) AS BIGINT) AS score_ppm
  FROM scored GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, n_terms, score_ppm,
         CAST(row_number() OVER (ORDER BY score_ppm DESC, doc_id ASC) AS BIGINT) AS rank
  FROM per_doc
)
SELECT doc_id, rank, n_terms, score_ppm FROM ranked WHERE rank <= {_BM25_K}
"""


register("text_bm25_topk", text_bm25_topk, _bm25_oracle())


# ---------------------------------------------------------------------------
# corpus_weighted_sample — deterministic weighted sampling without
# replacement (operators/corpus.py weighted_priority_sample): priority =
# md5-hash(id) // weight, smallest-n kept. Weight = n_chars (longer docs
# proportionally likelier). Pure integer arithmetic end to end.
# ---------------------------------------------------------------------------
_WSAMPLE_N = 50


def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.corpus import weighted_priority_sample

    docs = _docs(spark, sf_dir)
    return weighted_priority_sample(docs, "n_chars", n=_WSAMPLE_N)


register(
    "corpus_weighted_sample",
    corpus_weighted_sample,
    f"""
WITH base AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         {sql_hex64("CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
),
pri AS (SELECT doc_id, n_chars, h // n_chars AS priority FROM base),
ranked AS (
  SELECT doc_id, n_chars, priority,
         CAST(row_number() OVER (ORDER BY priority ASC, doc_id ASC) AS BIGINT) AS rank
  FROM pri
)
SELECT doc_id, n_chars, priority, rank FROM ranked WHERE rank <= {_WSAMPLE_N}
""",
)


# ---------------------------------------------------------------------------
# corpus_boilerplate_removal — CCNet-style per-source boilerplate-line
# stripping (operators/corpus.py remove_boilerplate_lines). A header line
# is planted on every even doc_id (≈50% of each source, over the 30%
# threshold), so the removal is non-vacuous; line order is restored
# deterministically on both engines.
# ---------------------------------------------------------------------------
_BOILER_LINE = "cookie notice accept terms"


def corpus_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.corpus import remove_boilerplate_lines

    docs = _docs(spark, sf_dir, fan=False).select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit(_BOILER_LINE + "\n"), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return remove_boilerplate_lines(docs)


register(
    "corpus_boilerplate_removal",
    corpus_boilerplate_removal,
    f"""
WITH planted AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 2 = 0
              THEN '{_BOILER_LINE}' || chr(10) || text ELSE text END AS text
  FROM documents
),
split_docs AS (
  SELECT doc_id, source AS grp, string_split(text, chr(10)) AS l FROM planted
),
lines AS (
  SELECT doc_id, grp, u['pos'] AS pos, u['line'] AS line
  FROM (
    SELECT doc_id, grp,
           unnest(list_transform(generate_series(1, len(l)),
                                 i -> {{'pos': i - 1, 'line': l[i]}})) AS u
    FROM split_docs
  )
),
docs_per_group AS (
  SELECT grp, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM lines GROUP BY grp
),
boiler AS (
  SELECT lg.grp, lg.line
  FROM (
    SELECT grp, line, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_with_line
    FROM lines GROUP BY grp, line
  ) lg JOIN docs_per_group d ON lg.grp = d.grp
  WHERE lg.n_docs_with_line >= 2 AND lg.n_docs_with_line / d.n_docs > 0.3
),
flagged AS (
  SELECT l.doc_id, l.grp, l.pos, l.line, (b.line IS NOT NULL) AS is_b
  FROM lines l LEFT JOIN boiler b ON l.grp = b.grp AND l.line = b.line
)
SELECT doc_id, grp AS source,
       COALESCE(string_agg(CASE WHEN NOT is_b THEN line END, chr(10) ORDER BY pos), '') AS text_clean,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS n_lines_removed
FROM flagged
GROUP BY doc_id, grp
""",
)


# ---------------------------------------------------------------------------
# search_hybrid_rrf — hybrid retrieval: BM25-lite term ranking fused with
# embedding-cosine ranking by Reciprocal Rank Fusion (Cormack, Clarke &
# Buettcher 2009: score = Σ 1/(60 + rank)). Ranks come from the two
# existing deterministic retrievers; the fusion is two single IEEE
# divisions added in a fixed order — bit-stable, no rounding needed.
# The doc/vec id spaces align on doc_id = vec_id for the shared range.
# ---------------------------------------------------------------------------
_RRF_K = 60
_RRF_DEPTH = 100
_RRF_TOPN = 20
_RRF_QVEC = 0  # query = the embedding of vec_id 0


def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.similarity import cosine_topk

    docs = _docs(spark, sf_dir)
    n_docs = docs  # id range of documents bounds the fusible vector side
    text_ranks = X.bm25_lite_topk(docs, _BM25_TERMS, k=_RRF_DEPTH).select(
        "doc_id", F.col("rank").alias("r_text")
    )
    emb = fan_out(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    emb_docs = emb.join(docs.select("doc_id"), emb["vec_id"] == docs["doc_id"]).select(
        "vec_id", "embedding"
    )
    qv = emb.filter(F.col("vec_id") == _RRF_QVEC).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    vec_ranks = cosine_topk(emb_docs, qv, k=_RRF_DEPTH).select(
        F.col("vec_id").alias("doc_id"), F.col("rank").alias("r_vec")
    )
    fused = text_ranks.join(vec_ranks, "doc_id", "full_outer").select(
        "doc_id",
        F.col("r_text").cast("long").alias("r_text"),
        F.col("r_vec").cast("long").alias("r_vec"),
        (
            F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_text")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_vec")), F.lit(0.0))
        ).alias("rrf_score"),
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc())
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _RRF_TOPN)
        .select("doc_id", "rank", "r_text", "r_vec", "rrf_score")
    )


def _rrf_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    cos = (
        "list_dot_product({a}, {b})"
        " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )
    return f"""
WITH toks AS (SELECT doc_id, {sql_tokens('text')} AS t FROM documents),
sized AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS dl FROM toks),
totals AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_len
  FROM sized
),
occ AS (SELECT doc_id, dl, unnest(t) AS term FROM sized),
matched AS (SELECT * FROM occ WHERE term IN ({terms})),
tf AS (
  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
  FROM matched GROUP BY doc_id, dl, term
),
dfreq AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM matched GROUP BY term
),
bm AS (
  SELECT tf.doc_id,
         sum((1000000 * (2*t.n_docs - 2*d.df + 1) * 22 * tf.tf * t.total_len) //
             ((2*d.df + 1) * (10*tf.tf*t.total_len + 3*t.total_len + 9*tf.dl*t.n_docs)))
           AS score_ppm
  FROM tf JOIN dfreq d USING (term) CROSS JOIN totals t
  GROUP BY tf.doc_id
),
text_ranks AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score_ppm DESC, doc_id ASC) AS BIGINT) AS r_text
  FROM bm QUALIFY r_text <= {_RRF_DEPTH}
),
base AS (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
),
qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = {_RRF_QVEC}),
vscored AS (
  SELECT b.vec_id AS doc_id, round({cos.format(a='qv.q', b='b.v')}, 6) AS cosine
  FROM base b CROSS JOIN qv WHERE b.vec_id <> {_RRF_QVEC}
),
vec_ranks AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS BIGINT) AS r_vec
  FROM vscored QUALIFY r_vec <= {_RRF_DEPTH}
),
fused AS (
  SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id, t.r_text, v.r_vec,
         COALESCE(1.0 / ({_RRF_K} + t.r_text), 0.0)
         + COALESCE(1.0 / ({_RRF_K} + v.r_vec), 0.0) AS rrf_score
  FROM text_ranks t FULL OUTER JOIN vec_ranks v ON t.doc_id = v.doc_id
)
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS BIGINT) AS rank,
       r_text, r_vec, rrf_score
FROM fused
QUALIFY rank <= {_RRF_TOPN}
"""


register("search_hybrid_rrf", search_hybrid_rrf, _rrf_oracle())


# ---------------------------------------------------------------------------
# graph_triangle_stats — triangle census over the same dedup pair graph
# connected-components runs on (operators/graph.py triangle_stats):
# nodes/edges/wedges/triangles + closure ratio. The registry entry keeps
# the id-ascending orientation (the spelling SQL replays directly);
# production uses the degree orientation for the O(m^1.5) bound
# (parity-tested against this one).
# ---------------------------------------------------------------------------
def graph_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.graph import triangle_stats

    c = corpus(spark, sf_dir, fan=False)
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    keyed = c.select(
        F.col("doc_id").alias("id"),
        F.md5(norm).alias("k_exact"),
        F.md5(F.concat_ws(" ", F.slice(X.tokens(F.col("text")), 1, 6))).alias("k_prefix"),
    )

    def _pairs(key: str) -> DataFrame:
        a, b = keyed.alias("a"), keyed.alias("b")
        return a.join(
            b, (F.col(f"a.{key}") == F.col(f"b.{key}")) & (F.col("a.id") < F.col("b.id"))
        ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))

    edges = _pairs("k_exact").unionByName(_pairs("k_prefix"))
    return triangle_stats(edges, orient_by_degree=False)


register(
    "graph_triangle_stats",
    graph_triangle_stats,
    f"""
WITH corpus AS ({CORPUS_SQL}),
{_COMPONENTS_EDGES_SQL},
e AS (SELECT DISTINCT id_a AS a, id_b AS b FROM pairs),
w AS (
  SELECT x.a AS wa, x.b AS wb, y.b AS wc
  FROM e x JOIN e y ON x.b = y.a
),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM w WHERE EXISTS (
    SELECT 1 FROM e z
    WHERE (z.a = w.wa AND z.b = w.wc) OR (z.a = w.wc AND z.b = w.wa)
  )
),
nodes AS (SELECT CAST(count(DISTINCT v) AS BIGINT) AS n_nodes
          FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)),
ecnt AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e),
wcnt AS (SELECT CAST(count(*) AS BIGINT) AS n_wedges FROM w)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       n_triangles / n_wedges AS closure_ratio
FROM nodes CROSS JOIN ecnt CROSS JOIN wcnt CROSS JOIN tri
""",
)


# ---------------------------------------------------------------------------
# corpus_dsir_weights — DSIR-style importance weights for data selection
# (Xie et al. 2023, "Data Selection for Language Models via Importance
# Resampling"), rational-arithmetic variant: hashed word-bigram features
# (md5 → 512 buckets), target distribution = long documents (the stand-in
# curation signal), raw = the whole corpus; per-bucket smoothed
# probability ratio p_target/p_raw carried as an exact ppm integer
# (add-1 smoothing; one div), per-doc weight = mean bucket ratio over the
# doc's bigrams. The published method scores sum-of-log-ratios; the
# rational mean keeps the engine's no-transcendentals determinism
# contract while preserving the ranking signal.
#
# Plan: tokenize → bigram transform (both zero-shuffle projections) →
# explode → ONE bucket hash agg computing raw and target counts together
# → 512-row ratio table broadcast back onto the gram stream → per-doc
# hash agg. Shuffles carry (bucket) then (doc_id) keys only. Integer
# magnitude: (ct+1)·(R+512)·1e6 needs R·ct ≲ 9e12 — fine to ~1e6-doc
# corpora per job; move the numerator to DECIMAL(38,0) beyond (the
# bm25_lite_topk precedent).
# ---------------------------------------------------------------------------
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.when(F.length("text") >= 800, 1).otherwise(0).alias("is_tgt"),
        X.tokens(F.col("text")).alias("t"),
    ).filter(F.size("t") >= 2)
    grams = toks.select(
        "doc_id",
        "is_tgt",
        F.explode(
            F.expr("transform(sequence(1, size(t)-1), i -> concat(t[i-1], ' ', t[i]))")
        ).alias("gram"),
    )
    from cyrela_etl_spark.functions.hashing import hex_prefix_long

    b = grams.select(
        "doc_id",
        "is_tgt",
        (hex_prefix_long(F.col("gram")) % 512).alias("bucket"),
    )
    # r14 tail diet: stats (512 rows) feeds the 1-row total AND the ratio
    # table — persist or the corpus-scale bigram-bucket agg runs twice.
    # release: caller
    stats = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cr"),
        F.sum("is_tgt").cast("long").alias("ct"),
    ).persist()
    tot = stats.agg(
        F.sum("cr").cast("long").alias("R"), F.sum("ct").cast("long").alias("T")
    )
    ratio = stats.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.expr("((ct + 1) * (R + 512) * 1000000) div ((cr + 1) * (T + 512))").alias(
            "ratio_ppm"
        ),
    )
    return (
        b.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.expr("CAST(sum(ratio_ppm) div count(1) AS BIGINT)").alias("score_ppm"),
        )
    )


def _dsir_oracle() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN length(text) >= 800 THEN 1 ELSE 0 END AS is_tgt,
         {sql_tokens("text")} AS t
  FROM documents
),
grams AS (
  SELECT doc_id, is_tgt,
         unnest(list_transform(generate_series(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i + 1])) AS gram
  FROM toks WHERE len(t) >= 2
),
b AS (
  SELECT doc_id, is_tgt, {sql_hex64("gram")} % 512 AS bucket FROM grams
),
stats AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS cr, CAST(sum(is_tgt) AS BIGINT) AS ct
  FROM b GROUP BY 1
),
tot AS (
  SELECT CAST(sum(cr) AS BIGINT) AS R, CAST(sum(ct) AS BIGINT) AS T FROM stats
),
ratio AS (
  SELECT bucket,
         ((ct + 1) * (R + 512) * 1000000) // ((cr + 1) * (T + 512)) AS ratio_ppm
  FROM stats, tot
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(ratio_ppm) // count(*) AS BIGINT) AS score_ppm
FROM b JOIN ratio USING (bucket)
GROUP BY doc_id
"""


register("corpus_dsir_weights", corpus_dsir_weights, _dsir_oracle())


# ---------------------------------------------------------------------------
# text_positional_index — positional inverted index over a query
# vocabulary (the _BM25_TERMS list): per (term, doc), the ordered list of
# token positions, serialized to a comma string (arrays stringify
# differently across engines — the established compare convention). The
# postings structure phrase/proximity search needs; filter sits under the
# explode's shuffle so only matching postings move.
# Plan: tokenize → posexplode (projection) → filter to the vocabulary →
# one (term, doc_id) hash agg with sort_array for deterministic position
# order. Shuffle carries matching postings only, never the corpus.
# ---------------------------------------------------------------------------
def text_positional_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir, fan=False).select("doc_id", "text")
    term_arr = F.array(*[F.lit(t) for t in _BM25_TERMS])
    toks = docs.select("doc_id", X.tokens(F.col("text")).alias("t"))
    occ = toks.select(
        "doc_id", F.posexplode("t").alias("pos", "term")
    ).filter(F.array_contains(term_arr, F.col("term")))
    return occ.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("tf"),
        F.concat_ws(",", F.sort_array(F.collect_list(F.col("pos").cast("long")))).alias(
            "positions"
        ),
    )


def _positional_index_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
WITH toks AS (
  SELECT doc_id, {sql_tokens("text")} AS t FROM documents
),
occ AS (
  SELECT doc_id, t[i] AS term, CAST(i - 1 AS BIGINT) AS pos
  FROM toks, UNNEST(generate_series(1, len(t))) AS s(i)
  WHERE t[i] IN ({terms})
)
SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf,
       array_to_string(list_sort(list(pos)), ',') AS positions
FROM occ GROUP BY term, doc_id
"""


register("text_positional_index", text_positional_index, _positional_index_oracle())


# ---------------------------------------------------------------------------
# text_phrase_search — exact phrase retrieval ("data stream") over the
# positional postings: occurrences of both words (the vocabulary filter
# again sits UNDER the shuffle), adjacency = an equi-join on
# (doc_id, pos+1) — the classic positional-index intersection, never a
# corpus rescan per phrase. The ORACLE deliberately uses a different
# algorithm (a full array scan with list_filter adjacency) — two
# independent formulations must produce the identical hit relation.
# ---------------------------------------------------------------------------
_PHRASE = ("data", "stream")


def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    w1, w2 = _PHRASE
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    toks = docs.select("doc_id", X.tokens(F.col("text")).alias("t"))
    occ = toks.select("doc_id", F.posexplode("t").alias("pos", "term")).filter(
        F.col("term").isin(w1, w2)
    )
    a = occ.filter(F.col("term") == w1).select("doc_id", F.col("pos").alias("p1"))
    b = occ.filter(F.col("term") == w2).select(
        "doc_id", (F.col("pos") - 1).alias("p1")
    )
    hits = a.join(b, ["doc_id", "p1"])
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        F.min("p1").cast("long").alias("first_pos"),
    )


def _phrase_oracle() -> str:
    w1, w2 = _PHRASE
    return f"""
WITH toks AS (
  SELECT doc_id, {sql_tokens("text")} AS t FROM documents
),
h AS (
  SELECT doc_id,
         list_filter(generate_series(1, len(t) - 1),
                     i -> t[i] = '{w1}' AND t[i + 1] = '{w2}') AS hits
  FROM toks
)
SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_hits,
       CAST(hits[1] - 1 AS BIGINT) AS first_pos
FROM h WHERE len(hits) > 0
"""


register("text_phrase_search", text_phrase_search, _phrase_oracle())


# ---------------------------------------------------------------------------
# dedup_keep_best — the SURVIVOR-SELECTION step that turns dup clusters
# into a deduplicated corpus (what a curation pipeline actually ships):
# connected components over the merged pair sources (same construction as
# dedup_components), every document labeled with its cluster (singletons
# label themselves), and ONE representative kept per cluster — the
# longest text, ties to the lowest id (the "most complete version" keep
# policy). Output is one row per surviving document's cluster: label,
# member count, kept id + length.
# Plan: the CC rounds (O(log d) label shuffles) + one left join to
# attach labels + one (cluster) hash agg via an ordered struct-max — no
# window over the corpus. The oracle recomputes components with a
# recursive CTE and picks survivors with a window: different algorithms,
# same relation.
# ---------------------------------------------------------------------------
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = corpus(spark, sf_dir, fan=False)
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    keyed = c.select(
        F.col("doc_id").alias("id"),
        F.md5(norm).alias("k_exact"),
        F.md5(F.concat_ws(" ", F.slice(X.tokens(F.col("text")), 1, 6))).alias("k_prefix"),
    )

    def _pairs(key: str) -> DataFrame:
        a, b = keyed.alias("a"), keyed.alias("b")
        return a.join(
            b, (F.col(f"a.{key}") == F.col(f"b.{key}")) & (F.col("a.id") < F.col("b.id"))
        ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))

    edges = _pairs("k_exact").unionByName(_pairs("k_prefix"))
    comp = D.connected_components(edges)
    labeled = (
        c.select(F.col("doc_id").alias("id"), F.length("text").cast("long").alias("len"))
        .join(comp, "id", "left")
        .select(
            "id", "len", F.coalesce("component", F.col("id")).alias("component")
        )
    )
    agg = labeled.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.max(F.struct(F.col("len"), (-F.col("id")).alias("neg"))).alias("__best"),
    )
    return agg.select(
        "component",
        "n_members",
        (-F.col("__best.neg")).cast("long").alias("kept_id"),
        F.col("__best.len").cast("long").alias("kept_len"),
    )


register(
    "dedup_keep_best",
    dedup_keep_best,
    f"""
WITH RECURSIVE corpus AS ({CORPUS_SQL}),
{_COMPONENTS_EDGES_SQL.strip()},
e AS (SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(id, r) AS (
  SELECT s, d FROM e
  UNION
  SELECT reach.id, e.d FROM reach JOIN e ON reach.r = e.s
),
comp AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id),
labeled AS (
  SELECT c.doc_id AS id, CAST(length(c.text) AS BIGINT) AS len,
         COALESCE(k.component, c.doc_id) AS component
  FROM corpus c LEFT JOIN comp k ON c.doc_id = k.id
),
ranked AS (
  SELECT component, id, len,
         row_number() OVER (PARTITION BY component ORDER BY len DESC, id ASC) AS rn,
         CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS n_members
  FROM labeled
)
SELECT component, n_members, id AS kept_id, len AS kept_len
FROM ranked WHERE rn = 1
""",
)


# ---------------------------------------------------------------------------
# text_pmi_collocations — pointwise mutual information over adjacent word
# pairs (Church & Hanks 1990's association ratio): PMI(a,b) =
# ln( P(ab) / (P(a)·P(b)) ) with P from corpus-wide occurrence counts,
# reported for pairs seen ≥ 5 times. The collocation/phrase-mining
# primitive (e.g. Mikolov et al. 2013's phrase pass uses the same counts).
#
# Determinism: all counts are exact ints; the ratio is built from three
# exact-int IEEE divisions multiplied in a fixed left-assoc order, and the
# single ln() is rounded to 6 digits on both engines.
#
# Plan: one explode feeds the pair counts (shuffle keyed by pair) and one
# feeds the unigram counts (keyed by token); the pair→unigram joins carry
# VOCABULARY-sized tables (never corpus²) and the totals row is a 1-row
# broadcast. The ≥5 frequency filter sits under both join inputs.
# ---------------------------------------------------------------------------
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("text")
    occ = docs.select(F.explode(X.word_grams("text", 2)).alias("bg"))
    uni = docs.select(F.explode(X.tokens("text")).alias("tok"))
    # r14 tail diet: c2 feeds the totals AND the pair table; c1 feeds the
    # totals AND both unigram joins — persist (vocabulary-bounded) or each
    # corpus-scale count shuffle re-plans per consumer. release: caller
    c2 = occ.groupBy("bg").agg(F.count(F.lit(1)).cast("long").alias("n_pair")).persist()
    c1 = uni.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c")).persist()
    totals = (
        c1.agg(F.sum("c").cast("long").alias("n1"))
        .crossJoin(c2.agg(F.sum("n_pair").cast("long").alias("n2")))
    )
    pairs = c2.filter(F.col("n_pair") >= 5).select(
        F.split("bg", " ").getItem(0).alias("w1"),
        F.split("bg", " ").getItem(1).alias("w2"),
        "n_pair",
    )
    j = (
        pairs.join(c1.select(F.col("tok").alias("w1"), F.col("c").alias("c_a")), "w1")
        .join(c1.select(F.col("tok").alias("w2"), F.col("c").alias("c_b")), "w2")
        .crossJoin(F.broadcast(totals))
    )
    ratio = (
        (F.col("n_pair") / F.col("c_a"))
        * (F.col("n1") / F.col("n2"))
        * (F.col("n1") / F.col("c_b"))
    )
    return j.select("w1", "w2", "n_pair", F.round(F.log(ratio), 6).alias("pmi"))


register(
    "text_pmi_collocations",
    text_pmi_collocations,
    f"""
WITH toks AS (SELECT {sql_tokens('text')} AS t FROM documents),
occ AS (
  SELECT unnest(list_transform(
           generate_series(1, greatest(len(t) - 1, 0)),
           i -> array_to_string(t[i:i+1], ' '))) AS bg
  FROM toks
),
uni AS (SELECT unnest(t) AS tok FROM toks),
c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS n_pair FROM occ GROUP BY bg),
c1 AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY tok),
totals AS (
  SELECT (SELECT CAST(sum(c) AS BIGINT) FROM c1) AS n1,
         (SELECT CAST(sum(n_pair) AS BIGINT) FROM c2) AS n2
)
SELECT string_split(p.bg, ' ')[1] AS w1,
       string_split(p.bg, ' ')[2] AS w2,
       p.n_pair,
       round(ln((p.n_pair / a.c) * (t.n1 / t.n2) * (t.n1 / b.c)), 6) AS pmi
FROM c2 p
JOIN c1 a ON string_split(p.bg, ' ')[1] = a.tok
JOIN c1 b ON string_split(p.bg, ' ')[2] = b.tok
CROSS JOIN totals t
WHERE p.n_pair >= 5
""",
)


# ---------------------------------------------------------------------------
# dedup_dup_ngram_fraction — per-document fraction of word-8-gram
# occurrences that appear in MORE THAN ONE document of the corpus (the
# RefinedWeb/MassiveText "duplicated n-gram" signal, cross-document
# variant; within-document repetition is text_repetition's job). Runs over
# the planted-duplicate corpus so exact/near copies surface with
# fraction ≈ 1.
#
# Plan: explode → (doc, gram) counts → gram document-frequency → join back
# → per-doc agg. Three shuffles, each carrying gram-level rows (corpus
# token volume, never corpus²); no windows, no driver collect.
# ---------------------------------------------------------------------------
def dedup_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    occ = corpus(spark, sf_dir).select(
        "doc_id", F.explode(X.word_grams("text", 8)).alias("g")
    )
    # `per` feeds BOTH the document-frequency aggregate and the final
    # join; without a persist the full corpus-shingle explode runs twice
    # (no ReusedExchange — the two consumers shuffle on different keys).
    # Cold-run measured 7.7 s → 4.4 s at sf0.1; at 100 TB the explode is
    # the dominant map work (the LSH-family persist discipline).
    per = occ.groupBy("doc_id", "g").agg(
        F.count(F.lit(1)).cast("long").alias("n_occ")
    ).persist()  # release: caller (cache contract, queries/__init__)
    df_gram = per.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return (
        per.join(df_gram, "g")
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("long").alias("n_grams"),
            F.coalesce(
                F.sum(F.when(F.col("n_docs") > 1, F.col("n_occ"))), F.lit(0)
            ).cast("long").alias("n_dup_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_dup_grams",
            F.round(F.col("n_dup_grams") / F.col("n_grams"), 6).alias("dup_fraction"),
        )
    )


register(
    "dedup_dup_ngram_fraction",
    dedup_dup_ngram_fraction,
    f"""
WITH corpus AS ({CORPUS_SQL}),
toks AS (SELECT doc_id, {sql_tokens('text')} AS t FROM corpus),
occ AS (
  SELECT doc_id, unnest(list_transform(
           generate_series(1, greatest(len(t) - 7, 0)),
           i -> array_to_string(t[i:i+7], ' '))) AS g
  FROM toks
),
per AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS n_occ FROM occ GROUP BY doc_id, g),
dfg AS (SELECT g, CAST(count(*) AS BIGINT) AS n_docs FROM per GROUP BY g)
SELECT p.doc_id,
       CAST(sum(p.n_occ) AS BIGINT) AS n_grams,
       CAST(coalesce(sum(CASE WHEN d.n_docs > 1 THEN p.n_occ END), 0) AS BIGINT) AS n_dup_grams,
       round(coalesce(sum(CASE WHEN d.n_docs > 1 THEN p.n_occ END), 0)
             / sum(p.n_occ), 6) AS dup_fraction
FROM per p JOIN dfg d ON p.g = d.g
GROUP BY p.doc_id
""",
)


# ---------------------------------------------------------------------------
# corpus_domain_mix — deterministic mixture resampling: given per-source
# target weights (here w_s = (source index mod 3) + 1, normalized over the
# sources present), downsample each source so the kept corpus hits the
# target proportions exactly — the largest total T with w̄_s·T ≤ n_s for
# every source, then k_s = ⌊w_s·T/W⌋ docs per source, selected as the k_s
# smallest content-free id hashes (stable under corpus growth, like
# dataset_split). The data-mixing step every multi-source pretraining run
# needs (cf. The Pile / DoReMi static mixture weights).
#
# Determinism: quota arithmetic is exact integer (div, never float);
# selection ranks by (md5-hash(doc_id), doc_id).
#
# Plan: source counts and the T/W scalars are tiny aggregates joined back
# broadcast; the only data-sized operation is ONE per-source window rank
# (a shuffle keyed by source — with heavily skewed sources the rank can
# be salted two-phase like scale_skew_profile, noted in the docstring).
# Output is the per-source summary, sized to |sources|.
# ---------------------------------------------------------------------------
def corpus_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from cyrela_etl_spark.functions.hashing import stable_hash64

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    # a source with no trailing digits gets index 0 → weight 1 on BOTH
    # engines (unguarded, Spark's '' cast yields NULL — silently dropping
    # the source from the quota min — while DuckDB's CAST('') errors)
    idx = F.coalesce(
        F.nullif(F.regexp_extract("source", r"([0-9]+)$", 1), F.lit("")).cast("long"),
        F.lit(0),
    )
    w_s = (idx % 3 + 1).alias("w")
    # r14 tail diet: counts feeds the weight total AND caps — persist
    # (|sources| rows) or the corpus-scale source agg runs twice.
    # release: caller
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"), F.first(w_s).alias("w")
    ).persist()
    tw = counts.agg(F.sum("w").cast("long").alias("bigw"))
    caps = counts.crossJoin(F.broadcast(tw)).select(
        "source", "n_total", "w", "bigw", F.expr("n_total * bigw div w").alias("cap")
    )
    t_row = caps.agg(F.min("cap").cast("long").alias("t"))
    # quota is O(|sources|) rows but its subtree rescans documents; persist
    # it once so the three consumers (selection join, kept join, output)
    # don't each recompute the counts→caps→T chain (the triangle-census
    # lesson from VERDICT r6: materialize tiny fan-out subtrees).
    quota = (
        caps.crossJoin(F.broadcast(t_row))
        .select("source", "n_total", F.expr("w * t div bigw").cast("long").alias("k"))
        .persist()  # release: caller (cache contract, queries/__init__)
    )
    ranked = docs.select(
        "doc_id",
        "source",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                stable_hash64(F.col("doc_id").cast("string")), "doc_id"
            )
        )
        .alias("rn"),
    )
    kept = (
        ranked.join(F.broadcast(quota.select("source", "k")), "source")
        .filter(F.col("rn") <= F.col("k"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_kept"))
        # r14 tail diet: kept feeds the 1-row total AND the output join —
        # persist (|sources| rows) or the corpus-scale window rank runs
        # twice. release: caller
        .persist()
    )
    total_kept = kept.agg(F.sum("n_kept").cast("long").alias("total_kept"))
    return (
        quota.join(kept, "source", "left")
        .crossJoin(F.broadcast(total_kept))
        .select(
            "source",
            "n_total",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.expr("1000000 * coalesce(n_kept, 0) div total_kept")
            .cast("long")
            .alias("share_ppm"),
        )
    )


register(
    "corpus_domain_mix",
    corpus_domain_mix,
    """
WITH counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_total,
         CAST(COALESCE(NULLIF(regexp_extract(source, '([0-9]+)$', 1), ''), '0') AS BIGINT) % 3 + 1 AS w
  FROM documents GROUP BY source
),
tw AS (SELECT CAST(sum(w) AS BIGINT) AS bigw FROM counts),
caps AS (
  SELECT c.source, c.n_total, c.w, t.bigw, c.n_total * t.bigw // c.w AS cap
  FROM counts c CROSS JOIN tw t
),
tr AS (SELECT CAST(min(cap) AS BIGINT) AS t FROM caps),
quota AS (
  SELECT c.source, c.n_total, CAST(c.w * tr.t // c.bigw AS BIGINT) AS k
  FROM caps c CROSS JOIN tr
),
ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY CAST(CONCAT('0x', SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
                    doc_id) AS rn
  FROM documents
),
kept AS (
  SELECT r.source, CAST(count(*) AS BIGINT) AS n_kept
  FROM ranked r JOIN quota q ON r.source = q.source
  WHERE r.rn <= q.k
  GROUP BY r.source
),
tk AS (SELECT CAST(sum(n_kept) AS BIGINT) AS total_kept FROM kept)
SELECT q.source, q.n_total,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(1000000 * coalesce(k.n_kept, 0) // tk.total_kept AS BIGINT) AS share_ppm
FROM quota q LEFT JOIN kept k ON q.source = k.source
CROSS JOIN tk
""",
)


# ---------------------------------------------------------------------------
# quality_perplexity_buckets — CCNet-style head/middle/tail split (Wenzek
# et al. 2020): per language, rank documents by the corpus-trained bigram
# LM score (text_lm_score's exact-integer ppm) and cut into 3 ntile
# buckets; report each bucket's size and score envelope. Pretraining
# pipelines keep "head", resample "middle", drop "tail" — this is the
# bucketing that drives that decision.
#
# Determinism: ordering is (avg_prob_ppm DESC, doc_id) — the score is one
# IEEE division of exact ints, ties broken by id; the bucket mean rounds
# scores to 6 digits and sums in DECIMAL so aggregation order can't leak.
#
# Plan: the LM subplan is text_lm_score's (audited); on top sit one
# doc_id equi-join for lang, ONE per-lang window pass for ntile, and a
# |langs|×3-row aggregate. ntile is cast to long (Spark int32 vs DuckDB
# int64).
# ---------------------------------------------------------------------------
def quality_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    scores = X.bigram_lm_scores(docs)
    j = scores.join(docs.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy(F.col("avg_prob_ppm").desc(), F.col("doc_id"))
    b = j.withColumn("bucket", F.ntile(3).over(w).cast("long"))
    return b.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(
            F.sum(F.round(F.col("avg_prob_ppm"), 6).cast("decimal(20,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_ppm"),
        F.min("avg_prob_ppm").alias("min_ppm"),
        F.max("avg_prob_ppm").alias("max_ppm"),
    )


register(
    "quality_perplexity_buckets",
    quality_perplexity_buckets,
    f"""
WITH toks AS (SELECT doc_id, {sql_tokens('text')} AS t FROM documents),
occ AS (
  SELECT doc_id, unnest(list_transform(
           generate_series(1, greatest(len(t) - 1, 0)),
           i -> array_to_string(t[i:i+1], ' '))) AS bg
  FROM toks
),
c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM occ GROUP BY bg),
c1t AS (
  SELECT string_split(bg, ' ')[1] AS w1, CAST(count(*) AS BIGINT) AS c1
  FROM occ GROUP BY 1
),
v AS (
  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab
  FROM (SELECT unnest(t) AS tok FROM toks)
),
model AS (
  SELECT c2.bg, c2.c2, c1t.c1
  FROM c2 JOIN c1t ON string_split(c2.bg, ' ')[1] = c1t.w1
),
ppm AS (
  SELECT o.doc_id, (1000000 * (m.c2 + 1)) // (m.c1 + v.vocab) AS ppm
  FROM occ o JOIN model m USING (bg) CROSS JOIN v
),
scored AS (
  SELECT doc_id,
         CAST(sum(ppm) AS BIGINT) / CAST(count(*) AS BIGINT) AS avg_prob_ppm
  FROM ppm GROUP BY doc_id
),
bucketed AS (
  SELECT d.lang, s.avg_prob_ppm,
         CAST(ntile(3) OVER (PARTITION BY d.lang
                             ORDER BY s.avg_prob_ppm DESC, s.doc_id) AS BIGINT) AS bucket
  FROM scored s JOIN documents d ON s.doc_id = d.doc_id
)
SELECT lang, bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(CAST(sum(CAST(round(avg_prob_ppm, 6) AS DECIMAL(20,6))) AS DOUBLE)
             / count(*), 6) AS mean_ppm,
       min(avg_prob_ppm) AS min_ppm,
       max(avg_prob_ppm) AS max_ppm
FROM bucketed
GROUP BY lang, bucket
""",
)


# ---------------------------------------------------------------------------
# text_tfidf_doc_pairs — sparse-vector document similarity: cosine over
# TF-IDF term vectors via a document-frequency-pruned postings self-join
# (the prefix-filter family's blocking discipline): terms with df > N/10
# are dropped as stopword-like, df < 2 terms can't produce pairs at all,
# and an ABSOLUTE df cap (500) is the scale knob — the relative prune
# alone leaves Σdf² growing quadratically when the corpus outgrows its
# vocabulary, the absolute cap pins per-term fan-out at cap² (the same
# hot-bucket discipline as the LSH dedup family). Complements the
# engine's other similarity axes: embeddings (SemDeDup), shingle sets
# (Jaccard/MinHash), bit sketches (SimHash) — this one is the classic
# sparse BoW cosine.
#
# Determinism: idf is RATIONAL (the bm25_lite precedent — no ln): idf_k =
# (100·N) div df, weight w = tf·idf_k fits int64 (w ≤ tf·50·N), but w²
# does NOT in general (a df=2 term at N=10⁵, tf=10³ gives w² = 2.5·10¹⁹
# > int64), so dots and squared norms are summed in DECIMAL(38,0) —
# exact, order-free, overflow-proof to 10³⁸ — and cast to double only
# for the sqrt/division (deterministic rounding of the same exact
# value). The only float ops are two sqrts and one division, rounded
# to 6.
#
# Runs over the planted-duplicate corpus (exact copies must surface at
# cosine 1.0); reports pairs with cosine ≥ 0.3, doc_a < doc_b.
# ---------------------------------------------------------------------------
_TFIDF_SCALE, _TFIDF_DF_DIV, _TFIDF_MIN_COS = 100, 10, 0.3
_TFIDF_DF_CAP = 500  # absolute hot-term cap: per-term join fan-out <= cap**2


def text_tfidf_doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = corpus(spark, sf_dir, fan=False)
    tf = (
        c.select("doc_id", F.explode(X.tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n_row = c.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    kept = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n_row))
        .filter(
            (F.col("df") >= 2)
            & (F.col("df") * _TFIDF_DF_DIV <= F.col("n_docs"))
            & (F.col("df") <= _TFIDF_DF_CAP)
        )
        .select(
            "doc_id",
            "tok",
            F.expr(f"tf * (({_TFIDF_SCALE} * n_docs) div df)").cast("long").alias("w"),
        )
        # three consumers (norms, both join sides) — persist so the
        # corpus scan + tf/df aggregates run once, not per consumer
        .persist()  # release: caller (cache contract, queries/__init__)
    )
    wd = F.col("w").cast("decimal(19,0)")
    norms = kept.groupBy("doc_id").agg(
        F.sum(wd * wd).cast("decimal(38,0)").alias("s2")
    )
    a, b = kept.alias("a"), kept.alias("b")
    dots = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.sum(F.col("a.w").cast("decimal(19,0)") * F.col("b.w").cast("decimal(19,0)"))
            .cast("decimal(38,0)")
            .alias("__dot")
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("s2").alias("s2a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("s2").alias("s2b"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("__dot").cast("double").alias("dot"),
            F.round(
                F.col("__dot").cast("double")
                / (F.sqrt(F.col("s2a").cast("double")) * F.sqrt(F.col("s2b").cast("double"))),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= _TFIDF_MIN_COS)
    )


register(
    "text_tfidf_doc_pairs",
    text_tfidf_doc_pairs,
    f"""
WITH corpus AS ({CORPUS_SQL}),
tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({sql_tokens('text')}) AS tok FROM corpus)
  GROUP BY doc_id, tok
),
dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM corpus),
kept AS (
  SELECT t.doc_id, t.tok,
         CAST(t.tf * (({_TFIDF_SCALE} * n.n_docs) // d.df) AS BIGINT) AS w
  FROM tf t JOIN dfreq d ON t.tok = d.tok CROSS JOIN n
  WHERE d.df >= 2 AND d.df * {_TFIDF_DF_DIV} <= n.n_docs AND d.df <= {_TFIDF_DF_CAP}
),
norms AS (
  SELECT doc_id,
         CAST(sum(CAST(w AS DECIMAL(19,0)) * CAST(w AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s2
  FROM kept GROUP BY doc_id
),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(sum(CAST(a.w AS DECIMAL(19,0)) * CAST(b.w AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS dot
  FROM kept a JOIN kept b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d.doc_a, d.doc_b, CAST(d.dot AS DOUBLE) AS dot,
       round(CAST(d.dot AS DOUBLE)
             / (sqrt(CAST(na.s2 AS DOUBLE)) * sqrt(CAST(nb.s2 AS DOUBLE))), 6) AS cosine
FROM dots d
JOIN norms na ON d.doc_a = na.doc_id
JOIN norms nb ON d.doc_b = nb.doc_id
WHERE round(CAST(d.dot AS DOUBLE)
            / (sqrt(CAST(na.s2 AS DOUBLE)) * sqrt(CAST(nb.s2 AS DOUBLE))), 6) >= {_TFIDF_MIN_COS}
""",
)


# ---------------------------------------------------------------------------
# graph_pagerank — integer-exact PageRank over the SAME dedup pair graph
# connected-components and the triangle census run on (operators/graph.py
# integer_pagerank): 2 power iterations unrolled by the oracle in plain
# SQL. Ranks are parts-per-billion int64s (the rational-variant
# discipline), so both engines agree bit-for-bit with no float sums.
# Centrality over the duplicate graph ranks the most-connected documents
# — the natural "canonical representative" signal complementing
# dedup_keep_best's longest-text policy.
# ---------------------------------------------------------------------------
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.graph import integer_pagerank

    c = corpus(spark, sf_dir)
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    keyed = c.select(
        F.col("doc_id").alias("id"),
        F.md5(norm).alias("k_exact"),
        F.md5(F.concat_ws(" ", F.slice(X.tokens(F.col("text")), 1, 6))).alias("k_prefix"),
    )

    def _pairs(key: str) -> DataFrame:
        a, b = keyed.alias("a"), keyed.alias("b")
        return a.join(
            b, (F.col(f"a.{key}") == F.col(f"b.{key}")) & (F.col("a.id") < F.col("b.id"))
        ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))

    edges = _pairs("k_exact").unionByName(_pairs("k_prefix"))
    return integer_pagerank(edges, iterations=2)


register(
    "graph_pagerank",
    graph_pagerank,
    f"""
WITH corpus AS ({CORPUS_SQL}),
{_COMPONENTS_EDGES_SQL.strip()},
e AS (SELECT DISTINCT id_a AS a, id_b AS b FROM pairs),
d AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM d GROUP BY src),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
s1 AS (
  SELECT dd.dst AS v,
         CAST(sum((1000000000 // n.n) // dg.deg) AS BIGINT) AS s,
         n.n AS n
  FROM d dd JOIN deg dg ON dd.src = dg.src CROSS JOIN n
  GROUP BY dd.dst, n.n
),
r1 AS (
  SELECT v, CAST((15 * (1000000000 // n)) // 100 + (85 * s) // 100 AS BIGINT) AS r
  FROM s1
),
s2 AS (
  SELECT dd.dst AS v,
         CAST(sum(r1.r // dg.deg) AS BIGINT) AS s,
         n.n AS n
  FROM d dd JOIN r1 ON dd.src = r1.v JOIN deg dg ON dd.src = dg.src CROSS JOIN n
  GROUP BY dd.dst, n.n
),
r2 AS (
  SELECT v, CAST((15 * (1000000000 // n)) // 100 + (85 * s) // 100 AS BIGINT) AS r
  FROM s2
)
SELECT r2.v AS node, deg.deg AS degree, r2.r AS rank_ppb
FROM r2 JOIN deg ON r2.v = deg.src
""",
)


# ---------------------------------------------------------------------------
# quality_gopher_rules — the published Gopher quality-filter rule set
# (Rae et al. 2022, appendix A1.1) in the engine's exact-integer
# discipline: word-count bounds, mean-word-length band, minimum
# alphabetic-word fraction, minimum stopword hits. Every rule is an
# integer comparison (mean word length is millis via exact div; the 80%
# alpha check is cross-multiplied, never a float ratio), so the verdict
# column is bit-stable. Emits per-document rule diagnostics plus the
# verdict and the FIRST failed rule (the triage column a curation run
# actually reads). Zero shuffles — one projection over the scan.
# ---------------------------------------------------------------------------
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = X.tokens(F.col("text"))
    n_words = F.size(toks).cast("long")
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    mwl_milli = F.expr("1000 * __sum_len div __n_words").cast("long")
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("long")
    n_stop = X.stopword_count(F.col("text")).cast("long")
    # tokenless documents (whitespace-only text) would zero-divide the
    # mean-word-length rule (and error DuckDB's //); they trivially fail
    # min_words anyway, so both engines exclude them up front
    staged = docs.select(
        "doc_id",
        n_words.alias("__n_words"),
        sum_len.alias("__sum_len"),
        n_alpha.alias("n_alpha_words"),
        n_stop.alias("n_stopword_hits"),
    ).filter(F.col("__n_words") > 0)
    rules = staged.select(
        "doc_id",
        F.col("__n_words").alias("n_words"),
        mwl_milli.alias("mean_word_len_milli"),
        "n_alpha_words",
        "n_stopword_hits",
        (F.col("__n_words") >= 50).alias("ok_min_words"),
        (F.col("__n_words") <= 100000).alias("ok_max_words"),
        ((mwl_milli >= 3000) & (mwl_milli <= 10000)).alias("ok_word_len"),
        (F.col("n_alpha_words") * 10 >= F.col("__n_words") * 8).alias("ok_alpha"),
        (F.col("n_stopword_hits") >= 2).alias("ok_stopwords"),
    )
    keep = (
        F.col("ok_min_words")
        & F.col("ok_max_words")
        & F.col("ok_word_len")
        & F.col("ok_alpha")
        & F.col("ok_stopwords")
    )
    first_fail = (
        F.when(~F.col("ok_min_words"), "min_words")
        .when(~F.col("ok_max_words"), "max_words")
        .when(~F.col("ok_word_len"), "word_len")
        .when(~F.col("ok_alpha"), "alpha_frac")
        .when(~F.col("ok_stopwords"), "stopwords")
    )
    return rules.select(
        "doc_id",
        "n_words",
        "mean_word_len_milli",
        "n_alpha_words",
        "n_stopword_hits",
        keep.alias("keep"),
        first_fail.alias("first_failed_rule"),
    )


_GOPHER_SW = ", ".join(f"'{w}'" for w in X.STOPWORDS_EN)

register(
    "quality_gopher_rules",
    quality_gopher_rules,
    f"""
WITH staged AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS sum_len,
         CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
         CAST(len(list_filter(t, x -> list_contains([{_GOPHER_SW}], x))) AS BIGINT) AS n_stop
  FROM (SELECT doc_id, {sql_tokens('text')} AS t FROM documents)
  WHERE len(t) > 0
),
rules AS (
  SELECT doc_id, n_words,
         CAST(1000 * sum_len // n_words AS BIGINT) AS mwl,
         n_alpha, n_stop,
         n_words >= 50 AS ok_min_words,
         n_words <= 100000 AS ok_max_words,
         1000 * sum_len // n_words BETWEEN 3000 AND 10000 AS ok_word_len,
         n_alpha * 10 >= n_words * 8 AS ok_alpha,
         n_stop >= 2 AS ok_stopwords
  FROM staged
)
SELECT doc_id, n_words, mwl AS mean_word_len_milli,
       n_alpha AS n_alpha_words, n_stop AS n_stopword_hits,
       ok_min_words AND ok_max_words AND ok_word_len AND ok_alpha AND ok_stopwords AS keep,
       CASE WHEN NOT ok_min_words THEN 'min_words'
            WHEN NOT ok_max_words THEN 'max_words'
            WHEN NOT ok_word_len THEN 'word_len'
            WHEN NOT ok_alpha THEN 'alpha_frac'
            WHEN NOT ok_stopwords THEN 'stopwords'
       END AS first_failed_rule
FROM rules
""",
)


# ---------------------------------------------------------------------------
# text_url_extraction — URL mining over a planted corpus (the synthetic
# documents carry no URLs, so every 3rd document gets a deterministic
# id-derived URL appended — same construction both engines, the PII-redact
# pattern): extract scheme+host with one regexp, aggregate per-host link
# and document counts. The Common-Crawl-style domain-frequency table that
# drives URL-level dedup and domain blocklists.
# Plan: projection + regexp under one host-keyed agg; host table is
# domain-sized, never corpus-sized.
# ---------------------------------------------------------------------------
_URL_RE = "https?://([a-z0-9.-]+)"


def text_url_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" via https://site"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".example.com/p/"),
                (F.col("doc_id") % 13).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    hosts = planted.select(
        "doc_id", F.regexp_extract("text", _URL_RE, 1).alias("host")
    ).filter(F.col("host") != "")
    return hosts.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )


register(
    "text_url_extraction",
    text_url_extraction,
    f"""
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN text || ' via https://site' || CAST(doc_id % 7 AS VARCHAR)
                        || '.example.com/p/' || CAST(doc_id % 13 AS VARCHAR)
              ELSE text END AS text
  FROM documents
),
hosts AS (
  SELECT doc_id, regexp_extract(text, '{_URL_RE}', 1) AS host FROM planted
)
SELECT host,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM hosts WHERE host <> ''
GROUP BY host
""",
)


# graph_link_prediction — Resource-Allocation link prediction (Zhou, Lü &
# Zhang 2009) over a rare-shingle co-occurrence graph: documents are
# linked when they share a RARE 3-gram shingle (2 ≤ df ≤ 5 — the df
# window both bounds the per-gram clique at 10 pairs and drops hapax
# noise, the same fan-out discipline as text_tfidf_doc_pairs' df cap).
# Unlike the dedup pair graph (a union of per-key cliques — transitively
# closed, so no non-edge ever has a common neighbor), shingle cliques
# OVERLAP through multi-shingle documents, so the operator has real
# candidates to rank: for non-edge pairs sharing neighbors,
# common-neighbor count + RA index as an exact ppm integer
# (Σ 1'000'000 div deg(z) — rational-variant discipline, no float sums),
# top-20 by (ra_ppm, n_common, lo, hi). In a curation pipeline these are
# transitively-related documents the pairwise keys missed — candidates
# for a second verification pass before clustering.
# ---------------------------------------------------------------------------
_LP_DF_MIN, _LP_DF_MAX = 2, 5


def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.graph import link_prediction

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    posting = docs.select(
        F.col("doc_id"), F.explode(D.word_shingles(F.col("text"), n=3)).alias("g")
    )
    df_ok = (
        posting.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= _LP_DF_MIN) & (F.col("df") <= _LP_DF_MAX))
        .select("g")
    )
    # persist the df-filtered postings before the self-join (the tfidf
    # precedent): both join sides read `kept`, and without the persist
    # each side would re-run the shingle explode + df agg over the corpus
    kept = posting.join(df_ok, "g").persist()  # release: caller (cache contract, queries/__init__)
    a, b = kept.alias("a"), kept.alias("b")
    edges = a.join(
        b, (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    return link_prediction(edges, top_n=20)


register(
    "graph_link_prediction",
    graph_link_prediction,
    f"""
WITH toks AS (SELECT doc_id, {sql_tokens('text')} AS t FROM documents),
posting AS (
  SELECT doc_id, unnest({sql_shingles('t', 3)}) AS g FROM toks
),
df_ok AS (
  SELECT g FROM posting GROUP BY g
  HAVING count(*) BETWEEN {_LP_DF_MIN} AND {_LP_DF_MAX}
),
kept AS (SELECT p.g, p.doc_id FROM posting p JOIN df_ok USING (g)),
e AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
),
d AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM d GROUP BY src),
mid AS (SELECT d.src, d.dst, deg.deg FROM d JOIN deg USING (src)),
w AS (
  SELECT l.dst AS lo, r.dst AS hi, 1000000 // l.deg AS ra_term
  FROM mid l JOIN mid r ON l.src = r.src AND l.dst < r.dst
),
scored AS (
  SELECT lo, hi,
         CAST(count(*) AS BIGINT) AS n_common,
         CAST(sum(ra_term) AS BIGINT) AS ra_ppm
  FROM w GROUP BY lo, hi
),
canon AS (SELECT least(a, b) AS lo, greatest(a, b) AS hi FROM e)
SELECT s.lo, s.hi, s.n_common, s.ra_ppm
FROM scored s ANTI JOIN canon c ON s.lo = c.lo AND s.hi = c.hi
ORDER BY s.ra_ppm DESC, s.n_common DESC, s.lo ASC, s.hi ASC
LIMIT 20
""",
)


# ---------------------------------------------------------------------------
# graph_lpa_communities — deterministic synchronous label propagation
# (operators/graph.py label_propagation; Raghavan, Albert & Kumara 2007)
# over the SAME rare-shingle co-occurrence graph link prediction ranks:
# 2 synchronous rounds, majority neighbor label with min-label ties, so
# the update is a pure function of the previous round and the oracle
# unrolls both rounds in plain SQL (per-round argmax = row_number over
# (cnt DESC, lab ASC) — exactly the engine's struct-max vote order).
# Communities over the shingle graph group transitively-related
# documents BEYOND the closed dedup cliques — the clustering view of the
# same curation signal.
# ---------------------------------------------------------------------------
def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.graph import label_propagation

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    posting = docs.select(
        F.col("doc_id"), F.explode(D.word_shingles(F.col("text"), n=3)).alias("g")
    )
    df_ok = (
        posting.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= _LP_DF_MIN) & (F.col("df") <= _LP_DF_MAX))
        .select("g")
    )
    kept = posting.join(df_ok, "g").persist()  # release: caller (cache contract, queries/__init__)
    a, b = kept.alias("a"), kept.alias("b")
    edges = a.join(
        b, (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    return label_propagation(edges, iterations=2)


register(
    "graph_lpa_communities",
    graph_lpa_communities,
    f"""
WITH toks AS (SELECT doc_id, {sql_tokens('text')} AS t FROM documents),
posting AS (
  SELECT doc_id, unnest({sql_shingles('t', 3)}) AS g FROM toks
),
df_ok AS (
  SELECT g FROM posting GROUP BY g
  HAVING count(*) BETWEEN {_LP_DF_MIN} AND {_LP_DF_MAX}
),
kept AS (SELECT p.g, p.doc_id FROM posting p JOIN df_ok USING (g)),
e AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
),
d AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
l0 AS (SELECT DISTINCT src AS v, src AS lab FROM d),
v1 AS (
  SELECT d.dst AS v, l.lab, CAST(count(*) AS BIGINT) AS cnt
  FROM d JOIN l0 l ON d.src = l.v GROUP BY d.dst, l.lab
),
l1 AS (
  SELECT v, lab FROM (
    SELECT v, lab,
           row_number() OVER (PARTITION BY v ORDER BY cnt DESC, lab ASC) AS rn
    FROM v1) WHERE rn = 1
),
v2 AS (
  SELECT d.dst AS v, l.lab, CAST(count(*) AS BIGINT) AS cnt
  FROM d JOIN l1 l ON d.src = l.v GROUP BY d.dst, l.lab
),
l2 AS (
  SELECT v, lab FROM (
    SELECT v, lab,
           row_number() OVER (PARTITION BY v ORDER BY cnt DESC, lab ASC) AS rn
    FROM v2) WHERE rn = 1
),
sizes AS (SELECT lab, CAST(count(*) AS BIGINT) AS community_size FROM l2 GROUP BY lab)
SELECT l2.v AS node, l2.lab AS community, s.community_size
FROM l2 JOIN sizes s USING (lab)
""",
)


# ---------------------------------------------------------------------------
# text_readability — Flesch Reading Ease (Flesch 1948; the formula Kincaid
# et al. 1975 re-fit) with the standard no-dictionary syllable heuristic:
# syllables ≈ vowel-group count ([aeiouy]+ runs in the lowercased text),
# sentences = terminal-punctuation runs ([.!?]+, floored at 1 so
# punctuation-free fragments don't divide by zero), words = the engine's
# whitespace tokens. FRE = 206.835 − 1.015·(words/sentences) −
# 84.6·(syllables/words) — counts are exact ints, each ratio a single
# IEEE division, the combination fixed-form, so both engines agree
# bit-for-bit before the defensive round. The classic quality-scoring
# companion to text_quality's ratio features (readability-band filtering
# is a standard corpus-curation gate).
#
# Plan: zero-shuffle projection over the scan (regexp_count + size are
# JVM codegen); output is doc-sized.
# ---------------------------------------------------------------------------
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    words = F.size(X.tokens(F.col("text")))
    sentences = F.greatest(F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1))
    syllables = F.regexp_count(F.lower(F.col("text")), F.lit(r"[aeiouy]+"))
    fre = (
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sentences.cast("double"))
        - F.lit(84.6) * (syllables.cast("double") / words.cast("double"))
    )
    return docs.filter(words > 0).select(
        "doc_id",
        words.cast("long").alias("n_words"),
        sentences.cast("long").alias("n_sentences"),
        syllables.cast("long").alias("n_syllables"),
        F.round(fre, 6).alias("flesch_score"),
    )


register(
    "text_readability",
    text_readability,
    f"""
WITH c AS (
  SELECT doc_id,
         len({sql_tokens('text')}) AS n_words,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
  FROM documents
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_sentences AS BIGINT) AS n_sentences,
       CAST(n_syllables AS BIGINT) AS n_syllables,
       round(206.835
             - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
             - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 6)
           AS flesch_score
FROM c
WHERE n_words > 0
""",
)


# ---------------------------------------------------------------------------
# text_rake_keywords — RAKE keyword extraction (Rose, Engel, Cramer &
# Cowley 2010, "Automatic keyword extraction from individual documents"):
# candidate phrases are maximal stopword-free token runs (capped at 4
# tokens — the paper's practical phrase bound), each word is scored
# deg(w)/freq(w) over the kept phrases (deg = Σ phrase length at each
# occurrence — within-phrase co-occurrence incl. self; freq = occurrence
# count), and a phrase scores the sum of its member word scores. Word
# scores are EXACT ppm integers ((10⁶·deg) div freq — the rational-
# variant discipline; int64-safe until a single word's deg exceeds
# ~9.2e12, i.e. never in practice), so phrase sums are exact and the
# top-20 is a total deterministic order (score, n_occurrences, phrase).
# The corpus-level keyword inventory a curation pipeline tags topics by.
#
# Plan: posexplode → ONE per-doc window (running stopword count = phrase
# id) → per-phrase hash agg (sorted-struct collect rebuilds the phrase
# string) → word-keyed hash aggs for scores → vocabulary-sized join →
# TakeOrdered 20. Shuffles carry token/phrase/vocab rows, never corpus².
# ---------------------------------------------------------------------------
_RAKE_MAX_PHRASE, _RAKE_TOP, _RAKE_SCALE = 4, 20, 1_000_000


def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.posexplode(X.tokens(F.col("text"))).alias("pos", "w")
    )
    is_stop = F.col("w").isin(*X.STOPWORDS_EN)
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    marked = tok.select(
        "doc_id",
        "pos",
        "w",
        F.sum(is_stop.cast("int")).over(w_doc).alias("phrase_id"),
        is_stop.alias("st"),
    )
    # r14 tail diet: member feeds the phrase rebuild AND the occurrence
    # join; phr feeds that join AND the phrase counts — un-persisted, the
    # per-doc window (and the phrase agg above it) re-planned per
    # consumer. release: caller
    member = marked.filter(~F.col("st")).persist()
    phr = (
        member.groupBy("doc_id", "phrase_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
            ).alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("plen"),
        )
        .filter(F.col("plen") <= _RAKE_MAX_PHRASE)
        .persist()  # release: caller (see diet note above)
    )
    occ = member.join(phr.select("doc_id", "phrase_id", "plen"), ["doc_id", "phrase_id"])
    ws = occ.groupBy("w").agg(
        F.expr(f"CAST(({_RAKE_SCALE} * sum(plen)) div count(1) AS BIGINT)").alias(
            "wscore"
        )
    )
    pagg = phr.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    pw = pagg.select(
        "phrase", "n_occurrences", F.explode(F.split("phrase", " ")).alias("w")
    )
    scored = (
        pw.join(ws, "w")
        .groupBy("phrase", "n_occurrences")
        .agg(F.sum("wscore").cast("long").alias("score_ppm"))
    )
    return scored.orderBy(
        F.desc("score_ppm"), F.desc("n_occurrences"), F.asc("phrase")
    ).limit(_RAKE_TOP)


register(
    "text_rake_keywords",
    text_rake_keywords,
    f"""
WITH toks AS (SELECT doc_id, {sql_tokens('text')} AS t FROM documents),
tok AS (
  SELECT doc_id, unnest(t) AS w,
         unnest(generate_series(1, len(t))) AS pos
  FROM toks
),
marked AS (
  SELECT doc_id, pos, w,
         sum(CASE WHEN w IN ({_SW}) THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id,
         w IN ({_SW}) AS st
  FROM tok
),
member AS (SELECT doc_id, phrase_id, pos, w FROM marked WHERE NOT st),
phr AS (
  SELECT doc_id, phrase_id,
         string_agg(w, ' ' ORDER BY pos) AS phrase,
         CAST(count(*) AS BIGINT) AS plen
  FROM member GROUP BY doc_id, phrase_id
  HAVING count(*) <= {_RAKE_MAX_PHRASE}
),
occ AS (
  SELECT m.w, p.plen
  FROM member m JOIN phr p USING (doc_id, phrase_id)
),
ws AS (
  SELECT w, CAST(({_RAKE_SCALE} * sum(plen)) // count(*) AS BIGINT) AS wscore
  FROM occ GROUP BY w
),
pagg AS (
  SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences
  FROM phr GROUP BY phrase
),
pw AS (
  SELECT phrase, n_occurrences, unnest(string_split(phrase, ' ')) AS w
  FROM pagg
),
scored AS (
  SELECT phrase, n_occurrences, CAST(sum(wscore) AS BIGINT) AS score_ppm
  FROM pw JOIN ws USING (w)
  GROUP BY phrase, n_occurrences
)
SELECT phrase, n_occurrences, score_ppm
FROM scored
ORDER BY score_ppm DESC, n_occurrences DESC, phrase ASC
LIMIT {_RAKE_TOP}
""",
)


# ---------------------------------------------------------------------------
# graph_assortativity — Newman 2002 degree-assortativity coefficient
# (operators/graph.py degree_assortativity) over the SAME rare-shingle
# co-occurrence graph as link prediction / LPA: exact decimal sufficient
# statistics, fixed IEEE Pearson chain, NULL on degree-regular graphs.
# ---------------------------------------------------------------------------
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.graph import degree_assortativity

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    posting = docs.select(
        F.col("doc_id"), F.explode(D.word_shingles(F.col("text"), n=3)).alias("g")
    )
    df_ok = (
        posting.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= _LP_DF_MIN) & (F.col("df") <= _LP_DF_MAX))
        .select("g")
    )
    kept = posting.join(df_ok, "g").persist()  # release: caller (cache contract, queries/__init__)
    a, b = kept.alias("a"), kept.alias("b")
    edges = a.join(
        b, (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    return degree_assortativity(edges)


register(
    "graph_assortativity",
    graph_assortativity,
    f"""
WITH toks AS (SELECT doc_id, {sql_tokens('text')} AS t FROM documents),
posting AS (
  SELECT doc_id, unnest({sql_shingles('t', 3)}) AS g FROM toks
),
df_ok AS (
  SELECT g FROM posting GROUP BY g
  HAVING count(*) BETWEEN {_LP_DF_MIN} AND {_LP_DF_MAX}
),
kept AS (SELECT p.id, p.g FROM (SELECT doc_id AS id, g FROM posting) p JOIN df_ok USING (g)),
e AS (
  SELECT DISTINCT a.id AS a, b.id AS b
  FROM kept a JOIN kept b ON a.g = b.g AND a.id < b.id
),
d AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM d GROUP BY src),
j AS (
  SELECT da.deg AS dx, db.deg AS dy
  FROM d JOIN deg da ON d.src = da.src JOIN deg db ON d.dst = db.src
),
sums AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(CAST(dx AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(sum(CAST(dy AS DECIMAL(38,0))) AS DOUBLE) AS sy,
         CAST(sum(CAST(dx * dx AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(dy * dy AS DECIMAL(38,0))) AS DOUBLE) AS syy,
         CAST(sum(CAST(dx * dy AS DECIMAL(38,0))) AS DOUBLE) AS sxy
  FROM j
),
nodes AS (SELECT a AS v FROM e UNION ALL SELECT b FROM e),
counts AS (
  SELECT CAST(count(DISTINCT v) AS BIGINT) AS n_nodes,
         CAST(count(*) / 2 AS BIGINT) AS n_edges
  FROM nodes
)
SELECT counts.n_nodes, counts.n_edges,
       CASE WHEN CAST(m AS DOUBLE) * sxx - sx * sx > 0
             AND CAST(m AS DOUBLE) * syy - sy * sy > 0
            THEN round((CAST(m AS DOUBLE) * sxy - sx * sy)
                       / (sqrt(CAST(m AS DOUBLE) * sxx - sx * sx)
                          * sqrt(CAST(m AS DOUBLE) * syy - sy * sy)), 6)
       END AS assortativity
FROM counts, sums
""",
)


# ---------------------------------------------------------------------------
# text_ngram_novelty — per-document novelty curve: the fraction of a
# document's distinct 3-gram shingles whose FIRST corpus occurrence (by
# doc_id order) is this document, as an exact ppm integer. The
# dataset-diversity signal behind dedup-aware data valuation: replicas
# and boilerplate-heavy docs score near 0, genuinely new content near
# 10⁶; summing n_first over docs counts the corpus's distinct grams
# exactly once (a conservation law the test pins).
#
# Plan: shingle explode → gram-keyed min(doc_id) hash agg → ONE gram-
# keyed join back to the postings → per-doc agg. Shuffles carry gram
# postings (linear in token volume), never corpus².
# ---------------------------------------------------------------------------
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    posting = docs.select(
        "doc_id", F.explode(D.word_shingles(F.col("text"), n=3)).alias("g")
    )
    first = posting.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        posting.join(first, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).cast("long").alias("n_first"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_first",
            F.expr("CAST((1000000 * n_first) div n_grams AS BIGINT)").alias(
                "novelty_ppm"
            ),
        )
    )


register(
    "text_ngram_novelty",
    text_ngram_novelty,
    f"""
WITH toks AS (SELECT doc_id, {sql_tokens('text')} AS t FROM documents),
posting AS (
  SELECT doc_id, unnest({sql_shingles('t', 3)}) AS g FROM toks
),
first AS (SELECT g, min(doc_id) AS first_doc FROM posting GROUP BY g),
per_doc AS (
  SELECT p.doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_first
  FROM posting p JOIN first f USING (g)
  GROUP BY p.doc_id
)
SELECT doc_id, n_grams, n_first,
       CAST((1000000 * n_first) // n_grams AS BIGINT) AS novelty_ppm
FROM per_doc
""",
)


# ---------------------------------------------------------------------------
# quality_filter_agreement — the filter-ablation contingency matrix every
# curation run reads before picking gates: Gopher rule verdicts ×
# linear-classifier verdicts, cell counts + exact ppm shares. Disagreement
# cells are where the corpora diverge — the documents one gate keeps and
# the other kills are exactly the review set. Zero new filter logic on
# either engine: the Spark side composes the two REGISTERED queries, the
# oracle NESTS their registered SQL as derived tables (so the matrix can
# never drift from the gates it audits).
# Plan: both gate subplans are scan projections; one (bool,bool) hash agg
# + a 1-row broadcast total. Output is 4 rows.
# ---------------------------------------------------------------------------
def quality_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = quality_gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("gopher_keep")
    )
    c = quality_classifier_filter(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("clf_keep")
    )
    cells = (
        g.join(c, "doc_id")
        .groupBy("gopher_keep", "clf_keep")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        # r14 tail diet: cells (4 rows) feeds the 1-row total AND the
        # share projection — persist or both gate subplans + the join run
        # twice. release: caller
        .persist()
    )
    total = cells.agg(F.sum("n_docs").cast("long").alias("total"))
    return cells.crossJoin(F.broadcast(total)).select(
        "gopher_keep",
        "clf_keep",
        "n_docs",
        F.expr("CAST((1000000 * n_docs) div total AS BIGINT)").alias("share_ppm"),
    )


def _agreement_oracle() -> str:
    from cyrela_etl_spark.queries import REGISTRY

    gopher_sql = REGISTRY["quality_gopher_rules"][1]
    clf_sql = REGISTRY["quality_classifier_filter"][1]
    return f"""
WITH cells AS (
  SELECT g.keep AS gopher_keep, c.keep AS clf_keep,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM ({gopher_sql}) g JOIN ({clf_sql}) c USING (doc_id)
  GROUP BY g.keep, c.keep
),
total AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM cells)
SELECT gopher_keep, clf_keep, n_docs,
       CAST((1000000 * n_docs) // total AS BIGINT) AS share_ppm
FROM cells, total
"""


register("quality_filter_agreement", quality_filter_agreement, _agreement_oracle())


# ---------------------------------------------------------------------------
# corpus_curriculum_stages — length-based curriculum ordering (Bengio et
# al. 2009's curriculum-learning recipe in its standard data-engineering
# form: train short→long): documents are ranked by (token count, doc_id)
# — a total order — and split into 4 curriculum stages, plus each
# document's exact position and the stage's token budget share as ppm.
# Round 10 re-plan (VERDICT r9 item 1 — this was the repo's last
# full-table global-order window, a single-partition sort of every
# document at scale): the total order is now computed DISTRIBUTED.
#   1. repartitionByRange(n_ranges, n_tokens, doc_id): non-overlapping,
#      pid-ordered key ranges (RangePartitioner sampling is seeded per
#      partition index — deterministic), n_ranges ~ 4x parallelism.
#   2. row_number() over a window PARTITIONED by the range id — every
#      partition sorts only its own slice, in parallel.
#   3. position = local rank + prefix offset of earlier ranges; offsets
#      come from one per-range count aggregate collected to the driver
#      (n_ranges scalars — metadata, like dedup's component counters)
#      and re-enter the plan as a literal map: zero extra shuffles.
#   4. stage = exact ntile(4) arithmetic from (position, total): with
#      q = n div 4, r = n mod 4, the first r buckets take q+1 rows —
#      both engines' documented ntile rule, so the oracle's window ntile
#      matches value-for-value with no window on the Spark side.
# The only remaining 1-row broadcast is the grand-total token share
# (BNLJ-allowlisted). Plan shape is pinned by
# tests/test_plan_quality.py::test_curriculum_stages_has_no_global_window.
# ---------------------------------------------------------------------------
def corpus_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    base = docs.select(
        "doc_id", F.size(X.tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    n_ranges = 4 * max(spark.sparkContext.defaultParallelism, 2)
    ranged = base.repartitionByRange(n_ranges, "n_tokens", "doc_id").withColumn(
        "pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("pid").orderBy("n_tokens", "doc_id")
    local = ranged.withColumn(
        "local_pos", F.row_number().over(w_local).cast("long")
    ).persist()  # release: caller (backs both the offsets action and the result)
    counts = {
        r["pid"]: r["cnt"]
        for r in local.groupBy("pid").agg(F.max("local_pos").alias("cnt")).collect()
    }
    total = sum(counts.values())
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if not offsets:
        offsets = {0: 0}
    off_map = F.create_map(
        *[lit for pid, off in sorted(offsets.items()) for lit in (F.lit(pid), F.lit(off))]
    )
    q, r = divmod(total, 4)
    if q == 0:
        # fewer rows than buckets: ntile assigns row i to bucket i
        stage_sql = "position"
    else:
        stage_sql = (
            f"CASE WHEN position <= {r * (q + 1)} THEN (position + {q}) div {q + 1} "
            f"ELSE {r} + (position - {r * (q + 1)} + {q - 1}) div {q} END"
        )
    staged = local.select(
        "doc_id",
        "n_tokens",
        (F.element_at(off_map, F.col("pid")) + F.col("local_pos")).cast("long").alias("position"),
    ).withColumn("stage", F.expr(f"CAST(({stage_sql}) AS BIGINT)"))
    # r14 tail diet: budgets (4 rows) feeds the 1-row total AND the output
    # join — persist or the stage token agg over the cache runs twice.
    # release: caller
    budgets = staged.groupBy("stage").agg(
        F.sum("n_tokens").cast("long").alias("stage_tokens")
    ).persist()
    total = budgets.agg(F.sum("stage_tokens").cast("long").alias("total"))
    budgets = budgets.crossJoin(F.broadcast(total)).select(
        "stage",
        "stage_tokens",
        F.expr("CAST((1000000 * stage_tokens) div total AS BIGINT)").alias(
            "stage_share_ppm"
        ),
    )
    return staged.join(F.broadcast(budgets), "stage").select(
        "doc_id", "n_tokens", "position", "stage", "stage_tokens", "stage_share_ppm"
    )


register(
    "corpus_curriculum_stages",
    corpus_curriculum_stages,
    f"""
WITH base AS (
  SELECT doc_id, CAST(len({sql_tokens('text')}) AS BIGINT) AS n_tokens
  FROM documents
),
staged AS (
  SELECT doc_id, n_tokens,
         CAST(row_number() OVER w AS BIGINT) AS position,
         CAST(ntile(4) OVER w AS BIGINT) AS stage
  FROM base
  WINDOW w AS (ORDER BY n_tokens, doc_id)
),
budgets AS (
  SELECT stage, CAST(sum(n_tokens) AS BIGINT) AS stage_tokens
  FROM staged GROUP BY stage
),
total AS (SELECT CAST(sum(stage_tokens) AS BIGINT) AS total FROM budgets),
b AS (
  SELECT stage, stage_tokens,
         CAST((1000000 * stage_tokens) // total AS BIGINT) AS stage_share_ppm
  FROM budgets, total
)
SELECT s.doc_id, s.n_tokens, s.position, s.stage, b.stage_tokens, b.stage_share_ppm
FROM staged s JOIN b USING (stage)
""",
)


# ---------------------------------------------------------------------------
# text_bpe_pair_stats — the first training step of byte-pair encoding
# (Sennrich, Haddow & Birch 2016, "Neural machine translation of rare
# words with subword units"): corpus-wide adjacent character-pair
# frequencies over token occurrences, top-20 by (count, pair) — the
# exact argmax BPE would merge first, and the statistics a tokenizer-
# induction pipeline materializes at every merge round. Pairs are
# substr(word, i, 2) over a per-word index sequence — the IDENTICAL
# spelling on both engines (no empty-string split dialect). All counts
# exact ints; total deterministic order.
# Plan: token explode → per-word pair transform+explode (JVM codegen,
# zero Python) → ONE pair-keyed hash agg with map-side combine →
# TakeOrdered 20. Shuffles carry pair-vocabulary rows.
# ---------------------------------------------------------------------------
def text_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # single-char words MUST be filtered first: Spark's sequence(1, 0)
    # produces a DESCENDING [1, 0] (not an empty array as in DuckDB), so
    # an unguarded transform would mint phantom pairs from 1-char words
    words = docs.select(F.explode(X.tokens(F.col("text"))).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
    return counts.orderBy(F.desc("n_occurrences"), F.asc("pair")).limit(20)


register(
    "text_bpe_pair_stats",
    text_bpe_pair_stats,
    f"""
WITH words AS (
  SELECT unnest({sql_tokens('text')}) AS w FROM documents
),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, length(w) - 1),
                               i -> substr(w, i, 2))) AS pair
  FROM words WHERE length(w) >= 2
)
SELECT pair, CAST(count(*) AS BIGINT) AS n_occurrences
FROM pairs GROUP BY pair
ORDER BY n_occurrences DESC, pair ASC
LIMIT 20
""",
)


# ---------------------------------------------------------------------------
# dedup_impact_report — the before/after accounting every dedup run
# publishes: per source, document and token volumes, exact-duplicate
# groups (md5 of normalized text — the dedup_exact key), how many
# documents and tokens removal would drop, and the drop rate in exact
# ppm. The cost-benefit table that decides whether a corpus slice is
# worth near-dup passes after exact dedup. One scan → (source, content
# key) hash agg → source agg; all ints.
# ---------------------------------------------------------------------------
def dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    toks = F.size(X.tokens(F.col("text"))).cast("long")
    keyed = docs.select("source", F.md5(norm).alias("k"), toks.alias("n_tok"))
    groups = keyed.groupBy("source", "k").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("tok_all"),
        F.max("n_tok").cast("long").alias("tok_keep"),
    )
    return groups.groupBy("source").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_unique"),
        (F.sum("n_docs") - F.count(F.lit(1))).cast("long").alias("n_removed"),
        F.sum("tok_all").cast("long").alias("tokens_before"),
        (F.sum("tok_all") - F.sum("tok_keep")).cast("long").alias("tokens_removed"),
        F.expr(
            "CAST((1000000 * (sum(n_docs) - count(1))) div sum(n_docs) AS BIGINT)"
        ).alias("doc_removal_ppm"),
    )


register(
    "dedup_impact_report",
    dedup_impact_report,
    f"""
WITH keyed AS (
  SELECT source, md5({sql_norm('text')}) AS k,
         CAST(len({sql_tokens('text')}) AS BIGINT) AS n_tok
  FROM documents
),
groups AS (
  SELECT source, k,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS tok_all,
         CAST(max(n_tok) AS BIGINT) AS tok_keep
  FROM keyed GROUP BY source, k
)
SELECT source,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_unique,
       CAST(sum(n_docs) - count(*) AS BIGINT) AS n_removed,
       CAST(sum(tok_all) AS BIGINT) AS tokens_before,
       CAST(sum(tok_all) - sum(tok_keep) AS BIGINT) AS tokens_removed,
       CAST((1000000 * (sum(n_docs) - count(*))) // sum(n_docs) AS BIGINT) AS doc_removal_ppm
FROM groups GROUP BY source
""",
)


# ---------------------------------------------------------------------------
# text_language_confusion — the detector-evaluation confusion matrix:
# the corpus's LABELED lang column crossed with text_language_id's
# predictions, cell counts + per-label row shares in exact ppm, and the
# diagonal flag. The standard classifier-audit view (per-label recall is
# the diagonal share); like quality_filter_agreement, the Spark side
# composes the REGISTERED query and the oracle NESTS its registered SQL,
# so the audit can never drift from the detector it audits.
# Plan: detector subplan (zero-shuffle projection) + one doc-keyed join
# + (label, pred) agg + label-sized broadcast of row totals.
# ---------------------------------------------------------------------------
def text_language_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = text_language_id(spark, sf_dir).select("doc_id", "lang_pred")
    labeled = _docs(spark, sf_dir).select(
        "doc_id", F.col("lang").alias("lang_label")
    )
    cells = (
        labeled.join(pred, "doc_id")
        .groupBy("lang_label", "lang_pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        # r14 tail diet: cells (label x pred rows) feeds the row totals
        # AND the output join — persist or the detector subplan + the
        # doc-keyed join run twice. release: caller
        .persist()
    )
    totals = cells.groupBy("lang_label").agg(F.sum("n_docs").cast("long").alias("total"))
    return cells.join(F.broadcast(totals), "lang_label").select(
        "lang_label",
        "lang_pred",
        "n_docs",
        F.expr("CAST((1000000 * n_docs) div total AS BIGINT)").alias("row_share_ppm"),
        (F.col("lang_label") == F.col("lang_pred")).alias("is_correct"),
    )


def _lang_confusion_oracle() -> str:
    from cyrela_etl_spark.queries import REGISTRY

    lang_sql = REGISTRY["text_language_id"][1]
    return f"""
WITH pred AS (SELECT doc_id, lang_pred FROM ({lang_sql})),
cells AS (
  SELECT d.lang AS lang_label, p.lang_pred,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM documents d JOIN pred p USING (doc_id)
  GROUP BY d.lang, p.lang_pred
),
totals AS (
  SELECT lang_label, CAST(sum(n_docs) AS BIGINT) AS total
  FROM cells GROUP BY lang_label
)
SELECT c.lang_label, c.lang_pred, c.n_docs,
       CAST((1000000 * c.n_docs) // t.total AS BIGINT) AS row_share_ppm,
       c.lang_label = c.lang_pred AS is_correct
FROM cells c JOIN totals t USING (lang_label)
"""


register("text_language_confusion", text_language_confusion, _lang_confusion_oracle())


# ---------------------------------------------------------------------------
# corpus_dataset_card — the one-row-per-source "datasheet" every corpus
# release ships (Gebru et al. 2021's datasheet quantitative section):
# volumes, mean document length (exact milli-tokens), exact-duplicate
# rate, language mix (distinct langs + dominant language and its exact
# ppm share via struct-max argmax). One scan feeding (source, lang) and
# (source, content-key) aggs — the capstone reporting view over signals
# the registry checks individually.
# ---------------------------------------------------------------------------
def corpus_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    toks = F.size(X.tokens(F.col("text"))).cast("long")
    base = docs.select("source", "lang", F.md5(norm).alias("k"), toks.alias("n_tok"))
    vol = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.count_distinct("k").cast("long").alias("n_unique"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
    )
    langs = base.groupBy("source", "lang").agg(F.count(F.lit(1)).cast("long").alias("nl"))
    top = (
        langs.groupBy("source")
        .agg(F.max(F.struct(F.col("nl"), F.col("lang"))).alias("w"))
        .select("source", F.col("w.lang").alias("top_lang"), F.col("w.nl").alias("top_n"))
    )
    return (
        vol.join(top, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr("CAST((1000 * n_tokens) div n_docs AS BIGINT)").alias(
                "mean_tokens_milli"
            ),
            F.expr("CAST((1000000 * (n_docs - n_unique)) div n_docs AS BIGINT)").alias(
                "dup_ppm"
            ),
            "n_langs",
            "top_lang",
            F.expr("CAST((1000000 * top_n) div n_docs AS BIGINT)").alias("top_lang_ppm"),
        )
    )


register(
    "corpus_dataset_card",
    corpus_dataset_card,
    f"""
WITH base AS (
  SELECT source, lang, md5({sql_norm('text')}) AS k,
         CAST(len({sql_tokens('text')}) AS BIGINT) AS n_tok
  FROM documents
),
vol AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT k) AS BIGINT) AS n_unique,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
  FROM base GROUP BY source
),
langs AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS nl
  FROM base GROUP BY source, lang
),
top AS (
  SELECT source, lang AS top_lang, nl AS top_n FROM (
    SELECT source, lang, nl,
           row_number() OVER (PARTITION BY source ORDER BY nl DESC, lang DESC) AS rn
    FROM langs) WHERE rn = 1
)
SELECT v.source, v.n_docs, v.n_tokens,
       CAST((1000 * v.n_tokens) // v.n_docs AS BIGINT) AS mean_tokens_milli,
       CAST((1000000 * (v.n_docs - v.n_unique)) // v.n_docs AS BIGINT) AS dup_ppm,
       v.n_langs, t.top_lang,
       CAST((1000000 * t.top_n) // v.n_docs AS BIGINT) AS top_lang_ppm
FROM vol v JOIN top t USING (source)
""",
)


# ---------------------------------------------------------------------------
# dedup_minhash_calibration — measure the sketch, not just use it (the
# vector_recall_report discipline applied to MinHash): for a
# deterministic candidate set — the corpus's PLANTED exact duplicates
# (+100000, identical text), planted near-duplicates (+200000, ' zyx
# extra' appended) and non-duplicate controls (adjacent ids) — compare
# the 16-hash signature-agreement ESTIMATE of Jaccard against the exact
# shingle Jaccard, both as exact ppm integers, with the absolute error.
# The estimator's unbiasedness on exact dups (16/16 agreement), its
# spread on near-dups, and its floor on controls all land in one
# hash-checked relation. Pure integers end to end.
# Plan: signatures + shingles are zero-shuffle projections; the
# candidate list derives from id arithmetic; two id-keyed joins.
# ---------------------------------------------------------------------------
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = corpus(spark, sf_dir)
    sigs = D.minhash_signatures(c, num_hashes=_NUM_HASHES, shingle_n=_SHINGLE_N)
    sh = c.select(
        F.col("doc_id").alias("id"),
        D.word_shingles(F.col("text"), _SHINGLE_N).alias("shingles"),
    ).filter(F.size("shingles") > 0)
    # r14 tail diet: both candidate-join sides consume side — persist or
    # the signature + shingle projections and their id join run twice.
    # release: caller. Size note (ADVICE r14): side is CORPUS-scale (one
    # row per doc, carrying signature + shingle arrays) — prefer
    # StorageLevel.DISK_ONLY at 100x+ scales where the cache would
    # pressure executor memory.
    side = sigs.join(sh, "id").persist()
    base = c.select("doc_id")
    cand = (
        base.filter(F.col("doc_id") % 10 == 0)
        .filter(F.col("doc_id") < 100000)
        .select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 100000).alias("id_b"),
            F.lit("planted_exact").alias("pair_kind"),
        )
        .unionByName(
            base.filter(F.col("doc_id") % 7 == 0)
            .filter(F.col("doc_id") < 100000)
            .select(
                F.col("doc_id").alias("id_a"),
                (F.col("doc_id") + 200000).alias("id_b"),
                F.lit("planted_near").alias("pair_kind"),
            )
        )
        .unionByName(
            base.filter(F.col("doc_id") % 13 == 0)
            .filter(F.col("doc_id") < 100000)
            .select(
                F.col("doc_id").alias("id_a"),
                (F.col("doc_id") + 1).alias("id_b"),
                F.lit("control").alias("pair_kind"),
            )
        )
    )
    a = side.select(
        F.col("id").alias("id_a"),
        F.col("signature").alias("sig_a"),
        F.col("shingles").alias("sh_a"),
    )
    b = side.select(
        F.col("id").alias("id_b"),
        F.col("signature").alias("sig_b"),
        F.col("shingles").alias("sh_b"),
    )
    j = cand.join(a, "id_a").join(b, "id_b")
    matches = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda m: m,
        )
    ).cast("long")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("long")
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b"))).cast("long")
    out = j.select(
        "id_a",
        "id_b",
        "pair_kind",
        matches.alias("sig_matches"),
        F.expr(
            "CAST((1000000 * size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y),"
            f" m -> m))) div {_NUM_HASHES} AS BIGINT)"
        ).alias("est_ppm"),
        F.expr(
            "CAST((1000000 * size(array_intersect(sh_a, sh_b)))"
            " div size(array_union(sh_a, sh_b)) AS BIGINT)"
        ).alias("exact_ppm"),
    )
    return out.withColumn(
        "err_ppm", F.abs(F.col("est_ppm") - F.col("exact_ppm")).cast("long")
    )


def _minhash_calibration_oracle() -> str:
    sig_exprs = [
        f"coalesce(list_min(list_transform(hs, x -> (x * {a} + {b}) % {P})), {P})"
        for (a, b) in D.minhash_params(_NUM_HASHES)
    ]
    sig_cols = ", ".join(f"{e} AS s{i}" for i, e in enumerate(sig_exprs))
    match_sum = " + ".join(
        f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)" for i in range(_NUM_HASHES)
    )
    hashed = f"list_transform(shingles, s -> ({sql_hex64('s')} % {P}))"
    return f"""
WITH corpus AS ({CORPUS_SQL}),
sh AS (SELECT doc_id AS id, {sql_shingles(sql_tokens('text'), _SHINGLE_N)} AS shingles
       FROM corpus WHERE len({sql_tokens('text')}) > 0),
hashed AS (SELECT id, shingles, {hashed} AS hs FROM sh),
sig AS (SELECT id, shingles, {sig_cols} FROM hashed),
base AS (SELECT doc_id FROM corpus),
cand AS (
  SELECT doc_id AS id_a, doc_id + 100000 AS id_b, 'planted_exact' AS pair_kind
  FROM base WHERE doc_id % 10 = 0 AND doc_id < 100000
  UNION ALL
  SELECT doc_id, doc_id + 200000, 'planted_near'
  FROM base WHERE doc_id % 7 = 0 AND doc_id < 100000
  UNION ALL
  SELECT doc_id, doc_id + 1, 'control'
  FROM base WHERE doc_id % 13 = 0 AND doc_id < 100000
),
j AS (
  SELECT c.id_a, c.id_b, c.pair_kind,
         CAST({match_sum} AS BIGINT) AS sig_matches,
         CAST((1000000 * ({match_sum})) // {_NUM_HASHES} AS BIGINT) AS est_ppm,
         CAST((1000000 * len(list_intersect(a.shingles, b.shingles)))
              // len(list_distinct(list_concat(a.shingles, b.shingles))) AS BIGINT) AS exact_ppm
  FROM cand c
  JOIN sig a ON c.id_a = a.id
  JOIN sig b ON c.id_b = b.id
)
SELECT id_a, id_b, pair_kind, sig_matches, est_ppm, exact_ppm,
       CAST(abs(est_ppm - exact_ppm) AS BIGINT) AS err_ppm
FROM j
"""


register(
    "dedup_minhash_calibration", dedup_minhash_calibration, _minhash_calibration_oracle()
)
