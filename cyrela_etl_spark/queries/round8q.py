"""Round-8 additions: corpus-statistics and pipeline-planning operators.

Text: Zipf rank-frequency fit, per-language vocabulary/hapax profile,
vocabulary-growth (Heaps) curve. Corpus: temperature-scaled multilingual
sampling weights (the mT5/XLM-R mixing rule), a token-budget epoch plan,
and a train/test shingle-leakage audit (the split-level complement of
dedup_contamination's train-vs-eval probe).

Exactness discipline (registry contract, queries/__init__.py): counts are
BIGINT, every ratio is ONE IEEE division of exact ints, each ln()/pow()
is a single transcendental rounded to 6 digits on both engines (the
text_pmi_collocations precedent) and any SUM over such values runs in
DECIMAL after the round, never a float fold.

Scale notes: every aggregate here is map-side combinable; the only
windows run over TERM or HISTOGRAM tables (vocabulary-bounded, not
corpus-bounded); the leakage join is shingle-keyed equi-join with the
distinct-shingle side reduced before the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cyrela_etl_spark.operators import text as X
from cyrela_etl_spark.operators.graph import KCORE_K, kcore_peel
from cyrela_etl_spark.queries import register
from cyrela_etl_spark.sources.parquet import fan_out, read_table
from cyrela_etl_spark.queries.textq import CORPUS_SQL, _docs, corpus, dup_pairs, sql_tokens

LN_DEC = "decimal(20,6)"   # a rounded ln()/pow() value
ACC_DEC = "decimal(38,12)"  # sums of products of two LN_DECs


# ---------------------------------------------------------------------------
# text_zipf_fit — least-squares slope of ln(freq) vs ln(rank) over the top
# terms (Zipf's law says slope ≈ -1). Top-30 selection is two-phase
# TakeOrdered (vocabulary grows with the corpus under Heaps' law, so it is
# NOT a safe global-window frame — round-10 fix); the rank window runs
# over the 30-row result only. The regression sums fold rounded-ln
# decimals (exact), and the slope/intercept are single double divisions
# at the output boundary.
# ---------------------------------------------------------------------------
_ZIPF_TOP = 30


def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan=False: r18 interleaved A/B (5 reps, tools/ab.py protocol) — fanned
    # 0.769 s vs raw 0.634 s median; the explode feeds one hash agg whose
    # exchange dominates, so pre-exchange parallelism only adds a shuffle.
    toks = _docs(spark, sf_dir, fan=False).select(F.explode(X.tokens(F.col("text"))).alias("term"))
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
    # Top-30 via orderBy().limit() = TakeOrderedAndProject (each partition
    # keeps 30, the driver merges — no single-reducer vocabulary sort; the
    # round-10 audit found this was the last window whose input grows with
    # the data, vocabulary being Heaps-law-unbounded). The rank window then
    # runs over the 30-row result; (freq desc, term asc) is a total order,
    # so top-30-then-rank is value-identical to rank-then-filter — the
    # oracle keeps the windowed spelling.
    top = counts.orderBy(F.col("freq").desc(), F.col("term").asc()).limit(_ZIPF_TOP)
    ranked = top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("freq").desc(), F.col("term").asc())),
    )
    xy = ranked.select(
        F.round(F.log(F.col("rank").cast("double")), 6).cast(LN_DEC).alias("x"),
        F.round(F.log(F.col("freq").cast("double")), 6).cast(LN_DEC).alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(ACC_DEC)).alias("sx"),
        F.sum(F.col("y").cast(ACC_DEC)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(ACC_DEC)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(ACC_DEC)).alias("sxx"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(
            ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))).cast("double"),
            6,
        ).alias("zipf_slope"),
    )


register(
    "text_zipf_fit",
    text_zipf_fit,
    f"""
WITH toks AS (SELECT unnest({sql_tokens('text')}) AS term FROM documents),
counts AS (SELECT term, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY term),
ranked AS (
  SELECT freq, row_number() OVER (ORDER BY freq DESC, term ASC) AS rank FROM counts
),
xy AS (
  SELECT CAST(round(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(20,6)) AS x,
         CAST(round(ln(CAST(freq AS DOUBLE)), 6) AS DECIMAL(20,6)) AS y
  FROM ranked WHERE rank <= {_ZIPF_TOP}
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(x AS DECIMAL(38,12))) AS sx, sum(CAST(y AS DECIMAL(38,12))) AS sy,
         sum(CAST(x * y AS DECIMAL(38,12))) AS sxy,
         sum(CAST(x * x AS DECIMAL(38,12))) AS sxx
  FROM xy
)
SELECT n AS n_terms,
       round(CAST((n * sxy - sx * sy) / (n * sxx - sx * sx) AS DOUBLE), 6) AS zipf_slope
FROM s
""",
)


# ---------------------------------------------------------------------------
# text_hapax_heaps — per-language vocabulary profile: token mass, type
# counts, hapax (terms seen once in that language), and the type/token +
# hapax/type ratios every corpus datasheet reports. Two combinable aggs
# ((lang, term) then lang); ratios are single divisions of exact ints.
# ---------------------------------------------------------------------------
def text_hapax_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    term_counts = (
        _docs(spark, sf_dir)
        .select("lang", F.explode(X.tokens(F.col("text"))).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return (
        term_counts.groupBy("lang")
        .agg(
            F.sum("freq").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum(F.when(F.col("freq") == 1, 1).otherwise(0)).cast("long").alias("n_hapax"),
        )
        .select(
            "lang",
            "n_tokens",
            "n_types",
            "n_hapax",
            (F.col("n_types") / F.col("n_tokens")).alias("type_token_ratio"),
            (F.col("n_hapax") / F.col("n_types")).alias("hapax_ratio"),
        )
    )


register(
    "text_hapax_heaps",
    text_hapax_heaps,
    f"""
WITH tc AS (
  SELECT lang, term, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT lang, unnest({sql_tokens('text')}) AS term FROM documents)
  GROUP BY lang, term
)
SELECT lang,
       CAST(sum(freq) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(count(*) AS DOUBLE) / CAST(sum(freq) AS DOUBLE) AS type_token_ratio,
       CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         AS hapax_ratio
FROM tc GROUP BY lang
""",
)


# ---------------------------------------------------------------------------
# text_vocab_growth — the Heaps-law curve per language: cumulative
# vocabulary size as the corpus accumulates in doc_id order, sampled every
# BUCKET docs. Each term contributes at its FIRST document (min doc_id per
# (lang, term) — one combinable agg over the term table), so the
# cumulative window runs over lang-partitioned BUCKET histograms
# (corpus_size / BUCKET rows), never the corpus.
# ---------------------------------------------------------------------------
_VG_BUCKET = 5


def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    first_doc = (
        _docs(spark, sf_dir)
        .select("lang", "doc_id", F.explode(X.tokens(F.col("text"))).alias("term"))
        .groupBy("lang", "term")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    per_bucket = first_doc.groupBy(
        "lang",
        (F.floor(F.col("first_doc") / _VG_BUCKET) * _VG_BUCKET).cast("long").alias("bucket"),
    ).agg(F.count(F.lit(1)).alias("new_types"))
    w = Window.partitionBy("lang").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return per_bucket.select(
        "lang",
        "bucket",
        F.col("new_types").cast("long").alias("new_types"),
        F.sum("new_types").over(w).cast("long").alias("vocab_size"),
    )


register(
    "text_vocab_growth",
    text_vocab_growth,
    f"""
WITH fd AS (
  SELECT lang, term, min(doc_id) AS first_doc
  FROM (SELECT lang, doc_id, unnest({sql_tokens('text')}) AS term FROM documents)
  GROUP BY lang, term
),
pb AS (
  SELECT lang, CAST((first_doc // {_VG_BUCKET}) * {_VG_BUCKET} AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS new_types
  FROM fd GROUP BY 1, 2
)
SELECT lang, bucket, new_types,
       CAST(sum(new_types) OVER (PARTITION BY lang ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab_size
FROM pb
""",
)


# ---------------------------------------------------------------------------
# corpus_temperature_mix — temperature-scaled multilingual sampling weights
# (Conneau & Lample 2019 / mT5: q_l ∝ p_l^alpha), the standard fix for
# low-resource languages being drowned at alpha=1. One tiny per-language
# aggregate; each pow() is a single transcendental rounded to 6 digits and
# the normalizing sums fold decimals (exact on both engines).
# ---------------------------------------------------------------------------
_TEMP_ALPHAS = ("0.3", "0.7")


def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14 tail diet: per_lang feeds the 1-row total AND the share join;
    # p feeds the normalizer sums AND the output join — each un-persisted
    # tail re-planned the corpus-scale lang aggregate. Both are
    # lang-bounded k-row tables. release: caller
    per_lang = (
        _docs(spark, sf_dir).groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs")).persist()
    )
    total = per_lang.agg(F.sum("n_docs").alias("n_total"))
    p = per_lang.join(F.broadcast(total)).select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        (F.col("n_docs") / F.col("n_total")).alias("p"),
    )
    for a in _TEMP_ALPHAS:
        p = p.withColumn(f"_w{a[2:]}", F.round(F.pow(F.col("p"), F.lit(float(a))), 6).cast(LN_DEC))
    p = p.persist()  # release: caller (see diet note above)
    sums = p.agg(
        *[F.sum(F.col(f"_w{a[2:]}").cast(ACC_DEC)).alias(f"_z{a[2:]}") for a in _TEMP_ALPHAS]
    )
    out = p.join(F.broadcast(sums))
    for a in _TEMP_ALPHAS:
        out = out.withColumn(
            f"share_a{a[2:]}",
            F.round((F.col(f"_w{a[2:]}") / F.col(f"_z{a[2:]}")).cast("double"), 6),
        )
    return out.select(
        "lang", "n_docs", "p", *[f"share_a{a[2:]}" for a in _TEMP_ALPHAS]
    )


register(
    "corpus_temperature_mix",
    corpus_temperature_mix,
    """
WITH per_lang AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM per_lang),
p AS (
  SELECT lang, n_docs, CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE) AS p,
         CAST(round(pow(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE), 0.3), 6)
              AS DECIMAL(20,6)) AS w3,
         CAST(round(pow(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE), 0.7), 6)
              AS DECIMAL(20,6)) AS w7
  FROM per_lang, tot
),
z AS (SELECT sum(CAST(w3 AS DECIMAL(38,12))) AS z3, sum(CAST(w7 AS DECIMAL(38,12))) AS z7 FROM p)
SELECT lang, n_docs, p,
       round(CAST(w3 / z3 AS DOUBLE), 6) AS share_a3,
       round(CAST(w7 / z7 AS DOUBLE), 6) AS share_a7
FROM p, z
""",
)


# ---------------------------------------------------------------------------
# corpus_epoch_plan — token-budget planning: split a fixed training budget
# evenly across sources, convert each source's slice into epochs over its
# actual token mass (capped — the "don't repeat a tiny source 100×" rule,
# cf. Muennighoff et al. 2023 on repeating data), and report planned
# tokens. Integer arithmetic end-to-end; the epoch figure is the single
# division at the boundary.
# ---------------------------------------------------------------------------
_EPOCH_BUDGET = 1_000_000
_EPOCH_CAP = 4


def corpus_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_src = (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(X.token_count(F.col("text")).cast("long")).cast("long").alias("n_tokens"),
        )
        # r14 tail diet: feeds the 1-row source count AND the budget join —
        # persist or the corpus-scale token-count aggregate runs twice.
        # release: caller
        .persist()
    )
    n_sources = per_src.agg(F.count(F.lit(1)).alias("n_src"))
    return (
        per_src.join(F.broadcast(n_sources))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.floor(F.lit(_EPOCH_BUDGET) / F.col("n_src")).cast("long").alias("budget_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "budget_tokens",
            F.least(
                F.round(F.col("budget_tokens") / F.col("n_tokens"), 6),
                F.lit(float(_EPOCH_CAP)),
            ).alias("epochs"),
            F.least(
                F.col("budget_tokens"), F.lit(_EPOCH_CAP) * F.col("n_tokens")
            ).cast("long").alias("planned_tokens"),
        )
    )


register(
    "corpus_epoch_plan",
    corpus_epoch_plan,
    f"""
WITH per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len({sql_tokens('text')})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
ns AS (SELECT CAST(count(*) AS BIGINT) AS n_src FROM per_src)
SELECT source, n_docs, n_tokens,
       CAST({_EPOCH_BUDGET} // n_src AS BIGINT) AS budget_tokens,
       least(round(CAST({_EPOCH_BUDGET} // n_src AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6),
             CAST({_EPOCH_CAP} AS DOUBLE)) AS epochs,
       CAST(least({_EPOCH_BUDGET} // n_src, {_EPOCH_CAP} * n_tokens) AS BIGINT) AS planned_tokens
FROM per_src, ns
""",
)


# ---------------------------------------------------------------------------
# ml_leakage_check — split-level contamination audit: hash-split the
# PLANTED corpus (which contains exact + near duplicates by construction)
# 80/20 by doc-id hash, then count test documents sharing any 8-token
# shingle with the train split. The shingle relation is reduced to
# DISTINCT (side, shingle) before the equi-join, so the join carries
# vocabulary-of-shingles cardinality, not corpus cardinality.
# ---------------------------------------------------------------------------
_LEAK_SHINGLE = 8
_LEAK_TRAIN_PCT = 80


def ml_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.functions.hashing import stable_hash64

    c = corpus(spark, sf_dir)
    split = c.withColumn(
        "is_train",
        F.pmod(stable_hash64(F.col("doc_id").cast("string")), F.lit(100)) < _LEAK_TRAIN_PCT,
    )
    toks = split.select("doc_id", "is_train", X.tokens(F.col("text")).alias("t"))
    sh = (
        toks.filter(F.size("t") >= _LEAK_SHINGLE)
        .select(
            "doc_id",
            "is_train",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - _LEAK_SHINGLE + 1),
                    lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, _LEAK_SHINGLE)),
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    train_sh = sh.filter(F.col("is_train")).select("shingle").distinct()
    test_docs = sh.filter(~F.col("is_train"))
    leaked = (
        test_docs.join(train_sh, "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
    totals = split.filter(~F.col("is_train")).agg(
        F.count(F.lit(1)).cast("long").alias("n_test_docs")
    )
    n_leaked = leaked.agg(F.count(F.lit(1)).cast("long").alias("n_leaked"))
    return (
        totals.join(F.broadcast(n_leaked))
        .select(
            "n_test_docs",
            "n_leaked",
            (F.col("n_leaked") / F.col("n_test_docs")).alias("leak_ratio"),
        )
    )


def _leakage_oracle() -> str:
    from cyrela_etl_spark.queries.textq import sql_hex64

    h = sql_hex64("CAST(doc_id AS VARCHAR)")
    return f"""
WITH corpus AS ({CORPUS_SQL}),
split AS (
  SELECT doc_id, text, ({h} % 100) < {_LEAK_TRAIN_PCT} AS is_train FROM corpus
),
toks AS (SELECT doc_id, is_train, {sql_tokens('text')} AS t FROM split),
sh AS (
  SELECT DISTINCT doc_id, is_train,
         unnest(list_transform(
           generate_series(1, len(t) - {_LEAK_SHINGLE} + 1),
           i -> array_to_string(t[i:i+{_LEAK_SHINGLE}-1], ' '))) AS shingle
  FROM toks WHERE len(t) >= {_LEAK_SHINGLE}
),
train_sh AS (SELECT DISTINCT shingle FROM sh WHERE is_train),
leaked AS (
  SELECT DISTINCT s.doc_id FROM sh s JOIN train_sh t USING (shingle) WHERE NOT s.is_train
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_test_docs FROM split WHERE NOT is_train),
nl AS (SELECT CAST(count(*) AS BIGINT) AS n_leaked FROM leaked)
SELECT n_test_docs, n_leaked,
       CAST(n_leaked AS DOUBLE) / CAST(n_test_docs AS DOUBLE) AS leak_ratio
FROM tot, nl
"""


register("ml_leakage_check", ml_leakage_check, _leakage_oracle())


# ---------------------------------------------------------------------------
# events_power_pareto — Lorenz/Pareto concentration curve of user activity
# at count-value granularity: per-user event counts collapse into a
# (count → n_users) histogram FIRST, so the cumulative window runs over a
# bounded histogram (≤ max-events-per-user rows), never over the user
# table — the scale-safe spelling of "top 10% of users produce X% of
# events". Shares are single divisions of exact ints.
# ---------------------------------------------------------------------------
def events_power_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_user = read_table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    hist = per_user.groupBy("c").agg(F.count(F.lit(1)).alias("n_users"))
    w = Window.orderBy(F.col("c").desc()).rowsBetween(Window.unboundedPreceding, 0)
    tot = hist.agg(
        F.sum("n_users").alias("_tu"),
        F.sum(F.col("c") * F.col("n_users")).alias("_te"),
    )
    return (
        hist.withColumn("cum_users", F.sum("n_users").over(w))
        .withColumn("cum_events", F.sum(F.col("c") * F.col("n_users")).over(w))
        .join(F.broadcast(tot))
        .select(
            F.col("c").cast("long").alias("events_per_user"),
            F.col("n_users").cast("long").alias("n_users"),
            F.col("cum_users").cast("long").alias("cum_users"),
            F.col("cum_events").cast("long").alias("cum_events"),
            (F.col("cum_users") / F.col("_tu")).alias("user_share"),
            (F.col("cum_events") / F.col("_te")).alias("event_share"),
        )
    )


register(
    "events_power_pareto",
    events_power_pareto,
    """
WITH pu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c FROM events GROUP BY user_id),
hist AS (SELECT c, CAST(count(*) AS BIGINT) AS n_users FROM pu GROUP BY c),
tot AS (SELECT CAST(sum(n_users) AS BIGINT) AS tu, CAST(sum(c * n_users) AS BIGINT) AS te FROM hist),
cum AS (
  SELECT c, n_users,
         CAST(sum(n_users) OVER (ORDER BY c DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users,
         CAST(sum(c * n_users) OVER (ORDER BY c DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_events
  FROM hist
)
SELECT c AS events_per_user, n_users, cum_users, cum_events,
       CAST(cum_users AS DOUBLE) / CAST(tu AS DOUBLE) AS user_share,
       CAST(cum_events AS DOUBLE) / CAST(te AS DOUBLE) AS event_share
FROM cum, tot
""",
)


# ---------------------------------------------------------------------------
# agg_entropy — Shannon entropy of the event-type distribution per user
# cohort (user_id % 10): the behavioral-diversity signal bot-detection
# and engagement scoring both consume. H = -Σ p·ln(p) is folded as
# Σ n_t · round(ln(n_t/n), 6) in DECIMAL (exact), with ONE division by n
# at the boundary — no float accumulation.
# ---------------------------------------------------------------------------
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 10).cast("long").alias("cohort"), "event_type"
    )
    ct = ev.groupBy("cohort", "event_type").agg(F.count(F.lit(1)).alias("n_t"))
    n = Window.partitionBy("cohort")
    contrib = ct.withColumn("n", F.sum("n_t").over(n)).select(
        "cohort",
        "n",
        (F.col("n_t") * F.round(F.log(F.col("n_t") / F.col("n")), 6).cast(LN_DEC)).cast(
            ACC_DEC
        ).alias("term"),
    )
    return (
        contrib.groupBy("cohort")
        .agg(F.max("n").alias("n_events"), F.sum("term").alias("s"))
        .select(
            "cohort",
            F.col("n_events").cast("long").alias("n_events"),
            F.round(-(F.col("s") / F.col("n_events")).cast("double"), 6).alias("entropy_nats"),
        )
    )


register(
    "agg_entropy",
    agg_entropy,
    """
WITH ct AS (
  SELECT CAST(user_id % 10 AS BIGINT) AS cohort, event_type, CAST(count(*) AS BIGINT) AS n_t
  FROM events GROUP BY 1, 2
),
wn AS (
  SELECT cohort, n_t, CAST(sum(n_t) OVER (PARTITION BY cohort) AS BIGINT) AS n FROM ct
)
SELECT cohort, max(n) AS n_events,
       round(CAST(-sum(CAST(n_t * CAST(round(ln(CAST(n_t AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                                       AS DECIMAL(20,6)) AS DECIMAL(38,12)))
                   / max(n) AS DOUBLE), 6) AS entropy_nats
FROM wn GROUP BY cohort
""",
)


# ---------------------------------------------------------------------------
# ml_woe_iv — weight-of-evidence encoding + information value, the credit-
# scoring feature-selection standard, here over order-level "was anything
# returned" as the binary target. Two order-derived features (priority,
# order month) unpivoted into one (feature, category) relation; the
# order-level target aggregate shares the orderkey shuffle with the fact.
# Categories with a zero cell are excluded (WOE undefined; documented).
# Each WOE is ONE ln() of a ratio of exact-int products rounded to 6; the
# IV sum folds round-12 decimals (exact).
# ---------------------------------------------------------------------------
def ml_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    returned = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("orderkey"))
        .agg(F.max((F.col("l_returnflag") == "R").cast("int")).alias("is_ret"))
    )
    orders = read_table(spark, sf_dir, "orders").join(
        returned, F.col("o_orderkey") == F.col("orderkey")
    )
    feats = orders.select(
        F.col("is_ret"),
        F.explode(
            F.create_map(
                F.lit("priority"), F.col("o_orderpriority"),
                F.lit("order_month"), F.month("o_orderdate").cast("string"),
            )
        ).alias("feature", "category"),
    )
    # r14 tail diet: feats (lineitem orderkey-agg + orders join + explode,
    # corpus-scale) feeds cells AND tot; scored (a feature x category
    # k-row table) feeds the per-feature IV AND the output join — each
    # un-persisted tail re-planned its whole chain. release: caller
    feats = feats.persist()
    cells = feats.groupBy("feature", "category").agg(
        F.sum("is_ret").cast("long").alias("n_pos"),
        F.sum(1 - F.col("is_ret")).cast("long").alias("n_neg"),
    )
    tot = feats.agg(
        F.sum("is_ret").cast("long").alias("_pos"),
        F.sum(1 - F.col("is_ret")).cast("long").alias("_neg"),
    )
    scored = (
        cells.filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
        .join(F.broadcast(tot))
        .withColumn(
            "woe",
            F.round(F.log((F.col("n_pos") * F.col("_neg")) / (F.col("n_neg") * F.col("_pos"))), 6),
        )
        .withColumn(
            "contrib",
            F.round(
                (F.col("n_pos") / F.col("_pos") - F.col("n_neg") / F.col("_neg")) * F.col("woe"),
                12,
            ).cast(ACC_DEC),
        )
    ).persist()  # release: caller (see diet note above)
    iv = scored.groupBy(F.col("feature").alias("_f")).agg(
        F.round(F.sum("contrib").cast("double"), 6).alias("iv")
    )
    return scored.join(F.broadcast(iv), F.col("feature") == F.col("_f")).select(
        "feature", "category", "n_pos", "n_neg", "woe", "iv"
    )


register(
    "ml_woe_iv",
    ml_woe_iv,
    """
WITH ret AS (
  SELECT l_orderkey AS orderkey,
         max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS is_ret
  FROM lineitem GROUP BY 1
),
o AS (SELECT orders.*, ret.is_ret FROM orders JOIN ret ON o_orderkey = orderkey),
feats AS (
  SELECT is_ret, 'priority' AS feature, o_orderpriority AS category FROM o
  UNION ALL
  SELECT is_ret, 'order_month', CAST(month(o_orderdate) AS VARCHAR) FROM o
),
cells AS (
  SELECT feature, category,
         CAST(sum(is_ret) AS BIGINT) AS n_pos,
         CAST(sum(1 - is_ret) AS BIGINT) AS n_neg
  FROM feats GROUP BY 1, 2
),
tot AS (SELECT CAST(sum(is_ret) AS BIGINT) AS pos, CAST(sum(1 - is_ret) AS BIGINT) AS neg FROM feats),
scored AS (
  SELECT feature, category, n_pos, n_neg,
         round(ln(CAST(n_pos * neg AS DOUBLE) / CAST(n_neg * pos AS DOUBLE)), 6) AS woe,
         CAST(round((CAST(n_pos AS DOUBLE) / pos - CAST(n_neg AS DOUBLE) / neg)
                    * round(ln(CAST(n_pos * neg AS DOUBLE) / CAST(n_neg * pos AS DOUBLE)), 6), 12)
              AS DECIMAL(38,12)) AS contrib
  FROM cells, tot
  WHERE n_pos > 0 AND n_neg > 0
)
SELECT feature, category, n_pos, n_neg, woe,
       round(CAST(sum(contrib) OVER (PARTITION BY feature) AS DOUBLE), 6) AS iv
FROM scored
""",
)


# ---------------------------------------------------------------------------
# ml_class_weights — inverse-frequency class weights over the embedding
# labels (the loss-reweighting table a trainer consumes for imbalanced
# classes): w_c = N / (k · n_c), one division per class.
# ---------------------------------------------------------------------------
def ml_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    # r14 tail diet: feeds the 1-row total AND the weight join — persist
    # or the label agg over the corpus runs twice (k-row table).
    # release: caller (cache contract, queries/__init__)
    per_label = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n")).persist()
    tot = per_label.agg(
        F.sum("n").alias("_N"), F.count(F.lit(1)).alias("_k")
    )
    return per_label.join(F.broadcast(tot)).select(
        "label",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("_N") / (F.col("_k") * F.col("n")), 6).alias("weight"),
    )


register(
    "ml_class_weights",
    ml_class_weights,
    """
WITH pl AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM embeddings GROUP BY label),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total_n, CAST(count(*) AS BIGINT) AS k FROM pl)
SELECT label, n, round(CAST(total_n AS DOUBLE) / (k * n), 6) AS weight
FROM pl, tot
""",
)


# ---------------------------------------------------------------------------
# window_percent_rank_cume — the relative-rank window family on customer
# balances per market segment: percent_rank, cume_dist, quartile (ntile).
# Partitioned by segment, so the sort distributes; every output double is
# a single division of exact ints.
# ---------------------------------------------------------------------------
def window_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        "c_mktsegment",
        "c_acctbal",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


register(
    "window_percent_rank_cume",
    window_percent_rank_cume,
    """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_mktsegment, c_acctbal,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC)
""",
)


# ---------------------------------------------------------------------------
# func_maps — the MapType function surface (map_from_entries, map_filter,
# transform_values, map_entries) over per-cohort event-type counts, with
# the result canonicalized to a sorted "k:v" string so the comparison is
# engine-portable (DuckDB builds the same string from the sorted list
# directly). Entry order is pinned by sorting the struct list BEFORE
# map_from_entries — Spark maps preserve insertion order.
# ---------------------------------------------------------------------------
_MAP_MIN_COUNT = 3


def func_maps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ct = (
        read_table(spark, sf_dir, "events")
        .select((F.col("user_id") % 20).cast("long").alias("cohort"), "event_type")
        .groupBy("cohort", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    m = ct.groupBy("cohort").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "n")))
        ).alias("m")
    )
    out = m.select(
        "cohort",
        F.size("m").cast("long").alias("n_types"),
        F.transform_values(
            F.map_filter(F.col("m"), lambda _, v: v >= _MAP_MIN_COUNT),
            lambda _, v: v * 2,
        ).alias("m2"),
    )
    return out.select(
        "cohort",
        "n_types",
        F.concat_ws(
            ",",
            F.transform(
                F.map_entries("m2"),
                lambda e: F.concat_ws(":", e["key"], e["value"].cast("string")),
            ),
        ).alias("doubled_counts"),
    )


register(
    "func_maps",
    func_maps,
    f"""
WITH ct AS (
  SELECT CAST(user_id % 20 AS BIGINT) AS cohort, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
agg AS (
  SELECT cohort, CAST(count(*) AS BIGINT) AS n_types,
         array_to_string(
           list_transform(
             list_sort(list(event_type || ':' ORDER BY event_type)
             ), x -> x), ',') AS _unused,
         array_to_string(
           list_transform(
             list_filter(list({{'k': event_type, 'v': n}} ORDER BY event_type),
                         e -> e.v >= {_MAP_MIN_COUNT}),
             e -> e.k || ':' || CAST(e.v * 2 AS VARCHAR)),
           ',') AS doubled_counts
  FROM ct GROUP BY cohort
)
SELECT cohort, n_types, doubled_counts FROM agg
""",
)


# ---------------------------------------------------------------------------
# graph_bfs_frontier — 2-hop breadth-first frontier sizes from the 3
# lowest-id vertices of the duplicate-pair graph (the same edge derivation
# connected-components / pagerank / triangles use — provenance:
# textq._COMPONENTS_EDGES_SQL). Distributed BFS is vertex-keyed equi-joins
# against the (persisted, both-direction) edge list; hop-2 excludes
# already-visited vertices by anti-join, not by driver-side sets.
# ---------------------------------------------------------------------------
_BFS_SEEDS = 3


def _dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dup_pairs(corpus(spark, sf_dir)).distinct()


def graph_bfs_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = _dup_edges(spark, sf_dir)
    d = (
        und.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(und.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .persist()  # release: caller (cache contract, queries/__init__)
    )
    seeds = (
        d.select(F.col("src").alias("seed")).distinct().orderBy("seed").limit(_BFS_SEEDS)
    )
    hop1 = (
        seeds.join(d, F.col("seed") == F.col("src"))
        .filter(F.col("dst") != F.col("seed"))
        .select("seed", F.col("dst").alias("v1"))
        .distinct()
        # r14 tail diet: hop1 feeds hop2's expansion, hop2's visited
        # anti-join AND the h1 count — three un-persisted consumers each
        # re-planned the seed join + distinct. release: caller
        .persist()
    )
    hop2 = (
        hop1.join(d, F.col("v1") == F.col("src"))
        .filter(F.col("dst") != F.col("seed"))
        .select("seed", F.col("dst").alias("v2"))
        .distinct()
        .join(
            hop1.select("seed", F.col("v1").alias("v2")),
            ["seed", "v2"],
            "left_anti",
        )
    )
    h1 = hop1.groupBy("seed").agg(F.count(F.lit(1)).cast("long").alias("n_hop1"))
    h2 = hop2.groupBy("seed").agg(F.count(F.lit(1)).cast("long").alias("n_hop2"))
    return (
        h1.join(h2, "seed", "left")
        .select(
            F.col("seed").cast("long").alias("seed"),
            "n_hop1",
            F.coalesce(F.col("n_hop2"), F.lit(0)).cast("long").alias("n_hop2"),
        )
    )


def _bfs_oracle() -> str:
    from cyrela_etl_spark.queries.textq import _COMPONENTS_EDGES_SQL

    return f"""
WITH corpus AS ({CORPUS_SQL}),
{_COMPONENTS_EDGES_SQL.strip()},
e AS (SELECT DISTINCT id_a, id_b FROM pairs),
d AS (SELECT id_a AS src, id_b AS dst FROM e UNION SELECT id_b, id_a FROM e),
seeds AS (SELECT DISTINCT src AS seed FROM d ORDER BY seed LIMIT {_BFS_SEEDS}),
hop1 AS (
  SELECT DISTINCT s.seed, d.dst AS v1 FROM seeds s JOIN d ON s.seed = d.src
  WHERE d.dst <> s.seed
),
hop2 AS (
  SELECT DISTINCT h.seed, d.dst AS v2 FROM hop1 h JOIN d ON h.v1 = d.src
  WHERE d.dst <> h.seed
    AND NOT EXISTS (SELECT 1 FROM hop1 x WHERE x.seed = h.seed AND x.v1 = d.dst)
)
SELECT CAST(h1.seed AS BIGINT) AS seed,
       CAST(h1.n AS BIGINT) AS n_hop1,
       CAST(COALESCE(h2.n, 0) AS BIGINT) AS n_hop2
FROM (SELECT seed, count(*) AS n FROM hop1 GROUP BY seed) h1
LEFT JOIN (SELECT seed, count(*) AS n FROM hop2 GROUP BY seed) h2 ON h1.seed = h2.seed
"""


register("graph_bfs_frontier", graph_bfs_frontier, _bfs_oracle())


# ---------------------------------------------------------------------------
# graph_kcore_peel — two deterministic rounds of k-core peeling (k=2) on
# the duplicate-pair graph (operators/graph.py kcore_peel, which carries
# the r13/r14 plan notes): drop vertices with degree < k, recompute
# degrees on the induced subgraph, drop again; surviving node and edge
# counts per round. _dup_edges emits DISTINCT id_a < id_b pairs, which
# the peel's exact n_edges = sum(deg) div 2 relies on.
# ---------------------------------------------------------------------------
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kcore_peel(_dup_edges(spark, sf_dir))


def _kcore_oracle() -> str:
    from cyrela_etl_spark.queries.textq import _COMPONENTS_EDGES_SQL

    return f"""
WITH corpus AS ({CORPUS_SQL}),
{_COMPONENTS_EDGES_SQL.strip()},
e0 AS (SELECT DISTINCT id_a, id_b FROM pairs),
d0 AS (SELECT id_a AS v FROM e0 UNION ALL SELECT id_b FROM e0),
deg0 AS (SELECT v, count(*) AS deg FROM d0 GROUP BY v),
keep1 AS (SELECT v FROM deg0 WHERE deg >= {KCORE_K}),
e1 AS (
  SELECT id_a, id_b FROM e0
  WHERE id_a IN (SELECT v FROM keep1) AND id_b IN (SELECT v FROM keep1)
),
d1 AS (SELECT id_a AS v FROM e1 UNION ALL SELECT id_b FROM e1),
deg1 AS (SELECT v, count(*) AS deg FROM d1 GROUP BY v),
keep2 AS (SELECT v FROM deg1 WHERE deg >= {KCORE_K}),
e2 AS (
  SELECT id_a, id_b FROM e1
  WHERE id_a IN (SELECT v FROM keep2) AND id_b IN (SELECT v FROM keep2)
),
d2 AS (SELECT id_a AS v FROM e2 UNION ALL SELECT id_b FROM e2)
SELECT CAST(0 AS BIGINT) AS round,
       (SELECT CAST(count(DISTINCT v) AS BIGINT) FROM d0) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM e0) AS n_edges
UNION ALL
SELECT 1, (SELECT CAST(count(DISTINCT v) AS BIGINT) FROM d1),
          (SELECT CAST(count(*) AS BIGINT) FROM e1)
UNION ALL
SELECT 2, (SELECT CAST(count(DISTINCT v) AS BIGINT) FROM d2),
          (SELECT CAST(count(*) AS BIGINT) FROM e2)
"""


register("graph_kcore_peel", graph_kcore_peel, _kcore_oracle())


# ---------------------------------------------------------------------------
# temporal_overlap_join — interval-overlap join between per-user click
# sessions and view sessions (3-day-gap sessionization (matched to the testdata event density) on both
# sides): which browsing sessions ran concurrently with a click session?
# The join is EQUI on user_id with the overlap predicate as a residual
# filter — per-user session counts bound the blowup (power-user skew is
# the AQE-skew-join case, noted); overlap length is exact epoch-seconds
# arithmetic.
# ---------------------------------------------------------------------------
_OVL_GAP_S = 259200
_OVL_TYPE_A, _OVL_TYPE_B = "click", "view"


def _sessions(ev: DataFrame, etype: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    flagged = (
        ev.filter(F.col("event_type") == etype)
        .select("user_id", "event_id", F.unix_timestamp("ts").alias("s"))
        .withColumn("prev_s", F.lag("s").over(w))
        .withColumn(
            "new_sess",
            (F.col("prev_s").isNull() | (F.col("s") - F.col("prev_s") > _OVL_GAP_S)).cast(
                "int"
            ),
        )
        .withColumn(
            "sess_no",
            F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return flagged.groupBy("user_id", "sess_no").agg(
        F.min("s").alias("start_s"), F.max("s").alias("end_s")
    )


def temporal_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    a = _sessions(ev, _OVL_TYPE_A).select(
        "user_id",
        F.col("sess_no").alias("a_sess"),
        F.col("start_s").alias("a_start"),
        F.col("end_s").alias("a_end"),
    )
    b = _sessions(ev, _OVL_TYPE_B).select(
        F.col("user_id").alias("b_user"),
        F.col("sess_no").alias("b_sess"),
        F.col("start_s").alias("b_start"),
        F.col("end_s").alias("b_end"),
    )
    return (
        a.join(
            b,
            (F.col("user_id") == F.col("b_user"))
            & (F.col("a_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("a_end")),
        )
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("a_sess").cast("long").alias("a_sess"),
            F.col("b_sess").cast("long").alias("b_sess"),
            (F.least("a_end", "b_end") - F.greatest("a_start", "b_start"))
            .cast("long")
            .alias("overlap_secs"),
        )
    )


_OVL_SESS_SQL = """
  SELECT user_id, sess_no, min(s) AS start_s, max(s) AS end_s
  FROM (
    SELECT user_id, s,
           CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY s, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_no
    FROM (
      SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
             CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
                       IS NULL
                   OR CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id
                       ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) > {gap}
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WHERE event_type = '{etype}'
    )
  )
  GROUP BY user_id, sess_no
"""

register(
    "temporal_overlap_join",
    temporal_overlap_join,
    f"""
WITH a AS ({_OVL_SESS_SQL.format(gap=_OVL_GAP_S, etype=_OVL_TYPE_A)}),
b AS ({_OVL_SESS_SQL.format(gap=_OVL_GAP_S, etype=_OVL_TYPE_B)})
SELECT CAST(a.user_id AS BIGINT) AS user_id,
       CAST(a.sess_no AS BIGINT) AS a_sess,
       CAST(b.sess_no AS BIGINT) AS b_sess,
       CAST(least(a.end_s, b.end_s) - greatest(a.start_s, b.start_s) AS BIGINT) AS overlap_secs
FROM a JOIN b ON a.user_id = b.user_id
            AND a.start_s <= b.end_s AND b.start_s <= a.end_s
""",
)


# ---------------------------------------------------------------------------
# vector_cluster_quality — per-cluster cohesion vs separation after 2
# Lloyd rounds (operators/clustering.py kmeans_quality_profile): mean
# intra-cluster dist², nearest-other-centroid dist², and their Davies-
# Bouldin-flavored ratio. The oracle replays seeding, both iterations,
# the decimal means, AND the k×k centroid-pair argmin.
# ---------------------------------------------------------------------------
_CQ_K = 8


def vector_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.clustering import kmeans_quality_profile

    emb = fan_out(read_table(spark, sf_dir, "embeddings"))
    return kmeans_quality_profile(emb, k=_CQ_K, iterations=2)


def _cluster_quality_oracle() -> str:
    from cyrela_etl_spark.queries.vectorq import _SQL_D2

    return f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent1 AS (SELECT vec_id AS cid, v AS cv FROM base
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_CQ_K}),
a1p AS (
  SELECT b.vec_id, b.v, c.cid, {_SQL_D2.format(v='b.v', c='c.cv')} AS dist2
  FROM base b CROSS JOIN cent1 c
),
a1 AS (
  SELECT vec_id, v, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS crank
    FROM a1p)
  WHERE crank = 1
),
mexp AS (
  SELECT cid, unnest(generate_series(1, len(v))) AS pos, unnest(v) AS x FROM a1
),
m AS (
  SELECT cid, pos,
         CAST(sum(CAST(round(x, 6) AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mval
  FROM mexp GROUP BY cid, pos
),
cent2 AS (SELECT cid, list(mval ORDER BY pos) AS cv FROM m GROUP BY cid),
a2p AS (
  SELECT b.vec_id, c.cid, {_SQL_D2.format(v='b.v', c='c.cv')} AS dist2
  FROM base b CROSS JOIN cent2 c
),
a2 AS (
  SELECT vec_id, cid, dist2 FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS crank
    FROM a2p)
  WHERE crank = 1
),
coh AS (
  SELECT cid, CAST(count(*) AS BIGINT) AS n_points,
         round(CAST(sum(CAST(dist2 AS DECIMAL(20,6))) AS DOUBLE) / count(*), 6) AS mean_dist2
  FROM a2 GROUP BY cid
),
sep AS (
  SELECT a_cid, nn_cid, nn_dist2 FROM (
    SELECT a.cid AS a_cid, b.cid AS nn_cid,
           {_SQL_D2.format(v='a.cv', c='b.cv')} AS nn_dist2,
           row_number() OVER (PARTITION BY a.cid
             ORDER BY {_SQL_D2.format(v='a.cv', c='b.cv')}, b.cid) AS rn
    FROM cent2 a JOIN cent2 b ON a.cid <> b.cid
  ) WHERE rn = 1
)
SELECT CAST(coh.cid AS BIGINT) AS cid, coh.n_points, coh.mean_dist2,
       CAST(sep.nn_cid AS BIGINT) AS nn_cid, sep.nn_dist2,
       round(coh.mean_dist2 / sep.nn_dist2, 6) AS db_ratio
FROM coh JOIN sep ON coh.cid = sep.a_cid
"""


register("vector_cluster_quality", vector_cluster_quality, _cluster_quality_oracle())


# ---------------------------------------------------------------------------
# vector_ivf_pq_topk — the FAISS IndexIVFPQ composition (operators/
# similarity.py ivf_pq_topk): coarse inverted-file pruning (probe 2 of 16
# lists) + asymmetric PQ-code distance over the probed candidates. The
# oracle fuses the existing IVF and PQ oracles: same md5 seeding for both
# quantizers, same rounded-cosine list ranking, same integer-ppm ADC.
# ---------------------------------------------------------------------------
def vector_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.similarity import ivf_pq_topk
    from cyrela_etl_spark.queries.vectorq import _emb, _queries_df

    out = ivf_pq_topk(
        _emb(spark, sf_dir),
        _queries_df(spark, sf_dir),
        k=5,
        n_centroids=16,
        nprobe=2,
        m=8,
        ksub=16,
        dim=64,
    )
    return out.select(
        "query_id", F.col("rank").cast("long").alias("rank"), "vec_id", "adc_ppm"
    )


def _ivf_pq_oracle() -> str:
    from cyrela_etl_spark.queries.vectorq import _N_QUERIES, _SQL_COS

    m, ksub, dsub, n_cent, nprobe, k = 8, 16, 8, 16, 2, 5
    d2 = (
        "CAST(round((list_dot_product({a}, {a}) - 2.0 * list_dot_product({a}, {b})"
        " + list_dot_product({b}, {b})) * 1000000) AS BIGINT)"
    )
    lo = f"j*{dsub}+1"
    hi = f"j*{dsub}+{dsub}"
    return f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM base
         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_cent}),
cscored AS (
  SELECT b.vec_id, b.v, c.cid,
         row_number() OVER (
           PARTITION BY b.vec_id
           ORDER BY round({_SQL_COS.format(a='b.v', b='c.cv')}, 6) DESC, c.cid
         ) AS crank
  FROM base b CROSS JOIN cent c
),
lists AS (SELECT vec_id, cid AS list_id FROM cscored WHERE crank = 1),
probes AS (SELECT vec_id AS query_id, cid AS list_id
           FROM cscored WHERE vec_id < {_N_QUERIES} AND crank <= {nprobe}),
pqcent AS (SELECT vec_id AS cid, v AS cv FROM base
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {ksub}),
js AS (SELECT unnest(generate_series(0, {m - 1})) AS j),
books AS (SELECT js.j, pqcent.cid, pqcent.cv[{lo}:{hi}] AS cw FROM pqcent CROSS JOIN js),
dsubs AS (SELECT base.vec_id, js.j, base.v[{lo}:{hi}] AS sub FROM base CROSS JOIN js),
cand AS (
  SELECT d.vec_id, d.j, b.cid, {d2.format(a='d.sub', b='b.cw')} AS d2
  FROM dsubs d JOIN books b ON d.j = b.j
),
codes AS (
  SELECT vec_id, j, cid AS code FROM (
    SELECT vec_id, j, cid,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY d2 ASC, cid ASC) AS rn
    FROM cand
  ) WHERE rn = 1
),
qsubs AS (SELECT vec_id AS query_id, j, sub FROM dsubs WHERE vec_id < {_N_QUERIES}),
dtable AS (
  SELECT q.query_id, q.j, b.cid, {d2.format(a='q.sub', b='b.cw')} AS d2_ppm
  FROM qsubs q JOIN books b ON q.j = b.j
),
pairs AS (
  SELECT p.query_id, l.vec_id
  FROM lists l JOIN probes p ON l.list_id = p.list_id
  WHERE l.vec_id <> p.query_id
),
scored AS (
  SELECT pr.query_id, c.vec_id, CAST(sum(t.d2_ppm) AS BIGINT) AS adc_ppm
  FROM pairs pr
  JOIN codes c ON c.vec_id = pr.vec_id
  JOIN dtable t ON t.query_id = pr.query_id AND t.j = c.j AND t.cid = c.code
  GROUP BY pr.query_id, c.vec_id
),
ranked AS (
  SELECT query_id, vec_id, adc_ppm,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc_ppm ASC, vec_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, adc_ppm FROM ranked WHERE rank <= {k}
"""


register("vector_ivf_pq_topk", vector_ivf_pq_topk, _ivf_pq_oracle())


# ---------------------------------------------------------------------------
# multimodal_duplicate_assets — content-hash dedup over a BINARY asset
# column (the object-store asset-dedup pattern: group by (md5, n_bytes),
# keep the lowest-id canonical, report copy counts and wasted bytes).
# Assets are the planted corpus binarized to UTF-8 payloads
# (operators/multimodal.py binarize_text), so Spark hashes the BINARY
# column while the oracle hashes the source text — byte-identical by
# construction, which is exactly the property a content-addressed store
# relies on. One combinable hash-agg; no shuffled payloads (only the
# 16-byte digest + length travel).
# ---------------------------------------------------------------------------
def multimodal_duplicate_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.multimodal import binarize_text

    assets = binarize_text(corpus(spark, sf_dir))
    return (
        assets.select(
            "doc_id",
            F.md5("payload").alias("content_md5"),
            F.length("payload").cast("long").alias("n_bytes"),
        )
        .groupBy("content_md5", "n_bytes")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.min("doc_id").cast("long").alias("canonical_id"),
        )
        .filter(F.col("n_copies") > 1)
        .select(
            "content_md5",
            "n_bytes",
            "n_copies",
            "canonical_id",
            ((F.col("n_copies") - 1) * F.col("n_bytes")).cast("long").alias("wasted_bytes"),
        )
    )


register(
    "multimodal_duplicate_assets",
    multimodal_duplicate_assets,
    f"""
WITH corpus AS ({CORPUS_SQL}),
assets AS (
  SELECT doc_id, md5(text) AS content_md5,
         CAST(strlen(text) AS BIGINT) AS n_bytes
  FROM corpus
)
SELECT content_md5, n_bytes,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(min(doc_id) AS BIGINT) AS canonical_id,
       CAST((count(*) - 1) * n_bytes AS BIGINT) AS wasted_bytes
FROM assets
GROUP BY content_md5, n_bytes
HAVING count(*) > 1
""",
)


# ---------------------------------------------------------------------------
# vector_jl_projection — Johnson-Lindenstrauss random-projection recall:
# project dim-64 vectors onto 16 fixed Gaussian directions (md5-free but
# seed-pinned, the RHP-LSH plane discipline), run L2 top-k in the
# projected space, and report per-query overlap against the exact top-k —
# the dimensionality-reduction rung of the ANN ladder (JL 1984; the
# distance-distortion bound is what makes 4× cheaper scans admissible).
# Projections are fixed literals (16×64 — the documented upper bound for
# plan-literal planes; beyond this ship a broadcast table like IVF).
# ---------------------------------------------------------------------------
_JL_DIM, _JL_SEED = 16, 7


def _jl_planes() -> list[list[float]]:
    from cyrela_etl_spark.operators.similarity import _hyperplanes

    return _hyperplanes(64, _JL_DIM, seed=_JL_SEED)


def vector_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.functions.vectors import dot, to_double_array
    from cyrela_etl_spark.operators.similarity import l2_topk
    from cyrela_etl_spark.queries.vectorq import _K, _emb, _queries_df

    planes = _jl_planes()

    def project(df: DataFrame, id_expr: str, out_id: str) -> DataFrame:
        v = to_double_array("embedding")
        proj = F.array(
            *[
                F.round(dot(v, F.array(*[F.lit(float(x)) for x in p])), 6)
                for p in planes
            ]
        )
        return df.select(F.col(id_expr).alias(out_id), proj.alias("embedding"))

    exact = l2_topk(_emb(spark, sf_dir), _queries_df(spark, sf_dir), k=_K).select(
        "query_id", "vec_id"
    )
    approx = l2_topk(
        project(_emb(spark, sf_dir), "vec_id", "vec_id"),
        project(_queries_df(spark, sf_dir), "query_id", "query_id"),
        k=_K,
    ).select("query_id", F.col("vec_id").alias("hit_id"))
    joined = exact.join(
        approx,
        (exact["query_id"] == approx["query_id"]) & (exact["vec_id"] == approx["hit_id"]),
        "left",
    ).select(exact["query_id"].alias("qid"), "hit_id")
    return (
        joined.groupBy("qid")
        .agg(F.count("hit_id").cast("long").alias("n_hits"))
        .select(
            F.col("qid").alias("query_id"),
            "n_hits",
            F.round(F.col("n_hits") / F.lit(float(_K)), 6).alias("recall_at_k"),
        )
    )


def _jl_oracle() -> str:
    from cyrela_etl_spark.queries.vectorq import _K, _N_QUERIES, ORACLE_L2

    planes = _jl_planes()
    proj = "[" + ", ".join(
        f"round(list_dot_product(v, [{', '.join(repr(float(x)) for x in p)}]), 6)"
        for p in planes
    ) + "]"
    return f"""
WITH d0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pd AS (SELECT vec_id, {proj} AS v FROM d0),
pq AS (SELECT vec_id AS query_id, v AS qv FROM pd WHERE vec_id < {_N_QUERIES}),
ascored AS (
  SELECT pq.query_id, pd.vec_id,
         round(sqrt(greatest(
           list_dot_product(pq.qv, pq.qv)
           - 2.0 * list_dot_product(pq.qv, pd.v)
           + list_dot_product(pd.v, pd.v), 0.0)), 6) AS l2_dist
  FROM pd JOIN pq ON pd.vec_id <> pq.query_id
),
approx AS (
  SELECT query_id, vec_id AS hit_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY l2_dist ASC, vec_id) AS rank
    FROM ascored) WHERE rank <= {_K}
),
exact AS (SELECT query_id, vec_id FROM ({ORACLE_L2}) t)
SELECT e.query_id,
       CAST(count(a.hit_id) AS BIGINT) AS n_hits,
       round(count(a.hit_id) / CAST({_K} AS DOUBLE), 6) AS recall_at_k
FROM exact e LEFT JOIN approx a
  ON e.query_id = a.query_id AND e.vec_id = a.hit_id
GROUP BY e.query_id
"""


register("vector_jl_projection", vector_jl_projection, _jl_oracle())


# ---------------------------------------------------------------------------
# graph_degree_distribution — the degree histogram of the duplicate-pair
# graph plus cumulative node share (the heavy-tail diagnostic that decides
# whether hub-mitigation — orientation, salting — is needed before any
# pairwise graph op). Bounded output: one row per distinct degree.
# ---------------------------------------------------------------------------
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persist: the symmetrizing union reads the edge set twice, and with
    # pair-graph inputs each read would otherwise recompute the corpus
    # self-joins behind _dup_edges (the integer_pagerank precedent;
    # r13 multi-consumer-tail sweep)
    und = _dup_edges(spark, sf_dir).persist()  # release: caller (cache contract, queries/__init__)
    deg = (
        und.select(F.col("id_a").alias("v"))
        .unionByName(und.select(F.col("id_b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # histogram-sized; feeds both the cumulative window and the 1-row total
    hist = deg.groupBy("deg").agg(F.count(F.lit(1)).alias("n_nodes")).persist()  # release: caller
    tot = hist.agg(F.sum("n_nodes").alias("_tn"))
    w = Window.orderBy(F.col("deg").desc()).rowsBetween(Window.unboundedPreceding, 0)
    return (
        hist.withColumn("cum_nodes", F.sum("n_nodes").over(w))
        .join(F.broadcast(tot))
        .select(
            F.col("deg").cast("long").alias("degree"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("cum_nodes").cast("long").alias("cum_nodes"),
            (F.col("cum_nodes") / F.col("_tn")).alias("node_share"),
        )
    )


def _degree_dist_oracle() -> str:
    from cyrela_etl_spark.queries.textq import _COMPONENTS_EDGES_SQL

    return f"""
WITH corpus AS ({CORPUS_SQL}),
{_COMPONENTS_EDGES_SQL.strip()},
e AS (SELECT DISTINCT id_a, id_b FROM pairs),
deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS deg
  FROM (SELECT id_a AS v FROM e UNION ALL SELECT id_b FROM e) GROUP BY v
),
hist AS (SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes FROM deg GROUP BY deg),
tot AS (SELECT CAST(sum(n_nodes) AS BIGINT) AS tn FROM hist)
SELECT deg AS degree, n_nodes,
       CAST(sum(n_nodes) OVER (ORDER BY deg DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_nodes,
       CAST(sum(n_nodes) OVER (ORDER BY deg DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         / CAST(tn AS DOUBLE) AS node_share
FROM hist, tot
"""


register("graph_degree_distribution", graph_degree_distribution, _degree_dist_oracle())


# ---------------------------------------------------------------------------
# func_struct_ops — the StructType function surface: struct construction,
# withField enrichment, struct-ordered collect + slice (top-3 per
# nation), canonicalized to strings both engines can build. Struct sort
# order is pinned by (acctbal DESC, custkey DESC) on both sides.
# ---------------------------------------------------------------------------
def func_struct_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.struct(
            F.col("c_acctbal").alias("bal"),
            F.col("c_custkey").alias("ck"),
            F.col("c_mktsegment").alias("seg"),
        ).withField("rich", F.col("c_acctbal") > 5000).alias("s"),
    )
    top3 = cust.groupBy(F.col("c_nationkey").cast("long").alias("nationkey")).agg(
        F.slice(F.sort_array(F.collect_list("s"), asc=False), 1, 3).alias("top")
    )
    return top3.select(
        "nationkey",
        F.size("top").cast("long").alias("n_top"),
        F.concat_ws(
            ",",
            F.transform(
                "top",
                lambda s: F.concat_ws(
                    ":",
                    s["ck"].cast("string"),
                    s["bal"].cast("string"),
                    s["seg"],
                    s["rich"].cast("string"),
                ),
            ),
        ).alias("top3"),
    )


register(
    "func_struct_ops",
    func_struct_ops,
    """
SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
       CAST(least(count(*), 3) AS BIGINT) AS n_top,
       array_to_string(
         list_transform(
           (list({'ck': c_custkey, 'bal': c_acctbal, 'seg': c_mktsegment,
                  'rich': c_acctbal > 5000}
                 ORDER BY c_acctbal DESC, c_custkey DESC))[1:3],
           s -> CAST(s.ck AS VARCHAR) || ':' || CAST(s.bal AS VARCHAR) || ':'
                || s.seg || ':' || CAST(s.rich AS VARCHAR)),
         ',') AS top3
FROM customer GROUP BY c_nationkey
""",
)


# ---------------------------------------------------------------------------
# temporal_asof_tolerance — as-of join with a max-staleness bound (the
# pandas merge_asof `tolerance=` / kdb wj-window semantic): each click
# takes the latest purchase at-or-before it ONLY if it is at most 7 days
# old; staler matches null out. Reuses the single-window union as-of
# (operators/temporal.py asof_join) with the matched timestamp carried
# through as a value column; the age test is exact integer seconds.
# ---------------------------------------------------------------------------
_ASOF_TOL_S = 7 * 86400


def temporal_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators.temporal import asof_join

    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("value").alias("p_value")
    )
    out = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="p_ts",
        right_value_cols=["p_value", "p_ts"],
        suffix="",
    )
    age = F.unix_timestamp("ts") - F.unix_timestamp("p_ts")
    fresh = F.col("p_ts").isNotNull() & (age <= _ASOF_TOL_S)
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.when(fresh, F.col("p_value")).alias("last_purchase_value"),
        F.when(fresh, age).cast("long").alias("staleness_s"),
    )


register(
    "temporal_asof_tolerance",
    temporal_asof_tolerance,
    f"""
WITH clicks AS (SELECT event_id, ts, user_id, value FROM events WHERE event_type = 'click'),
purchases AS (SELECT user_id, ts AS p_ts, value AS p_value FROM events WHERE event_type = 'purchase')
SELECT c.event_id, c.user_id, c.ts,
       CASE WHEN p.p_ts IS NOT NULL
             AND CAST(floor(epoch(c.ts)) AS BIGINT) - CAST(floor(epoch(p.p_ts)) AS BIGINT)
                 <= {_ASOF_TOL_S}
            THEN p.p_value END AS last_purchase_value,
       CASE WHEN p.p_ts IS NOT NULL
             AND CAST(floor(epoch(c.ts)) AS BIGINT) - CAST(floor(epoch(p.p_ts)) AS BIGINT)
                 <= {_ASOF_TOL_S}
            THEN CAST(floor(epoch(c.ts)) AS BIGINT) - CAST(floor(epoch(p.p_ts)) AS BIGINT)
       END AS staleness_s
FROM clicks c ASOF LEFT JOIN purchases p ON c.user_id = p.user_id AND p.p_ts <= c.ts
""",
)


# ---------------------------------------------------------------------------
# scale_partition_balance — hash-partition balance audit: bucket the fact
# by the PORTABLE id hash (md5-prefix mod N — the engine's stable_hash64,
# so the oracle replays bucket assignment exactly) and report per-bucket
# row counts + imbalance vs the uniform share. This is the pre-flight a
# 1000-executor job runs before choosing a partitioning key: max_ratio
# near 1.0 → balanced shuffle; ≫1 → salt or re-key.
# ---------------------------------------------------------------------------
_PB_BUCKETS = 32


def scale_partition_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.functions.hashing import stable_hash64

    orders = read_table(spark, sf_dir, "orders")
    b = orders.select(
        F.pmod(stable_hash64(F.col("o_custkey").cast("string")), F.lit(_PB_BUCKETS)).alias(
            "bucket"
        )
    )
    # r14 tail diet: hist feeds the 1-row total AND the ratio join —
    # persist (N_BUCKETS rows) or the fact-scale hash agg runs twice.
    # release: caller
    hist = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_rows")).persist()
    tot = hist.agg(F.sum("n_rows").alias("_t"))
    return (
        hist.join(F.broadcast(tot))
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.round((F.col("n_rows") * _PB_BUCKETS) / F.col("_t"), 6).alias("load_ratio"),
        )
    )


def _partition_balance_oracle() -> str:
    from cyrela_etl_spark.queries.textq import sql_hex64

    h = sql_hex64("CAST(o_custkey AS VARCHAR)")
    return f"""
WITH b AS (SELECT {h} % {_PB_BUCKETS} AS bucket FROM orders),
hist AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows FROM b GROUP BY bucket),
tot AS (SELECT CAST(sum(n_rows) AS BIGINT) AS t FROM hist)
SELECT CAST(bucket AS BIGINT) AS bucket, n_rows,
       round(CAST(n_rows * {_PB_BUCKETS} AS DOUBLE) / CAST(t AS DOUBLE), 6) AS load_ratio
FROM hist, tot
"""


register("scale_partition_balance", scale_partition_balance, _partition_balance_oracle())


# ---------------------------------------------------------------------------
# corpus_quality_ablation — per-rule ablation of the Gopher filter set
# (rule expressions verbatim from queries/textq.py quality_gopher_rules
# — kept in sync by the shared constants): for each
# rule, how many documents fail it, how many fail ONLY it (the rule's
# marginal kill count — the number a threshold change would save), and
# its removal share. One pass over the corpus, one aggregate, 5-row
# unpivot.
# ---------------------------------------------------------------------------
def corpus_quality_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = X.tokens(F.col("text"))
    n_words = F.size(toks).cast("long")
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    mwl = F.expr("1000 * __sum_len div __n_words").cast("long")
    staged = docs.select(
        F.col("doc_id"),
        n_words.alias("__n_words"),
        sum_len.alias("__sum_len"),
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("long").alias("__n_alpha"),
        X.stopword_count(F.col("text")).cast("long").alias("__n_stop"),
    ).filter(F.col("__n_words") > 0)
    flags = staged.select(
        (~(F.col("__n_words") >= 50)).cast("int").alias("f_min_words"),
        (~(F.col("__n_words") <= 100000)).cast("int").alias("f_max_words"),
        (~((mwl >= 3000) & (mwl <= 10000))).cast("int").alias("f_word_len"),
        (~(F.col("__n_alpha") * 10 >= F.col("__n_words") * 8)).cast("int").alias("f_alpha"),
        (~(F.col("__n_stop") >= 2)).cast("int").alias("f_stop"),
    )
    rules = ["min_words", "max_words", "word_len", "alpha", "stop"]
    cols = [f"f_{r}" for r in rules]
    total_f = sum(F.col(c) for c in cols)
    agg = flags.select(*cols, total_f.alias("f_total")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[F.sum(c).alias(f"n_{c}") for c in cols],
        *[
            F.sum(((F.col(c) == 1) & (F.col("f_total") == 1)).cast("int")).alias(f"o_{c}")
            for c in cols
        ],
    )
    stack = ", ".join(f"'{r}', n_f_{r}, o_f_{r}" for r in rules)
    return agg.selectExpr(
        "n_docs", f"stack({len(rules)}, {stack}) AS (rule, n_failed, n_failed_only)"
    ).select(
        "rule",
        F.col("n_failed").cast("long").alias("n_failed"),
        F.col("n_failed_only").cast("long").alias("n_failed_only"),
        F.col("n_docs").cast("long").alias("n_docs"),
        (F.col("n_failed") / F.col("n_docs")).alias("removed_share"),
    )


def _ablation_oracle() -> str:
    from cyrela_etl_spark.queries.textq import _GOPHER_SW

    return f"""
WITH staged AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS sum_len,
         CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
         CAST(len(list_filter(t, x -> list_contains([{_GOPHER_SW}], x))) AS BIGINT) AS n_stop
  FROM (SELECT doc_id, {sql_tokens('text')} AS t FROM documents)
  WHERE len(t) > 0
),
flags AS (
  SELECT CAST(NOT (n_words >= 50) AS INT) AS f_min_words,
         CAST(NOT (n_words <= 100000) AS INT) AS f_max_words,
         CAST(NOT (1000 * sum_len // n_words BETWEEN 3000 AND 10000) AS INT) AS f_word_len,
         CAST(NOT (n_alpha * 10 >= n_words * 8) AS INT) AS f_alpha,
         CAST(NOT (n_stop >= 2) AS INT) AS f_stop
  FROM staged
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(f_min_words) AS BIGINT) AS n_min_words,
         CAST(sum(f_max_words) AS BIGINT) AS n_max_words,
         CAST(sum(f_word_len) AS BIGINT) AS n_word_len,
         CAST(sum(f_alpha) AS BIGINT) AS n_alpha,
         CAST(sum(f_stop) AS BIGINT) AS n_stop,
         CAST(sum(CASE WHEN f_min_words = 1
                        AND f_min_words + f_max_words + f_word_len + f_alpha + f_stop = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS o_min_words,
         CAST(sum(CASE WHEN f_max_words = 1
                        AND f_min_words + f_max_words + f_word_len + f_alpha + f_stop = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS o_max_words,
         CAST(sum(CASE WHEN f_word_len = 1
                        AND f_min_words + f_max_words + f_word_len + f_alpha + f_stop = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS o_word_len,
         CAST(sum(CASE WHEN f_alpha = 1
                        AND f_min_words + f_max_words + f_word_len + f_alpha + f_stop = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS o_alpha,
         CAST(sum(CASE WHEN f_stop = 1
                        AND f_min_words + f_max_words + f_word_len + f_alpha + f_stop = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS o_stop
  FROM flags
)
SELECT u.rule, u.n_failed, u.n_failed_only, agg.n_docs,
       CAST(u.n_failed AS DOUBLE) / CAST(agg.n_docs AS DOUBLE) AS removed_share
FROM agg, (
  SELECT 'min_words' AS rule, n_min_words AS n_failed, o_min_words AS n_failed_only FROM agg
  UNION ALL SELECT 'max_words', n_max_words, o_max_words FROM agg
  UNION ALL SELECT 'word_len', n_word_len, o_word_len FROM agg
  UNION ALL SELECT 'alpha', n_alpha, o_alpha FROM agg
  UNION ALL SELECT 'stop', n_stop, o_stop FROM agg
) u
"""


register("corpus_quality_ablation", corpus_quality_ablation, _ablation_oracle())


# ---------------------------------------------------------------------------
# agg_percentile_cont — exact linear-interpolated percentiles (the
# PERCENTILE_CONT surface) of order totals per priority. Spark
# percentile() and DuckDB quantile_cont() share the (1−f)·lo + f·hi
# interpolation; results round to 6 to absorb the last-bit difference of
# the two engines' interpolation arithmetic.
# ---------------------------------------------------------------------------
_PCTS = (0.25, 0.5, 0.75, 0.95)


def agg_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            F.round(F.expr(f"percentile(o_totalprice, {p})"), 6).alias(
                f"p{int(p * 100)}"
            )
            for p in _PCTS
        ],
    )


register(
    "agg_percentile_cont",
    agg_percentile_cont,
    f"""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       {", ".join(f"round(quantile_cont(o_totalprice, {p}), 6) AS p{int(p * 100)}" for p in _PCTS)}
FROM orders GROUP BY o_orderpriority
""",
)


# ---------------------------------------------------------------------------
# events_conversion_wilson — click→purchase conversion per user cohort
# with the Wilson 95% score interval (the A/B-dashboard standard for
# small-n rates; Wilson 1927). x and n are exact ints; the interval is a
# FIXED IEEE expression chain over (x, n) written identically on both
# engines, rounded to 6 at the boundary.
# ---------------------------------------------------------------------------
_WILSON_Z2 = "3.8415"  # z=1.96 → z² to 4 decimals, exact in both parsers


def events_conversion_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy((F.col("user_id") % 10).cast("long").alias("cohort"), "user_id").agg(
        F.max((F.col("event_type") == "click").cast("int")).alias("clicked"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("purchased"),
    )
    cohort = per_user.filter(F.col("clicked") == 1).groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("purchased").cast("long").alias("x"),
    )
    z2 = F.lit(float(_WILSON_Z2))
    n, x = F.col("n").cast("double"), F.col("x").cast("double")
    p = x / n
    center = (p + z2 / (2 * n)) / (1 + z2 / n)
    half = (F.sqrt((p * (1 - p)) / n + z2 / (4 * n * n)) * F.sqrt(z2)) / (1 + z2 / n)
    return cohort.select(
        "cohort",
        "n",
        "x",
        F.round(p, 6).alias("rate"),
        F.round(center - half, 6).alias("wilson_lo"),
        F.round(center + half, 6).alias("wilson_hi"),
    )


register(
    "events_conversion_wilson",
    events_conversion_wilson,
    f"""
WITH per_user AS (
  SELECT CAST(user_id % 10 AS BIGINT) AS cohort, user_id,
         max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicked,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased
  FROM events GROUP BY 1, 2
),
cohort AS (
  SELECT cohort, CAST(count(*) AS BIGINT) AS n, CAST(sum(purchased) AS BIGINT) AS x
  FROM per_user WHERE clicked = 1 GROUP BY cohort
)
SELECT cohort, n, x,
       round(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
       round((CAST(x AS DOUBLE) / CAST(n AS DOUBLE) + {_WILSON_Z2} / (2 * CAST(n AS DOUBLE)))
               / (1 + {_WILSON_Z2} / CAST(n AS DOUBLE))
             - (sqrt((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
                      * (1 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE))) / CAST(n AS DOUBLE)
                     + {_WILSON_Z2} / (4 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                * sqrt({_WILSON_Z2}))
               / (1 + {_WILSON_Z2} / CAST(n AS DOUBLE)), 6) AS wilson_lo,
       round((CAST(x AS DOUBLE) / CAST(n AS DOUBLE) + {_WILSON_Z2} / (2 * CAST(n AS DOUBLE)))
               / (1 + {_WILSON_Z2} / CAST(n AS DOUBLE))
             + (sqrt((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
                      * (1 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE))) / CAST(n AS DOUBLE)
                     + {_WILSON_Z2} / (4 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                * sqrt({_WILSON_Z2}))
               / (1 + {_WILSON_Z2} / CAST(n AS DOUBLE)), 6) AS wilson_hi
FROM cohort
""",
)


# ---------------------------------------------------------------------------
# vector_centroid_shift — Lloyd convergence probe: squared distance each
# seed centroid moved after one refinement round (seed → decimal mean of
# its assigned points). Complements vector_cluster_quality (same seeding,
# same decimal means, same rounded dist²); a curation pipeline reads this
# to decide whether more k-means rounds are worth their passes.
# ---------------------------------------------------------------------------
def vector_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.functions.vectors import to_double_array
    from cyrela_etl_spark.operators.clustering import _assign, _dist2, _means

    emb = fan_out(read_table(spark, sf_dir, "embeddings"))
    base = emb.select(F.col("vec_id"), to_double_array("embedding").alias("v"))
    seeds = (
        base.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(_CQ_K)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )
    refined = _means(_assign(base, seeds)).select(
        F.col("cid").alias("r_cid"), F.col("cv").alias("r_cv")
    )
    return (
        seeds.join(refined, F.col("cid") == F.col("r_cid"))
        .select(
            F.col("cid").cast("long").alias("cid"),
            _dist2(F.col("cv"), F.col("r_cv")).alias("shift_dist2"),
        )
    )


def _centroid_shift_oracle() -> str:
    from cyrela_etl_spark.queries.vectorq import _SQL_D2

    return f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent1 AS (SELECT vec_id AS cid, v AS cv FROM base
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_CQ_K}),
a1 AS (
  SELECT vec_id, v, cid FROM (
    SELECT b.vec_id, b.v, c.cid,
           row_number() OVER (PARTITION BY b.vec_id
             ORDER BY {_SQL_D2.format(v='b.v', c='c.cv')}, c.cid) AS crank
    FROM base b CROSS JOIN cent1 c)
  WHERE crank = 1
),
m AS (
  SELECT cid, pos,
         CAST(sum(CAST(round(x, 6) AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mval
  FROM (SELECT cid, unnest(generate_series(1, len(v))) AS pos, unnest(v) AS x FROM a1)
  GROUP BY cid, pos
),
cent2 AS (SELECT cid, list(mval ORDER BY pos) AS cv FROM m GROUP BY cid)
SELECT CAST(c1.cid AS BIGINT) AS cid,
       {_SQL_D2.format(v='c1.cv', c='c2.cv')} AS shift_dist2
FROM cent1 c1 JOIN cent2 c2 ON c1.cid = c2.cid
"""


register("vector_centroid_shift", vector_centroid_shift, _centroid_shift_oracle())


# ---------------------------------------------------------------------------
# graph_component_sizes — duplicate-cluster size distribution: connected
# components over the dup graph (operators/dedup.py connected_components,
# same derivation as dedup_components), collapsed to a size histogram —
# the dedup audit that says "are dups pairs, or one giant blob?" (a giant
# component usually means a too-permissive key). Bounded output: one row
# per distinct cluster size.
# ---------------------------------------------------------------------------
def graph_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators import dedup as D

    edges = _dup_edges(spark, sf_dir)
    comp = D.connected_components(edges)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    return (
        sizes.groupBy("sz")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            F.col("sz").cast("long").alias("cluster_size"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
            (F.col("sz") * F.col("n_clusters")).cast("long").alias("n_docs"),
        )
    )


def _component_sizes_oracle() -> str:
    from cyrela_etl_spark.queries.textq import _COMPONENTS_EDGES_SQL

    return f"""
WITH RECURSIVE corpus AS ({CORPUS_SQL}),
{_COMPONENTS_EDGES_SQL.strip()},
e AS (SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(id, r) AS (
  SELECT s, d FROM e
  UNION
  SELECT reach.id, e.d FROM reach JOIN e ON reach.r = e.s
),
comp AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id),
sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS sz FROM comp GROUP BY component)
SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sz * count(*) AS BIGINT) AS n_docs
FROM sizes GROUP BY sz
"""


register("graph_component_sizes", graph_component_sizes, _component_sizes_oracle())


# ---------------------------------------------------------------------------
# events_funnel_conversion_time — time-to-convert between funnel stages:
# per user, FIRST occurrence of each stage; per ordered stage pair, the
# converting-user count and the exact interpolated median / p90 of the
# conversion delay (only users who did convert, forward in time). First-
# occurrence agg + one self-join on user over the 3-row-per-user stage
# table; percentiles over per-pair groups.
# ---------------------------------------------------------------------------
_FUNNEL_STAGES = ("signup", "click", "purchase")


def events_funnel_conversion_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    firsts = (
        ev.filter(F.col("event_type").isin(*_FUNNEL_STAGES))
        .groupBy("user_id", "event_type")
        .agg(F.min(F.unix_timestamp("ts")).alias("first_s"))
        # r14 tail diet: both self-join sides consume firsts — persist or
        # the first-occurrence agg over the event stream runs twice.
        # release: caller
        .persist()
    )
    pairs = [
        (a, b) for i, a in enumerate(_FUNNEL_STAGES) for b in _FUNNEL_STAGES[i + 1:]
    ]
    a = firsts.select(
        "user_id", F.col("event_type").alias("from_stage"), F.col("first_s").alias("a_s")
    )
    b = firsts.select(
        F.col("user_id").alias("b_user"),
        F.col("event_type").alias("to_stage"),
        F.col("first_s").alias("b_s"),
    )
    conv = (
        a.join(b, (F.col("user_id") == F.col("b_user")) & (F.col("a_s") <= F.col("b_s")))
        .filter(
            F.concat_ws(">", "from_stage", "to_stage").isin(
                *[f"{x}>{y}" for x, y in pairs]
            )
        )
        .select("from_stage", "to_stage", (F.col("b_s") - F.col("a_s")).alias("delay_s"))
    )
    return conv.groupBy("from_stage", "to_stage").agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.round(F.expr("percentile(delay_s, 0.5)"), 6).alias("median_delay_s"),
        F.round(F.expr("percentile(delay_s, 0.9)"), 6).alias("p90_delay_s"),
    )


register(
    "events_funnel_conversion_time",
    events_funnel_conversion_time,
    f"""
WITH firsts AS (
  SELECT user_id, event_type, CAST(min(floor(epoch(ts))) AS BIGINT) AS first_s
  FROM events
  WHERE event_type IN ({", ".join(f"'{s}'" for s in _FUNNEL_STAGES)})
  GROUP BY 1, 2
),
conv AS (
  SELECT a.event_type AS from_stage, b.event_type AS to_stage,
         b.first_s - a.first_s AS delay_s
  FROM firsts a JOIN firsts b
    ON a.user_id = b.user_id AND a.first_s <= b.first_s
  WHERE (a.event_type, b.event_type) IN (
    ('signup', 'click'), ('signup', 'purchase'), ('click', 'purchase'))
)
SELECT from_stage, to_stage, CAST(count(*) AS BIGINT) AS n_converted,
       round(quantile_cont(delay_s, 0.5), 6) AS median_delay_s,
       round(quantile_cont(delay_s, 0.9), 6) AS p90_delay_s
FROM conv GROUP BY 1, 2
""",
)


# ---------------------------------------------------------------------------
# dedup_shingle_size_sensitivity — calibration of the shingle width n:
# candidate-pair counts and distinct-shingle vocabulary at n ∈ {2,3,4}
# over the planted corpus, in one pass per n (the knob every MinHash
# deployment tunes first: small n → too many collisions, large n → misses
# near-dups). Pure hash-agg counts; pairs counted per shared-prefix-key
# block like the production generators.
# ---------------------------------------------------------------------------
def dedup_shingle_size_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cyrela_etl_spark.operators import dedup as D

    c = corpus(spark, sf_dir)
    outs = []
    for n in (2, 3, 4):
        sh = c.select(
            "doc_id", F.explode(D.word_shingles(F.col("text"), n)).alias("g")
        ).distinct()
        df_g = sh.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
        stats = df_g.agg(
            F.lit(n).cast("long").alias("shingle_n"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_shingles"),
            F.sum(F.when(F.col("df") > 1, 1).otherwise(0)).cast("long").alias("n_shared"),
            # integer `div`, not float /: df*(df-1)/2 through a double
            # loses exactness past 2^53 and would diverge from the
            # oracle's integer // at extreme hot-shingle df (ADVICE r8)
            F.sum(F.expr("df * (df - 1) div 2"))
            .cast("long")
            .alias("n_candidate_pairs"),
        )
        outs.append(stats)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _shingle_sens_oracle() -> str:
    from cyrela_etl_spark.queries.textq import sql_tokens

    def leg(n: int) -> str:
        return f"""
SELECT CAST({n} AS BIGINT) AS shingle_n,
       CAST(count(*) AS BIGINT) AS n_distinct_shingles,
       CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       CAST(sum(CAST(df * (df - 1) // 2 AS BIGINT)) AS BIGINT) AS n_candidate_pairs
FROM (
  SELECT g, CAST(count(*) AS BIGINT) AS df FROM (
    SELECT DISTINCT doc_id,
           unnest(list_transform(
             generate_series(1, greatest(len(t) - {n - 1}, 0)),
             i -> array_to_string(t[i:i+{n - 1}], ' '))) AS g
    FROM (SELECT doc_id, {sql_tokens('text')} AS t FROM corpus)
  ) GROUP BY g
)"""

    legs = "\nUNION ALL\n".join(leg(n) for n in (2, 3, 4))
    return f"WITH corpus AS ({CORPUS_SQL})\n{legs}"


register(
    "dedup_shingle_size_sensitivity",
    dedup_shingle_size_sensitivity,
    _shingle_sens_oracle(),
)


# ---------------------------------------------------------------------------
# corpus_token_length_histogram — log2-binned document-length histogram
# per source (the datasheet length plot): bin = floor(log2(n_tokens)),
# computed as bit_length(n_tokens) - 1 in EXACT INTEGERS (no float log),
# plus per-bin token mass. One combinable agg; bounded output.
# ---------------------------------------------------------------------------
def corpus_token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    n_tok = X.token_count(F.col("text")).cast("long")
    staged = docs.select("source", n_tok.alias("n_tok")).filter(F.col("n_tok") > 0)
    # floor(log2(n)) == bit_length(n) - 1; Spark spells it via bin()
    bin_idx = (F.length(F.conv(F.col("n_tok").cast("string"), 10, 2)) - 1).cast("long")
    return (
        staged.select("source", bin_idx.alias("len_bin"), "n_tok")
        .groupBy("source", "len_bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .select(
            "source",
            "len_bin",
            F.pow(F.lit(2.0), F.col("len_bin")).cast("long").alias("bin_lo_tokens"),
            "n_docs",
            "n_tokens",
        )
    )


register(
    "corpus_token_length_histogram",
    corpus_token_length_histogram,
    f"""
WITH staged AS (
  SELECT source, CAST(len({sql_tokens('text')}) AS BIGINT) AS n_tok FROM documents
)
, b AS (
  SELECT source, n_tok, CAST(length(bin(n_tok)) - 1 AS BIGINT) AS len_bin
  FROM staged WHERE n_tok > 0
)
SELECT source, len_bin,
       CAST(2 ** len_bin AS BIGINT) AS bin_lo_tokens,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens
FROM b GROUP BY source, len_bin
""",
)
