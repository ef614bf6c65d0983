"""Training-data selection operators: DSIR importance resampling,
cross-document repeated-n-gram detection, temperature-scaled source
rebalancing.

These are the corpus-composition stage of an LLM data pipeline — after
dedup/decontamination (d1/d2/d15), before packing (d14/d22): decide WHICH
surviving documents, and in WHAT mix, make up the training set.

Determinism discipline (the d8/d24 rule): every random draw is an
md5-derived pure function of the stable document key, so the selected
SETS are exact and engine-portable — the DuckDB oracles reproduce the
same documents, not just rate bounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lime_on_spark_spark.plans.registry import register
from lime_on_spark_spark.session import session_memo
from lime_on_spark_spark.sources.catalog import load_table

#: Hashed n-gram feature-space size for DSIR (2^10 buckets — the paper's
#: hashed n-gram trick; collisions only blur the ratio, never break it).
_DSIR_B = 1024
#: Documents selected by DSIR's Gumbel top-k.
_DSIR_K = 150


def _md5_uniform(key_col):
    """U(0,1) as a pure function of the key — the engine-portable RNG
    (first 8 md5 hex digits / 2^32), identical in Spark and DuckDB."""
    return F.conv(F.substring(F.md5(key_col.cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) / F.lit(4294967296.0)


def _md5_parity(key_col):
    """Deterministic 2-arm split: parity of the first 8 md5 hex digits.
    d82 and d86 share this ONE definition so their A/B populations can
    never silently desynchronize from each other or from the oracles'
    CAST('0x' || substr(md5(...), 1, 8)) % 2 spelling."""
    return (
        F.conv(F.substring(F.md5(key_col.cast("string")), 1, 8), 16, 10).cast(
            "long"
        )
        % 2
        == 0
    )


# --------------------------------------------------------------------------
# D56 — DSIR: Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169). Target distribution = English documents (the paper's
# "formal text" stand-in), raw = full corpus. Features are hashed word
# BIGRAMS (the paper's hashed n-gram model, n=2); per-document log
# importance weight = sum over its bigrams of ln(p_target/p_raw) with
# add-1 smoothing; selection = Gumbel top-k (log w + Gumbel noise ==
# weighted sampling WITHOUT replacement, the paper's sampler) with the
# Gumbel driven by the md5-uniform of the doc key so the sampled set is
# exact and oracle-reproducible.
#
# Corpus note: on this synthetic word-salad corpus the target affinity is
# carried largely by verbatim cross-doc n-gram duplication (langs share
# one vocabulary; a held-out classifier shows no residual lang signal —
# measured at chance), so DSIR here behaves as a duplication-affinity
# selector. The computation is exactly the paper's; on a real corpus the
# same code picks up genuine domain likeness.
#
# Scale shape: tokenize/bigram/bucket are scan-stage JVM expressions; the
# two count tables partial-aggregate map-side into at most B=1024 rows
# each, broadcast back; per-doc weight is one keyed agg; top-k is a single
# TakeOrderedAndProject-able rank. Nothing driver-side, nothing all-pairs
# — at 100 TB this is two scans and one bounded broadcast.
# --------------------------------------------------------------------------
@register(
    "d56_dsir_selection",
    oracle="""
    WITH words AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ), toks AS (
        SELECT w1.doc_id, w1.lang,
               CAST(('0x' || substr(md5(w1.word || ' ' || w2.word), 1, 8))
                    AS BIGINT) % 1024 AS b
        FROM words w1
        JOIN words w2 ON w1.doc_id = w2.doc_id AND w2.pos = w1.pos + 1
    ), raw_cnt AS (SELECT b, COUNT(*) AS c_raw FROM toks GROUP BY b),
    tgt_cnt AS (SELECT b, COUNT(*) AS c_tgt FROM toks WHERE lang = 'en' GROUP BY b),
    totals AS (
        SELECT COUNT(*) AS t_raw,
               SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t_tgt
        FROM toks
    ), ratio AS (
        SELECT r.b,
               ln((COALESCE(g.c_tgt, 0) + 1) * 1.0 / (t.t_tgt + 1024)
                  / ((r.c_raw + 1) * 1.0 / (t.t_raw + 1024))) AS llr
        FROM raw_cnt r LEFT JOIN tgt_cnt g ON r.b = g.b, totals t
    ), scored AS (
        SELECT tk.doc_id, tk.lang, SUM(ra.llr) AS logw,
               ROUND(SUM(ra.llr)
                     - ln(-ln(CAST(('0x' || substr(md5(CAST(tk.doc_id AS VARCHAR)), 1, 8))
                              AS BIGINT) / 4294967296.0)), 6) AS gkey
        FROM toks tk JOIN ratio ra ON tk.b = ra.b
        GROUP BY tk.doc_id, tk.lang
    ), sel AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (ORDER BY gkey DESC, doc_id) AS rk
            FROM scored
        ) WHERE rk <= 150
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_selected,
           ROUND(AVG(logw), 4) AS avg_logw
    FROM sel GROUP BY lang
    """,
)
def d56_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Bigram -> bucket, all scan-stage JVM expressions. The token array is
    # projected first (the d15 lesson: lambdas over unmaterialized
    # split(text) re-split per element).
    toks = (
        docs.select("doc_id", "lang", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 2),"
                    " i -> concat(w[i], ' ', w[i + 1]))"
                )
            ).alias("bigram"),
        )
        .select(
            "doc_id",
            "lang",
            F.pmod(
                F.conv(F.substring(F.md5("bigram"), 1, 8), 16, 10).cast("long"),
                F.lit(_DSIR_B),
            ).alias("b"),
        )
    )
    # ONE b-keyed aggregation feeds raw counts, target counts AND totals
    # (r16 optimization, guide §1.2 step 1): the tokenize+explode+md5
    # subtree is the expensive part and previously sat under THREE
    # independent aggregations (raw_cnt, tgt_cnt filter+groupBy, totals),
    # each re-scanning the corpus — four passes per action where the scale
    # note promised two. Equivalences: a conditional count per bucket ==
    # the old left-join + fill(0) (a bucket exists iff c_raw > 0); every
    # token lands in exactly one bucket, so t_raw/t_tgt == the sums of the
    # per-bucket counts — derived from the <= B-row frame, not a corpus
    # pass. Corpus passes per action: 4 -> 2 (this table + scored below).
    cnt = toks.groupBy("b").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.sum((F.col("lang") == "en").cast("long")).alias("c_tgt"),
    )
    # Totals as unpartitioned-window sums over the BOUNDED cnt frame (a
    # separate cnt.agg() would duplicate cnt's whole subtree — another
    # corpus pass in the initial plan): <= B rows through one single-
    # partition window, a constant at any corpus size.
    wall = Window.partitionBy()
    ratio = (
        cnt.select(
            "b", "c_raw", "c_tgt",
            F.sum("c_raw").over(wall).alias("t_raw"),
            F.sum("c_tgt").over(wall).alias("t_tgt"),
        )
        .select(
            "b",
            F.log(
                (F.col("c_tgt") + 1)
                / (F.col("t_tgt") + _DSIR_B)
                / ((F.col("c_raw") + 1) / (F.col("t_raw") + _DSIR_B))
            ).alias("llr"),
        )
    )
    scored = (
        toks.join(F.broadcast(ratio), "b")  # ratio table <= B rows
        .groupBy("doc_id", "lang")
        .agg(F.sum("llr").alias("logw"))
        .withColumn(
            "gkey",
            F.round(
                F.col("logw") - F.log(-F.log(_md5_uniform(F.col("doc_id")))), 6
            ),
        )
    )
    # Global top-k: K=150 is a TakeOrderedAndProject, not a full sort. The
    # 6-dp rounding before ranking pins the cross-engine order; ties break
    # on doc_id. orderBy+limit (TakeOrderedAndProject) instead of a global
    # row_number window: the top-k is pruned per partition, so no single
    # task ever sees the whole scored table.
    sel = scored.orderBy(F.desc("gkey"), F.asc("doc_id")).limit(_DSIR_K)
    return sel.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_selected"),
        F.round(F.avg("logw"), 4).alias("avg_logw"),
    )


# --------------------------------------------------------------------------
# D57 — cross-document repeated n-gram audit (Lee et al. 2021,
# "Deduplicating Training Data Makes Language Models Better",
# arXiv:2107.06499 — the EXACTSUBSTR signal, approximated at n-gram
# granularity): a 5-token n-gram appearing in >= 2 documents is verbatim
# duplicated text; documents where >= 20% of n-grams are repeated are
# memorization risks even when no whole-document dup fires.
#
# Scale shape: per-doc distinct n-grams in the scan stage; one keyed agg
# for document frequency; one join back keyed on the n-gram. The join is
# |ngrams| x posting-list, never doc x doc. At web scale the n-grams
# would be xxhash64-coded first (the operators/jaccard.py discipline) —
# here they stay as strings so the oracle is byte-exact.
# --------------------------------------------------------------------------
@register(
    "d57_repeated_ngrams",
    oracle="""
    WITH words AS (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS word,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ), sh AS (
        SELECT DISTINCT w1.doc_id, w1.source,
               w1.word || ' ' || w2.word || ' ' || w3.word || ' '
                       || w4.word || ' ' || w5.word AS ngram
        FROM words w1
        JOIN words w2 ON w1.doc_id = w2.doc_id AND w2.pos = w1.pos + 1
        JOIN words w3 ON w1.doc_id = w3.doc_id AND w3.pos = w1.pos + 2
        JOIN words w4 ON w1.doc_id = w4.doc_id AND w4.pos = w1.pos + 3
        JOIN words w5 ON w1.doc_id = w5.doc_id AND w5.pos = w1.pos + 4
    ), dfreq AS (
        SELECT ngram, COUNT(DISTINCT doc_id) AS df FROM sh GROUP BY ngram
    ), per_doc AS (
        SELECT s.doc_id, s.source, COUNT(*) AS n_ngrams,
               SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS n_repeated
        FROM sh s JOIN dfreq d ON s.ngram = d.ngram
        GROUP BY s.doc_id, s.source
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_repeated * 1.0 / n_ngrams >= 0.2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           ROUND(AVG(n_repeated * 1.0 / n_ngrams), 6) AS avg_repeated_frac
    FROM per_doc GROUP BY source
    """,
)
def d57_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n = 5
    sh = (
        docs.select("doc_id", "source", F.split("text", " ").alias("toks"))
        .filter(F.size("toks") >= n)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(0, size(toks) - {n}),"
                        f" i -> concat_ws(' ', slice(toks, i + 1, {n})))"
                    )
                )
            ).alias("ngram"),
        )
    )
    dfreq = sh.groupBy("ngram").agg(F.countDistinct("doc_id").alias("df"))
    per_doc = (
        sh.join(dfreq, "ngram")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum((F.col("df") >= 2).cast("int")).alias("n_repeated"),
        )
        .withColumn("frac", F.col("n_repeated") / F.col("n_ngrams"))
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("frac") >= 0.2).cast("int")).alias("n_flagged"),
        F.round(F.avg("frac"), 6).alias("avg_repeated_frac"),
    )


# --------------------------------------------------------------------------
# D58 — temperature-scaled source rebalancing (the multinomial alpha
# smoothing of XLM / mBERT / mT5: sample language l with q_l prop. to
# p_l^alpha, alpha = 0.7): high-resource languages are down-sampled,
# low-resource ones kept near-whole, at a fixed total token budget. The
# per-language keep-rate is min(1, q_l * budget / n_l); the draw is the
# md5-uniform of the doc key, so the kept SET is exact (d24 discipline),
# cluster-size-invariant, and reproducible by the oracle.
#
# Scale shape: the rate table is |langs| rows built from one keyed count
# agg, broadcast back onto the scan; the filter is embarrassingly
# parallel. The only global values (N, normalizer Z) come from a 1-row
# aggregate — the broadcast-scalar pattern.
# --------------------------------------------------------------------------
@register(
    "d58_temperature_mix",
    oracle="""
    WITH stats AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
    tot AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
               SUM(power(n_docs, 0.7)) AS z
        FROM stats
    ), rates AS (
        SELECT lang, n_docs,
               least(1.0, power(n_docs, 0.7) / z * 0.5 * n_total / n_docs) AS rate
        FROM stats, tot
    )
    SELECT d.lang, CAST(MAX(r.n_docs) AS BIGINT) AS n_before,
           ROUND(MAX(r.rate), 6) AS rate,
           CAST(SUM(CASE WHEN CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                              AS BIGINT) / 4294967296.0 < r.rate
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_after
    FROM documents d JOIN rates r ON d.lang = r.lang
    GROUP BY d.lang
    """,
)
def d58_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    alpha, budget_frac = 0.7, 0.5
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = stats.agg(
        F.sum("n_docs").alias("n_total"),
        F.sum(F.pow(F.col("n_docs"), F.lit(alpha))).alias("z"),
    )
    rates = (
        stats.crossJoin(F.broadcast(tot))  # 1-row totals: broadcast scalar
        .withColumn(
            "rate",
            F.least(
                F.lit(1.0),
                F.pow("n_docs", F.lit(alpha))
                / F.col("z")
                * F.lit(budget_frac)
                * F.col("n_total")
                / F.col("n_docs"),
            ),
        )
        .select("lang", "n_docs", "rate")
    )
    kept = (
        docs.select("lang", "doc_id")
        .withColumn("u", _md5_uniform(F.col("doc_id")))
        .join(F.broadcast(rates), "lang")
    )
    return kept.groupBy("lang").agg(
        F.max("n_docs").alias("n_before"),
        F.round(F.max("rate"), 6).alias("rate"),
        F.sum((F.col("u") < F.col("rate")).cast("int")).alias("n_after"),
    )


# --------------------------------------------------------------------------
# D59 — windowed co-occurrence PMI (pointwise mutual information): the
# word-association statistic under word2vec/GloVe-style corpus analysis
# (Church & Hanks 1990). Pairs = words co-occurring within a +-2 token
# window, unordered (least/greatest normalization); PMI =
# ln(p(pair) / (p(w1) p(w2))). Top pairs by PMI reveal collocations.
#
# Scale shape: pair generation is scan-stage (two transforms over the
# projected token array — no self-join on the Spark side; the oracle uses
# the positional self-join formulation to stay independent); pair and
# unigram counts are map-side-combinable keyed aggs over a vocab-bounded
# key space; the final top-10 is a TakeOrderedAndProject. The unigram
# count table joins back via broadcast (|vocab| rows).
# --------------------------------------------------------------------------
@register(
    "d59_pmi_cooccurrence",
    oracle="""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ), pairs AS (
        SELECT least(w1.word, w2.word) AS wa, greatest(w1.word, w2.word) AS wb
        FROM words w1
        JOIN words w2 ON w1.doc_id = w2.doc_id
         AND w2.pos - w1.pos IN (1, 2)
    ), pair_cnt AS (
        SELECT wa, wb, COUNT(*) AS c_pair FROM pairs GROUP BY wa, wb
    ), uni_cnt AS (
        SELECT word, COUNT(*) AS c_w FROM words GROUP BY word
    ), tots AS (
        SELECT (SELECT COUNT(*) FROM pairs) AS n_pairs,
               (SELECT COUNT(*) FROM words) AS n_toks
    ), pmi AS (
        SELECT p.wa, p.wb, p.c_pair,
               ROUND(ln((p.c_pair * 1.0 / t.n_pairs)
                        / ((ua.c_w * 1.0 / t.n_toks) * (ub.c_w * 1.0 / t.n_toks))), 6) AS pmi
        FROM pair_cnt p
        JOIN uni_cnt ua ON p.wa = ua.word
        JOIN uni_cnt ub ON p.wb = ub.word, tots t
        WHERE p.c_pair >= 20
    )
    SELECT wa, wb, CAST(c_pair AS BIGINT) AS c_pair, pmi
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY pmi DESC, wa, wb) AS rk FROM pmi)
    WHERE rk <= 10
    """,
)
def d59_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("w"))
    # Scan-stage pair generation: for each position i, (w[i], w[i+1]) and
    # (w[i], w[i+2]) — the +-2 window without a positional self-join. The
    # index sequence is clamped (sequence(0, -1) would step DOWN), then
    # out-of-range indices are filtered by INDEX bound-check, not by value:
    # under ANSI mode (default in pyspark 4.x) w[i + 1] on a 1-token doc
    # throws INVALID_ARRAY_INDEX rather than returning NULL, so the filter
    # predicate must never touch an out-of-range subscript. `i + 1 < size(w)`
    # keeps the same semantics (drop positions whose partner would fall off
    # the end, so 1-2 token docs emit no fabricated (w0, w0) self-pair)
    # while staying ANSI-safe.
    pair_arrays = toks.select(
        F.concat(
            F.expr(
                "transform(filter(sequence(0, greatest(size(w) - 2, 0)),"
                "                 i -> i + 1 < size(w)),"
                " i -> struct(least(w[i], w[i + 1]) AS wa,"
                "             greatest(w[i], w[i + 1]) AS wb))"
            ),
            F.expr(
                "transform(filter(sequence(0, greatest(size(w) - 3, 0)),"
                "                 i -> i + 2 < size(w)),"
                " i -> struct(least(w[i], w[i + 2]) AS wa,"
                "             greatest(w[i], w[i + 2]) AS wb))"
            ),
        ).alias("prs")
    ).filter(F.size("prs") > 0)
    pairs = pair_arrays.select(F.explode("prs").alias("p")).select("p.wa", "p.wb")
    pair_cnt = pairs.groupBy("wa", "wb").agg(F.count(F.lit(1)).alias("c_pair"))
    words = toks.select(F.explode("w").alias("word"))
    uni_cnt = words.groupBy("word").agg(F.count(F.lit(1)).alias("c_w"))
    tots = pairs.agg(F.count(F.lit(1)).alias("n_pairs")).crossJoin(
        words.agg(F.count(F.lit(1)).alias("n_toks"))
    )
    pmi = (
        pair_cnt.filter(F.col("c_pair") >= 20)
        .join(
            F.broadcast(uni_cnt.select(F.col("word").alias("wa"),
                                       F.col("c_w").alias("c_wa"))),
            "wa",
        )
        .join(
            F.broadcast(uni_cnt.select(F.col("word").alias("wb"),
                                       F.col("c_w").alias("c_wb"))),
            "wb",
        )
        .crossJoin(F.broadcast(tots))  # 1-row totals: broadcast scalar
        .select(
            "wa", "wb", "c_pair",
            F.round(
                F.log(
                    (F.col("c_pair") / F.col("n_pairs"))
                    / ((F.col("c_wa") / F.col("n_toks"))
                       * (F.col("c_wb") / F.col("n_toks")))
                ),
                6,
            ).alias("pmi"),
        )
    )
    # Distributed top-k (TakeOrderedAndProject), not a single-task window.
    return (
        pmi.orderBy(F.desc("pmi"), F.asc("wa"), F.asc("wb"))
        .limit(10)
        .select("wa", "wb", "c_pair", "pmi")
    )


# --------------------------------------------------------------------------
# D60 — distributed BPE merge learning (Sennrich et al. 2016,
# arXiv:1508.07909): the tokenizer-training primitive of every LLM data
# pipeline. Classic BPE trains on the word-frequency table, not the raw
# corpus: count adjacent symbol pairs weighted by word count, merge the
# argmax pair everywhere, repeat. Three rounds of merge rules are learned
# here.
#
# Merge-application semantics (pinned so the oracle replays bit-exactly):
# the symbol sequence lives as a '|'-delimited string and a merge (a,b) is
# TWO passes of non-overlapping literal replace of '|a|b|' with '|ab|'.
# One pass misses alternating occurrences inside runs (the shared '|' of
# adjacent matches); the second pass catches them — exact for runs up to
# length 4, and identical in both engines by construction.
#
# Scale shape: the corpus scan collapses to the word-frequency table in
# one map-side-combinable agg (at web scale: millions of types, not
# billions of tokens — the reason real BPE trainers work this way). Each
# round is one scan-stage pair explosion + one keyed agg; the ONLY driver
# materialization is the per-round 1-row argmax (the d39 broadcast-
# centroid discipline). Rounds are sequential by nature of the algorithm.
# --------------------------------------------------------------------------
_BPE_PAIR_SQL = """
    SELECT syms[i] AS a, syms[i+1] AS b, SUM(c) AS wc
    FROM (SELECT c, syms, unnest(range(1, len(syms))) AS i
          FROM (SELECT c, list_filter(string_split(s, '|'), x -> x <> '') AS syms
                FROM {W}))
    GROUP BY 1, 2
"""
_BPE_MERGE_SQL = """
    SELECT c, replace(replace(s, '|' || t.a || '|' || t.b || '|',
                              '|' || t.a || t.b || '|'),
                      '|' || t.a || '|' || t.b || '|',
                      '|' || t.a || t.b || '|') AS s
    FROM {W}, {T} t
"""
_D60_ORACLE = (
    """
    WITH wf AS (
        SELECT word, COUNT(*) AS c,
               '|' || regexp_replace(word, '(.)', '\\1|', 'g') AS s
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE length(word) > 0
        GROUP BY word
    ),
    p1 AS ("""
    + _BPE_PAIR_SQL.format(W="wf")
    + """),
    t1 AS (SELECT a, b, wc FROM p1 ORDER BY wc DESC, a, b LIMIT 1),
    w1 AS ("""
    + _BPE_MERGE_SQL.format(W="wf", T="t1")
    + """),
    p2 AS ("""
    + _BPE_PAIR_SQL.format(W="w1")
    + """),
    t2 AS (SELECT a, b, wc FROM p2 ORDER BY wc DESC, a, b LIMIT 1),
    w2 AS ("""
    + _BPE_MERGE_SQL.format(W="w1", T="t2")
    + """),
    p3 AS ("""
    + _BPE_PAIR_SQL.format(W="w2")
    + """),
    t3 AS (SELECT a, b, wc FROM p3 ORDER BY wc DESC, a, b LIMIT 1)
    SELECT 1 AS round, a AS left_sym, b AS right_sym, a || b AS merged,
           CAST(wc AS BIGINT) AS weighted_count
    FROM t1
    UNION ALL
    SELECT 2, a, b, a || b, CAST(wc AS BIGINT) FROM t2
    UNION ALL
    SELECT 3, a, b, a || b, CAST(wc AS BIGINT) FROM t3
    """
)


def _learn_bpe(spark: SparkSession, sf_dir: str, rounds: int):
    """Shared BPE training loop: returns (merge rules, final word-frequency
    DataFrame with merged symbol strings). Each round is one scan-stage
    pair explosion + one keyed agg; the ONLY driver materialization is the
    per-round 1-row argmax (the d39 broadcast-centroid discipline)."""
    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "c",
            F.concat(
                F.lit("|"), F.regexp_replace("word", "(.)", "$1|")
            ).alias("s"),
        )
    )
    # The frequency table is re-read every round: cache it once (at scale,
    # this is the standard persist-the-types-table step).
    cur = wf.cache()
    rules = []
    for r in range(1, rounds + 1):
        pairs = (
            cur.select(
                "c",
                F.expr("filter(split(s, '\\\\|'), x -> x != '')").alias("syms"),
            )
            .filter(F.size("syms") >= 2)
            .select(
                "c",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(syms) - 2),"
                        " i -> struct(syms[i] AS a, syms[i + 1] AS b))"
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("c").alias("wc"))
        )
        # Per-round argmax: ONE row to the driver (bounded by construction).
        top = pairs.orderBy(F.desc("wc"), F.asc("a"), F.asc("b")).limit(1).collect()[0]
        a, b, wc = top["a"], top["b"], int(top["wc"])
        rules.append((r, a, b, a + b, wc))
        pat, rep = F.lit(f"|{a}|{b}|"), F.lit(f"|{a}{b}|")
        cur = cur.select(
            "c", F.replace(F.replace(F.col("s"), pat, rep), pat, rep).alias("s")
        )
    return rules, cur


@register("d60_bpe_merges", oracle=_D60_ORACLE)
def d60_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    rules, _ = _learn_bpe(spark, sf_dir, rounds=3)
    return spark.createDataFrame(
        rules,
        "round int, left_sym string, right_sym string, merged string,"
        " weighted_count bigint",
    )


# --------------------------------------------------------------------------
# D62 — BPE tokenization with the learned merges: closes the train->apply
# loop. The 3 learned rules rewrite the word-frequency table (same 2-pass
# replace semantics as training, so the segmentation is exactly the
# training state after round 3); the corpus token distribution is then one
# weighted explode + keyed agg. Output: the top-10 corpus tokens by
# weighted frequency — multi-character entries prove the merges fire.
# Oracle = the d60 CTE chain extended by the third rewrite and the same
# token count.
# --------------------------------------------------------------------------
_D62_ORACLE = (
    _D60_ORACLE[: _D60_ORACLE.index("    SELECT 1 AS round")]
    .replace(
        "t3 AS (SELECT a, b, wc FROM p3 ORDER BY wc DESC, a, b LIMIT 1)",
        "t3 AS (SELECT a, b, wc FROM p3 ORDER BY wc DESC, a, b LIMIT 1),",
    )
    + """
    w3 AS ("""
    + _BPE_MERGE_SQL.format(W="w2", T="t3")
    + """),
    toks AS (
        SELECT unnest(list_filter(string_split(s, '|'), x -> x <> '')) AS token,
               c
        FROM w3
    ), freq AS (
        SELECT token, CAST(SUM(c) AS BIGINT) AS weighted_count
        FROM toks GROUP BY token
    )
    SELECT token, weighted_count
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY weighted_count DESC, token) AS rk
          FROM freq)
    WHERE rk <= 10
    """
)


@register("d62_bpe_tokenize", oracle=_D62_ORACLE)
def d62_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, final_wf = _learn_bpe(spark, sf_dir, rounds=3)
    freq = (
        final_wf.select(
            "c",
            F.explode(
                F.expr("filter(split(s, '\\\\|'), x -> x != '')")
            ).alias("token"),
        )
        .groupBy("token")
        .agg(F.sum("c").alias("weighted_count"))
    )
    # Distributed top-k (TakeOrderedAndProject), not a single-task window.
    return (
        freq.orderBy(F.desc("weighted_count"), F.asc("token"))
        .limit(10)
        .select("token", "weighted_count")
    )


# --------------------------------------------------------------------------
# D61 — span-corruption masking statistics (the T5 pretraining objective,
# Raffel et al. 2020, arXiv:1910.10683): ~15% of tokens masked, runs of
# consecutive masked tokens collapse into single sentinel spans. The mask
# draw is the md5-uniform of (doc_id, position) — the d8/d24 determinism
# discipline applied per TOKEN — so the exact mask set, and therefore the
# exact span structure, is engine-reproducible. Spans form via the
# gaps-and-islands lowering (pos - row_number over masked positions), the
# same shape w9 pins for streak detection.
#
# Scale shape: posexplode + window per doc_id + two keyed aggs; every
# stage keys on doc_id, so the plan is one shuffle wide regardless of
# corpus size. Per-language profile: docs, masked tokens, sentinel spans,
# average corrupted fraction — the numbers that size a T5-style training
# batch (targets per input scale with span count, not mask count).
# --------------------------------------------------------------------------
@register(
    "d61_span_corruption",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
        FROM documents
    ), masked AS (
        SELECT doc_id, lang, pos,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#'
                         || CAST(pos AS VARCHAR)), 1, 8))
                    AS BIGINT) / 4294967296.0 < 0.15 AS is_masked
        FROM toks
    ), spans AS (
        SELECT doc_id,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS island
        FROM masked WHERE is_masked
    ), per_doc AS (
        SELECT m.doc_id, m.lang, COUNT(*) AS n_toks,
               SUM(CASE WHEN m.is_masked THEN 1 ELSE 0 END) AS n_masked
        FROM masked m GROUP BY m.doc_id, m.lang
    ), span_per_doc AS (
        SELECT doc_id, COUNT(DISTINCT island) AS n_spans
        FROM spans GROUP BY doc_id
    )
    SELECT p.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p.n_masked) AS BIGINT) AS total_masked,
           CAST(SUM(COALESCE(s.n_spans, 0)) AS BIGINT) AS total_spans,
           ROUND(AVG(p.n_masked * 1.0 / p.n_toks), 6) AS avg_mask_frac
    FROM per_doc p LEFT JOIN span_per_doc s ON p.doc_id = s.doc_id
    GROUP BY p.lang
    """,
)
def d61_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )
    u = _md5_uniform(
        F.concat_ws("#", F.col("doc_id").cast("string"), F.col("pos").cast("string"))
    )
    masked = toks.withColumn("is_masked", u < 0.15)
    w = Window.partitionBy("doc_id").orderBy("pos")
    spans = (
        masked.filter("is_masked")
        .withColumn("island", F.col("pos") - F.row_number().over(w))
    )
    per_doc = masked.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_toks"),
        F.sum(F.col("is_masked").cast("int")).alias("n_masked"),
    )
    span_per_doc = spans.groupBy("doc_id").agg(
        F.countDistinct("island").alias("n_spans")
    )
    return (
        per_doc.join(span_per_doc, "doc_id", "left")
        .na.fill({"n_spans": 0})
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_masked").alias("total_masked"),
            F.sum("n_spans").alias("total_spans"),
            F.round(F.avg(F.col("n_masked") / F.col("n_toks")), 6).alias(
                "avg_mask_frac"
            ),
        )
    )


# --------------------------------------------------------------------------
# D64 — winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
# SIGMOD 2003 — the MOSS algorithm, and the brief's "document
# fingerprinting (rolling hash)" row): hash every 8-char k-gram, slide a
# 4-wide window, keep each window's minimal hash (rightmost on ties).
# Winnowing guarantees any shared substring of length >= k + w - 1 yields
# a shared fingerprint, at ~2/(w+1) storage of full k-gram sets — the
# sub-document dedup candidate generator.
#
# The rightmost-min tie-break is encoded arithmetically so both engines
# agree bit-for-bit: key = h * POSBASE + (POSBASE - 1 - pos); MIN(key)
# picks the smallest hash and, among equals, the largest position. All
# stages are scan + per-doc window + keyed aggs — one doc_id shuffle, one
# fingerprint shuffle, nothing all-pairs (candidate pairs are COUNTED via
# C(nd,2) per fingerprint, never materialized).
# --------------------------------------------------------------------------
_D64_K, _D64_W, _D64_M = 8, 4, 1 << 20
_D64_POSBASE = 10_000_000


@register(
    "d64_winnowing_fingerprints",
    oracle=f"""
    WITH grams AS (
        SELECT doc_id, lang, i AS pos,
               CAST(('0x' || substr(md5(substr(text, i, {_D64_K})), 1, 8))
                    AS BIGINT) % {_D64_M} AS h
        FROM (SELECT doc_id, lang, text,
                     unnest(range(1, length(text) - {_D64_K} + 2)) AS i
              FROM documents WHERE length(text) >= {_D64_K})
    ), keyed AS (
        SELECT doc_id, lang, pos,
               h * {_D64_POSBASE} + ({_D64_POSBASE} - 1 - pos) AS key
        FROM grams
    ), winmin AS (
        SELECT doc_id, lang,
               MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN {_D64_W - 1} PRECEDING
                                       AND CURRENT ROW) AS wmin,
               COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN {_D64_W - 1} PRECEDING
                                       AND CURRENT ROW) AS wn
        FROM keyed
    ), sel AS (
        SELECT DISTINCT doc_id, lang,
               CAST(wmin / {_D64_POSBASE} AS BIGINT) AS fp
        FROM winmin WHERE wn = {_D64_W}
    ), per_doc AS (
        SELECT doc_id, lang, COUNT(*) AS n_fp FROM sel GROUP BY doc_id, lang
    ), shared AS (
        SELECT fp, COUNT(DISTINCT doc_id) AS nd
        FROM sel GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2
    ), sh AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_shared_fps,
               CAST(COALESCE(SUM(nd * (nd - 1) / 2), 0) AS BIGINT)
                   AS n_candidate_pairs
        FROM shared
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(n_fp), 4) AS avg_fingerprints,
           MAX(sh.n_shared_fps) AS n_shared_fps,
           MAX(sh.n_candidate_pairs) AS n_candidate_pairs
    FROM per_doc, sh
    GROUP BY lang
    """,
)
def d64_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    k, w, m, posbase = _D64_K, _D64_W, _D64_M, _D64_POSBASE
    docs = load_table(spark, sf_dir, "documents")
    grams = (
        docs.filter(F.length("text") >= k)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    f"transform(sequence(1, length(text) - {k} + 1),"
                    f" i -> struct(i AS pos, substr(text, i, {k}) AS g))"
                )
            ).alias("kg"),
        )
        .select(
            "doc_id",
            "lang",
            F.col("kg.pos").alias("pos"),
            F.pmod(
                F.conv(F.substring(F.md5("kg.g"), 1, 8), 16, 10).cast("long"),
                F.lit(m),
            ).alias("h"),
        )
    )
    keyed = grams.select(
        "doc_id",
        "lang",
        "pos",
        (F.col("h") * posbase + (posbase - 1 - F.col("pos"))).alias("key"),
    )
    wdef = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(w - 1), 0)
    sel = (
        keyed.withColumn("wmin", F.min("key").over(wdef))
        .withColumn("wn", F.count(F.lit(1)).over(wdef))
        .filter(F.col("wn") == w)  # full windows only
        .select(
            "doc_id", "lang", (F.col("wmin") / posbase).cast("long").alias("fp")
        )
        .distinct()
    )
    per_doc = sel.groupBy("doc_id", "lang").agg(F.count(F.lit(1)).alias("n_fp"))
    shared = (
        sel.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
    )
    sh = shared.agg(
        F.count(F.lit(1)).alias("n_shared_fps"),
        F.coalesce(F.sum(F.col("nd") * (F.col("nd") - 1) / 2), F.lit(0))
        .cast("long")
        .alias("n_candidate_pairs"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_fp"), 4).alias("avg_fingerprints"),
        )
        .crossJoin(F.broadcast(sh))  # 1-row summary: broadcast scalar
    )


# --------------------------------------------------------------------------
# D65 — curriculum phase assignment: order the corpus by a quality score
# and split it into 4 exact-quantile phases (curriculum learning trains
# easy->hard; the phase boundary must be an EXACT ntile so every epoch
# sees identical phases). Reuses operators/exact_ntile.py — the
# range-partitioned exact-ntile that replaces the single-task global
# window (the a13 scale fix, applied here in a second context). Score =
# lexical diversity (distinct/total tokens) with doc_id as the
# deterministic tie-breaker.
# --------------------------------------------------------------------------
@register(
    "d65_curriculum_phases",
    oracle="""
    WITH scored AS (
        SELECT doc_id, n_chars,
               len(list_distinct(string_split(text, ' '))) * 1.0
                   / len(string_split(text, ' ')) AS score
        FROM documents
    ), phased AS (
        SELECT doc_id, n_chars, score,
               CAST(ntile(4) OVER (ORDER BY score, doc_id) AS INTEGER)
                   AS phase
        FROM scored
    )
    SELECT phase, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(score), 6) AS avg_score,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM phased GROUP BY phase
    """,
)
def d65_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lime_on_spark_spark.operators.exact_ntile import with_exact_ntile

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    scored = docs.select(
        "doc_id",
        "n_chars",
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("score"),
    )
    phased = with_exact_ntile(
        scored, 4, ["score", "doc_id"], out_col="phase"
    )
    return phased.groupBy("phase").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("score"), 6).alias("avg_score"),
        F.sum("n_chars").alias("total_chars"),
    )


# --------------------------------------------------------------------------
# D66 — cross-corpus overlap estimation from HLL sketches: |A n B| =
# |A| + |B| - |A u B| with each term an approx_count_distinct — the
# inclusion-exclusion trick that sizes train/benchmark contamination
# WITHOUT materializing either set (at 100 TB each side's sketch is a few
# KB, mergeable across partitions and days — the a17 rollup discipline
# applied across datasets). A = 3-gram shingles of the training split,
# B = shingles of the benchmark split (doc_id % 50 == 0, the d15
# convention). The exact columns pin the truth; the verdict bounds the
# ABSOLUTE error at 3·rsd·|A u B| — inclusion-exclusion error compounds
# from the three big sketches, so it scales with the UNION, not the
# overlap: the estimate is informative only when the overlap is a
# nontrivial fraction of the union (exactly the regime contamination
# checks care about). rsd=0.02 keeps the bound tight.
# --------------------------------------------------------------------------
@register(
    "d66_hll_overlap",
    oracle="""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ), sh AS (
        SELECT DISTINCT w1.doc_id % 50 = 0 AS is_bench,
               w1.word || ' ' || w2.word || ' ' || w3.word AS shingle
        FROM words w1
        JOIN words w2 ON w1.doc_id = w2.doc_id AND w2.pos = w1.pos + 1
        JOIN words w3 ON w1.doc_id = w3.doc_id AND w3.pos = w1.pos + 2
    )
    SELECT CAST((SELECT COUNT(DISTINCT shingle) FROM sh WHERE NOT is_bench)
                AS BIGINT) AS n_train_exact,
           CAST((SELECT COUNT(DISTINCT shingle) FROM sh WHERE is_bench)
                AS BIGINT) AS n_bench_exact,
           CAST((SELECT COUNT(*) FROM
                    (SELECT shingle FROM sh WHERE NOT is_bench
                     INTERSECT
                     SELECT shingle FROM sh WHERE is_bench) t)
                AS BIGINT) AS overlap_exact,
           TRUE AS estimate_within_tolerance
    """,
)
def d66_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select(
            (F.col("doc_id") % 50 == 0).alias("is_bench"),
            F.split("text", " ").alias("toks"),
        )
        .filter(F.size("toks") >= 3)
        .select(
            "is_bench",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 3),"
                    " i -> concat_ws(' ', slice(toks, i + 1, 3)))"
                )
            ).alias("shingle"),
        )
    )
    rsd = 0.02
    est = sh.agg(
        F.approx_count_distinct(
            F.when(~F.col("is_bench"), F.col("shingle")), rsd
        ).alias("a_est"),
        F.approx_count_distinct(
            F.when(F.col("is_bench"), F.col("shingle")), rsd
        ).alias("b_est"),
        F.approx_count_distinct("shingle", rsd).alias("u_est"),
    )
    exact = sh.agg(
        F.count_distinct(
            F.when(~F.col("is_bench"), F.col("shingle"))
        ).alias("n_train_exact"),
        F.count_distinct(
            F.when(F.col("is_bench"), F.col("shingle"))
        ).alias("n_bench_exact"),
    )
    inter = (
        sh.filter(~F.col("is_bench"))
        .select("shingle")
        .intersect(sh.filter("is_bench").select("shingle"))
        .agg(F.count(F.lit(1)).alias("overlap_exact"))
    )
    return (
        exact.crossJoin(F.broadcast(inter))  # 1-row aggregates
        .crossJoin(F.broadcast(est))
        .select(
            "n_train_exact",
            "n_bench_exact",
            "overlap_exact",
            (
                F.abs(
                    (F.col("a_est") + F.col("b_est") - F.col("u_est"))
                    - F.col("overlap_exact")
                )
                <= F.greatest(
                    F.lit(50.0), F.lit(3 * 0.02) * F.col("u_est")
                )
            ).alias("estimate_within_tolerance"),
        )
    )


# --------------------------------------------------------------------------
# D67 — deterministic epoch shuffle + shard assignment: the training data
# loader's contract at cluster scale. Each epoch needs a DIFFERENT global
# permutation of the corpus, yet every worker must agree on it with zero
# coordination — so the permutation key is the md5-uniform of
# (doc_id, epoch): epoch-varying, engine- and partitioning-invariant.
# Shards (data-parallel workers, 8 here) take contiguous rank ranges of
# the permutation; position = rank within shard. The output profiles two
# epochs per shard (sizes, checksum of min/max doc ids) — the oracle
# reproduces the exact permutation, proving any loader reading these
# (epoch, shard, position) assignments sees identical batches everywhere.
# One window per epoch on the permutation key; at 100 TB this is the
# standard sort-by-random-key shuffle, and the md5 key means restarts and
# stragglers recompute identical assignments (elastic training safe).
# --------------------------------------------------------------------------
@register(
    "d67_epoch_shuffle_shards",
    oracle="""
    WITH perm AS (
        SELECT e.epoch, d.doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY e.epoch
                   ORDER BY CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                             || '#' || CAST(e.epoch AS VARCHAR)), 1, 8))
                            AS BIGINT), d.doc_id
               ) - 1 AS rk,
               COUNT(*) OVER (PARTITION BY e.epoch) AS n
        FROM documents d
        CROSS JOIN (SELECT unnest([0, 1]) AS epoch) e
    )
    SELECT epoch, CAST(FLOOR(rk * 8.0 / n) AS INTEGER) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc,
           CAST(SUM(doc_id * (rk % 97)) AS BIGINT) AS order_checksum
    FROM perm
    GROUP BY epoch, CAST(FLOOR(rk * 8.0 / n) AS INTEGER)
    """,
)
def d67_epoch_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_shards = 8
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(2).select(F.col("id").cast("int").alias("epoch"))
    keyed = docs.crossJoin(epochs).select(
        "doc_id",
        "epoch",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "#",
                        F.col("doc_id").cast("string"),
                        F.col("epoch").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("pkey"),
    )
    w = Window.partitionBy("epoch").orderBy("pkey", "doc_id")
    n = Window.partitionBy("epoch")
    perm = keyed.select(
        "epoch",
        "doc_id",
        (F.row_number().over(w) - 1).alias("rk"),
        F.count(F.lit(1)).over(n).alias("n"),
    )
    # Contiguous rank ranges -> shards; FLOOR on both sides because the
    # engines disagree on double->int casts (DuckDB rounds, Spark
    # truncates) — an explicit floor is the only portable spelling.
    sharded = perm.withColumn(
        "shard", F.floor(F.col("rk") * n_shards / F.col("n")).cast("int")
    )
    return sharded.groupBy("epoch", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        F.sum(F.col("doc_id") * (F.col("rk") % 97)).alias("order_checksum"),
    )


# --------------------------------------------------------------------------
# D70 — MinHash-LSH parameter planner: the S-curve P(candidate | jaccard
# s) = 1 - (1 - s^r)^b for a grid of (bands, rows) configurations — the
# calculation every LSH deployment (d2/d45) runs BEFORE touching data, to
# pick parameters meeting a recall floor at the target similarity and a
# cost ceiling below it. Pure closed-form math over a literal config
# grid; the oracle replays it bit-for-bit, and the `meets_slo` verdict
# encodes the planning rule (recall >= 0.9 at s=0.8, candidate rate
# <= 0.25 at s=0.5).
# --------------------------------------------------------------------------
@register(
    "d70_lsh_parameter_plan",
    oracle="""
    WITH grid(bands, rows_per_band) AS (
        SELECT * FROM (VALUES (64, 2), (32, 4), (20, 6), (16, 8),
                              (12, 10), (8, 16))
    )
    SELECT bands, rows_per_band,
           bands * rows_per_band AS total_hashes,
           ROUND(power(1.0 / bands, 1.0 / rows_per_band), 6) AS s_threshold,
           ROUND(1 - power(1 - power(0.5, rows_per_band), bands), 6) AS p_at_50,
           ROUND(1 - power(1 - power(0.8, rows_per_band), bands), 6) AS p_at_80,
           ROUND(1 - power(1 - power(0.9, rows_per_band), bands), 6) AS p_at_90,
           (1 - power(1 - power(0.8, rows_per_band), bands)) >= 0.9
               AND (1 - power(1 - power(0.5, rows_per_band), bands)) <= 0.25
               AS meets_slo
    FROM grid
    """,
)
def d70_lsh_parameter_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = spark.createDataFrame(
        [(64, 2), (32, 4), (20, 6), (16, 8), (12, 10), (8, 16)],
        "bands int, rows_per_band int",
    )

    def p_at(s: float):
        return 1 - F.pow(
            1 - F.pow(F.lit(s), F.col("rows_per_band")), F.col("bands")
        )

    return grid.select(
        "bands",
        "rows_per_band",
        (F.col("bands") * F.col("rows_per_band")).alias("total_hashes"),
        F.round(
            F.pow(1.0 / F.col("bands"), 1.0 / F.col("rows_per_band")), 6
        ).alias("s_threshold"),
        F.round(p_at(0.5), 6).alias("p_at_50"),
        F.round(p_at(0.8), 6).alias("p_at_80"),
        F.round(p_at(0.9), 6).alias("p_at_90"),
        ((p_at(0.8) >= 0.9) & (p_at(0.5) <= 0.25)).alias("meets_slo"),
    )


# --------------------------------------------------------------------------
# D71 — Neyman-optimal stratified sampling allocation (Neyman 1934): the
# profiling step before d8/d12's samplers — allocate a budget of B=100
# sample slots across language strata proportionally to N_h * S_h (size x
# within-stratum std of doc length), the allocation that minimizes the
# estimator variance at fixed budget. One keyed agg + a broadcast scalar.
# --------------------------------------------------------------------------
@register(
    "d71_neyman_allocation",
    oracle="""
    WITH stats AS (
        SELECT lang, COUNT(*) AS nh, stddev_samp(n_chars) AS sh
        FROM documents GROUP BY lang
    ), tot AS (SELECT SUM(nh * sh) AS z FROM stats)
    SELECT lang, CAST(nh AS BIGINT) AS nh, ROUND(sh, 4) AS stddev_chars,
           ROUND(100 * nh * sh / z, 4) AS neyman_alloc
    FROM stats, tot
    """,
)
def d71_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("nh"),
        F.stddev_samp("n_chars").alias("sh"),
    )
    tot = stats.agg(F.sum(F.col("nh") * F.col("sh")).alias("z"))
    return stats.crossJoin(F.broadcast(tot)).select(
        "lang",
        "nh",
        F.round("sh", 4).alias("stddev_chars"),
        F.round(F.lit(100) * F.col("nh") * F.col("sh") / F.col("z"), 4).alias(
            "neyman_alloc"
        ),
    )


# --------------------------------------------------------------------------
# D72 — Population Stability Index between corpus halves: THE drift
# metric for monitoring an ingest feed (PSI = sum (p-q) ln(p/q) over
# fixed bins; < 0.1 stable, > 0.25 shifted). Fixed 50-char bins over
# n_chars with +0.5 smoothing so empty bins can't produce infinities.
# Everything is two keyed aggs + a broadcast totals row; the verdict
# applies the standard 0.1 stability threshold.
# --------------------------------------------------------------------------
@register(
    "d72_psi_drift",
    oracle="""
    WITH halves AS (
        SELECT doc_id % 2 = 0 AS is_a,
               CAST(least(7, greatest(0,
                    CAST(floor((n_chars - 150) / 50) AS INTEGER) + 1))
                    AS INTEGER) AS bin
        FROM documents
    ), cnt AS (
        SELECT bin, SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
               SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS cb
        FROM halves GROUP BY bin
    ), tots AS (SELECT SUM(ca) AS ta, SUM(cb) AS tb FROM cnt),
    terms AS (
        SELECT ROUND(((ca + 0.5) / (ta + 0.5) - (cb + 0.5) / (tb + 0.5))
               * ln(((ca + 0.5) / (ta + 0.5)) / ((cb + 0.5) / (tb + 0.5))),
               6) AS t
        FROM cnt, tots
    )
    SELECT ROUND(SUM(t), 6) AS psi, SUM(t) < 0.1 AS stable FROM terms
    """,
)
def d72_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bin_expr = (
        F.least(
            F.lit(7),
            F.greatest(
                F.lit(0), F.floor((F.col("n_chars") - 150) / 50).cast("int") + 1
            ),
        )
    ).cast("int")
    halves = docs.select(
        (F.col("doc_id") % 2 == 0).alias("is_a"), bin_expr.alias("bin")
    )
    cnt = halves.groupBy("bin").agg(
        F.sum(F.col("is_a").cast("int")).alias("ca"),
        F.sum((~F.col("is_a")).cast("int")).alias("cb"),
    )
    tots = cnt.agg(F.sum("ca").alias("ta"), F.sum("cb").alias("tb"))
    terms = cnt.crossJoin(F.broadcast(tots)).select(
        F.round(
            (
                (F.col("ca") + 0.5) / (F.col("ta") + 0.5)
                - (F.col("cb") + 0.5) / (F.col("tb") + 0.5)
            )
            * F.log(
                ((F.col("ca") + 0.5) / (F.col("ta") + 0.5))
                / ((F.col("cb") + 0.5) / (F.col("tb") + 0.5))
            ),
            6,
        ).alias("t")
    )
    return terms.agg(F.round(F.sum("t"), 6).alias("psi")).select(
        "psi", (F.col("psi") < 0.1).alias("stable")
    )


# --------------------------------------------------------------------------
# D73 — two-sample Kolmogorov-Smirnov statistic (en vs non-en doc
# lengths): max |F_a(v) - F_b(v)| over the VALUE-grouped cumulative
# counts, with the alpha=0.05 critical value 1.36*sqrt((na+nb)/(na*nb)).
# The cumulative window runs over DISTINCT n_chars values (a few hundred
# rows after the keyed agg — bounded by the value domain, not the corpus,
# so the unpartitioned window is safe; the same bound d51's cumulative
# histogram relies on). na/nb/crit are all in-plan broadcast scalars — no
# driver math.
# --------------------------------------------------------------------------
@register(
    "d73_ks_test",
    oracle="""
    WITH vals AS (SELECT lang = 'en' AS is_en, n_chars FROM documents),
    ns AS (
        SELECT SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS na,
               SUM(CASE WHEN is_en THEN 0 ELSE 1 END) AS nb
        FROM vals
    ), cum AS (
        SELECT n_chars,
               SUM(SUM(CASE WHEN is_en THEN 1 ELSE 0 END))
                   OVER (ORDER BY n_chars) AS ca,
               SUM(SUM(CASE WHEN is_en THEN 0 ELSE 1 END))
                   OVER (ORDER BY n_chars) AS cb
        FROM vals GROUP BY n_chars
    )
    SELECT ROUND(MAX(ABS(ca * 1.0 / ns.na - cb * 1.0 / ns.nb)), 6) AS ks_stat,
           ROUND(CAST(1.36 * sqrt((ns.na + ns.nb) * 1.0 / (ns.na * ns.nb))
                 AS DOUBLE), 6) AS ks_crit_05,
           MAX(ABS(ca * 1.0 / ns.na - cb * 1.0 / ns.nb))
               < 1.36 * sqrt((ns.na + ns.nb) * 1.0 / (ns.na * ns.nb))
               AS same_distribution
    FROM cum, ns
    GROUP BY ns.na, ns.nb
    """,
)
def d73_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    vals = docs.select((F.col("lang") == "en").alias("is_en"), "n_chars")
    ns = vals.agg(
        F.sum(F.col("is_en").cast("int")).alias("na"),
        F.sum((~F.col("is_en")).cast("int")).alias("nb"),
    )
    cum_w = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        vals.groupBy("n_chars")
        .agg(
            F.sum(F.col("is_en").cast("int")).alias("a"),
            F.sum((~F.col("is_en")).cast("int")).alias("b"),
        )
        .select(
            "n_chars",
            F.sum("a").over(cum_w).alias("ca"),
            F.sum("b").over(cum_w).alias("cb"),
        )
    )
    crit = 1.36 * F.sqrt((F.col("na") + F.col("nb")) / (F.col("na") * F.col("nb")))
    return (
        cum.crossJoin(F.broadcast(ns))
        .agg(
            F.round(
                F.max(F.abs(F.col("ca") / F.col("na") - F.col("cb") / F.col("nb"))),
                6,
            ).alias("ks_stat"),
            F.round(F.max(crit), 6).alias("ks_crit_05"),
            (
                F.max(F.abs(F.col("ca") / F.col("na") - F.col("cb") / F.col("nb")))
                < F.max(crit)
            ).alias("same_distribution"),
        )
    )


# --------------------------------------------------------------------------
# D74 — chi-squared token-language dependence: the classic feature-
# selection / dependence statistic (chi2 = sum (O-E)^2/E over the
# lang x token contingency table). High-chi2 tokens are the
# language-discriminative vocabulary — what a fasttext-style router would
# weight first, and the dependence dual of d73's distribution test. The
# contingency table is vocab x langs (bounded), built from one keyed agg
# plus two broadcast marginals.
# --------------------------------------------------------------------------
@register(
    "d74_chi2_dependence",
    oracle="""
    WITH toks AS (
        SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
    ), obs AS (SELECT lang, word, COUNT(*) AS o FROM toks GROUP BY 1, 2),
    row_t AS (SELECT lang, COUNT(*) AS rt FROM toks GROUP BY 1),
    col_t AS (SELECT word, COUNT(*) AS ct FROM toks GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM toks),
    per_word AS (
        SELECT o.word,
               ROUND(SUM(POWER(o.o - r.rt * c.ct * 1.0 / n.n, 2)
                     / (r.rt * c.ct * 1.0 / n.n)), 4) AS chi2
        FROM obs o
        JOIN row_t r ON o.lang = r.lang
        JOIN col_t c ON o.word = c.word, n
        GROUP BY o.word
    )
    SELECT word, chi2, CAST(rk AS INTEGER) AS rk
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY chi2 DESC, word) AS rk
          FROM per_word)
    WHERE rk <= 10
    """,
)
def d74_chi2_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("lang", F.explode(F.split("text", " ")).alias("word"))
    obs = toks.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("o"))
    row_t = toks.groupBy("lang").agg(F.count(F.lit(1)).alias("rt"))
    col_t = toks.groupBy("word").agg(F.count(F.lit(1)).alias("ct"))
    n = toks.agg(F.count(F.lit(1)).alias("n"))
    expected = F.col("rt") * F.col("ct") / F.col("n")
    per_word = (
        obs.join(F.broadcast(row_t), "lang")
        .join(F.broadcast(col_t), "word")
        .crossJoin(F.broadcast(n))
        .select("word", ((F.col("o") - expected) ** 2 / expected).alias("term"))
        .groupBy("word")
        .agg(F.round(F.sum("term"), 4).alias("chi2"))
    )
    # r16: constant-k frontier — TakeOrderedAndProject (per-partition
    # top-10 then merge), never a vocabulary-wide single-task window;
    # the rank label is re-derived over the 10 surviving rows only
    # (bounded by construction, the calendar-window class).
    top = per_word.orderBy(F.desc("chi2"), F.asc("word")).limit(10)
    w10 = Window.orderBy(F.desc("chi2"), F.asc("word"))
    return top.select(
        "word", "chi2", F.row_number().over(w10).cast("int").alias("rk")
    )


# --------------------------------------------------------------------------
# D75 — Gini coefficient of token-frequency concentration: vocabulary
# inequality (0 = perfectly uniform usage, -> 1 = a few tokens dominate).
# Natural corpora sit high (Zipf); a near-zero value flags synthetic or
# templated text — a one-number generator fingerprint. Computed exactly
# from the rank-weighted sorted frequency table (G = 2*sum(i*f_i)/(n*F) -
# (n+1)/n); the rank window runs over the VOCABULARY (bounded), not the
# corpus.
# --------------------------------------------------------------------------
def _word_prefix_frac() -> "F.Column":
    """[0, 1) fraction monotone in the binary order of ``word``'s first
    two code points (clamped at 255): the tie-spreading term for exact
    rank over Zipf-skewed frequency tables — without it, the huge f=1
    tie class lands on ONE range task (r16; see exact_ntile.lead_expr)."""
    c1 = F.least(F.ascii(F.col("word")), F.lit(255))
    c2 = F.least(F.ascii(F.substring("word", 2, 1)), F.lit(255))
    return c1 / 256.0 + c2 / 65536.0


@register(
    "d75_gini_concentration",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ), freq AS (SELECT word, COUNT(*) AS f FROM toks GROUP BY 1),
    ranked AS (
        SELECT f, ROW_NUMBER() OVER (ORDER BY f, word) AS i FROM freq
    )
    SELECT ROUND(2.0 * SUM(i * f) / (COUNT(*) * SUM(f))
                 - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab_size
    FROM ranked
    """,
)
def d75_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lime_on_spark_spark.operators.exact_ntile import with_exact_ntile

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("word"))
    freq = toks.groupBy("word").agg(F.count(F.lit(1)).alias("f"))
    # r16: was a partition-less row_number window (single-task sort of
    # the whole vocabulary). Now the range-bucketed exact rank; the
    # lead expression spreads the massive f=1 tie class across ranges
    # by word prefix (monotone in (f, word), so ranks stay exact).
    ranked = with_exact_ntile(
        freq,
        1,
        ["f", "word"],
        out_col="_b",
        rank_col="i",
        lead_expr=F.col("f") + _word_prefix_frac(),
    ).drop("_b")
    return ranked.agg(
        F.round(
            2.0 * F.sum(F.col("i") * F.col("f"))
            / (F.count(F.lit(1)) * F.sum("f"))
            - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1)),
            6,
        ).alias("gini_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
    )


# --------------------------------------------------------------------------
# D76 — Zipf exponent fit: least-squares slope of log(freq) on log(rank)
# over the token frequency table. Natural language sits near -1; the
# fitted slope + R^2 are the distribution-shape fingerprint that
# complements d75's Gini scalar. The regression reduces to the a9
# corr/stddev aggregate family over the (bounded) vocabulary — slope =
# cov(x,y)/var(x), all in one agg.
# --------------------------------------------------------------------------
@register(
    "d76_zipf_fit",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ), freq AS (SELECT word, COUNT(*) AS f FROM toks GROUP BY 1),
    ranked AS (
        SELECT ln(ROW_NUMBER() OVER (ORDER BY f DESC, word)) AS x,
               ln(f) AS y
        FROM freq
    )
    SELECT ROUND(covar_samp(x, y) / var_samp(x), 6) AS zipf_slope,
           ROUND(POWER(corr(x, y), 2), 6) AS r2,
           CAST(COUNT(*) AS BIGINT) AS vocab_size
    FROM ranked
    """,
)
def d76_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lime_on_spark_spark.operators.exact_ntile import with_exact_ntile

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("word"))
    freq = toks.groupBy("word").agg(F.count(F.lit(1)).alias("f"))
    # r16: exact rank by (f DESC, word) via the range-bucketed operator
    # (negated f makes the order ascending); the lead expression spreads
    # the f=1 tie class by word prefix — see d75.
    ranked = with_exact_ntile(
        freq.withColumn("_nf", -F.col("f")),
        1,
        ["_nf", "word"],
        out_col="_b",
        rank_col="_rk",
        lead_expr=F.col("_nf") + _word_prefix_frac(),
    ).select(
        F.log(F.col("_rk").cast("double")).alias("x"),
        F.log("f").alias("y"),
    )
    return ranked.agg(
        F.round(F.covar_samp("x", "y") / F.var_samp("x"), 6).alias("zipf_slope"),
        F.round(F.corr("x", "y") ** 2, 6).alias("r2"),
        F.count(F.lit(1)).alias("vocab_size"),
    )


# --------------------------------------------------------------------------
# D77 — containment scoring (Broder 1997, "On the resemblance and
# containment of documents"): containment c(A,B) = |A n B| / min(|A|,|B|)
# catches SUBSET duplication — a doc quoted or embedded inside a longer
# one — which symmetric Jaccard dilutes toward zero as the host grows.
# Output: top-10 candidate pairs with both metrics plus the asymmetry
# ratio containment/jaccard (>> 1 flags quote/subset cases).
#
# Scale shape: same inverted-index shared-shingle self-join as
# d2_ngram_jaccard; at corpus scale the same hashed-shingle keys +
# stop-shingle DF cutoff (operators/jaccard.py) apply unchanged — only
# the final scoring formula differs.
# --------------------------------------------------------------------------
@register(
    "d77_containment_pairs",
    oracle="""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ), sh AS (
        SELECT DISTINCT w1.doc_id,
               w1.word || ' ' || w2.word || ' ' || w3.word AS shingle
        FROM words w1
        JOIN words w2 ON w1.doc_id = w2.doc_id AND w2.pos = w1.pos + 1
        JOIN words w3 ON w1.doc_id = w3.doc_id AND w3.pos = w1.pos + 2
    ), sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), scored AS (
        SELECT i.da, i.db,
               ROUND(i.i * 1.0 / LEAST(sa.sz, sb.sz), 6) AS containment,
               ROUND(i.i * 1.0 / (sa.sz + sb.sz - i.i), 6) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.da
        JOIN sizes sb ON sb.doc_id = i.db
    )
    SELECT da, db, containment, jaccard,
           ROUND(containment / jaccard, 4) AS asymmetry
    FROM (SELECT *, ROW_NUMBER() OVER (
              ORDER BY containment DESC, jaccard DESC, da, db) AS rk
          FROM scored)
    WHERE rk <= 10
    """,
)
def d77_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(0, size(toks) - 3),"
                        " i -> concat_ws(' ', slice(toks, i + 1, 3)))"
                    )
                )
            ).alias("shingle"),
        )
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("doc_id").alias("da"), "shingle")
    b = sh.select(F.col("doc_id").alias("db"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    scored = (
        inter.join(
            F.broadcast(sizes.select(F.col("doc_id").alias("da"),
                                     F.col("sz").alias("za"))),
            "da",
        )
        .join(
            F.broadcast(sizes.select(F.col("doc_id").alias("db"),
                                     F.col("sz").alias("zb"))),
            "db",
        )
        .select(
            "da",
            "db",
            F.round(F.col("i") / F.least("za", "zb"), 6).alias("containment"),
            F.round(
                F.col("i") / (F.col("za") + F.col("zb") - F.col("i")), 6
            ).alias("jaccard"),
        )
    )
    # Distributed top-k (TakeOrderedAndProject), not a single-task window.
    return (
        scored.orderBy(
            F.desc("containment"), F.desc("jaccard"), F.asc("da"), F.asc("db")
        )
        .limit(10)
        .select(
            "da",
            "db",
            "containment",
            "jaccard",
            F.round(F.col("containment") / F.col("jaccard"), 4).alias(
                "asymmetry"
            ),
        )
    )


# --------------------------------------------------------------------------
# D78 — KMV (k-minimum-values) cardinality sketch (Bar-Yossef et al.
# 2002): distinct-count estimated from the k-th smallest hash alone —
# est = (k-1)/u_(k) with k=256. The third distinct-count machine in the
# repo after exact bitmap (a2) and HLL (a3), and the one whose state IS a
# mergeable top-k set (union sketches by keeping the 256 smallest of the
# union — trivially map-side combinable). The md5-uniform hash makes u_(k)
# a pure function of the data, so even the ESTIMATE is oracle-exact; the
# verdict applies the ~1/sqrt(k) error bound (4/sqrt(256) = 0.25).
#
# Scale shape: the k smallest hashes come out of a TakeOrderedAndProject
# (top-k, per-partition pruned) — never a global sort or single-task
# window.
# --------------------------------------------------------------------------
@register(
    "d78_kmv_cardinality",
    oracle="""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ), sh AS (
        SELECT DISTINCT w1.word || ' ' || w2.word || ' ' || w3.word AS shingle
        FROM words w1
        JOIN words w2 ON w1.doc_id = w2.doc_id AND w2.pos = w1.pos + 1
        JOIN words w3 ON w1.doc_id = w3.doc_id AND w3.pos = w1.pos + 2
    ), u AS (
        SELECT CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT)
               / 4294967296.0 AS uv
        FROM sh
    ), kth AS (SELECT MAX(uv) AS uk
               FROM (SELECT uv FROM u ORDER BY uv LIMIT 256)),
    exact AS (SELECT COUNT(*) AS n FROM u)
    SELECT CAST(exact.n AS BIGINT) AS n_exact,
           ROUND(CASE WHEN exact.n >= 256 THEN 255.0 / kth.uk
                      ELSE CAST(exact.n AS DOUBLE) END, 2) AS kmv_estimate,
           CASE WHEN exact.n >= 256
                THEN ABS(255.0 / kth.uk - exact.n) / exact.n <= 0.25
                ELSE TRUE END AS within_tolerance
    FROM kth, exact
    """,
)
def d78_kmv_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = 256
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .filter(F.size("toks") >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 3),"
                    " i -> concat_ws(' ', slice(toks, i + 1, 3)))"
                )
            ).alias("shingle")
        )
        .distinct()
    )
    u = sh.select(
        (
            F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long")
            / F.lit(4294967296.0)
        ).alias("uv")
    )
    # k smallest via TakeOrderedAndProject; u_(k) = max of the k-set.
    # When the corpus has fewer than k distinct shingles the k-th minimum
    # does not exist (the estimator is undefined; a naive OFFSET k-1 oracle
    # would even return zero rows) — both engines fall back to the exact
    # count, keeping the row total and schema stable at any input size.
    kth = u.orderBy("uv").limit(k).agg(F.max("uv").alias("uk"))
    exact = u.agg(F.count(F.lit(1)).alias("n_exact"))
    est = F.lit(float(k - 1)) / F.col("uk")
    return exact.crossJoin(F.broadcast(kth)).select(
        "n_exact",
        F.round(
            F.when(F.col("n_exact") >= k, est).otherwise(
                F.col("n_exact").cast("double")
            ),
            2,
        ).alias("kmv_estimate"),
        F.when(
            F.col("n_exact") >= k,
            F.abs(est - F.col("n_exact")) / F.col("n_exact") <= 0.25,
        )
        .otherwise(F.lit(True))
        .alias("within_tolerance"),
    )


# --------------------------------------------------------------------------
# D79 — Good-Turing frequency smoothing (Good 1953): re-estimate n-gram
# counts from the count-of-counts table — r* = (r+1) N_{r+1} / N_r — and
# the unseen-mass estimate P0 = N_1 / N. The smoothing step under
# Katz-backoff LMs and the principled companion to d30's MLE bigram
# model. The count-of-counts table is tiny (distinct frequency VALUES),
# so the r -> r+1 self-join is a broadcast of a few dozen rows no matter
# the corpus size.
# --------------------------------------------------------------------------
@register(
    "d79_good_turing",
    oracle="""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ), bg AS (
        SELECT w1.word || ' ' || w2.word AS bigram
        FROM words w1
        JOIN words w2 ON w1.doc_id = w2.doc_id AND w2.pos = w1.pos + 1
    ), freq AS (SELECT bigram, COUNT(*) AS r FROM bg GROUP BY bigram),
    coc AS (SELECT r, COUNT(*) AS nr FROM freq GROUP BY r),
    tot AS (SELECT CAST(SUM(r * nr) AS BIGINT) AS n FROM coc)
    SELECT a.r, CAST(a.nr AS BIGINT) AS n_r,
           ROUND((a.r + 1) * b.nr * 1.0 / a.nr, 6) AS r_star,
           ROUND(COALESCE((SELECT nr FROM coc WHERE r = 1), 0) * 1.0 / t.n,
                 6) AS p0_unseen
    FROM coc a JOIN coc b ON b.r = a.r + 1, tot t
    WHERE a.r <= 5
    """,
)
def d79_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bg = (
        docs.select(F.split("text", " ").alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 2),"
                    " i -> concat(w[i], ' ', w[i + 1]))"
                )
            ).alias("bigram")
        )
    )
    freq = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("r"))
    coc = freq.groupBy("r").agg(F.count(F.lit(1)).alias("nr"))
    tot = coc.agg(F.sum(F.col("r") * F.col("nr")).alias("n"))
    # N_1 may be absent entirely (no singleton bigrams at larger SFs):
    # an aggregate keeps this a 1-row frame either way.
    n1 = coc.agg(
        F.coalesce(
            F.sum(F.when(F.col("r") == 1, F.col("nr"))), F.lit(0)
        ).alias("n1")
    )
    nxt = coc.select((F.col("r") - 1).alias("r"), F.col("nr").alias("nr_next"))
    return (
        coc.filter(F.col("r") <= 5)
        .join(F.broadcast(nxt), "r")  # count-of-counts: dozens of rows
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(n1))
        .select(
            "r",
            F.col("nr").alias("n_r"),
            F.round((F.col("r") + 1) * F.col("nr_next") / F.col("nr"), 6).alias(
                "r_star"
            ),
            F.round(F.col("n1") / F.col("n"), 6).alias("p0_unseen"),
        )
    )


# --------------------------------------------------------------------------
# D81 — Poissonized bootstrap confidence interval (Chamandy et al., "The
# Poisson bootstrap", Google 2012; the standard way to bootstrap on a
# cluster): instead of resampling n rows WITH replacement (which needs
# global coordination), each (row, replicate) pair draws an independent
# Poisson(1) weight — for large n the weighted estimate is distributionally
# indistinguishable from a classic bootstrap resample, and the weights are
# a pure scan-stage expression. The QA primitive behind "how stable is this
# corpus statistic": here, a 95% CI for the mean document length.
#
# Determinism: the Poisson draw is the inverse-CDF of the md5-uniform of
# (doc_id '#' rep) — both engines evaluate the SAME cumulative-probability
# thresholds (10-dp literals) on the SAME uniform, so every weight, every
# replicate mean, and the CI bounds are bit-reproducible. Scale shape: one
# scan-stage explode (n_docs x 200 rows), one map-side-combinable keyed
# agg to 200 replicate means, and a 200-row window for the order
# statistics — no driver-side loop, no global resample.
# --------------------------------------------------------------------------
_D81_REPS = 200
#: Cumulative Poisson(1) CDF thresholds for k = 0..5 (10 dp, shared
#: literal-for-literal with the oracle SQL; u >= last threshold -> w = 6).
_D81_CDF = (
    "0.3678794412", "0.7357588823", "0.9196986029",
    "0.9810118431", "0.9963387132", "0.9994058151",
)
_D81_W_SQL = (
    "CASE WHEN u < {c0} THEN 0 WHEN u < {c1} THEN 1 WHEN u < {c2} THEN 2 "
    "WHEN u < {c3} THEN 3 WHEN u < {c4} THEN 4 WHEN u < {c5} THEN 5 "
    "ELSE 6 END"
).format(c0=_D81_CDF[0], c1=_D81_CDF[1], c2=_D81_CDF[2],
         c3=_D81_CDF[3], c4=_D81_CDF[4], c5=_D81_CDF[5])


@register(
    "d81_bootstrap_ci",
    oracle=f"""
    WITH pairs AS (
        SELECT d.doc_id, d.n_chars, r.rep,
               CAST(('0x' || substr(md5(d.doc_id || '#' || r.rep), 1, 8))
                    AS BIGINT) / 4294967296.0 AS u
        FROM documents d,
             (SELECT unnest(range({_D81_REPS})) AS rep) r
    ), weighted AS (
        SELECT rep, n_chars, {_D81_W_SQL} AS w FROM pairs
    ), rep_means AS (
        SELECT rep,
               SUM(w * n_chars) * 1.0 / SUM(w) AS m
        FROM weighted GROUP BY rep
    ), ranked AS (
        SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS rk FROM rep_means
    )
    SELECT CAST({_D81_REPS} AS BIGINT)                   AS n_reps,
           (SELECT ROUND(AVG(n_chars), 4) FROM documents) AS point_mean,
           (SELECT ROUND(m, 4) FROM ranked WHERE rk = 5)   AS ci_lo,
           (SELECT ROUND(m, 4) FROM ranked WHERE rk = 196) AS ci_hi
    """,
)
def d81_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    pairs = docs.select(
        "doc_id",
        "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(_D81_REPS - 1))).alias("rep"),
    ).withColumn(
        "u",
        F.conv(
            F.substring(
                F.md5(F.concat_ws("#", F.col("doc_id"), F.col("rep"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0),
    )
    weighted = pairs.withColumn("w", F.expr(_D81_W_SQL))
    rep_means = weighted.groupBy("rep").agg(
        (F.sum(F.col("w") * F.col("n_chars")) / F.sum("w")).alias("m")
    )
    ranked = rep_means.withColumn(
        "rk", F.row_number().over(Window.orderBy("m"))
    )
    point = docs.agg(F.round(F.avg("n_chars"), 4).alias("point_mean"))
    lo = ranked.filter(F.col("rk") == 5).select(
        F.round("m", 4).alias("ci_lo")
    )
    hi = ranked.filter(F.col("rk") == _D81_REPS - 4).select(
        F.round("m", 4).alias("ci_hi")
    )
    return (
        point.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            F.lit(_D81_REPS).cast("bigint").alias("n_reps"),
            "point_mean",
            "ci_lo",
            "ci_hi",
        )
    )


# --------------------------------------------------------------------------
# D82 — A/B experiment readout via Welch's unequal-variance t-test: the
# analysis half of every experimentation pipeline (d8's hash-split is the
# assignment half). Users are split by md5 parity (coordination-free,
# stable across reruns — the d8 discipline), and the per-arm mean/variance
# aggregates give the Welch statistic and Welch–Satterthwaite degrees of
# freedom in ONE map-side-combinable pass per arm — no per-user state, no
# driver math beyond the final 1-row expression. The significance boolean
# is computed from the 6-dp-rounded statistic on BOTH sides, so a last-ulp
# variance difference cannot flip it.
# --------------------------------------------------------------------------
@register(
    "d82_ab_welch_test",
    oracle="""
    WITH assigned AS (
        SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                              1, 8)) AS BIGINT) % 2 = 0
                    THEN 'A' ELSE 'B' END AS arm,
               value
        FROM events
        WHERE value IS NOT NULL
    ), arms AS (
        SELECT arm, COUNT(*) AS n, AVG(value) AS m, VAR_SAMP(value) AS v
        FROM assigned GROUP BY arm
    ), wide AS (
        SELECT
            (SELECT n FROM arms WHERE arm = 'A') AS na,
            (SELECT n FROM arms WHERE arm = 'B') AS nb,
            (SELECT m FROM arms WHERE arm = 'A') AS ma,
            (SELECT m FROM arms WHERE arm = 'B') AS mb,
            (SELECT v FROM arms WHERE arm = 'A') AS va,
            (SELECT v FROM arms WHERE arm = 'B') AS vb
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ROUND(ma, 4) AS mean_a, ROUND(mb, 4) AS mean_b,
           ROUND((ma - mb) / sqrt(va / na + vb / nb), 6) AS t_stat,
           ROUND(pow(va / na + vb / nb, 2)
                 / (pow(va / na, 2) / (na - 1)
                    + pow(vb / nb, 2) / (nb - 1)), 2) AS welch_dof,
           ABS(ROUND((ma - mb) / sqrt(va / na + vb / nb), 6)) > 1.96
               AS significant_95
    FROM wide
    """,
)
def d82_ab_welch_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    arm = F.when(_md5_parity(F.col("user_id")), "A").otherwise("B")
    # NULL values excluded like d86: n must count the same population that
    # avg/var_samp aggregate, or the standard error and dof are computed
    # over a larger n than the moments.
    arms = (
        events.select(arm.alias("arm"), "value")
        .filter(F.col("value").isNotNull())
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("value").alias("m"),
            F.var_samp("value").alias("v"),
        )
    )
    a = arms.filter(F.col("arm") == "A").select(
        F.col("n").alias("na"), F.col("m").alias("ma"), F.col("v").alias("va")
    )
    b = arms.filter(F.col("arm") == "B").select(
        F.col("n").alias("nb"), F.col("m").alias("mb"), F.col("v").alias("vb")
    )
    se2 = F.col("va") / F.col("na") + F.col("vb") / F.col("nb")
    t = F.round((F.col("ma") - F.col("mb")) / F.sqrt(se2), 6)
    dof = F.round(
        F.pow(se2, 2)
        / (
            F.pow(F.col("va") / F.col("na"), 2) / (F.col("na") - 1)
            + F.pow(F.col("vb") / F.col("nb"), 2) / (F.col("nb") - 1)
        ),
        2,
    )
    return a.crossJoin(F.broadcast(b)).select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round("ma", 4).alias("mean_a"),
        F.round("mb", 4).alias("mean_b"),
        t.alias("t_stat"),
        dof.alias("welch_dof"),
        (F.abs(t) > 1.96).alias("significant_95"),
    )


# --------------------------------------------------------------------------
# D83 — learned quality filter (CCNet, Wenzek et al. 2020; GPT-3 appendix A):
# the model-based counterpart to the heuristic gates d5/d19/d30/d46. Weak
# labels from a deterministic TTR-quartile proxy, a seed-free LBFGS
# text-classifier pipeline (lime/models.py), one distributed JVM-side
# scoring pass over the whole corpus, filter at P(keep) >= 0.5, per-source
# keep rates. Verdict conversion (the l10v pattern): per-source populations
# are SQL-exact; the model-dependent facts are booleans with wide measured
# margins (train acc 1.0 vs the 0.75 bar at every SF; weak-pos/weak-neg
# mean-score separation ~0.985 vs the 0.1 bar; keep rate 0.49-0.51 vs the
# [0.2, 0.8] band). Exact per-source keep rates stay pinned by
# tests/test_datasel.py (determinism + bounds).
# Scale: fit cost is bounded by the labeled quartiles (sampled at 100 TB);
# scoring is a broadcast-model map (no shuffle); the only shuffle is the
# final per-source agg.
# --------------------------------------------------------------------------
@register(
    "d83_quality_classifier",
    oracle="""
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           TRUE AS acc_above_chance, TRUE AS separation_ok,
           TRUE AS keep_rate_sane
    FROM documents GROUP BY source
    """,
)
def d83_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lime_on_spark_spark.lime.models import (
        score_quality,
        train_quality_model,
    )

    docs = load_table(spark, sf_dir, "documents")
    model, lo, hi = train_quality_model(spark, sf_dir)
    toks = F.split("text", " ")
    q = F.size(F.array_distinct(toks)) / F.size(toks)
    scored = score_quality(model, docs.withColumn("q", q)).select(
        "doc_id",
        "source",
        (F.col("p_keep") >= 0.5).alias("keep"),
        # Replay the trainer's weak-label rule so the verdict can measure
        # train accuracy and separation without a second labeled pass.
        F.when(F.col("q") >= hi, 1.0)
        .when(F.col("q") <= lo, 0.0)
        .alias("wl"),
        "p_keep",
    )
    # Both aggregates below consume `scored`, whose lineage holds the full
    # HashingTF + model scoring pass over every document — persist so the
    # transform runs once, not once per aggregate.
    scored = scored.persist()
    verdict = scored.agg(
        F.avg(
            F.when(
                F.col("wl").isNotNull(),
                (F.col("keep").cast("double") == F.col("wl")).cast("double"),
            )
        ).alias("train_acc"),
        F.avg(F.when(F.col("wl") == 1.0, F.col("p_keep"))).alias("p_pos"),
        F.avg(F.when(F.col("wl") == 0.0, F.col("p_keep"))).alias("p_neg"),
        F.avg(F.col("keep").cast("double")).alias("keep_rate"),
    ).select(
        (F.col("train_acc") >= 0.75).alias("acc_above_chance"),
        (F.col("p_pos") - F.col("p_neg") > 0.1).alias("separation_ok"),
        F.col("keep_rate").between(0.2, 0.8).alias("keep_rate_sane"),
    )
    # Per-source keep RATES are model-dependent (tests pin their bounds and
    # determinism separately); the hashed output carries only counts.
    per_source = scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    return per_source.crossJoin(F.broadcast(verdict)).select(
        "source", "n_docs", "acc_above_chance", "separation_ok", "keep_rate_sane"
    )


# --------------------------------------------------------------------------
# D86 — Mann-Whitney U test (Wilcoxon rank-sum): the NONPARAMETRIC A/B
# readout next to d82's Welch t — the one you reach for when `value` is
# skewed/heavy-tailed and means mislead. Arms are the same md5-parity
# assignment as d82 (engine-reproducible). U_A is computed WITHOUT a
# global rank window: group to the distinct-value histogram, then an exact
# distributed prefix sum (operators/prefix_sum.py — per-partition windows
# + O(#partitions) driver offsets, no single-task sort) yields each
# value's count of smaller-B observations; U_A = sum a*(cum_b_below +
# b/2), with the tie-corrected normal approximation
# z = (U - na*nb/2) / sqrt(na*nb/12 * (n+1 - sum(t^3-t)/(n(n-1)))).
# The DuckDB oracle uses the plain window spelling — the scan's output is
# partitioning-invariant, so the two must agree exactly.
# --------------------------------------------------------------------------
@register(
    "d86_mann_whitney",
    oracle="""
    WITH assigned AS (
        SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                              1, 8)) AS BIGINT) % 2 = 0
                    THEN 'A' ELSE 'B' END AS arm,
               value
        FROM events
        WHERE value IS NOT NULL
    ), dist AS (
        SELECT value,
               SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS a,
               SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS b
        FROM assigned GROUP BY value
    ), cum AS (
        SELECT value, a, b,
               SUM(b) OVER (ORDER BY value
                            ROWS UNBOUNDED PRECEDING) AS cb
        FROM dist
    ), tot AS (
        SELECT SUM(a) AS na, SUM(b) AS nb, SUM(a + b) AS n,
               SUM(POW(a + b, 3) - (a + b)) AS tie
        FROM dist
    ), u AS (
        SELECT SUM(a * ((cb - b) + 0.5 * b)) AS u_a FROM cum
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ROUND(u_a, 2) AS u_stat,
           ROUND((u_a - na * nb / 2.0)
                 / sqrt(na * nb / 12.0
                        * ((n + 1) - tie / (n * (n - 1.0)))), 6) AS z_stat,
           ABS(ROUND((u_a - na * nb / 2.0)
                 / sqrt(na * nb / 12.0
                        * ((n + 1) - tie / (n * (n - 1.0)))), 6)) > 1.96
               AS significant_95
    FROM u, tot
    """,
)
def d86_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lime_on_spark_spark.operators.prefix_sum import ordered_prefix_sum

    events = load_table(spark, sf_dir, "events")
    arm_a = _md5_parity(F.col("user_id"))
    # NULL values are excluded on BOTH sides: a NULL group would sort
    # NULLS FIRST in Spark but NULLS LAST in DuckDB's window, silently
    # shifting every cumulative count — and a rank test has no defined
    # treatment for missing observations anyway.
    dist = (
        events.select(arm_a.alias("is_a"), "value")
        .filter(F.col("value").isNotNull())
        .groupBy("value")
        .agg(
            F.sum(F.col("is_a").cast("int")).alias("a"),
            F.sum((~F.col("is_a")).cast("int")).alias("b"),
        )
    )
    cum = ordered_prefix_sum(dist, "value", ["b"])
    # Aggregate the totals off `cum`, not `dist`: cum descends from the
    # prefix-sum operator's persisted range-partitioned frame, so this
    # reuses the cache instead of re-scanning events a second time.
    tot = cum.agg(
        F.sum("a").alias("na"),
        F.sum("b").alias("nb"),
        F.sum(F.col("a") + F.col("b")).alias("n"),
        F.sum(
            F.pow(F.col("a") + F.col("b"), 3) - (F.col("a") + F.col("b"))
        ).alias("tie"),
    )
    u = cum.agg(
        F.sum(
            F.col("a") * ((F.col("cum_b") - F.col("b")) + 0.5 * F.col("b"))
        ).alias("u_a")
    )
    z = (F.col("u_a") - F.col("na") * F.col("nb") / 2.0) / F.sqrt(
        F.col("na")
        * F.col("nb")
        / 12.0
        * (
            (F.col("n") + 1)
            - F.col("tie") / (F.col("n") * (F.col("n") - 1.0))
        )
    )
    zr = F.round(z, 6)
    return u.crossJoin(F.broadcast(tot)).select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.round("u_a", 2).alias("u_stat"),
        zr.alias("z_stat"),
        (F.abs(zr) > 1.96).alias("significant_95"),
    )


# --------------------------------------------------------------------------
# D88 — model-based language ID (the CLD/fastText curation stage): d7's
# routing TRUSTS the `lang` column; real feeds don't ship one. A hashed
# char-2-gram -> LBFGS pipeline (lime/models.py train_langid_model) learns
# from PLANTED fixture docs — measured first: this corpus's text carries
# no lang signal (train-on-all NB ties the 0.41 majority share; every lang
# draws from the same 31-word vocabulary), so the labeled set follows the
# d85 fixture discipline instead: 600 md5-generated docs over genuinely
# language-distinctive vocabularies, split train/holdout by md5-uniform.
# Verdict conversion (the d83 pattern): fixture populations and the
# train/holdout split are SQL-exact md5 replays; model-dependent facts are
# booleans with wide measured margins (holdout acc 1.0 vs the 0.9 bar and
# the +0.5-over-chance bar; per-lang recall 1.0 vs 0.8). The trained model
# then scores the REAL corpus in one broadcast-model transform —
# corpus_scored pins that the distributed pass covered every doc.
# Scale: fit on O(100) labeled rows (at 100 TB you train on any labeled
# sample the same way); corpus scoring is a shuffle-free map stage.
# --------------------------------------------------------------------------
@register(
    "d88_langid_classifier",
    oracle="""
    WITH fx AS (
        SELECT i % 5 AS li,
               CAST(('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 8))
                    AS BIGINT) % 5 = 0 AS is_holdout
        FROM (SELECT unnest(range(600)) AS i)
    ), langs(li, lang) AS (
        VALUES (0, 'de'), (1, 'en'), (2, 'es'), (3, 'fr'), (4, 'zh')
    ), fc AS (
        SELECT lang,
               CAST(SUM(CASE WHEN NOT is_holdout THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_train,
               CAST(SUM(CASE WHEN is_holdout THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_holdout
        FROM fx JOIN langs USING (li) GROUP BY lang
    ), corpus AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_corpus_docs
        FROM documents GROUP BY lang
    )
    SELECT lang, n_train, n_holdout, n_corpus_docs,
           TRUE AS recall_ok, TRUE AS acc_above_bar,
           TRUE AS margin_over_chance, TRUE AS corpus_scored
    FROM fc JOIN corpus USING (lang)
    """,
)
def d88_langid_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lime_on_spark_spark.lime.models import (
        langid_fixtures,
        score_langid,
        train_langid_model,
    )

    model = train_langid_model(spark, sf_dir)
    # Fixture-side verdict frames are corpus-independent and fully
    # deterministic (md5 fixtures + a memoized model): memoize them so
    # repeated invocations pay only the REAL corpus-scoring pass below.
    def fixture_frames():
        fx = langid_fixtures(spark)
        # Holdout scoring feeds BOTH the per-lang recall agg and the
        # global accuracy agg — persist so the model transform runs once.
        hold = score_langid(model, fx.filter(F.col("is_holdout"))).persist()
        hit = (F.col("pred_lang") == F.col("lang")).cast("double")
        per_lang = hold.groupBy("lang").agg(
            (F.avg(hit) >= 0.8).alias("recall_ok")
        )
        glob = hold.agg(F.avg(hit).alias("acc")).select(
            (F.col("acc") >= 0.9).alias("acc_above_bar"),
            (F.col("acc") - 0.2 >= 0.5).alias("margin_over_chance"),
        )
        counts = fx.groupBy("lang").agg(
            F.sum((~F.col("is_holdout")).cast("int"))
            .cast("bigint")
            .alias("n_train"),
            F.sum(F.col("is_holdout").cast("int"))
            .cast("bigint")
            .alias("n_holdout"),
        )
        # localCheckpoint: memoized frames must not re-run fixture
        # generation + scoring lineage on every consumer; all three are
        # <= 5 rows.
        frames = (
            counts.localCheckpoint(eager=True),
            per_lang.localCheckpoint(eager=True),
            glob.localCheckpoint(eager=True),
        )
        hold.unpersist()
        return frames

    counts, per_lang, glob = session_memo(
        spark, ("d88.fixtures", sf_dir), fixture_frames
    )
    # One distributed scoring pass over the REAL corpus: per-lang doc
    # populations are SQL-exact; corpus_scored certifies the broadcast-
    # model map covered (and predicted for) every document.
    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    corpus = score_langid(model, docs).groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_corpus_docs"),
        (F.count("pred_lang") == F.count(F.lit(1))).alias("corpus_scored"),
    )
    return (
        counts.join(per_lang, "lang")
        .join(corpus, "lang")
        .crossJoin(F.broadcast(glob))
        .select(
            "lang", "n_train", "n_holdout", "n_corpus_docs",
            "recall_ok", "acc_above_bar", "margin_over_chance",
            "corpus_scored",
        )
    )


# --------------------------------------------------------------------------
# D99 — per-source quality calibration: raw quality scores are
# incomparable ACROSS sources (a web-crawl "300 chars" and a books
# "300 chars" sit at very different quality percentiles), so a single
# global threshold over-selects whichever source runs long. The
# production fix — used by every multi-source pretraining mix — is to
# calibrate per source: percent_rank of the score WITHIN its source,
# then one global calibrated cut (keep the top half of EACH source).
# The row emits, per source, the calibrated selection next to what a
# naive global raw-score cut at the corpus median would have kept — the
# imbalance the calibration exists to remove is visible in the artifact.
# Scale: one window shuffle keyed by source (bounded source cardinality;
# within-source ordering is Spark's spillable sort, never a driver
# sort) + one broadcast scalar for the corpus median. No all-pairs, no
# driver state.
# --------------------------------------------------------------------------
@register(
    "d99_source_calibrated_quality",
    oracle="""
    WITH scored AS (
        SELECT source, doc_id, n_chars,
               percent_rank() OVER (
                   PARTITION BY source ORDER BY n_chars, doc_id
               ) AS cal
        FROM documents
    ), med AS (
        SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS m
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT)                            AS n_docs,
           CAST(SUM(CASE WHEN cal >= 0.5 THEN 1 ELSE 0 END)
                AS BIGINT)                                     AS cal_kept,
           CAST(SUM(CASE WHEN n_chars >= (SELECT m FROM med)
                         THEN 1 ELSE 0 END) AS BIGINT)         AS raw_kept,
           MIN(CASE WHEN cal >= 0.5 THEN n_chars END)          AS cal_cutoff_chars,
           ROUND(AVG(CASE WHEN cal >= 0.5
                          THEN CAST(n_chars AS DOUBLE) END), 4) AS cal_kept_avg_chars
    FROM scored
    GROUP BY source
    """,
)
def d99_source_calibrated_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    # Deterministic within-source ranking: (n_chars, doc_id) is unique.
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    scored = docs.withColumn("cal", F.percent_rank().over(w))
    # Corpus-median raw threshold, the naive global cut: exact discrete
    # median (percentile_disc twin), computed once and broadcast as a
    # 1-row scalar — never a per-row subquery.
    med = docs.agg(
        F.expr("percentile(n_chars, 0.5, 1)").alias("m")
    )
    # percentile() is exact-interpolating; percentile_disc picks the
    # lower discrete value — align by flooring to an existing n_chars.
    med_val = docs.select("n_chars").join(
        F.broadcast(med), F.col("n_chars") <= F.col("m"), "inner"
    ).agg(F.max("n_chars").alias("m"))
    kept = F.col("cal") >= 0.5
    return (
        scored.join(F.broadcast(med_val), how="cross")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(kept.cast("int")).cast("bigint").alias("cal_kept"),
            F.sum((F.col("n_chars") >= F.col("m")).cast("int"))
            .cast("bigint")
            .alias("raw_kept"),
            F.min(F.when(kept, F.col("n_chars"))).alias("cal_cutoff_chars"),
            F.round(
                F.avg(F.when(kept, F.col("n_chars").cast("double"))), 4
            ).alias("cal_kept_avg_chars"),
        )
    )


# --------------------------------------------------------------------------
# D100 — filter provenance (Dolma-style attributes): production curation
# tags every document with WHICH rules it fails (an attribute bitmask
# stored beside the text — the Dolma attributes pattern), because the
# tuning question is never "how many docs survive" but "what does rule B
# remove that rule A hasn't already" — the rule CO-OCCURRENCE matrix.
# Four integer-exact rules (short, stopword-heavy, non-English,
# repetitious — thresholds cross-multiplied so no float ratio is ever
# compared), every pairwise overlap, each rule's solo count, and the
# survivor count under the all-rules policy, in one aggregation pass.
# Scale: one scan, one map of integer flag columns, one global agg —
# no shuffle of document text, no second pass per rule (the naive
# N-rules implementation scans N times).
# --------------------------------------------------------------------------
@register(
    "d100_filter_provenance",
    oracle="""
    WITH flags AS (
        SELECT CASE WHEN n_chars < 200 THEN 1 ELSE 0 END AS f_short,
               CASE WHEN len(list_filter(string_split(text, ' '),
                                          w -> w = 'the')) * 20
                         > len(string_split(text, ' '))
                    THEN 1 ELSE 0 END                     AS f_stop,
               CASE WHEN lang <> 'en' THEN 1 ELSE 0 END   AS f_nonen,
               CASE WHEN len(list_distinct(string_split(text, ' '))) * 5
                         < len(string_split(text, ' ')) * 2
                    THEN 1 ELSE 0 END                     AS f_rep
        FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT)            AS n_docs,
           CAST(SUM(f_short) AS BIGINT)        AS n_short,
           CAST(SUM(f_stop) AS BIGINT)         AS n_stop,
           CAST(SUM(f_nonen) AS BIGINT)        AS n_nonen,
           CAST(SUM(f_rep) AS BIGINT)          AS n_rep,
           CAST(SUM(f_short * f_stop) AS BIGINT)  AS b_short_stop,
           CAST(SUM(f_short * f_nonen) AS BIGINT) AS b_short_nonen,
           CAST(SUM(f_short * f_rep) AS BIGINT)   AS b_short_rep,
           CAST(SUM(f_stop * f_nonen) AS BIGINT)  AS b_stop_nonen,
           CAST(SUM(f_stop * f_rep) AS BIGINT)    AS b_stop_rep,
           CAST(SUM(f_nonen * f_rep) AS BIGINT)   AS b_nonen_rep,
           CAST(SUM(CASE WHEN f_short + f_stop + f_nonen + f_rep = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
    FROM flags
    """,
)
def d100_filter_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    flags = docs.select(
        (F.col("n_chars") < 200).cast("int").alias("f_short"),
        (
            F.size(F.filter(words, lambda w: w == F.lit("the"))) * 20
            > n_words
        )
        .cast("int")
        .alias("f_stop"),
        (F.col("lang") != "en").cast("int").alias("f_nonen"),
        (F.size(F.array_distinct(words)) * 5 < n_words * 2)
        .cast("int")
        .alias("f_rep"),
    )
    s = F.sum
    return flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        s("f_short").cast("bigint").alias("n_short"),
        s("f_stop").cast("bigint").alias("n_stop"),
        s("f_nonen").cast("bigint").alias("n_nonen"),
        s("f_rep").cast("bigint").alias("n_rep"),
        s(F.col("f_short") * F.col("f_stop")).cast("bigint").alias("b_short_stop"),
        s(F.col("f_short") * F.col("f_nonen")).cast("bigint").alias("b_short_nonen"),
        s(F.col("f_short") * F.col("f_rep")).cast("bigint").alias("b_short_rep"),
        s(F.col("f_stop") * F.col("f_nonen")).cast("bigint").alias("b_stop_nonen"),
        s(F.col("f_stop") * F.col("f_rep")).cast("bigint").alias("b_stop_rep"),
        s(F.col("f_nonen") * F.col("f_rep")).cast("bigint").alias("b_nonen_rep"),
        s(
            (
                F.col("f_short") + F.col("f_stop") + F.col("f_nonen")
                + F.col("f_rep")
                == 0
            ).cast("int")
        )
        .cast("bigint")
        .alias("n_clean"),
    )


# --------------------------------------------------------------------------
# D106 — C4 badwords-blocklist filter (Raffel et al. 2020 §2.2): drop any
# page containing a term from a blocklist, and report per-source hit
# rates + survivor counts — the one standard curation stage the d49
# funnel lacked (d19/d83/d100 cover repetition/learned/provenance, not
# the blocklist primitive). Terms are planted from the corpus vocabulary
# so counts are exact ('dup' is rare, 'slow' is common) plus one term
# that never occurs (zero-hit path certified). Whole-token matching, not
# substring (C4's rule — "class" must not hit on "ass").
# Scale: the blocklist is a plan constant (broadcast by construction);
# hit counting is a codegen'd higher-order function over the token array
# — zero shuffle; the only exchange is the per-source count agg
# (map-side combinable, |sources| rows). For million-term blocklists the
# operator doc (operators/c4_clean.py) prescribes the broadcast
# token-semi-join variant instead of an inline IN-set.
# --------------------------------------------------------------------------
_D106_BLOCKLIST = ("dup", "slow", "big", "zzz_blocked_term")


@register(
    "d106_badwords_blocklist",
    oracle="""
    WITH hits AS (
        SELECT source,
               len(list_filter(string_split(text, ' '),
                               t -> t IN ('dup', 'slow', 'big',
                                          'zzz_blocked_term'))) AS bad_hits
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT)                              AS n_docs,
           CAST(SUM(CASE WHEN bad_hits > 0 THEN 1 ELSE 0 END)
                AS BIGINT)                                       AS n_flagged,
           CAST(SUM(CASE WHEN bad_hits = 0 THEN 1 ELSE 0 END)
                AS BIGINT)                                       AS n_survivors,
           CAST(SUM(bad_hits) AS BIGINT)                         AS total_hits,
           ROUND(SUM(CASE WHEN bad_hits > 0 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4)                                  AS hit_rate
    FROM hits
    GROUP BY source
    """,
)
def d106_badwords_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lime_on_spark_spark.operators.c4_clean import badwords_hits

    docs = load_table(spark, sf_dir, "documents")
    hits = docs.select(
        "source", badwords_hits("text", _D106_BLOCKLIST).alias("bad_hits")
    )
    flagged = (F.col("bad_hits") > 0).cast("int")
    return hits.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(flagged).cast("bigint").alias("n_flagged"),
        F.sum(1 - flagged).cast("bigint").alias("n_survivors"),
        F.sum("bad_hits").cast("bigint").alias("total_hits"),
        F.round(
            F.sum(flagged) / F.count(F.lit(1)), 4
        ).alias("hit_rate"),
    )


# --------------------------------------------------------------------------
# D107 — C4 line-level cleaning (Raffel et al. 2020 §2.2): split each
# page into lines, keep lines with >= 5 words, keep lines ending in a
# terminal token, remove all-but-one occurrence of any line duplicated
# across the corpus (keep-first by (doc_id, line_idx) — d1's hash-dedup
# machinery at line granularity), and count pages left with >= 3
# surviving lines (C4's >=3-sentence page rule). The synthetic corpus
# has no newlines or punctuation, so the line splitter is instantiated
# as fixed 10-token chunking and the terminal-punctuation test as a
# planted terminal-token set — same rule structure, exact oracle counts
# (see operators/c4_clean.py module doc).
# Scale: chunking is a narrow explode (fan-out len/10, no shuffle); the
# min-words/terminal filters run BEFORE the dedup shuffle so it only
# sees survivors; the dedup exchange carries (md5, doc_id, line_idx,
# source) — never line bodies; all profile aggs are map-side combinable
# over |sources| groups.
# --------------------------------------------------------------------------
_D107_TERMINAL = ("data", "table", "row", "scan", "stream", "batch")


@register(
    "d107_c4_line_cleaning",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS i
        FROM documents
    ), lines AS (
        SELECT doc_id, source, CAST((i - 1) // 10 AS BIGINT) AS line_idx,
               string_agg(tok, ' ' ORDER BY i) AS line,
               COUNT(*) AS n_words,
               arg_max(tok, i) AS last_tok
        FROM toks
        GROUP BY doc_id, source, ((i - 1) // 10)
    ), r2 AS (
        SELECT * FROM lines
        WHERE n_words >= 5
          AND last_tok IN ('data', 'table', 'row', 'scan', 'stream', 'batch')
    ), kept AS (
        SELECT doc_id, source FROM (
            SELECT doc_id, source,
                   row_number() OVER (
                       PARTITION BY line ORDER BY doc_id, line_idx
                   ) AS rn
            FROM r2
        ) WHERE rn = 1
    ), stage AS (
        SELECT source,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docs_in,
               CAST(COUNT(*) AS BIGINT)               AS lines_in,
               CAST(SUM(CASE WHEN n_words >= 5 THEN 1 ELSE 0 END)
                    AS BIGINT)                        AS lines_minwords,
               CAST(SUM(CASE WHEN n_words >= 5 AND last_tok IN
                                 ('data', 'table', 'row', 'scan',
                                  'stream', 'batch')
                            THEN 1 ELSE 0 END)
                    AS BIGINT)                        AS lines_terminal
        FROM lines GROUP BY source
    ), dedc AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS lines_dedup
        FROM kept GROUP BY source
    ), docs3 AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS docs_surviving
        FROM (SELECT doc_id, source, COUNT(*) AS c
              FROM kept GROUP BY doc_id, source)
        WHERE c >= 3 GROUP BY source
    )
    SELECT s.source, s.docs_in, s.lines_in, s.lines_minwords,
           s.lines_terminal,
           CAST(COALESCE(d.lines_dedup, 0) AS BIGINT)    AS lines_dedup,
           CAST(COALESCE(g.docs_surviving, 0) AS BIGINT) AS docs_surviving
    FROM stage s
    LEFT JOIN dedc d USING (source)
    LEFT JOIN docs3 g USING (source)
    """,
)
def d107_c4_line_cleaning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lime_on_spark_spark.operators.c4_clean import (
        chunk_lines,
        dedup_lines_keep_first,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    lines = chunk_lines(docs, "text", width=10)
    r1 = F.col("n_words") >= 5
    r2 = F.col("last_tok").isin(*_D107_TERMINAL)
    stage = lines.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("docs_in"),
        F.count(F.lit(1)).cast("bigint").alias("lines_in"),
        F.sum(r1.cast("int")).cast("bigint").alias("lines_minwords"),
        F.sum((r1 & r2).cast("int")).cast("bigint").alias("lines_terminal"),
    )
    kept = dedup_lines_keep_first(lines.filter(r1 & r2))
    dedc = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("lines_dedup")
    )
    docs3 = (
        kept.groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 3)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("docs_surviving"))
    )
    return (
        stage.join(dedc, "source", "left")
        .join(docs3, "source", "left")
        .select(
            "source", "docs_in", "lines_in", "lines_minwords",
            "lines_terminal",
            F.coalesce("lines_dedup", F.lit(0)).cast("bigint")
            .alias("lines_dedup"),
            F.coalesce("docs_surviving", F.lit(0)).cast("bigint")
            .alias("docs_surviving"),
        )
    )


# --------------------------------------------------------------------------
# D109 — PII redaction (the CCNet/Dolma/FineWeb anonymization stage): scan
# text for emails / phone numbers / IPs, count per type, replace with
# typed placeholders, and CERTIFY the redaction by re-scanning the
# redacted text (residual_hits pinned to 0 — the check production
# pipelines run before release). The corpus has no organic PII, so the
# feed is derived closed-form from `customer` (email on even keys, phone
# on keys % 5 = 0, IP on keys % 3 = 0 — overlapping, with PII-free rows
# left over), making every count exact in both engines. Patterns stay in
# the RE2 ∩ Java-regex common subset (char classes + bounded
# quantifiers; no lookaround) so Spark and DuckDB match identically.
# Scale: three regexp_count + three chained regexp_replace per row — a
# narrow codegen'd scan, zero shuffle until the |segments|-row census
# agg; the redacted text never shuffles (only its length does).
# --------------------------------------------------------------------------
_D109_EMAIL = r"[a-z0-9#]+@[a-z0-9.]+\.[a-z]{2,}"
_D109_PHONE = r"\d{2}-\d{3}-555-\d{4}"
_D109_IP = r"10\.\d{1,3}\.0\.1"


@register(
    "d109_pii_redaction",
    oracle="""
    WITH feed AS (
        SELECT c_mktsegment,
               'Customer ' || c_name || ' (' || c_mktsegment
               || ') contact:'
               || CASE WHEN c_custkey % 2 = 0
                       THEN ' ' || lower(c_name) || '@example.com'
                       ELSE '' END
               || CASE WHEN c_custkey % 5 = 0
                       THEN ' ' || lpad(CAST(c_custkey % 100 AS VARCHAR),
                                        2, '0')
                            || '-' || lpad(CAST(c_custkey % 1000
                                                AS VARCHAR), 3, '0')
                            || '-555-' || lpad(CAST(c_custkey % 10000
                                                    AS VARCHAR), 4, '0')
                       ELSE '' END
               || CASE WHEN c_custkey % 3 = 0
                       THEN ' ip 10.' || CAST(c_custkey % 256 AS VARCHAR)
                            || '.0.1'
                       ELSE '' END AS text
        FROM customer
    ), scanned AS (
        SELECT c_mktsegment, text,
               len(regexp_extract_all(text,
                   '[a-z0-9#]+@[a-z0-9.]+\\.[a-z]{2,}'))  AS e,
               len(regexp_extract_all(text,
                   '\\d{2}-\\d{3}-555-\\d{4}'))           AS p,
               len(regexp_extract_all(text,
                   '10\\.\\d{1,3}\\.0\\.1'))              AS i,
               regexp_replace(regexp_replace(regexp_replace(text,
                   '[a-z0-9#]+@[a-z0-9.]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
                   '\\d{2}-\\d{3}-555-\\d{4}', '<PHONE>', 'g'),
                   '10\\.\\d{1,3}\\.0\\.1', '<IP>', 'g')  AS red
        FROM feed
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT)                       AS n_rows,
           CAST(SUM(e) AS BIGINT)                         AS n_emails,
           CAST(SUM(p) AS BIGINT)                         AS n_phones,
           CAST(SUM(i) AS BIGINT)                         AS n_ips,
           CAST(SUM(CASE WHEN e + p + i > 0 THEN 1 ELSE 0 END)
                AS BIGINT)                                AS n_rows_with_pii,
           CAST(SUM(length(red)) AS BIGINT)               AS redacted_chars,
           CAST(SUM(len(regexp_extract_all(red,
                   '[a-z0-9#]+@[a-z0-9.]+\\.[a-z]{2,}'))
               + len(regexp_extract_all(red,
                   '\\d{2}-\\d{3}-555-\\d{4}'))
               + len(regexp_extract_all(red,
                   '10\\.\\d{1,3}\\.0\\.1'))) AS BIGINT)  AS residual_hits
    FROM scanned
    GROUP BY c_mktsegment
    """,
)
def d109_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    s = lambda c: c.cast("string")  # noqa: E731
    email = F.when(
        key % 2 == 0,
        F.concat(F.lit(" "), F.lower("c_name"), F.lit("@example.com")),
    ).otherwise("")
    phone = F.when(
        key % 5 == 0,
        F.concat(
            F.lit(" "), F.lpad(s(key % 100), 2, "0"),
            F.lit("-"), F.lpad(s(key % 1000), 3, "0"),
            F.lit("-555-"), F.lpad(s(key % 10000), 4, "0"),
        ),
    ).otherwise("")
    ip = F.when(
        key % 3 == 0,
        F.concat(F.lit(" ip 10."), s(key % 256), F.lit(".0.1")),
    ).otherwise("")
    text = F.concat(
        F.lit("Customer "), F.col("c_name"), F.lit(" ("),
        F.col("c_mktsegment"), F.lit(") contact:"), email, phone, ip,
    )
    feed = cust.select("c_mktsegment", text.alias("text"))
    pats = (_D109_EMAIL, _D109_PHONE, _D109_IP)
    red = F.col("text")
    for pat, repl in zip(pats, ("<EMAIL>", "<PHONE>", "<IP>")):
        red = F.regexp_replace(red, pat, repl)
    scanned = feed.select(
        "c_mktsegment",
        F.regexp_count("text", F.lit(_D109_EMAIL)).alias("e"),
        F.regexp_count("text", F.lit(_D109_PHONE)).alias("p"),
        F.regexp_count("text", F.lit(_D109_IP)).alias("i"),
        red.alias("red"),
    )
    residual = sum(
        F.regexp_count("red", F.lit(p2)) for p2 in pats
    )
    return scanned.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("e").cast("bigint").alias("n_emails"),
        F.sum("p").cast("bigint").alias("n_phones"),
        F.sum("i").cast("bigint").alias("n_ips"),
        F.sum((F.col("e") + F.col("p") + F.col("i") > 0).cast("int"))
        .cast("bigint")
        .alias("n_rows_with_pii"),
        F.sum(F.length("red")).cast("bigint").alias("redacted_chars"),
        F.sum(residual).cast("bigint").alias("residual_hits"),
    )


# --------------------------------------------------------------------------
# D113 — differentially-private count release (Dwork 2006 Laplace
# mechanism): the privacy stage a public data card runs before
# publishing per-group statistics. Noise = Laplace(sensitivity/eps) via
# the inverse CDF, with u drawn md5-deterministically per group key —
# the l15/d8 discipline: a stochastic MECHANISM instantiated as a pure
# function of the key, so the release is engine-exact and the oracle
# replays it bit-for-bit (ln + round on both sides). The synthetic
# corpus is not private, and the row emits true counts BESIDE the noisy
# release on purpose — it demonstrates and pins the mechanism's
# arithmetic (count sensitivity = 1, eps = 0.5 -> scale b = 2), plus an
# in-row utility/bound verdict: |noise| <= b * ln(1/(2*0.005)) (the
# 99.5th-percentile Laplace bound) for every group, which holds
# deterministically here because the md5 u-draws are known.
# Scale: one keyed count agg + per-group scalar noise arithmetic — the
# release adds zero shuffles to the census it privatizes.
# --------------------------------------------------------------------------
@register(
    "d113_dp_count_release",
    oracle="""
    WITH counts AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS true_n
        FROM documents GROUP BY source
    ), noised AS (
        SELECT source, true_n,
               CAST(('0x' || substr(md5('dp:' || source), 1, 8)) AS BIGINT)
                   / 4294967296.0 AS u
        FROM counts
    )
    SELECT source, true_n,
           -- X = -b * sgn(u - 1/2) * ln(1 - 2|u - 1/2|): positive noise
           -- for u >= 1/2 (ln term is negative, double-negated).
           ROUND(true_n + (CASE WHEN u >= 0.5 THEN 1 ELSE -1 END)
                 * 2.0 * ln(1 - 2 * abs(u - 0.5)) * -1, 4) AS released_n,
           ABS(2.0 * ln(1 - 2 * abs(u - 0.5))) <= 2.0 * ln(100.0)
                                                      AS within_bound
    FROM noised
    """,
)
def d113_dp_count_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_n")
    )
    u = _md5_uniform(F.concat(F.lit("dp:"), F.col("source")))
    b = 2.0  # sensitivity 1 / eps 0.5
    # Inverse-CDF Laplace: sign(u - 1/2) * b * ln(1 - 2|u - 1/2|), here
    # written sign-split so both engines evaluate the identical tree.
    mag = -b * F.log(1 - 2 * F.abs(u - 0.5))
    noise = F.when(u >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0)) * mag
    return counts.select(
        "source", "true_n",
        F.round(F.col("true_n") + noise, 4).alias("released_n"),
        (F.abs(mag) <= b * F.log(F.lit(100.0))).alias("within_bound"),
    )


# --------------------------------------------------------------------------
# D111 — tokenizer fertility by language: tokens-per-word under the d60
# learned BPE, the multilingual-tokenizer QA metric (a language whose
# fertility runs high is under-served by the merge table and burns
# context budget — the number every tokenizer report leads with;
# Sennrich 2016 / Rust et al. 2021, arXiv:2012.15613). The 3 merge
# rules are learned CORPUS-WIDE (d60's loop verbatim), then applied to
# each language's own word-frequency table; fertility = BPE tokens per
# word occurrence, chars_per_token = compression the merges bought.
# Scale: the corpus collapses to per-(lang, word) types in one
# map-side-combinable agg; merge application is a chained literal
# replace (scan-stage expression, rules are plan constants — 3 rows
# collected in d60's bounded per-round argmax); census is lang-bounded.
# --------------------------------------------------------------------------
_D111_MERGE = """
        SELECT lang, c,
               replace(replace(s, '|' || t.a || '|' || t.b || '|',
                               '|' || t.a || t.b || '|'),
                       '|' || t.a || '|' || t.b || '|',
                       '|' || t.a || t.b || '|') AS s
        FROM {W}, {T} t
"""
_D111_ORACLE = (
    _D60_ORACLE[: _D60_ORACLE.index("    SELECT 1 AS round")]
    .replace(
        "t3 AS (SELECT a, b, wc FROM p3 ORDER BY wc DESC, a, b LIMIT 1)",
        "t3 AS (SELECT a, b, wc FROM p3 ORDER BY wc DESC, a, b LIMIT 1),",
    )
    + """
    wl AS (
        SELECT lang, word, COUNT(*) AS c,
               '|' || regexp_replace(word, '(.)', '\\1|', 'g') AS s
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
              FROM documents)
        WHERE length(word) > 0
        GROUP BY lang, word
    ),
    m1 AS ("""
    + _D111_MERGE.format(W="wl", T="t1")
    + """),
    m2 AS ("""
    + _D111_MERGE.format(W="m1", T="t2")
    + """),
    m3 AS ("""
    + _D111_MERGE.format(W="m2", T="t3")
    + """),
    tok AS (
        SELECT lang, c,
               len(list_filter(string_split(s, '|'), x -> x <> '')) AS n_bpe,
               length(replace(s, '|', '')) AS n_chars
        FROM m3
    )
    SELECT lang,
           CAST(SUM(c) AS BIGINT)          AS n_words,
           CAST(SUM(n_bpe * c) AS BIGINT)  AS n_bpe_tokens,
           ROUND(SUM(n_bpe * c) / CAST(SUM(c) AS DOUBLE), 4)
                                           AS fertility,
           ROUND(SUM(n_chars * c) / CAST(SUM(n_bpe * c) AS DOUBLE), 4)
                                           AS chars_per_token
    FROM tok
    GROUP BY lang
    """
)


@register("d111_tokenizer_fertility", oracle=_D111_ORACLE)
def d111_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    rules, _ = _learn_bpe(spark, sf_dir, rounds=3)
    docs = load_table(spark, sf_dir, "documents")
    wl = (
        docs.select(
            "lang", F.explode(F.split("text", " ")).alias("word")
        )
        .filter(F.length("word") > 0)
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "lang", "c",
            F.concat(
                F.lit("|"), F.regexp_replace("word", "(.)", "$1|")
            ).alias("s"),
        )
    )
    s = F.col("s")
    for _, a, b, _, _ in rules:
        pat, rep = F.lit(f"|{a}|{b}|"), F.lit(f"|{a}{b}|")
        s = F.replace(F.replace(s, pat, rep), pat, rep)
    tok = wl.select(
        "lang", "c",
        F.size(
            F.filter(F.split(s, "\\|"), lambda x: x != F.lit(""))
        ).alias("n_bpe"),
        F.length(F.replace(s, F.lit("|"), F.lit(""))).alias("n_chars"),
    )
    return tok.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n_words"),
        F.sum(F.col("n_bpe") * F.col("c")).cast("bigint").alias(
            "n_bpe_tokens"
        ),
        F.round(
            F.sum(F.col("n_bpe") * F.col("c"))
            / F.sum("c").cast("double"),
            4,
        ).alias("fertility"),
        F.round(
            F.sum(F.col("n_chars") * F.col("c"))
            / F.sum(F.col("n_bpe") * F.col("c")).cast("double"),
            4,
        ).alias("chars_per_token"),
    )


# --------------------------------------------------------------------------
# D115 — CCNet perplexity bucketing (Wenzek et al. 2020, arXiv:1911.00359):
# the canonical LM-quality partition of a web corpus. CCNet scores every
# document with a KenLM n-gram model and splits each language into
# head / middle / tail perplexity TERCILES; head feeds pretraining,
# tail is dropped or down-weighted. Here the LM is the in-repo d102
# interpolated Kneser-Ney bigram model (trained on the same corpus it
# scores — the self-scoring variant; CCNet trains on Wikipedia, which
# only changes which rows feed the model CTE), the per-doc score is the
# average bigram NLL, and the tercile cut is EXACT per language.
# Scale: the model is vocabulary-bounded (three token-keyed aggs — the
# d9/d102 shape) and the scoring join shuffles (w1, w2) bigram keys,
# never document bodies. The per-lang tercile is the part naive plans
# get wrong at 100 TB: ntile(3) OVER (PARTITION BY lang ...) with a
# handful of giant languages is corpus/|langs| rows through ONE task per
# language — so the cut runs through with_grouped_exact_ntile (the d108
# range-bucketed exact rank, generalized per group): per-lang sketch
# cuts, (lang, range)-local row_number, O(|langs| x ranges) driver
# state. NLL is rounded to 6 dp BEFORE ranking on both engines so the
# bucket boundary never depends on a last-ulp float disagreement.
# --------------------------------------------------------------------------
@register(
    "d115_ccnet_perplexity_buckets",
    oracle="""
    WITH pairs AS (
        SELECT doc_id, lang, arr[i] AS w1, arr[i+1] AS w2
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS arr
              FROM documents) d,
             UNNEST(generate_series(1, greatest(len(arr)-1, 0))) AS t(i)
    ), bi AS (
        SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY w1, w2
    ), ctx AS (
        SELECT w1, SUM(c12) AS c1, COUNT(*) AS fw FROM bi GROUP BY w1
    ), bw AS (
        SELECT w2, COUNT(*) AS nbw FROM bi GROUP BY w2
    ), tot AS (SELECT COUNT(*) AS t FROM bi),
    model AS (
        SELECT b.w1, b.w2,
               ROUND(GREATEST(b.c12 - 0.75, 0) / ctx.c1
                     + 0.75 * ctx.fw / ctx.c1 * (bw.nbw / tot.t), 6) AS p_kn
        FROM bi b
        JOIN ctx USING (w1)
        JOIN bw USING (w2)
        CROSS JOIN tot
    ), scored AS (
        SELECT p.doc_id, p.lang,
               ROUND(-AVG(LN(m.p_kn)), 6) AS nll,
               COUNT(*) AS nb
        FROM pairs p
        JOIN model m USING (w1, w2)
        GROUP BY p.doc_id, p.lang
    ), bucketed AS (
        SELECT lang, nll, nb,
               ntile(3) OVER (PARTITION BY lang ORDER BY nll, doc_id) AS b
        FROM scored
    )
    SELECT lang,
           CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                  ELSE 'tail' END                       AS bucket,
           CAST(COUNT(*) AS BIGINT)                     AS n_docs,
           CAST(SUM(nb) AS BIGINT)                      AS n_bigrams,
           ROUND(AVG(EXP(nll)), 4)                      AS avg_ppl
    FROM bucketed
    GROUP BY lang, b
    """,
)
def d115_ccnet_perplexity_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from lime_on_spark_spark.operators.exact_ntile import (
        with_grouped_exact_ntile,
    )

    docs = load_table(spark, sf_dir, "documents")
    arr = F.split("text", " ")
    n_pairs = F.greatest(F.size(arr) - 1, F.lit(0))
    pair = F.zip_with(
        F.slice(arr, 1, n_pairs),
        F.slice(arr, 2, n_pairs),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    # Two consumers (model build + scoring join): persist the exploded
    # pair frame so the corpus is tokenized once. At 100 TB with a
    # pre-trained model (the real CCNet setup) only the scoring branch
    # exists and the persist disappears.
    doc_pairs = (
        docs.select("doc_id", "lang", F.explode(pair).alias("p"))
        .select("doc_id", "lang", "p.w1", "p.w2")
        .persist()
    )
    bi = doc_pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ctx = bi.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("fw")
    )
    bw = bi.groupBy("w2").agg(F.count(F.lit(1)).alias("nbw"))
    tot = bi.agg(F.count(F.lit(1)).alias("t"))
    # Same expression tree as d102 (and the oracle) so the IEEE doubles
    # agree past the 6-dp rounding boundary.
    p_kn = F.round(
        F.greatest(F.col("c12") - 0.75, F.lit(0.0)) / F.col("c1")
        + 0.75 * F.col("fw") / F.col("c1") * (F.col("nbw") / F.col("t")),
        6,
    )
    model = (
        bi.join(ctx, "w1")
        .join(bw, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", p_kn.alias("p_kn"))
    )
    scored = (
        doc_pairs.join(model, ["w1", "w2"])
        .groupBy("doc_id", "lang")
        .agg(
            F.round(-F.avg(F.log("p_kn")), 6).alias("nll"),
            F.count(F.lit(1)).cast("bigint").alias("nb"),
        )
        # The tercile operator reads its input FOUR times (per-group
        # sketch branch + range-count action, each re-run in the final
        # rank plan); without this persist every pass re-executes the
        # KN model build + scoring join (r16: 69 -> ~25 jobs). scored
        # is |docs| rows x 4 cols — the bounded frame, not the corpus.
        .persist()
    )
    bucketed = with_grouped_exact_ntile(
        scored, 3, ["lang"], ["nll", "doc_id"], out_col="b", num_ranges=16
    )
    label = F.element_at(
        F.array(F.lit("head"), F.lit("middle"), F.lit("tail")), F.col("b")
    )
    return bucketed.groupBy("lang", label.alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nb").cast("bigint").alias("n_bigrams"),
        F.round(F.avg(F.exp("nll")), 4).alias("avg_ppl"),
    )


# --------------------------------------------------------------------------
# D116 — Bradley-Terry preference aggregation (Bradley & Terry 1952;
# MM fit per Hunter 2004): the RLHF/RLAIF data-prep stage none of the
# selection rows cover — given pairwise preference judgments, fit a
# latent strength per competitor (here: per SOURCE, the "which feed
# wins head-to-head quality comparisons" question a reward-data
# pipeline answers before mixing). Judgments are deterministic: docs
# pair adjacently (even doc_id d vs d+1 — the d103 pairing), the
# higher type-token-ratio doc wins (ties -> the lower doc_id), and
# same-source pairs are discarded. The fit is 5 fixed MM iterations
#   pi_s <- (W_s + 1) / ( SUM_o n_so/(pi_s + pi_o) + 2/(pi_s + 1) )
# with a ghost opponent of strength 1 (one virtual win + one virtual
# loss) so zero-win sources and disconnected comparison graphs stay
# finite — the standard regularization. Each iterate is rounded to
# 12 dp on both engines so partial-sum order can never leak a ulp into
# the next iteration.
# Scale: pair generation is ONE equi-join on the pairing key (never all
# pairs) and the wins matrix is a keyed agg bounded by |sources|^2 —
# the only driver state, O(256) cells here, O(|sources|^2) always (the
# d39 centroid / d60 argmax discipline: corpus-scale work stays in
# shuffles, the fixed-point loop runs on a bounded summary).
# --------------------------------------------------------------------------
_D116_ITER = """
    it{k} AS (
        SELECT w.s,
               ROUND((w.w + 1) / (COALESCE(SUM(c.n / (p.pi + q.pi)), 0)
                                  + 2 / (p.pi + 1)), 12) AS pi
        FROM wins w
        JOIN it{j} p ON p.s = w.s
        LEFT JOIN comp c ON c.a = w.s
        LEFT JOIN it{j} q ON q.s = c.b
        GROUP BY w.s, w.w, p.pi
    )"""

_D116_ORACLE = (
    """
    WITH toks AS (
        SELECT doc_id, source,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS ttr
        FROM documents
    ), prefs AS (
        SELECT CASE WHEN a.ttr >= b.ttr THEN a.source
                    ELSE b.source END AS winner,
               CASE WHEN a.ttr >= b.ttr THEN b.source
                    ELSE a.source END AS loser
        FROM toks a
        JOIN toks b ON b.doc_id = a.doc_id + 1
        WHERE a.doc_id % 2 = 0 AND a.source <> b.source
    ), srcs AS (SELECT DISTINCT source AS s FROM documents),
    wcount AS (
        SELECT winner, loser, COUNT(*) AS n FROM prefs GROUP BY 1, 2
    ), comp AS (
        SELECT a, b, SUM(n) AS n FROM (
            SELECT winner AS a, loser AS b, n FROM wcount
            UNION ALL
            SELECT loser AS a, winner AS b, n FROM wcount
        ) GROUP BY a, b
    ), wins AS (
        SELECT s.s, COALESCE(SUM(w.n), 0) AS w
        FROM srcs s LEFT JOIN wcount w ON w.winner = s.s GROUP BY s.s
    ), ncomp AS (
        SELECT s.s, COALESCE(SUM(c.n), 0) AS n
        FROM srcs s LEFT JOIN comp c ON c.a = s.s GROUP BY s.s
    ), it0 AS (SELECT s, 1.0 AS pi FROM srcs),"""
    + ",".join(_D116_ITER.format(k=k, j=k - 1) for k in range(1, 6))
    + """,
    tot AS (SELECT SUM(pi) AS z FROM it5)
    SELECT w.s                                      AS source,
           CAST(w.w AS BIGINT)                      AS wins,
           CAST(n.n AS BIGINT)                      AS comparisons,
           ROUND(i.pi / t.z, 6)                     AS strength,
           CAST(row_number() OVER (
               ORDER BY ROUND(i.pi / t.z, 6) DESC, w.s) AS INT) AS rnk
    FROM wins w
    JOIN ncomp n ON n.s = w.s
    JOIN it5 i ON i.s = w.s
    CROSS JOIN tot t
    """
)


@register("d116_bradley_terry_sources", oracle=_D116_ORACLE)
def d116_bradley_terry_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        (
            F.size(F.array_distinct(F.split("text", " "))).cast("double")
            / F.size(F.split("text", " "))
        ).alias("ttr"),
    )
    a, b = toks.alias("a"), toks.alias("b")
    a_wins = F.col("a.ttr") >= F.col("b.ttr")
    prefs = (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .filter(
            (F.col("a.doc_id") % 2 == 0)
            & (F.col("a.source") != F.col("b.source"))
        )
        .select(
            F.when(a_wins, F.col("a.source"))
            .otherwise(F.col("b.source"))
            .alias("winner"),
            F.when(a_wins, F.col("b.source"))
            .otherwise(F.col("a.source"))
            .alias("loser"),
        )
    )
    # Bounded driver state: |sources|^2 win cells + the source universe.
    wcount = {
        (r["winner"], r["loser"]): r["n"]
        for r in prefs.groupBy("winner", "loser")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    srcs = sorted(
        r["source"] for r in docs.select("source").distinct().collect()
    )
    comp: dict[tuple[str, str], int] = {}
    for (w, l), n in wcount.items():
        comp[(w, l)] = comp.get((w, l), 0) + n
        comp[(l, w)] = comp.get((l, w), 0) + n
    wins = {s: 0 for s in srcs}
    for (w, _), n in wcount.items():
        wins[w] += n
    ncomp = {s: 0 for s in srcs}
    for (s, _), n in comp.items():
        ncomp[s] += n
    pi = {s: 1.0 for s in srcs}
    for _ in range(5):
        pi = {
            s: round(
                (wins[s] + 1)
                / (
                    sum(
                        comp[(s, o)] / (pi[s] + pi[o])
                        for o in srcs
                        if (s, o) in comp
                    )
                    + 2 / (pi[s] + 1)
                ),
                12,
            )
            for s in srcs
        }
    z = sum(pi.values())
    strength = {s: round(pi[s] / z, 6) for s in srcs}
    ranked = sorted(srcs, key=lambda s: (-strength[s], s))
    rnk = {s: i + 1 for i, s in enumerate(ranked)}
    return spark.createDataFrame(
        [(s, wins[s], ncomp[s], strength[s], rnk[s]) for s in srcs],
        "source string, wins bigint, comparisons bigint,"
        " strength double, rnk int",
    )


# --------------------------------------------------------------------------
# D118 — DP quantile release via the exponential mechanism (McSherry &
# Talwar 2007; Smith 2011's median instantiation): the companion release
# primitive to d113's Laplace counts — counts take additive noise, but a
# MEDIAN needs a noisy ARGMAX over candidate values. Utility of value v
# for the per-source median is u(v) = -|rank_mid(v) - n/2| (sensitivity
# 1: one added row moves any rank count by at most 1), the mechanism
# samples v with probability proportional to exp(eps/2 * u), and the
# draw is the Gumbel-max trick with md5-deterministic per-(source, v)
# gumbels — the d113/l15/d8 discipline: a stochastic mechanism as a pure
# key function, so the release is engine-exact and bit-for-bit
# oracle-replayable. The row emits the exact median and the utility gap
# BESIDE the release on purpose (pins the mechanism's arithmetic; the
# corpus is not private).
# Scale: the corpus collapses to a (source, n_chars) histogram in ONE
# combinable agg; every window downstream is over that value-domain-
# bounded histogram (the d73 discipline — |sources| x |distinct
# lengths| rows, never corpus rows), so the release adds zero
# corpus-scale shuffles beyond the census it privatizes.
# --------------------------------------------------------------------------
@register(
    "d118_dp_quantile_release",
    oracle="""
    WITH hist AS (
        SELECT source, n_chars AS v, COUNT(*) AS c
        FROM documents GROUP BY source, n_chars
    ), cum AS (
        SELECT source, v, c,
               SUM(c) OVER (PARTITION BY source ORDER BY v) - c AS cb,
               SUM(c) OVER (PARTITION BY source) AS n
        FROM hist
    ), scored AS (
        SELECT source, v, c, cb, n,
               -abs(cb + 0.5 * c - n / 2.0) AS u,
               0.25 * -abs(cb + 0.5 * c - n / 2.0)
               - ln(-ln(CAST(('0x' || substr(md5('dpq:' || source || ':'
                                             || CAST(v AS VARCHAR)), 1, 8))
                        AS BIGINT) / 4294967296.0)) AS score
        FROM cum
    ), released AS (
        SELECT source, v AS released_median, u AS u_rel
        FROM scored
        QUALIFY row_number() OVER (
            PARTITION BY source ORDER BY score DESC, v) = 1
    ), exact AS (
        SELECT source,
               CAST(MAX(n) AS BIGINT) AS n,
               CAST(MIN(CASE WHEN cb + c >= CAST(ceil(n / 2.0) AS BIGINT)
                             THEN v END) AS BIGINT) AS true_median,
               MAX(u) AS u_max
        FROM scored
        GROUP BY source
    )
    SELECT e.source, e.n, e.true_median,
           CAST(r.released_median AS BIGINT) AS released_median,
           ROUND(e.u_max - r.u_rel, 1)       AS util_gap
    FROM exact e JOIN released r USING (source)
    """,
)
def d118_dp_quantile_release(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    hist = docs.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    # Histogram-sized windows (value-domain-bounded — the d73 class).
    w_cum = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_n = Window.partitionBy("source")
    cum = hist.select(
        "source", "v", "c",
        (F.sum("c").over(w_cum) - F.col("c")).alias("cb"),
        F.sum("c").over(w_n).alias("n"),
    )
    u = -F.abs(F.col("cb") + 0.5 * F.col("c") - F.col("n") / 2.0)
    g = -F.log(
        -F.log(
            _md5_uniform(
                F.concat(
                    F.lit("dpq:"),
                    F.col("source"),
                    F.lit(":"),
                    F.col("v").cast("string"),
                )
            )
        )
    )
    scored = cum.select(
        "source", "v", "c", "cb", "n",
        u.alias("u"),
        (0.25 * u + g).alias("score"),
    )
    w_pick = Window.partitionBy("source").orderBy(F.desc("score"), "v")
    released = (
        scored.withColumn("_rn", F.row_number().over(w_pick))
        .filter(F.col("_rn") == 1)
        .select(
            "source",
            F.col("v").alias("released_median"),
            F.col("u").alias("u_rel"),
        )
    )
    exact = scored.groupBy("source").agg(
        F.max("n").cast("bigint").alias("n"),
        F.min(
            F.when(
                F.col("cb") + F.col("c")
                >= F.ceil(F.col("n") / 2.0).cast("bigint"),
                F.col("v"),
            )
        )
        .cast("bigint")
        .alias("true_median"),
        F.max("u").alias("u_max"),
    )
    return exact.join(released, "source").select(
        "source", "n", "true_median",
        F.col("released_median").cast("bigint").alias("released_median"),
        F.round(F.col("u_max") - F.col("u_rel"), 1).alias("util_gap"),
    )
