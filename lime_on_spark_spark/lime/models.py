"""Models-to-explain (SURVEY.md §2j row L10): MLlib trainers.

These are the black boxes LIME explains — a 10-class logistic regression
over the 64-d embeddings (tabular path) and a Tokenizer→HashingTF→LogReg
pipeline predicting `lang` from `text` (text path). Each fit is memoized
in ``session.session_memo`` under ``("model", sf_dir, kind)``, so the
driver's repeated query calls don't retrain, and a model fitted under a
stopped application is dropped, not served to the next one.

Scoring goes through each model's Java transformer (`_transform`), whose
params are sent once, on the model's first scoring: pyspark's
``model.transform`` re-sends every param over Py4J on each call (about 80
round trips for the tabular model, a pipeline pays it per stage). Scorers
that read only ``probability`` use a copy that computes nothing else
(`_probability_model`): MLlib's plan for the two columns no one reads cost
about four times the JVM CPU of the one they do.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lime_on_spark_spark.session import session_memo
from lime_on_spark_spark.sources.catalog import load_table

#: Fitted model -> {probability_only: (its Java transformer, params sent;
#: the `_probability_model` copy it came from)}.
_JAVA_MODELS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _probability_model(model):
    """A copy of the classifier ``model`` (or of a pipeline ending in one)
    that computes only ``probability``: no rawPrediction or prediction
    column, and no pipeline stage that only makes the classifier's label.
    The probabilities are bit-identical: MLlib's ``predictProbability``
    runs ``predictRaw`` then the same in-place softmax that
    ``raw2probability`` runs on a copy of rawPrediction."""
    from pyspark.ml import PipelineModel

    stages = model.stages if isinstance(model, PipelineModel) else [model]
    clf = stages[-1]
    label = clf.getLabelCol()
    kept = [
        s for s in stages[:-1]
        if not (s.hasParam("outputCol") and s.getOrDefault("outputCol") == label)
    ]
    slim = clf.copy({clf.rawPredictionCol: "", clf.predictionCol: ""})
    return PipelineModel(kept + [slim]) if isinstance(model, PipelineModel) else slim


def _transform(model, df: DataFrame, probability_only: bool = False) -> DataFrame:
    """``model.transform(df)`` in one Py4J call, through a Java transformer
    built on the first call: ``model._to_java()`` (a pipeline becomes one
    Java ``PipelineModel``), from `_probability_model` with
    ``probability_only``. Later param changes on the Python model are not
    seen; the memoized models never change theirs. Keyed by identity, so a
    ``model.copy(extra)`` gets its own."""
    built = _JAVA_MODELS.setdefault(model, {})
    if probability_only not in built:
        source = _probability_model(model) if probability_only else model
        # A JavaWrapper detaches its Java object when it is collected, so
        # the copy lives as long as its transformer; a value holding the
        # model itself would keep its weak key alive.
        built[probability_only] = (source._to_java(), source if probability_only else None)
    return DataFrame(built[probability_only][0].transform(df._jdf), df.sparkSession)


def train_tabular_model(spark: SparkSession, sf_dir: str):
    """LogisticRegression on embeddings -> label (10 classes)."""

    def build():
        from pyspark.ml.classification import LogisticRegression
        from pyspark.ml.functions import array_to_vector

        emb = load_table(spark, sf_dir, "embeddings")
        train = emb.select(
            array_to_vector("embedding").alias("features"),
            F.col("label").cast("double").alias("label"),
        )
        lr = LogisticRegression(maxIter=50, regParam=0.01)
        return lr.fit(train)

    return session_memo(spark, ("model", sf_dir, "tabular"), build)


def train_text_model(spark: SparkSession, sf_dir: str):
    """Tokenizer -> HashingTF -> LogisticRegression predicting `lang`.

    Returns (pipeline_model, labels) where labels[i] is the lang string for
    model class i (StringIndexer order).
    """

    def build():
        from pyspark.ml import Pipeline
        from pyspark.ml.classification import LogisticRegression
        from pyspark.ml.feature import HashingTF, StringIndexer, Tokenizer

        docs = load_table(spark, sf_dir, "documents").select("text", "lang")
        pipe = Pipeline(
            stages=[
                StringIndexer(inputCol="lang", outputCol="label"),
                Tokenizer(inputCol="text", outputCol="words"),
                HashingTF(inputCol="words", outputCol="features", numFeatures=1 << 16),
                LogisticRegression(maxIter=50, regParam=0.01),
            ]
        )
        model = pipe.fit(docs)
        return (model, list(model.stages[0].labels))

    return session_memo(spark, ("model", sf_dir, "text"), build)


def score_tabular(model, df: DataFrame, raw_col: str = "raw") -> DataFrame:
    """L4 for the tabular path: black-box probabilities for each raw vector."""
    from pyspark.ml.functions import array_to_vector, vector_to_array

    scored = _transform(
        model, df.withColumn("features", array_to_vector(raw_col)), probability_only=True
    )
    return scored.withColumn("probs", vector_to_array("probability")).drop(
        "features", "probability"
    )


def score_text(model, df: DataFrame, text_col: str = "perturbed") -> DataFrame:
    """L4 for the text path: pipeline probabilities for each perturbed text."""
    from pyspark.ml.functions import vector_to_array

    scored = _transform(model, df.withColumnRenamed(text_col, "text"), probability_only=True)
    return (
        scored.withColumn("probs", vector_to_array("probability"))
        .drop("words", "features", "probability")
        .withColumnRenamed("text", text_col)
    )


def train_regression_model(spark: SparkSession, sf_dir: str):
    """LinearRegression on embeddings -> a deterministic near-linear target
    (y = 3·x0 − 2·x1 + x2 + 0.1·label). Upstream LIME's mode='regression'
    needs a regressor to explain; this one is constructed so the local
    surrogate's fit quality is provable (the black box is globally linear
    in the features LIME perturbs), which the l11 verdict exploits."""

    def build():
        from pyspark.ml.functions import array_to_vector
        from pyspark.ml.regression import LinearRegression

        emb = load_table(spark, sf_dir, "embeddings")
        x = F.transform("embedding", lambda v: v.cast("double"))
        target = (
            3.0 * F.element_at(x, 1)
            - 2.0 * F.element_at(x, 2)
            + F.element_at(x, 3)
            + 0.1 * F.col("label").cast("double")
        )
        train = emb.select(
            array_to_vector("embedding").alias("features"),
            target.alias("label"),
        )
        lr = LinearRegression(maxIter=50, regParam=0.0)
        return lr.fit(train)

    return session_memo(spark, ("model", sf_dir, "regression"), build)


def score_regression(model, df: DataFrame, raw_col: str = "raw") -> DataFrame:
    """L4 for the regression path: black-box predicted VALUE per raw vector
    (upstream mode='regression': the ridge fits raw outputs, no softmax)."""
    from pyspark.ml.functions import array_to_vector

    scored = _transform(model, df.withColumn("features", array_to_vector(raw_col)))
    return scored.withColumnRenamed("prediction", "y").drop("features")


def train_quality_model(spark: SparkSession, sf_dir: str):
    """Learned quality filter, CCNet / GPT-3 curation shape (weak labels ->
    classifier -> corpus-wide scoring).

    Weak labels come from a deterministic heuristic proxy: the type-token
    ratio q = |distinct tokens| / |tokens| (the d5 quality signal). Docs in
    the top TTR quartile are proxy-positives ("high quality": varied
    vocabulary), the bottom quartile proxy-negatives ("low quality":
    repetitive); the middle half is left unlabeled, exactly like CCNet's
    Wikipedia-vs-CommonCrawl split leaves most of the crawl unlabeled. A
    Tokenizer -> HashingTF -> LogisticRegression pipeline (seed-free LBFGS,
    deterministic) learns to predict the label from the raw text alone, so
    it can then score EVERY doc — including the unlabeled middle — in one
    distributed, JVM-side transform.

    Returns (pipeline_model, lo_cut, hi_cut) where the cuts are the exact
    0.25 / 0.75 TTR percentiles used for weak labeling (driver-held
    scalars, the only collect in the trainer).

    Scale: the percentile agg and the fit see only the corpus's text/TTR
    columns (at 100 TB you would fit on a sampled label set; the fit cost
    is bounded by the labeled quartiles either way), and scoring is a
    broadcast-model map with no shuffle.
    """

    def build():
        from pyspark.ml import Pipeline
        from pyspark.ml.classification import LogisticRegression
        from pyspark.ml.feature import HashingTF, Tokenizer

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        toks = F.split("text", " ")
        q = F.size(F.array_distinct(toks)) / F.size(toks)
        scored = docs.withColumn("q", q)
        lo, hi = scored.agg(
            F.expr("percentile(q, array(0.25, 0.75))").alias("cuts")
        ).first()["cuts"]  # bounded: one row
        train = scored.filter(
            (F.col("q") <= lo) | (F.col("q") >= hi)
        ).withColumn("label", (F.col("q") >= hi).cast("double"))
        pipe = Pipeline(
            stages=[
                Tokenizer(inputCol="text", outputCol="words"),
                HashingTF(
                    inputCol="words", outputCol="features", numFeatures=1 << 15
                ),
                LogisticRegression(maxIter=50, regParam=0.01),
            ]
        )
        return (pipe.fit(train), float(lo), float(hi))

    return session_memo(spark, ("model", sf_dir, "quality"), build)


def score_quality(model, df: DataFrame) -> DataFrame:
    """Score a documents frame with the quality model: adds ``p_keep`` =
    P(high quality | text), dropping the pipeline's intermediate columns."""
    from pyspark.ml.functions import vector_to_array

    scored = _transform(model, df, probability_only=True)
    return scored.withColumn(
        "p_keep", F.element_at(vector_to_array("probability"), 2)
    ).drop("words", "features", "probability")


#: Per-language fixture vocabularies for the d88 langid trainer — common
#: function words with genuinely language-distinctive character n-grams
#: (umlauts, ß, accents, ñ, CJK). Some cross-language collisions (la, un,
#: de...) are kept deliberately: real stopword lists overlap too, and the
#: classifier must resolve them from the rest of the doc.
LANGID_VOCAB = {
    "de": "der die das und ist nicht ein eine zu mit von auf für den als "
          "auch ich sie über ß".split(),
    "en": "the and of to in is was for with that he she it not on as his "
          "they be at".split(),
    "es": "el la los las de que y en un una es no por con se su para como "
          "más años".split(),
    "fr": "le les et est ne pas un une dans pour que vous avec sur qui au "
          "plus être cette".split(),
    "zh": "的 是 不 了 在 人 有 我 他 这 中 大 来 上 国 说 们 为 子 和".split(),
}

LANGID_LANGS = sorted(LANGID_VOCAB)  # label i <-> LANGID_LANGS[i]
LANGID_N_FIXTURES = 600
LANGID_WORDS_PER_DOC = 12


def langid_fixtures(spark: SparkSession) -> DataFrame:
    """Deterministic labeled fixture docs for language-ID training.

    The corpus's `text` column carries NO language signal (measured: a
    train-on-all multinomial NB ties the majority-class share, 0.41 vs
    0.41 at sf0.1 — every lang draws from the same 31-word vocabulary), so
    the labeled set is PLANTED, the d85 fixture discipline: 600 docs,
    lang = LANGID_LANGS[i % 5], each a bag of LANGID_WORDS_PER_DOC words
    drawn from that language's distinctive vocabulary by md5(i-j) — fully
    engine-side (no Python UDF) and md5-keyed, so a DuckDB oracle replays
    the populations (and the train/holdout split) exactly.

    Columns: i, lang, text, is_holdout (md5-uniform 20% split).
    """
    langs = F.array(*[F.lit(x) for x in LANGID_LANGS])
    vocab_map = F.create_map(
        *[
            c
            for lang in LANGID_LANGS
            for c in (
                F.lit(lang),
                F.array(*[F.lit(w) for w in LANGID_VOCAB[lang]]),
            )
        ]
    )
    base = spark.range(LANGID_N_FIXTURES).select(
        F.col("id").alias("i"),
        F.element_at(langs, (F.col("id") % 5 + 1).cast("int")).alias("lang"),
    )
    vocab = F.element_at(vocab_map, F.col("lang"))
    words = [
        F.element_at(
            vocab,
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws("-", F.col("i"), F.lit(str(j)))), 1, 8
                    ),
                    16,
                    10,
                ).cast("bigint")
                % F.size(vocab).cast("bigint")
                + 1
            ).cast("int"),
        )
        for j in range(LANGID_WORDS_PER_DOC)
    ]
    holdout = (
        F.conv(F.substring(F.md5(F.col("i").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 5
        == 0
    )
    return base.select(
        "i",
        "lang",
        F.concat_ws(" ", *words).alias("text"),
        holdout.alias("is_holdout"),
    )


def train_langid_model(spark: SparkSession, sf_dir: str):
    """d88's model-based language ID: hashed char-n-gram features -> LBFGS.

    Pipeline NGram(chars, n=2) -> HashingTF -> LogisticRegression, fit on
    the fixture TRAIN partition only (the md5 holdout never touches the
    optimizer). Deterministic end-to-end: fixtures are md5-generated,
    HashingTF is a pure hash, and LBFGS on a fixed dataset has no random
    draws — pinned by the determinism test.

    Returns the fitted PipelineModel; callers build the `chars` column with
    `F.split(text, "")` and map prediction i -> LANGID_LANGS[i].

    Scale: training data is the fixture set (O(100) rows — at 100 TB you
    would train on any labeled sample the same way); scoring is a
    broadcast-model map stage with no shuffle, linear in the corpus.
    """

    def build():
        from pyspark.ml import Pipeline
        from pyspark.ml.classification import LogisticRegression
        from pyspark.ml.feature import HashingTF, NGram

        lang_idx = F.array_position(
            F.array(*[F.lit(x) for x in LANGID_LANGS]), F.col("lang")
        )
        train = (
            langid_fixtures(spark)
            .filter(~F.col("is_holdout"))
            .select(
                F.split("text", "").alias("chars"),
                (lang_idx - 1).cast("double").alias("label"),
            )
        )
        pipe = Pipeline(
            stages=[
                NGram(n=2, inputCol="chars", outputCol="grams"),
                HashingTF(
                    inputCol="grams", outputCol="features", numFeatures=1 << 14
                ),
                LogisticRegression(maxIter=60, regParam=0.01),
            ]
        )
        return pipe.fit(train)

    return session_memo(spark, ("model", sf_dir, "langid"), build)


def score_langid(model, df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``pred_lang`` to df: the model's language for each text — one
    broadcast-model transform, no shuffle."""
    langs = F.array(*[F.lit(x) for x in LANGID_LANGS])
    scored = _transform(model, df.withColumn("chars", F.split(F.col(text_col), "")))
    return scored.withColumn(
        "pred_lang",
        F.element_at(langs, (F.col("prediction") + 1).cast("int")),
    ).drop("chars", "grams", "features", "rawPrediction", "probability", "prediction")
