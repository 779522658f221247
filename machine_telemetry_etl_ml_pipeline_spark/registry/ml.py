"""``ml_*`` entries: feature pipelines, model fits and statistical tests.

Fits run as SQL-expressible sufficient statistics or bounded
driver-side folds whose every step is rounded so both engines walk
the same trajectory (linear and logistic regression, naive Bayes,
k-means, GMM, decision stumps, boosting, forests), plus scaling and
indexing stages, evaluation metrics, cross-validation, hypothesis
tests and the reference model-exact scoring grid.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..llm.prep import md5_bucket, with_running_total
from ..llm.similarity import _as_double, dot, norm
from ..llm.textstats import words_col
from ..ml import refmodels
from ..operators.ckpt import checkpoint_rotate, owned_ids, retire_ids
from ..operators.core import local_frame
from . import _t, register
from .ext import _CENTS, _DEC
from .llm import _HEXPOS


# --- MLlib parity --------------------------------------------------------------


@register(
    "ml_string_indexer",
    """
    SELECT event_type,
           CAST(row_number() OVER (ORDER BY count(*) DESC, event_type ASC) - 1
                AS DOUBLE) AS type_index
    FROM events GROUP BY event_type
    """,
)
def ml_string_indexer(spark, sf_dir):
    """MLlib StringIndexer parity: frequencyDesc ordering with
    alphabetic tie-break — the trained labels ARE the SQL ranking, so
    the fitted model is oracle-checkable."""
    from pyspark.ml.feature import StringIndexer

    e = _t(spark, sf_dir, "events")
    model = StringIndexer(
        inputCol="event_type", outputCol="type_index", stringOrderType="frequencyDesc"
    ).fit(e)
    labels = [(lbl, float(i)) for i, lbl in enumerate(model.labelsArray[0])]
    return local_frame(spark, labels, "event_type string, type_index double")


@register(
    "ml_kmeans_anomaly",
    """
    SELECT count(*) AS total_rows,
           CAST(floor(count(*) * 0.05) AS BIGINT) AS flagged_rows,
           true AS separation_ok
    FROM events
    """,
)
def ml_kmeans_anomaly(spark, sf_dir):
    """M4 anomaly surface: KMeans distance-to-centroid scores over
    event features (seeded, deterministic within Spark). Round-2
    upgrade per VERDICT item 4: instead of a rows-only score dump, flag
    exactly the top floor(5% * n) scores (distributed sort-limit top-k
    with a unique event_id tiebreak) and emit oracle-checkable
    invariants — total rows, flagged rows (= floor(0.05*n) by
    construction), and the separation property min(flagged score) >=
    max(unflagged score), computed honestly via a broadcast anti-join.
    The iterative KMeans fit itself is not SQL-expressible; these
    aggregates are the differential check that the distributed scoring
    + top-k pipeline ran correctly end to end.

    Scale note: exact top-(5% of n) via sort-limit is the RIGHT shape
    for the differential check (deterministic count) but k grows with
    n, and TakeOrderedAndProject merges k rows per partition at the
    driver — at 100 TB the production path is
    ml.pipeline.anomaly_scores: an approxQuantile(0.95) threshold
    (mergeable sketch, one pass) with flag rate ~=5%, trading the
    exact count for full distribution."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import StandardScaler, VectorAssembler
    from pyspark.ml import Pipeline
    from pyspark.ml.functions import vector_to_array

    e = _t(spark, sf_dir, "events").select(
        "event_id",
        F.col("value").alias("f_value"),
        F.hour("ts").cast("double").alias("f_hour"),
        (F.col("user_id") % 10).cast("double").alias("f_usermod"),
    )
    pipe = Pipeline(
        stages=[
            VectorAssembler(inputCols=["f_value", "f_hour", "f_usermod"], outputCol="raw"),
            StandardScaler(inputCol="raw", outputCol="features", withMean=True, withStd=True),
            KMeans(featuresCol="features", predictionCol="cluster", k=4, seed=42),
        ]
    )
    model = pipe.fit(e)
    km = model.stages[-1]
    arr = vector_to_array("features")
    dists = [
        F.sqrt(
            F.aggregate(
                F.zip_with(arr, F.array(*[F.lit(x) for x in c.tolist()]), lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        for c in km.clusterCenters()
    ]
    scored = model.transform(e).withColumn("score", F.least(*dists)).select("event_id", "score")
    n = scored.count()
    k = int(n * 5 // 100)
    # Distributed exact top-k (TakeOrderedAndProject): unique event_id
    # tiebreak makes the flagged set deterministic even on tied scores.
    flagged = scored.orderBy(F.desc("score"), F.asc("event_id")).limit(k)
    flagged_keys = flagged.select("event_id")
    unflagged = scored.join(F.broadcast(flagged_keys), "event_id", "left_anti")
    f_stats = flagged.agg(
        F.count(F.lit(1)).alias("flagged_rows"), F.min("score").alias("min_flagged")
    )
    u_stats = unflagged.agg(F.max("score").alias("max_unflagged"))
    return f_stats.crossJoin(u_stats).select(
        F.lit(n).cast("long").alias("total_rows"),
        F.col("flagged_rows"),
        (F.col("min_flagged") >= F.col("max_unflagged")).alias("separation_ok"),
    )


# --- ML differential checks (VERDICT r1 "missing" item 2: M2/M3 had no
# driver-checkable signal). Iterative GBT training is not
# SQL-expressible, but construction invariants are: a seeded regressor
# scored on its training data cannot lose to the mean baseline
# (rmse <= stddev_pop), and a seeded classifier cannot lose to the
# majority class. The oracle pins row counts + the invariants, so the
# driver row verifies the full distributed fit+score pipeline ran.


@register(
    "ml_gbt_regression_eval",
    "SELECT count(*) AS n_rows, true AS rmse_le_std, true AS preds_finite FROM events",
)
def ml_gbt_regression_eval(spark, sf_dir):
    """M2 (reference LightGBM regression, database_and_model_tools.py:
    117-139) as distributed MLlib GBT: fit on event features, score the
    training set, emit oracle-checkable invariants. maxIter kept small:
    the check is the distributed pipeline, not model quality."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import GBTRegressor

    e = _t(spark, sf_dir, "events").select(
        F.col("value").alias("label"),
        F.hour("ts").cast("double").alias("f_hour"),
        (F.col("user_id") % 10).cast("double").alias("f_usermod"),
        F.dayofweek("ts").cast("double").alias("f_dow"),
    )
    feats = VectorAssembler(
        inputCols=["f_hour", "f_usermod", "f_dow"], outputCol="features"
    ).transform(e)
    model = GBTRegressor(
        featuresCol="features", labelCol="label", maxIter=5, maxDepth=3, seed=42
    ).fit(feats)
    scored = model.transform(feats)
    return scored.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (
            F.sqrt(F.avg(F.pow(F.col("prediction") - F.col("label"), 2)))
            <= F.stddev_pop("label")
        ).alias("rmse_le_std"),
        (F.count(F.when(F.isnan("prediction") | F.col("prediction").isNull(), 1)) == 0).alias(
            "preds_finite"
        ),
    )


@register(
    "ml_gbt_classifier_eval",
    "SELECT count(*) AS n_rows, true AS acc_ge_majority FROM events",
)
def ml_gbt_classifier_eval(spark, sf_dir):
    """M3 (reference binary classifiers) as distributed MLlib GBT:
    conversion prediction (purchase/signup vs rest) with the
    train-accuracy >= majority-class invariant as the driver check."""
    from pyspark.ml.classification import GBTClassifier
    from pyspark.ml.feature import VectorAssembler

    e = _t(spark, sf_dir, "events").select(
        F.col("event_type").isin("purchase", "signup").cast("double").alias("label"),
        F.hour("ts").cast("double").alias("f_hour"),
        (F.col("user_id") % 10).cast("double").alias("f_usermod"),
        F.col("value").alias("f_value"),
    )
    feats = VectorAssembler(
        inputCols=["f_hour", "f_usermod", "f_value"], outputCol="features"
    ).transform(e)
    model = GBTClassifier(
        featuresCol="features", labelCol="label", maxIter=5, maxDepth=3, seed=42
    ).fit(feats)
    scored = model.transform(feats)
    acc = F.avg((F.col("prediction") == F.col("label")).cast("double"))
    majority = F.greatest(F.avg("label"), 1 - F.avg("label"))
    return scored.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (acc >= majority).alias("acc_ge_majority"),
    )


# --- SQL-standard regression aggregates --------------------------------------


@register(
    "ml_linear_regression_sql",
    """
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def ml_linear_regression_sql(spark, sf_dir):
    """Closed-form per-group OLS via the SQL-standard regr_* aggregate
    family (slope/intercept/R^2 of price on quantity per return flag)
    — the distributed path for simple regression: single-pass
    partial-aggregable moments (sums, cross-products), no iterative
    solver, no driver-side matrix. The grouped-model idiom (one model
    per segment) that MLlib needs applyInPandas for is free here."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias(
            "intercept"
        ),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 4).alias("r2"),
        F.count(F.lit(1)).alias("n"),
    )


# --- SQL-exact multinomial Naive Bayes -----------------------------------------

_NB_SPLIT = 400  # train: doc_id < 400; test: the rest


@register(
    "ml_naive_bayes_sql",
    f"""
    WITH words AS (
      SELECT doc_id, lang,
             unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      FROM documents
    ),
    train AS (SELECT * FROM words WHERE doc_id < {_NB_SPLIT}),
    cls AS (
      SELECT lang, count(DISTINCT doc_id) AS n_docs, count(*) AS n_words
      FROM train GROUP BY lang
    ),
    prior AS (
      SELECT lang, ln(CAST(n_docs AS DOUBLE)
                      / (SELECT sum(n_docs) FROM cls)) AS lp
      FROM cls
    ),
    vocab AS (SELECT count(DISTINCT w) AS v FROM train),
    wc AS (SELECT lang, w, count(*) AS c FROM train GROUP BY lang, w),
    test_words AS (
      SELECT doc_id, lang AS true_lang, w FROM words WHERE doc_id >= {_NB_SPLIT}
    ),
    scored AS (
      SELECT t.doc_id, t.true_lang, cls.lang AS cand,
             sum(ln((coalesce(wc.c, 0) + 1.0)
                    / (cls.n_words + vocab.v))) AS loglik
      FROM test_words t
      CROSS JOIN cls CROSS JOIN vocab
      LEFT JOIN wc ON wc.lang = cls.lang AND wc.w = t.w
      GROUP BY 1, 2, 3, cls.n_words
    ),
    pred AS (
      SELECT doc_id, true_lang, cand AS pred_lang
      FROM (
        SELECT s.doc_id, s.true_lang, s.cand,
               row_number() OVER (
                 PARTITION BY s.doc_id
                 ORDER BY round(s.loglik + p.lp, 10) DESC, s.cand) AS r
        FROM scored s JOIN prior p ON p.lang = s.cand
      ) WHERE r = 1
    )
    SELECT count(*) AS n_test,
           CAST(sum(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct
    FROM pred
    """,
)
def ml_naive_bayes_sql(spark, sf_dir):
    """Multinomial Naive Bayes language classifier, trained and scored
    ENTIRELY in closed-form relational algebra (add-1 smoothing):
    class priors and word-given-class log-probabilities are grouped
    counts, scoring is a sum of joined log terms, argmax is a window —
    byte-identical across engines, so the oracle checks the WHOLE
    train/score/evaluate loop exactly (the regr_* idiom extended to
    classification). Scale shape: wc is (class x vocab)-bounded; test
    words join it on (lang, w) keys; no driver-side model object
    exists at all."""
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", "lang", F.explode(words_col(F.col("text"))).alias("w")
    )
    train = words.filter(F.col("doc_id") < _NB_SPLIT)
    # ONE shuffle over the exploded train corpus: the (lang, word)
    # count table. Everything class-level re-derives from wc's
    # (class x vocab)-bounded output instead of re-exploding the
    # corpus (n_words = sum of c; vocabulary = distinct w); per-class
    # doc counts come from the unexploded documents scan filtered the
    # same way the oracle's train_words CTE is (docs with >= 1 token,
    # via size(words_col) — an empty doc must not count toward the
    # prior on only one engine).
    wc = train.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("c"))
    cls_words = wc.groupBy("lang").agg(F.sum("c").alias("n_words"))
    vocab = wc.agg(F.countDistinct("w").alias("v"))
    cls_docs = (
        d.filter(
            (F.col("doc_id") < _NB_SPLIT) & (F.size(words_col(F.col("text"))) > 0)
        )
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    total_docs = cls_docs.agg(F.sum("n_docs").alias("td"))
    prior = cls_docs.crossJoin(F.broadcast(total_docs)).select(
        F.col("lang").alias("cand"),
        F.log(F.col("n_docs").cast("double") / F.col("td")).alias("lp"),
    )
    test_words = words.filter(F.col("doc_id") >= _NB_SPLIT).select(
        "doc_id", F.col("lang").alias("true_lang"), "w"
    )
    cand = cls_words.select(F.col("lang").alias("cand"), "n_words")
    # wc is (class x vocabulary)-bounded — broadcast it so the test
    # corpus is never shuffled for the score join (the corpus-never-
    # shuffles rule every retrieval entry in this engine follows)
    scored = (
        test_words.crossJoin(F.broadcast(cand))
        .crossJoin(F.broadcast(vocab))
        .join(
            F.broadcast(wc.select(F.col("lang").alias("cand"), "w", "c")),
            ["cand", "w"],
            "left",
        )
        .groupBy("doc_id", "true_lang", "cand", "n_words")
        .agg(
            F.sum(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                    / (F.col("n_words") + F.col("v"))
                )
            ).alias("loglik")
        )
    )
    # Rank on a fixed-precision score: float sum order differs between
    # Spark's partition-dependent aggregation and DuckDB, so near-tied
    # classes could argmax differently sub-ulp; rounding to 1e-10 with
    # the cand tiebreak pins one cross-engine answer.
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.round(F.col("loglik") + F.col("lp"), 10).desc(), F.col("cand").asc()
    )
    pred = (
        scored.join(F.broadcast(prior), "cand")
        .withColumn("r", F.row_number().over(w_rank))
        .filter(F.col("r") == 1)
    )
    return pred.agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum(F.when(F.col("cand") == F.col("true_lang"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
    )


# --- chi-square independence test ----------------------------------------------


@register(
    "ml_chi_square_assoc",
    """
    WITH obs AS (
      SELECT event_type,
             CASE WHEN value >= 100 THEN 1 ELSE 0 END AS hi,
             count(*) AS o
      FROM events GROUP BY 1, 2
    ),
    margins AS (
      SELECT event_type, sum(o) AS row_n FROM obs GROUP BY event_type
    ),
    cols AS (SELECT hi, sum(o) AS col_n FROM obs GROUP BY hi),
    tot AS (SELECT CAST(sum(o) AS DOUBLE) AS n FROM obs)
    SELECT round(sum(pow(o - row_n * col_n / n, 2) / (row_n * col_n / n)), 4)
             AS chi2,
           CAST(( (SELECT count(*) FROM margins) - 1)
                * ((SELECT count(*) FROM cols) - 1) AS BIGINT) AS dof
    FROM obs JOIN margins USING (event_type) JOIN cols USING (hi) CROSS JOIN tot
    """,
)
def ml_chi_square_assoc(spark, sf_dir):
    """Chi-square test of independence (event type vs high-value flag)
    — the feature-screening statistic a modeling pipeline computes
    before one-hot encoding categoricals. Computed as pure SQL moments
    (observed vs expected from the margins), identically in both
    engines; the contingency table is category-bounded, so the whole
    test is one partial-aggregable pass at any scale."""
    e = _t(spark, sf_dir, "events")
    obs = e.groupBy(
        "event_type", (F.col("value") >= 100).cast("int").alias("hi")
    ).agg(F.count(F.lit(1)).alias("o"))
    margins = obs.groupBy("event_type").agg(F.sum("o").alias("row_n"))
    cols = obs.groupBy("hi").agg(F.sum("o").alias("col_n"))
    tot = obs.agg(F.sum("o").cast("double").alias("n"))
    joined = (
        obs.join(margins, "event_type")
        .join(F.broadcast(cols), "hi")
        .crossJoin(F.broadcast(tot))
    )
    expected = F.col("row_n") * F.col("col_n") / F.col("n")
    chi2 = joined.agg(
        F.round(F.sum(F.pow(F.col("o") - expected, 2) / expected), 4).alias("chi2")
    )
    dof = margins.count() - 1, cols.count() - 1
    return chi2.select(
        "chi2", F.lit(dof[0] * dof[1]).cast("long").alias("dof")
    )


# --- frequent itemsets (FPGrowth vs SQL combinatorics) -------------------------


@register(
    "ml_fpgrowth_itemsets",
    """
    WITH baskets AS (
      SELECT user_id, list(DISTINCT event_type) AS items FROM events
      GROUP BY user_id
    ),
    n AS (SELECT count(*) AS n_baskets FROM baskets),
    singles AS (
      SELECT event_type AS itemset, count(DISTINCT user_id) AS freq
      FROM events GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type || '+' || b.event_type AS itemset,
             count(*) AS freq
      FROM (SELECT DISTINCT user_id, event_type FROM events) a
      JOIN (SELECT DISTINCT user_id, event_type FROM events) b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1
    ),
    all_sets AS (
      SELECT itemset, freq FROM singles UNION ALL SELECT itemset, freq FROM pairs
    )
    SELECT itemset, freq FROM all_sets CROSS JOIN n
    WHERE freq >= 0.3 * n_baskets
    """,
)
def ml_fpgrowth_itemsets(spark, sf_dir):
    """Frequent-itemset mining (MLlib FPGrowth, minSupport 0.3) over
    per-user event-type baskets, reported for itemsets of size <= 2 —
    the co-occurrence catalog behind recommender/market-basket
    features. FPGrowth's output is EXACT (a deterministic set for a
    given support threshold), so the oracle recomputes it with SQL
    combinatorics (distinct-pair joins); itemsets are canonicalized
    as sorted '+'-joined strings to stay driver-hashable. Baskets are
    user-keyed partial-aggregable collect_sets; the item domain is
    bounded (5 event types), so the lattice is tiny at any scale."""
    from pyspark.ml.fpm import FPGrowth

    e = _t(spark, sf_dir, "events")
    baskets = e.groupBy("user_id").agg(
        F.collect_set("event_type").alias("items")
    )
    model = FPGrowth(
        itemsCol="items", minSupport=0.3, minConfidence=0.5
    ).fit(baskets)
    return (
        model.freqItemsets.filter(F.size("items") <= 2)
        .select(
            F.array_join(F.array_sort("items"), "+").alias("itemset"),
            F.col("freq"),
        )
    )


# --- ALS collaborative filtering (invariant-checked) ---------------------------


@register(
    "ml_als_recommend",
    """
    SELECT count(DISTINCT user_id) AS n_users,
           count(DISTINCT event_type) AS n_items,
           true AS rmse_below_quarter_mean
    FROM events
    """,
)
def ml_als_recommend(spark, sf_dir):
    """ALS matrix factorization (MLlib, rank 4, fixed seed) on the
    user x event-type engagement matrix (mean value as the implicit
    rating) — the collaborative-filtering surface. Factorization
    output is seed-stable but float-iterative, so the driver-checkable
    row is the INVARIANT: reconstruction RMSE on the training matrix
    must land below a quarter of the global mean rating (the matrix is
    near-complete at 5 items, so a rank-4 factorization must fit it
    well), plus the matrix dimensions. The oracle pins the dimensions
    and the invariant."""
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.feature import StringIndexer
    from pyspark.ml.recommendation import ALS

    e = _t(spark, sf_dir, "events")
    ratings = e.groupBy("user_id", "event_type").agg(
        F.avg("value").alias("rating")
    )
    idx = StringIndexer(inputCol="event_type", outputCol="item_id").fit(ratings)
    r = idx.transform(ratings).select(
        F.col("user_id").cast("int").alias("user"),
        F.col("item_id").cast("int").alias("item"),
        F.col("rating").cast("float"),
    )
    als = ALS(
        rank=4, maxIter=8, seed=7, regParam=0.05,
        userCol="user", itemCol="item", ratingCol="rating",
        coldStartStrategy="drop", checkpointInterval=-1,
    )
    model = als.fit(r)
    rmse = RegressionEvaluator(
        metricName="rmse", labelCol="rating", predictionCol="prediction"
    ).evaluate(model.transform(r))
    mean_rating = r.agg(F.avg("rating")).collect()[0][0]
    dims = r.agg(
        F.countDistinct("user").alias("n_users"),
        F.countDistinct("item").alias("n_items"),
    ).collect()[0]
    # fit caches both factor RDDs (ALS's finalStorageLevel); the result
    # is on the driver now, so free them before the model goes away.
    # checkpointInterval=-1: where the context has a checkpoint dir, ALS
    # would otherwise checkpoint round 0's factors and leave one more
    # persisted RDD that no returned frame reaches
    retire_ids(
        spark, owned_ids(model.userFactors) + owned_ids(model.itemFactors)
    )
    return local_frame(
        spark,
        [(dims.n_users, dims.n_items, bool(rmse < 0.25 * mean_rating))],
        "n_users bigint, n_items bigint, rmse_below_quarter_mean boolean",
    )


@register(
    "ml_logistic_regression_gd",
    """
    WITH stats AS (
      SELECT round(avg(l_quantity), 9) AS m1, round(stddev_pop(l_quantity), 9) AS s1,
             round(avg(l_discount), 9) AS m2, round(stddev_pop(l_discount), 9) AS s2,
             CAST(count(*) AS DOUBLE) AS n
      FROM lineitem
    ),
    d AS (
      SELECT CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y,
             (l_quantity - m1) / s1 AS x1,
             (l_discount - m2) / s2 AS x2,
             n
      FROM lineitem CROSS JOIN stats
    ),
    g1 AS (
      SELECT round(sum(0.5 - y) / max(n), 9) AS g0,
             round(sum((0.5 - y) * x1) / max(n), 9) AS ga,
             round(sum((0.5 - y) * x2) / max(n), 9) AS gb
      FROM d
    ),
    w1 AS (SELECT -0.5 * g0 AS w0, -0.5 * ga AS wa, -0.5 * gb AS wb FROM g1),
    g2 AS (
      SELECT round(sum(1.0/(1.0 + exp(-(w0 + wa*x1 + wb*x2))) - y) / max(n), 9) AS g0,
             round(sum((1.0/(1.0 + exp(-(w0 + wa*x1 + wb*x2))) - y) * x1) / max(n), 9) AS ga,
             round(sum((1.0/(1.0 + exp(-(w0 + wa*x1 + wb*x2))) - y) * x2) / max(n), 9) AS gb
      FROM d CROSS JOIN w1
    ),
    w2 AS (SELECT w0 - 0.5 * g0 AS w0, wa - 0.5 * ga AS wa, wb - 0.5 * gb AS wb
           FROM w1 CROSS JOIN g2),
    g3 AS (
      SELECT round(sum(1.0/(1.0 + exp(-(w0 + wa*x1 + wb*x2))) - y) / max(n), 9) AS g0,
             round(sum((1.0/(1.0 + exp(-(w0 + wa*x1 + wb*x2))) - y) * x1) / max(n), 9) AS ga,
             round(sum((1.0/(1.0 + exp(-(w0 + wa*x1 + wb*x2))) - y) * x2) / max(n), 9) AS gb
      FROM d CROSS JOIN w2
    ),
    w3 AS (SELECT w0 - 0.5 * g0 AS w0, wa - 0.5 * ga AS wa, wb - 0.5 * gb AS wb
           FROM w2 CROSS JOIN g3),
    pred AS (
      SELECT CAST(sum(CASE WHEN (CASE WHEN round(w0 + wa*x1 + wb*x2, 9) > 0
                                 THEN 1.0 ELSE 0.0 END) = y THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct,
             CAST(max(n) AS BIGINT) AS n_rows
      FROM d CROSS JOIN w3
    )
    SELECT round(w0, 6) + 0 AS w_intercept, round(wa, 6) + 0 AS w_qty,
           round(wb, 6) + 0 AS w_disc, n_correct, n_rows
    FROM w3 CROSS JOIN pred
    """,
)
def ml_logistic_regression_gd(spark, sf_dir):
    """Logistic regression by 3 fixed full-batch gradient-descent steps
    (lr=0.5), SQL-native — the iterative-optimizer pattern on an
    engine with no mutable state: each step is one partial-aggregable
    scan producing a 1-row gradient, combined with the weights via a
    broadcast cross join (MLlib's LBFGS does the same
    treeAggregate-per-iteration shape). Cross-engine float parity is
    pinned the way the r4 Naive Bayes fix mandated: standardization
    stats and every gradient component are rounded to 1e-9 so the
    weight trajectory is identical on both engines despite
    partition-order float-sum and libm-exp ulp differences, and the
    prediction threshold tests round(z,9) > 0 — the sign of the
    logit — so accuracy never touches exp() at all. First-step
    gradient uses sigmoid(0) = 0.5 exactly. At 100 TB caching the
    standardized projection between iterations is a knob; A/B-measured
    round 7, an explicit checkpoint was 1.2x SLOWER at bench scale
    (eager job overhead). Since r9 each step's 1-row gradient comes
    back to the DRIVER and the weights ride the next scan as literals:
    the r9 gbt A/B showed ReuseExchange does not dedupe 1-row
    parameter subtrees nested inside different broadcast builds, and
    the lazy weight chain here paid the same tax at lower multiplicity
    (SCALE.md §Round-9 multiplicity A/Bs: 1.25s lazy vs 0.90s literals,
    identical
    trajectory — the collected values ARE the 1e-9-rounded walk, so
    cross-engine parity is untouched). Weight updates run in driver
    Python doubles — the same IEEE ops the old 1-row Spark projection
    applied."""
    li = _t(spark, sf_dir, "lineitem")
    st = li.agg(
        F.round(F.avg("l_quantity"), 9).alias("m1"),
        F.round(F.stddev_pop("l_quantity"), 9).alias("s1"),
        F.round(F.avg("l_discount"), 9).alias("m2"),
        F.round(F.stddev_pop("l_discount"), 9).alias("s2"),
        F.count("*").cast("double").alias("n"),
    ).collect()[0]
    n = float(st["n"])
    d = li.select(
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("y"),
        ((F.col("l_quantity") - F.lit(float(st["m1"]))) / F.lit(float(st["s1"]))).alias("x1"),
        ((F.col("l_discount") - F.lit(float(st["m2"]))) / F.lit(float(st["s2"]))).alias("x2"),
    )
    # step 1: sigmoid(0) = 0.5 exactly
    g = d.agg(
        F.round(F.sum(F.lit(0.5) - F.col("y")) / F.lit(n), 9).alias("g0"),
        F.round(F.sum((F.lit(0.5) - F.col("y")) * F.col("x1")) / F.lit(n), 9).alias("ga"),
        F.round(F.sum((F.lit(0.5) - F.col("y")) * F.col("x2")) / F.lit(n), 9).alias("gb"),
    ).collect()[0]
    w0, wa, wb = -0.5 * g["g0"], -0.5 * g["ga"], -0.5 * g["gb"]
    for _ in range(2):
        z = F.lit(w0) + F.lit(wa) * F.col("x1") + F.lit(wb) * F.col("x2")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        g = d.agg(
            F.round(F.sum(p - F.col("y")) / F.lit(n), 9).alias("g0"),
            F.round(F.sum((p - F.col("y")) * F.col("x1")) / F.lit(n), 9).alias("ga"),
            F.round(F.sum((p - F.col("y")) * F.col("x2")) / F.lit(n), 9).alias("gb"),
        ).collect()[0]
        w0, wa, wb = w0 - 0.5 * g["g0"], wa - 0.5 * g["ga"], wb - 0.5 * g["gb"]
    z = F.lit(w0) + F.lit(wa) * F.col("x1") + F.lit(wb) * F.col("x2")
    pred_y = F.when(F.round(z, 9) > 0, 1.0).otherwise(0.0)
    pred = d.agg(
        F.sum(F.when(pred_y == F.col("y"), 1).otherwise(0)).cast("long").alias("n_correct"),
        F.count("*").cast("long").alias("n_rows"),
    )
    zero = F.lit(0.0)
    return pred.select(
        (F.round(F.lit(w0), 6) + zero).alias("w_intercept"),
        (F.round(F.lit(wa), 6) + zero).alias("w_qty"),
        (F.round(F.lit(wb), 6) + zero).alias("w_disc"),
        "n_correct",
        "n_rows",
    )


_KMEANS_ITER_SQL = """
a{n} AS (
  SELECT b.vec_id, c.cluster,
         round(list_dot_product(b.v, b.v) - 2 * list_dot_product(b.v, c.cv)
               + list_dot_product(c.cv, c.cv), 6) AS d2
  FROM base b CROSS JOIN {cent} c
),
as{n} AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
    FROM a{n}
  ) WHERE rn = 1
),
ex{n} AS (
  SELECT s.cluster, gs.i AS pos, b.v[gs.i] AS x
  FROM as{n} s JOIN base b USING (vec_id) CROSS JOIN generate_series(1, 64) gs(i)
),
cagg{n} AS (SELECT cluster, pos, round(avg(x), 9) AS c FROM ex{n} GROUP BY cluster, pos),
cent{n} AS (SELECT cluster, list(c ORDER BY pos) AS cv FROM cagg{n} GROUP BY cluster)
"""


@register(
    "ml_kmeans_lloyd",
    f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    init AS (SELECT vec_id AS cluster, v AS cv FROM base WHERE vec_id < 4),
    {_KMEANS_ITER_SQL.format(n=1, cent="init")},
    {_KMEANS_ITER_SQL.format(n=2, cent="cent1")},
    members AS (
      SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
             CAST(sum(vec_id) AS BIGINT) AS sum_vec_ids
      FROM as2 GROUP BY cluster
    )
    SELECT m.cluster, m.n_members, m.sum_vec_ids,
           round(sqrt(list_dot_product(c.cv, c.cv)), 6) AS centroid_norm
    FROM members m JOIN cent2 c USING (cluster)
    """,
)
def ml_kmeans_lloyd(spark, sf_dir):
    """KMeans by 2 fixed Lloyd iterations (k=4, init = vectors 0-3),
    exactly oracle-checked — the iterative-clustering loop in pure
    relational algebra, MLlib's distributed shape: assignment is a
    broadcast-k cross join scoring dist^2 = <v,v> - 2<v,c> + <c,c>
    (each dot product an IN-ORDER array fold, identical on both
    engines), argmin pinned by (d2 rounded 1e-6, cluster) ranking;
    the update is a posexplode + partial-aggregable (cluster, dim)
    mean rounded 1e-9 — the same trajectory-pinning discipline as
    ml_logistic_regression_gd, so centroids match bitwise across
    engines and partitionings. Output digests membership exactly
    (count + id-sum per cluster) plus the centroid norms."""
    emb = _t(spark, sf_dir, "embeddings")

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cent = base.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cluster"), F.col("v").alias("cv")
    )
    from pyspark.sql import Window

    assign = None
    for _ in range(2):
        d = base.crossJoin(F.broadcast(cent)).select(
            "vec_id",
            "cluster",
            F.round(
                dot(F.col("v"), F.col("v"))
                - 2 * dot(F.col("v"), F.col("cv"))
                + dot(F.col("cv"), F.col("cv")),
                6,
            ).alias("d2"),
        )
        w = Window.partitionBy("vec_id").orderBy("d2", "cluster")
        assign = (
            d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cluster")
        )
        ex = assign.join(base, "vec_id").select(
            "cluster", F.posexplode("v").alias("pos", "x")
        )
        cagg = ex.groupBy("cluster", "pos").agg(F.round(F.avg("x"), 9).alias("c"))
        cent = cagg.groupBy("cluster").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
            ).alias("cv")
        )
    members = assign.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_members"),
        F.sum("vec_id").cast("long").alias("sum_vec_ids"),
    )
    return members.join(cent, "cluster").select(
        "cluster",
        "n_members",
        "sum_vec_ids",
        F.round(F.sqrt(dot(F.col("cv"), F.col("cv"))), 6).alias("centroid_norm"),
    )


@register(
    "ml_decision_stump",
    """
    WITH labeled AS (
      SELECT l_quantity AS q, CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    per_value AS (
      SELECT q, CAST(count(*) AS DOUBLE) AS n, CAST(sum(y) AS DOUBLE) AS pos
      FROM labeled GROUP BY q
    ),
    tot AS (SELECT sum(n) AS nt, sum(pos) AS post FROM per_value),
    cum AS (
      SELECT q,
             sum(n) OVER (ORDER BY q) AS nl,
             sum(pos) OVER (ORDER BY q) AS posl
      FROM per_value
    ),
    scored AS (
      SELECT q AS threshold,
             round(
               (nl / nt) * (1 - pow(posl / nl, 2) - pow((nl - posl) / nl, 2))
               + ((nt - nl) / nt) * (CASE WHEN nt - nl = 0 THEN 0
                   ELSE 1 - pow((post - posl) / (nt - nl), 2)
                        - pow(((nt - nl) - (post - posl)) / (nt - nl), 2) END),
               9) AS gini
      FROM cum CROSS JOIN tot
    ),
    best AS (
      SELECT threshold, gini,
             row_number() OVER (ORDER BY gini, threshold) AS rn
      FROM scored
    )
    SELECT round(threshold, 4) AS threshold, round(gini, 6) AS gini_weighted,
           (SELECT CAST(count(*) AS BIGINT) FROM per_value) AS n_candidates
    FROM best WHERE rn = 1
    """,
)
def ml_decision_stump(spark, sf_dir):
    """Decision-tree split search (best `q <= t` threshold on
    l_quantity for the returnflag label, by weighted Gini impurity) —
    the tree-induction inner loop as relational algebra, the shape
    distributed GBDT learners (XGBoost/LightGBM parity surface, M2/M3)
    evaluate per node: one partial-aggregable groupBy collapses the
    fact table to per-VALUE (count, positives) — after which every
    window/cumsum runs on the CANDIDATE table, bounded by distinct
    feature values (50 here; at 100 TB you'd pre-bin to 256 quantile
    buckets, same plan) — then prefix sums give every threshold's
    left/right class counts in one pass. Gini rounded 1e-9 before the
    argmin ranking (threshold tiebreak), per the float-trajectory
    discipline."""
    li = _t(spark, sf_dir, "lineitem")
    labeled = li.select(
        F.col("l_quantity").alias("q"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    best = _gini_best_split(labeled)
    return best.select(
        F.round("threshold", 4).alias("threshold"),
        F.round("gini", 6).alias("gini_weighted"),
        F.col("n_candidates").cast("long").alias("n_candidates"),
    )


def _gini_best_split(labeled):
    """Shared Gini split search over a (q, y) frame: returns the 1-row
    argmin (threshold, gini rounded 1e-9, n_candidates). One partial-
    aggregable groupBy collapses facts to per-value counts; the cumsum
    window runs on the candidate table only."""
    per_value = labeled.groupBy("q").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("y").cast("double").alias("pos"),
    )
    tot = per_value.agg(
        F.sum("n").alias("nt"), F.sum("pos").alias("post"), F.count("*").alias("n_candidates")
    )
    wcum = Window.orderBy("q")
    cum = per_value.select(
        "q",
        F.sum("n").over(wcum).alias("nl"),
        F.sum("pos").over(wcum).alias("posl"),
    )
    s = cum.crossJoin(F.broadcast(tot))
    nl, posl = F.col("nl"), F.col("posl")
    nt, post = F.col("nt"), F.col("post")
    nr, posr = nt - nl, post - posl
    gini_l = 1 - F.pow(posl / nl, 2) - F.pow((nl - posl) / nl, 2)
    gini_r = F.when(nr == 0, 0.0).otherwise(
        1 - F.pow(posr / nr, 2) - F.pow((nr - posr) / nr, 2)
    )
    scored = s.select(
        F.col("q").alias("threshold"),
        F.round((nl / nt) * gini_l + (nr / nt) * gini_r, 9).alias("gini"),
        "n_candidates",
    )
    wbest = Window.orderBy("gini", "threshold")
    return scored.withColumn("rn", F.row_number().over(wbest)).filter(F.col("rn") == 1)


_PCA_ITER_SQL = """
w{n} AS (
  SELECT c.i, round(sum(c.cv * v.val), 9) AS wv
  FROM cmat c JOIN {v} v ON c.j = v.i GROUP BY c.i
),
n{n} AS (SELECT round(sqrt(sum(wv * wv)), 9) AS nrm FROM w{n}),
v{n} AS (SELECT i, wv / nrm AS val FROM w{n} CROSS JOIN n{n})
"""


@register(
    "ml_pca_power_iteration",
    f"""
    WITH long AS (
      SELECT vec_id, gs.i AS i, CAST(embedding[gs.i] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN generate_series(1, 16) gs(i)
    ),
    mu AS (SELECT i, round(avg(x), 9) AS m FROM long GROUP BY i),
    cen AS (SELECT l.vec_id, l.i, l.x - m.m AS xc FROM long l JOIN mu m ON l.i = m.i),
    cmat AS (
      SELECT a.i AS i, b.i AS j, round(avg(a.xc * b.xc), 9) AS cv
      FROM cen a JOIN cen b ON a.vec_id = b.vec_id
      GROUP BY a.i, b.i
    ),
    v0 AS (SELECT gs.i AS i, 0.25 AS val FROM generate_series(1, 16) gs(i)),
    {_PCA_ITER_SQL.format(n=1, v="v0")},
    {_PCA_ITER_SQL.format(n=2, v="v1")},
    {_PCA_ITER_SQL.format(n=3, v="v2")},
    ray AS (
      SELECT round(sum(v3a.val * c.cv * v3b.val), 6) AS eig
      FROM cmat c JOIN v3 v3a ON c.i = v3a.i JOIN v3 v3b ON c.j = v3b.i
    )
    SELECT CAST(16 AS BIGINT) AS n_dims, ray.eig AS top_eigenvalue,
           round(abs((SELECT val FROM v3 WHERE i = 1)), 6) AS c1,
           round(abs((SELECT val FROM v3 WHERE i = 2)), 6) AS c2,
           round(abs((SELECT val FROM v3 WHERE i = 3)), 6) AS c3
    FROM ray
    """,
)
def ml_pca_power_iteration(spark, sf_dir):
    """PCA top component by 3 fixed power iterations over the first 16
    embedding dims — distributed iterative linear algebra in
    relational form: ONE data-sized shuffle builds the d x d
    covariance (pair-exploded, partial-aggregable avg; d^2 = 256
    groups), after which every iterate (matvec, norm, Rayleigh
    quotient) runs on the TINY C/v tables — exactly how a cluster PCA
    separates the O(n d^2) sufficient-statistics pass from the O(d^2)
    eigensolve (MLlib computeSVD does the same Gramian collapse).
    Matvec sums and norms are rounded 1e-9 per step (the pinned-
    trajectory discipline), so both engines walk identical iterates.
    Fixed iterations, not convergence: random embeddings have a flat
    spectrum, so the 3-step estimate undershoots the true eigenvalue
    — the semantics pinned here are the STEP, as with
    ml_logistic_regression_gd."""
    emb = _t(spark, sf_dir, "embeddings")
    long = emb.select(
        "vec_id",
        F.posexplode(F.slice(F.col("embedding").cast("array<double>"), 1, 16)).alias(
            "pos", "x"
        ),
    ).select("vec_id", (F.col("pos") + 1).alias("i"), "x")
    mu = long.groupBy("i").agg(F.round(F.avg("x"), 9).alias("m"))
    cen = long.join(F.broadcast(mu), "i").select(
        "vec_id", "i", (F.col("x") - F.col("m")).alias("xc")
    )
    a, b = cen.alias("a"), cen.alias("b")
    cmat = (
        a.join(b, F.col("a.vec_id") == F.col("b.vec_id"))
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(F.round(F.avg(F.col("a.xc") * F.col("b.xc")), 9).alias("cv"))
    )
    v = spark.range(1, 17).select(F.col("id").alias("i"), F.lit(0.25).alias("val"))
    for _ in range(3):
        w = (
            cmat.join(F.broadcast(v.withColumnRenamed("i", "j")), "j")
            .groupBy("i")
            .agg(F.round(F.sum(F.col("cv") * F.col("val")), 9).alias("wv"))
        )
        nrm = w.agg(F.round(F.sqrt(F.sum(F.col("wv") * F.col("wv"))), 9).alias("nrm"))
        v = w.crossJoin(F.broadcast(nrm)).select(
            "i", (F.col("wv") / F.col("nrm")).alias("val")
        )
    va = v.select(F.col("i").alias("ri"), F.col("val").alias("va"))
    vb = v.select(F.col("i").alias("rj"), F.col("val").alias("vb"))
    ray = (
        cmat.join(F.broadcast(va), cmat.i == va.ri)
        .join(F.broadcast(vb), cmat.j == vb.rj)
        .agg(F.round(F.sum(F.col("va") * F.col("cv") * F.col("vb")), 6).alias("eig"))
    )
    comps = v.agg(
        F.round(F.abs(F.max(F.when(F.col("i") == 1, F.col("val")))), 6).alias("c1"),
        F.round(F.abs(F.max(F.when(F.col("i") == 2, F.col("val")))), 6).alias("c2"),
        F.round(F.abs(F.max(F.when(F.col("i") == 3, F.col("val")))), 6).alias("c3"),
    )
    return (
        ray.crossJoin(comps)
        .select(
            F.lit(16).cast("long").alias("n_dims"),
            F.col("eig").alias("top_eigenvalue"),
            "c1",
            "c2",
            "c3",
        )
    )


_GINI_SQL_CTES = """
per_value AS (
  SELECT q, CAST(count(*) AS DOUBLE) AS n, CAST(sum(y) AS DOUBLE) AS pos
  FROM labeled GROUP BY q
),
tot AS (SELECT sum(n) AS nt, sum(pos) AS post FROM per_value),
cum AS (
  SELECT q, sum(n) OVER (ORDER BY q) AS nl, sum(pos) OVER (ORDER BY q) AS posl
  FROM per_value
),
scored AS (
  SELECT q AS threshold,
         round(
           (nl / nt) * (1 - pow(posl / nl, 2) - pow((nl - posl) / nl, 2))
           + ((nt - nl) / nt) * (CASE WHEN nt - nl = 0 THEN 0
               ELSE 1 - pow((post - posl) / (nt - nl), 2)
                    - pow(((nt - nl) - (post - posl)) / (nt - nl), 2) END),
           9) AS gini
  FROM cum CROSS JOIN tot
),
best AS (
  SELECT threshold FROM (
    SELECT threshold, row_number() OVER (ORDER BY gini, threshold) AS rn FROM scored
  ) WHERE rn = 1
)
"""


@register(
    "ml_confusion_matrix",
    f"""
    WITH labeled AS (
      SELECT l_quantity AS q,
             CASE WHEN l_quantity + (l_orderkey % 11) - 5 > 25 THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    {_GINI_SQL_CTES},
    conf AS (
      SELECT CAST(sum(CASE WHEN l.q > b.threshold AND l.y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN l.q > b.threshold AND l.y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN l.q <= b.threshold AND l.y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
             CAST(sum(CASE WHEN l.q <= b.threshold AND l.y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM labeled l CROSS JOIN best b
    )
    SELECT round(b.threshold, 4) AS threshold, c.tp, c.fp, c.tn, c.fn,
           round(CAST(c.tp AS DOUBLE) / (c.tp + c.fp), 6) AS precision_pos,
           round(CAST(c.tp AS DOUBLE) / (c.tp + c.fn), 6) AS recall_pos,
           round(2.0 * c.tp / (2.0 * c.tp + c.fp + c.fn), 6) AS f1_pos
    FROM best b CROSS JOIN conf c
    """,
)
def ml_confusion_matrix(spark, sf_dir):
    """Classification evaluation metrics — confusion matrix +
    precision/recall/F1 for the learned stump rule `predict positive
    iff q > t*` — the eval half of a train/evaluate loop, fully in
    relational algebra: t* comes from the shared Gini search
    (_gini_best_split), then ONE labeled-table scan against the
    broadcast 1-row threshold produces all four confusion cells as
    conditional sums; ratios are derived at the end (never stored
    unrounded intermediates). The label is a deterministic noisy
    threshold on the feature (testdata columns are mutually
    independent, so no natural pair separates) — the pipeline under
    test is the metric computation, and the ~0.94 F1 keeps every cell
    and ratio non-degenerate."""
    li = _t(spark, sf_dir, "lineitem")
    labeled = li.select(
        F.col("l_quantity").alias("q"),
        F.when(F.col("l_quantity") + (F.col("l_orderkey") % 11) - 5 > 25, 1)
        .otherwise(0)
        .alias("y"),
    )
    best = _gini_best_split(labeled).select("threshold")
    d = labeled.crossJoin(F.broadcast(best))
    q, y, t = F.col("q"), F.col("y"), F.col("threshold")
    conf = d.agg(
        F.first("threshold").alias("t"),
        F.sum(F.when((q > t) & (y == 1), 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when((q > t) & (y == 0), 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when((q <= t) & (y == 0), 1).otherwise(0)).cast("long").alias("tn"),
        F.sum(F.when((q <= t) & (y == 1), 1).otherwise(0)).cast("long").alias("fn"),
    )
    tp, fp, tn, fn = F.col("tp"), F.col("fp"), F.col("tn"), F.col("fn")
    return conf.select(
        F.round("t", 4).alias("threshold"),
        "tp",
        "fp",
        "tn",
        "fn",
        F.round(tp.cast("double") / (tp + fp), 6).alias("precision_pos"),
        F.round(tp.cast("double") / (tp + fn), 6).alias("recall_pos"),
        F.round(2.0 * tp / (2.0 * tp + fp + fn), 6).alias("f1_pos"),
    )


_GINI_TPL = """
per_value{p} AS (
  SELECT q, CAST(count(*) AS DOUBLE) AS n, CAST(sum(y) AS DOUBLE) AS pos
  FROM {src} GROUP BY q
),
tot{p} AS (SELECT sum(n) AS nt, sum(pos) AS post FROM per_value{p}),
cum{p} AS (
  SELECT q, sum(n) OVER (ORDER BY q) AS nl, sum(pos) OVER (ORDER BY q) AS posl
  FROM per_value{p}
),
scored{p} AS (
  SELECT q AS threshold,
         round(
           (nl / nt) * (1 - pow(posl / nl, 2) - pow((nl - posl) / nl, 2))
           + ((nt - nl) / nt) * (CASE WHEN nt - nl = 0 THEN 0
               ELSE 1 - pow((post - posl) / (nt - nl), 2)
                    - pow(((nt - nl) - (post - posl)) / (nt - nl), 2) END),
           9) AS gini
  FROM cum{p} CROSS JOIN tot{p}
),
best{p} AS (
  SELECT threshold, gini FROM (
    SELECT threshold, gini, row_number() OVER (ORDER BY gini, threshold) AS rn
    FROM scored{p}
  ) WHERE rn = 1
)
"""


@register(
    "ml_decision_tree_depth2",
    f"""
    WITH labeled AS (
      SELECT l_quantity AS q,
             CASE WHEN l_quantity + (l_orderkey % 11) - 5 > 25 THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    {_GINI_TPL.format(p="0", src="labeled")},
    left_rows AS (
      SELECT l.q, l.y FROM labeled l CROSS JOIN best0 b WHERE l.q <= b.threshold
    ),
    right_rows AS (
      SELECT l.q, l.y FROM labeled l CROSS JOIN best0 b WHERE l.q > b.threshold
    ),
    {_GINI_TPL.format(p="1", src="left_rows")},
    {_GINI_TPL.format(p="2", src="right_rows")}
    SELECT 'root' AS node, round(threshold, 4) AS threshold,
           round(gini, 6) AS gini_weighted,
           (SELECT CAST(count(*) AS BIGINT) FROM labeled) AS n_rows
    FROM best0
    UNION ALL
    SELECT 'left', round(threshold, 4), round(gini, 6),
           (SELECT CAST(count(*) AS BIGINT) FROM left_rows)
    FROM best1
    UNION ALL
    SELECT 'right', round(threshold, 4), round(gini, 6),
           (SELECT CAST(count(*) AS BIGINT) FROM right_rows)
    FROM best2
    """,
)
def ml_decision_tree_depth2(spark, sf_dir):
    """Depth-2 decision-tree induction: the root split (shared Gini
    search) partitions the data, then each CHILD runs the identical
    search on its subset — the recursive step that turns the stump
    into tree learning, still pure relational algebra. Per level this
    is how distributed GBDT grows trees: one pass builds per-(node,
    value) sufficient statistics, the candidate-bounded argmin runs
    per node; here the two child searches share the root threshold via
    a broadcast 1-row join, and nothing driver-side ever sees data —
    only the 3 winning (node, threshold, gini) rows come back."""
    li = _t(spark, sf_dir, "lineitem")
    labeled = li.select(
        F.col("l_quantity").alias("q"),
        F.when(F.col("l_quantity") + (F.col("l_orderkey") % 11) - 5 > 25, 1)
        .otherwise(0)
        .alias("y"),
    )
    root = _gini_best_split(labeled)
    t0 = F.broadcast(root.select(F.col("threshold").alias("t0")))
    left = labeled.crossJoin(t0).filter(F.col("q") <= F.col("t0")).select("q", "y")
    right = labeled.crossJoin(t0).filter(F.col("q") > F.col("t0")).select("q", "y")

    def node_row(name, subset):
        best = _gini_best_split(subset).select(
            F.lit(name).alias("node"),
            F.round("threshold", 4).alias("threshold"),
            F.round("gini", 6).alias("gini_weighted"),
        )
        n = subset.agg(F.count("*").cast("long").alias("n_rows"))
        return best.crossJoin(F.broadcast(n))

    return (
        node_row("root", labeled)
        .unionByName(node_row("left", left))
        .unionByName(node_row("right", right))
    )


# =========================================================================
# ML evaluation metrics
# =========================================================================


@register(
    "ml_roc_auc",
    """
    WITH g AS (
      SELECT n_chars AS score,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos_g,
             sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS neg_g
      FROM documents GROUP BY n_chars
    ),
    c AS (
      SELECT pos_g, neg_g,
             coalesce(sum(neg_g) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_neg
      FROM g
    ),
    t AS (
      SELECT sum(pos_g * (2 * cum_neg + neg_g)) AS u2,
             sum(pos_g) AS p, sum(neg_g) AS n
      FROM c
    )
    SELECT CAST(p AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg,
           round(u2 / (2.0 * p * n), 6) + 0 AS auc
    FROM t
    """,
)
def ml_roc_auc(spark, sf_dir):
    """Exact ROC-AUC (threshold-free ranking quality) of document
    length predicting lang='en', via the tie-corrected Mann-Whitney
    rank-sum: AUC = sum over score groups of pos_g * (neg_below +
    neg_tied/2) / (P*N). The doubled numerator u2 stays an exact
    BIGINT (every half becomes an integer), so the only float op is
    the final division — bit-identical on both engines at any
    partitioning. Scale shape: one partial-aggregable groupBy collapses
    N rows to |distinct scores| (the candidate table, same bound as
    ml_decision_stump), and the ordered cum-sum window runs on that
    bounded table — never on the input."""
    d = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    g = d.groupBy("score").agg(
        F.sum("y").alias("pos_g"),
        F.sum(1 - F.col("y")).alias("neg_g"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    c = g.select(
        "pos_g",
        "neg_g",
        F.coalesce(F.sum("neg_g").over(w), F.lit(0)).alias("cum_neg"),
    )
    t = c.agg(
        F.sum(F.col("pos_g") * (2 * F.col("cum_neg") + F.col("neg_g"))).alias("u2"),
        F.sum("pos_g").alias("p"),
        F.sum("neg_g").alias("n"),
    )
    return t.select(
        F.col("p").cast("long").alias("n_pos"),
        F.col("n").cast("long").alias("n_neg"),
        (F.round(F.col("u2") / (2.0 * F.col("p") * F.col("n")), 6) + 0).alias("auc"),
    )


@register(
    "ml_calibration_bins",
    """
    SELECT least(n_chars, 599) // 60 AS bin,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(least(n_chars, 600)) / (600.0 * count(*)), 6) + 0 AS avg_pred,
           round(sum(y) / CAST(count(*) AS DOUBLE), 6) + 0 AS pos_rate,
           round(sum((least(n_chars, 600) - 600 * y)
                     * (least(n_chars, 600) - 600 * y))
                 / (count(*) * 360000.0), 6) + 0 AS brier
    FROM (SELECT n_chars, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
          FROM documents)
    GROUP BY 1
    """,
)
def ml_calibration_bins(spark, sf_dir):
    """Calibration (reliability) bins + per-bin Brier score for the
    monotone length-score p_hat = min(n_chars,600)/600 against
    lang='en': the reliability-diagram table every production scoring
    pipeline emits next to AUC. All aggregation is integer (scaled
    residuals e = min(n_chars,600) - 600*y, so sum(e^2) is an exact
    BIGINT); each output float is a single integer/integer division —
    no partial-sum float drift at any partitioning. Scale shape: one
    partial-aggregable groupBy on a 10-value derived key."""
    d = _t(spark, sf_dir, "documents").select(
        F.col("n_chars"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    s = F.least(F.col("n_chars"), F.lit(600))
    e = s - 600 * F.col("y")
    return (
        d.groupBy(F.expr("least(n_chars, 599) DIV 60").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (F.round(F.sum(s) / (600.0 * F.count(F.lit(1))), 6) + 0).alias("avg_pred"),
            (F.round(F.sum("y") / F.count(F.lit(1)).cast("double"), 6) + 0).alias(
                "pos_rate"
            ),
            (F.round(F.sum(e * e) / (F.count(F.lit(1)) * 360000.0), 6) + 0).alias(
                "brier"
            ),
        )
    )


@register(
    "ml_ridge_regression_normal_eq",
    """
    WITH f AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS x1,
             CAST(round(l_discount * 100) AS BIGINT) AS x2,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    m AS (
      SELECT count(*) AS n, sum(x1) AS sx1, sum(x2) AS sx2, sum(y) AS sy,
             sum(x1 * x1) AS sx11, sum(x1 * x2) AS sx12,
             sum(x2 * x2) AS sx22, sum(x1 * y) AS sx1y, sum(x2 * y) AS sx2y
      FROM f
    ),
    a AS (
      SELECT CAST(n AS BIGINT) AS n,
             CAST(n AS DOUBLE) AS a11, CAST(sx1 AS DOUBLE) AS a12,
             CAST(sx2 AS DOUBLE) AS a13,
             CAST(sx11 AS DOUBLE) + 1000000.0 AS a22,
             CAST(sx12 AS DOUBLE) AS a23,
             CAST(sx22 AS DOUBLE) + 1000000.0 AS a33,
             CAST(sy AS DOUBLE) AS b1, CAST(sx1y AS DOUBLE) AS b2,
             CAST(sx2y AS DOUBLE) AS b3
      FROM m
    )
    SELECT n,
           round((b1*(a22*a33 - a23*a23) - a12*(b2*a33 - a23*b3)
                  + a13*(b2*a23 - a22*b3))
                 / (a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13)
                    + a13*(a12*a23 - a22*a13)), 6) + 0 AS beta0,
           round((a11*(b2*a33 - a23*b3) - b1*(a12*a33 - a23*a13)
                  + a13*(a12*b3 - b2*a13))
                 / (a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13)
                    + a13*(a12*a23 - a22*a13)), 6) + 0 AS beta1,
           round((a11*(a22*b3 - b2*a23) - a12*(a12*b3 - b2*a13)
                  + b1*(a12*a23 - a22*a13))
                 / (a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13)
                    + a13*(a12*a23 - a22*a13)), 6) + 0 AS beta2
    FROM a
    """,
)
def ml_ridge_regression_normal_eq(spark, sf_dir):
    """Closed-form ridge regression (lambda = 1e6 cents^2, intercept
    unpenalized): price-cents ~ quantity + discount-cents on lineitem,
    solved by Cramer's rule on the 3x3 normal equations. The Gramian
    moments are exact BIGINT sums of integer features (cents math), so
    the only floats are the final fixed-shape determinant expressions —
    identical literal arithmetic on both engines, partition-order
    independent. Scale shape: ONE partial-aggregable scan collapses the
    fact table to 9 scalars; the solve is O(1). This is the Gramian
    collapse that makes linear models embarrassingly scalable (the same
    shape ml_pca_power_iteration uses for its covariance)."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_quantity")).cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("sx1"),
        F.sum("x2").alias("sx2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("sx11"),
        F.sum(F.col("x1") * F.col("x2")).alias("sx12"),
        F.sum(F.col("x2") * F.col("x2")).alias("sx22"),
        F.sum(F.col("x1") * F.col("y")).alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).alias("sx2y"),
    )
    a = m.selectExpr(
        "CAST(n AS BIGINT) AS n",
        "CAST(n AS DOUBLE) AS a11",
        "CAST(sx1 AS DOUBLE) AS a12",
        "CAST(sx2 AS DOUBLE) AS a13",
        "CAST(sx11 AS DOUBLE) + 1000000.0 AS a22",
        "CAST(sx12 AS DOUBLE) AS a23",
        "CAST(sx22 AS DOUBLE) + 1000000.0 AS a33",
        "CAST(sy AS DOUBLE) AS b1",
        "CAST(sx1y AS DOUBLE) AS b2",
        "CAST(sx2y AS DOUBLE) AS b3",
    )
    det = (
        "(a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13)"
        " + a13*(a12*a23 - a22*a13))"
    )
    return a.selectExpr(
        "n",
        f"round((b1*(a22*a33 - a23*a23) - a12*(b2*a33 - a23*b3)"
        f" + a13*(b2*a23 - a22*b3)) / {det}, 6) + 0 AS beta0",
        f"round((a11*(b2*a33 - a23*b3) - b1*(a12*a33 - a23*a13)"
        f" + a13*(a12*b3 - b2*a13)) / {det}, 6) + 0 AS beta1",
        f"round((a11*(a22*b3 - b2*a23) - a12*(a12*b3 - b2*a13)"
        f" + b1*(a12*a23 - a22*a13)) / {det}, 6) + 0 AS beta2",
    )


@register(
    "ml_ks_drift",
    """
    WITH g AS (
      SELECT n_chars AS score,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS a_g,
             sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS b_g
      FROM documents GROUP BY n_chars
    ),
    t AS (SELECT sum(a_g) AS na, sum(b_g) AS nb FROM g),
    c AS (
      SELECT score,
             abs(sum(a_g) OVER (ORDER BY score) / CAST(na AS DOUBLE)
                 - sum(b_g) OVER (ORDER BY score) / CAST(nb AS DOUBLE)) AS diff
      FROM g CROSS JOIN t
    ),
    m AS (SELECT max(diff) AS ks FROM c)
    SELECT (SELECT CAST(na AS BIGINT) FROM t) AS n_a,
           (SELECT CAST(nb AS BIGINT) FROM t) AS n_b,
           round(ks, 6) + 0 AS ks_stat,
           CAST(min(score) AS BIGINT) AS ks_at_score
    FROM c CROSS JOIN m WHERE diff = ks
    GROUP BY ks
    """,
)
def ml_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov drift statistic between the
    length distributions of en vs non-en documents: max CDF gap plus
    the score where it occurs — the standard distribution-shift screen
    between data slices (train vs serve, yesterday vs today). Each CDF
    step is an exact integer/integer division, so `diff` is the
    identical double on both engines at any partitioning; max and the
    min-score argmax compare those exact values (no float-sum drift
    anywhere). Scale shape: one partial-aggregable groupBy collapses
    the corpus to |distinct scores| rows; the cumulative windows and
    the argmax run on that bounded candidate table."""
    d = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("a"),
    )
    g = d.groupBy("score").agg(
        F.sum("a").alias("a_g"), F.sum(1 - F.col("a")).alias("b_g")
    )
    t = g.agg(F.sum("a_g").alias("na"), F.sum("b_g").alias("nb"))
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
    c = g.crossJoin(F.broadcast(t)).select(
        "score",
        "na",
        "nb",
        F.abs(
            F.sum("a_g").over(w) / F.col("na").cast("double")
            - F.sum("b_g").over(w) / F.col("nb").cast("double")
        ).alias("diff"),
    )
    m = c.agg(F.max("diff").alias("ks"))
    return (
        c.crossJoin(F.broadcast(m))
        .filter(F.col("diff") == F.col("ks"))
        .groupBy("ks")
        .agg(
            F.max("na").cast("long").alias("n_a"),
            F.max("nb").cast("long").alias("n_b"),
            F.min("score").cast("long").alias("ks_at_score"),
        )
        .select(
            "n_a",
            "n_b",
            (F.round(F.col("ks"), 6) + 0).alias("ks_stat"),
            "ks_at_score",
        )
    )


@register(
    "ml_psi_drift_bins",
    """
    WITH b AS (
      SELECT least(n_chars, 599) // 60 AS bin,
             sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS n_ref,
             sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS n_cur
      FROM documents GROUP BY 1
    ),
    t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM b)
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
           round((n_ref + 1) / CAST(tr + 10 AS DOUBLE), 6) + 0 AS p_ref,
           round((n_cur + 1) / CAST(tc + 10 AS DOUBLE), 6) + 0 AS p_cur,
           round(((n_ref + 1) / CAST(tr + 10 AS DOUBLE)
                  - (n_cur + 1) / CAST(tc + 10 AS DOUBLE))
                 * ln(((n_ref + 1) / CAST(tr + 10 AS DOUBLE))
                      / ((n_cur + 1) / CAST(tc + 10 AS DOUBLE))), 9) + 0
             AS psi_term
    FROM b CROSS JOIN t
    """,
)
def ml_psi_drift_bins(spark, sf_dir):
    """Population Stability Index bins between two deterministic
    corpus halves (even vs odd doc_id — the stand-in for reference vs
    current scoring window): per-bin (p_ref - p_cur) * ln(p_ref/p_cur)
    with add-one (Laplace) smoothing so empty bins stay finite. The
    output is the PER-BIN term table (total PSI = sum of a 10-row
    column the consumer adds up) — emitting terms instead of the
    cross-bin float sum keeps the result bit-stable across engines and
    partitionings; the smoothed ratios are single integer divisions and
    the lone ln() is rounded onto a 1e-9 grid. Scale shape: one
    partial-aggregable groupBy on a 10-value derived key + a broadcast
    1-row total."""
    d = _t(spark, sf_dir, "documents").select(
        F.expr("least(n_chars, 599) DIV 60").alias("bin"),
        F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0).alias("r"),
    )
    b = d.groupBy("bin").agg(
        F.sum("r").alias("n_ref"), F.sum(1 - F.col("r")).alias("n_cur")
    )
    t = b.agg(F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc"))
    pr = (F.col("n_ref") + 1) / (F.col("tr") + 10).cast("double")
    pc = (F.col("n_cur") + 1) / (F.col("tc") + 10).cast("double")
    return b.crossJoin(F.broadcast(t)).select(
        F.col("bin").cast("long").alias("bin"),
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        (F.round(pr, 6) + 0).alias("p_ref"),
        (F.round(pc, 6) + 0).alias("p_cur"),
        (F.round((pr - pc) * F.log(pr / pc), 9) + 0).alias("psi_term"),
    )


# DCG gain weights: round(1e9 / log2(i+1)) for rank i = 1..10, and
# their prefix sums (the ideal DCG for n relevant docs, n <= 10).
# Inlined as literal BIGINTs in BOTH engines so no libm call happens at
# run time (every checked value is >= 0.07 from a rounding boundary).
_DCG_W = [
    1000000000, 630929754, 500000000, 430676558, 386852807,
    356207187, 333333333, 315464877, 301029996, 289064826,
]


_DCG_PREFIX = [
    1000000000, 1630929754, 2130929754, 2561606312, 2948459119,
    3304666306, 3637999639, 3953464516, 4254494512, 4543559338,
]


_W_SQL = "[" + ", ".join(str(x) for x in _DCG_W) + "]"


_PREFIX_SQL = "[" + ", ".join(str(x) for x in _DCG_PREFIX) + "]"


_W_SPARK = "array(" + ", ".join(f"{x}L" for x in _DCG_W) + ")"


_PREFIX_SPARK = "array(" + ", ".join(f"{x}L" for x in _DCG_PREFIX) + ")"


@register(
    "ml_ndcg_at_k",
    f"""
    WITH base AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv
          FROM base WHERE vec_id < 20),
    nrel AS (
      SELECT q.query_id, count(*) AS n_rel
      FROM q JOIN base b ON b.label = q.qlabel AND b.vec_id <> q.query_id
      GROUP BY q.query_id
    ),
    scored AS (
      SELECT query_id, qlabel, b.vec_id AS neighbor_id, b.label,
             round(list_dot_product(qv, v)
                   / (sqrt(list_dot_product(qv, qv))
                      * sqrt(list_dot_product(v, v))), 4) AS sim
      FROM q, base b WHERE b.vec_id <> query_id
    ),
    ranked AS (
      SELECT query_id, qlabel, label,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id ASC) AS rnk
      FROM scored
    ),
    dcg AS (
      SELECT query_id, qlabel,
             sum(CASE WHEN label = qlabel
                      THEN ({_W_SQL})[rnk] ELSE 0 END) AS dcg_scaled
      FROM ranked WHERE rnk <= 10 GROUP BY query_id, qlabel
    )
    SELECT d.query_id, CAST(d.qlabel AS BIGINT) AS label,
           CAST(n.n_rel AS BIGINT) AS n_rel,
           round(d.dcg_scaled
                 / CAST(({_PREFIX_SQL})[least(n.n_rel, 10)] AS DOUBLE), 6) + 0
             AS ndcg
    FROM dcg d JOIN nrel n USING (query_id)
    """,
)
def ml_ndcg_at_k(spark, sf_dir):
    """Exact NDCG@10 of cosine retrieval over the embedding corpus,
    with same-label as the (binary) relevance judgment — the graded
    ranking-quality metric for the engine's similarity-search stack
    (the companion to llm_knn_label_accuracy's hit-rate). Gains fold as
    integer-scaled BIGINT weights (the 1e9/log2 table above), ideal DCG
    is a prefix-sum lookup on least(n_rel, 10), and the only float ops
    are the 4dp-rounded cosine (norms precomputed, never re-folded per
    pair) and the final scaled division — engine- and partition-order
    exact. Scale shape: the 20-query panel broadcasts against a single
    corpus scan; per-query top-10 is a group-limit window; n_rel rides
    the same broadcast join."""
    base = (
        _t(spark, sf_dir, "embeddings")
        .select("vec_id", "label", _as_double(F.col("embedding")).alias("v"))
        .withColumn("nrm", norm(F.col("v")))
    )
    q = base.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    nrel = (
        base.join(
            F.broadcast(q),
            (F.col("label") == F.col("qlabel")) & (F.col("vec_id") != F.col("query_id")),
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_rel"))
    )
    scored = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "qlabel",
            F.col("vec_id").alias("neighbor_id"),
            "label",
            F.round(
                dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")), 4
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    dcg = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .groupBy("query_id", "qlabel")
        .agg(
            F.sum(
                F.when(
                    F.col("label") == F.col("qlabel"),
                    F.expr(f"element_at({_W_SPARK}, rnk)"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("dcg_scaled")
        )
    )
    return (
        dcg.join(nrel, "query_id")
        .select(
            "query_id",
            F.col("qlabel").cast("long").alias("label"),
            F.col("n_rel").cast("long").alias("n_rel"),
            (
                F.round(
                    F.col("dcg_scaled")
                    / F.expr(
                        f"CAST(element_at({_PREFIX_SPARK},"
                        f" CAST(least(n_rel, 10) AS INT)) AS DOUBLE)"
                    ),
                    6,
                )
                + 0
            ).alias("ndcg"),
        )
    )


@register(
    "ml_spearman_corr",
    """
    WITH r AS (
      SELECT l_returnflag AS flag,
             2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
               + count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1 AS rx2,
             2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
               + count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1 AS ry2
      FROM lineitem
    ),
    s AS (
      SELECT flag, count(*) AS n,
             sum(rx2) AS sx, sum(ry2) AS sy,
             sum(rx2 * ry2) AS sxy, sum(rx2 * rx2) AS sxx, sum(ry2 * ry2) AS syy
      FROM r GROUP BY flag
    )
    SELECT flag, CAST(n AS BIGINT) AS n,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
                 6) + 0 AS spearman
    FROM s
    """,
)
def ml_spearman_corr(spark, sf_dir):
    """Spearman rank correlation (with ties) between quantity and
    price per returnflag: fractional average ranks are pre-scaled to
    exact integers (2*avg_rank = 2*rank + tie_count - 1 is always a
    BIGINT — the doubling removes the .5s), so every cross-row sum in
    the Pearson-on-ranks formula is an exact integer sum — accumulated
    as DECIMAL(38,0) on the Spark side / HUGEINT on DuckDB, because
    sums of rank squares (~4n^3) blow past BIGINT near 1M rows per
    group (the 10x replica proved it with an ANSI overflow); the single
    float expression at the end consumes those exact integers and is
    therefore the identical double on both engines at any partition
    order, rounded onto a 1e-6 grid. The scale-factor-invariant
    constant 2 cancels in the correlation. Scale shape: two sorted
    windows per group key (rank assignment) + one partial-aggregable
    groupBy; rank() over a hash-partitioned window is the standard
    distributed ranking plan — no driver collection, no sampling.
    Reference analog: none (its stats stop at avg/min/max,
    project/db.py:315-341); this is the monotonic-association screen a
    telemetry fleet runs between sensor channels."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"), "l_quantity", "l_extendedprice"
    )
    wq = Window.partitionBy("flag").orderBy("l_quantity")
    wqt = Window.partitionBy("flag", "l_quantity")
    wp = Window.partitionBy("flag").orderBy("l_extendedprice")
    wpt = Window.partitionBy("flag", "l_extendedprice")
    r = li.select(
        "flag",
        (2 * F.rank().over(wq) + F.count(F.lit(1)).over(wqt) - 1).alias("rx2"),
        (2 * F.rank().over(wp) + F.count(F.lit(1)).over(wpt) - 1).alias("ry2"),
    )
    # sums of rank squares exceed BIGINT beyond ~1M rows/group (rank^2
    # ~ 4n^2); accumulate in DECIMAL(38,0) — exact like DuckDB's
    # HUGEINT sum — and only convert to double in the final formula
    dec = "decimal(38,0)"
    s = r.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rx2").cast(dec)).alias("sx"),
        F.sum(F.col("ry2").cast(dec)).alias("sy"),
        F.sum((F.col("rx2") * F.col("ry2")).cast(dec)).alias("sxy"),
        F.sum((F.col("rx2") * F.col("rx2")).cast(dec)).alias("sxx"),
        F.sum((F.col("ry2") * F.col("ry2")).cast(dec)).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    return s.select(
        "flag",
        F.col("n").cast("long").alias("n"),
        (
            F.round(
                (n * F.col("sxy").cast("double") - sx * sy)
                / (
                    F.sqrt(n * F.col("sxx").cast("double") - sx * sx)
                    * F.sqrt(n * F.col("syy").cast("double") - sy * sy)
                ),
                6,
            )
            + 0
        ).alias("spearman"),
    )


@register(
    "ml_lift_gains",
    """
    WITH scored AS (
      SELECT n_chars AS score, doc_id,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM documents
    ),
    deciled AS (
      SELECT pos, ntile(10) OVER (ORDER BY score DESC, doc_id ASC) AS decile
      FROM scored
    ),
    per AS (
      SELECT decile, count(*) AS n, sum(pos) AS n_pos
      FROM deciled GROUP BY decile
    ),
    tot AS (SELECT sum(n) AS tn, sum(n_pos) AS tp FROM per)
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
           CAST(sum(n_pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos,
           round(CAST(sum(n_pos) OVER (ORDER BY decile) AS DOUBLE)
                 / CAST(tp AS DOUBLE), 6) + 0 AS cum_gain,
           round((CAST(sum(n_pos) OVER (ORDER BY decile) AS DOUBLE)
                  / CAST(sum(n) OVER (ORDER BY decile) AS DOUBLE))
                 / (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)), 6) + 0 AS cum_lift
    FROM per CROSS JOIN tot
    """,
)
def ml_lift_gains(spark, sf_dir):
    """Cumulative gains / lift table at score deciles — the
    decile-ranked companion to ml_roc_auc and ml_calibration_bins
    (score = n_chars as the stand-in classifier for lang='en'):
    rows sorted by score into ntile(10) buckets with a deterministic
    (score DESC, doc_id ASC) tiebreak, then per-decile positives,
    cumulative gain (share of all positives captured) and cumulative
    lift (precision so far / base rate). Every reduction is an integer
    count; the gains/lift divisions consume exact BIGINTs, so both
    engines emit identical doubles on the 1e-6 grid. Scale shape: the
    global ntile is one sorted range-partitioned pass (Spark plans a
    single rangepartitioning exchange — the same machinery as a global
    sort, viable because ranking reads each row once); everything
    after runs on 10 rows. At 100 TB the swap-in is the documented
    approx_percentile cut-point variant; this entry keeps the exact
    semantics the oracle can pin."""
    d = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("score"),
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    deciled = d.select(
        "pos",
        F.ntile(10)
        .over(Window.orderBy(F.col("score").desc(), F.col("doc_id").asc()))
        .alias("decile"),
    )
    per = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").alias("n_pos")
    )
    tot = per.agg(F.sum("n").alias("tn"), F.sum("n_pos").alias("tp"))
    cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("long").alias("decile"),
            F.col("n").cast("long").alias("n"),
            F.col("n_pos").cast("long").alias("n_pos"),
            F.sum("n_pos").over(cum).cast("long").alias("cum_pos"),
            (
                F.round(
                    F.sum("n_pos").over(cum).cast("double") / F.col("tp").cast("double"),
                    6,
                )
                + 0
            ).alias("cum_gain"),
            (
                F.round(
                    (
                        F.sum("n_pos").over(cum).cast("double")
                        / F.sum("n").over(cum).cast("double")
                    )
                    / (F.col("tp").cast("double") / F.col("tn").cast("double")),
                    6,
                )
                + 0
            ).alias("cum_lift"),
        )
    )


# deterministic 2-arm split: md5 parity of the user id — portable, and
# the idiom a real platform uses for sticky bucketing
_ARM_SQL = "(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2)"


def _arm_spark():
    return (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 2
    ).alias("arm")


@register(
    "ml_ab_ztest_conversion",
    f"""
    WITH assigned AS (
      SELECT user_id, {_ARM_SQL} AS arm,
             max(CASE WHEN event_type = 'purchase'
                       AND CAST(ts AS DATE) = DATE '2024-01-29'
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT arm, count(*) AS n, sum(converted) AS conv
      FROM assigned GROUP BY arm
    ),
    wide AS (
      SELECT
        max(CASE WHEN arm = 0 THEN n END) AS n0,
        max(CASE WHEN arm = 0 THEN conv END) AS c0,
        max(CASE WHEN arm = 1 THEN n END) AS n1,
        max(CASE WHEN arm = 1 THEN conv END) AS c1
      FROM arms
    )
    SELECT CAST(n0 AS BIGINT) AS n_control, CAST(c0 AS BIGINT) AS conv_control,
           CAST(n1 AS BIGINT) AS n_treat, CAST(c1 AS BIGINT) AS conv_treat,
           round(CAST(c0 AS DOUBLE) / n0, 6) + 0 AS rate_control,
           round(CAST(c1 AS DOUBLE) / n1, 6) + 0 AS rate_treat,
           round((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
                 / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                        * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                        * (1.0 / n0 + 1.0 / n1)), 6) + 0 AS z_stat
    FROM wide
    """,
)
def ml_ab_ztest_conversion(spark, sf_dir):
    """Two-proportion z-test on user conversion (a 'purchase' on the
    experiment day, 2024-01-29 — a single-day metric so both arms keep
    genuine variance; lifetime conversion saturates at 1.0 and the
    pooled standard error degenerates to 0) between two deterministic
    md5-parity arms — the A/B significance readout with
    pooled-variance standard error. Per-user conversion
    collapses with max(), arm totals are exact integer counts, and the
    z statistic is a single scalar formula over four exact BIGINTs —
    identical doubles on both engines at any partition order, rounded
    onto a 1e-6 grid. Scale shape: one partial-aggregable groupBy on
    user_id (the only input-sized shuffle), a 2-row arm rollup, and a
    1-row pivot; at 100 TB this is exactly the nightly-experiment
    scorecard plan — nothing downstream of the first groupBy sees more
    than |users| rows."""
    assigned = (
        _t(spark, sf_dir, "events")
        .select(
            "user_id",
            _arm_spark(),
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts").cast("date") == F.lit("2024-01-29").cast("date")),
                1,
            )
            .otherwise(0)
            .alias("cv"),
        )
        .groupBy("user_id", "arm")
        .agg(F.max("cv").alias("converted"))
    )
    arms = assigned.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("conv")
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("conv"))).alias("c0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("conv"))).alias("c1"),
    )
    n0 = F.col("n0").cast("double")
    c0 = F.col("c0").cast("double")
    n1 = F.col("n1").cast("double")
    c1 = F.col("c1").cast("double")
    pooled = (c0 + c1) / (n0 + n1)
    return wide.select(
        F.col("n0").cast("long").alias("n_control"),
        F.col("c0").cast("long").alias("conv_control"),
        F.col("n1").cast("long").alias("n_treat"),
        F.col("c1").cast("long").alias("conv_treat"),
        (F.round(c0 / n0, 6) + 0).alias("rate_control"),
        (F.round(c1 / n1, 6) + 0).alias("rate_treat"),
        (
            F.round(
                (c1 / n1 - c0 / n0)
                / F.sqrt(pooled * (1 - pooled) * (F.lit(1.0) / n0 + F.lit(1.0) / n1)),
                6,
            )
            + 0
        ).alias("z_stat"),
    )


@register(
    "ml_welch_ttest",
    """
    WITH v AS (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    m AS (
      SELECT grp, count(*) AS n, sum(cents) AS s,
             sum(cents * cents) AS ss
      FROM v GROUP BY grp
    ),
    wide AS (
      SELECT
        max(CASE WHEN grp = 0 THEN n END) AS n0,
        max(CASE WHEN grp = 0 THEN CAST(s AS DOUBLE) END) AS s0,
        max(CASE WHEN grp = 0 THEN CAST(ss AS DOUBLE) END) AS ss0,
        max(CASE WHEN grp = 1 THEN n END) AS n1,
        max(CASE WHEN grp = 1 THEN CAST(s AS DOUBLE) END) AS s1,
        max(CASE WHEN grp = 1 THEN CAST(ss AS DOUBLE) END) AS ss1
      FROM m
    )
    SELECT CAST(n0 AS BIGINT) AS n_low, CAST(n1 AS BIGINT) AS n_high,
           round(s0 / n0 / 100, 6) + 0 AS mean_low,
           round(s1 / n1 / 100, 6) + 0 AS mean_high,
           round((s1 / n1 - s0 / n0)
                 / sqrt(((ss0 - s0 * s0 / n0) / (n0 - 1)) / n0
                        + ((ss1 - s1 * s1 / n1) / (n1 - 1)) / n1)
                 , 6) + 0 AS t_stat,
           round(pow(((ss0 - s0 * s0 / n0) / (n0 - 1)) / n0
                     + ((ss1 - s1 * s1 / n1) / (n1 - 1)) / n1, 2)
                 / (pow(((ss0 - s0 * s0 / n0) / (n0 - 1)) / n0, 2) / (n0 - 1)
                    + pow(((ss1 - s1 * s1 / n1) / (n1 - 1)) / n1, 2) / (n1 - 1))
                 , 4) + 0 AS welch_df
    FROM wide
    """,
)
def ml_welch_ttest(spark, sf_dir):
    """Welch's unequal-variance t-test on order value between priority
    segments (urgent/high vs rest), with the Welch-Satterthwaite
    degrees of freedom. Order values reduce as exact integer-cent sums
    and sums of squares (DECIMAL(38,0) on Spark / HUGEINT on DuckDB —
    cents^2 is ~2.5e15 per row, past BIGINT within thousands of rows),
    so the t statistic
    and df are single scalar formulas over exact integers — identical
    doubles cross-engine at any partitioning, on 1e-6/1e-4 grids. The
    mean/variance terms mirror ml_ks_drift's slice-comparison role for
    the CONTINUOUS-metric case. Scale shape: one partial-aggregable
    groupBy collapsing the fact table to two moment rows; the test
    itself runs on a 1-row pivot. Reference analog: none
    (project/db.py:315-341 stops at avg/min/max)."""
    v = _t(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    # cents^2 sums pass BIGINT range immediately (5e7 cents squared is
    # 2.5e15/row); accumulate in DECIMAL(38,0), exact like the oracle's
    # HUGEINT — the ml_spearman_corr overflow lesson applied up front
    m = v.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum((F.col("cents") * F.col("cents")).cast("decimal(38,0)")).alias("ss"),
    )
    wide = m.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("grp") == 0, F.col("s").cast("double"))).alias("s0"),
        F.max(F.when(F.col("grp") == 0, F.col("ss").cast("double"))).alias("ss0"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == 1, F.col("s").cast("double"))).alias("s1"),
        F.max(F.when(F.col("grp") == 1, F.col("ss").cast("double"))).alias("ss1"),
    )
    n0 = F.col("n0").cast("double")
    n1 = F.col("n1").cast("double")
    s0, ss0, s1, ss1 = F.col("s0"), F.col("ss0"), F.col("s1"), F.col("ss1")
    se0 = ((ss0 - s0 * s0 / n0) / (n0 - 1)) / n0
    se1 = ((ss1 - s1 * s1 / n1) / (n1 - 1)) / n1
    return wide.select(
        F.col("n0").cast("long").alias("n_low"),
        F.col("n1").cast("long").alias("n_high"),
        (F.round(s0 / n0 / 100, 6) + 0).alias("mean_low"),
        (F.round(s1 / n1 / 100, 6) + 0).alias("mean_high"),
        (F.round((s1 / n1 - s0 / n0) / F.sqrt(se0 + se1), 6) + 0).alias("t_stat"),
        (
            F.round(
                F.pow(se0 + se1, 2)
                / (F.pow(se0, 2) / (n0 - 1) + F.pow(se1, 2) / (n1 - 1)),
                4,
            )
            + 0
        ).alias("welch_df"),
    )


@register(
    "ml_mann_whitney_u",
    """
    WITH v AS (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    r AS (
      SELECT grp,
             2 * rank() OVER (ORDER BY cents)
               + count(*) OVER (PARTITION BY cents) - 1 AS rr2
      FROM v
    ),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS tc
      FROM v GROUP BY cents HAVING count(*) > 1
    ),
    s AS (
      SELECT CAST(sum(CASE WHEN grp = 1 THEN rr2 ELSE 0 END) AS DOUBLE) AS r1_2,
             CAST(sum(grp) AS BIGINT) AS n1,
             CAST(count(*) AS BIGINT) AS n
      FROM r
    ),
    tie AS (SELECT CAST(coalesce(sum(tc * tc * tc - tc), 0) AS DOUBLE) AS tsum FROM t)
    SELECT n1, n - n1 AS n0,
           round(r1_2 / 2 - CAST(n1 * (n1 + 1) AS DOUBLE) / 2, 1) + 0 AS u_stat,
           round(((r1_2 / 2 - CAST(n1 * (n1 + 1) AS DOUBLE) / 2)
                  - CAST(n1 * (n - n1) AS DOUBLE) / 2)
                 / sqrt(CAST(n1 * (n - n1) AS DOUBLE) / 12
                        * ((n + 1) - tsum / (CAST(n AS DOUBLE) * (n - 1)))), 6) + 0
             AS z_stat
    FROM s CROSS JOIN tie
    """,
)
def ml_mann_whitney_u(spark, sf_dir):
    """Mann-Whitney U (Wilcoxon rank-sum) between the order-priority
    segments — the nonparametric sibling of ml_welch_ttest, with the
    normal approximation's tie-corrected variance. Tie-averaged ranks
    are pre-scaled to exact integers (the ml_spearman_corr trick:
    2*avg_rank = 2*rank + tie_count - 1), the rank sum and the
    tie-correction sum(t^3 - t) reduce as exact integer sums, and U
    plus the z statistic are single scalar formulas over those exact
    values — identical doubles cross-engine at any partition order.
    Scale shape: the doubled tie-averaged rank is a function of cents
    alone (rr2 = 2*prefix_count_below + tc + 1), so instead of a
    global rank window (an Exchange SinglePartition sort over every
    order row) it reads a partial-aggregable (cents, tc, c1) rollup
    through the distributed prefix sum (llm/prep.with_running_total),
    whose bucket totals come straight off the order scan. The grouped
    rank sum sum(c1 * rr2) equals the per-row sum exactly (integer
    arithmetic in DECIMAL(38,0)), and sum(tc^3 - tc) needs no tc>1
    filter (singleton terms are identically zero).
    Reference analog: none."""
    v = _t(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    roll = v.groupBy("cents").agg(
        F.count(F.lit(1)).alias("tc"), F.sum("grp").alias("c1")
    )
    cum = with_running_total(
        roll,
        "cents",
        "tc",
        out_col="cum",
        totals_from=v.select("cents", F.lit(1).alias("tc")),
    ).select("tc", "c1", (F.col("cum") - F.col("tc")).alias("before"))
    # rank sums and tc^3 exceed BIGINT once a group passes ~2M ties /
    # ~1.5e9 rows (ANSI Spark errors; DuckDB silently promotes to
    # HUGEINT) — accumulate in DECIMAL(38,0) like ml_spearman_corr and
    # only convert to double in the final scalar formula
    dec = "decimal(38,0)"
    # rr2 = 2*rank + tc - 1 with rank = prefix_count_below + 1
    rr2 = (2 * F.col("before") + F.col("tc") + 1).cast(dec)
    tcd = F.col("tc").cast(dec)
    s = cum.agg(
        F.sum(F.col("c1").cast(dec) * rr2).cast("double").alias("r1_2"),
        F.sum("c1").cast("long").alias("n1"),
        F.sum("tc").cast("long").alias("n"),
        F.coalesce(F.sum(tcd * tcd * tcd - tcd), F.lit(0).cast(dec))
        .cast("double")
        .alias("tsum"),
    )
    n1 = F.col("n1")
    n = F.col("n")
    u = F.col("r1_2") / 2 - (n1 * (n1 + 1)).cast("double") / 2
    var = (n1 * (n - n1)).cast("double") / 12 * (
        (n + 1) - F.col("tsum") / (n.cast("double") * (n - 1))
    )
    return s.select(
        "n1",
        (n - n1).alias("n0"),
        (F.round(u, 1) + 0).alias("u_stat"),
        (
            F.round((u - (n1 * (n - n1)).cast("double") / 2) / F.sqrt(var), 6) + 0
        ).alias("z_stat"),
    )


# --- SQL-native ML: gradient-boosted stumps (2 rounds, integer state) -------


def _tdiv(a: int, b: int) -> int:
    """Integer division truncating toward zero — the exact semantics
    of Spark SQL's `div` on DECIMAL/BIGINT (BigDecimal
    divideToIntegralValue), which Python's flooring `//` does NOT
    match for a negative dividend. Residual sums can be negative, so
    the leaf means must truncate, not floor."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _fit_stump_rows(stats, adj):
    """Best depth-1 split on the per-value sufficient statistics
    `stats` = ascending-q list of (q, nv, s_cents), given `adj(q)` =
    the model's current per-q prediction (f0 + already-fitted
    leaves). Every quantity is an exact Python int (unbounded —
    mirrors the DECIMAL(38,0)/HUGEINT accumulators of the oracle);
    the ONLY doubles are the variance-reduction scores, computed by
    the identical fixed IEEE formula the relational form used
    (float() of an exact int is correctly rounded, * and / are IEEE
    754 — bit-equal to CAST(decimal AS DOUBLE) arithmetic in both
    engines). Argmax tiebreak: score DESC, q ASC, like the oracle's
    ORDER BY ... LIMIT 1. Returns (t, w_lo, w_hi) with truncated-mean
    integer leaves via `_tdiv`."""
    nt = sum(nv for _, nv, _ in stats)
    st = sum(s1 - nv * adj(q) for q, nv, s1 in stats)
    nl = 0
    sl = 0
    best = None  # (score, q, sl, nl)
    for q, nv, s1 in stats:
        nl += nv
        sl += s1 - nv * adj(q)
        if nl < nt:
            sl_d = float(sl)
            sr_d = float(st - sl)
            score = sl_d * sl_d / nl + sr_d * sr_d / (nt - nl)
            if best is None or score > best[0] or (
                score == best[0] and q < best[1]
            ):
                best = (score, q, sl, nl)
    _, t, sl, nl = best
    return t, _tdiv(sl, nl), _tdiv(st - sl, nt - nl)


@register(
    "ml_gbt_stumps",
    """
    WITH y AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      FROM lineitem
    ),
    t0 AS (SELECT count(*) AS n, sum(cents) AS s FROM y),
    base AS (SELECT CAST(s // n AS BIGINT) AS f0, CAST(n AS BIGINT) AS n FROM t0),
    r1 AS (SELECT q, cents - base.f0 AS r FROM y CROSS JOIN base),
    pv1 AS (SELECT q, count(*) AS nv, sum(r) AS sv FROM r1 GROUP BY q),
    tt1 AS (SELECT sum(nv) AS nt, sum(sv) AS st FROM pv1),
    cum1 AS (SELECT q, sum(nv) OVER w AS nl, sum(sv) OVER w AS sl FROM pv1
             WINDOW w AS (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW)),
    sc1 AS (SELECT q, nl, sl, nt - nl AS nr, st - sl AS sr,
                   CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / nl
                 + CAST(st - sl AS DOUBLE) * CAST(st - sl AS DOUBLE) / (nt - nl)
                     AS score
            FROM cum1 CROSS JOIN tt1 WHERE nl < nt),
    b1 AS (SELECT CAST(q AS BIGINT) AS t1,
                  CAST(sl // nl AS BIGINT) AS w1_lo,
                  CAST(sr // nr AS BIGINT) AS w1_hi
           FROM sc1 ORDER BY score DESC, q ASC LIMIT 1),
    r2 AS (SELECT q, r - CASE WHEN q <= b1.t1 THEN b1.w1_lo
                              ELSE b1.w1_hi END AS r
           FROM r1 CROSS JOIN b1),
    pv2 AS (SELECT q, count(*) AS nv, sum(r) AS sv FROM r2 GROUP BY q),
    tt2 AS (SELECT sum(nv) AS nt, sum(sv) AS st FROM pv2),
    cum2 AS (SELECT q, sum(nv) OVER w AS nl, sum(sv) OVER w AS sl FROM pv2
             WINDOW w AS (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW)),
    sc2 AS (SELECT q, nl, sl, nt - nl AS nr, st - sl AS sr,
                   CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / nl
                 + CAST(st - sl AS DOUBLE) * CAST(st - sl AS DOUBLE) / (nt - nl)
                     AS score
            FROM cum2 CROSS JOIN tt2 WHERE nl < nt),
    b2 AS (SELECT CAST(q AS BIGINT) AS t2,
                  CAST(sl // nl AS BIGINT) AS w2_lo,
                  CAST(sr // nr AS BIGINT) AS w2_hi
           FROM sc2 ORDER BY score DESC, q ASC LIMIT 1),
    r3 AS (SELECT r2.q, r2.r - CASE WHEN r2.q <= b2.t2 THEN b2.w2_lo
                                    ELSE b2.w2_hi END AS r
           FROM r2 CROSS JOIN b2),
    fin AS (SELECT sum(r * r) AS sse, count(*) AS n FROM r3)
    SELECT base.f0, b1.t1, b1.w1_lo, b1.w1_hi, b2.t2, b2.w2_lo, b2.w2_hi,
           CAST(fin.n AS BIGINT) AS n,
           CAST(fin.sse AS DOUBLE) / fin.n AS mse
    FROM base CROSS JOIN b1 CROSS JOIN b2 CROSS JOIN fin
    """,
)
def ml_gbt_stumps(spark, sf_dir):
    """Gradient boosting, two rounds of depth-1 regression stumps
    (price-cents on quantity, squared loss): f0 = truncated global
    mean; each round fits the best variance-reduction split on the
    EXACT integer residuals and adds truncated-mean integer leaves —
    the additive-ensemble training loop of the reference's LightGBM
    family (project/database_and_model_tools.py M2) as pure relational
    algebra. The all-integer state (DECIMAL(38,0) sums, integer div
    leaves) makes both engines walk bit-identical trajectories with NO
    rounding pins: the only doubles are the split scores, computed by
    one fixed IEEE formula over exact integers, and the final MSE.
    Scale shape (r14 session 2): because every boosting update is
    CONSTANT WITHIN a q-group (f0 and each leaf depend on q alone),
    the per-q table (q, count, sum(cents), sum(cents^2)) is a
    sufficient statistic for the ENTIRE training trajectory —
    per-q residual sums are sum(cents) - count*pred(q) and the final
    SSE is sum(cents^2) - 2*pred(q)*sum(cents) + count*pred(q)^2,
    all exact integer identities. So the whole entry is ONE
    partial-aggregable scan collapsing the facts to |distinct q| rows
    (50 here — the quantity domain; quantile-binned to 256 at 100 TB),
    a bounded 50-row collect (model-sized, the k-core stats-loop
    doctrine), and pure exact-integer arithmetic on the driver; the
    result returns as a literal 1-row frame with zero scans in the
    residual plan. The r13 shape paid FOUR full scans (f0 aggregate,
    two stump fits, final SSE) for the same numbers — A/B at sf0.1:
    1.463 s -> 0.504 s min over 5 interleaved reps, outputs
    bit-identical (mse compared by IEEE bit pattern) at all three
    SFs. Doubles appear only where they always did — the split score
    and the final MSE, fixed IEEE formulas over exact integers
    (float(int) is correctly rounded, exactly like CAST(decimal AS
    DOUBLE)) — so cross-engine parity is untouched."""
    li = _t(spark, sf_dir, "lineitem")
    y = li.select(
        F.col("l_quantity").cast("long").alias("q"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    c_dec = F.col("cents").cast(_DEC)
    rows = y.groupBy("q").agg(
        F.count(F.lit(1)).cast("long").alias("nv"),
        F.sum(c_dec).alias("s1"),
        F.sum(c_dec * c_dec).alias("s2"),
    ).collect()  # bounded: |distinct l_quantity| = 50
    stats = sorted((int(r["q"]), int(r["nv"]), int(r["s1"])) for r in rows)
    s2m = {int(r["q"]): int(r["s2"]) for r in rows}
    n = sum(nv for _, nv, _ in stats)
    f0 = sum(s1 for _, _, s1 in stats) // n  # trunc == floor: sums > 0
    t1, w1_lo, w1_hi = _fit_stump_rows(stats, lambda q: f0)

    def adj1(q: int) -> int:
        return f0 + (w1_lo if q <= t1 else w1_hi)

    t2, w2_lo, w2_hi = _fit_stump_rows(stats, adj1)

    def pred(q: int) -> int:
        return adj1(q) + (w2_lo if q <= t2 else w2_hi)

    sse = sum(
        s2m[q] - 2 * pred(q) * s1 + nv * pred(q) * pred(q)
        for q, nv, s1 in stats
    )
    return spark.range(1).select(
        F.lit(f0).cast("long").alias("f0"),
        F.lit(t1).cast("long").alias("t1"),
        F.lit(w1_lo).cast("long").alias("w1_lo"),
        F.lit(w1_hi).cast("long").alias("w1_hi"),
        F.lit(t2).cast("long").alias("t2"),
        F.lit(w2_lo).cast("long").alias("w2_lo"),
        F.lit(w2_hi).cast("long").alias("w2_hi"),
        F.lit(n).cast("long").alias("n"),
        F.lit(float(sse) / n).cast("double").alias("mse"),
    )


# --- survival analysis: Kaplan-Meier product-limit estimator ----------------


@register(
    "ml_kaplan_meier",
    """
    WITH RECURSIVE ue AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN CAST(ts AS DATE) END) AS tv,
             min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END)
               AS tp_any
      FROM events GROUP BY user_id
    ),
    tend AS (SELECT max(CAST(ts AS DATE)) AS te FROM events),
    obs AS (
      SELECT CASE WHEN tp_any IS NOT NULL AND tp_any >= tv
                  THEN CAST(tp_any - tv AS BIGINT)
                  ELSE CAST(te - tv AS BIGINT) END AS t,
             CASE WHEN tp_any IS NOT NULL AND tp_any >= tv
                  THEN 1 ELSE 0 END AS ev
      FROM ue CROSS JOIN tend WHERE tv IS NOT NULL
    ),
    tot AS (SELECT count(*) AS n_total FROM obs),
    by_t AS (SELECT t, CAST(sum(ev) AS BIGINT) AS d,
                    CAST(count(*) AS BIGINT) AS a
             FROM obs GROUP BY t),
    risk AS (
      SELECT t, d,
             CAST(n_total - coalesce(sum(a) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n
      FROM by_t CROSS JOIN tot
    ),
    steps AS (SELECT t, d, n, row_number() OVER (ORDER BY t) AS rn
              FROM risk WHERE d > 0),
    km AS (
      SELECT rn, t, d, n,
             CAST(n - d AS DOUBLE) / CAST(n AS DOUBLE) AS s
      FROM steps WHERE rn = 1
      UNION ALL
      SELECT st.rn, st.t, st.d, st.n,
             km.s * (CAST(st.n - st.d AS DOUBLE) / CAST(st.n AS DOUBLE))
      FROM km JOIN steps st ON st.rn = km.rn + 1
    )
    SELECT t AS day_t, d AS n_events, n AS n_at_risk, s + 0 AS survival
    FROM km
    """,
)
def ml_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier product-limit survival curve for time from a
    user's first view to first purchase, right-censored at the end of
    observation — the nonparametric time-to-event estimator
    (churn/conversion-latency analysis), a family the SQL-ML suite
    lacked. Exactness: event/censor day offsets, death counts d_i and
    risk sets n_i are ALL exact integers (one user-keyed groupBy, one
    t-keyed groupBy, one running-sum window); the survival product is
    a sequential fold over the <=|days| step rows — Spark walks it as
    a single-row array aggregate(), DuckDB as a recursive CTE, the
    SAME multiply/divide tree in the same order, so the doubles match
    bitwise and ship unrounded (the ext_holt_linear doctrine). Scale
    shape: the only data-sized work is the first groupBy(user_id)
    (partial-aggregable); everything after runs on calendar-bounded
    tables. Reference analog: none."""
    e = _t(spark, sf_dir, "events")
    ue = e.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts").cast("date"))
        ).alias("tv"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts").cast("date"))
        ).alias("tp_any"),
    )
    tend = e.agg(F.max(F.col("ts").cast("date")).alias("te"))
    has_event = F.col("tp_any").isNotNull() & (F.col("tp_any") >= F.col("tv"))
    obs = (
        ue.filter(F.col("tv").isNotNull())
        .crossJoin(F.broadcast(tend))
        .select(
            F.when(has_event, F.datediff("tp_any", "tv"))
            .otherwise(F.datediff("te", "tv"))
            .cast("long")
            .alias("t"),
            F.when(has_event, 1).otherwise(0).alias("ev"),
        )
    )
    tot = obs.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    by_t = obs.groupBy("t").agg(
        F.sum("ev").cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("a"),
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = by_t.crossJoin(F.broadcast(tot)).select(
        "t",
        "d",
        (F.col("n_total") - F.coalesce(F.sum("a").over(w), F.lit(0)))
        .cast("long")
        .alias("n"),
    )
    steps = risk.filter(F.col("d") > 0)
    folded = steps.agg(
        F.array_sort(F.collect_list(F.struct("t", "d", "n"))).alias("s")
    ).select(
        F.expr(
            """
            aggregate(
              slice(s, 2, greatest(size(s) - 1, 0)),
              array(named_struct(
                't', element_at(s, 1).t, 'd', element_at(s, 1).d,
                'n', element_at(s, 1).n,
                'surv', CAST(element_at(s, 1).n - element_at(s, 1).d AS DOUBLE)
                        / CAST(element_at(s, 1).n AS DOUBLE))),
              (acc, e) -> array_append(acc, named_struct(
                't', e.t, 'd', e.d, 'n', e.n,
                'surv', element_at(acc, -1).surv
                        * (CAST(e.n - e.d AS DOUBLE) / CAST(e.n AS DOUBLE))))
            ) AS states
            """
        )
    )
    st = folded.select(F.explode("states").alias("st"))
    return st.select(
        F.col("st.t").alias("day_t"),
        F.col("st.d").alias("n_events"),
        F.col("st.n").alias("n_at_risk"),
        (F.col("st.surv") + 0).alias("survival"),
    )


# --- quantile-forecast evaluation: pinball (quantile) loss ------------------


@register(
    "ml_quantile_pinball_eval",
    """
    WITH y AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    fc AS (
      SELECT event_type,
             CAST(round(quantile_cont(cents, 0.1)) AS BIGINT) AS f1,
             CAST(round(quantile_cont(cents, 0.5)) AS BIGINT) AS f5,
             CAST(round(quantile_cont(cents, 0.9)) AS BIGINT) AS f9
      FROM y GROUP BY event_type
    ),
    terms AS (
      SELECT y.event_type, q10,
             CASE q10 WHEN 1 THEN greatest(1 * (cents - f1),
                                           (1 - 10) * (cents - f1))
                      WHEN 5 THEN greatest(5 * (cents - f5),
                                           (5 - 10) * (cents - f5))
                      ELSE greatest(9 * (cents - f9),
                                    (9 - 10) * (cents - f9)) END AS t10
      FROM y JOIN fc USING (event_type)
      CROSS JOIN (SELECT unnest([1, 5, 9]) AS q10)
    )
    SELECT event_type, CAST(q10 AS BIGINT) AS q10,
           CAST(sum(t10) AS BIGINT) AS loss_sum_e1,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(t10) AS DOUBLE) / (10 * count(*)) AS mean_pinball
    FROM terms GROUP BY event_type, q10
    """,
)
def ml_quantile_pinball_eval(spark, sf_dir):
    """Pinball (quantile) loss evaluation of P10/P50/P90 per-group
    quantile forecasts against the observed cents — the scoring rule
    for quantile-forecast models (SLO latency forecasting, demand
    bands). The forecast is the exact interpolated percentile ROUNDED
    to integer cents, so every per-row loss term is an EXACT integer
    (scaled x10: max(q10*d, (q10-10)*d) with q10 in {1,5,9}); the sums
    are order-independent BIGINTs and only the final mean divides to
    double. In-query invariant: each loss_sum is minimal at its own
    quantile by construction of the estimator (asserted in tests
    against shifted forecasts). Scale shape: one grouped exact
    percentile (partial-aggregable sketch pass), forecasts broadcast
    back, one more partial-aggregable sum — two scans total, no
    window. Reference analog: none (model eval happens offline in
    sklearn there)."""
    e = _t(spark, sf_dir, "events")
    y = e.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    fc = y.groupBy("event_type").agg(
        F.round(F.percentile("cents", F.lit(0.1))).cast("long").alias("f1"),
        F.round(F.percentile("cents", F.lit(0.5))).cast("long").alias("f5"),
        F.round(F.percentile("cents", F.lit(0.9))).cast("long").alias("f9"),
    )
    q = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(5), F.lit(9))).alias("q10")
    )
    joined = y.join(F.broadcast(fc), "event_type").crossJoin(F.broadcast(q))
    d = (
        F.when(F.col("q10") == 1, F.col("cents") - F.col("f1"))
        .when(F.col("q10") == 5, F.col("cents") - F.col("f5"))
        .otherwise(F.col("cents") - F.col("f9"))
    )
    t10 = F.greatest(F.col("q10") * d, (F.col("q10") - 10) * d)
    return joined.groupBy("event_type", "q10").agg(
        F.sum(t10.cast("decimal(38,0)")).cast("long").alias("loss_sum_e1"),
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum(t10.cast("decimal(38,0)")).cast("double") / (10 * F.count(F.lit(1))))
        .alias("mean_pinball"),
    )


# --- isotonic regression (minimax form on the candidate table) --------------


@register(
    "ml_isotonic_regression",
    """
    WITH lab AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    pv AS (SELECT q, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s
           FROM lab GROUP BY q),
    idx AS (SELECT q, n, s, row_number() OVER (ORDER BY q) AS k FROM pv),
    cum AS (SELECT q, k, n, s,
                   sum(n) OVER w AS cn, sum(s) OVER w AS cs
            FROM idx WINDOW w AS (ORDER BY k ROWS BETWEEN UNBOUNDED
                                  PRECEDING AND CURRENT ROW)),
    spans AS (
      SELECT i.k AS i, j.k AS j,
             CAST(j.cs - coalesce(ip.cs, 0) AS DOUBLE)
               / CAST(j.cn - coalesce(ip.cn, 0) AS DOUBLE) AS m
      FROM cum i JOIN cum j ON j.k >= i.k
      LEFT JOIN cum ip ON ip.k = i.k - 1
    ),
    mins AS (SELECT i, min(m) AS mn FROM spans GROUP BY i),
    iso AS (
      SELECT c.k, c.q, c.n, c.s, max(mn.mn) AS fit
      FROM cum c JOIN mins mn ON mn.i <= c.k
      GROUP BY c.k, c.q, c.n, c.s
    )
    SELECT q, n, s AS positives, round(fit, 9) + 0 AS iso_rate
    FROM iso
    """,
)
def ml_isotonic_regression(spark, sf_dir):
    """Isotonic regression of the return rate on quantity via the
    closed-form minimax characterization: iso(k) = max_{i<=k}
    min_{j>=i} mean(y[i..j]) — the PAVA result without PAVA's
    sequential pool merging, so it distributes: one partial-aggregable
    groupBy collapses the facts to |distinct q| candidates (50 here;
    quantile-binned at 100 TB), and the span/min/max cascade runs
    entirely on that bounded table (1275 spans for 50 levels — the
    candidate-table discipline of ml_decision_stump). Span means are
    doubles from exact integer prefix sums — identical IEEE divisions
    on both engines; the monotone fit is rounded 1e-9 only at the
    output. Isotonic calibration is the score-calibration step
    (sklearn IsotonicRegression / calibrated classifiers) the
    reference's offline sklearn stack would run — here as relational
    algebra. Monotonicity + pool-mean invariants test-asserted."""
    li = _t(spark, sf_dir, "lineitem")
    lab = li.select(
        F.col("l_quantity").cast("long").alias("q"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    pv = lab.groupBy("q").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    )
    wk = Window.orderBy("q")
    wc = wk.rowsBetween(Window.unboundedPreceding, 0)
    cum = pv.select(
        "q",
        F.row_number().over(wk).alias("k"),
        "n",
        "s",
        F.sum("n").over(wc).alias("cn"),
        F.sum("s").over(wc).alias("cs"),
    )
    ci = cum.select(
        F.col("k").alias("i"),
        (F.col("cn") - F.col("n")).alias("pn"),
        (F.col("cs") - F.col("s")).alias("ps"),
    )
    cj = cum.select(F.col("k").alias("j"), F.col("cn").alias("jn"), F.col("cs").alias("js"))
    spans = ci.join(cj, F.col("j") >= F.col("i")).select(
        "i",
        (
            (F.col("js") - F.col("ps")).cast("double")
            / (F.col("jn") - F.col("pn")).cast("double")
        ).alias("m"),
    )
    mins = spans.groupBy("i").agg(F.min("m").alias("mn"))
    iso = (
        cum.join(mins, mins.i <= cum.k)
        .groupBy("k", "q", "n", "s")
        .agg(F.max("mn").alias("fit"))
    )
    return iso.select(
        "q",
        "n",
        F.col("s").alias("positives"),
        (F.round("fit", 9) + 0).alias("iso_rate"),
    )


# --- OLS inference: slope/intercept with standard errors and t-stats --------


@register(
    "ml_ols_inference",
    """
    WITH d AS (
      SELECT l_returnflag AS flag,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      FROM lineitem
    ),
    mom AS (
      SELECT flag, CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx_r, sum(x * y) AS sxy_r,
             sum(y * y) AS syy_r
      FROM d GROUP BY flag
    ),
    c AS (
      SELECT flag, n,
             n * sxx_r - sx * sx AS sxx,
             n * sxy_r - sx * sy AS sxy,
             n * syy_r - sy * sy AS syy,
             sx, sy
      FROM mom
    )
    SELECT flag, n,
           round(CAST(sxy AS DOUBLE) / CAST(sxx AS DOUBLE), 9) + 0 AS slope,
           round((CAST(sy AS DOUBLE) - (CAST(sxy AS DOUBLE) / CAST(sxx AS DOUBLE))
                  * CAST(sx AS DOUBLE)) / n, 9) + 0 AS intercept,
           round(CAST(sxy AS DOUBLE) * CAST(sxy AS DOUBLE)
                 / (CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)), 9) + 0 AS r2,
           round(sqrt((CAST(syy AS DOUBLE) / CAST(sxx AS DOUBLE)
                       - (CAST(sxy AS DOUBLE) / CAST(sxx AS DOUBLE))
                         * (CAST(sxy AS DOUBLE) / CAST(sxx AS DOUBLE)))
                      / (n - 2)), 9) + 0 AS se_slope,
           round((CAST(sxy AS DOUBLE) / CAST(sxx AS DOUBLE))
                 / sqrt((CAST(syy AS DOUBLE) / CAST(sxx AS DOUBLE)
                         - (CAST(sxy AS DOUBLE) / CAST(sxx AS DOUBLE))
                           * (CAST(sxy AS DOUBLE) / CAST(sxx AS DOUBLE)))
                        / (n - 2)), 6) + 0 AS t_stat
    FROM c
    """,
)
def ml_ols_inference(spark, sf_dir):
    """OLS with INFERENCE — slope, intercept, R^2, the slope's
    standard error, and its t statistic per group — the step past
    ml_linear_regression_sql's point estimates that makes the
    regression a hypothesis test (is the quantity-price relation
    significant per return class?). One partial-aggregable moment
    sketch per group (n, Sx, Sy, Sxx, Sxy, Syy as exact
    DECIMAL(38,0)/HUGEINT integers over cents), then every statistic
    is a fixed IEEE formula over the exact centered moments
    n*Sxx - Sx^2 etc. — sqrt is correctly rounded per IEEE-754 (unlike
    ln/exp), so both engines produce identical doubles, rounded 1e-9
    (t at 1e-6) only at the output. Scale shape: one scan, one 6-sum
    combine — the cheapest possible distributed regression, and the
    same sketch a 100 TB run would compute. Reference analog: the
    offline sklearn fit at database_and_model_tools.py:141-157, as
    in-engine inference."""
    li = _t(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    d = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long").alias("y"),
    )
    mom = d.groupBy("flag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx_r"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy_r"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy_r"),
    )
    c = mom.select(
        "flag",
        "n",
        (F.col("n") * F.col("sxx_r") - F.col("sx") * F.col("sx")).alias("sxx"),
        (F.col("n") * F.col("sxy_r") - F.col("sx") * F.col("sy")).alias("sxy"),
        (F.col("n") * F.col("syy_r") - F.col("sy") * F.col("sy")).alias("syy"),
        "sx",
        "sy",
    )
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    slope = sxy / sxx
    se = F.sqrt((syy / sxx - slope * slope) / (F.col("n") - 2))
    return c.select(
        "flag",
        "n",
        (F.round(slope, 9) + 0).alias("slope"),
        (
            F.round((F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
                    / F.col("n"), 9) + 0
        ).alias("intercept"),
        (F.round(sxy * sxy / (sxx * syy), 9) + 0).alias("r2"),
        (F.round(se, 9) + 0).alias("se_slope"),
        (F.round(slope / se, 6) + 0).alias("t_stat"),
    )


# --- uncertainty quantification: deterministic subsample CI ------------------


_CI_B = 20


_CI_THRESH = 2147483648  # 2^31: ~50% inclusion on a 32-bit md5 prefix


def _ci_oracle() -> str:
    terms = []
    for i in range(1, _CI_B + 1):
        h = (
            f"('0x' || substr(md5(CAST(event_id AS VARCHAR) || '_{i}'), 1, 8))"
            f"::BIGINT < {_CI_THRESH}"
        )
        terms.append(
            f"CAST(sum(CASE WHEN {h} THEN cents END) AS DOUBLE)"
            f" / sum(CASE WHEN {h} THEN 1 END) AS m{i}"
        )
    means = ", ".join(f"m{i}" for i in range(1, _CI_B + 1))
    return f"""
    WITH c AS (
      SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents FROM events
    ),
    wide AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             {', '.join(terms)}
      FROM c
    ),
    reps AS (SELECT n, s, unnest([{means}]) AS m FROM wide)
    SELECT n, CAST({_CI_B} AS BIGINT) AS n_replicates,
           round(CAST(s AS DOUBLE) / n, 6) + 0 AS point_mean,
           round(quantile_cont(m, 0.025), 6) + 0 AS ci_lo,
           round(quantile_cont(m, 0.975), 6) + 0 AS ci_hi
    FROM reps GROUP BY n, s
    """


@register("ml_subsample_ci", _ci_oracle())
def ml_subsample_ci(spark, sf_dir):
    """Uncertainty quantification for the global mean: a 20-replicate
    DETERMINISTIC half-subsample distribution (row r joins replicate i
    iff a 32-bit md5 prefix of (event_id, i) clears a fixed threshold
    — the portable-hash trick every sampler in this repo uses, so both
    engines draw the identical pseudo-samples with no RNG), with the
    2.5/97.5 percentile band of the replicate means as the interval —
    m-out-of-n subsampling, the distributable cousin of the bootstrap.
    Plan shape: ONE scan with 40 conditional partial-aggregable sums
    (no explode — a naive bootstrap materializes B copies of the data;
    this never replicates a row), then the percentile runs over a
    B-row table. Replicate means are single divisions of exact integer
    sums; the band interpolates identical doubles on both engines.
    Reference analog: none (its stats stop at point estimates)."""
    e = _t(spark, sf_dir, "events")
    c = e.select(
        "event_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    ]
    for i in range(1, _CI_B + 1):
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.col("event_id").cast("string"), F.lit(f"_{i}"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long") < F.lit(_CI_THRESH)
        aggs.append(
            (
                F.sum(F.when(h, F.col("cents"))).cast("double")
                / F.sum(F.when(h, 1))
            ).alias(f"m{i}")
        )
    wide = c.agg(*aggs)
    reps = wide.select(
        "n",
        "s",
        F.explode(F.array(*[F.col(f"m{i}") for i in range(1, _CI_B + 1)])).alias("m"),
    )
    return reps.groupBy("n", "s").agg(
        F.lit(_CI_B).cast("long").alias("n_replicates"),
        (F.round(F.col("s").cast("double") / F.col("n"), 6) + 0).alias("point_mean"),
        (F.round(F.percentile("m", F.lit(0.025)), 6) + 0).alias("ci_lo"),
        (F.round(F.percentile("m", F.lit(0.975)), 6) + 0).alias("ci_hi"),
    ).drop("s").select("n", "n_replicates", "point_mean", "ci_lo", "ci_hi")


# --- inequality analytics: Gini coefficient + Lorenz deciles -----------------


@register(
    "ml_gini_lorenz",
    """
    WITH c AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS cents, event_id
      FROM events
    ),
    r AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, event_id) AS i,
             ntile(10) OVER (ORDER BY cents, event_id) AS decile
      FROM c
    ),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(cents) AS BIGINT) AS s,
                 sum(CAST(i AS DECIMAL(38,0)) * cents) AS iws
          FROM r),
    dec AS (
      SELECT CAST(decile AS BIGINT) AS decile,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(cents) AS BIGINT) AS mass
      FROM r GROUP BY decile
    )
    SELECT decile, n_rows, mass,
           round(CAST(mass AS DOUBLE) / s, 6) + 0 AS mass_share,
           round((2.0 * CAST(iws AS DOUBLE) / (CAST(n AS DOUBLE) * s))
                 - (CAST(n AS DOUBLE) + 1) / n, 6) + 0 AS gini
    FROM dec CROSS JOIN t
    """,
)
def ml_gini_lorenz(spark, sf_dir):
    """Gini coefficient + Lorenz decile masses of the event-value
    distribution — the inequality/concentration readout (how skewed is
    spend across events?) behind fairness dashboards and long-tail
    corpus analyses. Closed form G = 2*Σ(i*x_(i))/(n*Σx) - (n+1)/n
    over the globally sorted values: ONE range-partitioned sorted pass
    (the same single global ordering ml_lift_gains already budgets
    for), rank-weighted mass in a DECIMAL(38,0)/HUGEINT accumulator
    (rank x cents exceeds BIGINT long before 100 TB), deciles from the
    identical ordering via ntile, and the final statistic is one fixed
    IEEE formula over exact integers. The (cents, event_id) total
    order pins tie handling on both engines. Reference analog: none
    (its aggregates stop at min/max/avg)."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    c = e.select(
        F.round(F.col("value") * 100).cast("long").alias("cents"), "event_id"
    )
    w = Window.orderBy("cents", "event_id")
    r = c.select(
        "cents",
        F.row_number().over(w).alias("i"),
        F.ntile(10).over(w).alias("decile"),
    )
    t = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("cents")).alias("iws"),
    )
    dec = r.groupBy(F.col("decile").cast("long").alias("decile")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("mass"),
    )
    n = F.col("n").cast("double")
    gini = (
        2.0 * F.col("iws").cast("double") / (n * F.col("s"))
        - (n + 1) / F.col("n")
    )
    return dec.crossJoin(F.broadcast(t)).select(
        "decile",
        "n_rows",
        "mass",
        (F.round(F.col("mass").cast("double") / F.col("s"), 6) + 0).alias(
            "mass_share"
        ),
        (F.round(gini, 6) + 0).alias("gini"),
    )


# --- flagship composite: end-to-end SQL-native text classifier --------------


@register(
    "ml_text_classifier_e2e",
    """
    WITH feat AS (
      SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
             CAST(length(text) AS DOUBLE)
               / len(list_filter(string_split(text, ' '), w -> w <> '')) AS f1,
             CAST(len(list_distinct(list_filter(string_split(text, ' '),
                                        w -> w <> ''))) AS DOUBLE)
               / len(list_filter(string_split(text, ' '), w -> w <> '')) AS f2
      FROM documents
      WHERE length(text) > 0
        AND len(list_filter(string_split(text, ' '), w -> w <> '')) > 0
    ),
    stats AS (
      SELECT round(avg(f1), 9) AS m1, round(stddev_pop(f1), 9) AS s1,
             round(avg(f2), 9) AS m2, round(stddev_pop(f2), 9) AS s2,
             CAST(count(*) AS DOUBLE) AS n
      FROM feat
    ),
    d AS (
      SELECT y, (f1 - m1) / s1 AS x1, (f2 - m2) / s2 AS x2, n
      FROM feat CROSS JOIN stats
    ),
    g1 AS (
      SELECT round(sum(0.5 - y) / max(n), 9) AS g0,
             round(sum((0.5 - y) * x1) / max(n), 9) AS ga,
             round(sum((0.5 - y) * x2) / max(n), 9) AS gb
      FROM d
    ),
    w1 AS (SELECT -0.5 * g0 AS w0, -0.5 * ga AS wa, -0.5 * gb AS wb FROM g1),
    g2 AS (
      SELECT round(sum(1.0/(1.0 + exp(-(w0 + wa*x1 + wb*x2))) - y) / max(n), 9) AS g0,
             round(sum((1.0/(1.0 + exp(-(w0 + wa*x1 + wb*x2))) - y) * x1) / max(n), 9) AS ga,
             round(sum((1.0/(1.0 + exp(-(w0 + wa*x1 + wb*x2))) - y) * x2) / max(n), 9) AS gb
      FROM d CROSS JOIN w1
    ),
    w2 AS (SELECT w0 - 0.5 * g0 AS w0, wa - 0.5 * ga AS wa, wb - 0.5 * gb AS wb
           FROM w1 CROSS JOIN g2),
    g3 AS (
      SELECT round(sum(1.0/(1.0 + exp(-(w0 + wa*x1 + wb*x2))) - y) / max(n), 9) AS g0,
             round(sum((1.0/(1.0 + exp(-(w0 + wa*x1 + wb*x2))) - y) * x1) / max(n), 9) AS ga,
             round(sum((1.0/(1.0 + exp(-(w0 + wa*x1 + wb*x2))) - y) * x2) / max(n), 9) AS gb
      FROM d CROSS JOIN w2
    ),
    w3 AS (SELECT w0 - 0.5 * g0 AS w0, wa - 0.5 * ga AS wa, wb - 0.5 * gb AS wb
           FROM w2 CROSS JOIN g3),
    pred AS (
      SELECT CAST(sum(CASE WHEN round(w0 + wa*x1 + wb*x2, 9) > 0
                            AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN round(w0 + wa*x1 + wb*x2, 9) > 0
                            AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN NOT (round(w0 + wa*x1 + wb*x2, 9) > 0)
                            AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM d CROSS JOIN w3
    )
    SELECT round(w0, 6) + 0 AS w_intercept,
           round(wa, 6) + 0 AS w_chars_per_word,
           round(wb, 6) + 0 AS w_distinct_ratio,
           tp, fp, fn, n_rows
    FROM w3 CROSS JOIN pred
    """,
)
def ml_text_classifier_e2e(spark, sf_dir):
    """END-TO-END SQL-native text classifier: featurize raw documents
    (chars-per-word, distinct-word ratio — both exact-integer-derived
    doubles; the synthetic corpus shares an ASCII vocabulary across
    langs, so the model demonstrates the LOOP's cross-engine parity,
    not linguistic skill), standardize, train logistic regression by 3
    full-batch GD steps, and score (TP/FP/FN at the logit-sign
    threshold) — the whole train/evaluate loop as ONE lazy plan,
    the composite flagship tying llm_language_id's heuristic to
    ml_logistic_regression_gd's optimizer machinery. Float parity per
    the established discipline: stats and gradients rounded 1e-9 so
    both engines walk the identical weight trajectory; the prediction
    threshold is the logit sign (never exp). Scale shape: the
    featurization is narrow string arithmetic fused into each GD
    scan's projection (at 100 TB you cache the standardized (y, x1,
    x2) projection once); each step is one partial-aggregable 1-row
    gradient + broadcast weight join. Reference analog: the offline
    sklearn classifiers (M3) as in-engine relational algebra."""
    wn = F.size(F.filter(F.split(F.col("text"), " "), lambda w: w != ""))
    d0 = _t(spark, sf_dir, "documents").filter(
        (F.length("text") > 0) & (wn > 0)
    )
    feat = d0.select(
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        (F.length("text").cast("double") / wn).alias("f1"),
        (
            F.size(
                F.array_distinct(
                    F.filter(F.split(F.col("text"), " "), lambda w: w != "")
                )
            ).cast("double")
            / wn
        ).alias("f2"),
    )
    stats = feat.agg(
        F.round(F.avg("f1"), 9).alias("m1"),
        F.round(F.stddev_pop("f1"), 9).alias("s1"),
        F.round(F.avg("f2"), 9).alias("m2"),
        F.round(F.stddev_pop("f2"), 9).alias("s2"),
        F.count("*").cast("double").alias("n"),
    )
    d = feat.crossJoin(F.broadcast(stats)).select(
        "y",
        ((F.col("f1") - F.col("m1")) / F.col("s1")).alias("x1"),
        ((F.col("f2") - F.col("m2")) / F.col("s2")).alias("x2"),
        "n",
    )
    g = d.agg(
        F.round(F.sum(F.lit(0.5) - F.col("y")) / F.max("n"), 9).alias("g0"),
        F.round(F.sum((F.lit(0.5) - F.col("y")) * F.col("x1")) / F.max("n"), 9).alias("ga"),
        F.round(F.sum((F.lit(0.5) - F.col("y")) * F.col("x2")) / F.max("n"), 9).alias("gb"),
    )
    w = g.select(
        (F.lit(-0.5) * F.col("g0")).alias("w0"),
        (F.lit(-0.5) * F.col("ga")).alias("wa"),
        (F.lit(-0.5) * F.col("gb")).alias("wb"),
    )
    for _ in range(2):
        dd = d.crossJoin(F.broadcast(w))
        z = F.col("w0") + F.col("wa") * F.col("x1") + F.col("wb") * F.col("x2")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        g = dd.agg(
            F.round(F.sum(p - F.col("y")) / F.max("n"), 9).alias("g0"),
            F.round(F.sum((p - F.col("y")) * F.col("x1")) / F.max("n"), 9).alias("ga"),
            F.round(F.sum((p - F.col("y")) * F.col("x2")) / F.max("n"), 9).alias("gb"),
            F.first("w0").alias("pw0"),
            F.first("wa").alias("pwa"),
            F.first("wb").alias("pwb"),
        )
        w = g.select(
            (F.col("pw0") - F.lit(0.5) * F.col("g0")).alias("w0"),
            (F.col("pwa") - F.lit(0.5) * F.col("ga")).alias("wa"),
            (F.col("pwb") - F.lit(0.5) * F.col("gb")).alias("wb"),
        )
    dd = d.crossJoin(F.broadcast(w))
    z = F.round(
        F.col("w0") + F.col("wa") * F.col("x1") + F.col("wb") * F.col("x2"), 9
    )
    pos = z > 0
    pred = dd.agg(
        F.sum(F.when(pos & (F.col("y") == 1.0), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when(pos & (F.col("y") == 0.0), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when(~pos & (F.col("y") == 1.0), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    zero = F.lit(0.0)
    return w.crossJoin(pred).select(
        (F.round(F.col("w0"), 6) + zero).alias("w_intercept"),
        (F.round(F.col("wa"), 6) + zero).alias("w_chars_per_word"),
        (F.round(F.col("wb"), 6) + zero).alias("w_distinct_ratio"),
        "tp",
        "fp",
        "fn",
        "n_rows",
    )


# --- sequence modeling: first-order Markov transition matrix -----------------


@register(
    "ml_markov_transition_matrix",
    """
    WITH o AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    t AS (
      SELECT event_type AS from_state, nxt AS to_state,
             CAST(count(*) AS BIGINT) AS n
      FROM o WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT from_state, CAST(sum(n) AS BIGINT) AS n_from
            FROM t GROUP BY from_state)
    SELECT t.from_state, t.to_state, t.n,
           round(CAST(t.n AS DOUBLE) / n_from, 6) + 0 AS p
    FROM t JOIN tot USING (from_state)
    """,
)
def ml_markov_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over each user's
    time-ordered event sequence — P(next event type | current), the
    behavioral-model primitive behind next-action prediction and
    anomalous-session scoring. One user-keyed window (total order
    pinned by (ts, event_id)) emits the transitions, then two
    partial-aggregable counts; probabilities are single divisions of
    exact integers rounded 1e-6. Scale shape: the transition count
    table is |states|^2 (25 cells here) regardless of data volume —
    everything after the lead() window is sketch-sized. Reference
    analog: none (its session analysis stops at counts)."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = e.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    t = o.groupBy(
        F.col("event_type").alias("from_state"), F.col("nxt").alias("to_state")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = t.groupBy("from_state").agg(F.sum("n").cast("long").alias("n_from"))
    return t.join(tot, "from_state").select(
        "from_state",
        "to_state",
        "n",
        (F.round(F.col("n").cast("double") / F.col("n_from"), 6) + 0).alias("p"),
    )


# --- information theory: mutual information ----------------------------------


@register(
    "ml_mutual_information",
    """
    WITH b AS (
      SELECT event_type AS xv,
             CAST(round(value * 100) AS BIGINT) // 5000 AS yv
      FROM events
    ),
    jnt AS (SELECT xv, yv, CAST(count(*) AS BIGINT) AS nxy FROM b GROUP BY 1, 2),
    mx  AS (SELECT xv, CAST(sum(nxy) AS BIGINT) AS nx FROM jnt GROUP BY xv),
    my  AS (SELECT yv, CAST(sum(nxy) AS BIGINT) AS ny FROM jnt GROUP BY yv),
    tot AS (SELECT CAST(sum(nxy) AS BIGINT) AS n FROM jnt)
    SELECT round(sum(CAST(nxy AS DOUBLE) / n
                     * ln(CAST(nxy AS DOUBLE) * n
                          / (CAST(nx AS DOUBLE) * ny))), 6) + 0
             AS mutual_information_nats,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(max(n) AS BIGINT) AS n_rows
    FROM jnt JOIN mx USING (xv) JOIN my USING (yv) CROSS JOIN tot
    """,
)
def ml_mutual_information(spark, sf_dir):
    """Mutual information (nats) between the event type and the
    banded value — the nonlinear-dependence screen that catches what
    Pearson/Spearman miss (feature selection, leakage detection). The
    contingency table comes from ONE partial-aggregable groupBy
    (|X| x |Y| cells — sketch-sized at any data volume); margins and
    the total derive from the CELLS, never a second scan. The MI sum
    runs over exact integer counts with one ln() per cell, rounded
    1e-6 (the llm_char_entropy libm discipline: identical integer
    inputs -> same-to-ulp logs on both engines, far inside the
    rounding grid). Reference analog: none."""
    e = _t(spark, sf_dir, "events")
    b = e.select(
        F.col("event_type").alias("xv"),
        F.expr("CAST(round(value * 100) AS BIGINT) div 5000").alias("yv"),
    )
    jnt = b.groupBy("xv", "yv").agg(F.count(F.lit(1)).cast("long").alias("nxy"))
    mx = jnt.groupBy("xv").agg(F.sum("nxy").cast("long").alias("nx"))
    my = jnt.groupBy("yv").agg(F.sum("nxy").cast("long").alias("ny"))
    tot = jnt.agg(F.sum("nxy").cast("long").alias("n"))
    j = (
        jnt.join(mx, "xv")
        .join(my, "yv")
        .crossJoin(F.broadcast(tot))
    )
    term = (
        F.col("nxy").cast("double")
        / F.col("n")
        * F.log(
            F.col("nxy").cast("double")
            * F.col("n")
            / (F.col("nx").cast("double") * F.col("ny"))
        )
    )
    return j.agg(
        (F.round(F.sum(term), 6) + 0).alias("mutual_information_nats"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.max("n").cast("long").alias("n_rows"),
    )


# --- average precision (PR-AUC) ----------------------------------------------


@register(
    "ml_average_precision",
    """
    WITH RECURSIVE g AS (
      SELECT n_chars AS score,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos_g,
             count(*) AS tot_g
      FROM documents GROUP BY n_chars
    ),
    tot AS (SELECT sum(pos_g) AS p FROM g),
    c AS (
      SELECT score, pos_g,
             sum(pos_g) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             sum(tot_g) OVER (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ctot
      FROM g
    ),
    steps AS (
      SELECT row_number() OVER (ORDER BY score DESC) AS rn,
             CAST(pos_g AS BIGINT) AS dtp, CAST(tp AS BIGINT) AS tp,
             CAST(ctot AS BIGINT) AS ctot
      FROM c WHERE pos_g > 0
    ),
    ns AS (SELECT count(*) AS n_steps FROM steps),
    fold AS (
      SELECT st.rn,
             CAST(st.dtp AS DOUBLE) * st.tp / (CAST(p AS DOUBLE) * st.ctot)
               AS ap
      FROM steps st CROSS JOIN tot WHERE st.rn = 1
      UNION ALL
      SELECT st.rn,
             f.ap + CAST(st.dtp AS DOUBLE) * st.tp
                    / (CAST(p AS DOUBLE) * st.ctot)
      FROM fold f JOIN steps st ON st.rn = f.rn + 1 CROSS JOIN tot
    )
    SELECT CAST(p AS BIGINT) AS n_pos, CAST(n_steps AS BIGINT) AS n_thresholds,
           ap + 0 AS average_precision
    FROM fold CROSS JOIN tot CROSS JOIN ns
    WHERE rn = n_steps
    """,
)
def ml_average_precision(spark, sf_dir):
    """Exact average precision (step-wise PR-AUC, the sklearn
    `average_precision_score` definition: AP = sum_k (R_k - R_{k-1})
    * P_k over distinct thresholds descending) for the document-length
    score predicting lang='en' — the imbalanced-class ranking metric
    next to ml_roc_auc. The threshold table is |distinct
    scores|-bounded (one partial-aggregable groupBy collapses the
    corpus); TP/total cumulatives are exact BIGINTs from windows on
    that bounded table. The float SUM of per-threshold terms is the
    one order-sensitive op, so it rides the sequential-fold doctrine
    (ext_holt_linear / ml_kaplan_meier): Spark folds an rn-sorted
    array, DuckDB walks a recursive CTE — the identical add/mul/div
    tree in the identical order, shipped UNROUNDED. Scale shape: data
    volume is touched once by the groupBy; everything else is
    score-domain-bounded."""
    d = _t(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    g = d.groupBy("score").agg(
        F.sum("y").alias("pos_g"), F.count(F.lit(1)).alias("tot_g")
    )
    w = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = g.select(
        "score",
        "pos_g",
        F.sum("pos_g").over(w).cast("long").alias("tp"),
        F.sum("tot_g").over(w).cast("long").alias("ctot"),
    )
    steps = (
        c.filter(F.col("pos_g") > 0)
        .select(
            F.row_number()
            .over(Window.orderBy(F.col("score").desc()))
            .alias("rn"),
            F.col("pos_g").cast("long").alias("dtp"),
            "tp",
            "ctot",
        )
    )
    tot = g.agg(F.sum("pos_g").cast("long").alias("p"))
    folded = (
        steps.crossJoin(F.broadcast(tot))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("rn", "dtp", "tp", "ctot"))
            ).alias("s"),
            F.max("p").alias("p"),
        )
        .select(
            F.col("p"),
            F.size("s").cast("long").alias("n_steps"),
            F.expr(
                """
                aggregate(
                  s, CAST(0.0 AS DOUBLE),
                  (acc, e) -> acc + CAST(e.dtp AS DOUBLE) * e.tp
                              / (CAST(p AS DOUBLE) * e.ctot)
                ) AS ap
                """
            ),
        )
    )
    return folded.select(
        F.col("p").alias("n_pos"),
        F.col("n_steps").alias("n_thresholds"),
        (F.col("ap") + 0).alias("average_precision"),
    )


# --- Cohen's kappa -----------------------------------------------------------


@register(
    "ml_cohens_kappa",
    """
    WITH r AS (
      SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
             CASE WHEN length(text) - length(replace(text, ' ', '')) >= 49
                  THEN 1 ELSE 0 END AS b
      FROM documents
    ),
    cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS o FROM r GROUP BY a, b),
    m AS (
      SELECT CAST(sum(o) AS BIGINT) AS n,
             CAST(sum(CASE WHEN a = b THEN o ELSE 0 END) AS BIGINT) AS agree,
             CAST(sum(CASE WHEN a = 1 THEN o ELSE 0 END) AS BIGINT) AS ra1,
             CAST(sum(CASE WHEN b = 1 THEN o ELSE 0 END) AS BIGINT) AS rb1
      FROM cells
    )
    SELECT n, agree,
           CAST(n * agree - (ra1 * rb1 + (n - ra1) * (n - rb1)) AS DOUBLE)
             / CAST(n * n - (ra1 * rb1 + (n - ra1) * (n - rb1)) AS DOUBLE) + 0
             AS kappa
    FROM m
    """,
)
def ml_cohens_kappa(spark, sf_dir):
    """Cohen's kappa — chance-corrected agreement between two
    deterministic document-quality raters (rater A: n_chars >= 300;
    rater B: whitespace-delimited word count >= 50, i.e. >= 49
    separator spaces) — the annotation-QA statistic an LLM data
    pipeline computes over double-labeled slices. Algebra: kappa =
    (po - pe)/(1 - pe) multiplied through by N^2 gives
    (N*agree - S) / (N^2 - S) with S = ra1*rb1 + ra0*rb0 — ALL exact
    BIGINTs from one 4-cell contingency groupBy, so the statistic is
    a single integer-ratio IEEE division: no float accumulation, no
    rounding needed, bit-identical at any partitioning. Scale shape:
    one partial-aggregable pass; everything after runs on 4 rows."""
    r = _t(spark, sf_dir, "documents").select(
        (F.col("n_chars") >= 300).cast("int").alias("a"),
        (
            F.expr("length(text) - length(replace(text, ' ', ''))") >= 49
        )
        .cast("int")
        .alias("b"),
    )
    cells = r.groupBy("a", "b").agg(F.count(F.lit(1)).cast("long").alias("o"))
    m = cells.agg(
        F.sum("o").cast("long").alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("o")).otherwise(0))
        .cast("long")
        .alias("agree"),
        F.sum(F.when(F.col("a") == 1, F.col("o")).otherwise(0))
        .cast("long")
        .alias("ra1"),
        F.sum(F.when(F.col("b") == 1, F.col("o")).otherwise(0))
        .cast("long")
        .alias("rb1"),
    )
    s = F.col("ra1") * F.col("rb1") + (F.col("n") - F.col("ra1")) * (
        F.col("n") - F.col("rb1")
    )
    kappa = (
        (F.col("n") * F.col("agree") - s).cast("double")
        / (F.col("n") * F.col("n") - s).cast("double")
        + 0
    )
    return m.select("n", "agree", kappa.alias("kappa"))


# --- Cramer's V --------------------------------------------------------------


@register(
    "ml_cramers_v",
    """
    WITH RECURSIVE obs AS (
      SELECT o_orderpriority AS rk, o_orderstatus AS ck,
             CAST(count(*) AS BIGINT) AS o
      FROM orders GROUP BY 1, 2
    ),
    rm AS (SELECT rk, CAST(sum(o) AS BIGINT) AS r FROM obs GROUP BY rk),
    cm AS (SELECT ck, CAST(sum(o) AS BIGINT) AS c FROM obs GROUP BY ck),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS n_cells FROM obs),
    dims AS (SELECT (SELECT count(*) FROM rm) AS nr,
                    (SELECT count(*) FROM cm) AS nc),
    cells AS (
      SELECT row_number() OVER (ORDER BY obs.rk, obs.ck) AS rn, o, r, c
      FROM obs JOIN rm USING (rk) JOIN cm USING (ck)
    ),
    fold AS (
      SELECT rn,
             pow(o - CAST(r AS DOUBLE) * c / n, 2)
               / (CAST(r AS DOUBLE) * c / n) AS chi2
      FROM cells CROSS JOIN tot WHERE rn = 1
      UNION ALL
      SELECT cl.rn,
             f.chi2 + pow(cl.o - CAST(cl.r AS DOUBLE) * cl.c / n, 2)
                      / (CAST(cl.r AS DOUBLE) * cl.c / n)
      FROM fold f JOIN cells cl ON cl.rn = f.rn + 1 CROSS JOIN tot
    )
    SELECT n, chi2 + 0 AS chi2,
           sqrt(chi2 / (n * least(nr - 1, nc - 1))) + 0 AS cramers_v
    FROM fold CROSS JOIN tot CROSS JOIN dims
    WHERE rn = n_cells
    """,
)
def ml_cramers_v(spark, sf_dir):
    """Cramer's V effect size (chi-square normalized to [0,1]) for the
    order-priority x order-status association — the categorical
    feature-screening number a modeling pipeline reports next to the
    raw chi2 (ml_chi_square_assoc). Exactness upgrade over that entry:
    instead of rounding a float-accumulated chi2, the per-cell terms
    (o - rc/n)^2/(rc/n) — each a fixed IEEE tree over exact BIGINT
    margins — are summed in pinned (row-key, col-key) order via the
    sequential-fold doctrine (Spark: rn-sorted array aggregate();
    DuckDB: recursive CTE), so chi2 and V ship UNROUNDED and match
    bitwise. Scale shape: the contingency table is category-bounded
    (|priorities| x |statuses| cells); the only data-sized op is the
    first partial-aggregable groupBy."""
    o = _t(spark, sf_dir, "orders")
    obs = o.groupBy(
        F.col("o_orderpriority").alias("rk"),
        F.col("o_orderstatus").alias("ck"),
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    rm = obs.groupBy("rk").agg(F.sum("o").cast("long").alias("r"))
    cm = obs.groupBy("ck").agg(F.sum("o").cast("long").alias("c"))
    tot = obs.agg(
        F.sum("o").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    nr = rm.count()
    nc = cm.count()
    cells = (
        obs.join(F.broadcast(rm), "rk")
        .join(F.broadcast(cm), "ck")
        .select(
            F.row_number().over(Window.orderBy("rk", "ck")).alias("rn"),
            "o",
            "r",
            "c",
        )
    )
    folded = (
        cells.crossJoin(F.broadcast(tot))
        .agg(
            F.array_sort(F.collect_list(F.struct("rn", "o", "r", "c"))).alias(
                "s"
            ),
            F.max("n").alias("n"),
        )
        .select(
            "n",
            F.expr(
                """
                aggregate(
                  s, CAST(0.0 AS DOUBLE),
                  (acc, e) -> acc
                    + pow(e.o - CAST(e.r AS DOUBLE) * e.c / n, 2)
                      / (CAST(e.r AS DOUBLE) * e.c / n)
                ) AS chi2
                """
            ),
        )
    )
    k = F.lit(min(nr - 1, nc - 1))
    return folded.select(
        "n",
        (F.col("chi2") + 0).alias("chi2"),
        (F.sqrt(F.col("chi2") / (F.col("n") * k)) + 0).alias("cramers_v"),
    )


@register(
    "ml_kendall_tau",
    """
    WITH pts AS (
      SELECT c_nationkey AS k, CAST(count(*) AS BIGINT) AS x,
             CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS y
      FROM customer GROUP BY c_nationkey
    ),
    prs AS (
      SELECT CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END AS c,
             CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END AS d,
             CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
             CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
      FROM pts a JOIN pts b ON a.k < b.k
    ),
    agg AS (
      SELECT CAST((SELECT count(*) FROM pts) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n0,
             CAST(sum(c) AS BIGINT) AS conc, CAST(sum(d) AS BIGINT) AS disc,
             CAST(sum(tx) AS BIGINT) AS n1, CAST(sum(ty) AS BIGINT) AS n2
      FROM prs
    )
    SELECT n, conc, disc,
           CAST(conc - disc AS DOUBLE)
             / sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE)) + 0
             AS tau_b
    FROM agg
    """,
)
def ml_kendall_tau(spark, sf_dir):
    """Kendall's tau-b (tie-corrected rank correlation) between
    per-nation customer count and total account balance — the robust
    ordinal-association statistic next to ml_spearman_corr (which
    ranks raw rows; tau here runs at the nation grain where the
    pairwise definition is exactly computable). The O(n^2) pair join
    is safe BY CONSTRUCTION: it runs on the nation-bounded aggregate
    (<=25 rows at any SF, since nations are a fixed dimension), so
    pairs are <=300 forever — the same bounded-domain argument as
    ml_cramers_v. Concordant/discordant/tie counts are exact integers
    (balances reduce to half-up cents first); tau-b = (C - D) /
    sqrt((n0-n1)(n0-n2)) is a single IEEE tree over them — identical
    cross-engine, shipped unrounded. Reference analog: none."""
    pts = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("k"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("x"),
            F.sum(F.expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)"))
            .cast("long")
            .alias("y"),
        )
    )
    a, b = pts.alias("a"), pts.alias("b")
    dx = F.col("a.x") - F.col("b.x")
    dy = F.col("a.y") - F.col("b.y")
    prs = a.join(b, F.col("a.k") < F.col("b.k")).select(
        F.when(dx * dy > 0, 1).otherwise(0).alias("c"),
        F.when(dx * dy < 0, 1).otherwise(0).alias("d"),
        (F.col("a.x") == F.col("b.x")).cast("int").alias("tx"),
        (F.col("a.y") == F.col("b.y")).cast("int").alias("ty"),
    )
    n = pts.count()
    agg = prs.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum("c").cast("long").alias("conc"),
        F.sum("d").cast("long").alias("disc"),
        F.sum("tx").cast("long").alias("n1"),
        F.sum("ty").cast("long").alias("n2"),
    )
    tau = (F.col("conc") - F.col("disc")).cast("double") / F.sqrt(
        (F.col("n0") - F.col("n1")).cast("double")
        * (F.col("n0") - F.col("n2")).cast("double")
    )
    return agg.select(
        F.lit(n).cast("long").alias("n"),
        "conc",
        "disc",
        (tau + 0).alias("tau_b"),
    )


@register(
    "ml_theil_sen_slope",
    """
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) - (SELECT min(CAST(ts AS DATE))
                                      FROM events) AS BIGINT) AS d,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS y
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    slopes AS (
      SELECT CAST(b.y - a.y AS DOUBLE) / (b.d - a.d) AS m
      FROM daily a JOIN daily b ON a.d < b.d
    )
    SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
           CAST(count(*) AS BIGINT) AS n_pairs,
           quantile_cont(m, 0.5) + 0 AS slope_cents_per_day
    FROM slopes
    """,
)
def ml_theil_sen_slope(spark, sf_dir):
    """Theil-Sen robust trend: the median of all pairwise slopes of
    the daily purchase-cents series — the breakdown-resistant
    alternative to the OLS slope (ml_ols_inference): a third of the
    days can be wild outliers without moving it. The quadratic pair
    set is CALENDAR-bounded (days choose 2 — ~66k pairs for a year,
    constant in SF since the time range is fixed; the data-sized work
    is the one partial-aggregable groupBy(day)). Exactness: daily
    masses are exact cents; each slope is ONE integer-ratio IEEE
    division (identical both engines); the median rides the proven
    Spark percentile() == DuckDB quantile_cont() interpolation pair
    on identical value multisets, shipped unrounded. Reference
    analog: the reference's trend features stop at window averages
    (project/database_and_model_tools.py:95-130)."""
    e = _t(spark, sf_dir, "events")
    mind = e.agg(F.min(F.col("ts").cast("date")).alias("d0"))
    daily = (
        e.filter(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(mind))
        .select(
            F.datediff(F.col("ts").cast("date"), F.col("d0"))
            .cast("long")
            .alias("d"),
            F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("c"),
        )
        .groupBy("d")
        .agg(F.sum("c").cast("long").alias("y"))
    )
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(b, F.col("a.d") < F.col("b.d")).select(
        (
            (F.col("b.y") - F.col("a.y")).cast("double")
            / (F.col("b.d") - F.col("a.d"))
        ).alias("m")
    )
    n_days = daily.count()
    return slopes.agg(
        F.lit(n_days).cast("long").alias("n_days"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        (F.expr("percentile(m, 0.5)") + 0).alias("slope_cents_per_day"),
    )


@register(
    "ml_anova_oneway",
    f"""
    WITH g AS (
      SELECT c_mktsegment AS seg,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum({_CENTS.format(col="c_acctbal")}) AS DECIMAL(38,0)) AS s,
             CAST(sum(CAST({_CENTS.format(col="c_acctbal")} AS DECIMAL(38,0))
                      * {_CENTS.format(col="c_acctbal")}) AS DECIMAL(38,0)) AS ss
      FROM customer GROUP BY c_mktsegment
    ),
    fold AS (
      SELECT seg,
             sum(CAST(s * s AS DOUBLE) / n) OVER (ORDER BY seg
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS term_sum,
             row_number() OVER (ORDER BY seg) AS rn
      FROM g
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n_total,
             CAST(sum(s) AS DECIMAL(38,0)) AS s_total,
             CAST(sum(ss) AS DECIMAL(38,0)) AS ss_total
      FROM g
    )
    SELECT k, n_total,
           term_sum - CAST(s_total * s_total AS DOUBLE) / n_total AS ss_between,
           CAST(ss_total AS DOUBLE) - term_sum AS ss_within,
           ((term_sum - CAST(s_total * s_total AS DOUBLE) / n_total) / (k - 1))
             / ((CAST(ss_total AS DOUBLE) - term_sum) / (n_total - k)) AS f_stat
    FROM fold, tot
    WHERE rn = k
    """,
)
def ml_anova_oneway(spark, sf_dir):
    """One-way ANOVA F-test of account balance (half-up cents) across
    the 5 market segments. The data-volume pass produces exact
    integers only: per-segment n, sum(cents) and sum(cents^2), both
    sums in DECIMAL(38,0) (cents^2 ~1e12/row never overflows at any
    SF). The between-group term sum_g(s_g^2/n_g) needs a float sum
    over the 5 groups, so it rides the sequential-fold doctrine: a
    running window sum in segment order — the identical op tree both
    engines (proven by ml_average_precision / ml_cramers_v). F =
    (SSB/(k-1)) / (SSW/(N-k)) is then one fixed IEEE formula, shipped
    unrounded. Scale: one partial-aggregable groupBy to 5 rows; the
    fold is a 5-row window. Reference analog: none (extends
    ml_welch_ttest to k groups)."""
    cents = F.expr(_CENTS.format(col="c_acctbal"))
    g = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(cents).cast("decimal(38,0)").alias("s"),
            F.sum(cents.cast("decimal(38,0)") * cents).cast("decimal(38,0)").alias("ss"),
        )
    )
    w = Window.orderBy("seg").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fold = g.select(
        "seg",
        F.sum((F.col("s") * F.col("s")).cast("double") / F.col("n")).over(w).alias("term_sum"),
        F.row_number().over(Window.orderBy("seg")).alias("rn"),
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_total"),
        F.sum("s").cast("decimal(38,0)").alias("s_total"),
        F.sum("ss").cast("decimal(38,0)").alias("ss_total"),
    )
    j = fold.crossJoin(F.broadcast(tot)).where(F.col("rn") == F.col("k"))
    ssb = F.col("term_sum") - (F.col("s_total") * F.col("s_total")).cast("double") / F.col(
        "n_total"
    )
    ssw = F.col("ss_total").cast("double") - F.col("term_sum")
    return j.select(
        "k",
        "n_total",
        ssb.alias("ss_between"),
        ssw.alias("ss_within"),
        ((ssb / (F.col("k") - 1)) / (ssw / (F.col("n_total") - F.col("k")))).alias(
            "f_stat"
        ),
    )


@register(
    "ml_matthews_corrcoef",
    f"""
    WITH c AS (
      SELECT
        CAST(sum(CASE WHEN pred AND truth THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        CAST(sum(CASE WHEN pred AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        CAST(sum(CASE WHEN NOT pred AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS tn,
        CAST(sum(CASE WHEN NOT pred AND truth THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM (
        SELECT {_CENTS.format(col="o_totalprice")} > 25000000 AS pred,
               o_orderpriority IN ('1-URGENT', '2-HIGH') AS truth
        FROM orders
      )
    )
    SELECT tp, fp, tn, fn,
           CAST(CAST(tp AS DECIMAL(38,0)) * tn
                - CAST(fp AS DECIMAL(38,0)) * fn AS DOUBLE)
             / sqrt(CAST(CAST(tp + fp AS DECIMAL(38,0)) * (tp + fn) AS DOUBLE)
                    * CAST(CAST(tn + fp AS DECIMAL(38,0)) * (tn + fn) AS DOUBLE))
             AS mcc
    FROM c
    """,
)
def ml_matthews_corrcoef(spark, sf_dir):
    """Matthews correlation coefficient for the fixed price-threshold
    (cents > 25_000_000) urgent-order classifier — the
    balanced-accuracy companion to ml_confusion_matrix / ml_roc_auc.
    Confusion counts are exact integers from one partial-aggregable
    scan. Exactness of the formula: tp*tn - fp*fn and the two
    pairwise sums products live in DECIMAL(38,0) (counts ~1e12 at
    100 TB -> products ~1e24, inside 38 digits), each cast to DOUBLE
    once (nearest-even, identical both engines), multiplied in a
    pinned order, one sqrt, one division — a single IEEE tree,
    shipped unrounded. Scale: one scan, 4-cell aggregate. Reference
    analog: none (extends ml_confusion_matrix)."""
    o = _t(spark, sf_dir, "orders").select(
        (F.expr(_CENTS.format(col="o_totalprice")) > 25000000).alias("pred"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("truth"),
    )
    c = o.agg(
        F.sum(F.when(F.col("pred") & F.col("truth"), 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when(F.col("pred") & ~F.col("truth"), 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when(~F.col("pred") & ~F.col("truth"), 1).otherwise(0)).cast("long").alias("tn"),
        F.sum(F.when(~F.col("pred") & F.col("truth"), 1).otherwise(0)).cast("long").alias("fn"),
    )
    num = (
        F.col("tp").cast("decimal(38,0)") * F.col("tn")
        - F.col("fp").cast("decimal(38,0)") * F.col("fn")
    ).cast("double")
    den = F.sqrt(
        ((F.col("tp") + F.col("fp")).cast("decimal(38,0)") * (F.col("tp") + F.col("fn"))).cast(
            "double"
        )
        * ((F.col("tn") + F.col("fp")).cast("decimal(38,0)") * (F.col("tn") + F.col("fn"))).cast(
            "double"
        )
    )
    return c.select("tp", "fp", "tn", "fn", (num / den).alias("mcc"))


@register(
    "ml_brier_score",
    f"""
    WITH s AS (
      SELECT least(9999, {_CENTS.format(col="o_totalprice")} // 5000) AS p_e4,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 10000 ELSE 0 END AS y_e4
      FROM orders
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST((p_e4 - y_e4) AS DECIMAL(38,0)) * (p_e4 - y_e4))
                AS DOUBLE)
             / (CAST(count(*) AS DOUBLE) * 100000000.0) AS brier
    FROM s
    """,
)
def ml_brier_score(spark, sf_dir):
    """Brier score (mean squared probability error) for the
    deterministic e4-grid price score p = min(cents/5000, 9999)/1e4
    predicting order urgency — the probability-calibration companion
    to ml_calibration_bins. Everything that touches data volume is an
    exact integer: p and y live on the e4 grid, per-row squared
    errors are exact e8 BIGINTs summed in DECIMAL(38,0) (1e8/row at
    1e12 rows -> 1e20, inside 38 digits); the score is ONE division
    by n*1e8 at the end. Truncating integer division: Spark DIV and
    DuckDB // both truncate toward zero (positive operands here).
    Scale: one scan, 2-cell aggregate. Reference analog: none
    (extends ml_calibration_bins)."""
    s = _t(spark, sf_dir, "orders").select(
        F.least(
            F.lit(9999), F.expr(_CENTS.format(col="o_totalprice") + " DIV 5000")
        ).alias("p_e4"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 10000)
        .otherwise(0)
        .alias("y_e4"),
    )
    d = F.col("p_e4") - F.col("y_e4")
    return s.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            F.sum(d.cast("decimal(38,0)") * d).cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(100000000.0))
        ).alias("brier"),
    )


def _gmm_oracle() -> str:
    head = """
    WITH stats AS (
      SELECT round(avg(p), 9) AS m, round(stddev_pop(p), 9) AS s,
             CAST(count(*) AS DOUBLE) AS n
      FROM (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS p
            FROM orders)
    ),
    d AS (
      SELECT (CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) - m) / s AS x, n
      FROM orders CROSS JOIN stats
    ),
    p0 AS (SELECT 0.5 AS wgt, -1.0 AS mu1, 1.0 AS v1, 1.0 AS mu2, 1.0 AS v2)"""
    steps = []
    for i in range(3):
        steps.append(
            f"""
    r{i} AS (
      SELECT x, n,
             (wgt * exp(-(x - mu1) * (x - mu1) / (2 * v1)) / sqrt(v1))
               / ((wgt * exp(-(x - mu1) * (x - mu1) / (2 * v1)) / sqrt(v1))
                  + ((1 - wgt) * exp(-(x - mu2) * (x - mu2) / (2 * v2)) / sqrt(v2)))
               AS r
      FROM d CROSS JOIN p{i}
    ),
    m{i} AS (
      SELECT round(sum(r) / max(n), 9) AS wgt_n,
             round(sum(r * x) / sum(r), 9) AS mu1_n,
             round(sum(r * x * x) / sum(r)
                   - (sum(r * x) / sum(r)) * (sum(r * x) / sum(r)), 9) AS v1_n,
             round(sum((1 - r) * x) / sum(1 - r), 9) AS mu2_n,
             round(sum((1 - r) * x * x) / sum(1 - r)
                   - (sum((1 - r) * x) / sum(1 - r))
                     * (sum((1 - r) * x) / sum(1 - r)), 9) AS v2_n
      FROM r{i}
    ),
    p{i + 1} AS (SELECT wgt_n AS wgt, mu1_n AS mu1, v1_n AS v1,
                        mu2_n AS mu2, v2_n AS v2 FROM m{i})"""
        )
    return (
        head
        + ","
        + ",".join(steps)
        + """
    SELECT round(wgt, 6) + 0 AS weight1, round(mu1, 6) + 0 AS mu1,
           round(v1, 6) + 0 AS var1, round(mu2, 6) + 0 AS mu2,
           round(v2, 6) + 0 AS var2,
           (SELECT CAST(n AS BIGINT) FROM stats) AS n_rows
    FROM p3"""
    )


@register("ml_gmm_em_1d", _gmm_oracle())
def ml_gmm_em_1d(spark, sf_dir):
    """2-component 1-D Gaussian mixture on standardized order totals,
    fit by 3 fixed EM iterations — expectation-maximization as the
    third iterative-optimizer family next to gradient descent
    (ml_logistic_regression_gd) and Lloyd's (ml_kmeans_lloyd). Each
    iteration is ONE partial-aggregable scan: the E-step
    responsibility is a per-row closed form of the 5-value parameter
    row; the M-step reduces to five moment sums whose ratios are
    rounded to 1e-9 (the pinned-trajectory doctrine — identical
    parameter walk both engines despite partition-order float sums
    and libm-exp ulps; the shared 1/sqrt(2*pi) pdf factor is
    cancelled analytically rather than trusted to libm). Since r9
    each round's 1-row parameter aggregate comes back to the DRIVER
    and rides the next round's E-step as literals — the gbt/logistic
    multiplicity doctrine (SCALE.md): the lazy parameter chain nested
    the `stats` standardization aggregate and every earlier round
    inside each broadcast build, and ReuseExchange does not dedupe
    across those boundaries (SCALE.md §Round-9 multiplicity A/Bs: 1.22s lazy vs 1.10s
    literals at sf0.1, all interleaved reps strictly ordered,
    identical output — the collected values ARE the 1e-9-rounded
    walk, so cross-engine parity is untouched). At 100 TB you'd cache
    the standardized projection across the 3 scans; the per-iteration
    shuffle is a 5-cell aggregate and the parameters are still 1 row.
    Final parameters ship on the 1e-6 grid. Reference analog: none
    (extends the SQL-native iterative-ML family)."""
    cents = F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
    orders = _t(spark, sf_dir, "orders")
    st = orders.select(cents.alias("p")).agg(
        F.round(F.avg("p"), 9).alias("m"),
        F.round(F.stddev_pop("p"), 9).alias("s"),
        F.count("*").cast("double").alias("n"),
    ).collect()[0]
    m, s, n = float(st["m"]), float(st["s"]), float(st["n"])
    d = orders.select(((cents - F.lit(m)) / F.lit(s)).alias("x"))
    wgt, mu1, v1, mu2, v2 = 0.5, -1.0, 1.0, 1.0, 1.0
    for _ in range(3):
        x = F.col("x")
        p1 = (
            F.lit(wgt)
            * F.exp(-(x - F.lit(mu1)) * (x - F.lit(mu1)) / (2 * F.lit(v1)))
            / F.sqrt(F.lit(v1))
        )
        p2 = (
            (1 - F.lit(wgt))
            * F.exp(-(x - F.lit(mu2)) * (x - F.lit(mu2)) / (2 * F.lit(v2)))
            / F.sqrt(F.lit(v2))
        )
        r = (p1 / (p1 + p2)).alias("r")
        row = d.select(r, x.alias("x")).agg(
            F.round(F.sum("r") / F.lit(n), 9).alias("wgt"),
            F.round(F.sum(F.col("r") * F.col("x")) / F.sum("r"), 9).alias("mu1"),
            F.round(
                F.sum(F.col("r") * F.col("x") * F.col("x")) / F.sum("r")
                - (F.sum(F.col("r") * F.col("x")) / F.sum("r"))
                * (F.sum(F.col("r") * F.col("x")) / F.sum("r")),
                9,
            ).alias("v1"),
            F.round(
                F.sum((1 - F.col("r")) * F.col("x")) / F.sum(F.lit(1) - F.col("r")), 9
            ).alias("mu2"),
            F.round(
                F.sum((1 - F.col("r")) * F.col("x") * F.col("x"))
                / F.sum(F.lit(1) - F.col("r"))
                - (F.sum((1 - F.col("r")) * F.col("x")) / F.sum(F.lit(1) - F.col("r")))
                * (F.sum((1 - F.col("r")) * F.col("x")) / F.sum(F.lit(1) - F.col("r"))),
                9,
            ).alias("v2"),
        ).collect()[0]
        wgt, mu1, v1, mu2, v2 = (
            float(row["wgt"]),
            float(row["mu1"]),
            float(row["v1"]),
            float(row["mu2"]),
            float(row["v2"]),
        )
    zero = F.lit(0.0)
    return spark.range(1).select(
        (F.round(F.lit(wgt), 6) + zero).alias("weight1"),
        (F.round(F.lit(mu1), 6) + zero).alias("mu1"),
        (F.round(F.lit(v1), 6) + zero).alias("var1"),
        (F.round(F.lit(mu2), 6) + zero).alias("mu2"),
        (F.round(F.lit(v2), 6) + zero).alias("var2"),
        F.lit(int(n)).cast("long").alias("n_rows"),
    )


# -- HMM tables (fixed, public-knowledge toy parameterization) -------------
# state 1 = "browsing", state 2 = "transacting"
_T11, _T12, _T21, _T22 = 0.8, 0.2, 0.3, 0.7


_EMIT1 = {"view": 0.4, "click": 0.3, "signup": 0.1, "purchase": 0.1, "error": 0.1}


_EMIT2 = {"view": 0.1, "click": 0.2, "signup": 0.1, "purchase": 0.5, "error": 0.1}


def _emit_case(col: str, table: dict[str, float]) -> str:
    whens = " ".join(f"WHEN '{k}' THEN {v}" for k, v in table.items())
    return f"(CASE {col} {whens} ELSE 0.1 END)"


def _hmm_step_sql(a1: str, a2: str, ty: str) -> tuple[str, str]:
    """The normalized forward step with every subterm inlined so the
    operation tree is literally identical on both engines."""
    e1 = _emit_case(ty, _EMIT1)
    e2 = _emit_case(ty, _EMIT2)
    u1 = f"(({a1} * {_T11} + {a2} * {_T21}) * {e1})"
    u2 = f"(({a1} * {_T12} + {a2} * {_T22}) * {e2})"
    return f"({u1} / ({u1} + {u2}))", f"({u2} / ({u1} + {u2}))"


_HMM_A1, _HMM_A2 = _hmm_step_sql("w.a1", "w.a2", "e.event_type")


@register(
    "ml_hmm_forward",
    f"""
    WITH RECURSIVE ev AS MATERIALIZED (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    seqlen AS (SELECT user_id, max(rn) AS len FROM ev GROUP BY user_id),
    walk(user_id, rn, a1, a2) AS (
      SELECT user_id, 0, CAST(0.5 AS DOUBLE), CAST(0.5 AS DOUBLE) FROM seqlen
      UNION ALL
      SELECT w.user_id, w.rn + 1, {_HMM_A1}, {_HMM_A2}
      FROM walk w JOIN ev e ON e.user_id = w.user_id AND e.rn = w.rn + 1
    ),
    fin AS (
      SELECT w.user_id, w.a2 AS p_transacting, s.len
      FROM walk w JOIN seqlen s ON w.user_id = s.user_id AND w.rn = s.len
    )
    SELECT CAST(least(9, CAST(floor(p_transacting * 10) AS BIGINT)) AS BIGINT)
             AS band,
           CAST(count(*) AS BIGINT) AS n_users,
           min(p_transacting) AS min_p,
           max(p_transacting) AS max_p
    FROM fin GROUP BY 1 ORDER BY band
    """,
)
def ml_hmm_forward(spark, sf_dir):
    """2-state HMM forward posterior P(transacting | event sequence)
    per user, via the normalized (scaled) forward algorithm with
    fixed transition/emission tables — sequence-model inference as a
    pure SQL fold. The recursion is a per-user SEQUENTIAL fold under
    the total (ts, event_id) order: Spark sorts the collected
    sequence and folds it with F.aggregate; the oracle walks the
    identical recursion as a recursive CTE — the ml_average_precision
    sequential-fold doctrine. Every step is multiply/divide over
    rational constants (the normalization replaces the usual
    log-likelihood scaling, so there is NO exp/ln anywhere), which
    makes the posteriors bitwise identical cross-engine by IEEE
    arithmetic alone; banding by floor(p*10) is then safe. Scale: one
    groupBy(user) shuffle to assemble sequences (bounded per-user
    arrays), the fold is narrow per-row work; at 100 TB this is the
    applyInPandasWithState/transformWithState shape, expressed
    statelessly. Reference analog: none (extends
    ml_markov_transition_matrix to latent state)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.struct("ts", "event_id", "event_type").alias("s")
    )
    seqs = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list("s")).alias("seq")
    )
    a1_t, a2_t = _hmm_step_sql("acc.a1", "acc.a2", "x.event_type")
    fold = F.expr(
        f"""
        aggregate(
          seq,
          named_struct('a1', CAST(0.5 AS DOUBLE), 'a2', CAST(0.5 AS DOUBLE)),
          (acc, x) -> named_struct('a1', {a1_t}, 'a2', {a2_t})
        ).a2
        """
    )
    fin = seqs.select("user_id", fold.alias("p_transacting"))
    return (
        fin.groupBy(
            F.least(F.lit(9), F.floor(F.col("p_transacting") * 10))
            .cast("long")
            .alias("band")
        )
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.min("p_transacting").alias("min_p"),
            F.max("p_transacting").alias("max_p"),
        )
        .orderBy("band")
    )


_N_TREES = 5


_RF_ORACLE = f"""
    WITH labeled AS MATERIALIZED (
      SELECT l_orderkey * 10 + l_linenumber AS rid, l_quantity AS q,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    mem AS MATERIALIZED (
      -- tree t's bootstrap byte is byte t of ONE md5 per row (hex
      -- positions 2t+1, 2t+2): 1 hash instead of {_N_TREES}, same
      -- independence
      SELECT rid, q, y, t,
             CASE WHEN ((strpos('0123456789abcdef',
                                substr(h, 2 * t + 1, 1)) - 1) * 16
                        + (strpos('0123456789abcdef',
                                  substr(h, 2 * t + 2, 1)) - 1)) % 3 <> 0
                  THEN 1 ELSE 0 END AS in_bag
      FROM (
        SELECT rid, q, y, t, md5(CAST(rid AS VARCHAR) || ':bag') AS h
        FROM labeled, (SELECT CAST(range AS INT) AS t FROM range({_N_TREES}))
      )
    ),
    pv AS (
      SELECT t, q, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
      FROM mem WHERE in_bag = 1 GROUP BY t, q
    ),
    tt AS (SELECT t, sum(n) AS nt, sum(pos) AS post FROM pv GROUP BY t),
    cum AS (
      SELECT t, q,
             sum(n) OVER (PARTITION BY t ORDER BY q) AS nl,
             sum(pos) OVER (PARTITION BY t ORDER BY q) AS posl
      FROM pv
    ),
    scored AS (
      -- predict y=1 on q <= threshold iff the left side is
      -- majority-positive; correct count is EXACT integers:
      -- best split maximizes correct = max(posl, nl-posl)
      --                              + max(post-posl, (nt-nl)-(post-posl))
      SELECT c.t, c.q AS threshold,
             greatest(c.posl, c.nl - c.posl)
               + greatest(tt.post - c.posl,
                          (tt.nt - c.nl) - (tt.post - c.posl)) AS correct,
             CASE WHEN c.posl * 2 >= c.nl THEN 1 ELSE 0 END AS left_pred,
             CASE WHEN (tt.post - c.posl) * 2 >= (tt.nt - c.nl)
                  THEN 1 ELSE 0 END AS right_pred
      FROM cum c JOIN tt ON c.t = tt.t
    ),
    best AS (
      SELECT t, threshold, left_pred, right_pred FROM (
        SELECT *, row_number() OVER (PARTITION BY t
                   ORDER BY correct DESC, threshold) AS rn
        FROM scored
      ) WHERE rn = 1
    ),
    model AS (
      SELECT list(threshold ORDER BY t) AS ths,
             list(left_pred ORDER BY t) AS lps,
             list(right_pred ORDER BY t) AS rps
      FROM best
    ),
    votes AS (
      SELECT l.y,
             list_sum(list_transform(range(1, {_N_TREES} + 1),
               i -> CASE WHEN l.q <= m.ths[i] THEN m.lps[i]
                         ELSE m.rps[i] END)) AS v
      FROM labeled l CROSS JOIN model m
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN (v * 2 > {_N_TREES}) = (y = 1)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST(sum(CASE WHEN v IN (0, {_N_TREES}) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unanimous
    FROM votes
"""


@register("ml_random_forest_vote", _RF_ORACLE)
def ml_random_forest_vote(spark, sf_dir):
    """Bagged 5-stump ensemble (a random forest reduced to its
    relational essentials): each stump trains on a DETERMINISTIC
    md5-bootstrap (~2/3 of rows — first md5 byte of rid:tree mod 3),
    picks the accuracy-optimal `q <= t` split by EXACT integer argmax
    (correct = max(posL, negL) + max(posR, negR), a total
    (correct DESC, threshold) order — no Gini floats, unlike the
    single ml_decision_stump), and each row is scored by the
    majority of the 5 votes. Training is ONE per-q pass of 2x5
    CONDITIONAL aggregates (sum(when(in_bag_t, ...)) per tree) over
    the un-expanded base, unpivoted to the (tree, q) grid only after
    aggregation — since r9; the r1-r8 shape cross-joined the 5-row
    tree dimension first (5x row expansion through the hash-agg;
    SCALE.md §Round-9 forest training: 3.13s -> 2.46s min at sf0.1, every
    interleaved rep pairwise faster, identical output — zero-count
    (t, q) rows are dropped post-unpivot to reproduce the exact
    candidate set, since a zero row would tie its cum-neighbor's
    score and could steal the argmax via the threshold tiebreak).
    No RNG anywhere, so the ensemble is reproducible across engines,
    runs and cluster sizes.
    Scale shape (r14 session 2): votes depend only on q, so the
    per-q table extended with the UNCONDITIONAL (count, sum(y)) pair
    is a sufficient statistic for inference too — n_correct is
    sum over q of (posq if the ensemble predicts 1 else nq - posq)
    and n_unanimous is sum(nq) over unanimous q. ONE conditional-
    aggregate scan collapses the facts to |distinct q| = 50 rows, a
    bounded collect brings them to the driver, and the stump argmax
    (exact integer `correct`, correct DESC / threshold ASC tiebreak,
    zero-count candidates skipped exactly like the post-unpivot
    filter) plus the vote rollup run in unbounded-int Python; the
    result returns as a literal 1-row frame. The r13 shape paid a
    second full lineitem scan for inference (broadcast model fold per
    row) — A/B at sf0.1: 1.738 s -> 0.842 s min over 5 interleaved
    reps, outputs identical (exact integers) at all three SFs.
    Everything in this entry is integer arithmetic, so the collapse
    is bit-safe by construction.
    Reference analog: the reference bags LightGBM/XGBoost
    (project/database_and_model_tools.py:126-164); this is the
    engine-native ensemble shape."""
    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid"),
        F.col("l_quantity").alias("q"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    # tree t's bootstrap byte = byte t of the ONE md5 per row (hex
    # positions 2t+1, 2t+2): 5x fewer hashes than md5(rid:t) per tree.
    # The 5 bytes are parsed ONCE per base row — conv() of the first 10
    # hex chars into a 40-bit BIGINT — and each tree's byte is a shift/
    # mask, instead of 2 instr+substr string ops per (row, tree)
    # membership test. Bit-identical to the hex math (verified over
    # all 6M sf0.1 rids; that r8 A/B measured 2.90s vs 3.27s min at
    # sf0.1 on the then-current expanded-grid shape); the DuckDB
    # oracle keeps the explicit hex arithmetic, so the equality is
    # cross-checked on every gate run.
    hashed = li.select(
        "q",
        "y",
        F.conv(
            F.substr(
                F.md5(F.concat(F.col("rid").cast("string"), F.lit(":bag"))),
                F.lit(1),
                F.lit(2 * _N_TREES),
            ),
            16,
            10,
        )
        .cast("long")
        .alias("hv"),
    )
    # hv packs _N_TREES bytes big-endian into a signed long; 7 bytes is
    # the capacity (8 flips the sign bit, and Java shiftright masks the
    # shift mod 64, so overshoot is silent wrong buckets, not an error).
    assert _N_TREES <= 7, "hv packs _N_TREES bytes into a signed long"
    # ONE pass: per-tree in-bag counts PLUS the unconditional (nq,
    # posq) pair that makes the 50-row table sufficient for inference
    # (see docstring). Bounded collect; everything after is exact
    # integer arithmetic on the driver.
    aggs = [
        F.count(F.lit(1)).cast("long").alias("nq"),
        F.sum("y").cast("long").alias("posq"),
    ]
    for t in range(_N_TREES):
        in_bag = (
            F.expr(f"shiftright(hv, ({_N_TREES - 1} - {t}) * 8) % 256") % 3
        ) != 0
        aggs.append(
            F.sum(F.when(in_bag, 1).otherwise(0)).cast("long").alias(f"n{t}")
        )
        aggs.append(
            F.sum(F.when(in_bag, F.col("y")).otherwise(0))
            .cast("long")
            .alias(f"pos{t}")
        )
    rows = sorted(hashed.groupBy("q").agg(*aggs).collect(), key=lambda r: r["q"])
    model = []  # per tree: (threshold, left_pred, right_pred)
    for t in range(_N_TREES):
        nt = sum(r[f"n{t}"] for r in rows)
        post = sum(r[f"pos{t}"] for r in rows)
        nl = 0
        posl = 0
        best = None  # (correct, threshold, left_pred, right_pred)
        for r in rows:
            nl += r[f"n{t}"]
            posl += r[f"pos{t}"]
            if r[f"n{t}"] <= 0:
                continue  # reproduce the expanded-grid candidate set
            correct = max(posl, nl - posl) + max(
                post - posl, (nt - nl) - (post - posl)
            )
            if best is None or correct > best[0] or (
                correct == best[0] and r["q"] < best[1]
            ):
                best = (
                    correct,
                    r["q"],
                    1 if posl * 2 >= nl else 0,
                    1 if (post - posl) * 2 >= (nt - nl) else 0,
                )
        model.append(best[1:])
    n_rows = n_correct = n_unanimous = 0
    for r in rows:
        q, nq, posq = r["q"], r["nq"], r["posq"]
        v = sum(lp if q <= th else rp for th, lp, rp in model)
        n_rows += nq
        n_correct += posq if v * 2 > _N_TREES else nq - posq
        if v in (0, _N_TREES):
            n_unanimous += nq
    return spark.range(1).select(
        F.lit(n_rows).cast("long").alias("n_rows"),
        F.lit(n_correct).cast("long").alias("n_correct"),
        F.lit(n_unanimous).cast("long").alias("n_unanimous"),
    )


_SNAPSHOTS = ["1996-01-01", "1997-01-01", "1998-01-01", "1999-01-01", "2000-01-01"]


@register(
    "ml_churn_labels_point_in_time",
    f"""
    WITH snaps AS (
      SELECT CAST(s AS DATE) AS snap
      FROM (SELECT unnest([{", ".join(f"'{s}'" for s in _SNAPSHOTS)}]) AS s)
    ),
    o AS (SELECT o_custkey AS cust, CAST(o_orderdate AS DATE) AS d FROM orders),
    feat AS (
      SELECT s.snap, o.cust,
             CAST(count(*) AS BIGINT) AS orders_90d_before
      FROM snaps s JOIN o
        ON date_diff('day', o.d, s.snap) > 0
       AND date_diff('day', o.d, s.snap) <= 90
      GROUP BY s.snap, o.cust
    ),
    lab AS (
      SELECT s.snap, o.cust, CAST(1 AS BIGINT) AS retained
      FROM snaps s JOIN o
        ON date_diff('day', s.snap, o.d) >= 0
       AND date_diff('day', s.snap, o.d) < 90
      GROUP BY s.snap, o.cust
    )
    SELECT CAST(f.snap AS DATE) AS snapshot_date,
           CAST(count(*) AS BIGINT) AS n_active,
           CAST(sum(CASE WHEN l.retained IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_churned,
           CAST(sum(CASE WHEN l.retained IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS churn_rate,
           CAST(sum(f.orders_90d_before) AS BIGINT) AS feature_order_mass
    FROM feat f LEFT JOIN lab l ON f.snap = l.snap AND f.cust = l.cust
    GROUP BY f.snap ORDER BY snapshot_date
    """,
)
def ml_churn_labels_point_in_time(spark, sf_dir):
    """Point-in-time-correct churn-label generation: for each snapshot
    date, the FEATURE window is the 90 days strictly before the
    snapshot and the LABEL window is the 90 days from it — no row can
    see its own future, the leakage discipline every training-data
    pipeline needs (and the reason SCD2 point-in-time joins exist —
    ext_scd2_point_in_time_join is the dimension-side twin). Windows
    are integer day-diff predicates (datediff here, date_diff in the
    oracle — both exact integer days); counts and the feature mass
    are exact; churn_rate is one division per snapshot. Scale: the
    snapshot grid is a 5-row broadcast against one orders scan; both
    aggregates are partial-aggregable on (snap, cust). Reference
    analog: none (training-label extension of ext_cohort_retention)."""
    snaps = local_frame(
        spark, [(s,) for s in _SNAPSHOTS], "snap_s string"
    ).select(F.col("snap_s").cast("date").alias("snap"))
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"), F.col("o_orderdate").cast("date").alias("d")
    )
    feat = (
        o.crossJoin(F.broadcast(snaps))
        .where(
            (F.datediff(F.col("snap"), F.col("d")) > 0)
            & (F.datediff(F.col("snap"), F.col("d")) <= 90)
        )
        .groupBy("snap", "cust")
        .agg(F.count("*").cast("long").alias("orders_90d_before"))
    )
    lab = (
        o.crossJoin(F.broadcast(snaps))
        .where(
            (F.datediff(F.col("d"), F.col("snap")) >= 0)
            & (F.datediff(F.col("d"), F.col("snap")) < 90)
        )
        .groupBy("snap", "cust")
        .agg(F.lit(1).cast("long").alias("retained"))
    )
    return (
        feat.join(lab, ["snap", "cust"], "left")
        .groupBy(F.col("snap").alias("snapshot_date"))
        .agg(
            F.count("*").cast("long").alias("n_active"),
            F.sum(F.when(F.col("retained").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_churned"),
            (
                F.sum(F.when(F.col("retained").isNull(), 1).otherwise(0)).cast("double")
                / F.count("*")
            ).alias("churn_rate"),
            F.sum("orders_90d_before").cast("long").alias("feature_order_mass"),
        )
        .orderBy("snapshot_date")
    )


@register(
    "ml_target_encoding_loo",
    f"""
    WITH base AS (
      SELECT c.c_mktsegment AS seg,
             {_CENTS.format(col="o.o_totalprice")} AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    stats AS (
      SELECT seg, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s
      FROM base GROUP BY seg
    ),
    enc AS (
      SELECT b.seg,
             ((st.s - b.cents) * 10000) // (st.n - 1) AS loo_e4
      FROM base b JOIN stats st ON b.seg = st.seg
      WHERE st.n > 1
    )
    SELECT seg, loo_e4 // 10000000 AS loo_band,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(loo_e4) AS BIGINT) AS min_loo_e4,
           CAST(max(loo_e4) AS BIGINT) AS max_loo_e4
    FROM enc GROUP BY seg, loo_e4 // 10000000
    ORDER BY seg, loo_band
    """,
)
def ml_target_encoding_loo(spark, sf_dir):
    """Leave-one-out target encoding: each row's categorical feature
    value becomes the mean target of its category EXCLUDING the row
    itself — (S_cat - cents) / (n_cat - 1) — the leakage-safe
    high-cardinality encoder (plain target encoding would leak each
    row's own label into its feature; the LOO form is what sklearn's
    TargetEncoder and CatBoost's ordered boosting approximate).
    Exactness: the encoding is computed as an EXACT e4 integer via
    truncating division (Spark DIV / DuckDB //, both toward zero —
    operands are positive), so the band histogram is exact at any
    SF — no float banding boundary anywhere. Scale: one join +
    groupBy to the 5-row stats table broadcast back; the encode pass
    is narrow. Reference analog: reference label-encodes categoricals
    (project/database_and_model_tools.py:96-112); this is the
    target-aware upgrade."""
    base = (
        _t(spark, sf_dir, "orders")
        .join(
            _t(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.expr(_CENTS.format(col="o_totalprice")).alias("cents"),
        )
    )
    stats = base.groupBy("seg").agg(
        F.count("*").cast("long").alias("n"), F.sum("cents").cast("long").alias("s")
    )
    enc = (
        base.join(F.broadcast(stats), "seg")
        .where(F.col("n") > 1)
        .select(
            "seg",
            F.expr("((s - cents) * 10000) DIV (n - 1)").alias("loo_e4"),
        )
    )
    return (
        enc.groupBy("seg", F.expr("loo_e4 DIV 10000000").alias("loo_band"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("loo_e4").cast("long").alias("min_loo_e4"),
            F.max("loo_e4").cast("long").alias("max_loo_e4"),
        )
        .orderBy("seg", "loo_band")
    )


_CURVE_FRACTIONS = [25, 77, 256]  # md5-bucket thresholds: ~10%, ~30%, 100%


def _curve_oracle() -> str:
    # train buckets: md5(rid) byte < 205 is train (the llm_train_test
    # _split constant); within train, subset via a SECOND md5 salt
    per_frac = []
    for fb in _CURVE_FRACTIONS:
        per_frac.append(
            f"""
    pv_{fb} AS (
      SELECT q, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
      FROM labeled
      WHERE split_b < 205 AND sub_b < {fb}
      GROUP BY q
    ),
    tt_{fb} AS (SELECT sum(n) AS nt, sum(pos) AS post,
                       CAST(sum(n) AS BIGINT) AS n_train FROM pv_{fb}),
    best_{fb} AS (
      SELECT threshold, left_pred, right_pred, n_train FROM (
        SELECT c.q AS threshold, tt.n_train,
               greatest(c.posl, c.nl - c.posl)
                 + greatest(tt.post - c.posl,
                            (tt.nt - c.nl) - (tt.post - c.posl)) AS correct,
               CASE WHEN c.posl * 2 >= c.nl THEN 1 ELSE 0 END AS left_pred,
               CASE WHEN (tt.post - c.posl) * 2 >= (tt.nt - c.nl)
                    THEN 1 ELSE 0 END AS right_pred,
               row_number() OVER (ORDER BY greatest(c.posl, c.nl - c.posl)
                 + greatest(tt.post - c.posl,
                            (tt.nt - c.nl) - (tt.post - c.posl)) DESC,
                 c.q) AS rn
        FROM (
          SELECT q,
                 sum(n) OVER (ORDER BY q) AS nl,
                 sum(pos) OVER (ORDER BY q) AS posl
          FROM pv_{fb}
        ) c CROSS JOIN tt_{fb} tt
      ) WHERE rn = 1
    ),
    eval_{fb} AS (
      SELECT {fb} AS frac_bucket, b.n_train,
             CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN (CASE WHEN l.q <= b.threshold
                                      THEN b.left_pred ELSE b.right_pred END) = l.y
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
      FROM labeled l CROSS JOIN best_{fb} b
      WHERE l.split_b >= 205
      GROUP BY b.n_train
    )"""
        )
    evals = " UNION ALL ".join(f"SELECT * FROM eval_{fb}" for fb in _CURVE_FRACTIONS)
    return f"""
    WITH labeled AS MATERIALIZED (
      SELECT q, y,
             ({_HEXPOS.format(p=1)}) * 16 + ({_HEXPOS.format(p=2)}) AS split_b,
             ({_HEXPOS2.format(p=1)}) * 16 + ({_HEXPOS2.format(p=2)}) AS sub_b
      FROM (
        SELECT l_quantity AS q,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
               md5(CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)) AS h,
               md5('sub:' || CAST(l_orderkey * 10 + l_linenumber AS VARCHAR))
                 AS h2
        FROM lineitem
      )
    ),{",".join(per_frac)}
    SELECT CAST(frac_bucket AS BIGINT) AS frac_bucket, n_train, n_test,
           n_correct,
           CAST(n_correct AS DOUBLE) / n_test AS test_accuracy
    FROM ({evals}) ORDER BY frac_bucket
    """


_HEXPOS2 = "strpos('0123456789abcdef', substr(h2, {p}, 1)) - 1"


@register("ml_learning_curve", _curve_oracle())
def ml_learning_curve(spark, sf_dir):
    """Learning curve: the accuracy-optimal stump is trained on
    md5-deterministic ~10% / ~30% / 100% subsets of the ~80% train
    split and each model is scored on the SAME held-out ~20% test
    split — the data-scaling diagnostic (does accuracy still climb
    with more data?) that a 100 TB training pipeline runs before
    paying for more tokens. Split and subset assignment are
    independent md5 bytes of the row id (no RNG, stable across
    engines/cluster sizes — the llm_train_test_split doctrine);
    training argmax is the exact-integer correct-count criterion
    (ml_random_forest_vote); test accuracy is integer counts + one
    division per curve point. Scale: each curve point is one
    per-value grid aggregate + broadcast model eval — all
    partial-aggregable. Reference analog: none (extends
    ml_decision_stump / llm_train_test_split)."""
    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid"),
        F.col("l_quantity").alias("q"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    labeled, _ = checkpoint_rotate(
        li.select(
            "q",
            "y",
            md5_bucket(F.col("rid").cast("string"), n_digits=2).alias("split_b"),
            md5_bucket(
                F.concat(F.lit("sub:"), F.col("rid").cast("string")), n_digits=2
            ).alias("sub_b"),
        )
    )
    test = labeled.where(F.col("split_b") >= 205)
    out = []
    for fb in _CURVE_FRACTIONS:
        train = labeled.where((F.col("split_b") < 205) & (F.col("sub_b") < fb))
        pv = train.groupBy("q").agg(
            F.count("*").cast("long").alias("n"),
            F.sum("y").cast("long").alias("pos"),
        )
        tt = pv.agg(
            F.sum("n").alias("nt"),
            F.sum("pos").alias("post"),
            F.sum("n").cast("long").alias("n_train"),
        )
        wc = Window.orderBy("q")
        cum = pv.select(
            "q", F.sum("n").over(wc).alias("nl"), F.sum("pos").over(wc).alias("posl")
        )
        correct = F.greatest(F.col("posl"), F.col("nl") - F.col("posl")) + F.greatest(
            F.col("post") - F.col("posl"),
            (F.col("nt") - F.col("nl")) - (F.col("post") - F.col("posl")),
        )
        best = (
            cum.crossJoin(F.broadcast(tt))
            .select(
                F.col("q").alias("threshold"),
                "n_train",
                correct.alias("correct"),
                F.when(F.col("posl") * 2 >= F.col("nl"), 1).otherwise(0).alias("left_pred"),
                F.when(
                    (F.col("post") - F.col("posl")) * 2 >= (F.col("nt") - F.col("nl")),
                    1,
                )
                .otherwise(0)
                .alias("right_pred"),
            )
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.orderBy(F.desc("correct"), F.asc("threshold"))
                ),
            )
            .where(F.col("rn") == 1)
            .select("threshold", "left_pred", "right_pred", "n_train")
        )
        ev = (
            test.crossJoin(F.broadcast(best))
            .select(
                "n_train",
                F.when(
                    F.when(F.col("q") <= F.col("threshold"), F.col("left_pred"))
                    .otherwise(F.col("right_pred"))
                    == F.col("y"),
                    1,
                )
                .otherwise(0)
                .alias("ok"),
            )
            .groupBy("n_train")
            .agg(
                F.count("*").cast("long").alias("n_test"),
                F.sum("ok").cast("long").alias("n_correct"),
            )
            .select(
                F.lit(fb).cast("long").alias("frac_bucket"),
                "n_train",
                "n_test",
                "n_correct",
                (F.col("n_correct").cast("double") / F.col("n_test")).alias(
                    "test_accuracy"
                ),
            )
        )
        out.append(ev)
    res = out[0]
    for o in out[1:]:
        res = res.unionAll(o)
    return res.orderBy("frac_bucket")


_TREAT = "('AUTOMOBILE', 'BUILDING')"


_CUT = "1998-01-01"


@register(
    "ml_diff_in_diff",
    f"""
    WITH cells AS (
      SELECT CASE WHEN c.c_mktsegment IN {_TREAT} THEN 1 ELSE 0 END AS treated,
             CASE WHEN o.o_orderdate >= TIMESTAMP '{_CUT} 00:00:00'
                  THEN 1 ELSE 0 END AS post,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum({_CENTS.format(col="o.o_totalprice")}) AS BIGINT) AS s
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    wide AS (
      SELECT
        max(CASE WHEN treated = 1 AND post = 0 THEN CAST(s AS DOUBLE) / n END)
          AS m_t_pre,
        max(CASE WHEN treated = 1 AND post = 1 THEN CAST(s AS DOUBLE) / n END)
          AS m_t_post,
        max(CASE WHEN treated = 0 AND post = 0 THEN CAST(s AS DOUBLE) / n END)
          AS m_c_pre,
        max(CASE WHEN treated = 0 AND post = 1 THEN CAST(s AS DOUBLE) / n END)
          AS m_c_post,
        CAST(sum(n) AS BIGINT) AS n_orders
      FROM cells
    )
    SELECT n_orders, m_t_pre, m_t_post, m_c_pre, m_c_post,
           (m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS did_estimate
    FROM wide
    """,
)
def ml_diff_in_diff(spark, sf_dir):
    """Difference-in-differences: treated = AUTOMOBILE/BUILDING
    segments, post = orders from {_CUT}; outcome = order cents. The
    four cell means come from exact integer (count, cents-sum) pairs
    — each mean is ONE double division, and the DID estimate
    (post-pre gap of treated minus control) is one fixed IEEE tree
    over the four means, shipped unrounded. The parallel-trends
    counterfactual is the control segments' shift. Scale: one join +
    4-cell partial-aggregable rollup. Reference analog: none (extends
    the ml_ab_ztest_conversion experimentation family to
    quasi-experiments)."""
    cells = (
        _t(spark, sf_dir, "orders")
        .join(_t(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_mktsegment").isin("AUTOMOBILE", "BUILDING").cast("int").alias("treated"),
            (F.col("o_orderdate") >= F.lit(_CUT).cast("timestamp")).cast("int").alias("post"),
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.expr(_CENTS.format(col="o_totalprice"))).cast("long").alias("s"),
        )
    )
    mean = F.col("s").cast("double") / F.col("n")
    wide = cells.agg(
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 0), mean)).alias("m_t_pre"),
        F.max(F.when((F.col("treated") == 1) & (F.col("post") == 1), mean)).alias("m_t_post"),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 0), mean)).alias("m_c_pre"),
        F.max(F.when((F.col("treated") == 0) & (F.col("post") == 1), mean)).alias("m_c_post"),
        F.sum("n").cast("long").alias("n_orders"),
    )
    return wide.select(
        "n_orders",
        "m_t_pre",
        "m_t_post",
        "m_c_pre",
        "m_c_post",
        (
            (F.col("m_t_post") - F.col("m_t_pre"))
            - (F.col("m_c_post") - F.col("m_c_pre"))
        ).alias("did_estimate"),
    )


@register(
    "ml_cuped_adjustment",
    f"""
    WITH per_cust AS (
      SELECT o_custkey AS cust,
             CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '{_CUT} 00:00:00'
                  THEN {_CENTS.format(col="o_totalprice")} ELSE 0 END) AS BIGINT)
               AS x,
             CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '{_CUT} 00:00:00'
                  THEN {_CENTS.format(col="o_totalprice")} ELSE 0 END) AS BIGINT)
               AS y
      FROM orders GROUP BY o_custkey
    ),
    mo AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DECIMAL(38,0)) AS sx,
             CAST(sum(y) AS DECIMAL(38,0)) AS sy,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
             CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy
      FROM per_cust
    )
    SELECT n,
           (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
             / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
             AS theta,
           ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
            * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n))
             / ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n))
             AS rho_squared
    FROM mo
    """,
)
def ml_cuped_adjustment(spark, sf_dir):
    """CUPED (Controlled-experiment Using Pre-Experiment Data):
    theta = cov(pre, post) / var(pre) over per-customer pre/post
    order cents, and the variance-reduction factor rho^2 (adjusted
    variance = (1 - rho^2) * var(post)) — the experimentation
    platform's standard sensitivity boost. Every moment (sx, sy,
    sxy, sxx, syy) accumulates EXACTLY in DECIMAL(38,0) (cents
    products ~1e16/row never overflow at any SF); theta and rho^2
    are single fixed IEEE trees over the exact moments, shipped
    unrounded. Scale: one groupBy(cust) + one 6-cell moment
    aggregate, both partial-aggregable. Reference analog: none
    (extends ml_ab_ztest_conversion)."""
    cents = F.expr(_CENTS.format(col="o_totalprice"))
    cut = F.lit(_CUT).cast("timestamp")
    per_cust = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("cust"))
        .agg(
            F.sum(F.when(F.col("o_orderdate") < cut, cents).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("o_orderdate") >= cut, cents).otherwise(0))
            .cast("long")
            .alias("y"),
        )
    )
    d38 = "decimal(38,0)"
    mo = per_cust.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum("y").cast(d38).alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("y")).cast(d38).alias("sxy"),
        F.sum(F.col("x").cast(d38) * F.col("x")).cast(d38).alias("sxx"),
        F.sum(F.col("y").cast(d38) * F.col("y")).cast(d38).alias("syy"),
    )
    cxy = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast(
        "double"
    ) / F.col("n")
    cxx = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast(
        "double"
    ) / F.col("n")
    cyy = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast(
        "double"
    ) / F.col("n")
    return mo.select(
        "n",
        (cxy / cxx).alias("theta"),
        ((cxy * cxy) / (cxx * cyy)).alias("rho_squared"),
    )


@register(
    "ml_mcnemar_test",
    f"""
    WITH preds AS (
      SELECT CASE WHEN l_quantity <= 25 THEN 1 ELSE 0 END AS a,
             CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS b,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    cells AS (
      SELECT CAST(sum(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END) AS BIGINT)
               AS only_a_right,
             CAST(sum(CASE WHEN b = y AND a <> y THEN 1 ELSE 0 END) AS BIGINT)
               AS only_b_right,
             CAST(sum(CASE WHEN a = y AND b = y THEN 1 ELSE 0 END) AS BIGINT)
               AS both_right,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM preds
    )
    SELECT only_a_right, only_b_right, both_right, n_rows,
           CAST((only_a_right - only_b_right) * (only_a_right - only_b_right)
                AS DOUBLE) / (only_a_right + only_b_right) AS mcnemar_chi2
    FROM cells
    """,
)
def ml_mcnemar_test(spark, sf_dir):
    """McNemar's paired test: do two fixed classifiers (quantity-rule
    vs discount-rule, both predicting returnflag) differ on the SAME
    rows? Only the discordant pairs matter: chi2 = (b - c)^2 /
    (b + c) over exact integer counts — one partial-aggregable scan,
    one division. The paired design is what makes comparing two
    models on one eval set statistically honest (vs two independent
    accuracy intervals). Reference analog: the reference compares
    two classifier families by bare accuracy
    (project/database_and_model_tools.py:141-164); this is the
    significance layer."""
    preds = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_quantity") <= 25).cast("int").alias("a"),
        (F.col("l_discount") >= 0.05).cast("int").alias("b"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    cells = preds.agg(
        F.sum(F.when((F.col("a") == F.col("y")) & (F.col("b") != F.col("y")), 1).otherwise(0))
        .cast("long")
        .alias("only_a_right"),
        F.sum(F.when((F.col("b") == F.col("y")) & (F.col("a") != F.col("y")), 1).otherwise(0))
        .cast("long")
        .alias("only_b_right"),
        F.sum(F.when((F.col("a") == F.col("y")) & (F.col("b") == F.col("y")), 1).otherwise(0))
        .cast("long")
        .alias("both_right"),
        F.count("*").cast("long").alias("n_rows"),
    )
    d = F.col("only_a_right") - F.col("only_b_right")
    return cells.select(
        "only_a_right",
        "only_b_right",
        "both_right",
        "n_rows",
        ((d * d).cast("double") / (F.col("only_a_right") + F.col("only_b_right"))).alias(
            "mcnemar_chi2"
        ),
    )


# SPRT design: H0 p=0.35 vs H1 p=0.45, alpha = beta = 0.05.
_P0, _P1 = 0.35, 0.45


# Python-computed constants injected into BOTH engines: the per-row
# LLR is then pure multiply/add of identical doubles — no libm ln()
# call in either engine, so no cross-engine ulp risk at the boundary.
# CAST(<17-digit repr> AS DOUBLE) round-trips the exact float in both
# engines (bare decimal literals would parse as DECIMAL in both).
_LA_F = math.log(_P1 / _P0)


_LB_F = math.log((1 - _P1) / (1 - _P0))


_UPPER_F = math.log((1 - 0.05) / 0.05)


_LOWER_F = math.log(0.05 / (1 - 0.05))


_LA = f"CAST({_LA_F!r} AS DOUBLE)"


_LB = f"CAST({_LB_F!r} AS DOUBLE)"


_UPPER = f"CAST({_UPPER_F!r} AS DOUBLE)"


_LOWER = f"CAST({_LOWER_F!r} AS DOUBLE)"


@register(
    "ml_sprt_stopping",
    f"""
    WITH stream AS (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS x,
             row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ),
    walk AS (
      SELECT rn,
             sum(x) OVER (ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k
      FROM stream
    ),
    llr AS (
      SELECT rn, k,
             k * ({_LA}) + (rn - k) * ({_LB}) AS llr
      FROM walk
    ),
    crossers AS (
      SELECT 0 AS prio, rn, k, llr,
             CASE WHEN llr >= ({_UPPER}) THEN 'accept_h1'
                  ELSE 'accept_h0' END AS decision
      FROM llr WHERE llr >= ({_UPPER}) OR llr <= ({_LOWER})
    ),
    fallback AS (
      SELECT 1 AS prio, rn, k, llr, 'no_decision' AS decision
      FROM llr ORDER BY rn DESC LIMIT 1
    ),
    pick AS (
      SELECT * FROM (SELECT * FROM crossers UNION ALL SELECT * FROM fallback)
      ORDER BY prio, rn LIMIT 1
    )
    SELECT decision, CAST(rn AS BIGINT) AS stop_n, CAST(k AS BIGINT) AS k_at_stop,
           llr AS llr_at_stop
    FROM pick
    """,
)
def ml_sprt_stopping(spark, sf_dir):
    """Wald's SPRT over the time-ordered urgent-order stream (H0
    p=0.35 vs H1 p=0.45, alpha=beta=0.05): stop at the FIRST row
    whose LLR leaves the (ln(1/19), ln(19)) band — the always-valid
    sequential test an experimentation platform runs instead of
    fixed-horizon peeking. Exactness: the running success count k is
    an exact integer window sum under the total (orderdate, orderkey)
    order; the LLR slopes are PYTHON-computed double literals
    injected into both engines' SQL (no libm ln() at query time), so
    llr = k*a + (n-k)*b is a bitwise-identical IEEE expression and
    the first-crossing argmin (prio, rn) is total-ordered. Scale: one
    global-ordered running sum (range-partitioned sort at 100 TB) +
    a TakeOrdered(1). Reference analog: none (sequential upgrade of
    ml_ab_ztest_conversion)."""
    stream = _t(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("x"),
        F.row_number()
        .over(Window.orderBy("o_orderdate", "o_orderkey"))
        .alias("rn"),
    )
    walk = stream.select(
        "rn",
        F.sum("x")
        .over(
            Window.orderBy("rn").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("k"),
    )
    llr = walk.select(
        "rn",
        "k",
        (
            F.col("k") * F.expr(_LA) + (F.col("rn") - F.col("k")) * F.expr(_LB)
        ).alias("llr"),
    )
    crossers = llr.where(
        (F.col("llr") >= F.expr(_UPPER)) | (F.col("llr") <= F.expr(_LOWER))
    ).select(
        F.lit(0).alias("prio"),
        "rn",
        "k",
        "llr",
        F.when(F.col("llr") >= F.expr(_UPPER), "accept_h1")
        .otherwise("accept_h0")
        .alias("decision"),
    )
    fallback = (
        llr.orderBy(F.desc("rn"))
        .limit(1)
        .select(
            F.lit(1).alias("prio"), "rn", "k", "llr", F.lit("no_decision").alias("decision")
        )
    )
    return (
        crossers.unionAll(fallback)
        .orderBy("prio", "rn")
        .limit(1)
        .select(
            "decision",
            F.col("rn").cast("long").alias("stop_n"),
            F.col("k").cast("long").alias("k_at_stop"),
            F.col("llr").alias("llr_at_stop"),
        )
    )


@register(
    "ml_winsorized_mean",
    f"""
    WITH c AS (
      SELECT {_CENTS.format(col="o_totalprice")} AS cents FROM orders
    ),
    bounds AS (
      SELECT CAST(floor(quantile_cont(cents, 0.05)) AS BIGINT) AS lo,
             CAST(floor(quantile_cont(cents, 0.95)) AS BIGINT) AS hi
      FROM c
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN cents < lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clamped_low,
           CAST(sum(CASE WHEN cents > hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clamped_high,
           CAST(sum(greatest(lo, least(hi, cents))) AS BIGINT)
             AS winsorized_cents,
           CAST(sum(greatest(lo, least(hi, cents))) AS DOUBLE) / count(*)
             AS winsorized_mean_cents
    FROM c CROSS JOIN bounds
    """,
)
def ml_winsorized_mean(spark, sf_dir):
    """5/95-winsorized mean of order cents — the outlier-robust center
    estimate (clamp, don't drop — unlike a trimmed mean the sample
    size is preserved). Exactness: the percentile bounds ride the
    proven Spark percentile == DuckDB quantile_cont interpolation
    pair and are floor()ed to integer cents BEFORE touching data
    (floor of a bitwise-identical double is safe), so every clamped
    value is an exact integer, the winsorized sum is exact, and the
    mean is ONE division. Scale: one percentile pass + one clamp-sum
    pass, both partial-aggregable; bounds ride a 1-row broadcast.
    Reference analog: none (robust companion to ref_stats_global /
    ext_mad_outliers)."""
    c = _t(spark, sf_dir, "orders").select(
        F.expr(_CENTS.format(col="o_totalprice")).alias("cents")
    )
    bounds = c.agg(
        F.floor(F.expr("percentile(cents, 0.05)")).cast("long").alias("lo"),
        F.floor(F.expr("percentile(cents, 0.95)")).cast("long").alias("hi"),
    )
    clamped = F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("cents")))
    return c.crossJoin(F.broadcast(bounds)).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("cents") < F.col("lo"), 1).otherwise(0))
        .cast("long")
        .alias("n_clamped_low"),
        F.sum(F.when(F.col("cents") > F.col("hi"), 1).otherwise(0))
        .cast("long")
        .alias("n_clamped_high"),
        F.sum(clamped).cast("long").alias("winsorized_cents"),
        (F.sum(clamped).cast("double") / F.count("*")).alias("winsorized_mean_cents"),
    )


@register(
    "ml_item_item_cosine",
    """
    WITH buyers AS (
      SELECT DISTINCT l.l_partkey AS part, o.o_custkey AS cust
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    sz AS (SELECT part, CAST(count(*) AS BIGINT) AS n FROM buyers GROUP BY part),
    pairs AS (
      SELECT a.part AS i, b.part AS j, CAST(count(*) AS BIGINT) AS nij
      FROM buyers a JOIN buyers b ON a.cust = b.cust AND a.part < b.part
      GROUP BY a.part, b.part
    ),
    scored AS (
      SELECT p.i, p.j, p.nij, si.n AS ni, sj.n AS nj,
             round(CAST(p.nij AS DOUBLE)
                   / sqrt(CAST(si.n AS DOUBLE) * CAST(sj.n AS DOUBLE)), 4)
               AS cosine
      FROM pairs p JOIN sz si ON p.i = si.part JOIN sz sj ON p.j = sj.part
    )
    SELECT i, j, nij, ni, nj, cosine FROM scored
    ORDER BY cosine DESC, i, j LIMIT 10
    """,
)
def ml_item_item_cosine(spark, sf_dir):
    """Item-item collaborative filtering: cosine similarity of parts
    over their co-buyer sets — cos(i,j) = |buyers_i ∩ buyers_j| /
    sqrt(|buyers_i| * |buyers_j|) — the neighborhood recommender
    (Sarwar et al. 2001) next to the factorization path
    (ml_als_recommend). Pair generation is keyed per CUSTOMER
    (bounded basket sizes — pairs grow with Sum(basket^2), linear in
    rows for bounded baskets), never an all-parts cross join; sizes
    broadcast back. The cosine rides the 4dp grid with a total
    (cosine, i, j) order; counts are exact integers; the integer
    products are cast to double BEFORE multiplying (identical
    nearest-even both engines) and take one sqrt. Scale: the same
    candidate-bounded shape as llm_lsh_candidate_pairs. Reference
    analog: none (extends ml_als_recommend / graph_common_neighbors)."""
    buyers = (
        _t(spark, sf_dir, "lineitem")
        .join(_t(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("l_partkey").alias("part"), F.col("o_custkey").alias("cust"))
        .distinct()
    )
    sz = buyers.groupBy("part").agg(F.count("*").cast("long").alias("n"))
    a, b = buyers.alias("a"), buyers.alias("b")
    pairs = (
        a.join(b, (F.col("a.cust") == F.col("b.cust")) & (F.col("a.part") < F.col("b.part")))
        .groupBy(F.col("a.part").alias("i"), F.col("b.part").alias("j"))
        .agg(F.count("*").cast("long").alias("nij"))
    )
    si = sz.withColumnRenamed("part", "i").withColumnRenamed("n", "ni")
    sj = sz.withColumnRenamed("part", "j").withColumnRenamed("n", "nj")
    scored = (
        pairs.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .select(
            "i",
            "j",
            "nij",
            "ni",
            "nj",
            F.round(
                F.col("nij").cast("double")
                / F.sqrt(F.col("ni").cast("double") * F.col("nj").cast("double")),
                4,
            ).alias("cosine"),
        )
    )
    return scored.orderBy(F.desc("cosine"), F.asc("i"), F.asc("j")).limit(10)


_SCHEMA = "grid_id bigint, reg_pred double, anomaly_score double, is_anomaly int"


def _oracle() -> str | None:
    if not refmodels.available():
        return None
    df = refmodels.score_grid_ids(np.arange(refmodels.GRID_ROWS))
    # doubles ride as QUOTED strings: a bare 17-digit literal lands in
    # DuckDB as wide DECIMAL first and the DECIMAL->DOUBLE recast can
    # be 1 ULP off the correctly-rounded string->double parse
    rows = ",\n      ".join(
        f"({int(r.grid_id)}, '{float(r.reg_pred)!r}', "
        f"'{float(r.anomaly_score)!r}', {int(r.is_anomaly)})"
        for r in df.itertuples()
    )
    return f"""
    SELECT CAST(grid_id AS BIGINT) AS grid_id,
           CAST(reg_pred AS DOUBLE) AS reg_pred,
           CAST(anomaly_score AS DOUBLE) AS anomaly_score,
           CAST(is_anomaly AS INTEGER) AS is_anomaly
    FROM (VALUES
      {rows}
    ) AS t(grid_id, reg_pred, anomaly_score, is_anomaly)
    """


if refmodels.available():

    @register("ml_model_exact_scoring", _oracle())
    def ml_model_exact_scoring(spark, sf_dir):
        """Model-exact batch scoring of the reference's present blobs
        over the fixed deterministic grid (module docstring above).
        sf_dir is unused by design: the grid is SF-independent so the
        oracle literals (generated by the identical scoring routine)
        stay valid at every scale the driver sweeps."""

        def score(batches):
            for pdf in batches:
                yield refmodels.score_grid_ids(pdf["id"].to_numpy())

        return spark.range(0, refmodels.GRID_ROWS, 1, 6).mapInPandas(
            score, schema=_SCHEMA
        )


# --------------------------------------------------------------------------
# r9 statistical additions: k-fold cross-validation (the model-selection
# loop a training platform runs constantly) — surface-freeze slot 2 of 5.
# --------------------------------------------------------------------------

_K_FOLDS = 5


# Cramer's-rule fragments for the 3x3 ridge normal equations — the same
# fixed-shape literal arithmetic as ml_ridge_regression_normal_eq
# (registry/ml.py), identical text on both engines so the doubles
# match bitwise.
_DET = (
    "(a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13)"
    " + a13*(a12*a23 - a22*a13))"
)


_B0X = (
    "(b1*(a22*a33 - a23*a23) - a12*(b2*a33 - a23*b3)"
    " + a13*(b2*a23 - a22*b3))"
)


_B1X = (
    "(a11*(b2*a33 - a23*b3) - b1*(a12*a33 - a23*a13)"
    " + a13*(a12*b3 - b2*a13))"
)


_B2X = (
    "(a11*(a22*b3 - b2*a23) - a12*(a12*b3 - b2*a13)"
    " + b1*(a12*a23 - a22*a13))"
)


_KFOLD_SQL = f"""
    WITH f AS (
      SELECT l_orderkey * 10 + l_linenumber AS rid,
             CAST(round(l_quantity) AS BIGINT) AS x1,
             CAST(round(l_discount * 100) AS BIGINT) AS x2,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    ff AS (
      SELECT *,
             (strpos('0123456789abcdef',
                     substr(md5(CAST(rid AS VARCHAR) || ':fold'), 1, 1)) - 1)
             % {_K_FOLDS} AS fold
      FROM f
    ),
    per AS (
      SELECT fold, count(*) AS n, sum(x1) AS sx1, sum(x2) AS sx2,
             sum(y) AS sy, sum(x1 * x1) AS sx11, sum(x1 * x2) AS sx12,
             sum(x2 * x2) AS sx22, sum(x1 * y) AS sx1y, sum(x2 * y) AS sx2y
      FROM ff GROUP BY fold
    ),
    tot AS (
      SELECT sum(n) AS tn, sum(sx1) AS tsx1, sum(sx2) AS tsx2,
             sum(sy) AS tsy, sum(sx11) AS tsx11, sum(sx12) AS tsx12,
             sum(sx22) AS tsx22, sum(sx1y) AS tsx1y, sum(sx2y) AS tsx2y
      FROM per
    ),
    tr AS (
      SELECT fold,
             CAST(tn - n AS DOUBLE) AS a11,
             CAST(tsx1 - sx1 AS DOUBLE) AS a12,
             CAST(tsx2 - sx2 AS DOUBLE) AS a13,
             CAST(tsx11 - sx11 AS DOUBLE) + 1000000.0 AS a22,
             CAST(tsx12 - sx12 AS DOUBLE) AS a23,
             CAST(tsx22 - sx22 AS DOUBLE) + 1000000.0 AS a33,
             CAST(tsy - sy AS DOUBLE) AS b1,
             CAST(tsx1y - sx1y AS DOUBLE) AS b2,
             CAST(tsx2y - sx2y AS DOUBLE) AS b3
      FROM per, tot
    ),
    sol AS (
      SELECT fold,
             CAST(round({_B0X} / {_DET} * 1000000.0) AS BIGINT) AS beta0_e6,
             CAST(round({_B1X} / {_DET} * 1000000.0) AS BIGINT) AS beta1_e6,
             CAST(round({_B2X} / {_DET} * 1000000.0) AS BIGINT) AS beta2_e6
      FROM tr
    ),
    res AS (
      SELECT ff.fold,
             y * 1000000 - (beta0_e6 + beta1_e6 * x1 + beta2_e6 * x2) AS r
      FROM ff JOIN sol ON ff.fold = sol.fold
    ),
    ev AS (
      SELECT fold, CAST(count(*) AS BIGINT) AS n_test,
             sum(CAST(r AS HUGEINT) * CAST(r AS HUGEINT)) AS ssr
      FROM res GROUP BY fold
    )
    SELECT ev.fold, n_test, beta0_e6, beta1_e6, beta2_e6,
           round(sqrt(CAST(ssr AS DOUBLE) / n_test) / 1000000.0, 4) + 0
             AS rmse_cents
    FROM ev JOIN sol ON ev.fold = sol.fold
    ORDER BY ev.fold
    """


@register("ml_kfold_cv", _KFOLD_SQL)
def ml_kfold_cv(spark, sf_dir):
    """{k}-fold cross-validation of the closed-form ridge regression
    (price-cents ~ quantity + discount-cents, the
    ml_ridge_regression_normal_eq model): deterministic md5 fold
    assignment, each fold's TRAINING moments derived by global-minus-
    fold subtraction in exact BIGINTs — so the whole CV needs ONE
    moment scan for all {k} fits, not {k} — then Cramer solve per fold
    and OUT-OF-FOLD RMSE per fold. Exactness: betas are single-rounded
    to 1e-6 and carried as scaled BIGINTs, so every residual is an
    exact integer and the per-fold sum of squares accumulates in
    DECIMAL(38,0)/HUGEINT — the only float steps are the fixed-shape
    determinant expressions (identical literal text both engines) and
    one final sqrt. Scale shape: two partial-aggregable scans of the
    fact table ({k}-group exchanges), a 1-row broadcast of totals, and
    a {k}-row broadcast of solutions — the Gramian-subtraction trick
    is what makes k-fold linear-model CV O(1 scan) instead of O(k
    scans) at 100 TB. Reference analog: the reference trains its
    models offline with sklearn CV utilities; this is that loop as
    relational algebra.""".format(k=_K_FOLDS)
    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid"),
        F.round("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    f = li.withColumn(
        "fold",
        F.conv(
            F.substr(
                F.md5(F.concat(F.col("rid").cast("string"), F.lit(":fold"))),
                F.lit(1),
                F.lit(1),
            ),
            16,
            10,
        ).cast("long")
        % _K_FOLDS,
    )
    per = f.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("sx1"),
        F.sum("x2").alias("sx2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("sx11"),
        F.sum(F.col("x1") * F.col("x2")).alias("sx12"),
        F.sum(F.col("x2") * F.col("x2")).alias("sx22"),
        F.sum(F.col("x1") * F.col("y")).alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).alias("sx2y"),
    )
    tot = per.agg(
        F.sum("n").alias("tn"),
        F.sum("sx1").alias("tsx1"),
        F.sum("sx2").alias("tsx2"),
        F.sum("sy").alias("tsy"),
        F.sum("sx11").alias("tsx11"),
        F.sum("sx12").alias("tsx12"),
        F.sum("sx22").alias("tsx22"),
        F.sum("sx1y").alias("tsx1y"),
        F.sum("sx2y").alias("tsx2y"),
    )
    tr = per.crossJoin(F.broadcast(tot)).selectExpr(
        "fold",
        "CAST(tn - n AS DOUBLE) AS a11",
        "CAST(tsx1 - sx1 AS DOUBLE) AS a12",
        "CAST(tsx2 - sx2 AS DOUBLE) AS a13",
        "CAST(tsx11 - sx11 AS DOUBLE) + 1000000.0 AS a22",
        "CAST(tsx12 - sx12 AS DOUBLE) AS a23",
        "CAST(tsx22 - sx22 AS DOUBLE) + 1000000.0 AS a33",
        "CAST(tsy - sy AS DOUBLE) AS b1",
        "CAST(tsx1y - sx1y AS DOUBLE) AS b2",
        "CAST(tsx2y - sx2y AS DOUBLE) AS b3",
    )
    sol = tr.selectExpr(
        "fold",
        f"CAST(round({_B0X} / {_DET} * 1000000.0) AS BIGINT) AS beta0_e6",
        f"CAST(round({_B1X} / {_DET} * 1000000.0) AS BIGINT) AS beta1_e6",
        f"CAST(round({_B2X} / {_DET} * 1000000.0) AS BIGINT) AS beta2_e6",
    )
    res = f.join(F.broadcast(sol), "fold").selectExpr(
        "fold",
        "y * 1000000 - (beta0_e6 + beta1_e6 * x1 + beta2_e6 * x2) AS r",
    )
    ev = res.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum(
            F.expr("CAST(r AS DECIMAL(38,0)) * CAST(r AS DECIMAL(38,0))")
        ).alias("ssr"),
    )
    return (
        ev.join(F.broadcast(sol), "fold")
        .selectExpr(
            "fold",
            "n_test",
            "beta0_e6",
            "beta1_e6",
            "beta2_e6",
            "round(sqrt(CAST(ssr AS DOUBLE) / n_test) / 1000000.0, 4) + 0"
            " AS rmse_cents",
        )
        .orderBy("fold")
    )


# --------------------------------------------------------------------------
# r9 statistical additions: split-conformal prediction intervals —
# surface-freeze slot 3 of 5.
# --------------------------------------------------------------------------

_CONFORMAL_SQL = f"""
    WITH f AS (
      SELECT l_orderkey * 10 + l_linenumber AS rid,
             CAST(round(l_quantity) AS BIGINT) AS x1,
             CAST(round(l_discount * 100) AS BIGINT) AS x2,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    sp AS (
      SELECT *,
             (strpos('0123456789abcdef',
                     substr(md5(CAST(rid AS VARCHAR) || ':split'), 1, 1)) - 1)
             % 4 AS s
      FROM f
    ),
    m AS (
      SELECT count(*) AS n, sum(x1) AS sx1, sum(x2) AS sx2, sum(y) AS sy,
             sum(x1 * x1) AS sx11, sum(x1 * x2) AS sx12,
             sum(x2 * x2) AS sx22, sum(x1 * y) AS sx1y, sum(x2 * y) AS sx2y
      FROM sp WHERE s <= 1
    ),
    a AS (
      SELECT CAST(n AS DOUBLE) AS a11, CAST(sx1 AS DOUBLE) AS a12,
             CAST(sx2 AS DOUBLE) AS a13,
             CAST(sx11 AS DOUBLE) + 1000000.0 AS a22,
             CAST(sx12 AS DOUBLE) AS a23,
             CAST(sx22 AS DOUBLE) + 1000000.0 AS a33,
             CAST(sy AS DOUBLE) AS b1, CAST(sx1y AS DOUBLE) AS b2,
             CAST(sx2y AS DOUBLE) AS b3
      FROM m
    ),
    sol AS (
      SELECT CAST(round({_B0X} / {_DET} * 1000000.0) AS BIGINT) AS beta0_e6,
             CAST(round({_B1X} / {_DET} * 1000000.0) AS BIGINT) AS beta1_e6,
             CAST(round({_B2X} / {_DET} * 1000000.0) AS BIGINT) AS beta2_e6
      FROM a
    ),
    cal AS (
      SELECT rid,
             abs(y * 1000000 - (beta0_e6 + beta1_e6 * x1 + beta2_e6 * x2))
               AS ar
      FROM sp, sol WHERE s = 2
    ),
    nc AS (
      SELECT CAST(count(*) AS BIGINT) AS n_cal,
             (9 * (count(*) + 1) + 9) // 10 AS k
      FROM cal
    ),
    q AS (
      SELECT ar AS q_e6, n_cal
      FROM (SELECT ar, row_number() OVER (ORDER BY ar, rid) AS rn FROM cal),
           nc
      WHERE rn = k
    ),
    tst AS (
      SELECT abs(y * 1000000 - (beta0_e6 + beta1_e6 * x1 + beta2_e6 * x2))
               AS ar
      FROM sp, sol WHERE s = 3
    )
    SELECT min(n_cal) AS n_cal,
           CAST(count(*) AS BIGINT) AS n_test,
           min(q_e6) AS q_e6,
           CAST(sum(CASE WHEN ar <= q_e6 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_covered,
           round(CAST(sum(CASE WHEN ar <= q_e6 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) + 0 AS coverage
    FROM tst, q
    """


@register("ml_conformal_interval", _CONFORMAL_SQL)
def ml_conformal_interval(spark, sf_dir):
    """Split-conformal prediction intervals at alpha = 0.1 for the
    closed-form ridge model: deterministic md5 4-way split (50% train,
    25% calibration, 25% test), ridge fit on train (the proven
    Gramian-collapse shape), conformal quantile q = the
    ceil((n_cal+1)*0.9)-th smallest |residual| on calibration, and
    EMPIRICAL COVERAGE of pred +/- q on the held-out test split —
    split-conformal's finite-sample guarantee (coverage >= 0.9 in
    expectation, distribution-free) made measurable in-engine.
    Exactness: betas single-rounded to scaled BIGINTs make every
    |residual| an exact integer; the conformal rank k is computed in
    INTEGER arithmetic ((9*(n+1)+9) div 10 — (n+1)*0.9 in doubles can
    straddle ceil's boundary) and selected by a total-order
    row_number, so q, n_covered, and coverage's numerator are exact.
    Scale shape: one moment scan, a 1-row solution broadcast, ONE
    range-partitioned global sort of the calibration quarter (the
    ml_mann_whitney_u pass), and a partial-aggregable test scan with
    the 1-row q panel broadcast. Reference analog: none — this is the
    uncertainty-quantification step a prediction service bolts onto
    the reference's regression (M2) before publishing intervals."""
    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid"),
        F.round("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    sp = li.withColumn(
        "s",
        F.conv(
            F.substr(
                F.md5(F.concat(F.col("rid").cast("string"), F.lit(":split"))),
                F.lit(1),
                F.lit(1),
            ),
            16,
            10,
        ).cast("long")
        % 4,
    )
    m = sp.where(F.col("s") <= 1).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("sx1"),
        F.sum("x2").alias("sx2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("sx11"),
        F.sum(F.col("x1") * F.col("x2")).alias("sx12"),
        F.sum(F.col("x2") * F.col("x2")).alias("sx22"),
        F.sum(F.col("x1") * F.col("y")).alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).alias("sx2y"),
    )
    a = m.selectExpr(
        "CAST(n AS DOUBLE) AS a11",
        "CAST(sx1 AS DOUBLE) AS a12",
        "CAST(sx2 AS DOUBLE) AS a13",
        "CAST(sx11 AS DOUBLE) + 1000000.0 AS a22",
        "CAST(sx12 AS DOUBLE) AS a23",
        "CAST(sx22 AS DOUBLE) + 1000000.0 AS a33",
        "CAST(sy AS DOUBLE) AS b1",
        "CAST(sx1y AS DOUBLE) AS b2",
        "CAST(sx2y AS DOUBLE) AS b3",
    )
    sol = a.selectExpr(
        f"CAST(round({_B0X} / {_DET} * 1000000.0) AS BIGINT) AS beta0_e6",
        f"CAST(round({_B1X} / {_DET} * 1000000.0) AS BIGINT) AS beta1_e6",
        f"CAST(round({_B2X} / {_DET} * 1000000.0) AS BIGINT) AS beta2_e6",
    )
    resid = "abs(y * 1000000 - (beta0_e6 + beta1_e6 * x1 + beta2_e6 * x2)) AS ar"
    cal = (
        sp.where(F.col("s") == 2)
        .crossJoin(F.broadcast(sol))
        .selectExpr("rid", resid)
    )
    nc = cal.agg(F.count(F.lit(1)).cast("long").alias("n_cal")).selectExpr(
        "n_cal", "(9 * (n_cal + 1) + 9) div 10 AS k"
    )
    from pyspark.sql import Window

    w = Window.orderBy("ar", "rid")
    q = (
        cal.withColumn("rn", F.row_number().over(w))
        .crossJoin(F.broadcast(nc))
        .where(F.col("rn") == F.col("k"))
        .select(F.col("ar").alias("q_e6"), "n_cal")
    )
    tst = (
        sp.where(F.col("s") == 3)
        .crossJoin(F.broadcast(sol))
        .selectExpr(resid)
    )
    return tst.crossJoin(F.broadcast(q)).agg(
        F.min("n_cal").alias("n_cal"),
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.min("q_e6").alias("q_e6"),
        F.sum(F.when(F.col("ar") <= F.col("q_e6"), 1).otherwise(0))
        .cast("long")
        .alias("n_covered"),
        (
            F.round(
                F.sum(F.when(F.col("ar") <= F.col("q_e6"), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                4,
            )
            + F.lit(0)
        ).alias("coverage"),
    )


# --------------------------------------------------------------------------
# r9 time-series addition: rolling-origin backtest (walk-forward CV) —
# surface-freeze slot 5 of 5 (the r9 cap).
# --------------------------------------------------------------------------

_BACKTEST_FOLDS = 4


_BACKTEST_SQL = f"""
    WITH e AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             CAST(date_part('hour', ts) AS BIGINT) AS x,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
      FROM events
    ),
    g AS (
      SELECT day, CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(CAST(x AS HUGEINT) * x) AS sxx,
             sum(CAST(x AS HUGEINT) * y) AS sxy
      FROM e GROUP BY day
    ),
    cum AS (
      SELECT day,
             row_number() OVER (ORDER BY day DESC) AS rdesc,
             sum(n)  OVER w AS tn,  sum(sx) OVER w AS tsx,
             sum(sy) OVER w AS tsy, sum(sxx) OVER w AS tsxx,
             sum(sxy) OVER w AS tsxy
      FROM g
      WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING)
    ),
    sol AS (
      SELECT day AS test_day, CAST(tn AS BIGINT) AS n_train,
             CAST(round(
               CAST(CAST(tn AS HUGEINT) * tsxy - CAST(tsx AS HUGEINT) * tsy
                    AS DOUBLE)
               / CAST(CAST(tn AS HUGEINT) * tsxx - CAST(tsx AS HUGEINT) * tsx
                      AS DOUBLE)
               * 1000000.0) AS BIGINT) AS b1_e6
      FROM cum WHERE rdesc <= {_BACKTEST_FOLDS}
    ),
    sol2 AS (
      SELECT test_day, n_train, b1_e6,
             CAST(round(
               CAST(tsy * 1000000 - b1_e6 * tsx AS DOUBLE) / tn
             ) AS BIGINT) AS b0_e6
      FROM sol JOIN cum ON sol.test_day = cum.day
    ),
    res AS (
      SELECT test_day, n_train, b0_e6, b1_e6,
             y * 1000000 - (b0_e6 + b1_e6 * x) AS r
      FROM e JOIN sol2 ON e.day = sol2.test_day
    )
    SELECT test_day, n_train, CAST(count(*) AS BIGINT) AS n_test,
           b0_e6, b1_e6,
           round(sqrt(CAST(sum(CAST(r AS HUGEINT) * r) AS DOUBLE)
                      / count(*)) / 1000000.0, 4) + 0 AS rmse_cents
    FROM res GROUP BY test_day, n_train, b0_e6, b1_e6
    ORDER BY test_day
    """


@register("ml_rolling_origin_backtest", _BACKTEST_SQL)
def ml_rolling_origin_backtest(spark, sf_dir):
    """Rolling-origin (walk-forward) backtest — the time-series CV
    that k-fold would LEAK on: each of the last {k} days is a test
    fold whose model trains only on strictly earlier days (expanding
    window), the evaluation loop a telemetry forecaster actually runs.
    Model: value-cents ~ hour-of-day simple linear regression, solved
    closed-form per fold from EXCLUSIVE prefix sums of day-grain
    moments — the day table is calendar-bounded (30 rows here), so all
    {k} expanding-window Gramians come from ONE events scan + one
    trivial window, never {k} scans. Exactness: day-grain moments and
    their prefix sums are exact integers (cross products in
    DECIMAL(38,0)/HUGEINT — n*sxy brushes 8e18 at the 10x replica,
    past BIGINT), slope and intercept are single-rounded to scaled
    BIGINTs, residuals are exact integers, and the only remaining
    floats are one division pair and one final sqrt per fold. Scale
    shape: two partial-aggregable scans (moments; residuals vs the
    {k}-row broadcast fold panel) and a ≤31-row window. Reference
    analog: the reference's offline model selection ignores time
    order; this is the leakage-safe loop its telemetry domain calls
    for.""".format(k=_BACKTEST_FOLDS)
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").select(
        F.to_date("ts").cast("string").alias("day"),
        F.hour("ts").cast("long").alias("x"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("y"),
    )
    g = e.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    cum = g.select(
        "day",
        F.row_number().over(Window.orderBy(F.desc("day"))).alias("rdesc"),
        F.sum("n").over(w).alias("tn"),
        F.sum("sx").over(w).alias("tsx"),
        F.sum("sy").over(w).alias("tsy"),
        F.sum("sxx").over(w).alias("tsxx"),
        F.sum("sxy").over(w).alias("tsxy"),
    )
    sol = (
        cum.where(F.col("rdesc") <= _BACKTEST_FOLDS)
        .selectExpr(
            "day AS test_day",
            "CAST(tn AS BIGINT) AS n_train",
            "CAST(round("
            " CAST(CAST(tn AS DECIMAL(38,0)) * tsxy"
            "      - CAST(tsx AS DECIMAL(38,0)) * tsy AS DOUBLE)"
            " / CAST(CAST(tn AS DECIMAL(38,0)) * tsxx"
            "        - CAST(tsx AS DECIMAL(38,0)) * tsx AS DOUBLE)"
            " * 1000000.0) AS BIGINT) AS b1_e6",
            "tsx",
            "tsy",
            "tn",
        )
        .selectExpr(
            "test_day",
            "n_train",
            "b1_e6",
            "CAST(round(CAST(tsy * 1000000 - b1_e6 * tsx AS DOUBLE) / tn)"
            " AS BIGINT) AS b0_e6",
        )
    )
    res = e.join(
        F.broadcast(sol), e["day"] == sol["test_day"], "inner"
    ).selectExpr(
        "test_day",
        "n_train",
        "b0_e6",
        "b1_e6",
        "y * 1000000 - (b0_e6 + b1_e6 * x) AS r",
    )
    return (
        res.groupBy("test_day", "n_train", "b0_e6", "b1_e6")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(F.expr("CAST(r AS DECIMAL(38,0)) * r")).alias("ssr"),
        )
        .selectExpr(
            "test_day",
            "n_train",
            "n_test",
            "b0_e6",
            "b1_e6",
            "round(sqrt(CAST(ssr AS DOUBLE) / n_test) / 1000000.0, 4) + 0"
            " AS rmse_cents",
        )
        .orderBy("test_day")
    )
