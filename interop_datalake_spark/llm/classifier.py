"""In-frame training of a linear quality classifier — full-batch
logistic regression by gradient descent, as pure DataFrame algebra.

The fastText-style pattern every production corpus pipeline ends up
with: an expensive label (here: the document's curated ``lang`` tag)
is distilled into a linear model over CHEAP surface features
(mean word length, stopword ratio, log length), and the linear model
then scores the firehose at copy-bandwidth cost. Training itself is a
handful of full-batch gradient-descent steps:

    w ← w − lr · (1/N) Σ_d (σ(w·x_d) − y_d) · x_d

Each step is one aggregation over the feature frame: the per-document
gradient contribution is a column expression, the sum is a map-side-
combinable groupBy().agg(), and the 1-row weight state cross-joins
(broadcast) back onto the features for the next step. Nothing is
collected; at 100 TB each iteration is a single scan + one scalar agg
— the same execution shape as kmeans_lloyd (llm/clustering.py) and
PageRank (catalog/graph_ops.py).

Determinism contract (what makes the trajectory oracle-replayable
CTE-for-CTE in DuckDB): features are rounded to 6 dp; the sigmoid is
rounded to 9 dp before use; per-row gradient and loss contributions
are rounded to 9 dp and summed as exact DECIMAL (order-independent);
weights are carried as 9-dp DECIMAL so every iteration starts from
bit-identical state in both engines. σ stays in (0.04, 0.96) for the
bounded feature/weight ranges here, so ln(σ) and ln(1−σ) are safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from interop_datalake_spark.functions import text as T
from interop_datalake_spark.functions.fixedpoint import (
    div_half_up,
    micros_to_double,
)

#: feature column order; w[0] is the bias.
FEATURES = ["x_awl", "x_stop", "x_loglen"]


def doc_features(
    docs: DataFrame,
    label: F.Column,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, x_awl, x_stop, x_loglen, y): bounded, 6-dp-rounded surface
    features — mean word length / 10 (language-separating: word
    inventories differ in length), English-stopword ratio, and
    ln(len+1)/10. All stay in [0, ~1.2] so 3 GD steps at lr=1 keep
    w·x well inside sigmoid's safe range. (Punctuation ratio — the
    classic third feature — is omitted because the synthetic corpus
    contains no punctuation at all: a provably-dead column weakens
    the trajectory witness.)"""
    return docs.select(
        F.col(id_col),
        F.round(
            F.coalesce(T.avg_word_length(text_col).cast("double"), F.lit(0.0))
            / 10.0,
            6,
        ).alias("x_awl"),
        F.round(
            F.coalesce(T.stopword_ratio(text_col, "en"), F.lit(0.0)), 6
        ).alias("x_stop"),
        F.round(F.log(F.length(text_col) + F.lit(1.0)) / 10.0, 6).alias(
            "x_loglen"
        ),
        label.cast("int").alias("y"),
    )


def _dec(c):
    return F.round(c, 9).cast("decimal(20,9)")


def logreg_train(
    feats: DataFrame, iters: int = 3, lr: float = 1.0
) -> DataFrame:
    """Train from w = 0; returns the full trajectory — one row per
    iteration: (iter, w_bias, w_awl, w_stop, w_loglen, train_loss)
    where train_loss is the mean log-loss measured at the START of the
    iteration (so iter 1 shows the ln 2 = 0.693147 all-zero baseline
    and the decreasing column witnesses that descent actually
    descends)."""
    from decimal import Decimal

    # every iteration re-reads the feature frame; features are a few
    # doubles per document (vs the raw text they came from), so
    # persisting them is the right call at any scale — 3 iterations
    # then scan ~32 B/doc, not the corpus, three times
    feats = feats.persist()

    spark = feats.sparkSession
    zero = Decimal(0)
    w = spark.createDataFrame(
        [(zero, zero, zero, zero)],
        "w_bias DECIMAL(20,9), w_awl DECIMAL(20,9), "
        "w_stop DECIMAL(20,9), w_loglen DECIMAL(20,9)",
    )
    wcols = ["w_bias"] + [f"w_{f.split('_')[1]}" for f in FEATURES]
    rows = []
    for it in range(1, iters + 1):
        z = F.col("w_bias").cast("double") + sum(
            (F.col(wc).cast("double") * F.col(fc)
             for wc, fc in zip(wcols[1:], FEATURES)),
            F.lit(0.0),
        )
        s = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9)
        joined = feats.crossJoin(F.broadcast(w)).withColumn("_s", s)
        agg = joined.agg(
            F.count("*").alias("n"),
            F.sum(_dec(F.col("_s") - F.col("y"))).alias("g_bias"),
            *[
                F.sum(_dec((F.col("_s") - F.col("y")) * F.col(fc))).alias(
                    f"g_{fc.split('_')[1]}"
                )
                for fc in FEATURES
            ],
            F.sum(
                _dec(
                    -(
                        F.col("y") * F.log("_s")
                        + (1 - F.col("y")) * F.log(F.lit(1.0) - F.col("_s"))
                    )
                )
            ).alias("loss_sum"),
        )
        step = agg.crossJoin(F.broadcast(w)).select(
            F.lit(it).alias("iter"),
            *[
                F.round(
                    F.col(wc).cast("double")
                    - F.lit(lr)
                    * (F.col(wc.replace("w_", "g_")).cast("double") / F.col("n")),
                    9,
                )
                .cast("decimal(20,9)")
                .alias(wc)
                for wc in wcols
            ],
            # mean log-loss at 6 dp via exact BIGINT micro-units
            # (functions/fixedpoint.py) — round(double, 6) at output
            # precision is the round-4 driver-red class
            micros_to_double(
                div_half_up(
                    (F.col("loss_sum") * F.lit(1000000000)).cast("bigint"),
                    F.col("n") * F.lit(1000),
                )
            ).alias("train_loss"),
        )
        # localCheckpoint CUTS LINEAGE, not just caches: each iteration
        # embeds the previous weight plan twice (σ map + update), so
        # without the cut the logical plan doubles per round —
        # exponential planning cost by iteration ~10 (the dedup_cluster
        # convergence loop hit the identical wall)
        step = step.localCheckpoint(eager=True)
        rows.append(step)
        w = step.select(*wcols)
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    # trajectory rows are already localCheckpoint-materialized, so the
    # feature cache has served its purpose
    feats.unpersist()
    # the RECURSION state stays DECIMAL(20,9) (exact, replayable), but
    # the EMITTED weights are cast to double — decimal→double is one
    # correctly-rounded conversion, identical in Spark and DuckDB,
    # while a DECIMAL output column survives into the driver's hashing
    # layer with engine-specific canonicalization (round-4 red class)
    return out.select(
        "iter",
        *[F.col(wc).cast("double").alias(wc) for wc in wcols],
        "train_loss",
    )


def logreg_score(feats: DataFrame, weights: DataFrame) -> DataFrame:
    """Score a feature frame under a trained 1-row weight frame:
    (id, …, y, p) with p = σ(w·x) rounded to 9 dp. The broadcast
    cross-join keeps scoring a pure map — this is the cheap-firehose
    half of the distillation. Kept without a catalog caller because it
    is the model's only read-out: it pins that trained weights
    separate the classes and that scoring never shuffles
    (tests/test_classifier.py)."""
    z = F.col("w_bias").cast("double") + sum(
        (F.col(f"w_{fc.split('_')[1]}").cast("double") * F.col(fc)
         for fc in FEATURES),
        F.lit(0.0),
    )
    return feats.crossJoin(F.broadcast(weights)).select(
        *feats.columns,
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 9).alias("p"),
    )
