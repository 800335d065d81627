"""Hashing-trick linear text classifier — model-based quality
filtering plumbing. [EXT] LLM-pipeline surface (SURVEY.md §2.2).

Production corpora are filtered by trained linear classifiers over
hashed bag-of-words features (the fastText-style quality/toxicity
gates in published pipeline reports: a vocabulary-free feature
hasher, a weight per bucket, a dot product, a threshold). This
module implements BOTH halves:

  - scoring with hash-DERIVED stand-in weights
    (``text_classifier_score`` — kept as the model-free smoke of the
    plan shape: same hashing, same aggregation, zero joins);
  - IN-ENGINE TRAINING (``text_classifier_train`` + the persisted
    build/serve lifecycle ``text_classifier_index_build`` /
    ``text_classifier_score_trained``): a multinomial Naive Bayes
    model over the same hashed buckets, weak-labeled by the
    deterministic Gopher gate, producing the broadcast
    (bucket → weight) table the scoring plan anticipated.

Scoring is a PURE MAP: tokenize → hash to ``CLF_BUCKETS`` buckets →
weight → sum. No shuffle, no join, no Python — at 100 TB the
classifier runs inside the scan's whole-stage codegen and costs two
md5 evaluations per token. All arithmetic is integer micro-units, so
the DuckDB oracle replays logits bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kafkatoclickhouse_spark import artifacts
from kafkatoclickhouse_spark.functions import hashing
from kafkatoclickhouse_spark.registry import query
from kafkatoclickhouse_spark.tables import fan_out, load_table

CLF_SEED = 311          # token → bucket hash seed
CLF_WEIGHT_SEED = 313   # bucket → weight hash seed
CLF_BUCKETS = 4096
CLF_WEIGHT_SPAN = 1000  # weights span [-1000, +1000] micro-units


def _sql_weight_expr() -> str:
    """DuckDB twin of :func:`_weight_col` over lambda var ``t``."""
    bucket = (
        hashing.sql_portable_hash64("t", CLF_SEED) + f" % {CLF_BUCKETS}"
    )
    return (
        hashing.sql_portable_hash64(
            f"CAST(({bucket}) AS VARCHAR)", CLF_WEIGHT_SEED
        )
        + f" % {2 * CLF_WEIGHT_SPAN + 1} - {CLF_WEIGHT_SPAN}"
    )


@query(
    "text_classifier_score",
    oracle=f"""
    SELECT doc_id,
           CAST(COALESCE(list_aggregate(list_transform(
               list_filter(string_split_regex(lower(trim(text)),
                                              '\\s+'),
                           t -> t <> ''),
               t -> {_sql_weight_expr()}), 'sum'), 0) AS BIGINT)
             AS logit_micro,
           CAST(COALESCE(list_aggregate(list_transform(
               list_filter(string_split_regex(lower(trim(text)),
                                              '\\s+'),
                           t -> t <> ''),
               t -> {_sql_weight_expr()}), 'sum'), 0) AS BIGINT)
             >= 0 AS keep
    FROM documents
    """,
)
def text_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document classifier verdict: the integer logit (sum of
    hashed-bucket micro-weights over the lowercased whitespace bag
    of words, empty documents scoring the bias 0) and the keep flag
    at threshold 0. Bit-exact across engines; the plan has no
    key shuffle — the only exchange is the fixture fan-out's
    round-robin split guard (tables.fan_out), absent on real
    many-split layouts."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda t: t != "",
    )
    logit = F.aggregate(
        F.transform(toks, lambda t: _weight_col(t)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return docs.select(
        "doc_id",
        logit.alias("logit_micro"),
        (logit >= 0).alias("keep"),
    )


def _weight_col(t: Column) -> Column:
    """Column twin of :func:`_weight_expr` for higher-order lambdas
    (the SQL-string form can't capture a lambda variable)."""
    bucket = hashing.portable_hash64(t, CLF_SEED) % F.lit(CLF_BUCKETS)
    return (
        hashing.portable_hash64(
            bucket.cast("string"), CLF_WEIGHT_SEED
        )
        % F.lit(2 * CLF_WEIGHT_SPAN + 1)
        - F.lit(CLF_WEIGHT_SPAN)
    )


@query(
    "text_classifier_calibration",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             CAST(COALESCE(list_aggregate(list_transform(
                 list_filter(string_split_regex(lower(trim(text)),
                                                '\\s+'),
                             t -> t <> ''),
                 t -> {_sql_weight_expr()}), 'sum'), 0) AS BIGINT)
               AS logit_micro
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN logit_micro >= 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_keep,
           CAST(FLOOR(AVG(logit_micro)) AS BIGINT)
             AS mean_logit_micro_floor
    FROM scored GROUP BY source
    """,
)
def text_classifier_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source keep-rate and mean-logit report — the calibration
    surface a filtering run is monitored by (a source whose keep
    rate collapses signals domain shift against the classifier).
    Floor-of-mean keeps the aggregate on the integer grid. One
    map + one partial-aggregated groupBy at any scale."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda t: t != "",
    )
    logit = F.aggregate(
        F.transform(toks, lambda t: _weight_col(t)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        docs.select("source", logit.alias("logit_micro"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                (F.col("logit_micro") >= 0).cast("long")
            ).alias("n_keep"),
            F.floor(F.avg("logit_micro"))
            .cast("long")
            .alias("mean_logit_micro_floor"),
        )
    )


# ---------------------------------------------------------------------------
# IN-ENGINE TRAINING — multinomial Naive Bayes over the hashed buckets
# (VERDICT r10 #1: the weights slot above was a hash-derived stand-in;
# this closes it with weights PRODUCED from data inside the engine).
#
# Model: the classic multinomial NB text classifier, the standard
# from-scratch baseline behind fastText-style quality gates. Features
# are the SAME hashed bag-of-words buckets the scoring path already
# uses (CLF_SEED / CLF_BUCKETS). Labels are weak supervision from the
# deterministic Gopher §A1.1 gate (operators/text.py) — fully
# engine-replayable, so the DuckDB oracle retrains the identical
# model from raw text via CTEs.
#
# Per-bucket weight = the add-one-smoothed log-likelihood ratio
#
#   w(b) = ln( (c_keep(b)+1)/(T_keep+B) · (T_drop+B)/(c_drop(b)+1) )
#
# quantized to integer micro-nats (floor(x·1e6+0.5) — the engine-
# stable rule shared with text_unigram_logperp, same documented 1-ULP
# libm caveat). The document prior enters as a bias term
# ln((n_keep+1)/(n_drop+1)) in the same units, so the trained logit
#
#   logit(d) = bias + Σ_tokens w(bucket(token))   (≥ 0 ⇒ keep)
#
# is exact integer arithmetic at scoring time — partitioning-immune.
#
# Shuffle shape at 100 TB: labels are map-only (same projection as
# tokenization — NO label join), training is ONE bucket-keyed
# aggregate with map-side partials whose output is ≤ CLF_BUCKETS
# rows, totals ride a broadcast scalar; scoring is explode →
# broadcast weight join → one doc_id aggregate. Linear everywhere.
# ---------------------------------------------------------------------------


def _bucket_col(t: Column) -> Column:
    return hashing.portable_hash64(t, CLF_SEED) % F.lit(CLF_BUCKETS)


_SQL_CLF_BUCKET = (
    hashing.sql_portable_hash64("token", CLF_SEED) + f" % {CLF_BUCKETS}"
)


def _weight_micro_col(
    c_keep: Column, c_drop: Column, t_keep: Column, t_drop: Column
) -> Column:
    """Integer micro-nat LLR weight — shared by training, the
    persisted-index build and the unseen-bucket default so the double
    op order exists exactly once (mirrored by :func:`_sql_weight_micro`)."""
    return (
        F.floor(
            F.log(
                (c_keep + F.lit(1)).cast("double")
                / (t_keep + F.lit(CLF_BUCKETS)).cast("double")
                * (
                    (t_drop + F.lit(CLF_BUCKETS)).cast("double")
                    / (c_drop + F.lit(1)).cast("double")
                )
            )
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("long")
    )


def _sql_weight_micro(ck: str, cd: str, tk: str, td: str) -> str:
    """DuckDB twin of :func:`_weight_micro_col` — same literal op
    order: (ck+1)/(tk+B) · ((td+B)/(cd+1))."""
    b = CLF_BUCKETS
    return (
        f"CAST(FLOOR(ln(CAST({ck} + 1 AS DOUBLE)"
        f" / CAST({tk} + {b} AS DOUBLE)"
        f" * (CAST({td} + {b} AS DOUBLE)"
        f" / CAST({cd} + 1 AS DOUBLE))) * 1000000 + 0.5) AS BIGINT)"
    )


def _clf_labeled_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(keep, bucket) per token occurrence. The Gopher label is
    computed IN THE SAME PROJECTION as tokenization — a per-row
    map, so training never joins a label table."""
    from kafkatoclickhouse_spark.operators.text import gopher_keep_col

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda t: t != "",
    )
    return docs.select(
        gopher_keep_col(F.col("text")).alias("keep"),
        F.explode(toks).alias("token"),
    ).select("keep", _bucket_col(F.col("token")).alias("bucket"))


def _clf_counts_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bucket, c_keep, c_drop) over observed buckets — the entire
    sufficient statistic of multinomial NB (≤ CLF_BUCKETS rows)."""
    lab = _clf_labeled_buckets(spark, sf_dir)
    return lab.groupBy("bucket").agg(
        F.sum(F.col("keep").cast("long")).cast("long").alias("c_keep"),
        F.sum((~F.col("keep")).cast("long")).cast("long").alias("c_drop"),
    )


def _clf_weights_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bucket, c_keep, c_drop, weight_micro) — counts plus the
    smoothed LLR weight.

    r14: the counts table is ≤ CLF_BUCKETS (4096) rows — a bounded
    driver barrier by construction — so it is collected ONCE and the
    class totals summed in Python (integers, exact) instead of the
    old totals-crossJoin shape, which re-ran the whole Gopher-label +
    tokenize + explode pipeline a second time just to produce the
    2-long totals row (the DSIR λ-table fix, dsir.py). The weight's
    ln() is still evaluated BY SPARK on the collected integers, so
    floats stay bit-identical to the oracle's."""
    counts_pdf = _clf_counts_df(spark, sf_dir).toPandas()
    t_keep = int(counts_pdf["c_keep"].sum())
    t_drop = int(counts_pdf["c_drop"].sum())
    counts = spark.createDataFrame(
        counts_pdf, schema="bucket long, c_keep long, c_drop long"
    )
    return counts.select(
        "bucket",
        "c_keep",
        "c_drop",
        _weight_micro_col(
            F.col("c_keep"),
            F.col("c_drop"),
            F.lit(t_keep),
            F.lit(t_drop),
        ).alias("weight_micro"),
    )


def _sql_gopher_sub() -> str:
    from kafkatoclickhouse_spark.operators.text import _SQL_GOPHER

    return _SQL_GOPHER


# CTE chain shared by the train and trained-score oracles: weak
# labels, token buckets, per-bucket class counts, class totals.
def _sql_clf_train_ctes() -> str:
    return f"""
    gop AS (SELECT doc_id, keep FROM ({_sql_gopher_sub()})),
    rawtok AS (SELECT doc_id,
                      unnest(string_split_regex(lower(trim(text)),
                                                '\\s+')) AS token
               FROM documents),
    tb AS (SELECT doc_id, {_SQL_CLF_BUCKET} AS bucket
           FROM rawtok WHERE token <> ''),
    lab AS (SELECT bucket, keep FROM tb JOIN gop USING (doc_id)),
    counts AS (SELECT bucket,
                 CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                   AS c_keep,
                 CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
                   AS c_drop
               FROM lab GROUP BY bucket),
    tot AS (SELECT CAST(SUM(c_keep) AS BIGINT) AS t_keep,
                   CAST(SUM(c_drop) AS BIGINT) AS t_drop FROM counts)
    """


@query(
    "text_classifier_train",
    oracle=f"""
    WITH {_sql_clf_train_ctes()}
    SELECT bucket, c_keep, c_drop,
           {_sql_weight_micro("c_keep", "c_drop", "t_keep", "t_drop")}
             AS weight_micro
    FROM counts CROSS JOIN tot
    """,
)
def text_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN: multinomial-NB weight table from Gopher weak labels —
    per-bucket keep/drop token counts and the add-one-smoothed
    integer micro-nat log-likelihood-ratio weight. One bucket-keyed
    aggregate (map-side combined, ≤ {CLF_BUCKETS}-row output) over a
    label-projected token explode; the oracle retrains the identical
    model from raw text."""
    return _clf_weights_df(spark, sf_dir)


def text_classifier_index_build(
    spark: SparkSession,
    sf_dir: str,
    path: str | None = None,
    force: bool = False,
) -> str:
    """BUILD half: train once and persist the model —

      - ``weights.parquet`` (bucket, weight_micro): the broadcast
        table the scoring plan anticipated from day one.

    The key is the source fingerprint plus the bucket count and hash
    seed; the marker also carries bias_micro (document prior),
    w0_micro (unseen-bucket default = the LLR at zero counts) and the
    class totals (commit protocol: ``artifacts``).

    All scalars are computed by SPARK expressions (JVM ln), so the
    persisted model is exactly what the engine would retrain."""
    import os

    def write(path: str) -> dict:
        weights = _clf_weights_df(spark, sf_dir)
        weights.select(
            "bucket", "c_keep", "c_drop", "weight_micro"
        ).write.mode("overwrite").parquet(
            os.path.join(path, "weights.parquet")
        )
        persisted = spark.read.parquet(os.path.join(path, "weights.parquet"))
        trow = (
            persisted.agg(
                F.sum("c_keep").cast("long").alias("t_keep"),
                F.sum("c_drop").cast("long").alias("t_drop"),
            )
            .select(
                "t_keep",
                "t_drop",
                _weight_micro_col(
                    F.lit(0), F.lit(0), F.col("t_keep"), F.col("t_drop")
                ).alias("w0_micro"),
            )
            .first()
        )
        from kafkatoclickhouse_spark.operators.text import gopher_keep_col

        docs = load_table(spark, sf_dir, "documents")
        prow = (
            docs.select(gopher_keep_col(F.col("text")).alias("keep"))
            .agg(
                F.sum(F.col("keep").cast("long")).cast("long").alias("nk"),
                F.sum((~F.col("keep")).cast("long"))
                .cast("long")
                .alias("nd"),
            )
            .select(
                "nk",
                "nd",
                F.floor(
                    F.log(
                        (F.col("nk") + F.lit(1)).cast("double")
                        / (F.col("nd") + F.lit(1)).cast("double")
                    )
                    * F.lit(1000000.0)
                    + F.lit(0.5)
                )
                .cast("long")
                .alias("bias_micro"),
            )
            .first()
        )
        return {
            "t_keep": int(trow["t_keep"]),
            "t_drop": int(trow["t_drop"]),
            "w0_micro": int(trow["w0_micro"]),
            "n_keep_docs": int(prow["nk"]),
            "n_drop_docs": int(prow["nd"]),
            "bias_micro": int(prow["bias_micro"]),
        }

    key = {
        "buckets": CLF_BUCKETS,
        "seed": CLF_SEED,
    }
    return artifacts.build(sf_dir, "documents", "clf", key, write, path, force)


@query(
    "text_classifier_score_trained",
    oracle=f"""
    WITH {_sql_clf_train_ctes()},
    wts AS (SELECT bucket,
              {_sql_weight_micro("c_keep", "c_drop", "t_keep", "t_drop")}
                AS wm
            FROM counts CROSS JOIN tot),
    prior AS (SELECT CAST(FLOOR(ln(
                CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) + 1 AS DOUBLE)
                / CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) + 1 AS DOUBLE))
                * 1000000 + 0.5) AS BIGINT) AS bias_micro
              FROM gop),
    contrib AS (SELECT tb.doc_id,
                  COALESCE(w.wm,
                    {_sql_weight_micro("0", "0", "t_keep", "t_drop")}) AS wm
                FROM tb LEFT JOIN wts w USING (bucket) CROSS JOIN tot),
    persum AS (SELECT doc_id, CAST(SUM(wm) AS BIGINT) AS s
               FROM contrib GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(p.s, 0) + prior.bias_micro AS BIGINT)
             AS logit_micro,
           (COALESCE(p.s, 0) + prior.bias_micro) >= 0 AS keep
    FROM documents d LEFT JOIN persum p USING (doc_id) CROSS JOIN prior
    """,
)
def text_classifier_score_trained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SERVE: per-document verdict from the TRAINED model — scores
    read ONLY the persisted weight table + meta scalars (builds the
    index first iff absent/stale; the training path is never touched
    on a warm call — poison-tested in tests/test_classifier.py).
    Plan: token explode → broadcast join against the ≤{CLF_BUCKETS}-row
    weight table → one doc_id aggregate → left join back so empty
    documents score exactly the prior bias. The oracle retrains and
    rescores the identical model from raw text via CTEs."""
    import os

    path = text_classifier_index_build(spark, sf_dir)
    meta = artifacts.read_meta(path)
    weights = spark.read.parquet(
        os.path.join(path, "weights.parquet")
    ).select("bucket", "weight_micro")

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda t: t != "",
    )
    tb = docs.select(
        "doc_id", F.explode(toks).alias("token")
    ).select("doc_id", _bucket_col(F.col("token")).alias("bucket"))
    contrib = tb.join(F.broadcast(weights), "bucket", "left").select(
        "doc_id",
        F.coalesce(
            F.col("weight_micro"), F.lit(int(meta["w0_micro"]))
        ).alias("wm"),
    )
    persum = contrib.groupBy("doc_id").agg(
        F.sum("wm").cast("long").alias("s")
    )
    bias = F.lit(int(meta["bias_micro"]))
    logit = (F.coalesce(F.col("s"), F.lit(0)) + bias).cast("long")
    return (
        docs.select("doc_id")
        .join(persum, "doc_id", "left")
        .select(
            "doc_id",
            logit.alias("logit_micro"),
            (logit >= 0).alias("keep"),
        )
    )


@query(
    "text_classifier_calibration_trained",
    oracle=f"""
    WITH {_sql_clf_train_ctes()},
    wts AS (SELECT bucket,
              {_sql_weight_micro("c_keep", "c_drop", "t_keep", "t_drop")}
                AS wm
            FROM counts CROSS JOIN tot),
    prior AS (SELECT CAST(FLOOR(ln(
                CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) + 1 AS DOUBLE)
                / CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) + 1 AS DOUBLE))
                * 1000000 + 0.5) AS BIGINT) AS bias_micro
              FROM gop),
    contrib AS (SELECT tb.doc_id,
                  COALESCE(w.wm,
                    {_sql_weight_micro("0", "0", "t_keep", "t_drop")}) AS wm
                FROM tb LEFT JOIN wts w USING (bucket) CROSS JOIN tot),
    persum AS (SELECT doc_id, CAST(SUM(wm) AS BIGINT) AS s
               FROM contrib GROUP BY doc_id),
    scored AS (
      SELECT d.doc_id, d.source,
             CAST(COALESCE(p.s, 0) + prior.bias_micro AS BIGINT)
               AS logit_micro,
             g.keep AS label_keep
      FROM documents d
      LEFT JOIN persum p USING (doc_id)
      JOIN gop g USING (doc_id)
      CROSS JOIN prior
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN logit_micro >= 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_keep,
           CAST(SUM(CASE WHEN (logit_micro >= 0) = label_keep
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
           CAST(FLOOR(AVG(logit_micro)) AS BIGINT)
             AS mean_logit_micro_floor
    FROM scored GROUP BY source
    """,
)
def text_classifier_calibration_trained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source monitoring surface for the TRAINED model: keep
    rate, floor-of-mean logit AND per-source agreement with the weak
    labels (n_agree — the in-sample fit a drifting source shows up
    in first). Same plan shape as ``text_classifier_calibration``
    plus one broadcast label column computed in the scoring
    projection (gopher_keep_col is map-only)."""
    from kafkatoclickhouse_spark.operators.text import gopher_keep_col

    import os

    path = text_classifier_index_build(spark, sf_dir)
    meta = artifacts.read_meta(path)
    weights = spark.read.parquet(
        os.path.join(path, "weights.parquet")
    ).select("bucket", "weight_micro")

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda t: t != "",
    )
    tb = docs.select(
        "doc_id", F.explode(toks).alias("token")
    ).select("doc_id", _bucket_col(F.col("token")).alias("bucket"))
    persum = (
        tb.join(F.broadcast(weights), "bucket", "left")
        .select(
            "doc_id",
            F.coalesce(
                F.col("weight_micro"), F.lit(int(meta["w0_micro"]))
            ).alias("wm"),
        )
        .groupBy("doc_id")
        .agg(F.sum("wm").cast("long").alias("s"))
    )
    bias = F.lit(int(meta["bias_micro"]))
    logit = (F.coalesce(F.col("s"), F.lit(0)) + bias).cast("long")
    scored = (
        docs.select(
            "doc_id",
            "source",
            gopher_keep_col(F.col("text")).alias("label_keep"),
        )
        .join(persum, "doc_id", "left")
        .select(
            "source",
            logit.alias("logit_micro"),
            "label_keep",
        )
    )
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("logit_micro") >= 0).cast("long")).alias("n_keep"),
        F.sum(
            ((F.col("logit_micro") >= 0) == F.col("label_keep")).cast(
                "long"
            )
        ).alias("n_agree"),
        F.floor(F.avg("logit_micro"))
        .cast("long")
        .alias("mean_logit_micro_floor"),
    )
