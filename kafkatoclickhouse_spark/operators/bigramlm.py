"""In-engine bigram-LM perplexity filtering — the CCNet-style
quality gate (VERDICT r13 #1; [EXT] — no reference counterpart,
SURVEY §2.2).

``text_unigram_logperp`` (operators/text.py) is order-blind: a
document and any permutation of its words score identically, so
keyword-stuffed or shuffled garbage passes a unigram filter that a
≥bigram LM catches (Wenzek et al., "CCNet", LREC 2020 filter on a
KenLM n-gram model). This module trains a bigram LM with add-one
smoothing over the corpus itself and scores each document by its
average transition negative log-likelihood:

    p(w2 | w1) = (c(w1,w2) + 1) / (c(w1·) + V)

with c(w1·) = the count of w1 as a bigram context and V = the
corpus unigram vocabulary — every quantity one aggregate away, the
same trained-artifact machinery as the NB classifier
(operators/classifier.py) and the BPE tokenizer (bpetrain.py).

Determinism: per-transition ln p is quantized to integer micro-nats
(floor(x·1e6+0.5)) so per-doc sums are exact integer arithmetic
under any partitioning; the same accepted libm caveat as the
unigram scorer applies to ln itself.

Shuffle shape at 100 TB: one (w1,w2) exchange for the bigram
counts, a w1 exchange over the (far smaller) unique-bigram relation
for contexts, the occurrence↔model join on (w1,w2), one doc_id
exchange for the per-doc sum — all linear, no all-pairs anything.
The filter's threshold machinery aggregates a BOUNDED histogram
(0.01-nat bins over the score range), never the corpus.

Four surfaces:
 - ``text_bigram_train``      — the model table (oracled);
 - ``text_bigram_logperp``    — per-doc NLL, model trained in-plan;
 - ``text_bigram_logperp_trained`` — serve from the persisted
   artifact (the EIGHTH index family, committed through
   ``artifacts``; poison-tested);
 - ``text_bigram_perplexity_filter`` — the keep gate: drop the
   worst-perplexity tail above the bin-granular p90;
 - ``text_bigram_hashed_logperp`` — the BOUNDED hashed-bucket model
   (the streaming gate's batch twin: collision-folded counts in
   16Ki/8Ki buckets make the whole model two broadcastable maps).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kafkatoclickhouse_spark import artifacts
from kafkatoclickhouse_spark.functions import hashing
from kafkatoclickhouse_spark.functions.exact import stable_round6
from kafkatoclickhouse_spark.registry import query
from kafkatoclickhouse_spark.tables import fan_out, load_table

# p90 filter: per-doc integer NLL is binned at 0.01 nat — the
# histogram is bounded by the SCORE RANGE (a few thousand bins),
# never by the corpus, so the threshold scan is broadcast-sized at
# any scale.
NLL_BIN_MICRO = 10_000
KEEP_PCT = 90

# hashed model (the streaming-deliverable form): collision-folding
# buckets bound the model at BIGRAM_BUCKETS + CTX_BUCKETS rows
BIGRAM_BUCKETS = 16_384
CTX_BUCKETS = 8_192
BIGRAM_HASH_SEED = 331
CTX_HASH_SEED = 337

_SEP = "\x01"


# ---------------------------------------------------------------------------
# Shared SQL CTEs — the oracle retrains the identical model from raw
# text on every run, so a stale/corrupt artifact is a hash mismatch.
# ---------------------------------------------------------------------------

_SQL_BIGRAM_BASE = """
    ws AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         t -> t <> '') AS w
      FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(w)),
                                   i -> w[i] || chr(1) || w[i+1])) AS bigram
      FROM ws WHERE len(w) >= 2
    ),
    big AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c12
            FROM bg GROUP BY bigram),
    ctx AS (SELECT string_split(bigram, chr(1))[1] AS w1,
                   CAST(SUM(c12) AS BIGINT) AS c1
            FROM big GROUP BY 1),
    voc AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v
            FROM (SELECT unnest(w) AS token FROM ws))
"""

_SQL_LNP = (
    "CAST(FLOOR(ln(CAST(c12 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE))"
    " * 1000000 + 0.5) AS BIGINT)"
)

_SQL_SCORED = f"""
    scored AS (
      SELECT bg.doc_id, {_SQL_LNP} AS lnp_micro
      FROM bg
      JOIN big USING (bigram)
      JOIN ctx ON string_split(bg.bigram, chr(1))[1] = ctx.w1
      CROSS JOIN voc
    )
"""

_SQL_PERDOC = """
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           FLOOR((-CAST(SUM(lnp_micro) AS DOUBLE) / 1000000.0
                  / COUNT(*)) * 1000000 + 0.5) / 1000000
             AS avg_nll_nats
    FROM scored GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Spark-side building blocks (shared with the planted-fixture pins
# in tests/test_bigramlm.py via ``bigram_nll``)
# ---------------------------------------------------------------------------


def _tokens() -> Column:
    return F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda t: t != "",
    )


_BG_PAIRS = (
    "CASE WHEN size(w) >= 2 THEN"
    " transform(sequence(1, size(w) - 1),"
    "   i -> struct(element_at(w, i) AS w1,"
    "               element_at(w, i + 1) AS w2))"
    " ELSE array() END"
)


def _doc_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) — one row per adjacent token transition;
    explode is map-side, no shuffle."""
    return (
        docs.withColumn("w", _tokens())
        .select("doc_id", F.explode(F.expr(_BG_PAIRS)).alias("p"))
        .select("doc_id", "p.w1", "p.w2")
    )


def _model(bg: DataFrame) -> DataFrame:
    """(w1, w2, c12, c1): bigram counts + context totals, assembled
    model-side FIRST (unique-bigram scale) so the corpus-scale
    occurrence relation joins the model exactly once."""
    big = bg.groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("c12")
    )
    ctx = big.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    return big.join(ctx, "w1")


def _vocab(docs: DataFrame) -> DataFrame:
    return (
        docs.withColumn("w", _tokens())
        .select(F.explode("w").alias("token"))
        .agg(F.count_distinct("token").cast("long").alias("v"))
    )


def _lnp_micro(c12: Column, c1: Column, v: Column) -> Column:
    return (
        F.floor(
            F.log(
                (c12 + F.lit(1)).cast("double")
                / (c1 + v).cast("double")
            )
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("lnp_micro")
    )


def _scored(docs: DataFrame) -> DataFrame:
    """(doc_id, lnp_micro) per transition, model trained on ``docs``
    itself — every doc bigram is in the model, so the joins are
    inner and never miss.

    The transition relation is localCheckpoint-ed (r14): it feeds
    both the model aggregate and the scoring join, whose exchanges
    differ (partial counts vs raw rows), so without it the tokenize +
    bigram explode ran twice. Narrow rows, rebuilt per invocation."""
    bg = _doc_bigrams(docs).localCheckpoint()
    return (
        bg.join(_model(bg), ["w1", "w2"])
        .crossJoin(F.broadcast(_vocab(docs)))
        .select(
            "doc_id",
            _lnp_micro(F.col("c12"), F.col("c1"), F.col("v")),
        )
    )


def bigram_nll(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, avg_nll_nats) for any (doc_id, text)
    relation, model trained on that same relation. Docs with <2
    tokens have no transitions and no row."""
    return _scored(docs).groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        stable_round6(
            -F.sum("lnp_micro").cast("double")
            / F.lit(1000000.0)
            / F.count("*")
        ).alias("avg_nll_nats"),
    )


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


@query(
    "text_bigram_train",
    oracle=f"""
    WITH {_SQL_BIGRAM_BASE}
    SELECT string_split(bigram, chr(1))[1] AS w1,
           string_split(bigram, chr(1))[2] AS w2,
           c12, c1, {_SQL_LNP} AS lnp_micro
    FROM big
    JOIN ctx ON string_split(big.bigram, chr(1))[1] = ctx.w1
    CROSS JOIN voc
    """,
)
def text_bigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN: the full bigram model table — (w1, w2) transition
    counts, context totals, and the smoothed integer micro-nat
    log-probability each serve path applies. One corpus-sized
    (w1,w2) aggregate plus a unique-bigram-scale context aggregate;
    the oracle retrains the identical model from raw text."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return (
        _model(_doc_bigrams(docs))
        .crossJoin(F.broadcast(_vocab(docs)))
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            _lnp_micro(F.col("c12"), F.col("c1"), F.col("v")),
        )
    )


@query(
    "text_bigram_logperp",
    oracle=f"""
    WITH {_SQL_BIGRAM_BASE}, {_SQL_SCORED}
    {_SQL_PERDOC}
    """,
)
def text_bigram_logperp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram cross-entropy, model trained in-plan on
    the corpus itself — the word-order-aware upgrade of
    ``text_unigram_logperp``: a permuted document keeps its unigram
    score but lands in the bigram tail (pinned in
    tests/test_bigramlm.py on planted scrambled twins)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return bigram_nll(docs)


@query(
    "text_bigram_perplexity_filter",
    oracle=f"""
    WITH {_SQL_BIGRAM_BASE}, {_SQL_SCORED},
    scoredoc AS (
      SELECT doc_id,
             (-CAST(SUM(lnp_micro) AS BIGINT)) // COUNT(*) AS nll_micro
      FROM scored GROUP BY doc_id
    ),
    binned AS (
      SELECT doc_id, nll_micro,
             nll_micro // {NLL_BIN_MICRO} AS bin
      FROM scoredoc
    ),
    hist AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS cnt
             FROM binned GROUP BY bin),
    cumh AS (SELECT bin, SUM(cnt) OVER (ORDER BY bin) AS cum FROM hist),
    tgt AS (SELECT ({KEEP_PCT} * COUNT(*)) // 100 AS k FROM binned),
    thr AS (SELECT MIN(bin) AS tbin FROM cumh CROSS JOIN tgt
            WHERE cum >= k)
    SELECT b.doc_id, CAST(b.nll_micro AS BIGINT) AS nll_micro,
           CAST(b.bin AS BIGINT) AS bin,
           b.bin <= thr.tbin AS keep
    FROM binned b CROSS JOIN thr
    """,
)
def text_bigram_perplexity_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The keep gate: drop the worst-perplexity tail. Threshold =
    the smallest 0.01-nat bin whose cumulative count reaches
    {pct}% of scored docs — BIN-GRANULAR by design (keeps ≥{pct}%;
    ties within the threshold bin all survive) so the whole
    threshold computation is integer arithmetic over a
    score-range-bounded histogram both engines replay exactly —
    no interpolated percentile, whose engine-specific FP evaluation
    order could flip a hash bit. The histogram prefix reuses
    ``exclusive_bucket_prefix`` (text.py), so no unpartitioned
    window appears even here.""".format(pct=KEEP_PCT)
    from kafkatoclickhouse_spark.operators.text import (
        exclusive_bucket_prefix,
    )

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # localCheckpoint (r15, VERDICT r14 #5): perdoc feeds THREE
    # consumers (histogram, the doc-count target, the final select),
    # and without the barrier each consumer re-ran the whole
    # tokenize + bigram + model-join scoring pipeline — the source of
    # this key's 3 s median and ±3.4 s variance. One narrow
    # (doc_id, nll_micro, bin) row per doc, rebuilt per invocation.
    perdoc = (
        _scored(docs)
        .groupBy("doc_id")
        .agg(
            F.expr("(-CAST(SUM(lnp_micro) AS BIGINT)) DIV COUNT(*)")
            .cast("long")
            .alias("nll_micro")
        )
        .withColumn(
            "bin", F.expr(f"nll_micro DIV {NLL_BIN_MICRO}").cast("long")
        )
        .localCheckpoint()
    )
    hist = perdoc.groupBy(F.col("bin").alias("bucket")).agg(
        F.count("*").cast("long").alias("bucket_total")
    )
    cum = exclusive_bucket_prefix(hist).join(hist, "bucket").select(
        F.col("bucket").alias("bin"),
        (F.col("bucket_prefix") + F.col("bucket_total")).alias("cum"),
    )
    tgt = perdoc.agg(
        F.expr(f"({KEEP_PCT} * COUNT(*)) DIV 100").cast("long").alias("k")
    )
    thr = (
        cum.crossJoin(F.broadcast(tgt))
        .filter(F.col("cum") >= F.col("k"))
        .agg(F.min("bin").alias("tbin"))
    )
    return perdoc.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "nll_micro",
        "bin",
        (F.col("bin") <= F.col("tbin")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Persisted lifecycle — the EIGHTH index family
# ---------------------------------------------------------------------------


def text_bigram_index_build(
    spark: SparkSession,
    sf_dir: str,
    path: str | None = None,
    force: bool = False,
) -> str:
    """BUILD half: train once and persist —

      - ``model.parquet`` (w1, w2, c12, c1): the transition table;
      - ``hashed12.parquet`` / ``hashed1.parquet``: the bounded
        collision-folded bucket counts the streaming gate ships as
        map literals.

    The key is the source fingerprint plus the bucket/seed config, so
    a constant change rebuilds instead of serving stale; the marker
    also carries the vocabulary size and totals (commit protocol:
    ``artifacts``)."""

    def write(path: str) -> dict:
        docs = fan_out(load_table(spark, sf_dir, "documents"))
        bg = _doc_bigrams(docs)
        _model(bg).write.mode("overwrite").parquet(
            os.path.join(path, "model.parquet")
        )
        hb = _hashed_buckets(bg)
        hb.groupBy("b12").agg(
            F.count("*").cast("long").alias("c")
        ).write.mode("overwrite").parquet(
            os.path.join(path, "hashed12.parquet")
        )
        hb.groupBy("b1").agg(
            F.count("*").cast("long").alias("c")
        ).write.mode("overwrite").parquet(
            os.path.join(path, "hashed1.parquet")
        )

        vrow = _vocab(docs).first()
        trow = (
            spark.read.parquet(os.path.join(path, "model.parquet"))
            .agg(
                F.sum("c12").cast("long").alias("total"),
                F.count("*").cast("long").alias("n_bigrams"),
            )
            .first()
        )
        return {
            "v": int(vrow["v"]),
            "total_transitions": int(trow["total"]),
            "n_unique_bigrams": int(trow["n_bigrams"]),
        }

    key = {
        "bigram_buckets": BIGRAM_BUCKETS,
        "ctx_buckets": CTX_BUCKETS,
        "seeds": [BIGRAM_HASH_SEED, CTX_HASH_SEED],
    }
    return artifacts.build(
        sf_dir, "documents", "bigram", key, write, path, force
    )


@query(
    "text_bigram_logperp_trained",
    oracle=f"""
    WITH {_SQL_BIGRAM_BASE},
    scored AS (
      SELECT bg.doc_id,
             CAST(FLOOR(ln(CAST(COALESCE(big.c12, 0) + 1 AS DOUBLE)
                           / CAST(COALESCE(ctx.c1, 0) + v AS DOUBLE))
                        * 1000000 + 0.5) AS BIGINT) AS lnp_micro
      FROM bg
      LEFT JOIN big USING (bigram)
      LEFT JOIN ctx ON string_split(bg.bigram, chr(1))[1] = ctx.w1
      CROSS JOIN voc
    )
    {_SQL_PERDOC}
    """,
)
def text_bigram_logperp_trained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SERVE: per-doc NLL read ONLY from the persisted model
    (building it first iff absent/stale — the warm path never
    touches the training aggregates; poison-pinned). LEFT joins with
    zero-count backoff make the serve total: a document with
    transitions the model never saw (impossible on a fresh artifact,
    the norm for NEW data scored against a frozen model) scores
    ln(1/(c1+V)) — the add-one unseen mass. The oracle recomputes
    the entire train+serve chain from raw text."""
    path = text_bigram_index_build(spark, sf_dir)
    meta = artifacts.read_meta(path)
    model = spark.read.parquet(os.path.join(path, "model.parquet"))
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    bg = _doc_bigrams(docs)
    scored = (
        bg.join(
            model.select("w1", "w2", "c12"), ["w1", "w2"], "left"
        )
        .join(
            model.groupBy("w1").agg(F.max("c1").alias("c1")),
            "w1",
            "left",
        )
        .select(
            "doc_id",
            _lnp_micro(
                F.coalesce(F.col("c12"), F.lit(0)),
                F.coalesce(F.col("c1"), F.lit(0)),
                F.lit(int(meta["v"])),
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        stable_round6(
            -F.sum("lnp_micro").cast("double")
            / F.lit(1000000.0)
            / F.count("*")
        ).alias("avg_nll_nats"),
    )


# ---------------------------------------------------------------------------
# Hashed bounded model — the streaming gate's batch twin
# ---------------------------------------------------------------------------


def _hashed_buckets(bg: DataFrame) -> DataFrame:
    """(doc_id, b12, b1): collision-folding bucket ids per
    transition — the bounded-model projection."""
    return bg.select(
        "doc_id",
        F.pmod(
            hashing.portable_hash64(
                F.concat(F.col("w1"), F.lit(_SEP), F.col("w2")),
                BIGRAM_HASH_SEED,
            ),
            F.lit(BIGRAM_BUCKETS),
        ).alias("b12"),
        F.pmod(
            hashing.portable_hash64(F.col("w1"), CTX_HASH_SEED),
            F.lit(CTX_BUCKETS),
        ).alias("b1"),
    )


_SQL_HB12 = (
    hashing.sql_portable_hash64("bigram", BIGRAM_HASH_SEED)
    + f" % {BIGRAM_BUCKETS}"
)
_SQL_HB1 = (
    hashing.sql_portable_hash64(
        "string_split(bigram, chr(1))[1]", CTX_HASH_SEED
    )
    + f" % {CTX_BUCKETS}"
)


@query(
    "text_bigram_hashed_logperp",
    oracle=f"""
    WITH {_SQL_BIGRAM_BASE},
    hb AS (
      SELECT doc_id, {_SQL_HB12} AS b12, {_SQL_HB1} AS b1 FROM bg
    ),
    c12t AS (SELECT b12, CAST(COUNT(*) AS BIGINT) AS c12
             FROM hb GROUP BY b12),
    c1t AS (SELECT b1, CAST(COUNT(*) AS BIGINT) AS c1
            FROM hb GROUP BY b1),
    scored AS (
      SELECT hb.doc_id,
             CAST(FLOOR(ln(CAST(c12t.c12 + 1 AS DOUBLE)
                           / CAST(c1t.c1 + {BIGRAM_BUCKETS} AS DOUBLE))
                        * 1000000 + 0.5) AS BIGINT) AS lnp_micro
      FROM hb JOIN c12t USING (b12) JOIN c1t USING (b1)
    )
    {_SQL_PERDOC}
    """,
)
def text_bigram_hashed_logperp(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-doc NLL under the BOUNDED hashed model: transition and
    context counts collision-fold into {b12}/{b1} buckets, so the
    whole model is two broadcast-sized tables regardless of corpus
    size — the form a streaming gate ships as map literals (the
    hashed-feature trick of Weinberger et al., ICML 2009, applied
    to LM counts). Smoothing adds the bucket count, not V:
    p = (c12_b+1)/(c1_b+{b12}). Collisions only ever INFLATE counts
    (score drifts optimistic), which is the right failure direction
    for a drop-the-tail filter. Row identity with the streaming
    gate is pinned in tests/test_streaming.py.""".format(
        b12=BIGRAM_BUCKETS, b1=CTX_BUCKETS
    )
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    hb = _hashed_buckets(_doc_bigrams(docs))
    c12t = hb.groupBy("b12").agg(F.count("*").cast("long").alias("c12"))
    c1t = hb.groupBy("b1").agg(F.count("*").cast("long").alias("c1"))
    scored = (
        hb.join(F.broadcast(c12t), "b12")
        .join(F.broadcast(c1t), "b1")
        .select(
            "doc_id",
            F.floor(
                F.log(
                    (F.col("c12") + F.lit(1)).cast("double")
                    / (F.col("c1") + F.lit(BIGRAM_BUCKETS)).cast(
                        "double"
                    )
                )
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("lnp_micro"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        stable_round6(
            -F.sum("lnp_micro").cast("double")
            / F.lit(1000000.0)
            / F.count("*")
        ).alias("avg_nll_nats"),
    )
