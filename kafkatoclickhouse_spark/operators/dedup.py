"""Deduplication operators over ``documents`` / ``embeddings``.

LLM-pipeline surface (north star; the reference has no dedup of any
kind — SURVEY.md §2.2). Five families:

  exact            md5-fingerprint groupBy (narrow 32-char shuffle key
                   instead of full text — the 100 TB essential)
  minhash_lsh      word-shingle MinHash signatures → banded LSH
                   candidate pairs → exact-Jaccard verification
  ngram_jaccard    exact shingle-join Jaccard (ground truth for LSH)
  simhash          16-bit SimHash fingerprint per document
  embedding_cosine near-duplicate vectors by cosine threshold

Every hash is the portable md5-based family
(``functions.hashing.portable_hash64``) so each operator has an
*exact* DuckDB oracle — the same candidate pairs, bit for bit. At
production scale you'd swap in ``F.xxhash64`` (same plan, cheaper
hash); nothing else changes.

Scale shape of minhash_lsh: signatures are computed row-local (no
shuffle), the only exchanges are the band-key groupBy (tiny: 32-char
key + doc id) and the pair verification join — this is the textbook
linear-scan LSH dedup, not an O(n²) cross join. The brute-force
``ngram_jaccard``/``embedding`` variants are the small-data ground
truth; their docstrings point at the LSH path for 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kafkatoclickhouse_spark.functions import hashing, textfns
from kafkatoclickhouse_spark.functions.vector import cosine_with_norms, norm
from kafkatoclickhouse_spark.registry import query
from kafkatoclickhouse_spark.tables import fan_out, load_table

SHINGLE_N = 3
NUM_HASHES = 12
BANDS = 4
ROWS_PER_BAND = NUM_HASHES // BANDS
JACCARD_THRESHOLD = 0.8
SIMHASH_BITS = 16
SIMHASH_SEED = 101
COSINE_DUP_THRESHOLD = 0.8

# Shared DuckDB CTE: distinct word-3-gram shingles per document
# (single definition in hashing.sql_word_shingles — mirrored with
# word_shingles so a tokenization change updates every oracle).
_SQL_SHINGLES = hashing.sql_word_shingles(SHINGLE_N)

_SQL_HASH = hashing.sql_portable_hash64("shingle", "{k}").replace(
    "'{k}:'", "(k || ':')"
)


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out: shingling + per-shingle hashing is the expensive map
    # stage of every dedup below; see tables.fan_out.
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        hashing.word_shingles(F.col("text"), SHINGLE_N).alias("shingles"),
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
             AS fingerprint,
           MIN(doc_id) AS canonical_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via normalized-text fingerprint: one groupBy on a
    32-char digest. At 100 TB the shuffle carries (digest, id) only —
    never the document bodies."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            textfns.fingerprint(F.col("text")).alias("fingerprint"),
            "doc_id",
        )
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


@query(
    "dedup_exact_canonical",
    oracle="""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (
               PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
               ORDER BY doc_id
             ) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def dedup_exact_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The surviving rows after exact dedup (min doc_id per
    fingerprint wins) — the `dropDuplicates` semantics made
    deterministic, which `dropDuplicates` itself is not."""
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy(textfns.fingerprint(F.col("text"))).orderBy("doc_id")
    return (
        docs.select("doc_id", "lang", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(shingled: DataFrame) -> DataFrame:
    """doc_id → one column per MinHash value (h0..h{K-1}).

    Shape: explode shingles → hash each shingle once per seed →
    groupBy(doc_id) with K ``min`` aggregates. Each md5 is computed
    exactly once (an array-expression formulation re-evaluates the
    whole signature at every element access — measured 50× slower),
    and the K-way min is map-side combinable, so the shuffle carries
    one row per document regardless of document size — the shape
    that survives 100 TB.
    """
    exploded = shingled.select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    # One parsed SQL string per seed instead of a Column-builder
    # chain — same Catalyst operators, ~6× fewer py4j round trips per
    # build (see hashing.py).
    aggs = [
        F.expr(f"MIN({hashing.spark_sql_hash64('shingle', k)})").alias(
            f"h{k}"
        )
        for k in range(NUM_HASHES)
    ]
    return exploded.groupBy("doc_id").agg(*aggs)


def minhash_bands(shingled: DataFrame) -> DataFrame:
    """doc_id → exploded (band, band_key) rows.

    band_key = md5 of the comma-joined r signature values of that
    band; grouping docs on (band, band_key) is the LSH bucket join.
    """
    sigs = minhash_signatures(shingled)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"h{b * ROWS_PER_BAND + i}").cast("string")
                            for i in range(ROWS_PER_BAND)
                        ],
                    )
                ).alias("band_key"),
            )
            for b in range(BANDS)
        ]
    )
    return sigs.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", "bk.band", "bk.band_key"
    )


def candidate_pairs(bands: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing any LSH bucket."""
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def exact_jaccard(pairs: DataFrame, shingled: DataFrame) -> DataFrame:
    """Verify candidates with exact shingle-set Jaccard (rounded 6dp
    for cross-engine determinism)."""
    sa = shingled.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    sb = shingled.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    shared = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - shared
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(shared.cast("double") / union, 6).alias("jaccard"),
        )
    )


def _sql_minhash_pairs() -> str:
    hash_expr = (
        "CAST('0x' || substring(md5(CAST(k AS VARCHAR) || ':' || shingle), 1, 15)"
        " AS BIGINT)"
    )
    return f"""
    WITH {_SQL_SHINGLES},
    mh AS (
      SELECT doc_id, k, MIN({hash_expr}) AS h
      FROM sh, (SELECT unnest(range({NUM_HASHES})) AS k)
      GROUP BY doc_id, k
    ),
    bands AS (
      SELECT doc_id, k // {ROWS_PER_BAND} AS band,
             md5(string_agg(CAST(h AS VARCHAR), ',' ORDER BY k)) AS band_key
      FROM mh GROUP BY doc_id, k // {ROWS_PER_BAND}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    shared AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS c
      FROM pairs p
      JOIN sh x ON x.doc_id = p.doc_a
      JOIN sh y ON y.doc_id = p.doc_b AND y.shingle = x.shingle
      GROUP BY p.doc_a, p.doc_b
    )
    SELECT s.doc_a, s.doc_b,
           ROUND(s.c * 1.0 / (za.n + zb.n - s.c), 6) AS jaccard
    FROM shared s
    JOIN sizes za ON za.doc_id = s.doc_a
    JOIN sizes zb ON zb.doc_id = s.doc_b
    WHERE s.c * 1.0 / (za.n + zb.n - s.c) >= {JACCARD_THRESHOLD}
    """


@query("dedup_minhash_lsh", oracle=_sql_minhash_pairs())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, exact-Jaccard verified at
    ≥ 0.8. 12 hashes × 4 bands of 3 rows → s-curve threshold ≈ 0.63,
    comfortably below the planted-duplicate similarity (~0.99) and
    above random-pair similarity (~0.1)."""
    shingled = _shingled(spark, sf_dir).cache()
    pairs = candidate_pairs(minhash_bands(shingled))
    return exact_jaccard(pairs, shingled).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )


MINHASH_EST_MIN_MATCHES = 8  # of NUM_HASHES(12) → est ≥ 2/3


def _sql_minhash_estimate() -> str:
    hash_expr = (
        "CAST('0x' || substring(md5(CAST(k AS VARCHAR) || ':' || shingle), 1, 15)"
        " AS BIGINT)"
    )
    return f"""
    WITH {_SQL_SHINGLES},
    mh AS (
      SELECT doc_id, k, MIN({hash_expr}) AS h
      FROM sh, (SELECT unnest(range({NUM_HASHES})) AS k)
      GROUP BY doc_id, k
    ),
    bands AS (
      SELECT doc_id, k // {ROWS_PER_BAND} AS band,
             md5(string_agg(CAST(h AS VARCHAR), ',' ORDER BY k)) AS band_key
      FROM mh GROUP BY doc_id, k // {ROWS_PER_BAND}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    est AS (
      SELECT p.doc_a, p.doc_b,
             SUM(CASE WHEN x.h = y.h THEN 1 ELSE 0 END) AS m
      FROM pairs p
      JOIN mh x ON x.doc_id = p.doc_a
      JOIN mh y ON y.doc_id = p.doc_b AND y.k = x.k
      GROUP BY p.doc_a, p.doc_b
    )
    SELECT doc_a, doc_b, CAST(m AS INTEGER) AS n_matching,
           ROUND(m / {NUM_HASHES}.0, 6) AS jaccard_est
    FROM est WHERE m >= {MINHASH_EST_MIN_MATCHES}
    """


@query("dedup_minhash_estimate", oracle=_sql_minhash_estimate())
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-only near-duplicate verification: for LSH candidate
    pairs, estimate Jaccard as (matching MinHash components) / K and
    keep pairs with ≥ 8 of 12 matches (est ≥ 2/3).

    This is the verify mode the 100 TB corpus actually runs:
    ``dedup_minhash_lsh``'s exact verify reshuffles full shingle sets
    onto every candidate — fine when candidates are rare, unpayable
    when the corpus is near-dup-heavy (CommonCrawl-class). Here the
    verify join carries 12 longs per document regardless of document
    size, the standard MinHash estimator (unbiased, sd ≈
    sqrt(J(1-J)/K)). The exact path stays available as the
    ground-truth twin; pytest pins the estimate against exact Jaccard
    on the planted duplicates."""
    shingled = _shingled(spark, sf_dir).cache()
    # cache the signatures: minhash_bands recomputes the identical
    # signature aggregation internally, and without this the 12-way
    # md5 minimum — the dominant cost — runs twice (measured 1.7×
    # end-to-end at sf10). Spark's CacheManager matches the bands'
    # sub-plan against this cached plan, so one materialization
    # serves both consumers.
    sigs = minhash_signatures(shingled).cache()
    pairs = candidate_pairs(minhash_bands(shingled))
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{k}").alias(f"a{k}") for k in range(NUM_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{k}").alias(f"b{k}") for k in range(NUM_HASHES)],
    )
    matches = sum(
        F.when(F.col(f"a{k}") == F.col(f"b{k}"), 1).otherwise(0)
        for k in range(NUM_HASHES)
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", matches.alias("m"))
        .filter(F.col("m") >= MINHASH_EST_MIN_MATCHES)
        .select(
            "doc_a",
            "doc_b",
            F.col("m").cast("int").alias("n_matching"),
            F.round(F.col("m") / F.lit(float(NUM_HASHES)), 6).alias(
                "jaccard_est"
            ),
        )
    )


def _sql_ngram_pairs() -> str:
    return f"""
    WITH {_SQL_SHINGLES},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT s.doc_a, s.doc_b,
           ROUND(s.c * 1.0 / (za.n + zb.n - s.c), 6) AS jaccard
    FROM shared s
    JOIN sizes za ON za.doc_id = s.doc_a
    JOIN sizes zb ON zb.doc_id = s.doc_b
    WHERE s.c * 1.0 / (za.n + zb.n - s.c) >= {JACCARD_THRESHOLD}
    """


def rare_shingle_candidates(
    exploded: DataFrame, df_cap: int | None = None
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing at least one shingle
    with document frequency ≤ ``df_cap``.

    The shingle equi-join's cost is Σ df² over shingles — quadratic
    in the hottest shingle's frequency. Stop-word-ish shingles
    ("in the end", boilerplate headers) have df in the millions at
    100 TB, and every one of those groups would emit df² candidate
    rows while contributing nothing to discrimination (a pair
    sharing ONLY ubiquitous shingles is not a near-duplicate). The
    cap drops them from CANDIDATE GENERATION only; verification
    below is exact Jaccard over the FULL shingle sets, so dropped
    shingles still count toward the reported similarity. A true
    ≥ 0.8 pair is missed only if every shared shingle is hotter
    than the cap — i.e. ≥ 80 % of both documents is corpus-wide
    boilerplate. The hot list is tiny by construction (≤ corpus
    shingle count / cap entries) and broadcast."""
    if df_cap is not None:
        hot = (
            exploded.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") > df_cap)
            .select("shingle")
        )
        exploded = exploded.join(F.broadcast(hot), "shingle", "left_anti")
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


# Candidate-generation document-frequency cap for the exact shingle
# join. Far above any fixture shingle's df (max 25 at sf0.1), so
# oracle equality is untouched at test scale; at 100 TB it bounds
# the join's per-shingle blowup at cap² rows.
SHINGLE_DF_CAP = 1000


# Exact size-ratio prefilter for the Jaccard chain (r15, VERDICT r14
# #6): |A∩B| ≤ min(|A|,|B|), so J = |A∩B|/|A∪B| ≤ min/max — a pair
# whose size ratio cannot reach the threshold cannot pass, whatever
# its overlap. The emitted filter is round(J, 6) ≥ 0.8, which J ≥
# 0.7999995 satisfies at the decimal half; pruning at 0.7999994
# (one 1e-7 step BELOW, far wider than any double-rounding of the
# ratio) keeps the prune strictly conservative: keep iff
# 10^7·min(na,nb) ≥ 7_999_994·max(na,nb). Integer cross-
# multiplication, exactness-preserving by construction — and it
# lands in the candidate JOIN condition, so pruned pairs never
# reach the pair aggregate at all.
_J_PRUNE_NUM = round(JACCARD_THRESHOLD * 10**7) - 6  # 7_999_994
_J_PRUNE_DEN = 10**7


def ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, df_cap: int | None = SHINGLE_DF_CAP
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for every pair with exact word-3-gram
    Jaccard ≥ 0.8, doc_a < doc_b — shared by ``dedup_ngram_jaccard``
    and the connected-components clustering in ``graph.py``.

    r14: the verify is COUNTED off the candidate equi-join instead of
    hydrating both shingle arrays per pair and intersecting them (the
    same rewrite ``dedup_ngram_containment`` documents as 13× on its
    sf1.0 hop). Shingle arrays are distinct per doc, so the rare
    equi-join hits per (doc_a, doc_b) count |A∩B ∩ rare| exactly;
    the ≤ hot-list part of the overlap comes from intersecting the
    two docs' (tiny, bounded by the global hot list) hot-shingle
    arrays: |A∩B| = c_rare + |hotA ∩ hotB|, set sizes stay uncapped.
    Identical output by construction — a pair ALL of whose shared
    shingles are hot was never a candidate before either (the
    documented cap semantics). The pair shuffle now carries
    (id, id, count), never a shingle array.

    r15 (VERDICT #6): the exact size-ratio prefilter
    (``_J_PRUNE_NUM`` above) sits in the candidate join condition —
    measured at sf0.1 it drops 63% of the pair-aggregate input rows
    (1.27 M → 469 k) before they are grouped — and the uncapped set
    sizes ride through the aggregate as ``MIN(n)`` (constant within
    each pair group) instead of being equi-joined back on afterwards:
    two pair-sized joins removed (guide §2.4) for +8 bytes/side on
    the shingle shuffle."""
    shingled = _shingled(spark, sf_dir).cache()
    exploded = shingled.select(
        "doc_id",
        F.size("shingles").cast("long").alias("n"),
        F.explode("shingles").alias("shingle"),
    )
    rare = exploded
    hotdoc = None
    if df_cap is not None:
        hot = (
            exploded.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") > df_cap)
            .select("shingle")
        )
        rare = exploded.join(F.broadcast(hot), "shingle", "left_anti")
        hotdoc = (
            exploded.join(F.broadcast(hot), "shingle", "left_semi")
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_set("shingle")).alias("hot_sh"))
        )
    a = rare.alias("a")
    b = rare.alias("b")
    counts = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                _J_PRUNE_DEN * F.least(F.col("a.n"), F.col("b.n"))
                >= _J_PRUNE_NUM * F.greatest(F.col("a.n"), F.col("b.n"))
            ),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(
            F.count("*").cast("long").alias("c_rare"),
            F.min("a.n").alias("na"),
            F.min("b.n").alias("nb"),
        )
    )
    j = counts
    if hotdoc is not None:
        # NO broadcast hint (r15, VERDICT r14 #3 / ADVICE): hotdoc has
        # one row per document containing >=1 hot (df > cap) shingle —
        # on a real corpus boilerplate shingles put nearly EVERY doc in
        # this table, so forcing a broadcast was a driver/executor OOM
        # at the 100 TB design point. Only the hot shingle LIST is
        # bounded, not the doc table keyed by it. The planner now
        # picks the strategy from runtime stats: at fixture scale AQE
        # converts to broadcast (hotdoc is tiny there); at corpus
        # scale it shuffle-joins on doc id. Exactness unaffected.
        empty = F.array().cast("array<string>")
        j = (
            j.join(
                hotdoc.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("hot_sh").alias("hot_a"),
                ),
                "doc_a",
                "left",
            )
            .join(
                hotdoc.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("hot_sh").alias("hot_b"),
                ),
                "doc_b",
                "left",
            )
            .withColumn(
                "_shared",
                F.col("c_rare")
                + F.size(
                    F.array_intersect(
                        F.coalesce(F.col("hot_a"), empty),
                        F.coalesce(F.col("hot_b"), empty),
                    )
                ).cast("long"),
            )
        )
    else:
        j = j.withColumn("_shared", F.col("c_rare"))
    union = F.col("na") + F.col("nb") - F.col("_shared")
    return (
        j.select(
            "doc_a",
            "doc_b",
            F.round(F.col("_shared").cast("double") / union, 6).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


@query("dedup_ngram_jaccard", oracle=_sql_ngram_pairs())
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ 0.8 — the ground truth the LSH
    recall tests compare against. Candidates come from an equi-join
    on frequency-capped shingles (see ``rare_shingle_candidates``:
    hot boilerplate shingles are excluded from pairing, bounding the
    join at cap² rows per shingle), then every candidate is verified
    with exact Jaccard over the full uncapped shingle sets."""
    return ngram_jaccard_pairs(spark, sf_dir)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _sql_simhash_ctes() -> str:
    """CTE chain (no WITH) ending at ``fp(doc_id, simhash)`` —
    shared by the fingerprint oracle and the banded-pairs oracle."""
    hash_expr = hashing.sql_portable_hash64("shingle", SIMHASH_SEED)
    bit_sums = ",\n           ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    recompose = " + ".join(
        f"(CASE WHEN s{j} >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""{_SQL_SHINGLES},
    hashes AS (SELECT doc_id, {hash_expr} AS h FROM sh),
    bits AS (
      SELECT doc_id,
           {bit_sums}
      FROM hashes GROUP BY doc_id
    ),
    fp AS (SELECT doc_id, CAST({recompose} AS BIGINT) AS simhash
           FROM bits)"""


def _sql_simhash() -> str:
    return (
        "WITH "
        + _sql_simhash_ctes()
        + "\n    SELECT doc_id, simhash FROM fp"
    )


@query("dedup_simhash", oracle=_sql_simhash())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (bit j = sign of the ±1 vote sum
    of shingle-hash bit j). Row-local, no shuffle; near-dup pairs are
    then a hamming-ball self-join on the fingerprint (pytest covers
    the pairing; the fingerprint itself is oracle-checked)."""
    shingled = _shingled(spark, sf_dir)
    hashes = F.transform(
        F.col("shingles"),
        lambda s: hashing.portable_hash64(s, SIMHASH_SEED),
    )
    withh = shingled.select("doc_id", hashes.alias("hs"))

    def vote(j: int):
        # two-arg lambda required by F.aggregate's arity inspection
        return lambda acc, x: acc + (
            F.shiftright(x, j).bitwiseAND(F.lit(1)) * 2 - 1
        )

    votes = [
        F.aggregate("hs", F.lit(0).cast("long"), vote(j))
        for j in range(SIMHASH_BITS)
    ]
    simhash = None
    for j, v in enumerate(votes):
        term = F.when(v >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return withh.select("doc_id", simhash.cast("long").alias("simhash"))


# ---------------------------------------------------------------------------
# Embedding near-duplicates
# ---------------------------------------------------------------------------


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= {COSINE_DUP_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs (cosine ≥ 0.8) — brute-force
    self-join ground truth. At 100 TB: bucket by random-hyperplane
    LSH first (``similarity.hyperplane_buckets``) and join within
    buckets; this query is the verification kernel either way."""
    em = load_table(spark, sf_dir, "embeddings")
    # fan_out the streamed side of the nested-loop join: each task
    # scores its slice of A against broadcast B. Norms are computed
    # once per vector, not once per pair (vector.cosine_with_norms).
    a = fan_out(em).select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("va"),
        norm(F.col("embedding")).alias("na"),
    )
    b = em.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("vb"),
        norm(F.col("embedding")).alias("nb"),
    )
    sim = cosine_with_norms(
        F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", sim.alias("cos_raw"))
        .filter(F.col("cos_raw") >= COSINE_DUP_THRESHOLD)
        .select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cos_sim"))
    )

# Bucketed near-dup threshold: at fixture scale (500 vectors of
# dim-64 pseudo-random floats) NO pair clears 0.8, so a 0.8-threshold
# bucketed query would be driver-"green" on an empty result — 0.3
# yields ~1k true pairs of which the band filter keeps a few hundred,
# so the candidate-generation path is actually exercised.
COSINE_BUCKETED_THRESHOLD = 0.3
from kafkatoclickhouse_spark.operators.similarity import (  # noqa: E402
    _SQL_PLANE_COMPONENT,
    DIM as _LSH_DIM,
    hyperplanes,
    lsh_config,
    sql_lsh_bands,
    sql_lsh_bits,
)

_SQL_LSH_BITS = sql_lsh_bits("(SELECT COUNT(*) FROM embeddings)")
_SQL_LSH_BANDS = sql_lsh_bands("bits")

# CTE body (no WITH prefix) ending at the verified pairs — shared
# with the semantic-cluster oracle in graph.py, which appends a
# recursive closure over ``vpairs``.
_BUCKETED_CTE_BODY = f"""
cfg AS (
  SELECT bits, {_SQL_LSH_BANDS} AS bands
  FROM (SELECT {_SQL_LSH_BITS} AS bits)
),
pidx AS (SELECT unnest(range(bits * bands)) AS p, bits FROM cfg),
planes AS (
  SELECT p, p // bits AS band_id, 1 << (p % bits) AS bitval,
         list_transform(range({_LSH_DIM}),
                        d -> {_SQL_PLANE_COMPONENT}) AS plane
  FROM pidx
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sigs AS (
  SELECT e.vec_id, pl.band_id,
         CAST(SUM(CASE WHEN list_dot_product(e.v, pl.plane) >= 0
                       THEN pl.bitval ELSE 0 END) AS BIGINT) AS bb
  FROM e, planes pl
  GROUP BY e.vec_id, pl.band_id
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sigs a
  JOIN sigs b ON a.band_id = b.band_id AND a.bb = b.bb
            AND a.vec_id < b.vec_id
),
vpairs AS (
  SELECT vec_a, vec_b,
         ROUND(list_cosine_similarity(ea.v, eb.v), 6) AS cos_sim
  FROM cand
  JOIN e ea ON ea.vec_id = vec_a
  JOIN e eb ON eb.vec_id = vec_b
  WHERE list_cosine_similarity(ea.v, eb.v)
        >= {COSINE_BUCKETED_THRESHOLD}
)"""

_BUCKETED_ORACLE = (
    "WITH "
    + _BUCKETED_CTE_BODY
    + "\nSELECT vec_a, vec_b, cos_sim FROM vpairs"
)


@query("dedup_embedding_cosine_bucketed", oracle=_BUCKETED_ORACLE)
def dedup_embedding_cosine_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 100 TB embedding-dedup path, end to end: banded
    random-hyperplane LSH candidate generation + exact cosine verify,
    the scale twin of ``dedup_embedding_cosine``'s all-pairs ground
    truth.

    The LSH shape is SCALE-ADAPTIVE (``similarity.lsh_config``): bits
    per band grow as ceil(log2(n/16)) so expected bucket occupancy
    stays constant, and the band count grows per the precomputed
    recall table to hold ≥ 95 % recall for true near-duplicates —
    candidate volume is ~ n · 16 · bands, linear in n. (The previous
    fixed 2×4-bit config was O(n²/16): the sf1.0 scale curve measured
    23× for a 10× hop and flagged it — SCALING.md.) The oracle
    derives the SAME (bits, bands) from COUNT(*) with integer bit
    arithmetic, so parity holds at every fixture scale, not just the
    one the constants were tuned for.

    Candidates are pairs sharing ANY band signature
    (OR-amplification, same shape as minhash banding); the join is an
    equi-join on (band_id, band_bits) over (vec_id, sig) rows ONLY —
    narrow-pairs-then-hydrate, see the inline comment — so neither
    the band shuffle nor the pair distinct ever carries a vector.
    The n used for sizing comes from ``em.count()``, metadata-only
    on parquet."""
    from kafkatoclickhouse_spark.operators.similarity import band_signatures

    em = load_table(spark, sf_dir, "embeddings")
    bits, n_bands = lsh_config(em.count())
    planes = hyperplanes(bits * n_bands)
    # one parsed plane literal + one transform for all bits×bands dots:
    # per-plane F.lit construction cost ~2.9 s of driver time per build
    # at the sf0.1 config (35 planes × 64 dims) — see plane_array_expr.
    band_sigs = band_signatures(F.col("embedding"), planes, bits, n_bands)
    # Narrow-pairs-then-hydrate: the band join and the pair distinct
    # run over (vec_id, band_id, bb) ONLY — the vectors never ride
    # the band-key shuffle. The first cut carried both 64-float
    # vectors through the join (~bands copies of every vector, and
    # candidate×520 B through the pair shuffle: ~tens of GB at the
    # sf10 scale point, where the curve flagged 17.5× — partly the
    # designed band growth 8→12, partly this width). Now candidates
    # dedupe as 16-byte id pairs FIRST (also scoring each surviving
    # pair once, not once per matching band), then two vec_id-keyed
    # joins hydrate vectors for the exact verify. Same result set,
    # same oracle; shuffle bytes drop ~20×.
    sig = fan_out(em).select(
        "vec_id", F.posexplode(band_sigs).alias("band_id", "bb")
    )
    pairs = (
        sig.select(
            F.col("vec_id").alias("vec_a"), "band_id", "bb"
        )
        .join(
            sig.select(
                F.col("vec_id").alias("vec_b"), "band_id", "bb"
            ),
            ["band_id", "bb"],
        )
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    emn = em.select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    sim = cosine_with_norms(
        F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
    )
    return (
        pairs.join(
            emn.select(
                F.col("vec_id").alias("vec_a"),
                F.col("embedding").alias("va"),
                F.col("nrm").alias("na"),
            ),
            "vec_a",
        )
        .join(
            emn.select(
                F.col("vec_id").alias("vec_b"),
                F.col("embedding").alias("vb"),
                F.col("nrm").alias("nb"),
            ),
            "vec_b",
        )
        .select("vec_a", "vec_b", sim.alias("cos_raw"))
        .filter(F.col("cos_raw") >= COSINE_BUCKETED_THRESHOLD)
        .select(
            "vec_a", "vec_b", F.round("cos_raw", 6).alias("cos_sim")
        )
    )


# ---------------------------------------------------------------------------
# Incremental dedup (batch-vs-corpus)
# ---------------------------------------------------------------------------

INCR_MOD = 10  # doc_id % 10 == 9 plays the nightly "new batch"


@query(
    "dedup_incremental_batch",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id,
             md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
               AS f
      FROM documents
    ),
    existing AS (
      SELECT f, MIN(doc_id) AS canonical_existing_id
      FROM fp WHERE doc_id % {INCR_MOD} <> {INCR_MOD - 1}
      GROUP BY f
    ),
    batch AS (
      SELECT doc_id, f,
             ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) AS rn
      FROM fp WHERE doc_id % {INCR_MOD} = {INCR_MOD - 1}
    )
    SELECT b.doc_id,
           CAST(e.f IS NOT NULL AS BOOLEAN) AS dup_of_existing,
           e.canonical_existing_id,
           CAST(b.rn > 1 AS BOOLEAN) AS dup_within_batch
    FROM batch b LEFT JOIN existing e ON e.f = b.f
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup — the nightly mode every corpus
    pipeline actually runs: dedup the NEW batch (here the
    deterministic 10% slice doc_id % 10 == 9) against the already-
    ingested corpus WITHOUT re-deduping the corpus itself. Per new
    doc: does its fingerprint exist in the corpus (and under which
    canonical id), and is it a repeat within its own batch (earlier
    batch doc_id wins).

    Scale shape: both sides reduce to (32-char digest, id) before
    any shuffle; the corpus side is exactly the fingerprint →
    min(doc_id) index a production pipeline PERSISTS between runs —
    so the nightly cost is hash(batch) + one digest-keyed join
    against the index, independent of corpus text size, and the
    index update is a monotone min-merge of the batch's new digests.
    Nothing rescans yesterday's 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id", textfns.fingerprint(F.col("text")).alias("f")
    )
    is_batch = (F.col("doc_id") % INCR_MOD) == (INCR_MOD - 1)
    existing = (
        fp.where(~is_batch)
        .groupBy("f")
        .agg(F.min("doc_id").alias("canonical_existing_id"))
    )
    w = W.partitionBy("f").orderBy("doc_id")
    batch = fp.where(is_batch).select(
        "doc_id", "f", F.row_number().over(w).alias("rn")
    )
    return (
        batch.join(existing, "f", "left")
        .select(
            "doc_id",
            F.col("canonical_existing_id").isNotNull().alias(
                "dup_of_existing"
            ),
            "canonical_existing_id",
            (F.col("rn") > 1).alias("dup_within_batch"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash banded pairing (Manku, Jain, Sarma — WWW 2007)
# ---------------------------------------------------------------------------

SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS
HAMMING_MAX = SIMHASH_BANDS - 1  # pigeonhole-complete radius


def _sql_simhash_pairs() -> str:
    mask = (1 << SIMHASH_BAND_BITS) - 1
    return f"""
    WITH {_sql_simhash_ctes()},
    bands AS (
      SELECT doc_id, simhash, b,
             (simhash >> (b * {SIMHASH_BAND_BITS})) & {mask} AS bb
      FROM fp, (SELECT unnest(range({SIMHASH_BANDS})) AS b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS fa,
             b.doc_id AS doc_b, b.simhash AS fb
      FROM bands a
      JOIN bands b ON a.b = b.b AND a.bb = b.bb
                  AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(fa, fb)) <= {HAMMING_MAX}
    """


@query("dedup_simhash_pairs", oracle=_sql_simhash_pairs())
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by banded SimHash — the Manku/Jain/Sarma
    (WWW 2007) web-crawl dedup construction: split the B-bit
    fingerprint into HAMMING_MAX+1 bands; any pair within Hamming
    distance HAMMING_MAX must agree on at least one band verbatim
    (pigeonhole), so the candidate join is an EQUI-join on
    (band_id, band_bits) and the radius search is COMPLETE, not
    probabilistic — unlike MinHash banding there is no recall
    parameter to tune. Verification is one xor+popcount per
    candidate.

    Scale: fingerprints are row-local (map-only, already the
    ``dedup_simhash`` plan); the band shuffle carries
    (band_id, 4 bits, doc_id, fingerprint) — 20-ish bytes; candidate
    volume is bucket-bounded exactly like the other banded families.
    The all-pairs hamming join this replaces is O(n²); this is the
    construction Google ran at 8 B pages (64-bit fp, k=3, 4 bands —
    same shape, bigger constants)."""
    # cache: the band self-join consumes fp on BOTH sides, and the
    # fingerprint lineage (shingle explode + per-bit vote aggregation)
    # is the dominant cost — same reason dedup_minhash_estimate
    # caches its signatures (one materialization serves both sides).
    fp = dedup_simhash(spark, sf_dir).cache()
    mask = (1 << SIMHASH_BAND_BITS) - 1
    band_vals = F.array(
        *[
            F.shiftright(F.col("simhash"), i * SIMHASH_BAND_BITS)
            .bitwiseAND(F.lit(mask))
            for i in range(SIMHASH_BANDS)
        ]
    )
    bands = fp.select(
        "doc_id", "simhash", F.posexplode(band_vals).alias("b", "bb")
    )
    cand = (
        bands.select(
            F.col("doc_id").alias("doc_a"),
            F.col("simhash").alias("fa"),
            "b",
            "bb",
        )
        .join(
            bands.select(
                F.col("doc_id").alias("doc_b"),
                F.col("simhash").alias("fb"),
                "b",
                "bb",
            ),
            ["b", "bb"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "fa", "doc_b", "fb")
        .distinct()
    )
    ham = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return (
        cand.filter(ham <= HAMMING_MAX)
        .select(
            "doc_a",
            "doc_b",
            ham.cast("long").alias("hamming"),
        )
    )


# ---------------------------------------------------------------------------
# Asymmetric containment
# ---------------------------------------------------------------------------

# containment >= 0.8 compared as 5*c >= 4*min(n_a, n_b): integer-exact
CONTAINMENT_NUM = 4
CONTAINMENT_DEN = 5


def sql_containment_ctes() -> str:
    """CTE chain (no WITH) ending at ``cpairs(doc_a, doc_b, c, na,
    nb)`` — the capped-containment pair definition, defined ONCE and
    composed by both the pair oracle and the cluster-closure oracle
    in ``graph.py``. The df cap is applied in SQL exactly as in the
    Spark plan (shingles with document frequency > cap are excluded
    from the shared COUNT), so both engines compute the same capped
    semantics at EVERY scale — sizes stay uncapped (true set sizes),
    only the overlap count is rare-shingle-restricted."""
    return f"""{_SQL_SHINGLES},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    rare AS (
      SELECT doc_id, shingle FROM sh
      QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {SHINGLE_DF_CAP}
    ),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM rare a JOIN rare b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    cpairs AS (
      SELECT s.doc_a, s.doc_b, s.c, za.n AS na, zb.n AS nb
      FROM shared s
      JOIN sizes za ON za.doc_id = s.doc_a
      JOIN sizes zb ON zb.doc_id = s.doc_b
      WHERE {CONTAINMENT_DEN} * s.c
            >= {CONTAINMENT_NUM} * LEAST(za.n, zb.n)
    )"""


def _sql_containment_pairs() -> str:
    return f"""
    WITH {sql_containment_ctes()}
    SELECT doc_a, doc_b,
           CAST(c AS BIGINT) AS n_shared,
           CAST(LEAST(na, nb) AS BIGINT) AS n_smaller,
           ROUND(c * 1.0 / LEAST(na, nb), 6) AS containment
    FROM cpairs
    """


@query("dedup_ngram_containment", oracle=_sql_containment_pairs())
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-duplicate pairs by shingle-set CONTAINMENT
    (Broder 1997's other resemblance measure): |A∩B| / min(|A|,|B|)
    ≥ 0.8, doc_a < doc_b. Jaccard misses subset duplicates — a
    document quoted whole inside a 5× longer page scores J ≈ 0.2 but
    containment 1.0 — and training corpora are full of exactly that
    (quotation, aggregation, boilerplate expansion).

    Unlike Jaccard, |A∩B| needs no union term, so the whole verify
    collapses into the candidate join itself: GROUP BY (doc_a, doc_b)
    over the frequency-capped shingle equi-join COUNTS the shared
    shingles directly — the pair shuffle carries (id, id, count) and
    the size join two ints; NO shingle array is ever shipped per
    pair. (The array-hydrating verify this replaced flagged 13× on
    the sf1.0 scale hop — GC-bound array shuffles.)

    Semantics are CAPPED containment, identically in BOTH engines:
    the oracle applies the same df ≤ {SHINGLE_DF_CAP} filter before
    counting (``sql_containment_ctes``), so parity holds by
    construction at every scale — there is no fixture-scale-only
    agreement. The cap means corpus-wide boilerplate shingles
    deliberately do not count toward near-duplication (they carry no
    discriminating signal; the same judgment candidate generation
    already makes), while set SIZES stay uncapped. The threshold
    test is integer cross-multiplication (5·c ≥ 4·min): no float
    ratio decides membership.

    r15: set sizes ride THROUGH the pair aggregate (n is computed
    per doc before the explode and carried on every shingle row, so
    ``MIN(n)`` per pair — constant within the group — replays it)
    instead of equi-joining a sizes table onto the pair counts
    twice: two corpus-pair-sized joins (and their exchanges) leave
    the plan for +16 bytes/row on the shingle shuffle (guide §2.4).
    A size-RATIO prefilter was considered and REJECTED as
    incorrect here: containment admits pairs of arbitrarily
    different sizes (a doc quoted whole inside a 5× page is the
    target), so min/max bounds nothing — that prune belongs to the
    Jaccard chain (``ngram_jaccard_pairs``), where it is exact."""
    # cache: shingling feeds the hot-list agg AND the pair join —
    # one materialization serves both
    shingled = _shingled(spark, sf_dir).cache()
    exploded = shingled.select(
        "doc_id",
        F.size("shingles").cast("long").alias("n"),
        F.explode("shingles").alias("shingle"),
    )
    hot = (
        exploded.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > SHINGLE_DF_CAP)
        .select("shingle")
    )
    rare = exploded.join(F.broadcast(hot), "shingle", "left_anti")
    a = rare.alias("a")
    b = rare.alias("b")
    counts = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(
            F.count("*").cast("long").alias("n_shared"),
            F.min("a.n").alias("na"),
            F.min("b.n").alias("nb"),
        )
    )
    return (
        counts.select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.least("na", "nb").alias("n_smaller"),
        )
        .filter(
            CONTAINMENT_DEN * F.col("n_shared")
            >= CONTAINMENT_NUM * F.col("n_smaller")
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            "n_smaller",
            F.round(
                F.col("n_shared").cast("double") / F.col("n_smaller"), 6
            ).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# Exact substring / repeated-span dedup (Lee et al. 2022)
# ---------------------------------------------------------------------------
#
# "Deduplicating Training Data Makes Language Models Better" (Lee et
# al., ACL 2022) removes EXACT token spans >= a length threshold that
# occur more than once in the corpus — boilerplate, licenses,
# templated text that neither Jaccard (set semantics, order-blind)
# nor containment (whole-shingle-set subset) models. The paper's
# single-machine tool is a suffix array; the distributed shape used
# here is the standard fingerprint equivalent: positional k-token
# fingerprints, a corpus-wide occurrence count per fingerprint
# (ONE hash shuffle — never candidate pairs), and a per-document
# merge of consecutive duplicated positions into maximal spans.
# A span of T tokens repeated elsewhere yields T−k+1 consecutive
# duplicated start positions, so maximal runs recover the span
# boundaries exactly for spans >= k (sub-k repeats are invisible —
# the deliberate resolution limit of every fingerprint method).

SPAN_K = 10  # fingerprint width (tokens); repeats < K are invisible
SPAN_MIN_TOKENS = 25  # report/remove maximal spans >= this
SPAN_SEED = 710

# Positional fingerprints shared by both span queries: one row per
# k-gram START position (NOT distinct — within-doc repeats count,
# exactly like the paper's suffix-array occurrences). Docs shorter
# than K tokens carry no fingerprint: they cannot contain a
# >= SPAN_MIN_TOKENS (>= K) span.
def sql_span_ctes(docs_rel: str = "documents", p: str = "") -> str:
    """The span-verify CTE chain, parameterized by the source
    relation (must expose doc_id + text) and a CTE-name prefix so it
    can compose with other chains (the winnowed variant joins it to
    the winnow index chain, whose names would otherwise collide)."""
    return f"""
    {p}toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
             FROM {docs_rel}),
    {p}fp AS (
      SELECT doc_id, CAST(r AS BIGINT) AS pos,
             {hashing.sql_portable_hash64(
                 f"array_to_string(t[r + 1 : r + {SPAN_K}], ' ')",
                 SPAN_SEED,
             )} AS h
      FROM (SELECT doc_id, t,
                   unnest(range(len(t) - {SPAN_K - 1})) AS r
            FROM {p}toks WHERE len(t) >= {SPAN_K})
    ),
    {p}dup AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY h) AS c
        FROM {p}fp)
      WHERE c >= 2
    ),
    {p}isl AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY pos) AS grp
      FROM {p}dup
    ),
    {p}spans AS (
      SELECT doc_id,
             CAST(MIN(pos) AS BIGINT) AS span_start,
             CAST(MAX(pos) + {SPAN_K} - 1 AS BIGINT) AS span_end
      FROM {p}isl GROUP BY doc_id, grp
    ),
    {p}qspans AS (
      SELECT doc_id, span_start, span_end,
             span_end - span_start + 1 AS span_tokens
      FROM {p}spans
      WHERE span_end - span_start + 1 >= {SPAN_MIN_TOKENS}
    )
"""


_SQL_SPAN_FP = sql_span_ctes()


def _span_positions(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """(doc_id, pos) of every duplicated k-gram start position —
    the Spark twin of the ``dup`` CTE. One row per POSITION (not
    per distinct shingle): within-doc repeats participate. The only
    exchange is the fingerprint-hash window partition — linear in
    corpus size, no pair enumeration anywhere, no frequency cap
    needed (a fingerprint shared by m documents costs m rows here,
    not m² pairs, so hot boilerplate fingerprints are exactly as
    cheap as rare ones). ``docs`` overrides the source relation (the
    winnowed variant passes the candidate-pruned subset)."""
    if docs is None:
        docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = hashing.tokens(F.col("text"))
    fp = (
        docs.filter(F.size(toks) >= SPAN_K)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - SPAN_K),
                    lambda i: hashing.portable_hash64(
                        F.concat_ws(" ", F.slice(toks, i + 1, SPAN_K)),
                        SPAN_SEED,
                    ),
                )
            ).alias("pos", "h"),
        )
        .select("doc_id", F.col("pos").cast("long").alias("pos"), "h")
    )
    wc = W.partitionBy("h")
    return (
        fp.withColumn("c", F.count(F.lit(1)).over(wc))
        .filter(F.col("c") >= 2)
        .select("doc_id", "pos")
    )


def _span_table(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """Maximal duplicated spans >= SPAN_MIN_TOKENS — Spark twin of
    the ``qspans`` CTE (gaps-and-islands over duplicated positions,
    per-doc window: bounded by document length, scale-safe)."""
    dup = _span_positions(spark, sf_dir, docs=docs)
    wd = W.partitionBy("doc_id").orderBy("pos")
    return (
        dup.withColumn("grp", F.col("pos") - F.row_number().over(wd))
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + SPAN_K - 1).alias("span_end"),
        )
        .withColumn(
            "span_tokens", F.col("span_end") - F.col("span_start") + 1
        )
        .filter(F.col("span_tokens") >= SPAN_MIN_TOKENS)
        .select("doc_id", "span_start", "span_end", "span_tokens")
    )


@query(
    "dedup_substring_spans",
    oracle=f"""
    WITH {_SQL_SPAN_FP}
    SELECT doc_id, span_start, span_end, span_tokens FROM qspans
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal exact-duplicate token spans per document (Lee et al.
    2022): every maximal run of >= {SPAN_MIN_TOKENS} tokens whose
    {SPAN_K}-gram fingerprints all occur >= 2 times corpus-wide,
    reported as [span_start, span_end] token offsets. The removable
    spans a substring-dedup pass would cut. Engine-new surface (the
    reference has no dedup — SURVEY.md §2.2)."""
    return _span_table(spark, sf_dir)


def _winnow_candidate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_ids that can possibly contain a qualifying duplicated
    span, from the PERSISTED winnow index (built iff absent/stale —
    at 100 TB the index is built once at ingest and this read is the
    whole cost of candidate generation): documents holding a winnowed
    fingerprint selected at >= 2 corpus positions. Recall-COMPLETE
    for the span verifier because any duplicated SPAN_K-gram is a
    shared verbatim run of SPAN_K >= W+K-1 tokens, which the
    winnowing guarantee (Schleimer et al. 2003, pinned in
    tests/test_properties.py) forces to share a selected
    fingerprint."""
    from kafkatoclickhouse_spark.operators import winnow as winnow_mod

    # static guard: the guarantee only holds while the span
    # fingerprint width covers the winnow threshold
    assert SPAN_K >= winnow_mod.WINNOW_W + winnow_mod.WINNOW_K - 1
    return winnow_mod.winnow_candidates_served(spark, sf_dir)


def _sql_winnowed_span_query() -> str:
    from kafkatoclickhouse_spark.operators.winnow import _SQL_WINNOW

    return f"""
    WITH {_SQL_WINNOW},
    wcnt AS (
      SELECT doc_id, COUNT(*) OVER (PARTITION BY fp_hash) AS c
      FROM wfp
    ),
    cand AS (SELECT DISTINCT doc_id FROM wcnt WHERE c >= 2),
    cdocs AS (SELECT d.doc_id, d.text
              FROM documents d JOIN cand USING (doc_id)),
    {sql_span_ctes(docs_rel="cdocs", p="s")}
    SELECT doc_id, span_start, span_end, span_tokens FROM sqspans
    """


@query("dedup_substring_spans_winnowed", oracle=_sql_winnowed_span_query())
def dedup_substring_spans_winnowed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`dedup_substring_spans` behind the winnow-index pruner
    (VERDICT r10 #2): candidate documents come from the sparse
    winnowed fingerprint index (expected density 2/(W+1) of k-gram
    positions) and ONLY those documents enter the positional
    fingerprint verify — on a mostly-unique corpus the expensive
    per-position hash exchange shrinks from every token to the
    duplicate-bearing subset. Span-IDENTICAL to the unpruned twin:
    every duplicated SPAN_K-gram implies a >= W+K-1-token shared run,
    so both of its carriers are candidates and every corpus-wide
    fingerprint count >= 2 is preserved inside the pruned subset
    (pinned in tests/test_properties.py). Candidates come from the
    PERSISTED winnow index (winnow.text_winnow_index_build, built
    iff absent or stale) — the nightly re-verify
    reads the index instead of re-hashing every position; measured
    at sf1.0 the served composition beats the unpruned twin
    (candidate fraction 0.2 on the fixture)."""
    cand = _winnow_candidate_docs(spark, sf_dir)
    docs = fan_out(load_table(spark, sf_dir, "documents")).join(
        cand, "doc_id"
    )
    return _span_table(spark, sf_dir, docs=docs)


def _merged_spans(spans: DataFrame) -> DataFrame:
    """(doc_id, island, s, e): the interval UNION of qualifying spans
    per document (adjacent/overlapping spans merged) — shared by the
    fraction and removal queries. Per-doc windows over span counts,
    bounded by document length."""
    wprev = (
        W.partitionBy("doc_id")
        .orderBy("span_start", "span_end")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    wrun = (
        W.partitionBy("doc_id")
        .orderBy("span_start", "span_end")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        spans.withColumn("prev_max", F.max("span_end").over(wprev))
        .withColumn(
            "island",
            F.sum(
                F.when(
                    F.col("prev_max").isNull()
                    | (F.col("span_start") > F.col("prev_max") + 1),
                    1,
                ).otherwise(0)
            ).over(wrun),
        )
        .groupBy("doc_id", "island")
        .agg(
            F.min("span_start").alias("s"),
            F.max("span_end").alias("e"),
        )
    )


# Interval union of qualifying spans — the ``islands`` CTE chain
# shared by the fraction and removal oracles (one definition, like
# the Spark-side _merged_spans).
_SQL_SPAN_ISLANDS = """
    pm AS (
      SELECT doc_id, span_start, span_end,
             MAX(span_end) OVER (
               PARTITION BY doc_id ORDER BY span_start, span_end
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prev_max
      FROM qspans
    ),
    mi AS (
      SELECT doc_id, span_start, span_end,
             SUM(CASE WHEN prev_max IS NULL
                      OR span_start > prev_max + 1 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id
                     ORDER BY span_start, span_end
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM pm
    ),
    islands AS (
      SELECT doc_id, island, MIN(span_start) AS s, MAX(span_end) AS e
      FROM mi GROUP BY doc_id, island
    )
"""


@query(
    "dedup_substring_fraction",
    oracle=f"""
    WITH {_SQL_SPAN_FP},
    {_SQL_SPAN_ISLANDS},
    merged AS (
      SELECT doc_id,
             CAST(SUM(e - s + 1) AS BIGINT) AS covered
      FROM islands
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(m.covered, 0) AS BIGINT) AS dup_tokens,
           CAST(len(t.t) AS BIGINT) AS n_tokens,
           ROUND(COALESCE(m.covered, 0) * 1.0 / len(t.t), 6)
             AS dup_fraction
    FROM documents d
    JOIN toks t ON t.doc_id = d.doc_id
    LEFT JOIN merged m ON m.doc_id = d.doc_id
    """,
)
def dedup_substring_fraction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-document duplicated-span token fraction: tokens covered by
    the union of qualifying spans (interval-merged — maximal spans
    from distinct fingerprint runs can overlap by up to K−2 tokens,
    so naive summing double-counts) over the doc's whitespace token
    count. 1.0 for a member of an exact-duplicate pair with >=
    {SPAN_MIN_TOKENS} tokens; 0.0 for a corpus-unique document —
    both pinned in tests/test_invariants.py. The training-mix signal:
    docs above a fraction threshold are cut wholesale, below it the
    span table drives surgical removal (``corpus_remove_dup_spans``)."""
    covered = _merged_spans(_span_table(spark, sf_dir)).groupBy(
        "doc_id"
    ).agg(F.sum(F.col("e") - F.col("s") + 1).alias("covered"))
    docs = load_table(spark, sf_dir, "documents")
    n_toks = F.size(hashing.tokens(F.col("text"))).cast("long")
    return (
        docs.select("doc_id", n_toks.alias("n_tokens"))
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("covered"), F.lit(0))
            .cast("long")
            .alias("dup_tokens"),
            "n_tokens",
            F.round(
                F.coalesce(F.col("covered"), F.lit(0)).cast("double")
                / F.col("n_tokens"),
                6,
            ).alias("dup_fraction"),
        )
    )


@query(
    "corpus_remove_dup_spans",
    oracle=f"""
    WITH {_SQL_SPAN_FP},
    {_SQL_SPAN_ISLANDS},
    ivs AS (
      SELECT doc_id, list({{'s': s, 'e': e}} ORDER BY s) AS iv
      FROM islands GROUP BY doc_id
    ),
    kept AS (
      SELECT t.doc_id,
             list_filter(t.t, (tok, i) ->
               len(list_filter(COALESCE(v.iv, []),
                   x -> i - 1 >= x.s AND i - 1 <= x.e)) = 0) AS k
      FROM toks t LEFT JOIN ivs v ON v.doc_id = t.doc_id
    )
    SELECT doc_id,
           CAST(len(k) AS BIGINT) AS n_kept_tokens,
           COALESCE(array_to_string(k, ' '), '') AS cleaned_text
    FROM kept
    """,
)
def corpus_remove_dup_spans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The surgical pass the span table exists to drive (Lee et al.
    2022's actual training-data intervention): rebuild each document
    with the tokens inside merged qualifying spans REMOVED, keeping
    the rest verbatim (single-space rejoined, the same normalization
    the tokenizer applies). Per doc the removal is a pure map over
    its token array against its own tiny interval list — the spans
    broadcast-join back to the corpus on doc_id and no exchange ever
    carries document bodies wider than the final projection. The
    cross-engine hash over ``cleaned_text`` pins span boundaries AT
    TOKEN RESOLUTION — an off-by-one in either engine's island merge
    changes the string, not just a count."""
    docs = load_table(spark, sf_dir, "documents")
    ivs = _merged_spans(_span_table(spark, sf_dir)).groupBy(
        "doc_id"
    ).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("s"), F.col("e")))
        ).alias("iv")
    )
    toks = hashing.tokens(F.col("text"))
    kept = (
        docs.select("doc_id", toks.alias("t"))
        .join(ivs, "doc_id", "left")
        .select(
            "doc_id",
            F.filter(
                "t",
                lambda tok, i: ~F.exists(
                    F.coalesce(
                        F.col("iv"),
                        F.array().cast("array<struct<s:long,e:long>>"),
                    ),
                    lambda x: (i >= x["s"]) & (i <= x["e"]),
                ),
            ).alias("k"),
        )
    )
    return kept.select(
        "doc_id",
        F.size("k").cast("long").alias("n_kept_tokens"),
        F.array_join("k", " ").alias("cleaned_text"),
    )
