"""Similarity search over the ``embeddings`` table.

LLM-pipeline surface (north star): approximate-nearest-neighbor over
an ``array<float>`` column. Two paths:

  brute force    broadcast the query set, score every (query, vector)
                 pair with a codegen'd higher-order-function cosine,
                 window top-k. Exact; O(n·q); the ground truth.
  hyperplane LSH 16 deterministic random hyperplanes → 16-bit bucket
                 per vector; candidates share the query's bucket.
                 Linear scan + tiny bucket-local scoring — the
                 100 TB path (bucket on ingest, broadcast the query
                 buckets, prune everything else at the scan).

Hyperplanes are generated from the portable md5 hash family so the
bucketing is *bit-identical* in the DuckDB oracle — ANN correctness
is hash-checked end to end, not just recall-tested.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from kafkatoclickhouse_spark import artifacts
from kafkatoclickhouse_spark.functions.vector import (
    cosine_with_norms,
    dot,
    norm,
)
from kafkatoclickhouse_spark.operators import simfuse as SFZ
from kafkatoclickhouse_spark.operators.simfuse import SQ8_RANGE
from kafkatoclickhouse_spark.registry import query
from kafkatoclickhouse_spark.tables import fan_out, load_table

QUERY_MOD = 100  # query candidates = vec_id % 100 == 0
# Fixed query budget: the first QUERY_LIMIT candidates by vec_id.
# Without it the query set grows with the corpus (n/100) and every
# query-driven sim op is quadratic-in-n in disguise -- the sf10
# scale curve flagged sim_ivf_topk at 12.8x for a 10x hop. A real
# workload's query count does not scale with corpus size. At all
# driver fixture scales (5-20 candidates) the limit is not binding,
# so oracle results are unchanged there.
QUERY_LIMIT = 64
TOP_K = 10
# 8 planes → 256 buckets: populated buckets at the fixture scales
# (500–2000 vectors). At 100 TB raise toward log2(n / target_bucket)
# and multi-probe neighboring buckets.
NUM_PLANES = 8
DIM = 64


def _plane_component(p: int, d: int) -> float:
    """Deterministic pseudo-random plane component in [-1, 1]:
    md5-derived, reproducible in any md5-capable engine."""
    h = int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:15], 16)
    return (h % 2001 - 1000) / 1000.0


def hyperplanes(num: int = NUM_PLANES) -> list[list[float]]:
    return [
        [_plane_component(p, d) for d in range(DIM)] for p in range(num)
    ]


# -- scale-adaptive banded-LSH configuration --------------------------------
#
# With a FIXED bit count, within-bucket pair generation is O(n²/2^bits)
# — quadratic with a small constant, exactly what the sf1.0 scale
# curve flagged on dedup_embedding_cosine_bucketed (23× for a 10× data
# hop). The scalable configuration grows bits with n (constant
# expected bucket occupancy) and grows the band count to hold recall:
#
#   bits(n)  = max(4, ceil(log2(n / OCCUPANCY_TARGET)))  [integer-exact]
#   bands(B) = ceil(ln(1-RECALL) / ln(1 - P_BIT^B))
#
# P_BIT = 0.9 is the per-hyperplane agreement probability of a true
# near-duplicate pair (cos ≈ 0.95 → angle ≈ 18° → 1 - 18/180), so the
# table keeps ≥ 95 % recall for real duplicates at every scale while
# candidate volume stays ~ n · OCCUPANCY_TARGET · bands — linear in n
# up to the slowly-growing band factor. Both formulas are evaluated in
# integer/bit arithmetic (Python `int.bit_length`, DuckDB
# `length(bin(...))`), so Spark and the oracle derive the SAME config
# from the same row count with zero float-tie risk; the bands table is
# computed once here and embedded in oracle SQL as literals.

OCCUPANCY_TARGET = 16
_LSH_P_BIT = 0.9
_LSH_RECALL = 0.95
MAX_LSH_BITS = 32

BANDS_FOR_BITS: dict[int, int] = {
    b: max(
        1,
        math.ceil(
            math.log(1.0 - _LSH_RECALL)
            / math.log(1.0 - _LSH_P_BIT**b)
        ),
    )
    for b in range(4, MAX_LSH_BITS + 1)
}


def lsh_bits_for(n: int) -> int:
    """ceil(log2(ceil(n / OCCUPANCY_TARGET))) via pure integer bit
    tricks (no float log ties), clamped to [4, MAX_LSH_BITS]."""
    m = max(1, -(-n // OCCUPANCY_TARGET))
    return min(MAX_LSH_BITS, max(4, (m - 1).bit_length()))


def lsh_config(n: int) -> tuple[int, int]:
    """(bits_per_band, n_bands) for a corpus of ``n`` vectors."""
    bits = lsh_bits_for(n)
    return bits, BANDS_FOR_BITS[bits]


def sql_lsh_bits(n_expr: str) -> str:
    """DuckDB expression computing ``lsh_bits_for`` from a row-count
    expression — LENGTH(BIN(m-1)) is the integer bit_length twin
    (both sides agree exactly for m ≥ 2; m ≤ 1 clamps to 4)."""
    m = f"(({n_expr}) + {OCCUPANCY_TARGET - 1}) // {OCCUPANCY_TARGET}"
    return (
        f"LEAST({MAX_LSH_BITS}, GREATEST(4, CASE WHEN {m} <= 1 THEN 4 "
        f"ELSE LENGTH(BIN(CAST({m} - 1 AS BIGINT))) END))"
    )


def sql_lsh_bands(bits_expr: str) -> str:
    """DuckDB CASE over the precomputed BANDS_FOR_BITS table — the
    float recall formula never runs in SQL, so both engines read the
    identical literal."""
    arms = " ".join(
        f"WHEN {b} THEN {l}" for b, l in BANDS_FOR_BITS.items()
    )
    return f"(CASE {bits_expr} {arms} END)"


_SQL_PLANE_COMPONENT = (
    "(CAST('0x' || substring(md5(CAST(p AS VARCHAR) || ':' "
    "|| CAST(d AS VARCHAR)), 1, 15) AS BIGINT) % 2001 - 1000) / 1000.0"
)

_SQL_COSINE = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


# Plane literals enter the plan as ONE parsed SQL string. Building them
# element-by-element (``F.array(*[F.lit(x) ...])``) costs a py4j round
# trip per component — at the scale-adaptive config's 35 planes × 64
# dims that was ~2.9 s of DRIVER time per query build (measured sf0.1),
# dwarfing the 0.9 s the cluster spends executing. ``repr`` emits the
# shortest digits that round-trip the IEEE double and the ``D`` suffix
# forces a DOUBLE literal (a bare decimal would parse as DECIMAL and
# shift the value by up to half an ulp — enough to flip a near-zero
# dot's sign vs the oracle).


def band_signatures(
    vec: Column, planes: list[list[float]], bits: int, n_bands: int
) -> Column:
    """``array<long>`` of ``n_bands`` banded LSH signatures: bit j of
    band i = sign(vec · planes[i*bits + j]).

    The whole computation is ONE nested higher-order expression —
    transform over the (bands × bits × dim) plane literal, zip_with
    against the per-bit place values, aggregate-sum per band — so
    every plane dot is evaluated exactly once per row. (A first cut
    materialized a dots array and assembled bands with ``element_at``;
    Catalyst inlines the array into every element_at reference, so
    the 35 dots were each computed 35 times — 27 s instead of 1 s at
    sf0.1.) Each dot uses the same strict left-fold as
    :func:`functions.vector.dot`, so signature bits are identical to
    the per-plane form. Map-only, no shuffle, no UDF."""
    grouped = [planes[i * bits : (i + 1) * bits] for i in range(n_bands)]
    bands_lit = F.expr(
        "array("
        + ",".join(
            "array("
            + ",".join(
                "array(" + ",".join(f"{x!r}D" for x in p) + ")"
                for p in band
            )
            + ")"
            for band in grouped
        )
        + ")"
    )
    bitvals = F.expr(
        "array(" + ",".join(f"{1 << j}L" for j in range(bits)) + ")"
    )
    return F.transform(
        bands_lit,
        lambda band_planes: F.aggregate(
            F.zip_with(
                band_planes,
                bitvals,
                lambda p, bv: F.when(dot(vec, p) >= 0, bv).otherwise(
                    F.lit(0).cast("long")
                ),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )


def bucket_expr(
    vec: Column, planes: list[list[float]] | None = None
) -> Column:
    """LSH bucket: bit p = sign(vec · plane_p) over ``planes``
    (default: the 8 fixed planes → 8-bit bucket). The planes are
    plan literals — no join, no shuffle; bucketing is a map-only
    stage you run once at ingest."""
    ps = planes or hyperplanes()
    return F.element_at(band_signatures(vec, ps, len(ps), 1), 1)


@query(
    "sim_hyperplane_buckets",
    oracle=f"""
    WITH planes AS (
      SELECT p, list_transform(range({DIM}),
                               d -> {_SQL_PLANE_COMPONENT}) AS plane
      FROM (SELECT unnest(range({NUM_PLANES})) AS p)
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT vec_id,
           CAST(SUM(CASE WHEN list_dot_product(v, plane) >= 0
                         THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
    FROM e, planes
    GROUP BY vec_id
    """,
)
def sim_hyperplane_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector (oracle-checked —
    same md5-derived planes in both engines)."""
    em = load_table(spark, sf_dir, "embeddings")
    return em.select(
        "vec_id", bucket_expr(F.col("embedding")).alias("bucket")
    )


@query(
    "sim_topk_bruteforce",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e
          WHERE vec_id % {QUERY_MOD} = 0
          ORDER BY vec_id LIMIT {QUERY_LIMIT}),
    scored AS (
      SELECT query_id, e.vec_id AS neighbor_id,
             {_SQL_COSINE.format(a="qv", b="e.v")} AS s
      FROM q JOIN e ON e.vec_id <> query_id
    )
    SELECT query_id, neighbor_id, ROUND(s, 6) AS score,
           CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= {TOP_K}
    """,
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against
    the full table — the fact side never shuffles; scoring is a
    map-only stage, then a per-query top-k window. Ties broken by
    neighbor_id."""
    em = load_table(spark, sf_dir, "embeddings")
    queries = em.filter((F.col("vec_id") % QUERY_MOD) == 0).orderBy("vec_id").limit(QUERY_LIMIT).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        norm(F.col("embedding")).alias("qn"),
    )
    scored = (
        # fan_out: each task scores its slice against the broadcast
        # query set — the map stage that dominates this plan. Norms
        # are per-vector, not per-pair (vector.cosine_with_norms).
        fan_out(em)
        .withColumn("en", norm(F.col("embedding")))
        .join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_with_norms(
                F.col("qv"), F.col("embedding"), F.col("qn"), F.col("en")
            ).alias("s"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("s"), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("s", 6).alias("score"),
            F.col("rn").alias("rank"),
        )
    )


NUM_CENTROIDS = 16  # IVF coarse-quantizer cells
NPROBE = 2  # cells probed per query (fixed-nprobe tiers)

# Recall-targeted probe policy (VERDICT r9 #4): instead of a fixed
# nprobe, probe cells in descending centroid-similarity order until
# the probed cells hold >= τ = NUM/DEN of the corpus mass. Covered
# mass is the measurable, oracle-replayable proxy for recall: on
# iid vectors recall@k tracks covered mass almost exactly (neighbors
# are uniform across cells), on clustered vectors the first cell
# holds the neighbors and the policy stops early — so τ bounds the
# WORST-case (iid) recall while charging clustered corpora only
# what they need. The measured τ→recall table lives in BASELINE.md
# (the BANDS_FOR_BITS pattern); integers so both engines compare
# exactly. Skew-robust where fixed nprobe is not: a hot cell
# holding τ of the corpus is probed alone; starved cells don't
# burn probe budget.
PROBE_MASS_NUM = 1
PROBE_MASS_DEN = 2


def _sql_adaptive_probes(
    assign_rel: str, q_rel: str, qv: str = "qv"
) -> str:
    """The mass probe policy as a DuckDB CTE chain (``sz``/``probes``,
    no WITH prefix), the oracles' copy of ``simfuse.mass_probes``:
    a cell is probed iff the total count of strictly-better-ranked
    cells is below τ·corpus. Per-cell counts come from
    ``assign_rel`` (must expose ``cell``), cumulative
    strictly-better mass per query from ``q_rel`` (must expose
    ``query_id`` and the query vector column ``qv``) × ``cent``."""
    return f"""
    sz AS (SELECT cell, COUNT(*) AS cnt FROM {assign_rel} GROUP BY cell),
    probes AS (
      SELECT query_id, qcell FROM (
        SELECT q.query_id, cent.cid AS qcell,
               SUM(s.cnt) OVER (PARTITION BY q.query_id) AS total,
               COALESCE(SUM(s.cnt) OVER (
                 PARTITION BY q.query_id
                 ORDER BY {{order}} DESC, cent.cid
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_prev
        FROM {q_rel} q, cent JOIN sz s ON s.cell = cent.cid)
      WHERE {PROBE_MASS_DEN} * cum_prev < {PROBE_MASS_NUM} * total
    )""".format(order=_SQL_COSINE.format(a=f"q.{qv}", b="cent.cv"))


# --- fused IVF serve chain (round-15; see operators/simfuse.py) ------------
#
# The registered sim_ivf_* retrieval queries below run as ONE fused
# mapInArrow pass over the corpus (+ one bounded driver collect of the
# centroid/query vectors and, for mass-policy tiers, one per-cell
# histogram pass) instead of a 20-stage Catalyst chain. Each query's
# one reference is its registered DuckDB oracle: tests/test_parity.py
# replays it on the fixture and tests/test_simfuse.py on an adversarial
# corpus (zero vectors, duplicates, vectors equal to centroids), with
# doubles compared by ``repr``.


def _collect_cents_queries(cent_df: DataFrame, q_df: DataFrame):
    """ONE bounded collect (≤ NUM_CENTROIDS + QUERY_LIMIT rows, a
    single Spark job over the unioned TakeOrdered branches) →
    (cids, C, cn, q_ids, Q, qn) numpy state. Both inputs must be
    (id, vector) frames; rows are re-sorted by id in the driver so
    centroid column order is cid-ascending (the tie-break order)."""
    rows = (
        cent_df.toDF("_id", "_v")
        .withColumn("_r", F.lit(0))
        .unionByName(q_df.toDF("_id", "_v").withColumn("_r", F.lit(1)))
        .collect()
    )
    cent = sorted((int(r[0]), list(r[1])) for r in rows if r[2] == 0)
    qs = sorted((int(r[0]), list(r[1])) for r in rows if r[2] == 1)
    cids = np.array([c for c, _ in cent], dtype=np.int64)
    C = np.array([v for _, v in cent], dtype=np.float64).reshape(len(cent), DIM)
    q_ids = np.array([c for c, _ in qs], dtype=np.int64)
    Q = np.array([v for _, v in qs], dtype=np.float64).reshape(len(qs), DIM)
    return cids, C, np.sqrt(SFZ.seq_sqnorm(C)), q_ids, Q, np.sqrt(SFZ.seq_sqnorm(Q))


def _ivf_sizes(em: DataFrame, cids, C, cn, labels_keep=None) -> dict[int, int]:
    """Per-cell member counts (the index metadata the mass policy
    reads): one distributed pass — assign each vector to its argmax-
    cosine cell in the kernel, emit per-batch histograms, sum in the
    driver. ``labels_keep`` counts only matching rows (the per-bucket
    cell stats of the filtered tier).

    No ``fan_out`` here, deliberately: the histogram kernel is
    ~K·DIM flops per row — bounded per scan split the same way the
    scan itself is — so the round-robin exchange the guard would add
    costs a full extra stage for work any single split finishes in
    milliseconds. The SCORING pass (+Q·DIM per row and the per-batch
    top-C sort) keeps the guard."""
    cols = ["vec_id", "embedding"] + (["label"] if labels_keep is not None else [])
    keep = None if labels_keep is None else np.array(labels_keep, dtype=np.int64)

    def kern(it):
        for b in it:
            if b.num_rows == 0:
                continue
            V = SFZ.list_mat(b, "embedding", np.float64)
            vn = np.sqrt(SFZ.seq_sqnorm(V))
            cs, _ = SFZ.cosine2(V, vn, C, cn)
            cells = cids[SFZ.argmax_cells(cs)]
            if keep is not None:
                lab = SFZ.col_vec(b, "label")
                cells = cells[np.isin(lab, keep)]
            if cells.size:
                yield SFZ.hist_batch(cells)

    return SFZ.cell_hist(em.select(*cols), kern)


def _k_ivf_cos(cids, C, cn, P, q_ids, Q, qn, topn, labels_keep=None):
    """Kernel factory: fused assign → probe-filter → exact-cosine
    score → per-batch top-``topn`` (by s DESC NULLS LAST, vec_id).
    Emits (query_id, neighbor_id[, label], s)."""
    keep = None if labels_keep is None else np.array(labels_keep, dtype=np.int64)

    def kern(it):
        for b in it:
            if b.num_rows == 0:
                continue
            V = SFZ.list_mat(b, "embedding", np.float64)
            vid = SFZ.col_vec(b, "vec_id")
            vn = np.sqrt(SFZ.seq_sqnorm(V))
            cs, _ = SFZ.cosine2(V, vn, C, cn)
            cell_idx = SFZ.argmax_cells(cs)
            if keep is not None:
                lab = SFZ.col_vec(b, "label")
                lmask = np.isin(lab, keep)
            s_all, v_all = SFZ.cosine2(V, vn, Q, qn)
            oq, on, os_, ov, ol = [], [], [], [], []
            for qi in range(len(q_ids)):
                m = P[cell_idx, qi] & (vid != q_ids[qi])
                if keep is not None:
                    m &= lmask
                idx = np.flatnonzero(m)
                if idx.size == 0:
                    continue
                sel = idx[SFZ.top_idx_desc(s_all[idx, qi], vid[idx], topn)]
                oq.append(np.full(sel.size, q_ids[qi], dtype=np.int64))
                on.append(vid[sel])
                os_.append(s_all[sel, qi])
                ov.append(v_all[sel, qi])
                if keep is not None:
                    ol.append(lab[sel])
            if not oq:
                continue
            names = ["query_id", "neighbor_id"]
            arrays = [
                pa.array(np.concatenate(oq), type=pa.int64()),
                pa.array(np.concatenate(on), type=pa.int64()),
            ]
            if keep is not None:
                names.append("label")
                arrays.append(
                    pa.array(np.concatenate(ol).astype(np.int32), type=pa.int32())
                )
            names.append("s")
            arrays.append(
                SFZ.f64_masked(np.concatenate(os_), np.concatenate(ov))
            )
            yield SFZ.emit(names, arrays)

    return kern


def _k_ivf_sq8(cids, C, cn, P, q_ids, qcodes, topn, refine=False, Q=None, qn=None):
    """Kernel factory: fused assign → probe-filter → SQ8 integer
    score → per-batch top-``topn`` (by score_scaled DESC, vec_id).
    With ``refine`` the exact cosine of each kept candidate is
    computed eagerly in the same pass (its float vector is already in
    the batch), deleting the old hydrate join + second corpus scan.
    Emits (query_id, neighbor_id, score_scaled[, s])."""

    def kern(it):
        for b in it:
            if b.num_rows == 0:
                continue
            V = SFZ.list_mat(b, "embedding", np.float64)
            vid = SFZ.col_vec(b, "vec_id")
            vn = np.sqrt(SFZ.seq_sqnorm(V))
            cs, _ = SFZ.cosine2(V, vn, C, cn)
            cell_idx = SFZ.argmax_cells(cs)
            scale, codes = SFZ.sq8_np(V)
            idot = codes @ qcodes.T  # (n, q) exact int64
            score = scale[:, None] * idot
            oq, on, osc, os_, ov = [], [], [], [], []
            for qi in range(len(q_ids)):
                m = P[cell_idx, qi] & (vid != q_ids[qi])
                idx = np.flatnonzero(m)
                if idx.size == 0:
                    continue
                sel = idx[SFZ.top_idx_desc(score[idx, qi], vid[idx], topn)]
                oq.append(np.full(sel.size, q_ids[qi], dtype=np.int64))
                on.append(vid[sel])
                osc.append(score[sel, qi])
                if refine:
                    s, v = SFZ.cosine2(V[sel], vn[sel], Q[qi : qi + 1], qn[qi : qi + 1])
                    os_.append(s[:, 0])
                    ov.append(v[:, 0])
            if not oq:
                continue
            names = ["query_id", "neighbor_id", "score_scaled"]
            arrays = [
                pa.array(np.concatenate(oq), type=pa.int64()),
                pa.array(np.concatenate(on), type=pa.int64()),
                pa.array(np.concatenate(osc), type=pa.int64()),
            ]
            if refine:
                names.append("s")
                arrays.append(
                    SFZ.f64_masked(np.concatenate(os_), np.concatenate(ov))
                )
            yield SFZ.emit(names, arrays)

    return kern


def _k_codes_sq8(cell_vals_sorted, P, q_ids, qcodes, topn, artifact):
    """Kernel factory over a PERSISTED (vec_id, cell, scale_micro,
    codes) table — probe-filter + integer score + per-batch top-k;
    no assignment (cells are stored). ``P`` rows follow
    ``cell_vals_sorted`` order; a stored cell outside it raises
    (``artifact`` names the index in the error)."""

    def kern(it):
        for b in it:
            if b.num_rows == 0:
                continue
            vid = SFZ.col_vec(b, "vec_id")
            cells = SFZ.col_vec(b, "cell")
            scale = SFZ.col_vec(b, "scale_micro")
            codes = SFZ.list_mat(b, "codes", np.int64)
            cell_idx = SFZ.id_positions(cell_vals_sorted, cells, artifact)
            idot = codes @ qcodes.T
            score = scale[:, None] * idot
            oq, on, osc = [], [], []
            for qi in range(len(q_ids)):
                m = P[cell_idx, qi] & (vid != q_ids[qi])
                idx = np.flatnonzero(m)
                if idx.size == 0:
                    continue
                sel = idx[SFZ.top_idx_desc(score[idx, qi], vid[idx], topn)]
                oq.append(np.full(sel.size, q_ids[qi], dtype=np.int64))
                on.append(vid[sel])
                osc.append(score[sel, qi])
            if not oq:
                continue
            yield SFZ.emit(
                ["query_id", "neighbor_id", "score_scaled"],
                [
                    pa.array(np.concatenate(oq), type=pa.int64()),
                    pa.array(np.concatenate(on), type=pa.int64()),
                    pa.array(np.concatenate(osc), type=pa.int64()),
                ],
            )

    return kern


@query(
    "sim_ivf_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM e
             ORDER BY vec_id LIMIT {NUM_CENTROIDS}),
    assign AS (
      SELECT vec_id, v, cid AS cell FROM (
        SELECT e.vec_id, e.v, cent.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_SQL_COSINE.format(a="e.v", b="cent.cv")} DESC,
                          cent.cid) AS rn
        FROM e, cent)
      WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e
          WHERE vec_id % {QUERY_MOD} = 0
          ORDER BY vec_id LIMIT {QUERY_LIMIT}),
    probes AS (
      SELECT query_id, qv, cid AS cell FROM (
        SELECT q.query_id, q.qv, cent.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {_SQL_COSINE.format(a="q.qv", b="cent.cv")} DESC,
                          cent.cid) AS rn
        FROM q, cent)
      WHERE rn <= {NPROBE}
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {_SQL_COSINE.format(a="p.qv", b="a.v")} AS s
      FROM probes p JOIN assign a
        ON a.cell = p.cell AND a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, ROUND(s, 6) AS score,
           CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= {TOP_K}
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k: coarse-quantize every vector to its nearest of
    K centroids, probe the query's ``NPROBE`` best cells, score
    exactly within them. The centroid set is a deterministic
    stand-in for a k-means training pass (first K vectors by id).

    Round-15 fused execution (VERDICT r14 #1): one bounded collect of
    the ≤ K + Q centroid/query vectors, probe cells chosen in the
    driver, then ONE ``mapInArrow`` pass over the corpus that
    assigns + probe-filters + scores + keeps each batch's per-query
    top-k, and a single window for the global top-k — replacing the
    crossJoin/window/broadcast-join stage chain whose fixed latency
    dominated at every fixture scale (scaling ratio ≈ 0.9 at 8→32
    cores). Bit-exact vs the DuckDB oracle. The 100 TB shape
    is unchanged: assignment/scoring stay distributed; only K·DIM +
    Q·DIM scalars ever reach the driver."""
    em = load_table(spark, sf_dir, "embeddings")
    cids, C, cn, q_ids, Q, qn = _collect_cents_queries(
        em.orderBy("vec_id").limit(NUM_CENTROIDS).select("vec_id", "embedding"),
        em.filter((F.col("vec_id") % QUERY_MOD) == 0)
        .orderBy("vec_id")
        .limit(QUERY_LIMIT)
        .select("vec_id", "embedding"),
    )
    qcs, _ = SFZ.cosine2(Q, qn, C, cn)
    P = SFZ.fixed_probes(qcs, cids, NPROBE)
    scored = fan_out(em.select("vec_id", "embedding")).mapInArrow(
        _k_ivf_cos(cids, C, cn, P, q_ids, Q, qn, TOP_K),
        "query_id long, neighbor_id long, s double",
    )
    w = W.partitionBy("query_id").orderBy(F.desc("s"), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("s", 6).alias("score"),
            F.col("rn").alias("rank"),
        )
    )


@query(
    "sim_ann_lsh_topk",
    oracle=f"""
    WITH planes AS (
      SELECT p, list_transform(range({DIM}),
                               d -> {_SQL_PLANE_COMPONENT}) AS plane
      FROM (SELECT unnest(range({NUM_PLANES})) AS p)
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    bucketed AS (
      SELECT vec_id, v,
             CAST(SUM(CASE WHEN list_dot_product(v, plane) >= 0
                           THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
      FROM e, planes GROUP BY vec_id, v
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM bucketed
          WHERE vec_id % {QUERY_MOD} = 0
          ORDER BY vec_id LIMIT {QUERY_LIMIT}),
    probes AS (
      SELECT query_id, qv,
             CASE WHEN i = {NUM_PLANES} THEN bucket
                  ELSE xor(bucket, 1 << i) END AS pbucket
      FROM q, (SELECT unnest(range({NUM_PLANES} + 1)) AS i)
    ),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             {_SQL_COSINE.format(a="qv", b="c.v")} AS s
      FROM probes p JOIN bucketed c
        ON c.bucket = p.pbucket AND c.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, ROUND(s, 6) AS score,
           CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= {TOP_K}
    """,
)
def sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN top-k: candidates = vectors in the query's
    bucket OR any bucket one sign-flip away (Hamming ≤ 1 — the
    standard multi-probe trick: near neighbors that land just across
    one hyperplane are recovered without adding hash tables). The
    candidate join stays an equi-join on bucket id; each neighbor
    matches at most one probe, so no dedup pass is needed. At 100 TB
    this probes (P+1)/2^P of the table per query instead of scanning
    n. Recall vs brute force is pytest-checked; the bucketing +
    probing + scoring pipeline itself is oracle-checked."""
    em = load_table(spark, sf_dir, "embeddings")
    bucketed = fan_out(em).select(
        "vec_id",
        F.col("embedding"),
        bucket_expr(F.col("embedding")).alias("bucket"),
        norm(F.col("embedding")).alias("en"),
    )
    queries = bucketed.filter((F.col("vec_id") % QUERY_MOD) == 0).orderBy("vec_id").limit(QUERY_LIMIT).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("bucket").alias("qbucket"),
        F.col("en").alias("qn"),
    )
    probe_buckets = F.array(
        F.col("qbucket"),
        *[
            F.expr(f"qbucket ^ {1 << p}").cast("long")
            for p in range(NUM_PLANES)
        ],
    )
    probes = queries.select(
        "query_id",
        "qv",
        "qn",
        F.explode(probe_buckets).alias("pbucket"),
    )
    scored = (
        bucketed.join(
            F.broadcast(probes),
            (F.col("bucket") == F.col("pbucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_with_norms(
                F.col("qv"), F.col("embedding"), F.col("qn"), F.col("en")
            ).alias("s"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("s"), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("s", 6).alias("score"),
            F.col("rn").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# Label centroids (the IVF coarse-quantizer building block)
# ---------------------------------------------------------------------------


@query(
    "embedding_label_centroids",
    oracle=f"""
    WITH ex AS (
      SELECT label,
             CAST(r.range AS INTEGER) AS pos,
             FLOOR(CAST(embedding[CAST(r.range AS INTEGER) + 1] AS DOUBLE)
                   * 1000000) AS xq
      FROM embeddings, range({DIM}) r
    )
    SELECT label, pos,
           FLOOR(CAST(SUM(xq) AS DOUBLE) / COUNT(*)) / 1000000.0
             AS centroid,
           COUNT(*) AS n_vectors
    FROM ex GROUP BY label, pos
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors, emitted flat as (label, pos,
    centroid) — the coarse-quantizer/cluster-mean kernel behind IVF
    and k-means, as ONE declarative plan: posexplode the array so
    the shuffle carries scalars keyed by (label, dimension), then a
    partial-aggregating groupBy. No collect_list of whole vectors
    ever materializes — per-reducer state is one running sum per
    (label, pos), which is the shape that survives 10^9 vectors.

    Determinism: components are fixed-point-quantized (floor to
    1e-6) BEFORE summing, so the sum is an exact integer total —
    order-insensitive under any partitioning and bit-identical in
    the oracle. (A double sum of arbitrary floats would drift with
    partition count; the decimal-cast trick used for 2dp money
    columns can't cover arbitrary mantissas without hitting rounding
    half-boundaries.) The mean is floored back to the 1e-6 grid —
    floor, not round, because the integer-sum ÷ count quotient CAN
    land exactly on a decimal half, where Spark (half-up on the
    shortest decimal repr) and other engines (IEEE half-even)
    legitimately disagree; floor has no tie to break."""
    em = fan_out(load_table(spark, sf_dir, "embeddings"))
    ex = em.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "label",
        "pos",
        F.floor(F.col("x").cast("double") * F.lit(1000000.0)).alias("xq"),
    )
    return ex.groupBy("label", "pos").agg(
        (
            F.floor(F.sum("xq").cast("double") / F.count("*")).cast("double")
            / F.lit(1000000.0)
        ).alias("centroid"),
        F.count("*").alias("n_vectors"),
    )


@query(
    "embedding_quantize_int8",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    m AS (SELECT vec_id, v,
                 list_aggregate(list_transform(v, x -> abs(x)), 'max')
                   AS max_abs
          FROM e)
    SELECT vec_id,
           CAST(floor(max_abs * 1000000) AS BIGINT) AS scale_micro,
           array_to_string(
             list_transform(v, x -> CAST(CASE WHEN max_abs = 0 THEN 0
                 ELSE floor(x / max_abs * {SQ8_RANGE}) END AS BIGINT)), ',')
             AS codes_csv
    FROM m
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per vector (codes in ±``SQ8_RANGE``,
    per-vector max-abs scale) — the 4× storage/bandwidth reduction
    step before ANN indexing at 100 TB. Map-only higher-order
    expressions, no shuffle, no Python.

    Cross-engine determinism by construction: only IEEE
    exactly-rounded ops (abs/max/div/mul) plus ``floor`` — no ROUND
    (engine tie-break differs) and no libm (pow/log vary per
    implementation); the scale is emitted floor-quantized to an
    integer micro grid. Codes join back as
    ``code * scale / SQ8_RANGE`` for reconstruction (error ≤
    scale/SQ8_RANGE per component, ~0.8%)."""
    em = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return (
        em.select("vec_id", v.alias("v"))
        .withColumn(
            "max_abs", F.array_max(F.transform("v", lambda x: F.abs(x)))
        )
        .select(
            "vec_id",
            F.floor(F.col("max_abs") * 1_000_000)
            .cast("long")
            .alias("scale_micro"),
            F.concat_ws(
                ",",
                F.transform(
                    "v",
                    lambda x: F.when(
                        F.col("max_abs") == 0, F.lit(0).cast("long")
                    )
                    .otherwise(F.floor(x / F.col("max_abs") * SQ8_RANGE))
                    .cast("string"),
                ),
            ).alias("codes_csv"),
        )
    )


# ---------------------------------------------------------------------------
# Scalar-quantized (SQ8) similarity serve
# ---------------------------------------------------------------------------


def int8_codes(v: Column, max_abs: Column) -> Column:
    """array<long> symmetric int8 codes (floor(x / max_abs ·
    SQ8_RANGE), codes in ±``SQ8_RANGE``) — the same exactly-rounded
    IEEE construction as ``embedding_quantize_int8`` (abs/max/div/mul
    + floor only, no ROUND, no libm), factored so the storage op and
    the SQ8 scorer can never drift apart."""
    return F.transform(
        v,
        lambda x: F.when(max_abs == 0, F.lit(0).cast("long")).otherwise(
            F.floor(x / max_abs * SQ8_RANGE).cast("long")
        ),
    )


_SQL_INT8_CODES = (
    "list_transform({v}, x -> CAST(CASE WHEN {m} = 0 THEN 0 "
    f"ELSE floor(x / {{m}} * {SQ8_RANGE}) END AS BIGINT))"
)


def sq8_encode(
    df: DataFrame,
    vec_col: str,
    ids: tuple[str, ...],
    already_double: bool = False,
) -> DataFrame:
    """(ids..., scale_micro, codes) — the ONE SQ8 encode pipeline
    (double-cast, max-abs, micro-grid scale, int8 codes) shared by
    the flat scan, the IVF composite and the refine over-fetch so a
    scale/precision change can never leave the variants inconsistent
    (the same single-definition discipline as ``int8_codes``)."""
    v = (
        F.col(vec_col)
        if already_double
        else F.transform(F.col(vec_col), lambda x: x.cast("double"))
    )
    return (
        df.select(*ids, v.alias("_v"))
        .withColumn(
            "_ma", F.array_max(F.transform("_v", lambda x: F.abs(x)))
        )
        .select(
            *ids,
            F.floor(F.col("_ma") * 1_000_000)
            .cast("long")
            .alias("scale_micro"),
            int8_codes(F.col("_v"), F.col("_ma")).alias("codes"),
        )
    )


_SQL_SQ8_TOPK = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    c AS (
      SELECT vec_id,
             CAST(floor(max_abs * 1000000) AS BIGINT) AS scale_micro,
             {_SQL_INT8_CODES.format(v="v", m="max_abs")} AS codes
      FROM (SELECT vec_id, v,
                   list_aggregate(list_transform(v, x -> abs(x)), 'max')
                     AS max_abs
            FROM e)
    ),
    q AS (SELECT vec_id AS query_id, codes AS qc FROM c
          WHERE vec_id % {QUERY_MOD} = 0
          ORDER BY vec_id LIMIT {QUERY_LIMIT}),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             CAST(c.scale_micro
                  * CAST(list_dot_product(
                        list_transform(qc, x -> CAST(x AS DOUBLE)),
                        list_transform(c.codes, x -> CAST(x AS DOUBLE)))
                    AS BIGINT) AS BIGINT) AS score_scaled
      FROM q JOIN c ON c.vec_id <> query_id
    )
    SELECT query_id, neighbor_id, score_scaled,
           CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id
            ORDER BY score_scaled DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= {TOP_K}
    """


@query(
    "sim_sq8_topk",
    oracle=_SQL_SQ8_TOPK,
)
def sim_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized top-k: score in INT8 code space (the FAISS
    ``IndexScalarQuantizer`` serve path). Each vector is stored as 64
    int8 codes + one integer scale — 4× less scan bandwidth than
    float32, which at 100 TB is the difference between an in-memory
    and a spilled index. The per-pair score is a pure INTEGER dot
    product of codes scaled by the neighbor's integer micro-scale
    (the query's scale is constant per query and cannot change its
    ranking), so Spark and the oracle compare exact BIGINTs — no
    float accumulation anywhere. Map-only encode, broadcast query
    codes, per-query top-k window; ties by neighbor_id."""
    em = load_table(spark, sf_dir, "embeddings")
    codes = sq8_encode(em, "embedding", ("vec_id",))
    return _sq8_score_topk(codes)


def _sq8_score_topk(codes: DataFrame) -> DataFrame:
    """The SQ8 flat-scan scoring kernel over a (vec_id, scale_micro,
    codes) table — shared by ``sim_sq8_topk`` (encodes inline) and
    ``sim_sq8_serve_topk`` (reads the persisted index), so the two
    paths return identical rows by construction."""
    queries = (
        codes.filter((F.col("vec_id") % QUERY_MOD) == 0)
        .orderBy("vec_id")
        .limit(QUERY_LIMIT)
        .select(F.col("vec_id").alias("query_id"), F.col("codes").alias("qc"))
    )
    idot = F.aggregate(
        F.zip_with("qc", "codes", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        fan_out(codes)
        .join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (F.col("scale_micro") * idot).alias("score_scaled"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("score_scaled"), "neighbor_id"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "score_scaled",
            F.col("rn").cast("int").alias("rank"),
        )
    )


@query(
    "sim_ivf_sq8_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM e
             ORDER BY vec_id LIMIT {NUM_CENTROIDS}),
    assign AS (
      SELECT vec_id, v, cid AS cell FROM (
        SELECT e.vec_id, e.v, cent.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_SQL_COSINE.format(a="e.v", b="cent.cv")} DESC,
                          cent.cid) AS rn
        FROM e, cent)
      WHERE rn = 1
    ),
    c AS (
      SELECT vec_id, cell,
             CAST(floor(max_abs * 1000000) AS BIGINT) AS scale_micro,
             {_SQL_INT8_CODES.format(v="v", m="max_abs")} AS codes
      FROM (SELECT vec_id, cell, v,
                   list_aggregate(list_transform(v, x -> abs(x)), 'max')
                     AS max_abs
            FROM assign)
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e
          WHERE vec_id % {QUERY_MOD} = 0
          ORDER BY vec_id LIMIT {QUERY_LIMIT}),
    qc AS (
      SELECT query_id,
             {_SQL_INT8_CODES.format(v="qv", m="max_abs")} AS qcodes
      FROM (SELECT query_id, qv,
                   list_aggregate(list_transform(qv, x -> abs(x)), 'max')
                     AS max_abs
            FROM q)
    ),
    {_sql_adaptive_probes("assign", "q")},
    scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             CAST(c.scale_micro
                  * CAST(list_dot_product(
                        list_transform(qc.qcodes, x -> CAST(x AS DOUBLE)),
                        list_transform(c.codes, x -> CAST(x AS DOUBLE)))
                    AS BIGINT) AS BIGINT) AS score_scaled
      FROM probes p
      JOIN qc ON qc.query_id = p.query_id
      JOIN c ON c.cell = p.qcell AND c.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, score_scaled,
           CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id
            ORDER BY score_scaled DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= {TOP_K}
    """,
)
def sim_ivf_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + SQ8 composite (the FAISS ``IVFx,SQ8`` index): coarse
    cells prune ~(1 − nprobe/K) of the corpus exactly as
    ``sim_ivf_topk``, then candidates inside the probed cells are
    scored in INT8 code space — 4× less candidate bandwidth than the
    float IVF scan while the ranking stays an exact BIGINT compare.
    This is the missing middle of the quantized tier: SQ8 alone still
    scans every vector; IVF-SQ8's per-query cost is
    nprobe·n/K code-dot-products over 68-byte rows. Cell assignment
    is the same broadcast-centroid argmax (at 100 TB it runs once at
    ingest); query codes broadcast with the probe list.

    Probe depth is the recall-targeted mass policy
    (``simfuse.mass_probes``), not a fixed nprobe: cells probe in
    similarity order until ≥ τ of the corpus is covered, bounding
    worst-case (iid) recall at ~τ while clustered corpora stop at
    the cells that matter. Measured τ→recall in BASELINE.md.

    Round-15 fused execution: bounded centroid/query collect + one
    per-cell histogram pass (the index metadata the mass policy
    reads) + ONE fused assign/encode/score/top-k ``mapInArrow`` pass
    — see the block comment above ``_collect_cents_queries``. Its
    reference is the DuckDB oracle."""
    em = load_table(spark, sf_dir, "embeddings")
    cids, C, cn, q_ids, Q, qn = _collect_cents_queries(
        em.orderBy("vec_id").limit(NUM_CENTROIDS).select("vec_id", "embedding"),
        em.filter((F.col("vec_id") % QUERY_MOD) == 0)
        .orderBy("vec_id")
        .limit(QUERY_LIMIT)
        .select("vec_id", "embedding"),
    )
    sizes = _ivf_sizes(em, cids, C, cn)
    qcs, _ = SFZ.cosine2(Q, qn, C, cn)
    P = SFZ.mass_probes(qcs, cids, sizes, PROBE_MASS_NUM, PROBE_MASS_DEN)
    _, qcodes = SFZ.sq8_np(Q)
    scored = fan_out(em.select("vec_id", "embedding")).mapInArrow(
        _k_ivf_sq8(cids, C, cn, P, q_ids, qcodes, TOP_K),
        "query_id long, neighbor_id long, score_scaled long",
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("score_scaled"), "neighbor_id"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "score_scaled",
            F.col("rn").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# MMR diversified re-rank
# ---------------------------------------------------------------------------

MMR_C = 25  # candidate pool per query (exact top-C by cosine)
MMR_K = 5  # diversified selections per query
# MMR objective with lambda = 0.7, held as INTEGER coefficients
# (7*rel - 3*max_sim): multiply-by-small-int is one exactly-rounded
# IEEE op, so both engines score identical doubles, where a 0.7
# literal would parse DECIMAL in one engine and DOUBLE in the other.
MMR_REL_W = 7
MMR_PEN_W = 3


def _sql_mmr() -> str:
    """Unrolled greedy MMR: sel_1 = argmax rel; sel_k = argmax over
    the unselected of (7·rel − 3·max sim to selected). Each step is
    one mechanical CTE; ties break on neighbor_id."""
    steps = [
        f"""
    sel_1 AS MATERIALIZED (
      SELECT query_id, nid, rel, 1 AS step,
             {MMR_REL_W} * rel AS mmr
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id ORDER BY rel DESC, nid) AS rn
            FROM cands)
      WHERE rn = 1
    )"""
    ]
    for k in range(2, MMR_K + 1):
        prev = f"sel_{k - 1}" if k == 2 else f"acc_{k - 1}"
        steps.append(
            f"""
    scored_{k} AS MATERIALIZED (
      SELECT c.query_id, c.nid, c.rel,
             {MMR_REL_W} * c.rel - {MMR_PEN_W} * MAX(s.sim) AS mmr
      FROM cands c
      JOIN {prev} p ON p.query_id = c.query_id
      JOIN sims s ON s.query_id = c.query_id
               AND s.b = c.nid AND s.a = p.nid
      WHERE NOT EXISTS (SELECT 1 FROM {prev} x
                        WHERE x.query_id = c.query_id AND x.nid = c.nid)
      GROUP BY c.query_id, c.nid, c.rel
    ),
    sel_{k} AS MATERIALIZED (
      SELECT query_id, nid, rel, {k} AS step, mmr
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id ORDER BY mmr DESC, nid) AS rn
            FROM scored_{k})
      WHERE rn = 1
    ),
    acc_{k} AS MATERIALIZED (SELECT query_id, nid, rel, step, mmr FROM {prev}
                UNION ALL
                SELECT query_id, nid, rel, step, mmr FROM sel_{k})"""
        )
    chain = ",".join(steps)
    # MATERIALIZED: the K unrolled steps reference cands/sims many
    # times; inlined CTEs would recompute the candidate scan per
    # reference (measured 62 s -> sub-second at sf0.1)
    return f"""
    WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM e
          WHERE vec_id % {QUERY_MOD} = 0
          ORDER BY vec_id LIMIT {QUERY_LIMIT}),
    cands AS MATERIALIZED (
      SELECT query_id, nid, rel, v FROM (
        SELECT query_id, e.vec_id AS nid,
               {_SQL_COSINE.format(a="qv", b="e.v")} AS rel, e.v,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id
                 ORDER BY {_SQL_COSINE.format(a="qv", b="e.v")} DESC,
                          e.vec_id) AS rn
        FROM q JOIN e ON e.vec_id <> query_id)
      WHERE rn <= {MMR_C}
    ),
    sims AS MATERIALIZED (
      SELECT a.query_id, a.nid AS a, b.nid AS b,
             {_SQL_COSINE.format(a="a.v", b="b.v")} AS sim
      FROM cands a JOIN cands b
        ON a.query_id = b.query_id AND a.nid <> b.nid
    ),{chain}
    SELECT query_id, nid AS neighbor_id, CAST(step AS INTEGER) AS step,
           ROUND(mmr, 6) AS mmr
    FROM acc_{MMR_K}
    """


def _mmr_group(pdf):
    """Whole greedy MMR selection for ONE query's candidate pool
    (≤ MMR_C rows), vectorized in pandas/numpy. Dot products and
    norms fold left-to-right over the dimension axis — the same
    accumulation order as functions.vector's ``F.aggregate`` fold
    and hence the same doubles the JVM path scored, so the oracle
    contract (6-decimal equality) is unchanged."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values(
        ["rel", "nid"], ascending=[False, True]
    ).reset_index(drop=True)
    n = len(pdf)
    nid = pdf["nid"].to_numpy()
    rel = pdf["rel"].to_numpy(dtype=np.float64)
    V = np.stack(pdf["v"].to_numpy()).astype(np.float64)
    d = V.shape[1]
    # Left-to-right fold over dims (vectorized over pairs): after the
    # loop, norm_acc/dots equal the sequential F.aggregate fold
    # bit-for-bit — each iteration adds dim t's product to the
    # running double, in dim order.
    norm_acc = np.zeros(n)
    dots = np.zeros((n, n))
    for t in range(d):
        x = V[:, t]
        norm_acc = norm_acc + x * x
        dots = dots + np.outer(x, x)
    norms = np.sqrt(norm_acc)
    denom = np.outer(norms, norms)
    with np.errstate(invalid="ignore", divide="ignore"):
        sims = np.where(denom != 0.0, dots / denom, np.nan)

    # step 1: argmax rel (ties to smaller nid) = row 0 after the sort
    sel = [0]
    mmr = [MMR_REL_W * rel[0]]
    alive = np.ones(n, dtype=bool)
    alive[0] = False
    for _ in range(2, min(MMR_K, n) + 1):
        pen = np.max(sims[:, sel], axis=1)  # NaN only for 0-vectors
        score = MMR_REL_W * rel - MMR_PEN_W * pen
        score = np.where(np.isnan(score), -np.inf, score)
        # Pick over ALIVE indices only: if every alive score is -inf
        # (all-NaN penalty pool of zero-vectors) the old global
        # lexsort could re-pick an already-selected nid.
        live = np.flatnonzero(alive)
        order = np.lexsort((nid[live], -score[live]))  # mmr desc, nid asc
        pick = int(live[order[0]])
        sel.append(pick)
        mmr.append(float(score[pick]))
        alive[pick] = False
    return pd.DataFrame(
        {
            "query_id": np.full(len(sel), pdf["query_id"].iloc[0]),
            "neighbor_id": nid[sel],
            "step": np.arange(1, len(sel) + 1, dtype=np.int32),
            "mmr": np.asarray(mmr, dtype=np.float64),
        }
    )


@query("sim_mmr_rerank_topk", oracle=_sql_mmr())
def sim_mmr_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy Maximal-Marginal-Relevance re-rank (Carbonell &
    Goldstein, SIGIR'98) — the diversification pass RAG retrieval
    runs AFTER ANN: from each query's exact top-{MMR_C} pool, pick
    {MMR_K} results one at a time, each maximizing
    7·relevance − 3·(max similarity to the already-picked). Greedy
    selection is inherently sequential in K, but the sequence is
    PER QUERY over a pool of ≤ {MMR_C} rows — so the whole loop
    (pool² pair similarities + K picks) runs inside ONE
    ``applyInPandas`` stage grouped by query_id: one shuffle on
    query_id, zero driver barriers, a real distributed plan
    (VERDICT r9 #2; replaces the r9 K-step collect loop whose
    registered result was a LocalTableScan). The corpus-sized work
    (candidate generation) is the same broadcast brute-force scan as
    ``sim_topk_bruteforce``. All scoring is integer-weighted double
    arithmetic with the same accumulation order as the oracle's
    unrolled CTE chain."""
    em = load_table(spark, sf_dir, "embeddings")
    queries = (
        em.filter((F.col("vec_id") % QUERY_MOD) == 0)
        .orderBy("vec_id")
        .limit(QUERY_LIMIT)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            norm(F.col("embedding")).alias("qn"),
        )
    )
    cw = W.partitionBy("query_id").orderBy(F.desc("rel"), "nid")
    cands = (
        fan_out(em)
        .withColumn("en", norm(F.col("embedding")))
        .join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("nid"),
            cosine_with_norms(
                F.col("qv"), F.col("embedding"), F.col("qn"), F.col("en")
            ).alias("rel"),
            F.col("embedding").alias("v"),
            F.col("en").alias("vn"),
        )
        .withColumn("rn", F.row_number().over(cw))
        .filter(F.col("rn") <= MMR_C)
        .select("query_id", "nid", "rel", "v")
    )
    out = cands.groupBy("query_id").applyInPandas(
        _mmr_group,
        schema="query_id long, neighbor_id long, step int, mmr double",
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.col("step").cast("int").alias("step"),
        F.round("mmr", 6).alias("mmr"),
    )


SQ8_FETCH = 100  # code-space over-fetch before the exact re-rank


@query(
    "sim_sq8_refine_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    c AS (
      SELECT vec_id,
             CAST(floor(max_abs * 1000000) AS BIGINT) AS scale_micro,
             {_SQL_INT8_CODES.format(v="v", m="max_abs")} AS codes
      FROM (SELECT vec_id, v,
                   list_aggregate(list_transform(v, x -> abs(x)), 'max')
                     AS max_abs
            FROM e)
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e
          WHERE vec_id % {QUERY_MOD} = 0
          ORDER BY vec_id LIMIT {QUERY_LIMIT}),
    qc AS (
      SELECT query_id,
             {_SQL_INT8_CODES.format(v="qv", m="max_abs")} AS qcodes
      FROM (SELECT query_id, qv,
                   list_aggregate(list_transform(qv, x -> abs(x)), 'max')
                     AS max_abs
            FROM q)
    ),
    fetched AS (
      SELECT query_id, neighbor_id FROM (
        SELECT qc.query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY qc.query_id
                 ORDER BY c.scale_micro
                   * CAST(list_dot_product(
                       list_transform(qc.qcodes, x -> CAST(x AS DOUBLE)),
                       list_transform(c.codes, x -> CAST(x AS DOUBLE)))
                     AS BIGINT) DESC,
                   c.vec_id) AS rn
        FROM qc JOIN c ON c.vec_id <> qc.query_id)
      WHERE rn <= {SQ8_FETCH}
    ),
    rescored AS (
      SELECT f.query_id, f.neighbor_id,
             {_SQL_COSINE.format(a="q.qv", b="e.v")} AS s
      FROM fetched f
      JOIN q ON q.query_id = f.query_id
      JOIN e ON e.vec_id = f.neighbor_id
    )
    SELECT query_id, neighbor_id, ROUND(s, 6) AS score,
           CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rn
          FROM rescored)
    WHERE rn <= {TOP_K}
    """,
)
def sim_sq8_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 + exact refine (the FAISS IndexRefineFlat composition for
    scalar quantizers): over-fetch top-{SQ8_FETCH} per query in INT8
    code space — the cheap 4×-compressed scan — then hydrate ONLY
    those candidates' float vectors by id equi-join and re-rank with
    exact cosine. The refine step exists because within-CLUSTER
    ranking needs resolution below the quantization step: on the
    structured (clustered) fixture raw SQ8 recall@10 is 0.14 while
    SQ8+refine recovers it (tools/ann_recall.py table in BASELINE.md)
    — candidates are almost all right, only their fine order is
    quantization-scrambled, so an exact re-rank over C=100 rows per
    query (cost ∝ C, not corpus size) repairs it."""
    em = load_table(spark, sf_dir, "embeddings")
    codes = sq8_encode(em, "embedding", ("vec_id",))
    qfloat = (
        em.filter((F.col("vec_id") % QUERY_MOD) == 0)
        .orderBy("vec_id")
        .limit(QUERY_LIMIT)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            norm(F.col("embedding")).alias("qn"),
        )
    )
    qcodes = sq8_encode(qfloat, "qv", ("query_id",)).select(
        "query_id", F.col("codes").alias("qcodes")
    )
    idot = F.aggregate(
        F.zip_with("qcodes", "codes", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    fw = W.partitionBy("query_id").orderBy(
        F.desc("score_scaled"), "neighbor_id"
    )
    fetched = (
        fan_out(codes)
        .join(F.broadcast(qcodes), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (F.col("scale_micro") * idot).alias("score_scaled"),
        )
        .withColumn("rn", F.row_number().over(fw))
        .filter(F.col("rn") <= SQ8_FETCH)
        .select("query_id", "neighbor_id")
    )
    hydrated = fetched.join(
        em.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("nv"),
            norm(F.col("embedding")).alias("nn"),
        ),
        "neighbor_id",
    ).join(F.broadcast(qfloat), "query_id")
    rescored = hydrated.select(
        "query_id",
        "neighbor_id",
        cosine_with_norms(
            F.col("qv"), F.col("nv"), F.col("qn"), F.col("nn")
        ).alias("s"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("s"), "neighbor_id")
    return (
        rescored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("s", 6).alias("score"),
            F.col("rn").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# Binary (sign-bit) quantization tier — completes the compression
# ladder: SQ8 4×, binary 32×, PQ 64× (VERDICT r10 #4). Each vector
# stores one sign bit per dimension, packed into 32-bit words held in
# BIGINTs (32 bits/word keeps every shift exact and portable — no
# engine-specific signed-overflow semantics at bit 63). Distance is
# Hamming via bit_count(a XOR b) — exact integer arithmetic in both
# engines, so ranking is hash-checkable, not just recall-tested.
# Sign-bit retrieval is the cheapest scan tier a vector store runs
# (32× less bandwidth than float32); like SQ8 its fine order is
# quantization-scrambled, so the deployment composition over-fetches
# and exact-re-ranks (``sim_binary_refine_topk``), reusing the refine
# machinery shape of ``sim_sq8_refine_topk``.
# ---------------------------------------------------------------------------

BIN_WORD_BITS = 32
BIN_WORDS = (DIM + BIN_WORD_BITS - 1) // BIN_WORD_BITS
# Hamming-space over-fetch before the exact re-rank. 200 (not the
# SQ8 tier's 100): 1 bit/dim makes near-iid vectors the worst case —
# at 100 the iid fixture measured recall@10 0.78, below the 0.8 bar
# the structured gate enforces (VERDICT r11 #7); doubling the probe
# depth recovers it while re-ranking still touches only 200 float
# vectors per query.
BIN_FETCH = 200


def _spark_sign_words(col: str) -> str:
    """Spark-SQL expression string: array<long> of packed sign-bit
    words over embedding column ``col`` (bit j of word w =
    element w·32+j > 0). Built as ONE parsed string — the same
    driver-time discipline as the plane literals above."""
    words = []
    for w in range(BIN_WORDS):
        terms = " + ".join(
            f"CASE WHEN element_at({col}, {w * BIN_WORD_BITS + j + 1})"
            f" > 0 THEN {1 << j}L ELSE 0L END"
            for j in range(BIN_WORD_BITS)
        )
        words.append(f"CAST({terms} AS BIGINT)")
    return "array(" + ", ".join(words) + ")"


def _sql_sign_words(col: str) -> str:
    """DuckDB twin of :func:`_spark_sign_words` (1-based list index)."""
    words = []
    for w in range(BIN_WORDS):
        terms = " + ".join(
            f"CASE WHEN {col}[{w * BIN_WORD_BITS + j + 1}]"
            f" > 0 THEN {1 << j} ELSE 0 END"
            for j in range(BIN_WORD_BITS)
        )
        words.append(f"CAST({terms} AS BIGINT)")
    return "[" + ", ".join(words) + "]"


def _spark_hamming(a: str, b: str) -> str:
    return " + ".join(
        f"CAST(bit_count(element_at({a}, {i}) ^ element_at({b}, {i}))"
        " AS BIGINT)"
        for i in range(1, BIN_WORDS + 1)
    )


def _sql_hamming(a: str, b: str) -> str:
    return " + ".join(
        f"CAST(bit_count(xor({a}[{i}], {b}[{i}])) AS BIGINT)"
        for i in range(1, BIN_WORDS + 1)
    )


def _binary_codes(em: DataFrame) -> DataFrame:
    """(vec_id, b): packed sign-bit words — map-only encode."""
    return em.select(
        "vec_id", F.expr(_spark_sign_words("embedding")).alias("b")
    )


@query(
    "sim_binary_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    c AS (SELECT vec_id, {_sql_sign_words("v")} AS b FROM e),
    q AS (SELECT vec_id AS query_id, b AS qb FROM c
          WHERE vec_id % {QUERY_MOD} = 0
          ORDER BY vec_id LIMIT {QUERY_LIMIT}),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             {_sql_hamming("qb", "c.b")} AS hamming
      FROM q JOIN c ON c.vec_id <> query_id)
    SELECT query_id, neighbor_id, hamming, CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id
            ORDER BY hamming, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= {TOP_K}
    """,
)
def sim_binary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary sign-bit top-k: rank by Hamming distance over the
    packed sign bits ({BIN_WORDS} BIGINT words per vector — a 32×
    scan-bandwidth cut vs float32). Pure integer bit_count(XOR)
    scoring, exact in both engines. Map-only encode, broadcast query
    words, per-query top-k window; ties by neighbor_id. The raw tier
    a vector store scans FIRST; deployment composes the refine below."""
    em = load_table(spark, sf_dir, "embeddings")
    # cached: without it Catalyst collapses the 64-term sign-word
    # projection into the post-join score expression and recomputes
    # it PER PAIR (measured 25x on the sf10 hop); materializing the
    # narrow (vec_id, 2-word) table restores per-vector encode cost
    # (the persisted-index serve path never has the problem)
    return _binary_score_topk(_binary_codes(em).cache())


@query(
    "sim_binary_refine_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    c AS (SELECT vec_id, {_sql_sign_words("v")} AS b FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e
          WHERE vec_id % {QUERY_MOD} = 0
          ORDER BY vec_id LIMIT {QUERY_LIMIT}),
    qbits AS (SELECT query_id, {_sql_sign_words("qv")} AS qb FROM q),
    fetched AS (
      SELECT query_id, neighbor_id FROM (
        SELECT qbits.query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY qbits.query_id
                 ORDER BY {_sql_hamming("qbits.qb", "c.b")},
                          c.vec_id) AS rn
        FROM qbits JOIN c ON c.vec_id <> qbits.query_id)
      WHERE rn <= {BIN_FETCH}
    ),
    rescored AS (
      SELECT f.query_id, f.neighbor_id,
             {_SQL_COSINE.format(a="q.qv", b="e.v")} AS s
      FROM fetched f
      JOIN q ON q.query_id = f.query_id
      JOIN e ON e.vec_id = f.neighbor_id
    )
    SELECT query_id, neighbor_id, ROUND(s, 6) AS score,
           CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rn
          FROM rescored)
    WHERE rn <= {TOP_K}
    """,
)
def sim_binary_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary + exact refine (the deployment composition of the
    sign-bit tier, mirroring ``sim_sq8_refine_topk``): over-fetch
    top-{BIN_FETCH} per query in Hamming space — the 32×-compressed
    scan — then hydrate ONLY those candidates' float vectors by id
    equi-join and re-rank with exact cosine. Recall gated on the
    structured fixture in tests/test_ann_structured.py."""
    em = load_table(spark, sf_dir, "embeddings")
    codes = _binary_codes(em).cache()  # same collapse guard as sim_binary_topk
    qfloat = (
        em.filter((F.col("vec_id") % QUERY_MOD) == 0)
        .orderBy("vec_id")
        .limit(QUERY_LIMIT)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            norm(F.col("embedding")).alias("qn"),
        )
    )
    qbits = qfloat.select(
        "query_id", F.expr(_spark_sign_words("qv")).alias("qb")
    )
    fw = W.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    fetched = (
        fan_out(codes)
        .join(F.broadcast(qbits), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(_spark_hamming("qb", "b")).alias("hamming"),
        )
        .withColumn("rn", F.row_number().over(fw))
        .filter(F.col("rn") <= BIN_FETCH)
        .select("query_id", "neighbor_id")
    )
    hydrated = fetched.join(
        em.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("nv"),
            norm(F.col("embedding")).alias("nn"),
        ),
        "neighbor_id",
    ).join(F.broadcast(qfloat), "query_id")
    rescored = hydrated.select(
        "query_id",
        "neighbor_id",
        cosine_with_norms(
            F.col("qv"), F.col("nv"), F.col("qn"), F.col("nn")
        ).alias("s"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("s"), "neighbor_id")
    return (
        rescored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("s", 6).alias("score"),
            F.col("rn").cast("int").alias("rank"),
        )
    )


@query(
    "sim_ivf_sq8_refine_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM e
             ORDER BY vec_id LIMIT {NUM_CENTROIDS}),
    assign AS (
      SELECT vec_id, v, cid AS cell FROM (
        SELECT e.vec_id, e.v, cent.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_SQL_COSINE.format(a="e.v", b="cent.cv")} DESC,
                          cent.cid) AS rn
        FROM e, cent)
      WHERE rn = 1
    ),
    c AS (
      SELECT vec_id, cell,
             CAST(floor(max_abs * 1000000) AS BIGINT) AS scale_micro,
             {_SQL_INT8_CODES.format(v="v", m="max_abs")} AS codes
      FROM (SELECT vec_id, cell, v,
                   list_aggregate(list_transform(v, x -> abs(x)), 'max')
                     AS max_abs
            FROM assign)
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e
          WHERE vec_id % {QUERY_MOD} = 0
          ORDER BY vec_id LIMIT {QUERY_LIMIT}),
    qc AS (
      SELECT query_id,
             {_SQL_INT8_CODES.format(v="qv", m="max_abs")} AS qcodes
      FROM (SELECT query_id, qv,
                   list_aggregate(list_transform(qv, x -> abs(x)), 'max')
                     AS max_abs
            FROM q)
    ),
    {_sql_adaptive_probes("assign", "q")},
    fetched AS (
      SELECT query_id, neighbor_id FROM (
        SELECT p.query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY p.query_id
                 ORDER BY c.scale_micro
                   * CAST(list_dot_product(
                       list_transform(qc.qcodes, x -> CAST(x AS DOUBLE)),
                       list_transform(c.codes, x -> CAST(x AS DOUBLE)))
                     AS BIGINT) DESC,
                   c.vec_id) AS rn
        FROM probes p
        JOIN qc ON qc.query_id = p.query_id
        JOIN c ON c.cell = p.qcell AND c.vec_id <> p.query_id)
      WHERE rn <= {SQ8_FETCH}
    ),
    rescored AS (
      SELECT f.query_id, f.neighbor_id,
             {_SQL_COSINE.format(a="q.qv", b="e.v")} AS s
      FROM fetched f
      JOIN q ON q.query_id = f.query_id
      JOIN e ON e.vec_id = f.neighbor_id
    )
    SELECT query_id, neighbor_id, ROUND(s, 6) AS score,
           CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rn
          FROM rescored)
    WHERE rn <= {TOP_K}
    """,
)
def sim_ivf_sq8_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production retrieval composition (FAISS
    ``IVFx,SQ8`` + ``IndexRefineFlat``): recall-targeted adaptive
    coarse prune (``simfuse.mass_probes`` — probe cells by
    similarity until ≥ τ corpus mass), INT8 code-space scoring
    inside the probed cells, top-{SQ8_FETCH} over-fetch, then exact
    float cosine re-rank of just those candidates. Each tier fixes
    the one below: the mass policy bounds what the prune can miss,
    the refine step restores the fine order SQ8 quantization
    scrambles inside clusters (raw 0.14 → 0.875+ on the structured
    fixture, BASELINE.md). Per-query cost: 16 centroid dots +
    τ·n/1 code dots + {SQ8_FETCH} exact dots — the middle term is
    the dial, and it reads 68-byte code rows, not 260-byte floats.

    Round-15 fused execution: one fused ``mapInArrow`` pass does the
    assign/encode/probe-filter/code-score AND the exact-cosine
    re-score of each batch's top-{SQ8_FETCH} candidates (their float
    vectors are already in the batch), so the old hydrate equi-join
    + second corpus scan are gone; the global over-fetch and final
    re-rank are two windows over one query_id exchange. Its
    reference is the DuckDB oracle."""
    em = load_table(spark, sf_dir, "embeddings")
    cids, C, cn, q_ids, Q, qn = _collect_cents_queries(
        em.orderBy("vec_id").limit(NUM_CENTROIDS).select("vec_id", "embedding"),
        em.filter((F.col("vec_id") % QUERY_MOD) == 0)
        .orderBy("vec_id")
        .limit(QUERY_LIMIT)
        .select("vec_id", "embedding"),
    )
    sizes = _ivf_sizes(em, cids, C, cn)
    qcs, _ = SFZ.cosine2(Q, qn, C, cn)
    P = SFZ.mass_probes(qcs, cids, sizes, PROBE_MASS_NUM, PROBE_MASS_DEN)
    _, qcodes = SFZ.sq8_np(Q)
    scored = fan_out(em.select("vec_id", "embedding")).mapInArrow(
        _k_ivf_sq8(
            cids, C, cn, P, q_ids, qcodes, SQ8_FETCH, refine=True, Q=Q, qn=qn
        ),
        "query_id long, neighbor_id long, score_scaled long, s double",
    )
    fw = W.partitionBy("query_id").orderBy(
        F.desc("score_scaled"), "neighbor_id"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("s"), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(fw))
        .filter(F.col("rn") <= SQ8_FETCH)
        .drop("rn")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("s", 6).alias("score"),
            F.col("rn").cast("int").alias("rank"),
        )
    )


# --- SQ8 index lifecycle: BUILD once, SERVE from persisted codes ----------


def embedding_sq8_index_build(
    spark: SparkSession,
    sf_dir: str,
    path: str | None = None,
    force: bool = False,
) -> str:
    """BUILD half of the SQ8 lifecycle (the third index family to
    get the build/serve split, after IVF-PQ and BM25): encode every
    vector once — (vec_id, scale_micro, codes), int8 codes + one
    integer scale, 4× less bandwidth than float32 — and persist as

      - ``sq8_codes.parquet``: the compressed corpus, written
        distributed (the only data-sized artifact).

    The key is the source fingerprint plus the code range (commit
    protocol: ``artifacts``)."""
    import os

    def write(path: str) -> None:
        em = load_table(spark, sf_dir, "embeddings")
        sq8_encode(em, "embedding", ("vec_id",)).write.mode(
            "overwrite"
        ).parquet(os.path.join(path, "sq8_codes.parquet"))

    key = {"codes": SQ8_RANGE}
    return artifacts.build(
        sf_dir, "embeddings", "sq8", key, write, path, force
    )


@query("sim_sq8_serve_topk", oracle=_SQL_SQ8_TOPK)
def sim_sq8_serve_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVE half: top-k scored from ONLY the persisted int8 codes —
    the raw embedding table is out of the serve path entirely
    (poison-tested in pytest, like the BM25 and IVF-PQ serves).
    Builds on first call, then every retrieval reads the 4×-
    compressed artifact; scoring is the same kernel as
    ``sim_sq8_topk``, so the oracle is literally the same SQL."""
    import os

    path = embedding_sq8_index_build(spark, sf_dir)
    codes = spark.read.parquet(os.path.join(path, "sq8_codes.parquet"))
    return _sq8_score_topk(codes)


# --- binary index lifecycle: BUILD once, SERVE from packed sign bits -------


def embedding_binary_index_build(
    spark: SparkSession,
    sf_dir: str,
    path: str | None = None,
    force: bool = False,
) -> str:
    """BUILD half of the binary tier's lifecycle (the FOURTH index
    family with the build/serve split, completing the ladder:
    IVF-PQ, BM25, SQ8, binary): pack every vector's sign bits once —
    (vec_id, b), two BIGINT words per 64-dim vector, a 32× bandwidth
    cut — and persist as

      - ``bin_codes.parquet``: the compressed corpus.

    The key is the source fingerprint plus the word layout (commit
    protocol: ``artifacts``)."""
    import os

    def write(path: str) -> None:
        em = load_table(spark, sf_dir, "embeddings")
        _binary_codes(em).write.mode("overwrite").parquet(
            os.path.join(path, "bin_codes.parquet")
        )

    key = {
        "word_bits": BIN_WORD_BITS,
        "words": BIN_WORDS,
    }
    return artifacts.build(
        sf_dir, "embeddings", "bin", key, write, path, force
    )


def _binary_score_topk(codes: DataFrame) -> DataFrame:
    """Hamming top-k over a (vec_id, b) packed-word table — shared by
    ``sim_binary_topk`` (encodes inline) and ``sim_binary_serve_topk``
    (reads the persisted index), so the two paths return identical
    rows by construction."""
    queries = (
        codes.filter((F.col("vec_id") % QUERY_MOD) == 0)
        .orderBy("vec_id")
        .limit(QUERY_LIMIT)
        .select(F.col("vec_id").alias("query_id"), F.col("b").alias("qb"))
    )
    scored = (
        fan_out(codes)
        .join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(_spark_hamming("qb", "b")).alias("hamming"),
        )
    )
    w = W.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            F.col("rn").cast("int").alias("rank"),
        )
    )


def _sql_binary_topk_oracle() -> str:
    from kafkatoclickhouse_spark.registry import ORACLES

    return ORACLES["sim_binary_topk"]


@query("sim_binary_serve_topk", oracle=_sql_binary_topk_oracle())
def sim_binary_serve_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVE half: Hamming top-k scored from ONLY the persisted
    packed sign bits — the float embedding table is out of the serve
    path entirely (poison-tested in pytest, like the BM25/IVF-PQ/SQ8
    serves). Builds on first call; every later retrieval scans the
    32×-compressed artifact. Same scoring kernel as
    ``sim_binary_topk``, so the oracle is literally the same SQL."""
    import os

    path = embedding_binary_index_build(spark, sf_dir)
    codes = spark.read.parquet(os.path.join(path, "bin_codes.parquet"))
    return _binary_score_topk(codes)


# --- filtered ANN: metadata predicate inside the IVF probe (r11) -----------
#
# The production retrieval feature every vector store ships: top-k
# among vectors satisfying an attribute predicate ("same language",
# "same tenant", "docs after date X"). The naive post-filter over an
# unfiltered top-k collapses recall at low selectivity; the index-side
# fix is per-cell FILTERED statistics — probe depth is then chosen
# against the filtered mass, so a 30%-selective predicate probes until
# >= tau of the MATCHING vectors are covered, not tau of the corpus.
# Scoring touches only matching members of probed cells, so the
# predicate prunes the candidate scan too (at 100 TB: cell stats per
# attribute bucket are index metadata, tiny and broadcast; the scan
# inside a cell filters on a stored column — classic predicate
# pushdown into the posting list).

FILTER_LABELS = (0, 1, 2)  # the registered query's predicate


@query(
    "sim_ivf_filtered_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
               FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM e
             ORDER BY vec_id LIMIT {NUM_CENTROIDS}),
    assign AS (
      SELECT vec_id, v, label, cid AS cell FROM (
        SELECT e.vec_id, e.v, e.label, cent.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_SQL_COSINE.format(a="e.v", b="cent.cv")} DESC,
                          cent.cid) AS rn
        FROM e, cent)
      WHERE rn = 1
    ),
    fassign AS (SELECT * FROM assign
                WHERE label IN {FILTER_LABELS!r}),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e
          WHERE vec_id % {QUERY_MOD} = 0
          ORDER BY vec_id LIMIT {QUERY_LIMIT}),
    {_sql_adaptive_probes("fassign", "q")},
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id, a.label,
             {_SQL_COSINE.format(a="q.qv", b="a.v")} AS s
      FROM probes p
      JOIN q USING (query_id)
      JOIN fassign a ON a.cell = p.qcell AND a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, label, ROUND(s, 6) AS score,
           CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= {TOP_K}
    """,
)
def sim_ivf_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-FILTERED IVF retrieval: top-k cosine neighbors with
    ``label IN {FILTER_LABELS}``, probing cells by the adaptive mass
    policy computed over the FILTERED per-cell counts (the per-bucket
    cell statistics a production index keeps), scoring only matching
    members inside probed cells. Guarantees tau coverage of the
    matching subset regardless of predicate selectivity — where a
    post-filtered unfiltered top-k returns < k (or nothing) once
    selectivity drops below k/corpus.

    Round-15 fused execution: the histogram pass counts only
    label-matching members per cell (the per-bucket stats) and the
    fused scan applies the predicate before scoring — same shape as
    ``sim_ivf_sq8_topk``'s fusion. Its reference is the DuckDB
    oracle."""
    em = load_table(spark, sf_dir, "embeddings")
    cids, C, cn, q_ids, Q, qn = _collect_cents_queries(
        em.orderBy("vec_id").limit(NUM_CENTROIDS).select("vec_id", "embedding"),
        em.filter((F.col("vec_id") % QUERY_MOD) == 0)
        .orderBy("vec_id")
        .limit(QUERY_LIMIT)
        .select("vec_id", "embedding"),
    )
    sizes = _ivf_sizes(em, cids, C, cn, labels_keep=FILTER_LABELS)
    qcs, _ = SFZ.cosine2(Q, qn, C, cn)
    P = SFZ.mass_probes(qcs, cids, sizes, PROBE_MASS_NUM, PROBE_MASS_DEN)
    scored = fan_out(em.select("vec_id", "embedding", "label")).mapInArrow(
        _k_ivf_cos(
            cids, C, cn, P, q_ids, Q, qn, TOP_K, labels_keep=FILTER_LABELS
        ),
        "query_id long, neighbor_id long, label int, s double",
    )
    w = W.partitionBy("query_id").orderBy(F.desc("s"), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "label",
            F.round("s", 6).alias("score"),
            F.col("rn").cast("int").alias("rank"),
        )
    )


# --- IVF index lifecycle with INCREMENTAL APPEND (r11) ----------------------
#
# The nightly-ingest story the other three index families lack: a
# built ANN index must absorb a new batch of vectors WITHOUT
# retraining — FAISS `add()` semantics. BUILD trains nothing fancy
# (the deterministic first-K coarse quantizer of the IVF tier) over
# the BASE corpus slice and persists centroids + per-cell SQ8 codes;
# APPEND assigns ONLY the new-batch vectors to their nearest EXISTING
# centroid (broadcast argmax, map-only — cost ∝ batch size, the base
# corpus is never re-read) and writes their codes alongside; SERVE
# scores the union through the same adaptive-probe IVF-SQ8 kernel.
# Because append reuses the frozen coarse quantizer, the union equals
# what a from-scratch assignment of ALL vectors against the BASE
# centroids produces — which is exactly what the oracle replays.

APPEND_MOD = 10
APPEND_RES = 9  # vec_id % 10 == 9 → the "new nightly batch"


def _ivf_assign_codes(vecs: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, cell, scale_micro, codes): nearest-centroid argmax
    against the broadcast (cid, cv, cn) table + SQ8 encoding."""
    aw = W.partitionBy("vec_id").orderBy(F.desc("cs"), "cid")
    assigned = (
        fan_out(vecs)
        .withColumn("en", norm(F.col("embedding")))
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "embedding",
            "cid",
            cosine_with_norms(
                F.col("embedding"), F.col("cv"), F.col("en"), F.col("cn")
            ).alias("cs"),
        )
        .withColumn("rn", F.row_number().over(aw))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", F.col("cid").alias("cell"))
    )
    return sq8_encode(assigned, "embedding", ("vec_id", "cell"))


def embedding_ivf_index_build(
    spark: SparkSession,
    sf_dir: str,
    path: str | None = None,
    force: bool = False,
) -> str:
    """BUILD: coarse centroids from the BASE slice (vec_id %
    {APPEND_MOD} != {APPEND_RES} — the corpus as of 'yesterday') and
    the base slice's (cell, SQ8-code) rows, persisted as

      - ``centroids.parquet`` (cid, cv): the frozen coarse quantizer;
      - ``codes.parquet`` (vec_id, cell, scale_micro, codes).

    The key is the source fingerprint plus the centroid count and the
    base/batch split; the marker also carries the appended-batch flag,
    False at build (commit protocol: ``artifacts``)."""
    import os

    def write(path: str) -> dict:
        em = load_table(spark, sf_dir, "embeddings")
        base = em.filter(F.col("vec_id") % APPEND_MOD != APPEND_RES)
        cent = (
            base.orderBy("vec_id")
            .limit(NUM_CENTROIDS)
            .select(
                F.col("vec_id").alias("cid"),
                F.col("embedding").alias("cv"),
            )
        )
        cent.write.mode("overwrite").parquet(
            os.path.join(path, "centroids.parquet")
        )
        cent_n = spark.read.parquet(
            os.path.join(path, "centroids.parquet")
        ).select("cid", "cv", norm(F.col("cv")).alias("cn"))
        _ivf_assign_codes(
            base.select("vec_id", "embedding"), cent_n
        ).write.mode("overwrite").parquet(
            os.path.join(path, "codes.parquet")
        )
        return {"appended": False}

    key = {
        "centroids": NUM_CENTROIDS,
        "append_split": [APPEND_MOD, APPEND_RES],
    }
    return artifacts.build(
        sf_dir, "embeddings", "ivf_app", key, write, path, force
    )


def embedding_ivf_index_append(
    spark: SparkSession, sf_dir: str, path: str | None = None
) -> str:
    """APPEND: assign ONLY the new-batch slice (vec_id % {APPEND_MOD}
    == {APPEND_RES}) against the PERSISTED centroids — no retrain, no
    base re-read — and write ``codes_append.parquet``; meta flips
    ``appended`` last, atomically (idempotent: a second call is a
    no-op)."""
    import os

    path = path or embedding_ivf_index_build(spark, sf_dir)
    meta = artifacts.read_meta(path)
    if meta["appended"]:
        return path
    cent_n = spark.read.parquet(
        os.path.join(path, "centroids.parquet")
    ).select("cid", "cv", norm(F.col("cv")).alias("cn"))
    batch = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % APPEND_MOD == APPEND_RES
    )
    _ivf_assign_codes(
        batch.select("vec_id", "embedding"), cent_n
    ).write.mode("overwrite").parquet(
        os.path.join(path, "codes_append.parquet")
    )
    artifacts.write_meta(path, {**meta, "appended": True})
    return path


@query(
    "sim_ivf_appended_serve_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    cent AS (SELECT vec_id AS cid, v AS cv FROM e
             WHERE vec_id % {APPEND_MOD} <> {APPEND_RES}
             ORDER BY vec_id LIMIT {NUM_CENTROIDS}),
    assign AS (
      SELECT vec_id, v, cid AS cell FROM (
        SELECT e.vec_id, e.v, cent.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_SQL_COSINE.format(a="e.v", b="cent.cv")} DESC,
                          cent.cid) AS rn
        FROM e, cent)
      WHERE rn = 1
    ),
    c AS (
      SELECT vec_id, cell,
             CAST(floor(max_abs * 1000000) AS BIGINT) AS scale_micro,
             {_SQL_INT8_CODES.format(v="v", m="max_abs")} AS codes
      FROM (SELECT vec_id, cell, v,
                   list_aggregate(list_transform(v, x -> abs(x)), 'max')
                     AS max_abs
            FROM assign)
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e
          WHERE vec_id % {QUERY_MOD} = 0
          ORDER BY vec_id LIMIT {QUERY_LIMIT}),
    qc AS (
      SELECT query_id,
             {_SQL_INT8_CODES.format(v="qv", m="max_abs")} AS qcodes
      FROM (SELECT query_id, qv,
                   list_aggregate(list_transform(qv, x -> abs(x)), 'max')
                     AS max_abs
            FROM q)
    ),
    {_sql_adaptive_probes("assign", "q")},
    scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             CAST(c.scale_micro
                  * CAST(list_dot_product(
                        list_transform(qc.qcodes, x -> CAST(x AS DOUBLE)),
                        list_transform(c.codes, x -> CAST(x AS DOUBLE)))
                    AS BIGINT) AS BIGINT) AS score_scaled
      FROM probes p
      JOIN qc ON qc.query_id = p.query_id
      JOIN c ON c.cell = p.qcell AND c.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, score_scaled,
           CAST(rn AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id
            ORDER BY score_scaled DESC, neighbor_id) AS rn
          FROM scored)
    WHERE rn <= {TOP_K}
    """,
)
def sim_ivf_appended_serve_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SERVE over the APPENDED index: build + append run iff absent
    (both idempotent), retrieval reads ONLY the persisted centroids
    and the union of base + appended code files — the coarse
    quantizer is frozen at build time, so the new batch is searchable
    without retraining and the oracle replays the union as one
    assignment of all vectors against the BASE-slice centroids.
    Adaptive mass-policy probes over the union's per-cell counts,
    exact BIGINT code-space ranking — the same kernel as
    ``sim_ivf_sq8_topk``.

    Round-15 fused execution: centroids + queries collect in one
    bounded job, per-cell counts come from a one-stage histogram
    over the persisted codes, and retrieval is ONE ``mapInArrow``
    over the code files (probe-filter + integer dot + per-batch
    top-k; the embedding table is touched only for the Q query
    vectors, preserving the serve-path poison test). Its reference
    is the DuckDB oracle, which replays the union from the raw
    vectors."""
    import os

    path = embedding_ivf_index_append(spark, sf_dir)
    em = load_table(spark, sf_dir, "embeddings")
    cids, C, cn, q_ids, Q, qn = _collect_cents_queries(
        spark.read.parquet(os.path.join(path, "centroids.parquet")).select(
            "cid", "cv"
        ),
        em.filter((F.col("vec_id") % QUERY_MOD) == 0)
        .orderBy("vec_id")
        .limit(QUERY_LIMIT)
        .select("vec_id", "embedding"),
    )
    codes = spark.read.parquet(
        os.path.join(path, "codes.parquet")
    ).unionByName(
        spark.read.parquet(os.path.join(path, "codes_append.parquet"))
    )

    def _hk(it):
        for b in it:
            if b.num_rows:
                yield SFZ.hist_batch(SFZ.col_vec(b, "cell"))

    sizes = SFZ.cell_hist(codes.select("cell"), _hk)
    qcs, _ = SFZ.cosine2(Q, qn, C, cn)
    P = SFZ.mass_probes(qcs, cids, sizes, PROBE_MASS_NUM, PROBE_MASS_DEN)
    _, qcodes = SFZ.sq8_np(Q)
    scored = fan_out(codes).mapInArrow(
        _k_codes_sq8(cids, P, q_ids, qcodes, TOP_K, path),
        "query_id long, neighbor_id long, score_scaled long",
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("score_scaled"), "neighbor_id"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "score_scaled",
            F.col("rn").cast("int").alias("rank"),
        )
    )
