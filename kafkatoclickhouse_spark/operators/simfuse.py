"""Fused numpy kernels for the IVF / SQ8 / PQ retrieval chains.

Round-15 optimization (VERDICT r14 #1, guide §1.2/§2.4/§4.2): the
``sim_*`` serve chains were 20+ chained Catalyst stages — centroid
TakeOrdered, crossJoin+window assignment, per-cell count aggregate,
adaptive-probe windows, broadcast candidate join, top-k window — and
at 8→32 cores their scaling ratio sat at 0.76–0.96: the runtime was
STAGE COUNT (AQE query-stage materialization latency), not bytes.
This module collapses each chain to

  1. one bounded driver collect of the centroid + query vectors
     (≤ NUM_CENTROIDS + QUERY_LIMIT rows — the same bounded-barrier
     pattern as the BPE trainer / union-find probe / classifier fit);
  2. for mass-policy variants, one corpus pass emitting per-batch
     per-cell histograms (``mapInArrow`` + driver sum — the per-cell
     counts an index keeps as metadata);
  3. ONE fused ``mapInArrow`` pass over the corpus that assigns,
     probe-filters, scores and keeps each batch's per-query top-C —
     a correct partial reduction (the global top-C is contained in
     the union of per-batch top-Cs under the same total order), so
     the single downstream exchange carries ≤ C·Q rows per batch
     instead of every candidate (guide §2.3);
  4. one window on ``query_id`` for the global top-C / top-k.

Refine variants compute the exact re-rank score EAGERLY for the
per-batch top-C inside the same kernel — the candidates' float
vectors are already in the batch — which deletes the second corpus
scan + hydrate join of the old plan at the cost of C exact distances
per query per BATCH instead of per query (bounded, and far cheaper
than re-reading the corpus at any scale).

**Bit-exactness contract.** Every float op reproduces the Catalyst
expression it replaces exactly:

  - ``functions.vector.dot`` / ``norm`` are strict left-to-right
    ``F.aggregate`` folds over the dimension axis; :func:`seq_dot2` /
    :func:`seq_sqnorm` run the same fold vectorized over ROWS but
    sequential over DIMS (one IEEE multiply + one IEEE add per dim,
    same order, same 0.0 seed) — the ``_mmr_group`` precedent. Every
    kernel's output is checked row for row, doubles by ``repr``,
    against its DuckDB oracle: on the real fixtures by
    ``tests/test_parity.py`` and on an adversarial corpus by
    ``tests/test_simfuse.py``.
  - ``cosine_with_norms``'s ``F.when(denom != 0.0, …)`` NULL guard
    becomes an explicit validity mask (ranked as −inf — Spark orders
    NULLS LAST under ``desc``, and cosine is bounded so −inf cannot
    collide with a real score).
  - SQ8 / PQ quantization and scoring are exactly-rounded IEEE ops
    (abs/max/div/mul + floor) or pure int64 arithmetic — order-free.
  - Window tie-breaks (score, then id) are replayed with
    ``np.lexsort`` over the identical keys.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

DIM = 64


# --------------------------------------------------------------------------
# Arrow <-> numpy
# --------------------------------------------------------------------------


def list_mat(batch: pa.RecordBatch, col: str, dtype, dim: int = DIM):
    """(n, dim) matrix from a fixed-width list column of ``batch``."""
    a = batch.column(col)
    n = len(a)
    if n == 0:
        return np.zeros((0, dim), dtype=dtype)
    flat = a.flatten().to_numpy(zero_copy_only=False)
    return np.ascontiguousarray(flat, dtype=dtype).reshape(n, dim)


def col_vec(batch: pa.RecordBatch, col: str, dtype=np.int64):
    return np.asarray(batch.column(col).to_numpy(zero_copy_only=False), dtype=dtype)


def id_positions(ids: np.ndarray, stored: np.ndarray, artifact: str) -> np.ndarray:
    """Positions of the ``stored`` ids (cells, codeword cids) read from
    a persisted artifact in the ascending id list ``ids``. Raises
    ``ValueError`` naming ``artifact`` when an id is not in the list:
    a bare ``searchsorted`` would hand it the next id's row and serve
    a plausible wrong answer."""
    pos = np.searchsorted(ids, stored)
    ok = pos < len(ids)
    ok[ok] = ids[pos[ok]] == stored[ok]
    if not ok.all():
        raise ValueError(
            f"{artifact}: stored ids {np.unique(stored[~ok])[:5].tolist()} "
            f"are not in the index's id list {ids.tolist()}"
        )
    return pos


# --------------------------------------------------------------------------
# Bit-exact sequential folds (functions.vector twins)
# --------------------------------------------------------------------------


def seq_sqnorm(A: np.ndarray) -> np.ndarray:
    """(n,) squared norms: the ``F.aggregate(v, 0.0, acc + x*x)``
    fold, vectorized over rows, sequential over dims."""
    acc = np.zeros(A.shape[0])
    for t in range(A.shape[1]):
        x = A[:, t]
        acc = acc + x * x
    return acc


def seq_dot2(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(n, m) pairwise dots of (n,d) × (m,d): the
    ``F.aggregate(zip_with(a,b,*), 0.0, acc + x)`` fold, one IEEE
    multiply + add per dim in dim order (0.0 seed: 0.0 + x ≡ x)."""
    n, d = A.shape
    acc = np.zeros((n, B.shape[0]))
    for t in range(d):
        acc = acc + A[:, t][:, None] * B[:, t][None, :]
    return acc


def cosine2(A, an, B, bn):
    """Pairwise ``cosine_with_norms``: (scores, valid) where invalid
    (zero denominator → Spark NULL) scores are −inf for ranking."""
    denom = an[:, None] * bn[None, :]
    dots = seq_dot2(A, B)
    valid = denom != 0.0
    with np.errstate(divide="ignore", invalid="ignore"):
        s = np.where(valid, dots / denom, -np.inf)
    return s, valid


# --------------------------------------------------------------------------
# SQ8 encode (exactly-rounded IEEE ops + floor — order-free)
# --------------------------------------------------------------------------


# SQ8 codes are floor(x / max_abs · SQ8_RANGE), in [-SQ8_RANGE,
# SQ8_RANGE]; every encoder (Spark, SQL, numpy) and the persisted
# sq8 artifact's key read this one value
SQ8_RANGE = 127


def sq8_np(V: np.ndarray):
    """(scale_micro int64, codes int64 (n,d)) — the
    ``operators.similarity.sq8_encode`` construction in numpy."""
    ma = np.max(np.abs(V), axis=1)
    scale = np.floor(ma * 1_000_000.0).astype(np.int64)
    with np.errstate(divide="ignore", invalid="ignore"):
        c = np.floor(V / ma[:, None] * float(SQ8_RANGE))
    codes = np.where(ma[:, None] == 0.0, 0.0, c).astype(np.int64)
    return scale, codes


# --------------------------------------------------------------------------
# Integer-grid quantization + PQ pieces (pure int64 — order-free)
# --------------------------------------------------------------------------


def grid_quantize(V: np.ndarray) -> np.ndarray:
    """floor(x · 1e6) int64 — the kmeans/pq 1e-6 grid."""
    return np.floor(V * 1_000_000.0).astype(np.int64)


def int_sqdist2(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(n, m) exact int64 squared L2 of (n,d) × (m,d) int matrices."""
    # |x| ≤ 1e6, d ≤ 64 → sums < 2^48: safe in int64 in any order.
    n = A.shape[0]
    out = np.zeros((n, B.shape[0]), dtype=np.int64)
    for j in range(B.shape[0]):
        diff = A - B[j][None, :]
        out[:, j] = np.sum(diff * diff, axis=1)
    return out


def argmin_cells(D: np.ndarray) -> np.ndarray:
    """Argmin column per row with ties to the LOWEST index — matches
    the (d, cid)-ascending struct sort when columns are ordered by
    ascending cid (np.argmin returns the first minimum)."""
    return np.argmin(D, axis=1)


def argmax_cells(S: np.ndarray) -> np.ndarray:
    """Argmax with ties to the lowest index — matches the
    (cs desc, cid asc) window when columns are cid-ascending."""
    return np.argmax(S, axis=1)


# --------------------------------------------------------------------------
# Driver-side probe policy (mass policy; DuckDB copy in similarity)
# --------------------------------------------------------------------------

# PROBE_MASS_NUM / DEN live in operators.similarity; passed in to
# avoid a circular import.


def mass_probes(
    S: np.ndarray,
    cids: np.ndarray,
    sizes: dict[int, int],
    num: int,
    den: int,
    ascending: bool = False,
) -> np.ndarray:
    """(k, q) bool probe matrix under the τ mass policy. ``S`` is the
    (q, k) query→cell affinity (cosine for the IVF tier — ranked
    DESC; integer distance for the PQ coarse tier — ``ascending``);
    ties break toward the smaller cid, replaying the window order
    of ``similarity._sql_adaptive_probes``. Cells absent from
    ``sizes`` drop out exactly like its inner join (zero mass, zero
    candidates, excluded from the cumulative rule). A cell is probed
    iff den·(mass of strictly better cells) < num·total."""
    k = len(cids)
    szs = np.array([sizes.get(int(c), -1) for c in cids], dtype=np.int64)
    P = np.zeros((k, S.shape[0]), dtype=bool)
    for qi in range(S.shape[0]):
        key = S[qi] if ascending else -S[qi]
        order = np.lexsort((cids, key))
        present = [int(i) for i in order if szs[i] >= 0]
        total = int(szs[present].sum()) if present else 0
        cum = 0
        for i in present:
            if den * cum < num * total:
                P[i, qi] = True
                cum += int(szs[i])
    return P


def fixed_probes(S: np.ndarray, cids: np.ndarray, nprobe: int) -> np.ndarray:
    """(k, q) bool probe matrix: each query's top-``nprobe`` cells by
    (score desc, cid asc) — the fixed-NPROBE tier's window."""
    P = np.zeros((len(cids), S.shape[0]), dtype=bool)
    for qi in range(S.shape[0]):
        order = np.lexsort((cids, -S[qi]))
        P[order[:nprobe], qi] = True
    return P


# --------------------------------------------------------------------------
# Per-batch top-C selection (window-order twin)
# --------------------------------------------------------------------------


def top_idx_desc(keys: np.ndarray, nid: np.ndarray, n: int) -> np.ndarray:
    """Indices of the ≤n best rows by (key DESC, nid ASC) — the
    row_number window order (−inf stands in for NULL = NULLS LAST)."""
    order = np.lexsort((nid, -keys))
    return order[:n]


def top_idx_asc(keys: np.ndarray, nid: np.ndarray, n: int) -> np.ndarray:
    """Indices of the ≤n best rows by (key ASC, nid ASC)."""
    order = np.lexsort((nid, keys))
    return order[:n]


# --------------------------------------------------------------------------
# Bounded collects + histogram pass helpers (used by the operators)
# --------------------------------------------------------------------------


def cell_hist(df, kernel) -> dict[int, int]:
    """Run a per-batch (cell, cnt) histogram kernel over ``df`` in
    ONE stage (mapInArrow → driver sum; no shuffle — the per-cell
    member counts an index keeps as metadata)."""
    sizes: dict[int, int] = {}
    for r in df.mapInArrow(kernel, "cell long, cnt long").collect():
        c = int(r[0])
        sizes[c] = sizes.get(c, 0) + int(r[1])
    return sizes


def hist_batch(cells: np.ndarray) -> pa.RecordBatch:
    vals, cnts = np.unique(cells, return_counts=True)
    return pa.RecordBatch.from_arrays(
        [pa.array(vals, type=pa.int64()), pa.array(cnts, type=pa.int64())],
        names=["cell", "cnt"],
    )


# --------------------------------------------------------------------------
# Emission helpers
# --------------------------------------------------------------------------


def emit(names: list[str], arrays: list[pa.Array]) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(arrays, names=names)


def f64_masked(vals: np.ndarray, valid: np.ndarray) -> pa.Array:
    """float64 Arrow array with NULLs where ``valid`` is False —
    replays the ``F.when(denom != 0.0, …)`` guard."""
    return pa.array(vals, type=pa.float64(), mask=~valid)
