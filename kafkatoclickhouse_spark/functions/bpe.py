"""Greedy BPE apply: one rule, one kernel, one UDF builder and one
DuckDB generator for every merge table in the engine.

A merge table is a rank dict ``{(left, right): rank}``. Two kinds
exist: the FROZEN table below (trained once, offline and
deterministically, by ``tools/train_bpe.py`` on the sf0.01 fixture —
the same ship-a-merges.txt distribution model as GPT-2's public
tokenizer) and the tables trained in-engine and persisted by
``operators/bpetrain.py`` (character and byte alphabets). All are
applied with integer ranks and zero floats, so counts and ids are
exactly replayable in any engine:

  apply rule (one merge per step, totally ordered): among all
  adjacent symbol pairs present in the word that appear in the merge
  table, merge the one with the LOWEST rank; ties on rank break to
  the LEFTMOST occurrence. Repeat until no pair applies. The
  surviving symbols are the word's tokens.

:func:`apply_merges` is that rule. One-pair-per-step with the (rank,
position) total order is deterministic and engine-neutral — in
particular it is expressible as a DuckDB recursive CTE
(:func:`sql_bpe_word_tokens`), which is how every tokenizer oracle
replays the Spark side's Arrow-batched UDF bit-for-bit.

Scale: a merge table is bounded by its budget and ships with the UDF
closure; :func:`bpe_column` is one pandas_udf per document column —
Arrow-batched, no per-row Python dispatch — with a per-word memo, so
each distinct word is tokenized once per worker (the frozen table's
memo is a module-level ``lru_cache``, which lives across tasks; a
trained table's is a plain dict in the closure, per task). At 100 TB
you'd swap the table for the production tokenizer's merges file,
nothing else changes.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import lru_cache

import pandas as pd  # noqa: F401 — pandas_udf resolves annotations here

# Trained by tools/train_bpe.py on /root/testdata/sf0.01 (89 merges
# exhaust the fixture vocabulary). Rank = position.
MERGES: tuple[tuple[str, str], ...] = (
    ('e', 'r'),
    ('i', 'n'),
    ('o', 'w'),
    ('o', 'r'),
    ('s', 't'),
    ('m', 'er'),
    ('a', 't'),
    ('l', 'u'),
    ('a', 'r'),
    ('p', 'ar'),
    ('j', 'o'),
    ('jo', 'in'),
    ('a', 's'),
    ('as', 'h'),
    ('h', 'ash'),
    ('r', 'ow'),
    ('at', 'c'),
    ('atc', 'h'),
    ('b', 'atch'),
    ('a', 'n'),
    ('c', 'an'),
    ('s', 'can'),
    ('c', 'o'),
    ('c', 'u'),
    ('co', 'lu'),
    ('colu', 'm'),
    ('colum', 'n'),
    ('cu', 'st'),
    ('cust', 'o'),
    ('custo', 'mer'),
    ('f', 'i'),
    ('fi', 'l'),
    ('fil', 't'),
    ('filt', 'er'),
    ('a', 'l'),
    ('al', 'l'),
    ('m', 'all'),
    ('s', 'mall'),
    ('g', 'e'),
    ('l', 'ow'),
)

RANKS: dict[tuple[str, str], int] = {
    pair: rank for rank, pair in enumerate(MERGES)
}

# per-word memo bound (distinct words per worker)
MEMO_WORDS = 65536


def apply_merges(
    word: str, ranks: dict[tuple[str, str], int], sym_width: int = 1
) -> list[str]:
    """The surviving symbols of ``word`` under ``ranks`` and the
    one-pair-per-step (rank, leftmost) apply rule. ``sym_width`` is
    the initial-symbol width: 1 for character alphabets, 2 for the
    byte mode's hex-pair alphabet."""
    syms = [word[i : i + sym_width] for i in range(0, len(word), sym_width)]
    while True:
        best = None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best is None or (r, i) < best):
                best = (r, i)
        if best is None:
            return syms
        i = best[1]
        syms[i : i + 2] = [syms[i] + syms[i + 1]]


@lru_cache(maxsize=MEMO_WORDS)
def word_token_count(word: str) -> int:
    """Number of BPE symbols of ``word`` under the frozen table.
    Module-level, so the UDF ships it by reference and each worker's
    cache survives across tasks."""
    return len(apply_merges(word, RANKS))


def memo_words(
    ranks: dict[tuple[str, str], int],
    out: Callable[[list[str]], object],
    sym_width: int = 1,
) -> Callable[[str], object]:
    """``out(apply_merges(word, ranks, sym_width))`` per word, memoized
    in a plain dict (not lru_cache — cloudpickle cannot serialize a
    wrapped local, and the closure ships to executors inside the
    pandas UDF). ``out`` is ``len`` for a token count or the vocab
    lookup for token ids."""
    memo: dict[str, object] = {}

    def word_fn(word: str) -> object:
        hit = memo.get(word)
        if hit is None:
            hit = out(apply_merges(word, ranks, sym_width))
            if len(memo) < MEMO_WORDS:
                memo[word] = hit
        return hit

    return word_fn


def bpe_column(col, word_fn, count: bool = False):
    """Spark Column: Arrow-batched BPE over a document column. The
    words of a document are Python ``str.split()`` of a text, or the
    elements of a pre-token unit array. ``word_fn`` maps one word to
    its token count (``count``: the column is their sum, long) or to
    its token ids (the column is their concatenation in word order,
    array<long>). A NULL document gives 0 or []."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long" if count else "array<long>")
    def _bpe(s: pd.Series) -> pd.Series:
        def doc(d):
            if d is None:
                return 0 if count else []
            words = d.split() if isinstance(d, str) else d
            if count:
                return sum(word_fn(w) for w in words)
            out: list[int] = []
            for w in words:
                out.extend(word_fn(w))
            return out

        out = s.map(doc)
        return out.astype("int64") if count else out

    return _bpe(col)


def bpe_token_count_frozen(col):
    """Spark Column: per-document BPE token count of a text column
    under the frozen table."""
    return bpe_column(col, word_token_count, count=True)


def sql_init_syms_expr(sym_width: int = 1, col: str = "word") -> str:
    """DuckDB expression splitting ``col`` into initial symbols of
    ``sym_width`` characters (1 = character alphabet, 2 = the byte
    mode's hex pairs)."""
    if sym_width == 1:
        return (
            f"list_transform(range(1, length({col}) + 1),"
            f" i -> substring({col}, i, 1))"
        )
    return (
        f"list_transform(range(1, length({col}) // {sym_width} + 1),"
        f" i -> substring({col}, {sym_width} * (i - 1) + 1,"
        f" {sym_width}))"
    )


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def sql_bpe_word_tokens(
    words_rel: str,
    merges_rel: str | None = None,
    prefix: str = "",
    sym_width: int = 1,
) -> str:
    """DuckDB CTE chain (no WITH prefix; requires the query to be WITH
    RECURSIVE): per unique ``word`` of ``words_rel``, the surviving
    symbols ``syms`` (``{prefix}bpesyms``) and their count ``ntok``
    (``{prefix}bpefinal``) — :func:`apply_merges` replayed with list
    ops. The rank table is the CTE ``{merges_rel}`` with columns
    (merge_rank, left_sym, right_sym), e.g. one RETRAINED by a
    training oracle; ``None`` applies the frozen table, emitted as the
    CTE ``{prefix}bpefrozen``. The rank list rides through the
    recursion as a carried column (``ml``), so no lambda needs a
    correlated subquery; each step applies ONE merge (min (rank,
    pos)), and a word's final row is the one where no pair applies.
    ``prefix`` namespaces the CTEs so two alphabets can coexist in one
    oracle; ``sym_width`` picks the initial-symbol split."""
    p = prefix
    frozen = ""
    if merges_rel is None:
        merges_rel = f"{p}bpefrozen"
        rows = ", ".join(
            f"({r}, {_sql_str(a)}, {_sql_str(b)})"
            for r, (a, b) in enumerate(MERGES)
        )
        frozen = f"""
    {merges_rel}(merge_rank, left_sym, right_sym) AS (VALUES {rows}),"""
    # list_position: 1-based rank, and ABSENT = 0 (older DuckDBs:
    # NULL) — `> 0` filters both encodings
    cand = (
        "list_filter(list_transform(range(1, len(syms)), i -> "
        "{'r': list_position(ml, syms[i] || ' ' || syms[i + 1]),"
        " 'p': i}), x -> x.r > 0)"
    )
    init = sql_init_syms_expr(sym_width)
    return f"""{frozen}
    {p}mlist AS MATERIALIZED (
      SELECT list(left_sym || ' ' || right_sym ORDER BY merge_rank)
               AS ml
      FROM {merges_rel}
    ),
    {p}winit AS (
      SELECT word,
             {init} AS syms,
             (SELECT ml FROM {p}mlist) AS ml
      FROM (SELECT DISTINCT word FROM {words_rel})
    ),
    {p}bpe AS (
      SELECT word, syms, ml FROM {p}winit
      UNION ALL
      SELECT word,
             syms[1:best.p - 1]
               || [syms[best.p] || syms[best.p + 1]]
               || syms[best.p + 2:len(syms)] AS syms,
             ml
      FROM (SELECT word, syms, ml, list_sort({cand})[1] AS best
            FROM {p}bpe)
      WHERE best IS NOT NULL
    ),
    {p}bpesyms AS (
      SELECT word, syms FROM {p}bpe WHERE len({cand}) = 0
    ),
    {p}bpefinal AS (
      SELECT word, CAST(len(syms) AS BIGINT) AS ntok FROM {p}bpesyms
    )"""
