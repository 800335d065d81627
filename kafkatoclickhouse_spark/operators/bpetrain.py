"""In-engine BPE tokenizer training (VERDICT r11 #1 — closes the
last offline stand-in: the frozen merge table in ``functions/bpe.py``
was trained by the driver-side tool ``tools/train_bpe.py``; a real
pipeline retrains its tokenizer on the corpus it just curated).

Algorithm: deterministic greedy byte-pair encoding over the corpus's
whitespace words (the exact semantics of ``tools/train_bpe.py:42``
— symbols start as single characters, each round merges the pair
with the highest total adjacent-occurrence count, ties to the
lexicographically smallest (left, right), merged left-to-right
non-overlapping within each word) for ``BPE_TRAIN_MERGES`` rounds or
until no pair remains.

Engine shape (the kmeans-Lloyd pattern applied to tokenizer
training): the corpus-sized work happens ONCE — a word-frequency
aggregate whose output is the training's entire sufficient statistic
(unique words × counts, vocabulary-sized, narrow rows). Each round
then runs one (symbol-pair)-keyed aggregate over the vocabulary
state (map-side combined), a ONE-ROW argmax driver barrier (ORDER BY
count DESC, pair ASC LIMIT 1 — bounded by construction, like
collecting k centroids), and a map-side Arrow re-tokenize;
``localCheckpoint`` bounds the lineage per round. Nothing
corpus-sized ever reaches the driver, and no step's cost grows
faster than the vocabulary.

Persistence goes through ``artifacts`` like every index family:
``merges.parquet`` (merge_rank, left_sym, right_sym) under a commit
marker keyed by the source fixture's fingerprint and the merge
budget. The serve queries
(``corpus_pack_chunks_bpe_trained``,
``corpus_tokenizer_fertility_trained``) read ONLY the persisted
table — poison-pinned in ``tests/test_bpetrain.py`` — and their
DuckDB oracles RETRAIN the identical table from raw text (a
recursive CTE whose per-round state is the vocabulary as a list of
(syms, count) structs, with the non-overlapping merge expressed in
closed form over occurrence-run parity) and apply it through the
one apply generator (``functions/bpe.sql_bpe_word_tokens``), so any
divergence between the in-engine trainer and the spec is a hash
mismatch.

Both trained alphabets (characters over whitespace words, bytes over
GPT-2-style pre-token units) are rows of one table, :class:`Alphabet`,
which drives one trainer (:func:`train_merges`), one build
(:func:`text_bpe_index_build`) and one loader
(:func:`load_tokenizer`).

The reference has no tokenizer (its only text handling is the
required-field check in ``MyKafkaDeserializationSchema.scala:47``);
this is [EXT] LLM-pipeline north-star surface.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafkatoclickhouse_spark import artifacts
from kafkatoclickhouse_spark.functions import bpe as bpefns
from kafkatoclickhouse_spark.functions import hashing
from kafkatoclickhouse_spark.functions import textfns
from kafkatoclickhouse_spark.operators.text import CHUNK_TOKENS
from kafkatoclickhouse_spark.registry import query
from kafkatoclickhouse_spark.tables import fan_out, load_table

BPE_TRAIN_MERGES = 40  # matches the frozen table's training budget
BPE_BYTES_MERGES = 40  # fixture training budget for the byte mode


# ---------------------------------------------------------------------------
# Spark trainer
# ---------------------------------------------------------------------------


def _word_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, cnt) over whitespace words of non-blank documents —
    the corpus-sized step, one shuffle, vocabulary-sized output."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    words = (
        docs.filter(F.length(F.trim(F.col("text"))) > 0)
        .select(
            F.explode(
                F.split(F.trim(F.col("text")), r"\s+")
            ).alias("word")
        )
        .filter(F.col("word") != "")
    )
    return words.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


def _byte_unit_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(hex_unit, cnt) over GPT-2-style pre-token units — the byte
    mode's sufficient statistic (corpus-sized aggregate, unit-
    vocabulary-sized output)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    units = docs.filter(F.col("text").isNotNull()).select(
        F.explode(textfns.pretoken_units(F.col("text"))).alias("u")
    )
    return (
        units.filter(F.col("u") != "")
        .select(
            F.lower(F.hex(F.encode(F.col("u"), "UTF-8"))).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


@dataclass(frozen=True)
class Alphabet:
    """One trained tokenizer alphabet: what its training, build and
    loader need.

    - ``family``: the artifact family (``artifacts.build``);
    - ``budget``: the merge budget, part of the artifact's key;
    - ``unit_freqs``: the (word, cnt) sufficient statistic training
      reads;
    - ``sym_width``: the initial-symbol width of a word;
    - ``base``: the vocab rule's base symbols, id = position. ``None``
      means the corpus's sorted characters, persisted in
      ``vocab.parquet`` since they depend on the corpus. Merged
      symbols take len(base) + rank; duplicate strings keep the
      lowest id (two merges can form the same string — ('a','bc') and
      ('ab','c') — and token ids key by string, the same rule the
      oracle's list_position gives for free)."""

    family: str
    budget: int
    unit_freqs: Callable[[SparkSession, str], DataFrame]
    sym_width: int
    base: tuple[str, ...] | None


# characters over whitespace words
CHARS = Alphabet("bpe", BPE_TRAIN_MERGES, _word_freqs, 1, None)
# bytes (as two-char lowercase hex) over pre-token units: see the
# byte-level section below
BYTES = Alphabet(
    "bpe_bytes",
    BPE_BYTES_MERGES,
    _byte_unit_freqs,
    2,
    tuple(f"{i:02x}" for i in range(256)),
)


def _spark_init_syms(sym_width: int) -> str:
    """Spark SQL expression splitting ``word`` into its initial
    symbols of ``sym_width`` characters."""
    return (
        f"transform(sequence(1, length(word) DIV {sym_width}),"
        f" i -> substring(word, {sym_width} * (i - 1) + 1, {sym_width}))"
    )


def _merge_pair(syms, a: str, b: str) -> list[str]:
    """The training merge: (``a``, ``b``) applied to a syms list,
    left-to-right non-overlapping (tools/train_bpe.py:58's loop)."""
    out, i, n = [], 0, len(syms)
    while i < n:
        if i < n - 1 and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _apply_merge_col(a: str, b: str):
    """Arrow-batched column: :func:`_merge_pair` over a syms array."""

    @F.pandas_udf("array<string>")
    def _apply(s: pd.Series) -> pd.Series:
        return s.map(lambda syms: _merge_pair(syms, a, b))

    return _apply


def _train_local(
    freqs: dict[str, int], n_merges: int, sym_width: int = 1
) -> list[tuple[str, str]]:
    """Greedy BPE training replayed locally from the word-frequency
    table — the production-budget path (VERDICT r12 #2). The
    word-freq table is the training's complete sufficient statistic,
    so once it fits the driver the 32k-merge budget costs zero Spark
    jobs instead of one job + barrier per merge.

    Semantics are exactly ``tools/train_bpe.py``'s loop (max total
    adjacent count, ties to the lexicographically smallest pair,
    left-to-right non-overlapping apply) but with INCREMENTAL pair
    maintenance: each round re-tokenizes only the words that contain
    the chosen pair (an inverted pair→words index), and the argmax
    is a lazy-deletion heap — a heap entry is (−count, pair), so the
    pop order IS the (max count, lexicographically smallest) rule;
    entries stale against the live count dict are skipped on pop.
    Per-merge cost is O(affected words + log heap) and shrinks as
    merges get rarer — wall grows sublinearly in the budget instead
    of paying a full vocabulary sweep per round.

    Duplicate-string symbols (a later merge can recreate the string
    of an earlier pair's side, making a 'consumed' pair adjacency
    reappear — the ADVICE r12 sharp edge) are handled naturally:
    the pair's count entry and membership set are rebuilt by the
    add path, so the pair can win again, exactly like the reference
    full-sweep recount."""
    import heapq
    from collections import Counter, defaultdict

    grouped: Counter = Counter()
    for w, c in freqs.items():
        syms0 = tuple(
            w[i : i + sym_width] for i in range(0, len(w), sym_width)
        )
        grouped[syms0] += int(c)
    word_syms: list[list[str]] = [list(k) for k in grouped]
    word_cnt: list[int] = [grouped[k] for k in grouped]
    pair_counts: Counter = Counter()
    pair_words: dict[tuple[str, str], set[int]] = defaultdict(set)
    for idx, syms in enumerate(word_syms):
        c = word_cnt[idx]
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] += c
            pair_words[p].add(idx)

    heap: list[tuple[int, tuple[str, str]]] = [
        (-c, p) for p, c in pair_counts.items()
    ]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        best = None
        while heap:
            negc, p = heapq.heappop(heap)
            if -negc > 0 and pair_counts.get(p, 0) == -negc:
                best = p
                break
        if best is None:
            break
        merges.append(best)
        a, b = best
        touched: set[tuple[str, str]] = set()
        # membership sets may hold stale word ids (a word that lost
        # the pair in an earlier round) — reprocessing those is a
        # subtract/add identity, so correctness never depends on
        # eager cleanup
        for idx in list(pair_words.pop(best, ())):
            syms = word_syms[idx]
            c = word_cnt[idx]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] -= c
                touched.add(p)
            new = _merge_pair(syms, a, b)
            word_syms[idx] = new
            for i in range(len(new) - 1):
                p = (new[i], new[i + 1])
                pair_counts[p] += c
                touched.add(p)
                pair_words[p].add(idx)
        # the winner's adjacencies are fully consumed this round
        # (applying (a,b) can't create an (a,b) adjacency)
        pair_counts.pop(best, None)
        touched.discard(best)
        for p in touched:
            c = pair_counts.get(p, 0)
            if c <= 0:
                pair_counts.pop(p, None)
                pair_words.pop(p, None)
            else:
                heapq.heappush(heap, (-c, p))
    return merges


# Unique-word bound for the bounded-collect training path: below it
# the word-freq table (the complete sufficient statistic) collects to
# the driver — a few hundred MB at the bound — and the merge loop
# runs locally with zero per-merge Spark jobs. Above it the
# distributed per-round loop is the fallback (correct at any scale,
# but one job per merge — a scheduler wall at 32k budgets, which is
# exactly why the collect path exists).
BPE_LOCAL_MAX_WORDS = 4_000_000


def train_merges(
    spark: SparkSession,
    sf_dir: str,
    alphabet: Alphabet = CHARS,
    n_merges: int | None = None,
    local_max_words: int = BPE_LOCAL_MAX_WORDS,
) -> list[tuple[str, str]]:
    """Greedy BPE training of ``alphabet``, in-engine, for ``n_merges``
    rounds (default: the alphabet's budget). Returns the ordered merge
    list (rank = position). One corpus-sized aggregate builds the
    (word, cnt) table; then one of two strategies runs the rounds:

    - **bounded-collect** (the default): the table is collected iff
      it is provably under ``local_max_words`` (LIMIT n+1 — the
      collect is bounded by construction, never by luck), then the
      incremental local merge loop runs with zero Spark jobs per
      merge;
    - **distributed per-round** (a larger table, or
      ``local_max_words=0``): per round one (symbol-pair)-keyed
      aggregate -> one-row argmax barrier -> map-side Arrow
      re-tokenize.

    ``tests/test_bpetrain.py`` pins both strategies merge-for-merge
    equal to each other and to ``tools/train_bpe.py`` at the fixture
    budget."""
    wf = alphabet.unit_freqs(spark, sf_dir)
    n_merges = alphabet.budget if n_merges is None else n_merges
    if local_max_words and local_max_words > 0:
        # Arrow-path collect (ADVICE r13): toPandas materializes the
        # bounded word table as two flat arrays — no per-row PySpark
        # Row objects, whose ~10× per-entry overhead made the old
        # .collect() several GB near the 4M-word bound.
        pdf = wf.limit(local_max_words + 1).toPandas()
        if len(pdf) <= local_max_words:
            return _train_local(
                dict(
                    zip(
                        pdf["word"].tolist(),
                        (int(c) for c in pdf["cnt"].tolist()),
                    )
                ),
                n_merges,
                alphabet.sym_width,
            )
    return _train_distributed(spark, wf, n_merges, alphabet.sym_width)


def _train_distributed(
    spark: SparkSession, wf: DataFrame, n_merges: int, sym_width: int
) -> list[tuple[str, str]]:
    """The distributed per-round trainer: the vocabulary never leaves
    the cluster."""
    state = (
        wf.select(F.expr(_spark_init_syms(sym_width)).alias("syms"), "cnt")
        .localCheckpoint()
    )
    pair_expr = F.expr(
        "CASE WHEN size(syms) >= 2 THEN"
        " transform(sequence(1, size(syms) - 1),"
        "   i -> struct(element_at(syms, i) AS a,"
        "               element_at(syms, i + 1) AS b))"
        " ELSE array() END"
    )
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        best = (
            state.select(F.explode(pair_expr).alias("p"), "cnt")
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.desc("c"), "a", "b")
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b = best[0]["a"], best[0]["b"]
        merges.append((a, b))
        state = state.select(
            _apply_merge_col(a, b)(F.col("syms")).alias("syms"), "cnt"
        ).localCheckpoint()
    return merges


# ---------------------------------------------------------------------------
# Persisted lifecycle (the FIFTH index family)
# ---------------------------------------------------------------------------


def _merges_df(spark: SparkSession, merges: list[tuple[str, str]]):
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "merge_rank long, left_sym string, right_sym string",
    )


def _vocab(
    base: list[str] | tuple[str, ...], merges: list[tuple[str, str]]
) -> dict[str, int]:
    """symbol → token id under the :class:`Alphabet` vocab rule."""
    vocab: dict[str, int] = {}
    for i, sym in enumerate([*base, *(a + b for a, b in merges)]):
        vocab.setdefault(sym, i)
    return vocab


def text_bpe_index_build(
    spark: SparkSession,
    sf_dir: str,
    alphabet: Alphabet = CHARS,
    path: str | None = None,
    force: bool = False,
) -> str:
    """BUILD half: train ``alphabet`` once and persist —

      - ``merges.parquet`` (merge_rank, left_sym, right_sym): the
        bounded table every serve path broadcasts;
      - ``vocab.parquet`` (symbol, id), when the alphabet's base
        symbols come from the corpus: characters (sorted — a bounded
        barrier like the argmax: distinct chars, not distinct words),
        then merged symbols. A constant alphabet's vocabulary is
        fully determined by the merge table.

    The key is the source fingerprint plus the merge budget; the
    marker also carries the trained merge and vocabulary counts
    (commit protocol: ``artifacts``)."""

    def write(path: str) -> dict:
        merges = train_merges(spark, sf_dir, alphabet)
        _merges_df(spark, merges).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(path, "merges.parquet"))
        if alphabet.base is not None:
            return {
                "n_merges": len(merges),
                "alphabet": "bytes-hex",
                "vocab_size": len(alphabet.base) + len(merges),
            }
        chars = sorted(
            r["c"]
            for r in alphabet.unit_freqs(spark, sf_dir)
            .select(
                F.explode(
                    F.expr(_spark_init_syms(alphabet.sym_width))
                ).alias("c")
            )
            .distinct()
            .collect()
        )
        vocab = _vocab(chars, merges)
        spark.createDataFrame(
            list(vocab.items()), "symbol string, id long"
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(path, "vocab.parquet")
        )
        return {
            "n_merges": len(merges),
            "n_chars": len(chars),
            "vocab_size": len(vocab),
        }

    key = {"budget": alphabet.budget}
    return artifacts.build(
        sf_dir, "documents", alphabet.family, key, write, path, force
    )


def load_tokenizer(
    spark: SparkSession, sf_dir: str, alphabet: Alphabet = CHARS
) -> tuple[dict[tuple[str, str], int], dict[str, int]]:
    """(rank dict, symbol → token-id dict) of ``alphabet``'s persisted
    tokenizer, building it first if absent or stale. Both tables are
    bounded by the merge budget and read with pyarrow (no Spark job).
    Raises ``ValueError`` naming the artifact when the left, right or
    merged string of a merge has no token id: encoding would then
    give a plausible wrong answer."""
    path = text_bpe_index_build(spark, sf_dir, alphabet)
    rows = sorted(
        artifacts.read_rows(path, "merges.parquet"),
        key=lambda r: r["merge_rank"],
    )
    merges = [(r["left_sym"], r["right_sym"]) for r in rows]
    ranks = {m: r["merge_rank"] for m, r in zip(merges, rows)}
    if alphabet.base is None:
        vocab = {
            r["symbol"]: r["id"]
            for r in artifacts.read_rows(path, "vocab.parquet")
        }
    else:
        vocab = _vocab(alphabet.base, merges)
    missing = sorted(
        {s for a, b in merges for s in (a, b, a + b)} - set(vocab)
    )
    if missing:
        raise ValueError(
            f"{path}: merge symbols {missing[:5]} have no token id in"
            " the vocabulary"
        )
    return ranks, vocab


def _trained_column(
    spark: SparkSession,
    sf_dir: str,
    col,
    alphabet: Alphabet = CHARS,
    count: bool = False,
):
    """Arrow-batched BPE of the document column ``col`` (text, or the
    byte alphabet's hex unit arrays) under ``alphabet``'s persisted
    tokenizer: per-document token count (``count``) or token ids."""
    ranks, vocab = load_tokenizer(spark, sf_dir, alphabet)
    out = len if count else (lambda syms: [vocab[s] for s in syms])
    return bpefns.bpe_column(
        col, bpefns.memo_words(ranks, out, alphabet.sym_width), count
    )


# ---------------------------------------------------------------------------
# Training-replay oracle SQL
# ---------------------------------------------------------------------------


def _sql_apply_one_merge(s: str, a: str, b: str) -> str:
    """Closed-form SQL for ONE merge (``{a}``,``{b}``) applied
    left-to-right non-overlapping to a syms list ``{s}``. Greedy
    non-overlap has a closed form over occurrence-RUN parity: an
    adjacent occurrence at position i merges iff the count of
    contiguous occurrences immediately before it is even (inside a
    run of overlapping occurrences — only possible when a = b —
    every other one merges, starting at the run head)."""

    def sel(i: str) -> str:
        run_start = (
            f"(1 + list_max(list_filter(range(0, {i}), j -> j = 0 OR"
            f" NOT ({s}[j] = {a} AND {s}[j + 1] = {b}))))"
        )
        return (
            f"({s}[{i}] = {a} AND {s}[{i} + 1] = {b}"
            f" AND (({i} - {run_start}) % 2 = 0))"
        )

    return (
        f"flatten(list_transform(range(1, len({s}) + 1), k -> "
        f"CASE WHEN k < len({s}) AND {sel('k')}"
        f" THEN [{s}[k] || {s}[k + 1]] "
        f"WHEN k > 1 AND {sel('(k - 1)')} THEN [] "
        f"ELSE [{s}[k]] END))"
    )


# argmax over all adjacent pairs of the single-row vocabulary state:
# every occurrence contributes its word's count; list_sort on the
# (t = -total, a, b) struct gives (max count, lexicographically
# smallest pair) at [1]. Duplicated candidate structs (one per
# occurrence) sort identically, so no distinct step is needed.
_SQL_BEST_PAIR = """list_sort(list_transform(
  flatten(list_transform(words, w ->
     list_transform(range(1, len(w.s)), i ->
        struct_pack(a := w.s[i], b := w.s[i + 1])))),
  q -> struct_pack(
     t := -list_sum(list_transform(words, w ->
            w.c * len(list_filter(range(1, len(w.s)),
                      i -> w.s[i] = q.a AND w.s[i + 1] = q.b)))),
     a := q.a, b := q.b)))[1]"""


_SQL_CHAR_VOCAB = """
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
        FROM documents WHERE LENGTH(trim(text)) > 0)
      GROUP BY word"""


def sql_bpe_train_ctes(
    n_merges: int = BPE_TRAIN_MERGES,
    prefix: str = "",
    vocab_sql: str | None = None,
    sym_width: int = 1,
) -> str:
    """CTE chain (no WITH prefix; requires WITH RECURSIVE) ending in
    ``{prefix}bpetrained`` (merge_rank, left_sym, right_sym): the
    greedy training replayed from the ``documents`` table. State per
    round is ONE ROW holding the whole vocabulary as a list of
    (syms, count) structs, so the per-round argmax needs no
    aggregation inside the recursion. Parameterized over the
    alphabet (r13 byte mode): ``vocab_sql`` is the (word, cnt)
    sufficient-statistic SELECT (default: whitespace words),
    ``sym_width`` the initial-symbol split, ``prefix`` namespaces
    the CTEs so two alphabets can coexist in one oracle."""
    p = prefix
    apply_expr = _sql_apply_one_merge("w.s", "best.a", "best.b")
    vocab_sql = vocab_sql or _SQL_CHAR_VOCAB
    init = bpefns.sql_init_syms_expr(sym_width)
    return f"""
    {p}bpevocab AS MATERIALIZED (
      {vocab_sql}
    ),
    {p}bpeinit AS (
      SELECT list(struct_pack(
               s := {init},
               c := cnt) ORDER BY word) AS words
      FROM {p}bpevocab
    ),
    {p}bpesteps AS (
      SELECT 0 AS r, CAST([] AS STRUCT(a VARCHAR, b VARCHAR)[]) AS merges,
             words
      FROM {p}bpeinit
      UNION ALL
      SELECT r + 1,
             list_append(merges, struct_pack(a := best.a, b := best.b)),
             list_transform(words, w ->
               struct_pack(s := {apply_expr}, c := w.c))
      FROM (SELECT r, merges, words, {_SQL_BEST_PAIR} AS best
            FROM {p}bpesteps WHERE r < {n_merges})
      WHERE best IS NOT NULL
    ),
    {p}bpelast AS (
      SELECT merges FROM {p}bpesteps ORDER BY r DESC LIMIT 1
    ),
    {p}bpetrained AS MATERIALIZED (
      SELECT CAST(u.m.rk AS BIGINT) AS merge_rank,
             u.m.a AS left_sym, u.m.b AS right_sym
      FROM (SELECT unnest(list_transform(range(1, len(merges) + 1),
                     i -> struct_pack(rk := i - 1, a := merges[i].a,
                                      b := merges[i].b))) AS m
            FROM {p}bpelast) u
    )"""


@query(
    "text_bpe_train",
    oracle=f"""
    WITH RECURSIVE {sql_bpe_train_ctes()}
    SELECT merge_rank, left_sym, right_sym FROM bpetrained
    """,
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN: the greedy BPE merge table learned from this corpus's
    own word distribution — (merge_rank, left_sym, right_sym), rank
    = training order. The oracle RETRAINS the identical table from
    raw text, so every round's pair count, argmax tie-break, and
    non-overlapping re-tokenize is load-bearing for the hash match.
    A pin in tests/test_bpetrain.py additionally equates the result
    with ``tools/train_bpe.py``'s offline trainer on the fixture."""
    return _merges_df(spark, train_merges(spark, sf_dir))


# ---------------------------------------------------------------------------
# Serve from the persisted table
# ---------------------------------------------------------------------------


_SQL_TRAINED_NTOK = f"""
    {sql_bpe_train_ctes()},
    wd AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents WHERE LENGTH(trim(text)) > 0
    ),
    wc AS (
      SELECT doc_id, word, COUNT(*) AS cnt FROM wd GROUP BY doc_id, word
    ),
    {bpefns.sql_bpe_word_tokens("wc", "bpetrained")},
    ntok AS (
      SELECT doc_id,
             CAST(SUM(cnt) AS BIGINT) AS n_words,
             CAST(SUM(cnt * f.ntok) AS BIGINT) AS n_bpe
      FROM wc JOIN bpefinal f USING (word) GROUP BY doc_id
    )"""


@query(
    "corpus_pack_chunks_bpe_trained",
    oracle=f"""
    WITH RECURSIVE {_SQL_TRAINED_NTOK},
    t AS (
      SELECT d.doc_id, CAST(COALESCE(n.n_bpe, 0) AS BIGINT) AS n_toks
      FROM documents d LEFT JOIN ntok n USING (doc_id)
    ),
    o AS (
      SELECT doc_id, n_toks,
             CAST(COALESCE(SUM(n_toks) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS token_offset
      FROM t
    )
    SELECT doc_id, n_toks, token_offset,
           token_offset // {CHUNK_TOKENS} AS chunk_id
    FROM o
    """,
)
def corpus_pack_chunks_bpe_trained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sequence packing budgeted in tokens of the IN-ENGINE-TRAINED
    tokenizer, served from the persisted merge table (built on first
    use — the fifth persisted index family). The Spark side reads ONLY
    ``merges.parquet`` (poison-pinned); the oracle retrains the
    table from raw text and replays the apply rule, so a stale or
    corrupt artifact is a hash mismatch. Packing algebra is
    byte-shared with ``corpus_pack_chunks`` (``_pack_chunks``)."""
    from kafkatoclickhouse_spark.operators.text import _pack_chunks

    docs = load_table(spark, sf_dir, "documents")
    return _pack_chunks(
        docs, _trained_column(spark, sf_dir, F.col("text"), count=True)
    )


@query(
    "corpus_tokenizer_fertility_trained",
    oracle=f"""
    WITH RECURSIVE {_SQL_TRAINED_NTOK},
    d AS (
      SELECT source,
             COALESCE(n.n_words, 0) AS n_words,
             COALESCE(n.n_bpe, 0) AS n_bpe,
             CAST(LENGTH(text) AS BIGINT) AS n_chars
      FROM documents LEFT JOIN ntok n USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(CASE WHEN SUM(n_words) = 0 THEN 0
                ELSE SUM(n_bpe) * 1000000 // SUM(n_words) END AS BIGINT)
             AS fertility_ppm,
           CAST(CASE WHEN SUM(n_bpe) = 0 THEN 0
                ELSE SUM(n_chars) * 1000000 // SUM(n_bpe) END AS BIGINT)
             AS chars_per_token_ppm
    FROM d GROUP BY source
    """,
)
def corpus_tokenizer_fertility_trained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source fertility/compression report under the
    IN-ENGINE-TRAINED tokenizer, served from the persisted merge
    table — the measurement a pipeline runs right after retraining
    its tokenizer to see what the new table buys per source. Same
    plan shape as ``corpus_tokenizer_fertility`` (one Arrow count
    pass + one source-keyed aggregate); the oracle retrains and
    replays."""
    from kafkatoclickhouse_spark.functions import textfns

    docs = load_table(spark, sf_dir, "documents")
    n_bpe = _trained_column(spark, sf_dir, F.col("text"), count=True)
    per_doc = docs.select(
        "source",
        textfns.ws_token_count(F.col("text")).alias("n_words"),
        n_bpe.alias("n_bpe"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_bpe").cast("long").alias("n_bpe_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.expr(
            "CAST(CASE WHEN sum(n_words) = 0 THEN 0"
            " ELSE sum(n_bpe) * 1000000 DIV sum(n_words) END AS LONG)"
        ).alias("fertility_ppm"),
        F.expr(
            "CAST(CASE WHEN sum(n_bpe) = 0 THEN 0"
            " ELSE sum(n_chars) * 1000000 DIV sum(n_bpe) END AS LONG)"
        ).alias("chars_per_token_ppm"),
    )


# ---------------------------------------------------------------------------
# Token-ID materialization: the tensor-ready artifact (r12 session)
# ---------------------------------------------------------------------------
#
# Everything upstream — training, budget selection, packing — deals
# in token COUNTS; what a trainer actually loads is token IDS. The
# id rule is the standard one: corpus characters (sorted) take ids
# 0..C-1, merged symbols take C + rank; ids key by STRING with
# first-id-wins (two merges can form the same string). Encoding a
# document = concatenating its words' surviving-symbol ids in word
# order. The oracle retrains the table, rebuilds the identical
# vocabulary, re-derives every word's surviving-symbol SEQUENCE via
# the one apply generator, and assembles documents positionally
# — so the id assignment, the apply order, and the concatenation
# order are all load-bearing for the hash.

_SQL_VOCAB_CTES = """
    bpechars AS MATERIALIZED (
      SELECT c, CAST(ROW_NUMBER() OVER (ORDER BY c) - 1 AS BIGINT) AS id
      FROM (SELECT DISTINCT unnest(list_transform(
                     range(1, length(word) + 1),
                     i -> substring(word, i, 1))) AS c
            FROM (SELECT DISTINCT word FROM wd))
    ),
    bpevocablist AS MATERIALIZED (
      SELECT list(sym ORDER BY id) AS vl FROM (
        SELECT c AS sym, id FROM bpechars
        UNION ALL
        SELECT left_sym || right_sym AS sym,
               (SELECT COUNT(*) FROM bpechars) + merge_rank AS id
        FROM bpetrained)
    )"""

# (doc_id, ord, word): every word occurrence with its position —
# documents with NULL/blank text contribute nothing here and are
# re-attached with empty arrays at the end.
_SQL_WPOS_CTE = """
    wpos AS (
      SELECT doc_id, u.s.o AS ord, u.s.w AS word FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ws) + 1),
                        i -> struct_pack(o := i, w := ws[i]))) AS s
        FROM (SELECT doc_id,
                     string_split_regex(trim(text), '\\s+') AS ws
              FROM documents WHERE LENGTH(trim(text)) > 0)) u
    )"""

_SQL_ENCODE_IDS = f"""
    {sql_bpe_train_ctes()},
    wd AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents WHERE LENGTH(trim(text)) > 0
    ),
    {bpefns.sql_bpe_word_tokens("wd", "bpetrained")},
    {_SQL_VOCAB_CTES},
    {_SQL_WPOS_CTE},
    wenc AS (
      SELECT w.doc_id, w.ord,
             list_transform(b.syms, s ->
               CAST(list_position(v.vl, s) - 1 AS BIGINT)) AS ids
      FROM wpos w JOIN bpesyms b USING (word), bpevocablist v
    ),
    docenc AS (
      SELECT doc_id, flatten(list(ids ORDER BY ord)) AS token_ids
      FROM wenc GROUP BY doc_id
    )"""


@query(
    "text_bpe_encode_ids",
    oracle=f"""
    WITH RECURSIVE {_SQL_ENCODE_IDS}
    SELECT d.doc_id,
           CAST(COALESCE(len(e.token_ids), 0) AS BIGINT) AS n_tokens,
           COALESCE(e.token_ids, CAST([] AS BIGINT[])) AS token_ids
    FROM documents d LEFT JOIN docenc e USING (doc_id)
    """,
)
def text_bpe_encode_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE: (doc_id, n_tokens, token_ids) under the
    in-engine-trained tokenizer, served from the persisted
    merges + vocabulary (poison-pinned like the count serves). One
    Arrow map stage — per-word memoized apply, ids concatenated in
    word order; NULL/blank text encodes to []. The oracle retrains,
    rebuilds the vocabulary, and re-derives every id positionally."""
    docs = load_table(spark, sf_dir, "documents")
    ids = _trained_column(spark, sf_dir, F.col("text"))
    return docs.select(
        "doc_id",
        F.size(ids).cast("long").alias("n_tokens"),
        ids.alias("token_ids"),
    )


@query(
    "corpus_pack_examples",
    oracle=f"""
    WITH RECURSIVE {_SQL_ENCODE_IDS},
    enc AS (
      SELECT d.doc_id,
             COALESCE(e.token_ids, CAST([] AS BIGINT[])) AS token_ids,
             CAST(COALESCE(len(e.token_ids), 0) AS BIGINT) AS n_toks
      FROM documents d LEFT JOIN docenc e USING (doc_id)
    ),
    o AS (
      SELECT doc_id, token_ids,
             CAST(COALESCE(SUM(n_toks) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS token_offset
      FROM enc
    ),
    tok AS (
      SELECT token_offset + u.t.p - 1 AS gpos, u.t.tid AS tid
      FROM (SELECT token_offset,
                   unnest(list_transform(range(1, len(token_ids) + 1),
                            i -> struct_pack(p := i,
                                             tid := token_ids[i]))) AS t
            FROM o) u
    )
    SELECT CAST(gpos // {CHUNK_TOKENS} AS BIGINT) AS chunk_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           list(tid ORDER BY gpos) AS token_ids
    FROM tok GROUP BY 1
    """,
)
def corpus_pack_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATERIALIZE training examples: the concat-and-chunk layout
    with ACTUAL token ids — (chunk_id, n_tokens, token_ids), every
    chunk except the last exactly {CHUNK_TOKENS} ids of the
    in-engine-trained tokenizer, documents split across boundaries
    exactly as `corpus_pack_chunks*` predicted. This is the tensor
    the trainer loads. Plan (VERDICT r12 #1): one Arrow encode pass,
    the two-phase bucketed prefix sum for offsets (no global sort),
    then doc-SLICE pieces — a doc overlaps at most
    ceil(n/CHUNK_TOKENS)+1 chunks, so the corpus-scale shuffle
    carries O(docs + chunk crossings) array rows instead of one row
    per token — assembled per chunk with one sort_array + flatten."""
    pieces = _chunk_pieces(_placed_encodings(spark, sf_dir))
    assembled = pieces.groupBy("chunk_id").agg(
        F.flatten(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("start_gpos", "piece"))
                ),
                lambda s: s["piece"],
            )
        ).alias("token_ids")
    )
    return assembled.select(
        "chunk_id",
        F.size("token_ids").cast("long").alias("n_tokens"),
        "token_ids",
    )


def _placed_encodings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(doc_id, token_offset, n_toks, token_ids) under the trained
    tokenizer — one Arrow encode pass plus the two-phase bucketed
    prefix sum for global offsets (no global sort). Shared by the
    pack-examples family."""
    from pyspark.sql import Window as W

    from kafkatoclickhouse_spark.operators.text import (
        PREFIX_BUCKET,
        exclusive_bucket_prefix,
    )

    docs = load_table(spark, sf_dir, "documents")
    ids = _trained_column(spark, sf_dir, F.col("text"))
    enc = docs.select(
        "doc_id",
        ids.alias("token_ids"),
        F.floor(F.col("doc_id") / PREFIX_BUCKET).alias("bucket"),
    ).withColumn("n_toks", F.size("token_ids").cast("long"))
    w_local = (
        W.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = enc.withColumn("local_cum", F.sum("n_toks").over(w_local))
    totals = enc.groupBy("bucket").agg(
        F.sum("n_toks").alias("bucket_total")
    )
    prefixes = exclusive_bucket_prefix(totals)
    return local.join(prefixes, "bucket").select(
        "doc_id",
        (
            F.col("bucket_prefix")
            + F.col("local_cum")
            - F.col("n_toks")
        ).alias("token_offset"),
        "n_toks",
        "token_ids",
    )


def _chunk_pieces(placed: DataFrame) -> DataFrame:
    """Doc-slice pieces of the concat-and-chunk layout: one row per
    (document, chunk) CROSSING — at most ceil(n/CHUNK_TOKENS)+1 per
    document, never one per token. Each piece is the F.slice of the
    doc's id array that lands in that chunk, keyed by its global
    start position so the chunk assembler can order pieces without
    ever seeing individual tokens."""
    c = F.lit(CHUNK_TOKENS)
    lo = F.greatest(F.col("chunk_id") * c, F.col("token_offset"))
    hi = F.least(
        (F.col("chunk_id") + 1) * c,
        F.col("token_offset") + F.col("n_toks"),
    )
    return (
        placed.filter(F.col("n_toks") > 0)
        .select(
            "doc_id",
            "token_offset",
            "n_toks",
            "token_ids",
            F.explode(
                F.sequence(
                    F.floor(F.col("token_offset") / c),
                    F.floor(
                        (F.col("token_offset") + F.col("n_toks") - 1)
                        / c
                    ),
                )
            ).alias("chunk_id"),
        )
        .select(
            F.col("chunk_id").cast("long").alias("chunk_id"),
            "doc_id",
            lo.alias("start_gpos"),
            F.slice(
                F.col("token_ids"),
                (lo - F.col("token_offset") + 1).cast("int"),
                (hi - lo).cast("int"),
            ).alias("piece"),
        )
    )


# ---------------------------------------------------------------------------
# Packed-example boundary metadata: doc_spans + loss mask (r13)
# ---------------------------------------------------------------------------
#
# A packed chunk is only trainable if the trainer knows where the
# documents inside it begin and end: attention must not cross a
# document boundary, and the FIRST token of every span has no
# same-document predecessor inside the example, so it cannot be
# scored by next-token loss. The metadata rule:
#
#   doc_spans: array<array<bigint>> of [doc_id, start, len] triples
#     — chunk-local, 0-based, ordered by start, tiling the chunk
#     exactly (triples, not structs: the parity canonicalization
#     stringifies cells, and Spark Row(...) != DuckDB dict, while
#     nested integer lists print identically in both engines);
#   loss_mask: array<long>, same length as token_ids — 0 at each
#     span's first position, 1 elsewhere (the standard
#     document-masked-packing rule).

_SQL_PACK_SPANS = f"""
    enc AS (
      SELECT d.doc_id,
             COALESCE(e.token_ids, CAST([] AS BIGINT[])) AS token_ids,
             CAST(COALESCE(len(e.token_ids), 0) AS BIGINT) AS n_toks
      FROM documents d LEFT JOIN docenc e USING (doc_id)
    ),
    o AS (
      SELECT doc_id, token_ids, n_toks,
             CAST(COALESCE(SUM(n_toks) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS token_offset
      FROM enc
    ),
    pc AS (
      SELECT doc_id, token_offset, n_toks, token_ids,
             unnest(range(token_offset // {CHUNK_TOKENS},
                    (token_offset + n_toks - 1) // {CHUNK_TOKENS} + 1))
               AS chunk_id
      FROM o WHERE n_toks > 0
    ),
    spn AS (
      SELECT chunk_id, doc_id, token_offset, token_ids,
             greatest(chunk_id * {CHUNK_TOKENS}, token_offset) AS gs,
             least((chunk_id + 1) * {CHUNK_TOKENS},
                   token_offset + n_toks) AS ge
      FROM pc
    ),
    ch AS (
      SELECT chunk_id,
             flatten(list(list_slice(token_ids,
                            gs - token_offset + 1,
                            ge - token_offset) ORDER BY gs))
               AS token_ids,
             list(CAST([doc_id,
                        gs - chunk_id * {CHUNK_TOKENS},
                        ge - gs] AS BIGINT[]) ORDER BY gs)
               AS doc_spans
      FROM spn GROUP BY chunk_id
    )"""

_SQL_LOSS_MASK = (
    "flatten(list_transform(doc_spans, s ->"
    " list_prepend(CAST(0 AS BIGINT),"
    "   list_transform(range(1, s[3]), i -> CAST(1 AS BIGINT)))))"
)


def _loss_mask_col(spans):
    """Spark twin of _SQL_LOSS_MASK: 0 at each span's first
    position, 1 for the rest — span lengths (triple slot 2, 0-based)
    are always ≥ 1 here."""
    return F.flatten(
        F.transform(
            spans,
            lambda s: F.concat(
                F.array(F.lit(0).cast("long")),
                F.array_repeat(
                    F.lit(1).cast("long"),
                    (s[2] - F.lit(1)).cast("int"),
                ),
            ),
        )
    )


@query(
    "corpus_pack_examples_spans",
    oracle=f"""
    WITH RECURSIVE {_SQL_ENCODE_IDS},
    {_SQL_PACK_SPANS}
    SELECT CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(len(token_ids) AS BIGINT) AS n_tokens,
           token_ids, doc_spans,
           {_SQL_LOSS_MASK} AS loss_mask
    FROM ch
    """,
)
def corpus_pack_examples_spans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The trainable packed example (VERDICT r12 #4): chunk ids plus
    the boundary metadata a document-masked trainer needs —
    (chunk_id, n_tokens, token_ids, doc_spans, loss_mask). Spans are
    chunk-local 0-based (doc_id, start, len) ordered by start and
    tile the chunk exactly; the loss mask zeroes each span's first
    position (no same-document predecessor). Same doc-slice-piece
    plan as `corpus_pack_examples` — spans and mask are derived from
    the pieces already in the chunk aggregate, so the metadata costs
    no extra shuffle."""
    pieces = _chunk_pieces(_placed_encodings(spark, sf_dir))
    assembled = pieces.groupBy("chunk_id").agg(
        F.sort_array(
            F.collect_list(F.struct("start_gpos", "doc_id", "piece"))
        ).alias("ps")
    )
    base = F.col("chunk_id") * F.lit(CHUNK_TOKENS)
    spans = F.transform(
        F.col("ps"),
        lambda p: F.array(
            p["doc_id"].cast("long"),
            (p["start_gpos"] - base).cast("long"),
            F.size(p["piece"]).cast("long"),
        ),
    )
    return (
        assembled.select(
            "chunk_id",
            F.flatten(
                F.transform(F.col("ps"), lambda p: p["piece"])
            ).alias("token_ids"),
            spans.alias("doc_spans"),
        )
        .select(
            "chunk_id",
            F.size("token_ids").cast("long").alias("n_tokens"),
            "token_ids",
            "doc_spans",
            _loss_mask_col(F.col("doc_spans")).alias("loss_mask"),
        )
    )


def _ffd_examples_trained_oracle() -> str:
    """Oracle for the FFD materialization: encode CTEs + the shared
    group-local FFD recursion over n_toks = len(token_ids), bins
    assembled in doc_id order with running-offset spans."""
    from kafkatoclickhouse_spark.operators.text import _sql_ffd_assign

    return f"""
    WITH RECURSIVE {_SQL_ENCODE_IDS},
    enc AS (
      SELECT d.doc_id,
             COALESCE(e.token_ids, CAST([] AS BIGINT[])) AS token_ids,
             CAST(COALESCE(len(e.token_ids), 0) AS BIGINT) AS n_toks
      FROM documents d LEFT JOIN docenc e USING (doc_id)
    ),
    ffd_in AS MATERIALIZED (
      SELECT doc_id, n_toks FROM enc
    ),
    {_sql_ffd_assign("ffd_in")},
    b AS (
      SELECT a.bin_id, a.doc_id, e.token_ids, e.n_toks
      FROM ffd_assign a JOIN enc e USING (doc_id)
      WHERE a.bin_id >= 0 AND e.n_toks > 0
    ),
    bagg AS (
      SELECT bin_id,
             flatten(list(token_ids ORDER BY doc_id)) AS token_ids,
             list(struct_pack(doc_id := doc_id, len := n_toks)
                  ORDER BY doc_id) AS dl
      FROM b GROUP BY bin_id
    ),
    bsp AS (
      SELECT bin_id, token_ids,
             list_transform(range(1, len(dl) + 1), i ->
               CAST([dl[i].doc_id,
                     COALESCE(list_sum(list_transform(
                       dl[1:i-1], x -> x.len)), 0),
                     dl[i].len] AS BIGINT[])) AS doc_spans
      FROM bagg
    )
    SELECT CAST(bin_id AS BIGINT) AS bin_id,
           CAST(len(token_ids) AS BIGINT) AS n_tokens,
           token_ids, doc_spans,
           {_SQL_LOSS_MASK} AS loss_mask
    FROM bsp
    """


@query(
    "corpus_pack_bestfit_examples_trained",
    oracle=_ffd_examples_trained_oracle(),
)
def corpus_pack_bestfit_examples_trained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MATERIALIZE the no-split FFD bins with actual token ids and
    boundary metadata — (bin_id, n_tokens, token_ids, doc_spans,
    loss_mask): whole documents concatenated in doc_id order inside
    each bin, spans carrying running offsets, the same loss-mask
    rule as the chunk layout. Oversize (bin_id = -1) and empty
    documents carry no trainable tokens and are excluded — the
    waste/oversize accounting lives in `corpus_pack_bestfit_report`.
    Plan: the Arrow encode pass + the group-local FFD assignment
    (embarrassingly parallel id-range groups), one bin-keyed
    aggregate; spans/mask derived in-aggregate, no extra shuffle."""
    from kafkatoclickhouse_spark.operators.text import _ffd_pack

    placed = _placed_encodings(spark, sf_dir)
    enc = placed.select("doc_id", "n_toks", "token_ids")
    assign = _ffd_pack(enc.select("doc_id", "n_toks"))
    rows = (
        assign.filter(F.col("bin_id") >= 0)
        .join(enc.filter(F.col("n_toks") > 0), "doc_id")
        .select("bin_id", "doc_id", "token_ids")
    )
    bins = rows.groupBy("bin_id").agg(
        F.sort_array(
            F.collect_list(F.struct("doc_id", "token_ids"))
        ).alias("ps")
    )
    span_type = "array<array<bigint>>"
    spans = F.aggregate(
        F.col("ps"),
        F.struct(
            F.lit(0).cast("long").alias("off"),
            F.lit(None).cast(span_type).alias("sp"),
        ),
        lambda acc, p: F.struct(
            (acc["off"] + F.size(p["token_ids"])).alias("off"),
            F.concat(
                F.coalesce(acc["sp"], F.array().cast(span_type)),
                F.array(
                    F.array(
                        p["doc_id"].cast("long"),
                        acc["off"],
                        F.size(p["token_ids"]).cast("long"),
                    )
                ),
            ).alias("sp"),
        ),
        lambda acc: acc["sp"],
    )
    return (
        bins.select(
            "bin_id",
            F.flatten(
                F.transform(F.col("ps"), lambda p: p["token_ids"])
            ).alias("token_ids"),
            spans.alias("doc_spans"),
        )
        .select(
            "bin_id",
            F.size("token_ids").cast("long").alias("n_tokens"),
            "token_ids",
            "doc_spans",
            _loss_mask_col(F.col("doc_spans")).alias("loss_mask"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic epoch order (r13)
# ---------------------------------------------------------------------------

EPOCH_SEED = 20260816  # fixed artifact seed — reruns reproduce it
N_EPOCHS = 3
_EPOCH_HASH_SQL = hashing.sql_portable_hash64(
    "epoch || ':' || chunk_id", EPOCH_SEED
)


@query(
    "corpus_epoch_order",
    oracle=f"""
    WITH RECURSIVE {_SQL_TRAINED_NTOK},
    tot AS (
      SELECT CAST(COALESCE(SUM(n_bpe), 0) AS BIGINT) AS t FROM ntok
    ),
    ch AS (
      SELECT unnest(range(0, (t + {CHUNK_TOKENS} - 1)
                             // {CHUNK_TOKENS})) AS chunk_id
      FROM tot
    ),
    ep AS (SELECT unnest(range(1, {N_EPOCHS} + 1)) AS epoch)
    SELECT CAST(epoch AS BIGINT) AS epoch,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           {_EPOCH_HASH_SQL} AS order_key
    FROM ch CROSS JOIN ep
    """,
)
def corpus_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-epoch shuffle of the packed chunks
    (VERDICT r12 #8): (epoch, chunk_id, order_key) for N_EPOCHS
    epochs over the chunk universe `corpus_pack_examples`
    materializes — the consumer reads epoch e in ORDER BY
    (order_key, chunk_id) and visits every chunk exactly once, in a
    different pseudorandom order each epoch, reproducibly across
    runs, engines, and partitionings (the seeded portable-hash key
    is content-independent). WINDOWLESS by design: no global
    row_number — the sort key itself is the artifact, so the plan is
    one 1-row total-token aggregate, a sequence explode, and a
    broadcast cross join with the 3-row epoch table; nothing
    single-partition ever carries corpus-sized data."""
    docs = load_table(spark, sf_dir, "documents")
    n = _trained_column(spark, sf_dir, F.col("text"), count=True)
    total = docs.select(n.alias("n")).agg(F.sum("n").cast("long").alias("t"))
    chunks = total.filter(F.col("t") > 0).select(
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.floor(
                    (F.col("t") + CHUNK_TOKENS - 1) / CHUNK_TOKENS
                ).cast("long")
                - 1,
            )
        ).alias("chunk_id")
    )
    epochs = spark.range(1, N_EPOCHS + 1).select(
        F.col("id").alias("epoch")
    )
    return chunks.crossJoin(F.broadcast(epochs)).select(
        F.col("epoch").cast("long").alias("epoch"),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        hashing.portable_hash64(
            F.concat_ws(":", F.col("epoch"), F.col("chunk_id")),
            EPOCH_SEED,
        ).alias("order_key"),
    )


def _ffd_trained_oracle() -> str:
    """Oracle for the trained-tokenizer FFD variant — retrain CTEs +
    trained-rank count replay feeding the shared group-local FFD
    recursion (text._sql_ffd_assign). Assembled in a function because
    it composes fragments from BOTH modules."""
    from kafkatoclickhouse_spark.operators.text import _sql_ffd_assign

    return f"""
    WITH RECURSIVE {sql_bpe_train_ctes()},
    wd AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents WHERE LENGTH(trim(text)) > 0
    ),
    wc AS (
      SELECT doc_id, word, COUNT(*) AS cnt FROM wd GROUP BY doc_id, word
    ),
    {bpefns.sql_bpe_word_tokens("wc", "bpetrained")},
    ntok AS (
      SELECT doc_id, CAST(SUM(cnt * f.ntok) AS BIGINT) AS n_toks
      FROM wc JOIN bpefinal f USING (word) GROUP BY doc_id
    ),
    ffd_in AS MATERIALIZED (
      SELECT d.doc_id, CAST(COALESCE(n.n_toks, 0) AS BIGINT) AS n_toks
      FROM documents d LEFT JOIN ntok n USING (doc_id)
    ),
    {_sql_ffd_assign("ffd_in")}
    SELECT doc_id, n_toks, bin_id FROM ffd_assign
    """


@query("corpus_pack_bestfit_trained", oracle=_ffd_trained_oracle())
def corpus_pack_bestfit_trained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """No-split FFD packing (corpus_pack_bestfit) re-budgeted in the
    IN-ENGINE-TRAINED tokenizer's tokens, served from the persisted
    merge table — the composition a pipeline actually runs after
    retraining its tokenizer: counts, bins and the oversize flag all
    move with the new table. Packing algebra is byte-shared
    (`text._ffd_pack`); the oracle retrains, replays the counts via
    the apply generator, and replays the identical greedy bin
    sequence."""
    from kafkatoclickhouse_spark.operators.text import _ffd_pack

    docs = load_table(spark, sf_dir, "documents")
    n_toks = _trained_column(spark, sf_dir, F.col("text"), count=True)
    tokens = docs.select("doc_id", n_toks.alias("n_toks"))
    return _ffd_pack(tokens)


# ---------------------------------------------------------------------------
# Byte-level BPE mode (r13 — VERDICT r12 #5)
# ---------------------------------------------------------------------------
#
# The production tokenizer shape (GPT-2, Radford et al. 2019): the
# alphabet is the 256 BYTE values, so there is no OOV by
# construction, and merges run over GPT-2-style pre-token units
# (apostrophe contractions, space-prefixed letter/digit/punct runs,
# whitespace runs) instead of whitespace words. Portability trick:
# a byte is represented as its two-char lowercase hex string —
# `lower(hex(encode(u)))` in both engines — so the entire existing
# training/apply/oracle machinery (string symbols, pair keys,
# recursive retrainer) works unchanged with sym_width=2, and token
# id = byte value for the 256 base symbols, 256 + rank for merges.

_SQL_BYTE_VOCAB = f"""
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT lower(hex(encode(u))) AS word FROM (
          SELECT unnest(regexp_extract_all(text,
                   {textfns.PRETOKEN_RE_SQL})) AS u
          FROM documents WHERE text IS NOT NULL)
        WHERE u <> '')
      GROUP BY word"""


def sql_bpe_bytes_train_ctes(n_merges: int = BPE_BYTES_MERGES) -> str:
    """Byte-alphabet retrainer CTEs, namespaced ``b*`` so they can
    coexist with the char-mode chain in one oracle; ends in
    ``bbpetrained``."""
    return sql_bpe_train_ctes(
        n_merges, prefix="b", vocab_sql=_SQL_BYTE_VOCAB, sym_width=2
    )


@query(
    "text_bpe_train_bytes",
    oracle=f"""
    WITH RECURSIVE {sql_bpe_bytes_train_ctes()}
    SELECT merge_rank, left_sym, right_sym FROM bbpetrained
    """,
)
def text_bpe_train_bytes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TRAIN, byte mode: the greedy merge table over the 256-byte
    hex alphabet and GPT-2-style pre-token units. The oracle
    RETRAINS from raw text through the alphabet-parameterized
    recursive CTEs (the same argmax/tie/apply spec, hex symbols), so
    the pre-tokenizer regex, the UTF-8 byte mapping, and every merge
    decision are all load-bearing for the hash."""
    return _merges_df(spark, train_merges(spark, sf_dir, BYTES))


_SQL_FROZEN_CHAR_APPLY = bpefns.sql_bpe_word_tokens("wc")

_SQL_BYTES_ENCODE = f"""
    {sql_bpe_bytes_train_ctes()},
    bwd AS (
      SELECT doc_id, u.s.o AS ord,
             lower(hex(encode(u.s.w))) AS word
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(us) + 1),
                        i -> struct_pack(o := i, w := us[i]))) AS s
        FROM (SELECT doc_id,
                     regexp_extract_all(text,
                       {textfns.PRETOKEN_RE_SQL}) AS us
              FROM documents WHERE text IS NOT NULL)) u
    ),
    {bpefns.sql_bpe_word_tokens("bwd", "bbpetrained",
                                prefix="b", sym_width=2)},
    bvl AS MATERIALIZED (
      SELECT list(sym ORDER BY id) AS vl FROM (
        SELECT printf('%02x', i) AS sym, CAST(i AS BIGINT) AS id
        FROM (SELECT unnest(range(0, 256)) AS i)
        UNION ALL
        SELECT left_sym || right_sym AS sym,
               CAST(256 + merge_rank AS BIGINT) AS id
        FROM bbpetrained)
    ),
    bwenc AS (
      SELECT w.doc_id, w.ord,
             list_transform(b.syms, s ->
               CAST(list_position(v.vl, s) - 1 AS BIGINT)) AS ids
      FROM bwd w JOIN bbpesyms b USING (word), bvl v
    ),
    bdocenc AS (
      SELECT doc_id, flatten(list(ids ORDER BY ord)) AS token_ids
      FROM bwenc GROUP BY doc_id
    )"""


@query(
    "text_bpe_encode_ids_bytes",
    oracle=f"""
    WITH RECURSIVE {_SQL_BYTES_ENCODE}
    SELECT d.doc_id,
           CAST(COALESCE(len(e.token_ids), 0) AS BIGINT) AS n_tokens,
           COALESCE(e.token_ids, CAST([] AS BIGINT[])) AS token_ids
    FROM documents d LEFT JOIN bdocenc e USING (doc_id)
    """,
)
def text_bpe_encode_ids_bytes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ENCODE, byte mode: (doc_id, n_tokens, token_ids) under the
    byte-level trained tokenizer, served from the persisted merge
    table. Pre-tokenization and hex mapping run JVM-side
    (regexp_extract_all + hex(encode())); the merge apply is one
    Arrow map over the unit arrays. NO OOV is possible — every
    symbol decomposes to known bytes — and the pin test asserts all
    ids ≥ 0. The oracle retrains and re-derives every id through
    the byte-parameterized apply recursion."""
    docs = load_table(spark, sf_dir, "documents")
    units = textfns.hex_units(
        textfns.pretoken_units(F.col("text"))
    )
    ids = _trained_column(spark, sf_dir, units, BYTES)
    return docs.select(
        "doc_id",
        F.size(ids).cast("long").alias("n_tokens"),
        ids.alias("token_ids"),
    )


@query(
    "corpus_tokenizer_fertility_bytes",
    oracle=f"""
    WITH RECURSIVE {_SQL_BYTES_ENCODE},
    wd AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents WHERE LENGTH(trim(text)) > 0
    ),
    wc AS (
      SELECT doc_id, word, COUNT(*) AS cnt FROM wd
      GROUP BY doc_id, word
    ),
    {_SQL_FROZEN_CHAR_APPLY},
    chartok AS (
      SELECT doc_id, CAST(SUM(cnt * f.ntok) AS BIGINT) AS n_char
      FROM wc JOIN bpefinal f USING (word) GROUP BY doc_id
    ),
    bunits AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_units
      FROM bwd GROUP BY doc_id
    ),
    per AS (
      SELECT d.source,
             COALESCE(u.n_units, 0) AS n_units,
             COALESCE(len(e.token_ids), 0) AS n_byte,
             COALESCE(c.n_char, 0) AS n_char,
             CASE WHEN d.text IS NULL THEN 0
                  ELSE strlen(d.text) END AS n_bytes
      FROM documents d
      LEFT JOIN bunits u USING (doc_id)
      LEFT JOIN bdocenc e USING (doc_id)
      LEFT JOIN chartok c USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_units) AS BIGINT) AS n_units,
           CAST(SUM(n_byte) AS BIGINT) AS n_byte_tokens,
           CAST(SUM(n_char) AS BIGINT) AS n_char_tokens,
           CAST(SUM(n_bytes) AS BIGINT) AS n_text_bytes,
           CAST(CASE WHEN SUM(n_byte) = 0 THEN 0
                ELSE SUM(n_bytes) * 1000000 // SUM(n_byte) END
                AS BIGINT) AS bytes_per_token_ppm,
           CAST(CASE WHEN SUM(n_char) = 0 THEN 0
                ELSE SUM(n_byte) * 1000000 // SUM(n_char) END
                AS BIGINT) AS byte_vs_char_ppm
    FROM per GROUP BY source
    """,
)
def corpus_tokenizer_fertility_bytes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source fertility comparison, byte-level vs char-level
    (VERDICT r12 #5's 'done' bar): the byte-trained tokenizer's
    token counts and compression (text bytes per token) next to the
    frozen char-level tokenizer's counts — byte_vs_char_ppm > 1e6
    means the byte table spends more tokens than the char table on
    that source. One Arrow encode pass + one JVM count pass + one
    source-keyed aggregate; the oracle retrains the byte table AND
    replays the frozen char apply."""
    docs = load_table(spark, sf_dir, "documents")
    units = textfns.pretoken_units(F.col("text"))
    ids = _trained_column(spark, sf_dir, textfns.hex_units(units), BYTES)
    per_doc = docs.select(
        "source",
        F.greatest(F.size(units), F.lit(0))
        .cast("long")
        .alias("n_units"),
        F.size(ids).cast("long").alias("n_byte"),
        bpefns.bpe_token_count_frozen(F.col("text")).alias("n_char"),
        F.coalesce(F.octet_length("text"), F.lit(0))
        .cast("long")
        .alias("n_bytes"),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_units").cast("long").alias("n_units"),
        F.sum("n_byte").cast("long").alias("n_byte_tokens"),
        F.sum("n_char").cast("long").alias("n_char_tokens"),
        F.sum("n_bytes").cast("long").alias("n_text_bytes"),
        F.expr(
            "CAST(CASE WHEN sum(n_byte) = 0 THEN 0"
            " ELSE sum(n_bytes) * 1000000 DIV sum(n_byte) END"
            " AS LONG)"
        ).alias("bytes_per_token_ppm"),
        F.expr(
            "CAST(CASE WHEN sum(n_char) = 0 THEN 0"
            " ELSE sum(n_byte) * 1000000 DIV sum(n_char) END"
            " AS LONG)"
        ).alias("byte_vs_char_ppm"),
    )


# ---------------------------------------------------------------------------
# Persisted packed-dataset artifact (r13 — the SEVENTH index family)
# ---------------------------------------------------------------------------
#
# Everything above COMPUTES the training tensor; a real pipeline
# writes it once and every trainer epoch READS the artifact. The
# serve query reads ONLY the artifact (poison-pinned) while its
# oracle recomputes the whole chain from raw text, so a stale or
# corrupt artifact is a hash mismatch.


def corpus_pack_index_build(
    spark: SparkSession,
    sf_dir: str,
    path: str | None = None,
    force: bool = False,
) -> str:
    """BUILD half: materialize the packed training dataset —

      - ``chunks.parquet``: (chunk_id, n_tokens, token_ids,
        doc_spans, loss_mask) — the tensor + boundary metadata;
      - ``epochs.parquet``: (epoch, chunk_id, order_key) — the
        deterministic epoch shuffle.

    The key is the source fingerprint, the chunk budget, the epoch
    count and the FULL marker of the BPE tokenizer artifact the
    chunks are encoded under, so a tokenizer retrain (budget change,
    corpus change) invalidates the packed tensors too; the marker
    also carries the chunk/token totals (commit protocol:
    ``artifacts``)."""

    def write(path: str) -> dict:
        chunks = corpus_pack_examples_spans(spark, sf_dir)
        chunks.write.mode("overwrite").parquet(
            os.path.join(path, "chunks.parquet")
        )
        corpus_epoch_order(spark, sf_dir).write.mode("overwrite").parquet(
            os.path.join(path, "epochs.parquet")
        )
        stats = (
            spark.read.parquet(os.path.join(path, "chunks.parquet"))
            .agg(
                F.count(F.lit(1)).alias("n_chunks"),
                F.sum("n_tokens").alias("total_tokens"),
            )
            .collect()[0]
        )
        return {
            "n_chunks": int(stats["n_chunks"]),
            "total_tokens": int(stats["total_tokens"]),
        }

    # freshen the tokenizer first: its marker is part of this key
    # (VERDICT r13 #1: checking only fingerprint/chunk_tokens/n_epochs
    # served stale tensors after a BPE_TRAIN_MERGES change)
    key = {
        "chunk_tokens": CHUNK_TOKENS,
        "n_epochs": N_EPOCHS,
        "tokenizer_meta": artifacts.read_meta(
            text_bpe_index_build(spark, sf_dir)
        ),
    }
    return artifacts.build(
        sf_dir, "documents", "packds", key, write, path, force
    )


@query(
    "corpus_pack_serve_manifest",
    oracle=f"""
    WITH RECURSIVE {_SQL_ENCODE_IDS},
    {_SQL_PACK_SPANS},
    tot AS (
      SELECT CAST(COALESCE(SUM(len(token_ids)), 0) AS BIGINT) AS t
      FROM ch
    ),
    epch AS (
      SELECT unnest(range(0, (t + {CHUNK_TOKENS} - 1)
                             // {CHUNK_TOKENS})) AS chunk_id
      FROM tot
    ),
    ep AS (SELECT unnest(range(1, {N_EPOCHS} + 1)) AS epoch)
    SELECT CAST(ep.epoch AS BIGINT) AS epoch,
           CAST(c.chunk_id AS BIGINT) AS chunk_id,
           {_EPOCH_HASH_SQL.replace("chunk_id", "c.chunk_id")
                           .replace("epoch", "ep.epoch")} AS order_key,
           CAST(len(c.token_ids) AS BIGINT) AS n_tokens,
           CAST(len(c.token_ids) - len(c.doc_spans) AS BIGINT)
             AS n_loss_tokens
    FROM ch c CROSS JOIN ep
    """,
)
def corpus_pack_serve_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SERVE: the per-epoch training manifest read ONLY from the
    persisted packed-dataset artifact — (epoch, chunk_id, order_key,
    n_tokens, n_loss_tokens) for every (epoch, chunk): the exact
    work list a trainer walks in ORDER BY (order_key, chunk_id) per
    epoch, with the loss-token count (n_tokens − span count: each
    span's first position is masked) a budget dashboard reads. The
    Spark side joins the artifact's epochs × chunks parquet (no
    recompute — poison-pinned); the oracle recomputes the entire
    chain from raw text: retrain, encode, offsets, slice pieces,
    spans, epoch hash."""
    path = corpus_pack_index_build(spark, sf_dir)
    chunks = spark.read.parquet(
        os.path.join(path, "chunks.parquet")
    ).select(
        "chunk_id",
        "n_tokens",
        (F.col("n_tokens") - F.size("doc_spans"))
        .cast("long")
        .alias("n_loss_tokens"),
    )
    epochs = spark.read.parquet(os.path.join(path, "epochs.parquet"))
    return epochs.join(chunks, "chunk_id").select(
        "epoch", "chunk_id", "order_key", "n_tokens", "n_loss_tokens"
    )
