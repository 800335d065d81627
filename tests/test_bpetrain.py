"""In-engine BPE tokenizer training pins (VERDICT r11 #1).

Three guarantees beyond the oracle hash gates:
 - the in-engine trainer reproduces ``tools/train_bpe.py``'s offline
   result on the fixture, merge for merge (the closure pin — the
   frozen table's provenance is now retrainable inside the engine);
 - the persisted lifecycle is crash-safe and fingerprint-keyed like
   the other four index families;
 - the serve queries read ONLY the persisted merge table (poison
   pin — a corrupt artifact changes the counts, proving no silent
   retrain).
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import pytest
from pyspark.sql import functions as F

from kafkatoclickhouse_spark.functions import bpe as bpefns
from kafkatoclickhouse_spark.operators import bpetrain

_SPEC = importlib.util.spec_from_file_location(
    "train_bpe",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "train_bpe.py",
    ),
)
train_bpe = importlib.util.module_from_spec(_SPEC)
sys.modules["train_bpe"] = train_bpe
_SPEC.loader.exec_module(train_bpe)


def test_in_engine_training_matches_offline_tool(spark, sf_dir):
    """The closure pin: in-engine merges == tools/train_bpe.py's on
    the same fixture at the same budget."""
    expected = train_bpe.train(
        train_bpe.word_freqs(sf_dir), bpetrain.BPE_TRAIN_MERGES
    )
    got = bpetrain.train_merges(spark, sf_dir)
    assert got == expected


@pytest.mark.slow
def test_bounded_collect_and_distributed_trainers_identical(
    spark, sf_dir
):
    """The two training strategies are pinned merge-for-merge equal
    at the fixture budget (VERDICT r12 #2): the bounded-collect path
    (the production-budget default — zero Spark jobs per merge) and
    the distributed per-round loop (the any-scale fallback, forced
    with ``local_max_words=0``) must produce the identical table,
    and the default `train_merges` must actually take the collect
    path on the fixture (its word table is tiny)."""
    default = bpetrain.train_merges(spark, sf_dir)
    forced_dist = bpetrain.train_merges(
        spark, sf_dir, local_max_words=0
    )
    assert default == forced_dist
    assert len(default) > 0


def test_local_trainer_incremental_matches_full_sweep():
    """The incremental pair-maintenance trainer equals the offline
    full-vocabulary-sweep loop on synthetic vocabularies that
    exercise the sharp edges: overlapping runs (a=b), merged symbols
    re-pairing, ties, and early exhaustion."""
    from collections import Counter

    cases = [
        {"aaaa": 3, "aaab": 2, "abab": 5},
        {"lower": 5, "lowest": 3, "newer": 6, "wider": 1},
        {"xy": 1, "yx": 1},  # permanent tie — lexicographic break
        {"a": 7},  # no pairs at all
        {"mississippi": 4, "missile": 2, "sips": 9},
    ]
    for freqs in cases:
        for budget in (1, 2, 5, 40, 10_000):
            got = bpetrain._train_local(dict(freqs), budget)
            want = train_bpe.train(Counter(freqs), budget)
            assert got == want, (freqs, budget)


def test_local_trainer_property_matches_full_sweep():
    """Hypothesis sweep: on arbitrary small vocabularies the
    incremental trainer and the full-sweep reference agree for any
    budget (stale pair→words membership, prune timing, and the
    non-overlap apply rule all get fuzzed)."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    words = st.text(alphabet="abc", min_size=1, max_size=8)

    @settings(max_examples=150, deadline=None)
    @given(
        freqs=st.dictionaries(
            words, st.integers(min_value=1, max_value=9), max_size=8
        ),
        budget=st.integers(min_value=0, max_value=30),
    )
    def check(freqs, budget):
        got = bpetrain._train_local(dict(freqs), budget)
        want = train_bpe.train(Counter(freqs), budget)
        assert got == want

    check()


def test_local_trainer_per_merge_cost_shrinks():
    """The sublinearity measurement (VERDICT r12 #2 'done' bar): on
    a vocabulary large enough to sustain thousands of merges, the
    incremental trainer's marginal per-merge cost FALLS with the
    budget — the whole point of replacing one Spark job per merge.
    Deterministic synthetic corpus; asserts the 4× budget extension
    costs less than 2× the first tranche's wall."""
    import random
    import time

    rng = random.Random(13)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    freqs = {
        "".join(rng.choice(alpha) for _ in range(rng.randint(3, 12))): (
            rng.randint(1, 50)
        )
        for _ in range(20_000)
    }
    t0 = time.time()
    first = bpetrain._train_local(dict(freqs), 500)
    t1 = time.time()
    extended = bpetrain._train_local(dict(freqs), 2000)
    t2 = time.time()
    assert len(first) == 500 and len(extended) == 2000
    assert extended[:500] == first  # prefix-stable under budget growth
    assert (t2 - t1) < 2.0 * (t1 - t0), (
        f"2000-merge wall {t2 - t1:.2f}s vs 500-merge {t1 - t0:.2f}s — "
        "per-merge cost should shrink, not grow linearly"
    )


def test_trained_apply_rule_matches_offline_retokenize():
    """The serve-side counter under a trained table must agree with
    a brute-force re-tokenize that applies the merges in rank order
    (the training-side convention). NOTE (ADVICE r12): the
    one-pair-per-step (rank, leftmost) rule is NOT equivalent to
    sequential rank-order apply for arbitrary merge tables — with
    duplicate-string symbols (a low-rank merge whose left symbol is
    recreated by a higher-rank merge) the two rules can tokenize
    differently. Parity holds because Spark AND the oracle both
    serve with the same (rank, leftmost) rule, and this pin checks
    the rules agree on THIS greedily-trained fixture table — it is
    a fixture property, not a theorem about all tables."""
    vocab = {"lower": 5, "lowest": 3, "newer": 6, "aaa": 7, "aaaa": 2}
    from collections import Counter

    merges = train_bpe.train(Counter(vocab), 10)
    ranks = {m: i for i, m in enumerate(merges)}
    count = bpefns.memo_words(ranks, len)

    def offline(word: str) -> int:
        syms = list(word)
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if (
                    i < len(syms) - 1
                    and syms[i] == a
                    and syms[i + 1] == b
                ):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    for w in list(vocab) + ["unseen", "lowlow", "aaaaaaa"]:
        assert count(w) == offline(w), w


@pytest.mark.slow
def test_build_is_fingerprint_cached_and_meta_last(spark, sf_dir, tmp_path):
    path = str(tmp_path / "bpe_idx")
    p1 = bpetrain.text_bpe_index_build(spark, sf_dir, path=path)
    meta = json.load(open(os.path.join(p1, "meta.json")))
    assert meta["n_merges"] > 0
    mtime = os.path.getmtime(os.path.join(p1, "meta.json"))
    # warm call: short-circuits on the fingerprint, no rebuild
    p2 = bpetrain.text_bpe_index_build(spark, sf_dir, path=path)
    assert p2 == p1
    assert os.path.getmtime(os.path.join(p1, "meta.json")) == mtime
    # a missing meta marker (crash between parquet and meta) rebuilds
    os.remove(os.path.join(p1, "meta.json"))
    bpetrain.text_bpe_index_build(spark, sf_dir, path=path)
    assert os.path.isfile(os.path.join(p1, "meta.json"))


def test_serve_reads_only_persisted_merges(spark, sf_dir):
    """Poison the persisted merge table; a warm serve call must
    reflect the poisoned table (i.e. it did NOT retrain). An empty
    merge table makes every word decompose to single characters, so
    n_bpe_tokens collapses to the character count of the words."""
    path = bpetrain.text_bpe_index_build(spark, sf_dir)
    fert = bpetrain.corpus_tokenizer_fertility_trained(spark, sf_dir)
    before = {r["source"]: r["n_bpe_tokens"] for r in fert.collect()}
    assert before

    merges_pq = os.path.join(path, "merges.parquet")
    spark.createDataFrame(
        [], "merge_rank long, left_sym string, right_sym string"
    ).write.mode("overwrite").parquet(merges_pq)
    try:
        after = {
            r["source"]: r["n_bpe_tokens"]
            for r in bpetrain.corpus_tokenizer_fertility_trained(
                spark, sf_dir
            ).collect()
        }
        assert after != before, (
            "serve path retrained instead of reading the persisted table"
        )
        # with zero merges every token is a single character
        assert all(after[s] >= before[s] for s in before)
    finally:
        bpetrain.text_bpe_index_build(spark, sf_dir, force=True)


def test_training_stops_when_vocabulary_exhausts(spark, tmp_path):
    """Asking for far more merges than pairs exist must terminate
    (the argmax barrier returns no row) and stay a prefix-extension
    of the smaller run. Runs on a tiny planted corpus so exhaustion
    arrives in a handful of rounds."""
    docs_dir = str(tmp_path / "tinycorpus")
    os.makedirs(docs_dir, exist_ok=True)
    spark.createDataFrame(
        [(1, "aa ab aa"), (2, "ab ba"), (3, "aa aa ba")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(docs_dir, "documents.parquet")
    )
    small = bpetrain.train_merges(spark, docs_dir, n_merges=2)
    big = bpetrain.train_merges(spark, docs_dir, n_merges=10_000)
    assert small == big[:2]
    # the vocabulary holds 3 distinct 2-char words: at most 3 merges
    assert len(big) <= 3
    offline = train_bpe.train(
        __import__("collections").Counter(
            {"aa": 4, "ab": 2, "ba": 2}
        ),
        10_000,
    )
    assert big == offline


def test_trained_table_column_contract(spark, sf_dir):
    df = bpetrain.text_bpe_train(spark, sf_dir)
    assert df.columns == ["merge_rank", "left_sym", "right_sym"]
    rows = df.orderBy("merge_rank").collect()
    assert [r["merge_rank"] for r in rows] == list(range(len(rows)))
    assert all(r["left_sym"] and r["right_sym"] for r in rows)
    # ranks are dense and the table is non-trivial on the fixture
    assert len(rows) > 0


def test_pack_chunks_trained_offsets_contiguous(spark, sf_dir):
    rows = sorted(
        bpetrain.corpus_pack_chunks_bpe_trained(spark, sf_dir).collect(),
        key=lambda r: r["doc_id"],
    )
    run = 0
    for r in rows:
        assert r["token_offset"] == run, r
        assert r["chunk_id"] == r["token_offset"] // 2048
        run += r["n_toks"]
    assert run > 0


def test_encode_ids_agree_with_count_serve(spark, sf_dir):
    """Cross-pin: the id encoder and the count serve run the same
    apply rule off the same artifact, so len(token_ids) must equal
    the packing serve's n_toks for every document — and no id may be
    -1 (the vocabulary was built from this corpus, so every
    surviving symbol is known)."""
    ids = {
        r["doc_id"]: r["token_ids"]
        for r in bpetrain.text_bpe_encode_ids(spark, sf_dir).collect()
    }
    counts = {
        r["doc_id"]: r["n_toks"]
        for r in bpetrain.corpus_pack_chunks_bpe_trained(
            spark, sf_dir
        ).collect()
    }
    assert set(ids) == set(counts) and ids
    for doc_id, arr in ids.items():
        assert len(arr) == counts[doc_id], doc_id
        assert all(t >= 0 for t in arr), doc_id


def test_pack_examples_exact_occupancy_and_order(spark, sf_dir):
    """The materialized chunks tile the concatenated id stream
    exactly: dense chunk_ids, every chunk but the last holds exactly
    CHUNK_TOKENS ids, and re-concatenating chunks in order
    reproduces the per-doc encodings concatenated in doc_id order."""
    from kafkatoclickhouse_spark.operators.text import CHUNK_TOKENS

    chunks = sorted(
        (r["chunk_id"], r["n_tokens"], list(r["token_ids"]))
        for r in bpetrain.corpus_pack_examples(spark, sf_dir).collect()
    )
    assert chunks
    assert [c[0] for c in chunks] == list(range(len(chunks)))
    for cid, n, arr in chunks[:-1]:
        assert n == CHUNK_TOKENS and len(arr) == CHUNK_TOKENS, cid
    last = chunks[-1]
    assert 0 < last[1] <= CHUNK_TOKENS and len(last[2]) == last[1]

    stream = [t for _, _, arr in chunks for t in arr]
    want = []
    for r in sorted(
        bpetrain.text_bpe_encode_ids(spark, sf_dir).collect(),
        key=lambda r: r["doc_id"],
    ):
        want.extend(r["token_ids"])
    assert stream == want


def test_pack_examples_spans_tile_and_reconcatenate(spark, sf_dir):
    """Boundary-metadata pins (VERDICT r12 #4): in every chunk the
    spans tile [0, n_tokens) exactly in order; the loss mask is 0
    precisely at span starts and has one entry per token; and
    re-assembling each document's tokens FROM ITS SPANS across
    chunks reproduces the per-doc encodings."""
    from collections import defaultdict

    enc = {
        r["doc_id"]: list(r["token_ids"])
        for r in bpetrain.text_bpe_encode_ids(spark, sf_dir).collect()
    }
    rows = bpetrain.corpus_pack_examples_spans(spark, sf_dir).collect()
    assert rows
    rebuilt: dict[int, list[tuple[int, list[int]]]] = defaultdict(list)
    for r in rows:
        spans = [tuple(s) for s in r["doc_spans"]]
        toks = list(r["token_ids"])
        mask = list(r["loss_mask"])
        assert len(mask) == r["n_tokens"] == len(toks)
        pos = 0
        for doc_id, start, ln in spans:
            assert start == pos and ln >= 1, (r["chunk_id"], spans)
            assert mask[start] == 0
            assert all(
                m == 1 for m in mask[start + 1 : start + ln]
            ), (r["chunk_id"], doc_id)
            rebuilt[doc_id].append(
                (r["chunk_id"], toks[start : start + ln])
            )
            pos += ln
        assert pos == r["n_tokens"], r["chunk_id"]
    for doc_id, pieces in rebuilt.items():
        got = [t for _, piece in sorted(pieces) for t in piece]
        assert got == enc[doc_id], doc_id
    # every non-empty doc appears
    assert set(rebuilt) == {d for d, ids in enc.items() if ids}


def test_pack_bestfit_examples_trained_whole_docs(spark, sf_dir):
    """FFD materialization pins: every bin's spans tile it exactly,
    each span is one WHOLE document's encoding (FFD never splits),
    and the bins cover exactly the non-oversize, non-empty docs."""
    enc = {
        r["doc_id"]: list(r["token_ids"])
        for r in bpetrain.text_bpe_encode_ids(spark, sf_dir).collect()
    }
    assign = {
        r["doc_id"]: r["bin_id"]
        for r in bpetrain.corpus_pack_bestfit_trained(
            spark, sf_dir
        ).collect()
    }
    rows = bpetrain.corpus_pack_bestfit_examples_trained(
        spark, sf_dir
    ).collect()
    assert rows
    seen: set[int] = set()
    for r in rows:
        toks = list(r["token_ids"])
        pos = 0
        for doc_id, start, ln in (tuple(s) for s in r["doc_spans"]):
            assert start == pos
            assert toks[start : start + ln] == enc[doc_id], doc_id
            assert assign[doc_id] == r["bin_id"], doc_id
            seen.add(doc_id)
            pos += ln
        assert pos == r["n_tokens"] == len(toks)
        assert len(r["loss_mask"]) == r["n_tokens"]
    want = {
        d
        for d, ids in enc.items()
        if ids and assign[d] >= 0
    }
    assert seen == want


def test_pack_bestfit_trained_invariants(spark, sf_dir):
    """The trained-tokenizer FFD variant inherits the packer's
    invariants: bins within capacity, group-local, oversize flagged,
    and its n_toks agree with the count serve."""
    from collections import defaultdict

    from kafkatoclickhouse_spark.operators.text import (
        CHUNK_TOKENS,
        PACK_FFD_GROUP,
    )

    rows = bpetrain.corpus_pack_bestfit_trained(spark, sf_dir).collect()
    counts = {
        r["doc_id"]: r["n_toks"]
        for r in bpetrain.corpus_pack_chunks_bpe_trained(
            spark, sf_dir
        ).collect()
    }
    fills: dict[int, int] = defaultdict(int)
    assert rows
    for r in rows:
        assert r["n_toks"] == counts[r["doc_id"]], r
        if r["bin_id"] == -1:
            assert r["n_toks"] > CHUNK_TOKENS
            continue
        assert r["bin_id"] // PACK_FFD_GROUP == (
            r["doc_id"] // PACK_FFD_GROUP
        )
        fills[r["bin_id"]] += r["n_toks"]
    assert fills and max(fills.values()) <= CHUNK_TOKENS


def test_epoch_order_permutation_pins(spark, sf_dir):
    """Epoch-order pins (VERDICT r12 #8): every materialized chunk
    appears exactly once per epoch; the per-epoch orders (sort by
    (order_key, chunk_id)) differ between epochs; and the artifact
    is partitioning-independent — recomputing off a repartitioned
    plan yields identical keys (the hash is content-independent)."""
    chunk_ids = sorted(
        r["chunk_id"]
        for r in bpetrain.corpus_pack_examples(spark, sf_dir)
        .select("chunk_id")
        .collect()
    )
    rows = bpetrain.corpus_epoch_order(spark, sf_dir).collect()
    by_epoch: dict[int, list] = {}
    for r in rows:
        by_epoch.setdefault(r["epoch"], []).append(
            (r["order_key"], r["chunk_id"])
        )
    assert sorted(by_epoch) == list(range(1, bpetrain.N_EPOCHS + 1))
    orders = {}
    for e, pairs in by_epoch.items():
        assert sorted(c for _, c in pairs) == chunk_ids, e
        orders[e] = [c for _, c in sorted(pairs)]
    # distinct permutations across epochs (fixture has >1 chunk)
    assert len({tuple(o) for o in orders.values()}) == len(orders)
    # stability: a second computation is bit-identical
    again = sorted(
        (r["epoch"], r["chunk_id"], r["order_key"])
        for r in bpetrain.corpus_epoch_order(spark, sf_dir).collect()
    )
    assert again == sorted(
        (r["epoch"], r["chunk_id"], r["order_key"]) for r in rows
    )


# ---------------------------------------------------------------------------
# Byte-level mode pins (r13)
# ---------------------------------------------------------------------------


def test_pretokenizer_cross_engine_agreement(spark, sf_dir):
    """The GPT-2-style pre-tokenizer regex must split IDENTICALLY
    under Java (Spark) and RE2 (DuckDB) on the real fixture text —
    the byte mode's whole oracle story rests on this."""
    import duckdb

    from kafkatoclickhouse_spark.functions import textfns
    from kafkatoclickhouse_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = {
        r["doc_id"]: list(r["u"])
        for r in docs.filter(F.col("text").isNotNull())
        .select("doc_id", textfns.pretoken_units(F.col("text")).alias("u"))
        .collect()
    }
    con = duckdb.connect()
    want = {
        d: u
        for d, u in con.execute(
            f"""SELECT doc_id, regexp_extract_all(text,
                  {textfns.PRETOKEN_RE_SQL})
               FROM read_parquet('{sf_dir}/documents.parquet')
               WHERE text IS NOT NULL"""
        ).fetchall()
    }
    assert got == want and got


def test_bytes_trainer_matches_chr_mapped_offline(spark, sf_dir):
    """Closure pin for the byte mode: mapping each byte to a unique
    unicode char turns byte-level training into char-level training
    (hex-pair lexicographic order is isomorphic to byte order), so
    tools/train_bpe.py's full-sweep loop over the mapped vocabulary
    must reproduce the in-engine byte merges exactly."""
    from collections import Counter

    wf = {
        r["word"]: r["cnt"]
        for r in bpetrain._byte_unit_freqs(spark, sf_dir).collect()
    }
    assert wf

    def to_chr(h):
        return "".join(
            chr(0x2600 + int(h[i : i + 2], 16))
            for i in range(0, len(h), 2)
        )

    def to_hex(cs):
        return "".join(f"{ord(c) - 0x2600:02x}" for c in cs)

    mapped = Counter({to_chr(w): c for w, c in wf.items()})
    off = train_bpe.train(mapped, bpetrain.BPE_BYTES_MERGES)
    want = [(to_hex(a), to_hex(b)) for a, b in off]
    got = bpetrain.train_merges(spark, sf_dir, bpetrain.BYTES)
    assert got == want and got


def test_bytes_trainer_prefix_stable(spark, sf_dir):
    """Budget growth extends, never rewrites, the byte merge table
    (the r12 prefix-stability pin carried to the new alphabet)."""
    wf = {
        r["word"]: r["cnt"]
        for r in bpetrain._byte_unit_freqs(spark, sf_dir).collect()
    }
    m40 = bpetrain._train_local(dict(wf), 40, sym_width=2)
    m60 = bpetrain._train_local(dict(wf), 60, sym_width=2)
    assert m60[: len(m40)] == m40


def test_bytes_encode_roundtrip_no_oov(spark, sf_dir):
    """The byte mode's defining property: NO OOV and LOSSLESS —
    every id ≥ 0, and concatenating the vocabulary strings of a
    document's ids reproduces the document's exact UTF-8 hex
    (whitespace included: unlike the char mode, byte-level
    pre-tokenization covers every character)."""
    from kafkatoclickhouse_spark.tables import load_table

    _, vocab = bpetrain.load_tokenizer(spark, sf_dir, bpetrain.BYTES)
    inv = {i: s for s, i in vocab.items()}
    assert len(inv) == len(vocab)  # ids unique (first-id-wins)
    texts = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    rows = bpetrain.text_bpe_encode_ids_bytes(spark, sf_dir).collect()
    assert rows
    nonempty = 0
    for r in rows:
        ids = list(r["token_ids"])
        assert all(t >= 0 for t in ids), r["doc_id"]
        want = (texts[r["doc_id"]] or "").encode("utf-8").hex()
        assert "".join(inv[t] for t in ids) == want, r["doc_id"]
        nonempty += bool(ids)
    assert nonempty > 0


def test_bytes_serve_reads_only_persisted_merges(spark, sf_dir):
    """Poison pin for the byte artifact: an emptied merge table must
    change the serve output (every token collapses to one byte) —
    proving the encode path reads the persisted table, not a silent
    retrain."""
    path = bpetrain.text_bpe_index_build(spark, sf_dir, bpetrain.BYTES)
    before = {
        r["doc_id"]: r["n_tokens"]
        for r in bpetrain.text_bpe_encode_ids_bytes(
            spark, sf_dir
        ).collect()
    }
    spark.createDataFrame(
        [], "merge_rank long, left_sym string, right_sym string"
    ).write.mode("overwrite").parquet(
        os.path.join(path, "merges.parquet")
    )
    try:
        after = {
            r["doc_id"]: r["n_tokens"]
            for r in bpetrain.text_bpe_encode_ids_bytes(
                spark, sf_dir
            ).collect()
        }
        assert after != before
        assert all(after[d] >= before[d] for d in before)
    finally:
        bpetrain.text_bpe_index_build(
            spark, sf_dir, bpetrain.BYTES, force=True
        )


def test_warm_encode_build_reads_tokenizer_without_spark_jobs(
    spark, sf_dir, group_jobs
):
    """Once both tokenizer artifacts exist, loading them runs no Spark
    job (pyarrow reads the kilobyte merge and vocab tables), and
    neither does reading the documents table under its pinned schema,
    so building `text_bpe_encode_ids` and `text_bpe_encode_ids_bytes`
    runs no job at all."""
    for alphabet in (bpetrain.CHARS, bpetrain.BYTES):
        bpetrain.text_bpe_index_build(spark, sf_dir, alphabet)
        assert group_jobs(
            f"load-{alphabet.family}",
            lambda: bpetrain.load_tokenizer(spark, sf_dir, alphabet),
        ) == []
    for build in (
        bpetrain.text_bpe_encode_ids,
        bpetrain.text_bpe_encode_ids_bytes,
    ):
        jobs = group_jobs(build.__name__, lambda: build(spark, sf_dir))
        assert jobs == [], build.__name__


def test_loader_rejects_merge_missing_from_vocab(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Drop one merged symbol's row from `vocab.parquet` under an
    unchanged `meta.json`: the next `text_bpe_encode_ids` must raise,
    naming the artifact, instead of encoding that symbol as a
    plausible wrong id."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as papq

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    path = bpetrain.text_bpe_index_build(spark, sf_dir)
    ranks, _ = bpetrain.load_tokenizer(spark, sf_dir)
    a, b = max(ranks, key=ranks.get)
    marker = os.path.join(path, "meta.json")
    before = (open(marker).read(), os.stat(marker).st_mtime_ns)

    vocab_dir = os.path.join(path, "vocab.parquet")
    table = papq.read_table(vocab_dir)
    shutil.rmtree(vocab_dir)
    os.makedirs(vocab_dir)
    papq.write_table(
        table.filter(pc.not_equal(table["symbol"], a + b)),
        os.path.join(vocab_dir, "part-00000.parquet"),
    )
    assert (open(marker).read(), os.stat(marker).st_mtime_ns) == before
    with pytest.raises(ValueError, match="no token id") as err:
        bpetrain.text_bpe_encode_ids(spark, sf_dir).collect()
    assert path in str(err.value) and repr(a + b) in str(err.value)


def test_pack_dataset_artifact_lifecycle_and_poison(spark, sf_dir):
    """The packed-dataset artifact (seventh family): build is
    fingerprint-cached with a meta-last marker; the manifest serve
    reads ONLY the persisted parquet — poisoning chunks.parquet
    provably changes the served counts (no silent recompute) — and
    the warm artifact equals the live computation."""
    path = bpetrain.corpus_pack_index_build(spark, sf_dir)
    meta = json.load(open(os.path.join(path, "meta.json")))
    assert meta["n_chunks"] > 0 and meta["total_tokens"] > 0
    mtime = os.path.getmtime(os.path.join(path, "meta.json"))
    assert bpetrain.corpus_pack_index_build(spark, sf_dir) == path
    assert os.path.getmtime(os.path.join(path, "meta.json")) == mtime

    served = bpetrain.corpus_pack_serve_manifest(spark, sf_dir)
    rows = served.collect()
    assert len(rows) == meta["n_chunks"] * bpetrain.N_EPOCHS
    # live equality: n_tokens per chunk matches corpus_pack_examples
    live = {
        r["chunk_id"]: r["n_tokens"]
        for r in bpetrain.corpus_pack_examples(spark, sf_dir).collect()
    }
    for r in rows:
        assert live[r["chunk_id"]] == r["n_tokens"]

    # poison: shrink every chunk's token count in the artifact
    pq = os.path.join(path, "chunks.parquet")
    poisoned = (
        spark.read.parquet(pq)
        .withColumn(
            "n_tokens", (F.col("n_tokens") * 0).cast("long")
        )
    )
    poisoned.write.mode("overwrite").parquet(pq + ".tmp")
    import shutil

    shutil.rmtree(pq)
    os.rename(pq + ".tmp", pq)
    try:
        after = bpetrain.corpus_pack_serve_manifest(
            spark, sf_dir
        ).collect()
        assert all(r["n_tokens"] == 0 for r in after)
        assert after, "poisoned serve returned nothing"
    finally:
        bpetrain.corpus_pack_index_build(spark, sf_dir, force=True)


def test_pack_dataset_rebuilds_on_tokenizer_change(spark, sf_dir):
    """VERDICT r13 #1 / ADVICE r13: the packed-dataset artifact's
    validity check must cover the TOKENIZER the chunks were encoded
    under, not just the corpus fingerprint — otherwise a budget
    change retrains the BPE artifact (its meta checks budget, the
    r12 fix) while the pack family keeps serving chunks tokenized
    under the OLD table. Simulate an artifact built under an older
    tokenizer by tampering the recorded tokenizer_meta and prove the
    next build call rebuilds (meta restored, not served stale)."""
    path = bpetrain.corpus_pack_index_build(spark, sf_dir)
    meta_path = os.path.join(path, "meta.json")
    meta = json.load(open(meta_path))
    assert meta["tokenizer_meta"]["budget"] == bpetrain.BPE_TRAIN_MERGES

    stale = dict(meta)
    stale["tokenizer_meta"] = dict(
        meta["tokenizer_meta"], budget=meta["tokenizer_meta"]["budget"] - 1
    )
    with open(meta_path, "w") as fh:
        json.dump(stale, fh)
    try:
        assert bpetrain.corpus_pack_index_build(spark, sf_dir) == path
        rebuilt = json.load(open(meta_path))
        # the stale tokenizer stamp is gone — the artifact was
        # rebuilt under (and re-stamped with) the current tokenizer
        assert (
            rebuilt["tokenizer_meta"]["budget"]
            == bpetrain.BPE_TRAIN_MERGES
        )
        assert rebuilt["n_chunks"] == meta["n_chunks"]
        assert rebuilt["total_tokens"] == meta["total_tokens"]
    finally:
        bpetrain.corpus_pack_index_build(spark, sf_dir, force=True)
