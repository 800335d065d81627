"""File-format round-trips (SURVEY §2.2 "Scans/sources") and the
multimodal resize kernel's exact behavior."""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
import pytest

from kafkatoclickhouse_spark.operators import multimodal
from kafkatoclickhouse_spark.sources import read_table, write_table
from kafkatoclickhouse_spark.tables import load_table


@pytest.mark.parametrize("fmt", ["parquet", "orc", "csv", "json"])
def test_documents_roundtrip(spark, sf_dir, tmp_path, fmt):
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / f"docs_{fmt}")
    write_table(docs, path, fmt)
    back = read_table(
        spark, path, fmt,
        schema=None if fmt in ("parquet", "orc") else docs.schema,
    )
    assert back.schema == docs.schema
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, docs.collect())
    )


@pytest.mark.parametrize("fmt", ["parquet", "orc", "csv", "json"])
def test_orders_roundtrip_with_timestamps(spark, sf_dir, tmp_path, fmt):
    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / f"orders_{fmt}")
    write_table(orders, path, fmt)
    back = read_table(
        spark, path, fmt,
        schema=None if fmt in ("parquet", "orc") else orders.schema,
    )
    assert back.schema == orders.schema
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, orders.collect())
    )


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    """Hive-style partitioning: a partition-key filter must prune at
    planning time (the scan lists only matching directories)."""
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_part")
    write_table(docs, path, "parquet", partition_by=("lang",))
    back = read_table(spark, path).filter("lang = 'en'")
    expected = docs.filter("lang = 'en'").count()
    assert back.count() == expected
    # PartitionFilters (not PushedFilters) carry the lang predicate
    from kafkatoclickhouse_spark import plans

    assert "lang" in plans.plan_string(back), "partition filter missing"


def test_csv_requires_schema(spark, tmp_path):
    with pytest.raises(ValueError, match="schema"):
        read_table(spark, str(tmp_path), "csv")


def test_resize_kernel_exact():
    """The strided-resample stub is deterministic: known payload →
    known output (integer-stride index selection i*(n-1)//(k-1),
    chosen over float linspace so the DuckDB oracle can reproduce the
    exact positions with integer division)."""
    payload = bytes(range(200))
    pdf = pd.DataFrame({"doc_id": [1], "payload": [payload]})
    out = pd.concat(multimodal._resize_batches(iter([pdf])))
    got = out["resized"].iloc[0]
    k = multimodal.RESIZE_TO
    idx = [i * 199 // (k - 1) for i in range(k)]
    assert got == [payload[j] for j in idx]
    assert got[0] == 0 and got[-1] == 199
    assert len(got) == k


def test_resize_empty_payload():
    pdf = pd.DataFrame({"doc_id": [1], "payload": [b""]})
    out = pd.concat(multimodal._resize_batches(iter([pdf])))
    assert out["resized"].iloc[0] == [0] * multimodal.RESIZE_TO


def test_parquet_schema_evolution_merge(spark, sf_dir, tmp_path):
    """Schema evolution on the at-rest format: files written before a
    column existed must union cleanly with newer files (mergeSchema),
    old rows reading NULL for the added column — the contract that
    lets a 100 TB table gain columns without rewriting history."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    path = str(tmp_path / "evolving")
    v1 = docs.filter(F.col("doc_id") % 2 == 0)
    v2 = docs.filter(F.col("doc_id") % 2 == 1).withColumn(
        "quality", F.lit(0.5)
    )
    v1.write.parquet(path + "/v=1")
    v2.write.parquet(path + "/v=2")
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) >= {"doc_id", "lang", "quality"}
    assert merged.count() == docs.count()
    nulls = merged.filter(F.col("quality").isNull()).count()
    assert nulls == v1.count()


def test_range_clustered_write_has_disjoint_file_ranges(
    spark, sf_dir, tmp_path
):
    """Range-clustered files must cover non-overlapping key ranges
    (that disjointness is exactly what lets footer min/max stats skip
    files for selective predicates), and the clustered copy must hold
    the same rows."""
    import glob

    from kafkatoclickhouse_spark.sources.files import write_range_clustered

    od = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_clustered")
    write_range_clustered(od, path, "o_orderkey", n_files=8)

    files = sorted(glob.glob(path + "/part-*.parquet"))
    assert len(files) > 1
    ranges = []
    for f in files:
        row = (
            spark.read.parquet(f)
            .selectExpr("min(o_orderkey) AS lo", "max(o_orderkey) AS hi")
            .first()
        )
        if row["lo"] is not None:
            ranges.append((row["lo"], row["hi"]))
    ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev < lo_next, ranges
    assert spark.read.parquet(path).count() == od.count()


def test_compact_parquet_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    """Compaction must merge a many-small-files dataset into the
    computed file count WITHOUT a shuffle (coalesce plan), preserve
    every row, and (with sort_within_by) restore disjoint-ish file
    ranges for footer skipping."""
    from pathlib import Path

    from kafkatoclickhouse_spark.sources.files import compact_parquet
    from kafkatoclickhouse_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    frag = str(tmp_path / "fragmented")
    li.repartition(64).write.parquet(frag)
    n_in = len([f for f in Path(frag).rglob("*.parquet") if f.is_file()])
    assert n_in >= 64
    dst = str(tmp_path / "compacted")
    n_out = compact_parquet(
        spark, frag, dst, target_file_bytes=512 * 1024,
        sort_within_by=("l_orderkey",),
    )
    assert n_out < n_in
    out = spark.read.parquet(dst)
    assert out.count() == li.count()
    # round-trip values, order-insensitive
    assert out.exceptAll(spark.read.parquet(frag)).count() == 0


def test_python_datasource_partition_parallel_deterministic(spark):
    """Spark-4 Python DataSource API: the custom synthetic-docs
    source must (a) register and read through the normal scan path,
    (b) split into the requested number of input partitions, and
    (c) produce identical rows regardless of partitioning — the
    determinism a fixture/load-test source owes its users."""
    from kafkatoclickhouse_spark.sources.pyds import (
        SyntheticDocsDataSource,
    )

    spark.dataSource.register(SyntheticDocsDataSource)
    df8 = (
        spark.read.format("synthetic_docs")
        .option("rows", "200")
        .option("partitions", "8")
        .load()
    )
    assert df8.rdd.getNumPartitions() == 8
    assert df8.count() == 200
    df2 = (
        spark.read.format("synthetic_docs")
        .option("rows", "200")
        .option("partitions", "2")
        .load()
    )
    assert sorted(map(tuple, df8.collect())) == sorted(
        map(tuple, df2.collect())
    )
    assert df8.schema.simpleString() == (
        "struct<doc_id:bigint,text:string,source:string>"
    )


def test_apply_upserts_latest_version_wins_idempotent(spark, sf_dir, tmp_path):
    """CDC apply onto parquet: updated keys take the newest version,
    unmatched keys insert, untouched keys survive byte-identical —
    and replaying the same batch is a no-op (idempotence)."""
    from pyspark.sql import functions as F

    from kafkatoclickhouse_spark.sources.files import apply_upserts
    from kafkatoclickhouse_spark.tables import load_table

    base_path = str(tmp_path / "base")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    ).withColumn("version", F.lit(1))
    cust.write.parquet(base_path)

    updates = spark.createDataFrame(
        [(1, "UPDATED-1", 999.0, 2), (999999, "NEW-KEY", 1.0, 2),
         (2, "STALE", -1.0, 0)],
        "c_custkey long, c_name string, c_acctbal double, version int",
    )
    v1 = str(tmp_path / "v1")
    apply_upserts(spark, base_path, updates, ("c_custkey",), "version", v1)
    out = spark.read.parquet(v1)
    rows = {r["c_custkey"]: r for r in out.collect()}
    assert rows[1]["c_name"] == "UPDATED-1"          # newer wins
    assert rows[999999]["c_name"] == "NEW-KEY"       # insert
    assert rows[2]["c_name"] != "STALE"              # stale version loses
    assert out.count() == cust.count() + 1
    v2 = str(tmp_path / "v2")
    apply_upserts(spark, v1, updates, ("c_custkey",), "version", v2)
    assert spark.read.parquet(v2).exceptAll(out).count() == 0  # idempotent


def test_dynamic_partition_overwrite_replaces_only_touched(spark, sf_dir, tmp_path):
    """partitionOverwriteMode=dynamic must rewrite ONLY partitions
    present in the incoming frame — the other partitions' files stay
    untouched (static mode would wipe the whole table; at 100 TB the
    difference between rewriting one day and rewriting the lake)."""
    from pyspark.sql import functions as F

    from kafkatoclickhouse_spark.tables import load_table

    path = str(tmp_path / "orders_by_pri")
    od = load_table(spark, sf_dir, "orders")
    od.write.partitionBy("o_orderpriority").parquet(path)
    before = spark.read.parquet(path)
    n_urgent_before = before.filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).count()
    n_total_before = before.count()

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        od.filter(F.col("o_orderpriority") == "1-URGENT").limit(10).write.mode(
            "overwrite"
        ).partitionBy("o_orderpriority").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    after = spark.read.parquet(path)
    assert after.filter(F.col("o_orderpriority") == "1-URGENT").count() == 10
    assert after.count() == n_total_before - n_urgent_before + 10


# -- image decoders (pure-numpy PPM/BMP — tested bit-for-bit) ---------------


def test_decode_ppm_p6_known_pixels():
    """Hand-built 2x2 P6 with distinct channel values per pixel, plus
    a header comment (spec allows them; real tools emit them)."""
    raster = bytes(
        [1, 2, 3, 4, 5, 6,  # row 0: (1,2,3) (4,5,6)
         7, 8, 9, 10, 11, 12]  # row 1
    )
    payload = b"P6\n# made by hand\n2 2\n255\n" + raster
    arr = multimodal.decode_image(payload)
    assert arr.shape == (2, 2, 3)
    assert arr[0, 0].tolist() == [1, 2, 3]
    assert arr[0, 1].tolist() == [4, 5, 6]
    assert arr[1, 1].tolist() == [10, 11, 12]


def test_decode_bmp24_known_pixels():
    """Hand-built 2x2 24-bit BMP: BGR byte order, bottom-up rows,
    rows padded to 4 bytes (2*3=6 → stride 8). The decoder must undo
    all three conventions."""
    import struct

    w = h = 2
    stride = (w * 3 + 3) & ~3
    # file rows bottom-up: this is image row 1 first
    row1 = bytes([9, 8, 7, 12, 11, 10]) + b"\x00" * (stride - 6)
    row0 = bytes([3, 2, 1, 6, 5, 4]) + b"\x00" * (stride - 6)
    pixel_data = row1 + row0
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(pixel_data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                      len(pixel_data), 0, 0, 0, 0)
    )
    arr = multimodal.decode_image(header + pixel_data)
    assert arr.shape == (2, 2, 3)
    # row0 pixel0 stored as B=3 G=2 R=1 → RGB (1,2,3)
    assert arr[0, 0].tolist() == [1, 2, 3]
    assert arr[0, 1].tolist() == [4, 5, 6]
    assert arr[1, 0].tolist() == [7, 8, 9]
    assert arr[1, 1].tolist() == [10, 11, 12]


def test_decode_rejects_unknown_and_compressed():
    with pytest.raises(ValueError):
        multimodal.decode_image(b"\x89PNG\r\n\x1a\n....")
    with pytest.raises(ValueError):
        multimodal.decode_image(b"P3\n1 1\n255\n1 2 3\n")  # ASCII PPM


def test_ppm_synthesize_decode_roundtrip():
    """The synthesizer's bytes through the decoder reproduce the
    closed-form pixel rule exactly."""
    pdf = pd.DataFrame({"doc_id": [7]})
    out = pd.concat(
        multimodal._payload_batches(iter([pdf]), multimodal._ppm_payload)
    )
    arr = multimodal.decode_image(bytes(out["payload"].iloc[0]))
    d = 7
    rule = multimodal.RGB_RULES["ppm"]
    w = rule.w[0] + d % rule.w[1]
    h = rule.h[0] + d % rule.h[1]
    assert arr.shape == (h, w, 3)
    x, y = 3, 2
    r, g, b = multimodal._rgb_channels(rule, d, x, y)
    assert arr[y, x].tolist() == [r, g, b]


@pytest.mark.parametrize("table", ["RGB_RULES", "JPEG_BLOCKS"])
def test_decode_fixture_rules_are_distinct(table):
    """No two fixtures of a rule family share their rule: the
    coefficients differ for every pair (so do (dims, coefficients)),
    and within the RGB family no channel's coefficients recur. A
    fixture cross-wired to another's rule, or a decoder that takes
    another fixture's path, then cannot match that query's oracle."""
    specs = list(getattr(multimodal, table).values())
    assert len(specs) >= 4
    assert len({(s.w, s.h, s.coef) for s in specs}) == len(specs)
    assert len({s.coef for s in specs}) == len(specs)
    if table == "RGB_RULES":
        channels = [k for s in specs for k in s.coef]
        assert len(set(channels)) == len(channels)


def test_decode_roundtrip_property():
    """Property check over many shapes: encode→decode is the identity
    for both supported containers, including BMP rows that need
    padding (w*3 % 4 != 0) and 1-pixel edges."""
    import struct

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 9),
        h=st.integers(1, 9),
        data=st.data(),
    )
    def check(w, h, data):
        flat = data.draw(
            st.lists(
                st.integers(0, 255),
                min_size=w * h * 3,
                max_size=w * h * 3,
            )
        )
        pixels = np.array(flat, dtype=np.uint8).reshape(h, w, 3)
        # PPM P6
        ppm = b"P6\n%d %d\n255\n" % (w, h) + pixels.tobytes()
        assert (multimodal.decode_image(ppm) == pixels).all()
        # 24-bit BMP, bottom-up, padded
        stride = (w * 3 + 3) & ~3
        rows = b"".join(
            pixels[y, :, ::-1].tobytes() + b"\x00" * (stride - w * 3)
            for y in range(h - 1, -1, -1)
        )
        bmp = (
            b"BM"
            + struct.pack("<IHHI", 54 + len(rows), 0, 0, 54)
            + struct.pack(
                "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 0, 0, 0, 0
            )
            + rows
        )
        assert (multimodal.decode_image(bmp) == pixels).all()

    check()


def test_apply_cdc_batch_tombstones(spark, sf_dir, tmp_path):
    """CDC merge with deletes: a newest-version tombstone hides the
    key from the LIVE view (read_cdc_table) while staying persisted
    in the table, a STALE tombstone is a no-op against a newer
    upsert, plain upserts/inserts behave as apply_upserts, and
    replaying the same change batch converges. A stale upsert in a
    LATER batch must NOT resurrect a deleted key — the persisted
    tombstone outranks it (review finding: physically dropping
    tombstones made deletes order-dependent across batches)."""
    from pyspark.sql import functions as F

    from kafkatoclickhouse_spark.sources.files import (
        apply_cdc_batch,
        read_cdc_table,
    )
    from kafkatoclickhouse_spark.tables import load_table

    base_path = str(tmp_path / "base")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    ).withColumn("version", F.lit(1))
    cust.write.parquet(base_path)
    n = cust.count()

    schema = (
        "c_custkey long, c_name string, c_acctbal double,"
        " version int, is_deleted boolean"
    )
    changes = spark.createDataFrame(
        [
            (1, "UPDATED-1", 999.0, 2, False),   # upsert
            (2, None, None, 2, True),            # live tombstone
            (3, "GHOST", -1.0, 0, True),         # stale tombstone
            (999999, "NEW-KEY", 1.0, 2, False),  # insert
        ],
        schema,
    )
    v1 = str(tmp_path / "v1")
    apply_cdc_batch(
        spark, base_path, changes, ("c_custkey",), "version",
        "is_deleted", v1,
    )
    live = read_cdc_table(spark, v1, "is_deleted")
    rows = {r["c_custkey"]: r for r in live.collect()}
    assert rows[1]["c_name"] == "UPDATED-1"
    assert 2 not in rows                          # deleted (live view)
    assert rows[3]["c_name"] != "GHOST"           # stale delete no-op
    assert rows[999999]["c_name"] == "NEW-KEY"
    assert live.count() == n                      # -1 delete +1 insert
    stored = spark.read.parquet(v1)
    assert stored.filter("c_custkey = 2 AND is_deleted").count() == 1

    # replay idempotence
    v2 = str(tmp_path / "v2")
    apply_cdc_batch(
        spark, v1, changes, ("c_custkey",), "version", "is_deleted", v2
    )
    got2 = spark.read.parquet(v2)
    assert got2.exceptAll(stored).count() == 0
    assert stored.exceptAll(got2).count() == 0

    # resurrection guard: stale upsert for the deleted key 2 in a
    # LATER batch loses to the stored tombstone.
    late = spark.createDataFrame(
        [(2, "ZOMBIE", 5.0, 1, False)], schema
    )
    v3 = str(tmp_path / "v3")
    apply_cdc_batch(
        spark, v2, late, ("c_custkey",), "version", "is_deleted", v3
    )
    assert (
        read_cdc_table(spark, v3, "is_deleted")
        .filter("c_custkey = 2")
        .count()
        == 0
    )


def test_apply_cdc_batch_bootstrap_and_equal_version_tie(
    spark, tmp_path
):
    """First batch against a MISSING base bootstraps the table; an
    equal-version upsert-vs-tombstone pair for one key resolves
    deterministically (tombstone wins) on every apply."""
    from kafkatoclickhouse_spark.sources.files import (
        apply_cdc_batch,
        read_cdc_table,
    )

    schema = "k long, v string, version int, is_deleted boolean"
    batch = spark.createDataFrame(
        [(1, "A", 1, False), (2, "B", 1, False),
         (2, None, 1, True)],
        schema,
    )
    outs = []
    for i in range(3):
        dst = str(tmp_path / f"boot{i}")
        apply_cdc_batch(
            spark, str(tmp_path / "missing"), batch, ("k",),
            "version", "is_deleted", dst,
        )
        outs.append(
            sorted(
                tuple(r)
                for r in spark.read.parquet(dst).collect()
            )
        )
    assert outs[0] == outs[1] == outs[2]          # deterministic
    live = read_cdc_table(spark, str(tmp_path / "boot0"), "is_deleted")
    assert {r["k"] for r in live.collect()} == {1}  # tombstone won


def test_zorder_write_narrows_both_dimensions(spark, sf_dir, tmp_path):
    """Z-order clustering must leave per-file footer ranges narrow on
    BOTH interleaved columns — the property single-column range
    clustering cannot give: each file's (max - min) span on each
    dimension must average well under the span a random row layout
    produces (where every file covers ~the full domain). Also a
    row-preservation check, and the empty-input case must write an
    empty table instead of crashing in the bucket math."""
    import glob

    from kafkatoclickhouse_spark.sources.files import (
        write_zorder_clustered,
    )

    cu = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    path = str(tmp_path / "cust_z")
    write_zorder_clustered(cu, path, "c_custkey", "c_acctbal", n_files=16)

    files = sorted(glob.glob(path + "/part-*.parquet"))
    assert len(files) > 4
    full = cu.selectExpr(
        "max(c_custkey) - min(c_custkey) AS sa",
        "max(c_acctbal) - min(c_acctbal) AS sb",
    ).first()
    spans_a, spans_b = [], []
    for f in files:
        r = (
            spark.read.parquet(f)
            .selectExpr(
                "max(c_custkey) - min(c_custkey) AS sa",
                "max(c_acctbal) - min(c_acctbal) AS sb",
                "count(*) AS n",
            )
            .first()
        )
        if r["n"]:
            spans_a.append(r["sa"] / full["sa"])
            spans_b.append(r["sb"] / full["sb"])
    # a random layout gives ~1.0 per file on both; Z-order must
    # compress the average span markedly on BOTH dimensions.
    avg_a = sum(spans_a) / len(spans_a)
    avg_b = sum(spans_b) / len(spans_b)
    assert avg_a < 0.5, (avg_a, spans_a)
    assert avg_b < 0.5, (avg_b, spans_b)
    assert spark.read.parquet(path).count() == cu.count()

    empty_path = str(tmp_path / "empty_z")
    write_zorder_clustered(
        cu.filter("c_custkey < 0"), empty_path,
        "c_custkey", "c_acctbal", n_files=4,
    )
    assert spark.read.parquet(empty_path).count() == 0


def test_apply_cdc_batch_order_independent_interleavings(
    spark, tmp_path
):
    """The same change set, split into random batch interleavings,
    must converge to ONE final table — including equal-version
    conflicts with distinct payloads, which resolve by the
    (tombstone, row-hash) rule independent of which batch each row
    arrived in (ADVICE r6: batch provenance must not participate in
    the ordering)."""
    import random

    from kafkatoclickhouse_spark.sources.files import apply_cdc_batch

    schema = "k long, v string, version int, is_deleted boolean"
    changes = [
        (1, "x", 2, False), (1, "y", 2, False),       # equal-version conflict
        (2, "del", 3, True), (2, "up", 3, False),     # tie: tombstone wins
        (3, "a", 1, False), (3, "b", 2, False),
        (4, "n", 5, False),
    ]
    base_dir = str(tmp_path / "base")
    spark.createDataFrame(
        [(1, "base", 1, False), (3, "base", 1, False)], schema
    ).write.parquet(base_dir)

    def run(batches, tag):
        cur = base_dir
        for i, rows in enumerate(batches):
            if not rows:
                continue
            dst = str(tmp_path / f"{tag}_{i}")
            apply_cdc_batch(
                spark, cur, spark.createDataFrame(rows, schema),
                ("k",), "version", "is_deleted", dst,
            )
            cur = dst
        return sorted(
            tuple(r) for r in spark.read.parquet(cur).collect()
        )

    want = run([changes], "oneshot")
    rng = random.Random(7)
    for trial in range(4):
        perm = changes[:]
        rng.shuffle(perm)
        n_cuts = rng.randint(1, 3)
        cuts = sorted(rng.sample(range(1, len(perm)), n_cuts))
        batches = [
            perm[a:b]
            for a, b in zip([0] + cuts, cuts + [len(perm)])
        ]
        got = run(batches, f"t{trial}")
        assert got == want, f"trial {trial}: {got} != {want}"
    # the equal-version conflicts themselves resolved as documented
    final = dict()
    for r in want:
        final[r[0]] = r
    assert final[2][3] is True  # tombstone beat the equal-version upsert


def test_zorder_quantile_buckets_handle_skew(spark, sf_dir, tmp_path):
    """Quantile-boundary Z-ordering must keep file skipping effective
    on a SKEWED dimension where equi-width bucketing collapses: on an
    exponential-like column, an off-center point predicate must be
    excluded by the footer ranges of a substantial share of files
    (the write-path scale curve measured 0% for equi-width at small
    file counts). Also row preservation."""
    import glob

    from kafkatoclickhouse_spark.sources.files import (
        write_zorder_clustered,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    path = str(tmp_path / "ev_zq")
    write_zorder_clustered(
        ev, path, "user_id", "value", n_files=8, quantile_buckets=64
    )
    got = spark.read.parquet(path)
    assert got.count() == ev.count()

    point = ev.selectExpr("percentile_approx(value, 0.37)").first()[0]
    files = sorted(glob.glob(path + "/part-*.parquet"))
    assert len(files) >= 4
    pruned = 0
    for f in files:
        mn, mx = (
            spark.read.parquet(f)
            .selectExpr("min(value)", "max(value)")
            .first()
        )
        if mn is None or not (mn <= point <= mx):
            pruned += 1
    assert pruned / len(files) >= 0.3, (
        f"skewed-dim pruning too weak: {pruned}/{len(files)}"
    )


def test_zorder_quantile_buckets_validated(spark, sf_dir, tmp_path):
    """quantile_buckets=1 would build an empty percentile list and a
    non-power-of-two silently wastes interleave bits — both must be
    an explicit ValueError, not a latent crash/misalignment (r7
    ADVICE)."""
    import pytest

    from kafkatoclickhouse_spark.sources.files import (
        write_zorder_clustered,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    for bad in (1, 3, 48):
        with pytest.raises(ValueError, match="power of two"):
            write_zorder_clustered(
                ev,
                str(tmp_path / "ev_bad"),
                "user_id",
                "value",
                n_files=4,
                quantile_buckets=bad,
            )


def test_bmp_fixture_larger_dims_decode_roundtrip(spark, sf_dir):
    """Larger-image BMP fixture (VERDICT r6 #7): 97×64 exercises the
    stride-padding path (97·3 = 291 → padded 292), bottom-up row
    order and BGR swap at realistic dims; the Spark-side decode
    pipeline's per-channel sums must equal the closed-form pixel
    rule computed directly in numpy."""
    import numpy as np

    from kafkatoclickhouse_spark.operators import multimodal as mm

    w, h = 97, 64
    docs = load_table(spark, sf_dir, "documents").limit(20)
    bmp = functools.partial(mm._bmp_payload, w=w, h=h)
    got = {
        r["doc_id"]: r
        for r in mm.decode_stats_fused(docs, bmp).collect()
    }
    assert len(got) == 20
    yy, xx = np.mgrid[0:h, 0:w]
    for doc_id, r in got.items():
        assert (r["width"], r["height"], r["channels"]) == (w, h, 3)
        er, eg, eb = mm._rgb_channels(
            mm.RGB_RULES["ppm"], int(doc_id), xx, yy
        )
        assert r["sum_r"] == int(er.sum())
        assert r["sum_g"] == int(eg.sum())
        assert r["sum_b"] == int(eb.sum())
