"""Z-order clustering + footer-stats data skipping (sources/store.py).

The multi-dimensional layout contract: a table published with
zorder_by=[a, b] keeps BOTH columns' per-file footer ranges tight, so
read_pruned skips most files for a range predicate on EITHER column —
the property a linear cluster_by sort only provides for its leading
column. At 100 TB this is the difference between a point lookup
touching a few hundred MB and scanning the table.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from id3c_spark.sources.store import ParquetTable, with_zorder_key


def _grid(spark, n=64):
    """n×n grid of (a, b) plus a payload column."""
    return (
        spark.range(n * n)
        .select(
            (F.col("id") % n).alias("a"),
            (F.col("id") / n).cast("long").alias("b"),
            (F.col("id") * 3).alias("payload"),
        )
    )


def test_zorder_key_is_morton_interleave(spark):
    # bits=2 over 0..3 makes the bucket the identity map, so the key is
    # the textbook Morton code: a's bits at even positions, b's at odd.
    df = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4)], "a long, b long"
    )
    out = {(r.a, r.b): r._zkey for r in with_zorder_key(df, ["a", "b"], bits=2).collect()}
    assert out[(0, 0)] == 0
    assert out[(1, 1)] == 0b11
    assert out[(3, 0)] == 0b0101
    assert out[(0, 3)] == 0b1010
    assert out[(3, 3)] == 0b1111
    # locality: quadrant (a,b < 2) keys all precede the far corner's
    assert max(out[(a, b)] for a in range(2) for b in range(2)) < out[(2, 2)]


def test_zorder_key_null_and_constant_columns(spark):
    df = spark.createDataFrame(
        [(None, 7), (3, 7), (1, 7)], "a int, b int"
    )
    rows = {r.a: r._zkey for r in with_zorder_key(df, ["a", "b"], bits=4).collect()}
    assert rows[None] >= 0          # NULL maps to bucket 0, key defined
    assert rows[None] <= rows[1] <= rows[3]
    # constant column b contributes bucket 0 everywhere — keys come from a


def test_zorder_prunes_on_both_dimensions(spark, tmp_path):
    tbl = ParquetTable(spark, str(tmp_path / "z"), keep_versions=3)
    tbl.publish(_grid(spark), zorder_by=["a", "b"], partitions=16)
    n_files = len(tbl.files())
    assert n_files >= 8  # multi-file layout

    a_files = tbl.pruned_files({"a": (0, 7)})
    b_files = tbl.pruned_files({"b": (0, 7)})
    both = tbl.pruned_files({"a": (0, 7), "b": (0, 7)})
    # each single-dimension 1/8 range skips over half the files,
    # and the conjunction is at least as selective as either side
    assert len(a_files) <= n_files // 2, (len(a_files), n_files)
    assert len(b_files) <= n_files // 2, (len(b_files), n_files)
    assert len(both) <= min(len(a_files), len(b_files))
    # the z-key itself never leaks into the published schema
    assert "_zkey" not in tbl.read().columns


def test_linear_cluster_only_prunes_leading_column(spark, tmp_path):
    tbl = ParquetTable(spark, str(tmp_path / "lin"), keep_versions=3)
    tbl.publish(_grid(spark), cluster_by=["a"], partitions=16)
    n_files = len(tbl.files())
    assert n_files >= 8
    assert len(tbl.pruned_files({"a": (0, 7)})) <= n_files // 2
    # b is uniform within every a-run: footer b-ranges are all full-width
    assert len(tbl.pruned_files({"b": (0, 7)})) == n_files


def test_read_pruned_equals_plain_filter(spark, tmp_path):
    tbl = ParquetTable(spark, str(tmp_path / "eq"), keep_versions=3)
    tbl.publish(_grid(spark), zorder_by=["a", "b"], partitions=16)
    got = tbl.read_pruned({"a": (3, 9), "b": (10, None)}).orderBy(
        "a", "b"
    ).collect()
    want = (
        tbl.read()
        .filter((F.col("a") >= 3) & (F.col("a") <= 9) & (F.col("b") >= 10))
        .orderBy("a", "b")
        .collect()
    )
    assert got == want and len(got) > 0


def test_compact_incremental_packs_small_keeps_large_by_inode(spark, tmp_path):
    import os

    tbl = ParquetTable(spark, str(tmp_path / "c"), keep_versions=10)
    tbl.publish(_grid(spark, n=128), cluster_by=["a"], partitions=2)  # 2 large files
    for i in range(5):  # five tiny single-row appends → small-file debt
        tbl.append(
            spark.createDataFrame([(1000 + i, 0, i)], "a long, b long, payload long")
        )
    before = tbl.read().orderBy("a", "b", "payload").collect()
    files = tbl.files()
    sizes = sorted(os.path.getsize(f) for f in files)
    threshold = (sizes[-3] + sizes[-2]) // 2  # between tiny and large
    large_inodes = {
        os.path.basename(f): os.stat(f).st_ino
        for f in files
        if os.path.getsize(f) >= threshold
    }
    assert len(large_inodes) == 2 and len(files) >= 7

    tbl.compact_incremental(min_file_bytes=threshold)
    after_files = tbl.files()
    # all tiny files packed into 1; the 2 large carried by hard link
    assert len(after_files) == 3
    carried = {
        os.path.basename(f): os.stat(f).st_ino
        for f in after_files
        if os.path.basename(f) in large_inodes
    }
    assert carried == large_inodes  # zero-copy: same inodes
    assert tbl.read().orderBy("a", "b", "payload").collect() == before
    # one undersized file left → scheduled rerun is a no-op
    v = tbl.current_version()
    assert tbl.compact_incremental(min_file_bytes=threshold) == v


def test_merge_publish_zorder_layout_round_trip(spark, tmp_path):
    from id3c_spark.operators.merge import merge

    tbl = ParquetTable(spark, str(tmp_path / "mz"), keep_versions=10)
    base = _grid(spark).withColumn("k", F.col("a") * 64 + F.col("b"))
    tbl.publish(base, zorder_by=["a", "b"], partitions=16)
    updates = spark.createDataFrame(
        [(0, 0, 12345, 0), (63, 63, 54321, 63 * 64 + 63)],
        "a long, b long, payload long, k long",
    )
    full = merge(tbl.read(), updates, ["k"], "k").df.orderBy("k").collect()
    tbl.merge_publish(
        updates, ["k"],
        lambda target: merge(target, updates, ["k"], "k"),
        zorder_by=["a", "b"],
    )
    assert tbl.read().orderBy("k").collect() == full
    # layout held: both dimensions still prune after the merge
    n_files = len(tbl.files())
    if n_files >= 8:
        assert len(tbl.pruned_files({"a": (0, 7)})) < n_files


def test_compact_incremental_preserves_cluster_layout(spark, tmp_path):
    """Re-clustering the packed small files keeps their footer ranges
    tight, so pruning still skips them after compaction."""
    import os

    tbl = ParquetTable(spark, str(tmp_path / "cc"), keep_versions=10)
    tbl.publish(_grid(spark, n=64), cluster_by=["a"], partitions=4)
    # interleaved appends spanning the full a-range (worst case for a
    # plain coalesce: packed file would cover all of a)
    for i in range(4):
        tbl.append(
            spark.createDataFrame(
                [(i * 16 + j, 0, 0) for j in range(3)],
                "a long, b long, payload long",
            )
        )
    files = tbl.files()
    sizes = sorted(os.path.getsize(f) for f in files)
    threshold = (sizes[-5] + sizes[-4]) // 2  # 4 big files stay
    tbl.compact_incremental(min_file_bytes=threshold, cluster_by=["a"])
    n_files = len(tbl.files())
    # a narrow a-range predicate skips most files INCLUDING the packed
    # ones (each packed file covers a narrow, sorted a-range)
    kept = tbl.pruned_files({"a": (0, 7)})
    assert len(kept) < n_files
    assert tbl.read().count() == 64 * 64 + 12
