"""r14 scale guards and ADVICE fixes for the dedup operators.

- _bucket_pairs chunked pair generation: identical candidate set for a
  bucket wider than _BUCKET_CHUNK (the degenerate case that used to
  materialize O(m^2) pairs in one row).
- _km_fold_udf: NULL hash arrays fold to the all-NULL signature
  (matching the Column reference) instead of TypeError(len(None)).
- _spread: a single non-splittable file is repartitioned even when its
  byte size alone suggests enough scan partitions.
- minhash_lsh_pairs: tab/newline-only docs (which slip past the
  space-only trim) neither error nor change the pair list.
- _ordered_pairs: the large-input range-sort branch returns the same
  collected order as the single-partition branch, and an input of
  unknown size takes it.
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from druid_spark.datapipe import dedup


def test_bucket_pairs_degenerate_bucket_matches_naive(spark):
    # one bucket with 600 ids (> _BUCKET_CHUNK=512) plus a normal one
    m = 600
    rows = ([(i, 0, 7) for i in range(m)]
            + [(1000, 1, 9), (1001, 1, 9), (1000, 2, 5)])
    banded = spark.createDataFrame(rows, "id long, band int, bh long")
    got = sorted(tuple(r) for r in
                 dedup._bucket_pairs(banded).collect())
    want = sorted(set(
        [(min(a, b), max(a, b))
         for a, b in itertools.combinations(range(m), 2)]
        + [(1000, 1001)]))
    assert got == want


def test_bucket_pairs_common_case_single_chunk(spark):
    banded = spark.createDataFrame(
        [(1, 0, 3), (2, 0, 3), (3, 0, 3)], "id long, band int, bh long")
    got = sorted(tuple(r) for r in
                 dedup._bucket_pairs(banded).collect())
    assert got == [(1, 2), (1, 3), (2, 3)]


def test_km_fold_null_array_matches_column_fold(spark):
    df = spark.createDataFrame(
        [(1, ["a b c d e"]), (2, None)], "id long, sh array<string>")
    h1 = F.transform("sh", lambda s: F.xxhash64(s))
    h2 = F.transform("sh", lambda s: F.xxhash64(s, F.lit(1)))
    fold = dedup._km_fold_udf(8)(h1, h2)
    ref = dedup.minhash_signature(F.col("sh"), 8)
    rows = (df.select("id", fold.alias("got"), ref.alias("want"))
            .orderBy("id").collect())
    for r in rows:
        assert r["got"] == r["want"]
    assert rows[1]["got"] == [None] * 8


def test_spread_single_nonsplittable_file(spark, tmp_path):
    # a single json file estimated at >= target partitions by bytes
    # alone must still be repartitioned (it scans as ONE partition)
    p = tmp_path / "one.json"
    with open(p, "w") as fh:
        for i in range(2000):
            fh.write('{"id": %d, "text": "%s"}\n' % (i, "x" * 200))
    df = spark.read.json(str(p))
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try:
        out = dedup._spread(df)
        assert (out.rdd.getNumPartitions()
                >= spark.sparkContext.defaultParallelism)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_parse_bytes():
    assert dedup._parse_bytes("134217728b", 0) == 134217728
    assert dedup._parse_bytes("128m", 0) == 128 << 20
    assert dedup._parse_bytes("1g", 0) == 1 << 30
    assert dedup._parse_bytes("junk", 42) == 42


def test_minhash_whitespace_only_docs_harmless(spark):
    base = [(1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog!"),
            (3, "completely different text about spark tuning")]
    ws = [(10, "\t\t"), (11, "\n \n"), (12, "\t\n")]
    a = dedup.minhash_lsh_pairs(
        spark.createDataFrame(base, "doc_id long, text string"),
        threshold=0.5).collect()
    b = dedup.minhash_lsh_pairs(
        spark.createDataFrame(base + ws, "doc_id long, text string"),
        threshold=0.5).collect()
    assert a == b  # whitespace-only docs add nothing and break nothing


def test_ordered_pairs_large_branch_same_order(spark, monkeypatch):
    df = spark.createDataFrame(
        [(3, 5, 0.9), (1, 2, 0.8), (1, 9, 0.7), (2, 4, 0.95)],
        "id_a long, id_b long, jaccard double")
    small = dedup._ordered_pairs(df, "id_a", "id_b").collect()
    monkeypatch.setattr(dedup, "_input_bytes", lambda _df: 1 << 40)
    big = dedup._ordered_pairs(df, "id_a", "id_b").collect()
    assert small == big


def test_ordered_pairs_unknown_input_size_is_distributed(spark, monkeypatch):
    """An input whose size cannot be read (here s3a://) must not be
    taken for a small one and funneled into one partition."""
    df = spark.createDataFrame([(3, 5), (1, 2)], "id_a long, id_b long")
    monkeypatch.setattr(df, "inputFiles",
                        lambda: ["s3a://bucket/docs/part-0.parquet"])
    assert dedup._input_bytes(df) is None
    out = dedup._ordered_pairs(df, "id_a", "id_b")
    plan = out._jdf.queryExecution().executedPlan().toString().lower()
    assert "rangepartitioning" in plan
    assert [tuple(r) for r in out.collect()] == [(1, 2), (3, 5)]


def test_persist_scoped_drops_previous_different_plan(spark):
    a = spark.range(10).select(F.col("id").alias("x"))
    b = spark.range(20).select(F.col("id").alias("x"))
    pa = dedup._persist_scoped(a, "t_r14")
    pa.count()
    assert pa.storageLevel.useMemory
    pb = dedup._persist_scoped(b, "t_r14")
    pb.count()
    # the previous, different-plan cache was released
    assert not pa.storageLevel.useMemory
    assert pb.storageLevel.useMemory
    pb.unpersist()


def test_persist_scoped_threads_pin_at_most_one_frame(spark):
    """Racing callers (server threads, the datapipe prewarm) each
    replace the key's frame: whatever the interleaving, at most one of
    their frames stays pinned."""
    import threading
    n = 8
    for rnd in range(3):
        frames = [spark.range(rnd * 100 + i + 1).select(
            F.col("id").alias("y")) for i in range(n)]
        outs = [None] * n
        barrier = threading.Barrier(n, timeout=120)

        def call(i):
            barrier.wait()
            outs[i] = dedup._persist_scoped(frames[i], "t_r14_race")

        threads = [threading.Thread(target=call, args=(i,))
                   for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        pinned = [o for o in outs
                  if o.storageLevel.useMemory or o.storageLevel.useDisk]
        assert len(pinned) <= 1, (rnd, len(pinned))
    for o in outs:
        o.unpersist()
