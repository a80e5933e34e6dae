"""minhash_lsh_pairs: the driver path (shard-sized local inputs) and the
distributed path return the same rows, in the same order, with the same
schema, rounded Jaccard included.

Each corpus runs twice: once with `_input_bytes` patched to a small
non-zero size (driver path) and once with the size constant patched to
0 (distributed path)."""
import random

import pytest

from druid_spark.datapipe import dedup


def _paths(spark, monkeypatch, rows, schema, **kw):
    """(driver, distributed) results of one corpus: (schema, rows)."""
    df = spark.createDataFrame(rows, schema)
    out = []
    with monkeypatch.context() as m:
        m.setattr(dedup, "_input_bytes", lambda _df: 1)
        got = dedup.minhash_lsh_pairs(df, **kw)
        assert got.rdd.getNumPartitions() == 1
        out.append((got.schema, got.collect()))
    with monkeypatch.context() as m:
        m.setattr(dedup, "_MINHASH_DRIVER_MAX_BYTES", 0)
        got = dedup.minhash_lsh_pairs(df, **kw)
        out.append((got.schema, got.collect()))
    return out


def _corpus(seed, make_id, n=120):
    """n random 6-40-word documents over a 200-word vocabulary; every
    fourth gets a copy with one or two words changed."""
    rng = random.Random(seed)
    vocab = [f"v{i}" for i in range(200)]
    rows = []
    for i in range(n):
        words = [rng.choice(vocab) for _ in range(rng.randint(6, 40))]
        rows.append((make_id(i), " ".join(words)))
        if i % 4 == 0:
            for _ in range(rng.randint(1, 2)):
                words[rng.randrange(len(words))] = rng.choice(vocab)
            rows.append((make_id(n + i), " ".join(words)))
    rng.shuffle(rows)
    return rows


@pytest.mark.parametrize("id_type,make_id", [
    ("long", lambda i: i * 7919 - 400_000),
    ("int", lambda i: i * 31 - 1000),
    ("string", lambda i: f"doc-{i * 37 % 1009:04d}"),
])
@pytest.mark.parametrize("seed", [1, 2])
def test_paths_match_on_seeded_corpora(spark, monkeypatch, seed, id_type,
                                       make_id):
    rows = _corpus(seed, make_id)
    drv, dist = _paths(spark, monkeypatch, rows,
                       f"doc_id {id_type}, text string", threshold=0.5)
    assert drv == dist
    assert len(drv[1]) >= 10


def test_paths_match_on_edge_documents(spark, monkeypatch):
    """Tab/newline-only texts, NULL texts and ids, texts of fewer than
    k tokens (one shingle: the whole text), and the same short text
    twice (Jaccard 1.0)."""
    rows = [(1, "\t\t"), (2, "\n \n"), (3, "\t\n"), (4, None), (None, "a b c d"),
            (5, "a b"), (6, "a b"), (7, "A  b"), (8, "a"), (9, " a "),
            (10, "a b c d e f"), (11, "a b c d e g"), (12, "")]
    drv, dist = _paths(spark, monkeypatch, rows, "doc_id long, text string",
                       threshold=0.3)
    assert drv == dist
    assert {(r.id_a, r.id_b) for r in drv[1]} >= {(5, 6), (5, 7), (8, 9)}


def test_paths_match_on_empty_input(spark, monkeypatch):
    drv, dist = _paths(spark, monkeypatch, [], "doc_id long, text string")
    assert drv == dist
    assert drv[1] == []


def test_jaccard_rounds_half_up(spark, monkeypatch):
    """25 shared shingles in a union of 32: 0.78125 is 0.7813 in Spark's
    round(x, 4) (half up), not Python's 0.7812 (half to even)."""
    common = [f"c{i}" for i in range(27)]                   # 25 shingles
    a = " ".join(common + ["a1", "a2", "a3", "a4"])         # +4 -> 29
    b = " ".join(common + ["b1", "b2", "b3"])               # +3 -> 28
    drv, dist = _paths(spark, monkeypatch, [(1, a), (2, b)],
                       "doc_id long, text string", threshold=0.78)
    assert drv == dist
    assert [tuple(r) for r in drv[1]] == [(1, 2, 0.7813)]


def test_paths_match_on_bucket_wider_than_chunk(spark, monkeypatch):
    """A duplicate-heavy corpus: one text copied more than _BUCKET_CHUNK
    times fills one bucket per band past the distributed path's chunk
    width, next to a few ordinary near-duplicates."""
    m = dedup._BUCKET_CHUNK + 8
    rows = [(i, "the same boilerplate notice text") for i in range(m)]
    rows += [(10_000 + i, t)
             for i, (_, t) in enumerate(_corpus(3, lambda i: i, n=20))]
    drv, dist = _paths(spark, monkeypatch, rows, "doc_id long, text string")
    assert drv == dist
    assert len(drv[1]) >= m * (m - 1) // 2


@pytest.mark.parametrize("round_codes", [1, 50, 1 << 22])
def test_intersections_match_python_sets(monkeypatch, round_codes):
    """The vectorized shared-shingle count equals a set intersection per
    pair, with rounds cut by the 64-row mark width, by the code budget,
    or (budget 1) after every pair."""
    import numpy as np
    monkeypatch.setattr(dedup, "_INTERSECT_ROUND_CODES", round_codes)
    rng = np.random.default_rng(round_codes)
    n = 300
    lens = rng.integers(1, 40, n)
    codes = np.concatenate([rng.choice(120, k, replace=False)
                            for k in lens]).astype(np.int32)
    off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    x, y = rng.integers(0, n, (2, 5000))
    a, b = np.divmod(np.unique(np.minimum(x, y) * n + np.maximum(x, y)), n)
    want = [len(set(codes[off[i]:off[i + 1]])
                & set(codes[off[j]:off[j + 1]]))
            for i, j in zip(a, b)]
    assert dedup._intersections(codes, off, a, b).tolist() == want
    assert len(np.unique(a)) > 64


def test_paths_match_with_small_intersection_rounds(spark, monkeypatch):
    """Many candidates at a low threshold, shared-shingle counts taken in
    rounds of at most 50 codes."""
    monkeypatch.setattr(dedup, "_INTERSECT_ROUND_CODES", 50)
    drv, dist = _paths(spark, monkeypatch, _corpus(5, lambda i: i, n=200),
                       "doc_id long, text string", threshold=0.2)
    assert drv == dist
    assert len(drv[1]) >= 30


def test_guard_hands_large_buckets_to_distributed_path(spark, monkeypatch):
    """Above _MINHASH_DRIVER_MAX_CANDIDATES bucket pairs the driver
    expands none and the distributed plan answers."""
    rows = _corpus(4, lambda i: i)
    want = _paths(spark, monkeypatch, rows, "doc_id long, text string")[1]
    expanded = []
    real = dedup._pairs_in_buckets
    monkeypatch.setattr(dedup, "_pairs_in_buckets",
                        lambda *a: expanded.append(1) or real(*a))
    monkeypatch.setattr(dedup, "_MINHASH_DRIVER_MAX_CANDIDATES", 3)
    monkeypatch.setattr(dedup, "_input_bytes", lambda _df: 1)
    got = dedup.minhash_lsh_pairs(
        spark.createDataFrame(rows, "doc_id long, text string"))
    assert (got.schema, got.collect()) == want
    assert expanded == []


def test_repeated_ids_take_distributed_path(spark, monkeypatch):
    rows = [(1, "a b c d e"), (1, "a b c d e"), (2, "a b c d e")]
    drv, dist = _paths(spark, monkeypatch, rows, "doc_id long, text string")
    assert drv == dist


def test_local_parquet_shard_takes_driver_path(spark, monkeypatch, tmp_path):
    """A shard of local Parquet takes the driver path unpatched: its
    result is one partition, plans no join, and equals the distributed
    path's."""
    path = str(tmp_path / "docs")
    spark.createDataFrame(_corpus(5, lambda i: i),
                          "doc_id long, text string").write.parquet(path)
    df = spark.read.parquet(path)
    got = dedup.minhash_lsh_pairs(df)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and got.rdd.getNumPartitions() == 1
    monkeypatch.setattr(dedup, "_MINHASH_DRIVER_MAX_BYTES", 0)
    want = dedup.minhash_lsh_pairs(df)
    assert "Join" in want._jdf.queryExecution().executedPlan().toString()
    assert got.collect() == want.collect()


def test_engine_start_runs_no_datapipe_prewarm(spark):
    """The engine starts no background dedup warm-up, and joining the
    (absent) warm-up returns at once."""
    import threading
    import time

    from druid_spark import DruidSparkEngine
    DruidSparkEngine(spark)
    assert "druid-datapipe-prewarm" not in {
        t.name for t in threading.enumerate()}
    t0 = time.perf_counter()
    dedup.join_datapipe_prewarm(spark, timeout=None)
    assert time.perf_counter() - t0 < 0.1
