"""`dedup` workload: the near-duplicate pipeline of druid_spark.datapipe.

One client runs minhash_lsh_pairs and then connected_components over one
seeded document shard per pass, cycling through the shards so that no
pass reuses the previous pass's persisted signatures. Each shard has a
planted share of near-duplicate clusters.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

import gen
from stats import median
from workload import Op, Workload

THRESHOLD = 0.8
SHINGLE = 3
# a returned pair may sit this far under the threshold: the pipeline
# rounds Jaccard to 4 places before comparing
PAIR_TOLERANCE = 0.001
# planted pairs this far above the threshold must be found
RECALL_MARGIN = 0.05
MIN_RECALL = 0.98
SHARDS = gen.DOC_SHARDS


def shingles(text: str, k: int = SHINGLE) -> frozenset:
    """Word k-shingles as the pipeline builds them: lowercase, split on
    whitespace runs."""
    toks = text.lower().split()
    if len(toks) < k:
        return frozenset([" ".join(toks)]) if toks else frozenset()
    return frozenset(" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


class Dedup(Workload):
    name = "dedup"
    # measured pass rate on local[4]: one pass per ~2.7 s
    expected_ops_per_s = 0.37

    def inputs(self, cache_dir, seed):
        return gen.dataset(cache_dir, "docs", seed)

    def register(self, engine, data):
        for s in range(SHARDS):
            engine.catalog.register_table(
                f"docs{s}", os.path.join(data["path"], f"shard{s}"))

    def _order(self, seed):
        return [int(s) for s in gen.rng(seed, 300).permutation(SHARDS)]

    def _pass(self, ctx, df, op: Op | None = None):
        from druid_spark.datapipe.dedup import (connected_components,
                                                minhash_lsh_pairs)
        t0 = time.perf_counter()
        pairs_df = minhash_lsh_pairs(df, text_col="text", id_col="doc_id",
                                     k=SHINGLE, threshold=THRESHOLD
                                     ).localCheckpoint()
        pairs = pairs_df.collect()
        t1 = time.perf_counter()
        comps = connected_components(pairs_df).collect()
        t2 = time.perf_counter()
        if op is not None:
            op.extra = {"minhash_ms": (t1 - t0) * 1e3,
                        "cc_ms": (t2 - t1) * 1e3, "pairs": len(pairs)}
        return ([(r["id_a"], r["id_b"], r["jaccard"]) for r in pairs],
                {r["id"]: r["cluster_id"] for r in comps})

    def warm(self, ctx):
        """One untimed pass, so the first timed pass runs warm."""
        self._pass(ctx, ctx.engine.catalog.table(
            f"docs{self._order(ctx.seed)[-1]}"))

    def run(self, ctx, seconds):
        sc = ctx.spark.sparkContext
        order = self._order(ctx.seed)
        docs = {s: pq.ParquetFile(os.path.join(
            ctx.data["path"], f"shard{s}", "part-000.parquet")).metadata.num_rows
            for s in order}
        ops = []
        deadline = time.perf_counter() + seconds
        i = 0
        while time.perf_counter() < deadline:
            shard = order[i % SHARDS]
            op = Op("query", f"shard{shard}")
            op.group = f"perfbench-dedup-{i}"
            sc.setJobGroup(op.group, "perfbench dedup")
            op.t0 = time.perf_counter()
            try:
                op.result = self._pass(
                    ctx, ctx.engine.catalog.table(f"docs{shard}"), op)
            except Exception as e:  # noqa: BLE001 - reported as a failure
                op.error = repr(e)
            op.t1 = time.perf_counter()
            op.rows = docs[shard]
            ctx.read_stages(op)
            ops.append(op)
            i += 1
        return ops

    def check(self, ctx, ops):
        """Every returned pair clears the threshold (less the rounding
        tolerance) by exact Jaccard, the planted pairs are found, and the
        components put both ends of every pair in one cluster."""
        cache: dict[int, tuple] = {}
        for op in ops:
            if op.error:
                continue
            shard = int(op.key[len("shard"):])
            if shard not in cache:
                cache[shard] = self._truth(ctx, shard)
            texts, planted = cache[shard]
            pairs, comp = op.result
            found = {(a, b) for a, b, _j in pairs}
            low = [(a, b) for a, b in found
                   if jaccard(texts[a], texts[b]) < THRESHOLD - PAIR_TOLERANCE]
            strong = {p for p in planted
                      if jaccard(texts[p[0]], texts[p[1]])
                      >= THRESHOLD + RECALL_MARGIN}
            recall = len(strong & found) / len(strong) if strong else 1.0
            split = [(a, b) for a, b in found if comp.get(a) != comp.get(b)]
            op.extra["recall"] = len(planted & found) / max(len(planted), 1)
            op.extra["precision"] = len(planted & found) / max(len(found), 1)
            if low:
                op.error = f"{len(low)} pairs under the threshold, e.g. {low[0]}"
            elif recall < MIN_RECALL:
                op.error = f"planted-pair recall {recall:.3f} < {MIN_RECALL}"
            elif split:
                op.error = f"pair {split[0]} split across components"

    def _truth(self, ctx, shard):
        d = ctx.data["path"]
        t = pq.read_table(os.path.join(d, f"shard{shard}", "part-000.parquet"))
        texts = {i: shingles(x) for i, x in zip(t["doc_id"].to_pylist(),
                                               t["text"].to_pylist())}
        c = pq.read_table(os.path.join(d, "planted", f"shard{shard}.parquet"))
        members: dict[int, list] = {}
        for i, cl in zip(c["doc_id"].to_pylist(), c["cluster"].to_pylist()):
            if cl >= 0:
                members.setdefault(cl, []).append(i)
        planted = {(min(a, b), max(a, b)) for ids in members.values()
                   for a in ids for b in ids if a < b}
        return texts, planted

    def layer_counts(self, ctx, ops):
        ok = [op for op in ops if op.extra and not op.error]
        return {f"datapipe.{k}": median((op.extra[k] for op in ok),
                                        empty=0.0)
                for k in ("minhash_ms", "cc_ms", "pairs", "recall",
                          "precision")}

    def summary(self, ops, wall):
        ok = [op for op in ops if op.extra]
        return {"docs_per_s": sum(op.rows for op in ops) / wall,
                "passes": len(ops),
                "minhash_ms": median([op.extra["minhash_ms"] for op in ok])
                if ok else None,
                "cc_ms": median([op.extra["cc_ms"] for op in ok])
                if ok else None}
