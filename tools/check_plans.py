"""Plan assertions: verify that compiled queries produce the physical
plans we want at scale — filters pushed into the Parquet scan
(PushedFilters), column pruning (ReadSchema), broadcast joins for small
dims, whole-stage codegen coverage.

Usage: python tools/check_plans.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from druid_spark import DruidSparkEngine
from druid_spark.session import get_spark


def write_day_files(path: str, days: int = 4) -> list[int]:
    """A directory table of `days` Parquet files, file i holding
    100 * (i + 1) rows spread over day 2024-01-01 + i, the time column
    `ts` a timezone-less timestamp('us'); returns the row counts."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(path, exist_ok=True)
    counts = []
    for i in range(days):
        n = 100 * (i + 1)
        day = np.datetime64("2024-01-01", "us") + np.timedelta64(i, "D")
        ts = day + (np.linspace(0, 86_399, n) * 1e6).astype("timedelta64[us]")
        pq.write_table(pa.table({
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "k": pa.array(np.arange(n) % 50, type=pa.int64()),
            "v": np.random.default_rng(i).uniform(0, 1000, n)}),
            os.path.join(path, f"part-{i}.parquet"))
        counts.append(n)
    return counts


def file_pruning_failure(engine, query: dict, want: list[str]) -> str | None:
    """None if the compiled native query reads exactly the files named
    `want`, else what it reads."""
    got = sorted(f.rsplit("/", 1)[-1]
                 for f in engine.query(query).inputFiles())
    return None if got == sorted(want) else f"reads {got}, want {sorted(want)}"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def jobs_in(spark, run) -> int:
    """Spark jobs that calling run() runs."""
    sc = spark.sparkContext
    group = f"plans-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "check_plans")
    try:
        run()
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def jobs_of(spark, df) -> int:
    """Spark jobs that streaming df's rows (toLocalIterator, as the
    HTTP server does) runs."""
    return jobs_in(spark, lambda: list(df.toLocalIterator()))


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("plans", cpus=8)
    engine = DruidSparkEngine(spark, data_dir=sf_dir)
    failures = []

    def check(name, df, must_contain, must_not=()):
        p = formatted(df)
        for s in must_contain:
            if s not in p:
                failures.append(f"{name}: missing {s!r}")
                print(f"FAIL {name}: plan missing {s!r}")
                return
        for s in must_not:
            if s in p:
                failures.append(f"{name}: unwanted {s!r}")
                print(f"FAIL {name}: plan contains unwanted {s!r}")
                return
        print(f"PASS {name}")

    # 1. filter pushdown reaches parquet
    df = engine.query({
        "queryType": "timeseries", "dataSource": "lineitem",
        "granularity": "all",
        "filter": {"type": "selector", "dimension": "l_returnflag",
                   "value": "R"},
        "aggregations": [{"type": "doubleSum", "name": "s",
                          "fieldName": "l_extendedprice"}]})
    check("filter_pushdown", df,
          ["PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)"])

    # 2. column pruning: scan reads only needed columns
    df = engine.query({
        "queryType": "groupBy", "dataSource": "lineitem",
        "granularity": "all", "dimensions": ["l_returnflag"],
        "aggregations": [{"type": "doubleSum", "name": "s",
                          "fieldName": "l_extendedprice"}]})
    p = formatted(df)
    if "l_extendedprice" in p and "l_partkey" not in p.split("ReadSchema")[1][:400]:
        print("PASS column_pruning")
    else:
        failures.append("column_pruning")
        print("FAIL column_pruning: scan reads unneeded columns")

    # 3. interval filter → pushed time predicates
    df = engine.query({
        "queryType": "scan", "dataSource": "lineitem",
        "columns": ["l_orderkey"],
        "intervals": ["1996-01-01T00:00:00Z/1997-01-01T00:00:00Z"]})
    # Catalyst rewrites the __time alias back to the physical l_shipdate
    # column — the interval reaches the scan as a pushed range predicate
    check("interval_pushdown", df, ["GreaterThanOrEqual(l_shipdate,1996-01-01",
                                    "LessThan(l_shipdate,1997-01-01"])

    # 4. small dim join goes broadcast
    df = engine.query({
        "queryType": "groupBy",
        "dataSource": {"type": "join", "left": "lineitem",
                       "right": {"type": "table", "name": "supplier"},
                       "rightPrefix": "j0.",
                       "condition": 'l_suppkey == "j0.s_suppkey"',
                       "joinType": "INNER"},
        "granularity": "all",
        "dimensions": [{"type": "default", "dimension": "j0.s_name",
                        "outputName": "s_name"}],
        "aggregations": [{"type": "count", "name": "n"}]})
    check("broadcast_join", df, ["BroadcastHashJoin"], ["SortMergeJoin"])

    # 5. partial aggregation before shuffle (map-side combine)
    df = engine.query({
        "queryType": "groupBy", "dataSource": "lineitem",
        "granularity": "all", "dimensions": ["l_returnflag"],
        "aggregations": [{"type": "count", "name": "n"}]})
    p = plan_of(df)
    if p.count("HashAggregate") >= 2:
        print("PASS partial_agg")
    else:
        failures.append("partial_agg")
        print("FAIL partial_agg")

    # 6. order+limit → TakeOrderedAndProject (no global sort)
    df = engine.query({
        "queryType": "topN", "dataSource": "lineitem",
        "dimension": "l_suppkey", "metric": "s", "threshold": 10,
        "granularity": "all",
        "aggregations": [{"type": "doubleSum", "name": "s",
                          "fieldName": "l_extendedprice"}]})
    check("topn_take_ordered", df, ["TakeOrderedAndProject"])

    # 7. whole-stage codegen present on the agg path
    # (AQE hides codegen ids until execution on exchange-bearing plans;
    # the scan/filter/project pipeline shows them directly)
    df = engine.query({
        "queryType": "scan", "dataSource": "lineitem",
        "columns": ["l_orderkey", "l_quantity"],
        "filter": {"type": "range", "column": "l_quantity", "lower": 45.0}})
    check("codegen", df, ["codegen id"])

    # 8. time-partitioned warehouse: interval query prunes __dt partitions
    # (the Spark analog of Druid's segment-timeline interval lookup —
    # the core 100 TB claim: scans touch only matching time chunks)
    import shutil
    import tempfile
    wh = tempfile.mkdtemp(prefix="planswh_")
    try:
        engine.warehouse_dir = wh
        engine.sql("INSERT INTO evtp SELECT __time, event_type, value "
                   "FROM events PARTITIONED BY DAY")
        n_parts = len([d for d in os.listdir(engine.table_service().path("evtp"))
                       if d.startswith("__dt=")])
        df = engine.query({
            "queryType": "timeseries", "dataSource": "evtp",
            "granularity": "all",
            "intervals": ["2024-01-05T00:00:00Z/2024-01-08T00:00:00Z"],
            "aggregations": [{"type": "count", "name": "n"}]})
        p = formatted(df)
        seg = p.split("PartitionFilters", 1)
        read_schema_line = p.split("ReadSchema", 1)[1].splitlines()[0]
        pruned = (len(seg) > 1 and "__dt" in seg[1].splitlines()[0]
                  and "__dt" not in read_schema_line)
        if pruned and df.collect()[0]["n"] > 0 and n_parts > 3:
            print(f"PASS partition_pruning (interval query on {n_parts} "
                  f"day-partitions scans only __dt in [2024-01-05, 2024-01-07])")
        else:
            failures.append("partition_pruning")
            print("FAIL partition_pruning")
    finally:
        shutil.rmtree(wh, ignore_errors=True)

    # 8b. a footer-bounded directory table: an interval query reads only
    # the files whose time bounds meet its intervals (the catalog's time
    # timeline — Spark's PushedFilters skip nothing on timestamps stored
    # without UTC adjustment)
    fdir = tempfile.mkdtemp(prefix="planstl_")
    try:
        write_day_files(fdir)
        engine.catalog.register_table("plans_tl", fdir, time_column="ts")
        why = file_pruning_failure(engine, {
            "queryType": "timeseries", "dataSource": "plans_tl",
            "granularity": "all",
            "intervals": ["2024-01-02T06:00:00Z/2024-01-02T18:00:00Z"],
            "aggregations": [{"type": "count", "name": "n"}]},
            ["part-1.parquet"])
        if why is None:
            print("PASS file_pruning (interval query on 4 day-files "
                  "reads only the overlapping one)")
        else:
            failures.append("file_pruning")
            print(f"FAIL file_pruning: {why}")
        engine.catalog.drop_table("plans_tl")
    finally:
        shutil.rmtree(fdir, ignore_errors=True)

    # 9. embedding near-dup default path is banded LSH: equi-joins only
    from druid_spark.datapipe.dedup import embedding_neardup_pairs
    emb = engine.catalog.table("embeddings")
    df = embedding_neardup_pairs(emb, threshold=0.95)
    check("neardup_lsh_equijoin", df, [],
          ["CartesianProduct", "BroadcastNestedLoopJoin"])

    # 10. KMV sketch build is the bounded two-shuffle plan (distinct +
    # per-group window top-k) — never an unbounded collect_set; the
    # stored state stays <= k rows per group at any cardinality
    from druid_spark import sketch_state as S
    li = engine.catalog.table("lineitem")
    df = S.kmv_state(li, ["l_returnflag"], "l_orderkey", 1024)
    check("kmv_bounded_build", df, ["Window"], ["collect_set"])

    # 11. MinHash LSH banding joins are equi-joins (hash-partitioned on
    # (band, signature) — sub-quadratic at corpus scale). The documents
    # table is shard-sized, so a size constant of 0 forces this plan.
    from druid_spark.datapipe import dedup
    docs = engine.catalog.table("documents")
    small = dedup._MINHASH_DRIVER_MAX_BYTES
    dedup._MINHASH_DRIVER_MAX_BYTES = 0
    try:
        check("minhash_equijoin", dedup.minhash_lsh_pairs(docs),
              ["ShuffledHashJoin"],
              ["CartesianProduct", "BroadcastNestedLoopJoin"])
    finally:
        dedup._MINHASH_DRIVER_MAX_BYTES = small

    # 11b. under the constant, MinHash runs on the driver: the call's
    # Arrow collect plus the result's collect run at most 2 Spark jobs,
    # and the result is one partition
    out = {}

    def driver_pass():
        out["df"] = dedup.minhash_lsh_pairs(docs)
        out["rows"] = out["df"].collect()

    jobs = jobs_in(spark, driver_pass)
    parts = out["df"].rdd.getNumPartitions()
    if jobs <= 2 and parts == 1:
        print(f"PASS minhash_driver ({jobs} jobs, {len(out['rows'])} pairs)")
    else:
        failures.append("minhash_driver")
        print(f"FAIL minhash_driver: {jobs} jobs, {parts} partitions")

    # 12. as-of join compiles to union + window (single shuffle), never
    # a nested-loop/cartesian product (queries/asof.py design)
    from pyspark.sql import functions as F
    from druid_spark.queries.asof import asof_join
    ev = engine.catalog.table("events")
    left = ev.select("user_id", "ts", "event_id").limit(5000)
    right = (ev.select("user_id", "ts",
                       F.col("value").alias("rv")).limit(5000))
    df = asof_join(left, right, on=["user_id"], left_ts="ts",
                   right_ts="ts")
    check("asof_no_nested_loop", df, ["Window"],
          ["CartesianProduct", "BroadcastNestedLoopJoin"])

    # 13. range join is interval-bucketed equi-join — no nested loop
    from druid_spark.queries.rangejoin import range_join
    pts = ev.select("event_id", F.col("value").alias("v")).limit(2000)
    iv = spark.range(20).select(
        F.col("id").alias("iv_id"),
        (F.col("id") * 5.0).alias("lo"), (F.col("id") * 5.0 + 7).alias("hi"))
    df = range_join(pts, iv, point="v", lo="lo", hi="hi", bucket_width=5.0)
    check("range_join_equijoin", df, [],
          ["CartesianProduct", "BroadcastNestedLoopJoin"])

    # 14. Datasketches theta/KLL rollup states keep partial aggregation
    # (the build merges map-side before the shuffle — sketch-in-rollup
    # is what survives 100 TB, and partial agg is what makes the build
    # itself scale)
    df = engine.query({
        "queryType": "groupBy", "dataSource": "lineitem",
        "granularity": "month", "dimensions": ["l_returnflag"],
        "aggregations": [
            {"type": "thetaState", "name": "ok_sk",
             "fieldName": "l_orderkey"},
            {"type": "kllState", "name": "price_kll",
             "fieldName": "l_extendedprice"}]})
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "partial_theta_sketch_agg" in plan and "partial_kll_sketch_agg" in plan:
        print("PASS sketch_partial_agg_binary")
    elif plan.count("ObjectHashAggregate") >= 2 or plan.count("HashAggregate") >= 2:
        # two-phase agg present even if the partial_ prefix spelling
        # differs across Spark versions
        print("PASS sketch_partial_agg_binary (two-phase)")
    else:
        failures.append("sketch_partial_agg_binary")
        print("FAIL sketch_partial_agg_binary")

    # 15. big SQL LOOKUP() plans a broadcast hash join, never the
    # quadratic LeftSingle nested-loop (engine.SQL_LOOKUP_INLINE_MAX
    # guard — round 4)
    engine.catalog.register_lookup(
        "plans_big_lk", {str(i): f"v{i}" for i in range(20_001)})
    df = engine.sql(
        "SELECT LOOKUP(CAST(o_custkey AS VARCHAR), 'plans_big_lk') AS nm, "
        "count(*) AS n FROM orders GROUP BY 1 ORDER BY n DESC LIMIT 5")
    df.collect()  # AQE finalizes the join strategy
    plan = plan_of(df)
    if "BroadcastHashJoin" in plan and "BroadcastNestedLoopJoin" not in plan:
        print("PASS lookup_broadcast_join")
    else:
        failures.append("lookup_broadcast_join")
        print("FAIL lookup_broadcast_join")

    # 16. IVF probe: no KMeans fit in the query path (build/probe split
    # — round 4); the probe filters on the prebuilt cell column
    from druid_spark.datapipe.similarity import ivf_build, ivf_probe
    emb = engine.catalog.table("embeddings")
    centers, assigned = ivf_build(emb.limit(2000), n_cells=4)
    assigned = assigned.persist()
    assigned.count()  # materialize: probe must hit the stored cell
    # column (production writes it partitioned by cell), not re-run the
    # assignment UDF per probe
    qv = emb.limit(1).collect()[0]["embedding"]
    df = ivf_probe(assigned, centers, qv, k=5, nprobe=2)
    plan = plan_of(df)
    if "cell" in plan and "TakeOrderedAndProject" in plan:
        print("PASS ivf_probe_cell_filter")
    else:
        failures.append("ivf_probe_cell_filter")
        print("FAIL ivf_probe_cell_filter")

    # 17. quantized ANN: stage-1 coarse scan is TakeOrdered over the
    # slim q8 table; stage-2 rescoring joins the tiny candidate list
    # via BroadcastHashJoin — never a cartesian/nested-loop product
    from druid_spark.datapipe.similarity import (quantize_embeddings,
                                                 quantized_topk)
    qdf = quantize_embeddings(emb)
    df = quantized_topk(qdf, emb, qv, k=5, rescore=4)
    check("quantized_ann_broadcast_rescore", df,
          ["BroadcastHashJoin", "TakeOrderedAndProject"],
          must_not=["CartesianProduct", "BroadcastNestedLoopJoin"])

    # 18. context.skewHint routes the join compiler through the salted
    # arm (engine._join → skew.py salted_join_pairs): the salt columns
    # join as extra equi-keys — a hot key spreads across N reducers —
    # and no nested-loop shape appears
    df = engine.query({
        "queryType": "groupBy",
        "dataSource": {"type": "join", "left": "lineitem",
                       "right": {"type": "table", "name": "orders"},
                       "rightPrefix": "j0.",
                       "condition": 'l_orderkey == "j0.o_orderkey"',
                       "joinType": "INNER"},
        "granularity": "all",
        "dimensions": [{"type": "default",
                        "dimension": "j0.o_orderpriority",
                        "outputName": "priority"}],
        "aggregations": [{"type": "count", "name": "n"}],
        "context": {"skewHint": {"salts": 16}}})
    check("skew_hint_salted_join", df, ["__salt_l", "__salt_r"],
          ["CartesianProduct", "BroadcastNestedLoopJoin"])

    # 19b. detectSkew auto-routes a hot-key join to the salt arm
    # (the compiler path, not a manual skew.py call)
    from pyspark.sql import functions as _F
    _hot = spark.range(4000).select(
        _F.when(_F.col("id") < 3600, _F.lit(1))
          .otherwise(_F.col("id")).alias("k"),
        (_F.col("id") % 3).cast("double").alias("v"))
    import tempfile as _tf2
    _hp = os.path.join(_tf2.mkdtemp(), "hotfact")
    _hot.write.parquet(_hp)
    engine.catalog.register_table("hotfact", _hp)
    df = engine.query({
        "queryType": "groupBy",
        "dataSource": {
            "type": "join", "left": "hotfact",
            "right": {"type": "table", "name": "orders"},
            "rightPrefix": "j0.", "condition": 'k == "j0.o_orderkey"',
            "joinType": "INNER"},
        "granularity": "all",
        "dimensions": [{"type": "default",
                        "dimension": "j0.o_orderstatus",
                        "outputName": "st"}],
        "aggregations": [{"type": "doubleSum", "name": "v_sum",
                          "fieldName": "v"}],
        "context": {"detectSkew": {"threshold": 0.5, "salts": 8}}})
    check("detect_skew_salted_join", df, ["__salt_l", "__salt_r"],
          ["CartesianProduct", "BroadcastNestedLoopJoin"])

    # 19. flattenSpec path fields keep the scan column-pruned: a
    # name-rooted path reads only its root column's subtree, wide
    # undeclared columns never reach ReadSchema
    import json as _json
    import tempfile as _tf
    from druid_spark.ingest.batch import read_input
    _d = _tf.mkdtemp()
    with open(os.path.join(_d, "wide.json"), "w") as fh:
        for i in range(4):
            fh.write(_json.dumps({
                "agent": {"browser": {"major": i}},
                "wide_unused": "x" * 40,
                "wide_other": list(range(8))}) + "\n")
    df = read_input(spark, {
        "inputSource": {"type": "local",
                        "files": [os.path.join(_d, "wide.json")]},
        "inputFormat": {"type": "json", "flattenSpec": {
            "useFieldDiscovery": False,
            "fields": [{"type": "path", "name": "major",
                        "expr": "$.agent.browser.major"}]}}})
    check("flatten_path_pruned_scan", df, ["agent"],
          ["wide_unused", "wide_other"])

    # 21. vocab_topk: corpus histogram ends in TakeOrderedAndProject
    # with partial aggregation before the shuffle (map-side combine)
    from druid_spark.datapipe.textstats import vocab_topk
    df = vocab_topk(engine.catalog.table("documents"), k=50)
    check("vocab_topk_take_ordered", df,
          ["TakeOrderedAndProject", "partial_count"],
          ["CartesianProduct"])

    # 22. temperature_sample: the tiny rates side broadcast-joins onto
    # the corpus scan (never a shuffle join on the full table)
    from druid_spark.datapipe.sample import temperature_sample
    df = temperature_sample(engine.catalog.table("documents"),
                            "lang", alpha=0.3)
    check("temperature_sample_broadcast", df,
          ["BroadcastHashJoin"],
          ["SortMergeJoin", "CartesianProduct"])

    # 23. TIME_IN_INTERVAL('literal') inlines to timestamp bounds that
    # PUSH DOWN to the parquet scan (round 7 — the 2-arg UDF form
    # could never push, so every time-bounded SQL dashboard query was
    # a full scan before the inline)
    df = engine.sql("SELECT COUNT(*) AS n FROM events "
                    "WHERE TIME_IN_INTERVAL(__time, '2024-01-02/P1D')")
    check("time_in_interval_pushdown", df,
          ["GreaterThanOrEqual(ts,2024-01-02", "LessThan(ts,2024-01-03"],
          ["CartesianProduct"])

    # 24. shard packing runs the DISTRIBUTED prefix sum: the window is
    # partitioned by the range-partition id, never the global
    # single-partition window a naive SUM() OVER (ORDER BY ...) plans
    from druid_spark.datapipe.pack import pack_shards
    docs = engine.catalog.table("documents").selectExpr(
        "doc_id", "n_chars AS ntok")
    df = pack_shards(docs, "ntok", budget=100_000)
    check("shard_pack_distributed", df, ["Window"],
          ["Exchange SinglePartition", "CartesianProduct"])

    # 25. a scan whose local files total under ONE_TASK_SCAN_BYTES is
    # one partition: an aggregate over it, native or SQL, plans no
    # exchange and streams in one Spark job
    from druid_spark import catalog as cat_mod
    one_task = {
        "queryType": "groupBy", "dataSource": "lineitem",
        "granularity": "all", "dimensions": ["l_returnflag"],
        "aggregations": [{"type": "count", "name": "n"}]}
    bad = []
    for kind, df in (("native", engine.query(one_task)),
                     ("sql", engine.sql(
                         "SELECT l_returnflag, COUNT(*) AS n FROM lineitem "
                         "GROUP BY l_returnflag ORDER BY n"))):
        jobs = jobs_of(spark, df)
        if "Exchange" in plan_of(df) or jobs != 1:
            bad.append(f"{kind}: {jobs} jobs")
    if not bad:
        print("PASS small_scan_one_task")
    else:
        failures.append("small_scan_one_task")
        print(f"FAIL small_scan_one_task: {bad}")

    # 26. above the constant (here: a constant of 0 bytes) the same
    # aggregate keeps its distributed plan, with its exchange
    small = cat_mod.ONE_TASK_SCAN_BYTES
    cat_mod.ONE_TASK_SCAN_BYTES = 0
    try:
        engine.catalog.register_table(
            "plans_big", os.path.join(sf_dir, "lineitem.parquet"),
            time_column="l_shipdate")
        check("large_scan_distributed",
              engine.query({**one_task, "dataSource": "plans_big"}),
              ["Exchange"])
        engine.catalog.drop_table("plans_big")
    finally:
        cat_mod.ONE_TASK_SCAN_BYTES = small

    # 27. a small local INSERT writes in one Spark job with no exchange;
    # above the constant (here: 0 bytes) the write keeps its shuffle by
    # time chunk
    def write_of(sql: str) -> tuple[int, str]:
        """(jobs, physical plan) of the Parquet write running sql runs."""
        store = spark._jsparkSession.sharedState().statusStore()

        def last() -> int:
            execs = store.executionsList()
            return execs.apply(execs.size() - 1).executionId() \
                if execs.size() else -1

        seen = last()
        engine.sql(sql)
        execs = store.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            plan = e.physicalPlanDescription()
            if (e.executionId() > seen
                    and "InsertIntoHadoopFsRelationCommand" in plan):
                return e.jobs().size(), plan
        return 0, ""

    src = tempfile.mkdtemp(prefix="planswr_")
    wh = tempfile.mkdtemp(prefix="planswh_")
    try:
        write_day_files(src)
        engine.warehouse_dir = wh
        source = json.dumps({"type": "local", "files": sorted(
            os.path.join(src, f) for f in os.listdir(src))})

        def insert(table: str) -> str:
            return (f"INSERT INTO {table} SELECT ts AS __time, k, v FROM "
                    f"TABLE(EXTERN('{source}', '{{\"type\": \"parquet\"}}')) "
                    "PARTITIONED BY HOUR")

        jobs, plan = write_of(insert("plans_wr_small"))
        if jobs == 1 and "Exchange" not in plan:
            print("PASS append_write_one_task")
        else:
            failures.append("append_write_one_task")
            print(f"FAIL append_write_one_task: {jobs} jobs, "
                  f"exchange {'Exchange' in plan}")
        cat_mod.ONE_TASK_SCAN_BYTES = 0
        jobs, plan = write_of(insert("plans_wr_big"))
        if "Exchange" in plan and "hashpartitioning(__dt" in plan:
            print("PASS append_write_large_shuffles")
        else:
            failures.append("append_write_large_shuffles")
            print(f"FAIL append_write_large_shuffles: {jobs} jobs")
    finally:
        cat_mod.ONE_TASK_SCAN_BYTES = small
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(wh, ignore_errors=True)

    print(f"\n{'ALL PLAN CHECKS PASS' if not failures else failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
