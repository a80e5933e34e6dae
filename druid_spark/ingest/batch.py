"""Batch ingestion: Druid ingestion spec → partitioned Parquet table.

Reference surface:
- input sources local/http/inline (processing/.../data/input/InputSource.java:57-60)
- input formats csv/json/tsv/parquet/orc (InputFormat.java:50-54 + extensions)
- TransformSpec: row filter + expression transforms
  (processing/.../segment/transform/TransformSpec.java:42)
- GranularitySpec: segment granularity (time partitioning), query
  granularity + rollup (ingest-time pre-aggregation,
  IncrementalIndexSchema.java:54)
- REPLACE semantics: overwrite-by-interval — Druid's atomic segment
  version swap (SegmentTransactionalInsertAction.java:56) maps to
  Spark dynamic partition overwrite (only the partitions the new data
  touches are replaced).

Spark-first: the whole pipeline is spark.read → withColumn/where →
groupBy (if rollup) → write.partitionBy(time bucket). The time
partition column enables partition pruning for interval-filtered
queries, the Spark analog of Druid's segment-interval timeline lookup.
"""

from __future__ import annotations

import os
import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from druid_spark import catalog
from druid_spark import granularity as G
from druid_spark.aggregations import AggCompiler
from druid_spark.expr import compile_expr
from druid_spark.filters import FilterCompiler


def apply_flatten_spec(df: DataFrame, flatten: dict[str, Any]) -> DataFrame:
    """inputFormat.flattenSpec (JSONPathSpec.java:1,
    JSONPathFieldSpec.java:1): declared fields of type root / path /
    tree projected out of the nested JSON document, plus
    useFieldDiscovery (default true) keeping simple top-level fields.

    Spark-first: a `path` field compiles to a JVM-side
    get_json_object. Paths rooted at a named top-level field
    (`$.a.b[0]`) re-serialize ONLY that field's subtree
    (to_json(col) of the root segment), so the parquet scan stays
    column-pruned — a path field over a 200-column document reads one
    column, not the row. Paths that aren't name-rooted (`$[0]`,
    recursive descent) fall back to a whole-row document. `tree`
    navigates the struct columns directly; `jq` is gated (no jq
    runtime in Spark)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    fields = flatten.get("fields") or []
    use_disc = flatten.get("useFieldDiscovery", True)
    name_rooted = re.compile(r"^\$\.([A-Za-z_][A-Za-z0-9_]*)(.*)$")

    def _whole_doc():
        return F.to_json(F.struct(*[F.col(c) for c in df.columns]))

    def _path_col(expr: str):
        m = name_rooted.match(expr)
        if m and m.group(1) in df.columns:
            root, rest = m.group(1), m.group(2)
            dt = df.schema[root].dataType
            sub = (F.to_json(F.col(root))
                   if isinstance(dt, (StructType, ArrayType, MapType))
                   else F.col(root).cast("string"))
            return (F.get_json_object(sub, "$" + rest)
                    if rest else sub)
        return F.get_json_object(_whole_doc(), expr)

    cols, declared = [], set()
    for f in fields:
        ftype, name = f.get("type", "root"), f["name"]
        declared.add(name)
        if ftype == "root":
            cols.append(F.col(name).alias(name))
        elif ftype == "path":
            cols.append(_path_col(f["expr"]).alias(name))
        elif ftype == "tree":
            cols.append(F.col(".".join(f.get("nodes") or [name])).alias(name))
        else:
            raise NotImplementedError(
                f"flattenSpec field type {ftype!r} (jq needs a jq "
                "runtime; rewrite as a 'path' field)")
    if use_disc:
        # discoverRootFields (JSONFlattenerMaker.java): top-level
        # scalars and primitive arrays (→ MVDs); nested containers are
        # reachable only through declared fields
        for c in df.columns:
            if c in declared:
                continue
            dt = df.schema[c].dataType
            if isinstance(dt, (StructType, MapType)):
                continue
            if isinstance(dt, ArrayType) and isinstance(
                    dt.elementType, (StructType, MapType, ArrayType)):
                continue
            cols.append(F.col(c))
    return df.select(*cols)


def read_input(spark: SparkSession, io_config: dict[str, Any],
               table_service: "TableService | None" = None) -> DataFrame:
    """ioConfig.inputSource + inputFormat → DataFrame."""
    src = io_config["inputSource"]
    fmt = io_config.get("inputFormat", {"type": "parquet"})
    stype = src["type"]
    flatten = fmt.get("flattenSpec") if fmt.get("type") == "json" else None
    if stype == "inline":
        data = src["data"]
        ftype = fmt["type"]
        if ftype == "json":
            # spark.read.json (not createDataFrame) so nested objects
            # infer as structs, same as the file path — flattenSpec
            # tree/path fields need struct navigation
            lines = data.strip().splitlines()
            df = spark.read.json(spark.sparkContext.parallelize(lines))
            return apply_flatten_spec(df, flatten) if flatten else df
        if ftype == "csv":
            cols = fmt.get("columns")
            lines = [line.split(",") for line in data.strip().splitlines()]
            if fmt.get("findColumnsFromHeader"):
                cols, lines = lines[0], lines[1:]
            return spark.createDataFrame(lines, cols)
        raise NotImplementedError(f"inline format {ftype}")
    if stype == "local":
        paths = src.get("files") or [os.path.join(src["baseDir"], src.get("filter", "*"))]
        df = _read_files(spark, paths, fmt)
        return apply_flatten_spec(df, flatten) if flatten else df
    if stype in ("http", "s3", "google", "azure", "hdfs"):
        # spark.read handles the scheme natively (s3a:, gs:, wasbs:, hdfs:)
        uris = src.get("uris") or src.get("paths")
        df = _read_files(spark, uris, fmt)
        return apply_flatten_spec(df, flatten) if flatten else df
    if stype == "druid":
        # re-ingest from an existing datasource's segments
        # (DruidInputSource — processing/.../input/InputSource.java
        # registry; used for reindex/compaction specs). Reads the
        # warehouse parquet for the datasource, optionally interval-
        # pruned on __time (partition pruning via __dt when present).
        if table_service is None:
            raise NotImplementedError(
                "druid inputSource needs a TableService (re-ingest)")
        df = table_service.table(src["dataSource"])
        interval = src.get("interval")
        if interval:
            lo, hi = str(interval).split("/")
            df = df.where((F.col("__time") >= F.to_timestamp(F.lit(lo)))
                          & (F.col("__time") < F.to_timestamp(F.lit(hi))))
        return df
    if stype == "sql":
        # SqlInputSource (server/.../metadata/input/SqlInputSource.java)
        # over Python DB-API — see ingest/dbapi.py
        from druid_spark.ingest.dbapi import read_sql_input
        df = read_sql_input(spark, src)
        return apply_flatten_spec(df, flatten) if flatten else df
    raise NotImplementedError(f"inputSource {stype}")


def _read_files(spark: SparkSession, paths, fmt: dict) -> DataFrame:
    ftype = fmt["type"]
    reader = spark.read
    if ftype == "json":
        return reader.json(paths)
    if ftype == "csv":
        return reader.option("header", bool(fmt.get("findColumnsFromHeader"))) \
            .csv(paths)
    if ftype in ("tsv", "delimited"):
        return reader.option("sep", fmt.get("delimiter", "\t")) \
            .option("header", bool(fmt.get("findColumnsFromHeader"))).csv(paths)
    if ftype == "parquet":
        return reader.parquet(*paths) if isinstance(paths, list) else reader.parquet(paths)
    if ftype == "orc":
        return reader.orc(*paths) if isinstance(paths, list) else reader.orc(paths)
    if ftype == "avro":
        return reader.format("avro").load(paths)
    if ftype == "regex":
        # RegexInputFormat (processing/.../data/input/impl/
        # RegexInputFormat.java): one capture group per column. Pure
        # Column plan — read lines, regexp_extract per group — so the
        # parse runs JVM-side and distributed.
        pattern = fmt["pattern"]
        cols = fmt.get("columns") or []
        if not cols:
            raise ValueError("regex inputFormat needs columns")
        lines = reader.text(paths)
        out = lines.select(*[
            F.regexp_extract(F.col("value"), pattern, i + 1).alias(c)
            for i, c in enumerate(cols)])
        # rows that don't match the pattern extract all-empty: drop, as
        # the reference skips unparseable rows
        keep = None
        for c in cols:
            cond = F.col(c) != F.lit("")
            keep = cond if keep is None else (keep | cond)
        return out.where(keep)
    if ftype == "protobuf":
        # ProtobufInputFormat (extensions-core/protobuf-extensions/...
        # /ProtobufInputFormat.java): descriptor-set-driven decode via
        # a pure-Python wire-format reader (no protobuf runtime in
        # this container) — binaryFile scan + Arrow-batched
        # mapInPandas, schema derived from the descriptor. On a real
        # cluster with the spark-protobuf jar, from_protobuf is the
        # drop-in JVM-side upgrade for the same descriptor file.
        from druid_spark.ingest.protobuf import read_protobuf
        return read_protobuf(spark, paths, fmt)
    raise NotImplementedError(f"inputFormat {ftype}")


def apply_timestamp_spec(df: DataFrame, ts_spec: dict[str, Any]) -> DataFrame:
    """timestampSpec → __time column (reference TimestampSpec: column +
    format: iso|millis|posix|auto|java format)."""
    col = ts_spec.get("column", "timestamp")
    fmt = ts_spec.get("format", "auto")
    src = F.col(col)
    if fmt in ("iso", "auto"):
        t = F.to_timestamp(F.replace(src.cast("string"), F.lit("T"), F.lit(" ")))
        if fmt == "auto":
            # auto: accept millis-since-epoch numerics too
            t = F.when(src.cast("long").isNotNull() & src.cast("string").rlike(r"^\d+$"),
                       F.timestamp_millis(src.cast("long"))).otherwise(t)
    elif fmt == "millis":
        t = F.timestamp_millis(src.cast("long"))
    elif fmt == "posix":
        t = F.timestamp_seconds(src.cast("long"))
    else:
        t = F.to_timestamp(src, fmt)
    return df.withColumn("__time", t)


def apply_transform_spec(df: DataFrame, spec: dict[str, Any] | None,
                         lookups=None) -> DataFrame:
    """TransformSpec.java:42 — expression transforms then row filter."""
    if not spec:
        return df
    for tr in spec.get("transforms") or []:
        df = df.withColumn(tr["name"],
                           compile_expr(tr["expression"], F.col, lookups))
    if spec.get("filter"):
        fc = FilterCompiler(df, F.col, lookups)
        df = df.where(fc.compile(spec["filter"]))
    return df


def apply_rollup(df: DataFrame, dims: list[str], metrics: list[dict],
                 query_granularity: Any) -> DataFrame:
    """Ingest-time rollup (IncrementalIndex aggregate-on-insert):
    groupBy(truncated time, dims).agg(metrics). Map-side partial agg
    makes this the classic pre-aggregation shuffle."""
    keys = [G.bucket(F.col("__time"), query_granularity).alias("__time")]
    keys += [F.col(d) for d in dims]
    aggs = AggCompiler(F.col).compile_all(metrics)
    if not aggs:
        aggs = [F.count(F.lit(1)).alias("count")]
    return df.groupBy(*keys).agg(*aggs)


class TableService:
    """Time-partitioned Parquet warehouse with REPLACE-by-interval.

    Layout: {base}/{datasource}/__dt=<bucket>/part-*.parquet, the
    bucket formatted by granularity.chunk_format. A writer publishes
    what it wrote with Catalog.commit.
    Dynamic partition overwrite = Druid's atomic version swap per time
    chunk (VersionedIntervalTimeline overshadowing) without the custom
    MVCC machinery — Spark replaces exactly the partitions present in
    the written data.
    """

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = base_dir
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    def path(self, datasource: str) -> str:
        return os.path.join(self.base, datasource)

    def write(self, df: DataFrame, datasource: str,
              segment_granularity: str = "day", mode: str = "overwrite",
              target_rows_per_file: int = 5_000_000,
              cluster_by: list[str] | None = None) -> None:
        fmt = G.chunk_format(segment_granularity)
        if fmt is None:
            df.write.mode(mode).parquet(self.path(datasource))
            return
        out = df.withColumn("__dt", F.date_format(
            G.bucket(F.col("__time"), segment_granularity), fmt))
        sizes = catalog.local_sizes(df.inputFiles())
        if sizes and sum(sizes) < catalog.ONE_TASK_SCAN_BYTES:
            # a small local input is written by one task, still one file
            # per chunk: the shuffle below would run as its own AQE job
            out = out.coalesce(1)
        else:
            # shuffle rows to their partition so each time chunk is
            # written by few tasks (avoids small-file explosion at scale)
            out = out.repartition(F.col("__dt"))
        if cluster_by:
            # CLUSTERED BY (range shard-spec analog): sort rows within
            # each time chunk so parquet min/max stats prune on these
            # columns (DimensionRangeShardSpec secondary pruning)
            out = out.sortWithinPartitions("__dt", *cluster_by)
        out.write.mode(mode).partitionBy("__dt").parquet(self.path(datasource))

    def write_bucketed(self, df: DataFrame, datasource: str,
                       bucket_by: list[str], n_buckets: int = 32,
                       sort_by: list[str] | None = None,
                       mode: str = "overwrite") -> str:
        """Hash-bucketed segment table (the hashed shard-spec /
        DimensionRangeShardSpec co-location analog,
        processing/.../timeline/partition/HashBasedNumberedShardSpec.java).

        Two tables bucketed on their join keys with the same bucket
        count join WITHOUT a shuffle — Spark reads bucket i of both
        sides into the same task. At 100 TB this converts the nightly
        fact-to-fact join from a full network shuffle into local
        merges; the bucket count should be sized so one bucket of the
        larger table fits an executor core (e.g. 4096 for 100 TB).
        Requires the session catalog (saveAsTable) — bucket metadata
        lives there, not in plain parquet paths."""
        name = f"bucketed_{datasource}"
        writer = (df.write.mode(mode).format("parquet")
                  .option("path", self.path(name))
                  .bucketBy(n_buckets, *bucket_by))
        if sort_by:
            writer = writer.sortBy(*sort_by)
        writer.saveAsTable(name)
        return name

    def table(self, datasource: str) -> DataFrame:
        return self.spark.read.parquet(self.path(datasource)).drop("__dt")


def run_ingestion(spark: SparkSession, spec: dict[str, Any],
                  table_service: TableService) -> str:
    """Top-level: compile + execute an index_parallel-style spec.
    Returns the datasource name."""
    inner = spec.get("spec", spec)
    io = inner["ioConfig"]
    schema = inner["dataSchema"]
    name = schema["dataSource"]
    gran_spec = schema.get("granularitySpec", {})

    df = read_input(spark, io, table_service)
    df = apply_timestamp_spec(df, schema.get("timestampSpec", {}))
    input_cols = set(df.columns)
    df = apply_transform_spec(df, schema.get("transformSpec"))

    dims_spec = schema.get("dimensionsSpec", {})
    dims = [d if isinstance(d, str) else d["name"]
            for d in dims_spec.get("dimensions") or []]
    if not dims:  # schemaless: every non-time, non-metric column.
        # Transform-only outputs are NOT discovered: the reference's
        # TransformedInputRow.getDimensions() (processing/.../
        # transform/TransformedInputRow.java:51) returns the source
        # row's dimensions, so a transform column is stored only when
        # dimensionsSpec names it explicitly.
        metric_fields = {m.get("fieldName") for m in schema.get("metricsSpec") or []}
        tr_only = {t.get("name") for t in
                   (schema.get("transformSpec") or {})
                   .get("transforms", [])} - input_cols
        dims = [c for c in df.columns
                if c not in ("__time",) and c not in metric_fields
                and c not in tr_only]

    # spatialDimensions (DimensionsSpec.java:120 SpatialDimensionSchema):
    # source coordinate columns join into one "lat,lon" encoded
    # dimension — the format the spatial filter decodes
    for sd in dims_spec.get("spatialDimensions") or []:
        parts = [F.col(c).cast("string") for c in sd.get("dims") or []]
        if parts:
            df = df.withColumn(sd["dimName"], F.concat_ws(",", *parts))
            if sd["dimName"] not in dims:
                dims.append(sd["dimName"])

    if gran_spec.get("rollup", False):
        df = apply_rollup(df, dims, schema.get("metricsSpec") or [],
                          gran_spec.get("queryGranularity", "none"))
    else:
        keep = ["__time"] + dims + [m.get("fieldName") for m in
                                    schema.get("metricsSpec") or []
                                    if m.get("fieldName")]
        df = df.select(*[c for c in dict.fromkeys(keep) if c in df.columns])

    intervals = gran_spec.get("intervals")
    if intervals:
        from druid_spark.engine import DruidSparkEngine
        pred = DruidSparkEngine.intervals_predicate(intervals)
        if pred is not None:
            df = df.where(pred)

    table_service.write(df, name,
                        gran_spec.get("segmentGranularity", "day"),
                        mode="overwrite")
    return name
