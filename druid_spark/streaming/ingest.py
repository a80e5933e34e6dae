"""Streaming ingestion: continuous append into a queryable table.

Druid's streaming model (SURVEY §2.10) is supervised consumer tasks
appending to an in-memory queryable buffer, periodically persisted and
handed off to historical storage
(idx/seekablestream/supervisor/SeekableStreamSupervisor.java:159,
server/.../realtime/appenderator/StreamAppenderator.java:119).

Spark mapping (SURVEY §7.3.7 design):
- the supervisor = a Structured Streaming query + checkpoint dir
  (offsets tracked by the engine — Druid keeps them in its metadata
  store, SeekableStreamStartSequenceNumbers.java)
- exactly-once = checkpoint + file-sink transactional commit log
  (Druid: SegmentTransactionalInsertAction.java:56)
- queryable tail + historical = `tail/` parquet appended per
  micro-batch, `history/` owned by the compactor; reads see
  history ∪ tail (the handoff state machine without custom machinery)
- late-message rejection (SeekableStreamSupervisorIOConfig.java:60
  lateMessageRejectionPeriod) = withWatermark + an explicit filter
  (rejection is a filter, not just state GC)
- ingest-time rollup = windowed groupBy with watermark, append mode.

Kafka: `source={"type": "kafka", ...}` compiles to the JVM
readStream.format("kafka") when the connector JAR is present, else to
the pure-Python wire-protocol source (streaming/kafka.py +
kafka_source.py) — same output schema, per-partition offset-range
reads in executor tasks. Tests run against an in-process
MiniKafkaBroker speaking the real protocol.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from druid_spark import granularity as G
from druid_spark.aggregations import AggCompiler
from druid_spark.ingest.batch import apply_transform_spec


def read_stream(spark: SparkSession, source: dict[str, Any]) -> DataFrame:
    st = source["type"]
    flatten = source.get("flattenSpec")
    if flatten:
        from druid_spark.ingest.batch import apply_flatten_spec
        src = dict(source)
        src.pop("flattenSpec")
        # pure select → applies to streaming DataFrames unchanged
        # (reference: flattenSpec rides the inputFormat for streaming
        # supervisors too — JSONPathSpec.java)
        return apply_flatten_spec(read_stream(spark, src), flatten)
    if st == "kafka":
        bootstrap = source["consumerProperties"]["bootstrap.servers"]
        topic = source["topic"]
        starting = source.get("startingOffsets", "latest")
        try:
            # the JVM connector when its JAR is on the classpath
            # (production clusters) — identical schema either way
            raw = (spark.readStream.format("kafka")
                   .option("kafka.bootstrap.servers", bootstrap)
                   .option("subscribe", topic)
                   .option("startingOffsets", starting)
                   .load())
        except Exception:
            # pure-Python wire-protocol source (streaming/kafka.py +
            # kafka_source.py): per-partition offset-range fetches in
            # executor tasks, offsets in the streaming checkpoint
            from druid_spark.streaming.kafka_source import (
                SOURCE_NAME, ensure_registered)
            ensure_registered(spark)
            raw = (spark.readStream.format(SOURCE_NAME)
                   .option("bootstrap", bootstrap)
                   .option("topic", topic)
                   .option("startingOffsets", starting)
                   .load())
        # value bytes → json columns via the provided schema
        schema = source.get("valueSchema")
        if schema:
            return raw.select(
                F.from_json(F.col("value").cast("string"), schema).alias("v")
            ).select("v.*")
        return raw
    if st == "kinesis":
        # KinesisSupervisorIOConfig (extensions-core/
        # kinesis-indexing-service/.../KinesisSupervisorIOConfig.java):
        # stream + endpoint + useEarliestSequenceNumber. JVM connector
        # first (production clusters with a kinesis connector JAR),
        # else the pure-Python wire client (streaming/kinesis.py +
        # kinesis_source.py) — per-shard sequence ranges in executor
        # tasks, offsets in the streaming checkpoint.
        endpoint = source["endpoint"]
        stream_name = source["stream"]
        starting = source.get("startingPosition",
                              "trim_horizon" if source.get(
                                  "useEarliestSequenceNumber")
                              else "latest")
        try:
            raw = (spark.readStream.format("kinesis")
                   .option("endpointUrl", endpoint)
                   .option("streamName", stream_name)
                   .option("startingposition", starting)
                   .load())
        except Exception:
            from druid_spark.streaming.kinesis_source import (
                SOURCE_NAME as KSRC, ensure_registered as ensure_k)
            ensure_k(spark)
            raw = (spark.readStream.format(KSRC)
                   .option("endpoint", endpoint)
                   .option("stream", stream_name)
                   .option("startingPosition", starting)
                   .load())
        schema = source.get("valueSchema")
        if schema:
            return raw.select(
                F.from_json(F.col("data").cast("string"), schema)
                .alias("v")).select("v.*")
        return raw
    if st == "file":
        fmt = source.get("format", "json")
        reader = spark.readStream.schema(source["schema"])
        if fmt == "json":
            return reader.json(source["path"])
        if fmt == "csv":
            return reader.option("header", "true").csv(source["path"])
        if fmt == "parquet":
            return reader.parquet(source["path"])
        raise NotImplementedError(fmt)
    if st == "rate":
        return (spark.readStream.format("rate")
                .option("rowsPerSecond", source.get("rowsPerSecond", 100))
                .load())
    raise NotImplementedError(f"stream source {st}")


class StreamingIngest:
    def __init__(self, spark: SparkSession, base_dir: str, datasource: str):
        self.spark = spark
        self.base = os.path.join(base_dir, datasource)
        self.tail = os.path.join(self.base, "tail")
        self.history = os.path.join(self.base, "history")
        self.checkpoint = os.path.join(self.base, "_checkpoint")
        os.makedirs(self.tail, exist_ok=True)
        os.makedirs(self.history, exist_ok=True)
        # schema of the queryable view, captured when a query starts —
        # lets view() return an empty TYPED frame before the first
        # micro-batch commits (Druid: a datasource with no published
        # segments still answers with its declared signature)
        self._view_schema = None

    def start(self, stream: DataFrame, time_column: str = "timestamp",
              transform_spec: dict | None = None,
              late_rejection: str | None = None,
              early_rejection: str | None = None,
              trigger: dict | None = None):
        """Append raw (non-rollup) events to the tail area."""
        df = stream.withColumn("__time", F.col(time_column))
        df = apply_transform_spec(df, transform_spec)
        if late_rejection:
            df = df.withWatermark("__time", late_rejection)
            # rejection, not just state GC: drop rows older than the
            # period relative to processing time
            df = df.where(
                F.col("__time") >=
                F.current_timestamp() - F.expr(f"INTERVAL {late_rejection}"))
        if early_rejection:
            # earlyMessageRejectionPeriod (SeekableStreamSupervisor-
            # IOConfig.java:61): drop rows stamped further in the
            # FUTURE than the period — bad clocks must not pollute
            # far-future partitions
            df = df.where(
                F.col("__time") <=
                F.current_timestamp()
                + F.expr(f"INTERVAL {early_rejection}"))
        self._view_schema = df.schema
        writer = (df.writeStream
                  .foreachBatch(self._batch_writer())
                  .option("checkpointLocation", self.checkpoint)
                  .outputMode("append"))
        writer = _with_trigger(writer, trigger)
        return writer.start()

    def _batch_writer(self):
        """foreachBatch sink: each micro-batch lands in its own
        batch=<id> dir with overwrite mode → idempotent on retry
        (exactly-once = checkpoint offsets + idempotent write; the
        analog of Druid's transactional segment publish with offsets,
        SegmentTransactionalInsertAction.java:56). Plain parquet dirs —
        no sink commit log — so handoff can move files freely.

        A replay of a batch whose write completed (its dir, in the tail
        or in history, still holds every file its _FILES manifest names,
        and the manifest was written by the same streaming query) writes
        nothing: the replay carries the same offsets, so its rows are
        already there, and an overwrite would delete files that a
        concurrent view() has listed. A batch missing files is
        rewritten. The query is told apart by the id Spark keeps in
        <checkpoint>/metadata: a supervisor reset deletes the
        checkpoint, and the new query numbers its batches from 0 again,
        so a batch=<id> dir left by the old query holds other rows."""
        tail, history, checkpoint = self.tail, self.history, self.checkpoint

        def write_batch(batch_df, batch_id):
            name = f"batch={batch_id}"
            run = _query_id(checkpoint)
            if run is not None and any(
                    _batch_complete(os.path.join(d, name), run)
                    for d in (tail, history)):
                return
            out = os.path.join(tail, name)
            batch_df.write.mode("overwrite").parquet(out)
            # written after the data, so a manifest whose files all
            # exist marks a whole batch
            with open(os.path.join(out, _MANIFEST), "w") as fh:
                fh.write("\n".join([run or ""] + [
                    f for f in os.listdir(out)
                    if not f.startswith(("_", "."))]))

        return write_batch

    def start_rollup(self, stream: DataFrame, dims: list[str],
                     metrics: list[dict], query_granularity: Any = "minute",
                     time_column: str = "timestamp",
                     watermark: str = "10 minutes",
                     trigger: dict | None = None):
        """Ingest-time rollup: watermarked window groupBy, append-mode
        (buckets emit once the watermark passes — the micro-persist of
        IncrementalIndex rollup)."""
        df = (stream.withColumn("__time", F.col(time_column))
              .withWatermark("__time", watermark))
        gran_ms = {"second": "1 second", "minute": "1 minute",
                   "hour": "1 hour", "day": "1 day"}[query_granularity]
        keys = [F.window("__time", gran_ms).alias("__w")] + \
            [F.col(d) for d in dims]
        aggs = AggCompiler(F.col).compile_all(metrics) or \
            [F.count(F.lit(1)).alias("count")]
        rolled = (df.groupBy(*keys).agg(*aggs)
                  .withColumn("__time", F.col("__w.start")).drop("__w"))
        self._view_schema = rolled.schema
        writer = (rolled.writeStream
                  .foreachBatch(self._batch_writer())
                  .option("checkpointLocation", self.checkpoint)
                  .outputMode("append"))
        writer = _with_trigger(writer, trigger)
        return writer.start()

    def _has_committed(self, p: str) -> bool:
        """True iff `p` holds at least one COMMITTED parquet file.

        Mirrors Spark's committed-file path filter (InMemoryFileIndex
        shouldFilterOutPathName): any path component starting with `_`
        or `.` — notably the `_temporary/` staging dirs a mid-flight
        micro-batch writes under — is invisible to the read, so it must
        be invisible to this probe too, else a poll landing mid-batch
        sees "files exist", reads zero committed footers, and raises
        UNABLE_TO_INFER_SCHEMA instead of honoring the view contract."""
        for root, dirs, files in os.walk(p):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for f in files:
                if f.endswith(".parquet") and not f.startswith(("_", ".")):
                    return True
        return False

    def view(self) -> DataFrame:
        """Queryable union of historical ∪ tail (Druid: broker merging
        historical + realtime segments for one datasource). Before the
        first commit, returns an empty frame typed with the running
        query's schema when known, else raises ValueError."""
        parts = []
        for p in (self.history, self.tail):
            if not self._has_committed(p):
                continue
            try:
                parts.append(self.spark.read
                             .option("recursiveFileLookup", "true").parquet(p))
            except Exception:
                # probe→read race (e.g. handoff moved the only file
                # between the walk and the footer read): treat as empty
                continue
        if not parts:
            if self._view_schema is not None:
                return self.spark.createDataFrame([], self._view_schema)
            raise ValueError("no data ingested yet")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def handoff(self) -> None:
        """Promote tail files into history (compaction/handoff:
        StreamAppenderator.java persist→merge→push cycle). Idempotent:
        a file is moved exactly once; the streaming checkpoint keeps
        exactly-once on the write side."""
        import shutil
        for fn in os.listdir(self.tail):
            if fn.startswith("batch="):
                dest = os.path.join(self.history, fn)
                if os.path.exists(dest):
                    shutil.rmtree(dest)
                shutil.move(os.path.join(self.tail, fn), dest)


# names the streaming query and the data files of a completed
# batch=<id> write; the leading _ hides it from Spark's reads and from
# _has_committed
_MANIFEST = "_FILES"


def _query_id(checkpoint: str) -> str | None:
    """The id of the streaming query that owns `checkpoint` (Spark
    writes {"id": ...} to its metadata file when the query first
    starts, and a restart on the same checkpoint keeps it), or None
    when it cannot be read."""
    try:
        with open(os.path.join(checkpoint, "metadata")) as fh:
            return json.loads(fh.readline())["id"]
    except (OSError, ValueError, KeyError, TypeError):
        return None


def _batch_complete(path: str, run: str) -> bool:
    """True iff the batch dir `path` has a manifest written by the
    streaming query `run` and every file it names."""
    try:
        with open(os.path.join(path, _MANIFEST)) as fh:
            owner, *names = fh.read().split("\n")
    except OSError:
        return False
    return owner == run and all(
        os.path.exists(os.path.join(path, n)) for n in names if n)


def _with_trigger(writer, trigger: dict | None):
    if trigger:
        return writer.trigger(**trigger)
    return writer.trigger(availableNow=True)


def start_supervisor(spark: SparkSession, spec: dict[str, Any],
                     base_dir: str, trigger: dict | None = None):
    """Druid supervisor-spec JSON → a running streaming ingest.

    Accepts the reference's Kafka supervisor spec shape
    (idx/seekablestream/supervisor/SeekableStreamSupervisor.java;
    KafkaSupervisorIOConfig: topic/consumerProperties/
    lateMessageRejectionPeriod; dataSchema: timestampSpec/dimensionsSpec/
    metricsSpec/granularitySpec.rollup). Returns (StreamingIngest, query).
    Non-Kafka `stream` sources (file/rate) are accepted for test
    environments without a broker — the spec shape is identical.
    """
    inner = spec.get("spec", spec)
    schema = inner["dataSchema"]
    io = inner["ioConfig"]
    name = schema["dataSource"]

    source = io.get("stream")
    if isinstance(source, str):
        # Kinesis supervisor spec: ioConfig.stream is the STREAM NAME
        # (KinesisSupervisorIOConfig.java), endpoint alongside
        source = {
            "type": "kinesis",
            "stream": source,
            "endpoint": io["endpoint"],
            "useEarliestSequenceNumber":
                io.get("useEarliestSequenceNumber", False),
            "valueSchema": io.get("valueSchema"),
        }
    source = source or {
        "type": "kafka",
        "topic": io["topic"],
        "consumerProperties": io.get("consumerProperties", {}),
        "startingOffsets": "earliest" if io.get(
            "useEarliestOffset", io.get("useEarliestSequenceNumber"))
        else "latest",
        "valueSchema": io.get("valueSchema"),
    }
    stream = read_stream(spark, source)

    ts_spec = schema.get("timestampSpec", {})
    time_col = ts_spec.get("column", "timestamp")
    late = io.get("lateMessageRejectionPeriod")
    if late:  # ISO period → Spark interval string
        late = _iso_period_to_interval(late)
    early = io.get("earlyMessageRejectionPeriod")
    if early:
        early = _iso_period_to_interval(early)

    ingest = StreamingIngest(spark, base_dir, name)
    gran_spec = schema.get("granularitySpec", {})
    if gran_spec.get("rollup", False):
        dims_spec = schema.get("dimensionsSpec", {})
        dims = [d if isinstance(d, str) else d["name"]
                for d in dims_spec.get("dimensions") or []]
        query = ingest.start_rollup(
            stream, dims, schema.get("metricsSpec") or [],
            query_granularity=gran_spec.get("queryGranularity", "minute"),
            time_column=time_col,
            watermark=late or "10 minutes", trigger=trigger)
    else:
        query = ingest.start(
            stream, time_column=time_col,
            transform_spec=schema.get("transformSpec"),
            late_rejection=late, early_rejection=early,
            trigger=trigger)
    # Re-submitting a spec for the same dataSource REPLACES the running
    # supervisor (SupervisorManager keeps an id-keyed map and stops the
    # prior instance): stop the old query, drop its registry entry.
    for old in [s for s in SUPERVISORS if s["supervisor_id"] == name]:
        try:
            old["query"].stop()
        except Exception:
            pass
        SUPERVISORS.remove(old)
    SUPERVISORS.append({"supervisor_id": name, "datasource": name,
                        "source": source.get("type", "unknown"),
                        "suspended": False, "query": query})
    return ingest, query


# Running-supervisor registry feeding the sys.supervisors view
# (SystemSchema.java SUPERVISOR_SIGNATURE; state derived live from the
# streaming query handle). Process-wide like the reference's
# SupervisorManager map.
SUPERVISORS: list[dict[str, Any]] = []


def _iso_period_to_interval(period: str) -> str:
    """'PT1H' → '1 hours', 'P1D' → '1 days', 'PT30M' → '30 minutes'."""
    from druid_spark.granularity import period_to_millis
    ms = period_to_millis(period)
    if ms % 86_400_000 == 0:
        return f"{ms // 86_400_000} days"
    if ms % 3_600_000 == 0:
        return f"{ms // 3_600_000} hours"
    if ms % 60_000 == 0:
        return f"{ms // 60_000} minutes"
    return f"{ms // 1000} seconds"
