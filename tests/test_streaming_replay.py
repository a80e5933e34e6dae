"""A replayed micro-batch must not rewrite a batch=<id> dir whose first
write completed: the rewrite deleted the files a concurrent view() had
listed (FILE_NOT_EXIST in the chaos matrix's post_write_pre_commit
case), and a batch already handed off to history came back a second
time in the tail. The skip holds only within one streaming query: after
a supervisor reset the new query numbers its batches from 0 again, and
its batches must be written."""
import json
import os


def _files(path):
    return sorted(f for f in os.listdir(path) if f.endswith(".parquet"))


def _as_query(ing, query_id):
    """Make ing's checkpoint name `query_id` as its owner, as Spark's
    checkpoint metadata file does for a running query."""
    os.makedirs(ing.checkpoint, exist_ok=True)
    with open(os.path.join(ing.checkpoint, "metadata"), "w") as fh:
        fh.write(json.dumps({"id": query_id}) + "\n")


def test_replayed_batch_keeps_first_write(spark, tmp_path):
    from druid_spark.streaming.ingest import StreamingIngest
    ing = StreamingIngest(spark, str(tmp_path), "replay")
    _as_query(ing, "q1")
    write = ing._batch_writer()
    batch = spark.createDataFrame([(i,) for i in range(6)], "v long")
    write(batch, 0)
    bdir = os.path.join(ing.tail, "batch=0")
    first = _files(bdir)
    assert first
    write(batch, 0)                  # the replay of batch 0
    assert _files(bdir) == first
    assert ing.view().count() == 6

    ing.handoff()                    # batch 0 now lives in history
    write(batch, 0)
    assert not os.path.exists(bdir)
    assert ing.view().count() == 6


def test_replayed_batch_missing_files_is_rewritten(spark, tmp_path):
    from druid_spark.streaming.ingest import StreamingIngest
    ing = StreamingIngest(spark, str(tmp_path), "partial")
    _as_query(ing, "q1")
    write = ing._batch_writer()
    batch = spark.createDataFrame([(i,) for i in range(6)],
                                  "v long").repartition(3)
    write(batch, 0)
    bdir = os.path.join(ing.tail, "batch=0")
    os.remove(os.path.join(bdir, _files(bdir)[0]))
    write(batch, 0)
    assert sorted(r.v for r in ing.view().collect()) == list(range(6))


def test_batch_of_another_query_is_written(spark, tmp_path):
    from druid_spark.streaming.ingest import StreamingIngest
    ing = StreamingIngest(spark, str(tmp_path), "other")
    _as_query(ing, "q1")
    ing._batch_writer()(
        spark.createDataFrame([(i,) for i in range(3)], "v long"), 0)
    _as_query(ing, "q2")             # a new query on a fresh checkpoint
    ing._batch_writer()(
        spark.createDataFrame([(i,) for i in range(3, 8)], "v long"), 0)
    assert sorted(r.v for r in ing.view().collect()) == list(range(3, 8))


def test_records_after_supervisor_reset_reach_view(engine, tmp_path):
    """Ingest, suspend, add records, reset: the restarted query's batch 0
    reads every file again, and must not be skipped as a replay of the
    old query's batch 0."""
    from druid_spark.server import _Overlord

    src = tmp_path / "src"
    src.mkdir()

    def put(name, values):
        (src / name).write_text("".join(
            json.dumps({"timestamp": "2024-01-01T00:00:00Z", "v": v}) + "\n"
            for v in values))

    class _Engine:                   # the shared engine, own warehouse
        spark = engine.spark

        def __init__(self):
            from druid_spark.ingest.batch import TableService
            self._svc = TableService(engine.spark, str(tmp_path / "wh"))

        def table_service(self):
            return self._svc

    ov = _Overlord(_Engine())
    spec = {"spec": {
        "ioConfig": {"stream": {"type": "file", "format": "json",
                                "path": str(src),
                                "schema": "timestamp timestamp, v long"}},
        "dataSchema": {"dataSource": "reset_ds",
                       "timestampSpec": {"column": "timestamp"},
                       "granularitySpec": {"rollup": False}}}}
    put("a.json", range(3))
    try:
        assert ov.supervisor_submit(spec)[0] == 200
        rec = ov._supervisors["reset_ds"]
        rec["query"].awaitTermination(120)
        assert sorted(r.v for r in rec["ingest"].view().collect()) == [0, 1, 2]

        assert ov.supervisor_suspend("reset_ds")[0] == 200
        put("b.json", range(3, 5))
        assert ov.supervisor_reset("reset_ds")[0] == 200
        rec = ov._supervisors["reset_ds"]
        rec["query"].awaitTermination(120)
        assert sorted(r.v for r in rec["ingest"].view().collect()) == \
            list(range(5))
    finally:
        ov.supervisor_shutdown("reset_ds")
