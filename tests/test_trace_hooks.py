"""The traced benchmark run (perfbench/spans.py) wraps engine entry
points by name at run time. These tests install and remove those
wrappers without Spark, so a renamed entry point fails here rather than
in a traced run."""

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spans():
    spec = importlib.util.spec_from_file_location(
        "perfbench_spans", os.path.join(ROOT, "perfbench", "spans.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_layer_spans_install_and_uninstall():
    from druid_spark import engine, scheduler, server
    spans = _spans()
    before = (server._Handler.do_POST, server.shape_native, server.json,
              engine.DruidSparkEngine.query, engine.DruidSparkEngine.sql,
              scheduler.QueryScheduler.submit)
    tracer = spans.Tracer()
    spans.install_layer_spans(tracer)
    try:
        assert len(tracer._patches) == 9
        assert server.shape_native is not before[1]
        assert scheduler.QueryScheduler.submit is not before[-1]
    finally:
        tracer.uninstall()
    assert (server._Handler.do_POST, server.shape_native, server.json,
            engine.DruidSparkEngine.query, engine.DruidSparkEngine.sql,
            scheduler.QueryScheduler.submit) == before
