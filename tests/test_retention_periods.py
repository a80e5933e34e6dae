"""Retention rules and the query-priority threshold measure periods as
Druid does: calendar months and years (Joda's now.minus(period)) from
the UTC clock."""

import datetime as dt
import time

import pytest

from druid_spark import DruidSparkEngine
from druid_spark.coordinator import RetentionDuty
from druid_spark.scheduler import ThresholdPrioritization


def _table(e, name: str, stamps: list[str], grain: str) -> None:
    """Write one row per stamp into a `grain` warehouse table, as the
    index task does, and commit it."""
    svc = e.table_service()
    rows = e.spark.sql("SELECT * FROM VALUES " + ", ".join(
        f"(TIMESTAMP '{s}', {i})" for i, s in enumerate(stamps))
        + " AS t(__time, v)")
    svc.write(rows, name, grain)
    e.catalog.commit(name, svc.path(name), grain)


@pytest.fixture()
def eng(spark, tmp_path):
    e = DruidSparkEngine(spark)
    e.warehouse_dir = str(tmp_path)
    yield e
    e.close()


def test_month_period_is_a_calendar_month(eng):
    """At 2024-03-31, now - P1M is 2024-02-29: the chunk of that day
    ends after the horizon and stays; a 30-day month dropped it."""
    _table(eng, "rt_month", ["2024-02-28 06:00:00", "2024-02-29 06:00:00",
                             "2024-03-01 06:00:00"], "day")
    duty = RetentionDuty(eng, now=dt.datetime(2024, 3, 31))
    duty.set_rules("rt_month", [{"type": "dropBeforeByPeriod",
                                 "period": "P1M"}])
    assert [d["partition"] for d in duty.run_once()] == ["__dt=2024-02-28"]


def test_priority_period_threshold_is_a_calendar_month():
    p = ThresholdPrioritization(period_threshold="P1M")
    now = dt.datetime(2024, 3, 31)

    def query(start: str) -> dict:
        return {"intervals": [f"{start}/2024-03-31"],
                "context": {"priority": 0}}

    assert p.compute_priority(query("2024-02-29T12:00:00Z"), now=now) is None
    assert p.compute_priority(query("2024-02-28T12:00:00Z"), now=now) == -5


@pytest.mark.parametrize("period", ["P", "PT", "P1X", "", None, 5])
def test_malformed_period_raises(period):
    duty = RetentionDuty(None, now=dt.datetime(2024, 3, 31))
    with pytest.raises(ValueError):
        duty._decide([{"type": "dropBeforeByPeriod", "period": period}],
                     dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2),
                     dt.datetime(2024, 3, 31))
    if period:
        with pytest.raises(ValueError):
            ThresholdPrioritization(period_threshold=period)


def test_retention_clock_is_utc(eng, monkeypatch):
    """On a host whose local clock runs 14 hours ahead of UTC, the
    current hour's chunk is younger than PT2H and stays."""
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    _table(eng, "rt_clock", [f"{now:%Y-%m-%d %H:%M:%S}"], "hour")
    duty = RetentionDuty(eng)
    duty.set_rules("rt_clock", [{"type": "dropBeforeByPeriod",
                                 "period": "PT2H"}])
    monkeypatch.setenv("TZ", "XXX-14")  # POSIX: UTC+14
    time.tzset()
    try:
        dropped = duty.run_once()
    finally:
        monkeypatch.undo()
        time.tzset()
    assert dropped == []
