"""Presentation-sink layer (S10-S12, P19): grid shaping, timestamp
serialization, chunking, retry semantics — everything up to the injectable
network edge."""

import datetime as dt

import pytest

from myserver_datawarehouse_spark import sinks as S


@pytest.fixture()
def frame(spark):
    return spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 2, 3, 4, 5), dt.date(2024, 1, 2), 1.5, None),
            (2, None, None, None, "x"),
        ],
        "id int, ts timestamp, d date, v double, s string",
    )


def test_serialize_for_export_stringifies_temporals(frame):
    out = S.serialize_for_export(frame)
    assert dict(out.dtypes)["ts"] == "string"
    assert dict(out.dtypes)["d"] == "string"
    assert dict(out.dtypes)["v"] == "double"  # non-temporal untouched
    rows = {r.id: r for r in out.collect()}
    assert rows[1].ts == "2024-01-02 03:04:05"
    assert rows[1].d == "2024-01-02"
    assert rows[2].ts is None


def test_sheet_grid_headers_rows_nulls(frame):
    grid = S.sheet_grid(frame.orderBy("id"))
    assert grid[0] == ["id", "ts", "d", "v", "s"]
    assert grid[1] == [1, "2024-01-02 03:04:05", "2024-01-02", 1.5, None]
    assert grid[2] == [2, None, None, None, "x"]


def test_sheet_grid_caps_rows(spark):
    df = spark.range(100).orderBy("id")
    assert len(S.sheet_grid(df, max_rows=7)) == 8  # header + 7


def test_sheets_sink_writes_through_transport(frame):
    captured = []
    n = S.SheetsSink(transport=captured.append).write(frame.orderBy("id"))
    assert n == 2 and len(captured) == 1 and len(captured[0]) == 3


def test_sheets_sink_unconfigured_raises(frame):
    with pytest.raises(NotImplementedError, match="transport not configured"):
        S.SheetsSink().write(frame)


def test_chart_payload(spark):
    df = spark.createDataFrame(
        [("a", 3, "#111111"), ("b", 7, "#222222")], "label string, v long, c string"
    ).orderBy("label")
    p = S.chart_payload(df, "label", "v", "c")
    assert p == {"labels": ["a", "b"], "values": [3, 7], "colors": ["#111111", "#222222"]}


def test_telegram_chunks_prefers_newlines():
    text = "aaaa\nbbbb\ncccc"
    chunks = S.telegram_chunks(text, limit=10)
    assert chunks == ["aaaa\nbbbb", "cccc"]
    assert S.telegram_chunks("x" * 25, limit=10) == ["x" * 10, "x" * 10, "x" * 5]
    assert S.telegram_chunks("short") == ["short"]


def test_with_retry_recovers_then_propagates():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 2:
            raise TimeoutError("boom")
        return "ok"

    slept = []
    assert S.with_retry(flaky, attempts=2, sleep=slept.append) == "ok"
    assert slept == [2.0]

    def dead():
        raise TimeoutError("always")

    with pytest.raises(TimeoutError):
        S.with_retry(dead, attempts=3, sleep=slept.append)


def test_telegram_sink_chunks_retries_caps_caption():
    sent, photos = [], []
    fail_once = {"n": 0}

    def send(text):
        if fail_once["n"] == 0:
            fail_once["n"] += 1
            raise TimeoutError("timeout")
        sent.append(text)

    sink = S.TelegramSink(
        send_message=send,
        send_photo=lambda p, c: photos.append((p, c)),
        sleep=lambda _s: None,
    )
    n = sink.send_text("a" * 5000)
    assert n == 2 and len(sent) == 2
    sink.send_photo(b"png", "c" * 2000)
    assert len(photos[0][1]) == S.TELEGRAM_CAPTION_LIMIT
