"""Presentation sinks: Sheets grid, chart payload, Telegram notifications
(S10-S12, SURVEY.md §2.1) plus the P19 timestamp-serialization schema walk.

The reference ships three driver-side publication channels:
- Google Sheets (`dags/etl/gold_price_to_sheets.py:96-155`): result set →
  `[headers] + rows` grid, timestamps stringified, `worksheet.update`.
- Charts (`dags/report/cheap_expensive_chart.py:118-273`): ranking result →
  matplotlib pie renderings.
- Telegram (`dags/utils/telegram_alert.py:35-178`): messages/photos with a
  2-attempt timeout retry and a caption-length cap.

These are inherently single-writer driver boundaries — no third-party API
ingests a distributed write — so the Spark-side contract is: do ALL shaping
(joins, serialization, ordering, capping) in the plan, collect a bounded
grid at the very edge, and hand it to an injectable transport. The
transports themselves (gspread, matplotlib, telegram) are NOT bundled:
`SheetsSink`/`TelegramSink` default to a clearly-marked unconfigured state,
and every shaping function is pure and tested.

At 100 TB the cap is the design, not a shortcut: a Sheets export is
meaningful only for small result sets, so `sheet_grid` hard-caps rows and
the cap is visible in the API. Full-fidelity data exchange belongs to the
parquet writers (operators/merge.py), not a presentation sink.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, TimestampType

TS_FORMAT = "yyyy-MM-dd HH:mm:ss"  # gold_price_to_sheets.py:66 strftime


def serialize_for_export(df: DataFrame) -> DataFrame:
    """P19 (gold_price_to_sheets.py:64-82): walk the schema and stringify
    every timestamp/date column for JSON-safe export. Runs Spark-side
    (whole-stage codegen `date_format`), not in a driver loop over rows —
    the reference's per-row `pd.isna`/`strftime` loop is the anti-pattern
    this engine replaces."""
    cols = []
    for field in df.schema.fields:
        c = F.col(field.name)
        if isinstance(field.dataType, TimestampType):
            cols.append(F.date_format(c, TS_FORMAT).alias(field.name))
        elif isinstance(field.dataType, DateType):
            cols.append(F.date_format(c, "yyyy-MM-dd").alias(field.name))
        else:
            cols.append(c)
    return df.select(*cols)


def sheet_grid(df: DataFrame, max_rows: int = 100_000) -> list[list[Any]]:
    """S10 grid shaping (gold_price_to_sheets.py:134-149): `[headers] +
    data rows`, NULLs as None, timestamps pre-stringified. `max_rows` is a
    hard cap enforced in the plan (limit pushes into the scan): a
    presentation sink must never become an unbounded collect."""
    sdf = serialize_for_export(df).limit(max_rows)
    return [list(sdf.columns)] + [list(row) for row in sdf.collect()]


def chart_payload(
    df: DataFrame,
    label_col: str,
    value_col: str,
    color_col: str | None = None,
    max_slices: int = 64,
) -> dict[str, list[Any]]:
    """S11 data side of the pie/chart sink (cheap_expensive_chart.py:
    118-273): the render-ready payload — labels, values, and the sources'
    deterministic colors — separated from the matplotlib render, which is
    driver-side and out of engine scope."""
    cols = [label_col, value_col] + ([color_col] if color_col else [])
    rows = df.select(*cols).limit(max_slices).collect()
    payload: dict[str, list[Any]] = {
        "labels": [r[0] for r in rows],
        "values": [r[1] for r in rows],
    }
    if color_col:
        payload["colors"] = [r[2] for r in rows]
    return payload


TELEGRAM_MESSAGE_LIMIT = 4096
TELEGRAM_CAPTION_LIMIT = 1024  # telegram_alert.py:110 caption[:1024]


def telegram_chunks(text: str, limit: int = TELEGRAM_MESSAGE_LIMIT) -> list[str]:
    """Split a report into API-sized messages, preferring newline
    boundaries (telegram_alert.py sends one message per report; long
    reports must chunk rather than fail)."""
    chunks: list[str] = []
    while len(text) > limit:
        cut = text.rfind("\n", 1, limit)
        if cut <= 0:
            cut = limit
        chunks.append(text[:cut])
        text = text[cut:].lstrip("\n")
    if text:
        chunks.append(text)
    return chunks


def with_retry(
    fn: Callable[[], Any],
    attempts: int = 2,
    delay_s: float = 2.0,
    retry_on: type[BaseException] = Exception,
    sleep: Callable[[float], None] = time.sleep,
) -> Any:
    """The reference's retry loop (telegram_alert.py:47-66): `attempts`
    tries with a fixed sleep between them; the last failure propagates.
    `sleep` is injectable so tests run instantly."""
    for attempt in range(attempts):
        try:
            return fn()
        except retry_on:
            if attempt == attempts - 1:
                raise
            sleep(delay_s)


def _unconfigured(channel: str) -> Callable[..., Any]:
    def raise_(*_args: Any, **_kwargs: Any) -> Any:
        raise NotImplementedError(
            f"{channel} transport not configured: presentation sinks are "
            "driver-side network boundaries; inject a transport callable."
        )

    return raise_


class SheetsSink:
    """S10: `write(df)` shapes the grid in Spark and hands it to the
    transport (signature: transport(grid) -> None). The gspread client of
    the reference plugs in here; tests inject a list-collector."""

    def __init__(
        self,
        transport: Callable[[list[list[Any]]], None] | None = None,
        max_rows: int = 100_000,
    ) -> None:
        self.transport = transport or _unconfigured("Google Sheets")
        self.max_rows = max_rows

    def write(self, df: DataFrame) -> int:
        grid = sheet_grid(df, self.max_rows)
        self.transport(grid)
        return len(grid) - 1  # data rows written


class TelegramSink:
    """S12: message/photo notification with the reference's retry
    semantics. Transport signatures: send_message(text) -> None,
    send_photo(photo_bytes, caption) -> None."""

    def __init__(
        self,
        send_message: Callable[[str], None] | None = None,
        send_photo: Callable[[bytes, str], None] | None = None,
        attempts: int = 2,
        delay_s: float = 2.0,
        sleep: Callable[[float], None] = time.sleep,
    ) -> None:
        self._send_message = send_message or _unconfigured("Telegram")
        self._send_photo = send_photo or _unconfigured("Telegram")
        self.attempts = attempts
        self.delay_s = delay_s
        self.sleep = sleep

    def send_text(self, text: str) -> int:
        chunks = telegram_chunks(text)
        for chunk in chunks:
            with_retry(
                lambda c=chunk: self._send_message(c),
                attempts=self.attempts,
                delay_s=self.delay_s,
                sleep=self.sleep,
            )
        return len(chunks)

    def send_photo(self, photo: bytes, caption: str = "") -> None:
        with_retry(
            lambda: self._send_photo(photo, caption[:TELEGRAM_CAPTION_LIMIT]),
            attempts=self.attempts,
            delay_s=self.delay_s,
            sleep=self.sleep,
        )


__all__: Sequence[str] = [
    "serialize_for_export",
    "sheet_grid",
    "chart_payload",
    "telegram_chunks",
    "with_retry",
    "SheetsSink",
    "TelegramSink",
]
