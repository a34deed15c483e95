"""Enrichment stage: row → 0..N rows transforms between read and write.

Reference: ``packages/protocol/src/index.ts:183-218,302-305`` defines the
enrichment channel (``enrichment-request`` → ``enrichment-response``);
``sync.ts:430-447,539-554,587-613`` applies it per row, re-validating results
and dropping rows whose enrichment errors. (The reference's package-based
provider is declared but unreachable — ``sync.ts:108-110`` throws; the
protocol semantics are what we preserve.)

Two execution paths, each written once in runner.py and shared by every
sync path (``run_sync``, ``run_sync_distributed``, ``run_streaming_sync``):
- driver-side (``runner.validate_and_enrich``): any
  ``Enrichment.enrich(row)``, outputs re-validated per stage,
- executor-side (``runner.deliver_tagged`` / ``_enrich_distributed``):
  ``enrich_dataframe`` runs the same enrichment inside ``mapInPandas`` —
  Arrow-batched, executor-parallel, 1→0..N row expansion via JSON rows so
  arbitrary schema changes are possible. Top-level
  timestamp/date inputs are revived to datetime/date objects to match the
  parity path's row contract; BinaryType inputs arrive as base64 strings
  here (JSON boundary) vs bytearray on the parity path — enrichments over
  binary columns should use the parity path or decode explicitly.
"""

from __future__ import annotations

import json
from abc import ABC, abstractmethod
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from syncmaven_spark.types import RowJSONEncoder


class Enrichment(ABC):
    @abstractmethod
    def enrich(self, row: dict[str, Any]) -> list[dict[str, Any]]:
        """Return 0..N output rows for one input row. Raising drops the row."""


class CallableEnrichment(Enrichment):
    def __init__(self, fn: Callable[[dict[str, Any]], list[dict[str, Any]]]):
        self._fn = fn

    def enrich(self, row: dict[str, Any]) -> list[dict[str, Any]]:
        return self._fn(row)


class HttpEnrichment(Enrichment):
    """Enrichment over an HTTP service: POST the row, get back 0..N rows —
    the in-process analog of the enrichment channel."""

    def __init__(self, url: str, transport: Callable[..., Any] | None = None,
                 timeout_ms: int = 10_000) -> None:
        self.url = url
        self.timeout_ms = timeout_ms
        self._transport = transport

    def enrich(self, row: dict[str, Any]) -> list[dict[str, Any]]:
        if self._transport is not None:
            result = self._transport(self.url, row)
        else:
            import requests

            resp = requests.post(
                self.url,
                data=json.dumps(row, cls=RowJSONEncoder).encode(),
                headers={"Content-Type": "application/json"},
                timeout=self.timeout_ms / 1000.0,
            )
            resp.raise_for_status()
            result = resp.json()
        if result is None:
            return []
        return result if isinstance(result, list) else [result]


def enrich_dataframe(
    df: DataFrame,
    enrichment_factory: Callable[[], Enrichment],
    output_schema: T.StructType | str | None = None,
) -> DataFrame:
    """Executor-parallel enrichment via ``mapInPandas``.

    ``enrichment_factory`` is called once per executor task (keeps clients /
    sessions out of the pickled closure). Rows cross the Python boundary as
    one JSON column; enrichment errors drop the row (reference semantics).
    Output schema defaults to the input schema (enrichments that only add
    pass-through rows); pass a wider schema for shape-changing enrichments.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    schema = output_schema or df.schema
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    field_names = [f.name for f in schema.fields]
    json_df = df.select(
        F.to_json(
            F.struct(*[F.col(c) for c in df.columns]),
            {"ignoreNullFields": "false"},
        ).alias("_row")
    )

    # rows cross the boundary as JSON, so temporal values come back as
    # ISO-millis strings — coerce them to the schema's Arrow types
    ltz_cols = [
        f.name for f in schema.fields if isinstance(f.dataType, T.TimestampType)
    ]
    ntz_cols = [
        f.name for f in schema.fields
        if isinstance(f.dataType, T.TimestampNTZType)
    ]
    date_cols = [
        f.name for f in schema.fields if isinstance(f.dataType, T.DateType)
    ]

    # INPUT temporal columns are parsed back to datetime/date objects before
    # the enrichment sees the row: the parity path (runner.py driver loop)
    # hands enrichments `row.asDict(recursive=True)` — datetime objects —
    # and an enrichment written against that contract (row['ts'].year)
    # would otherwise raise on every row here and be silently dropped
    # (round-5 core review). Top-level columns only; nested temporal
    # fields stay ISO strings on both paths' JSON images.
    in_temporal: dict[str, str] = {}
    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampType):
            in_temporal[f.name] = "ltz"
        elif isinstance(f.dataType, T.TimestampNTZType):
            in_temporal[f.name] = "ntz"
        elif isinstance(f.dataType, T.DateType):
            in_temporal[f.name] = "date"

    if in_temporal:
        import datetime as _indt

        def _revive(row: dict[str, Any]) -> dict[str, Any]:
            for name, kind in in_temporal.items():
                v = row.get(name)
                if not isinstance(v, str):
                    continue
                if kind == "date":
                    row[name] = _indt.date.fromisoformat(v[:10])
                else:
                    parsed = _indt.datetime.fromisoformat(
                        v.replace("Z", "+00:00")
                    )
                    if parsed.tzinfo is not None:
                        # naive-UTC, matching Row.asDict under the pinned
                        # UTC driver timezone
                        parsed = parsed.astimezone(
                            _indt.timezone.utc
                        ).replace(tzinfo=None)
                    row[name] = parsed
            return row
    else:
        _revive = None  # no temporal inputs — skip the per-row pass

    def apply(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        enrichment = enrichment_factory()
        for pdf in batches:
            out_rows = []
            for raw in pdf["_row"]:
                try:
                    row = json.loads(raw)
                    if _revive is not None:
                        row = _revive(row)
                    # materialize FIRST: a generator raising mid-iteration
                    # must drop the whole source row's output (sync.ts:
                    # 545-549), not deliver the rows it yielded before the
                    # error (partial delivery doubles up on restarts)
                    produced = [
                        [out.get(name) for name in field_names]
                        for out in enrichment.enrich(row)
                    ]
                except Exception:
                    continue  # enrichment errors drop the row
                out_rows.extend(produced)
            out = pd.DataFrame(out_rows, columns=field_names)
            if len(out):
                for c in ltz_cols:
                    out[c] = pd.to_datetime(out[c], utc=True)
                for c in ntz_cols:
                    out[c] = pd.to_datetime(out[c])
                for c in date_cols:
                    out[c] = pd.to_datetime(out[c]).dt.date
            yield out

    return json_df.mapInPandas(apply, schema)
