"""Single-row oracle: reference-exact parse → enrich → route semantics.

Pure Python, no Spark. This is the executable specification the vectorized
Spark pipeline is tested against byte-for-byte:

- ``parse_line``: GrokParser.parse semantics (reference
  parser/GrokParser.java:82-122 + grok/api/Match.java:142-207) — capture in
  group order, typed conversion with failure→"", quote-strip, duplicate keys
  collected into lists, ``;json`` maps flattened into the record, UNWANTED
  keys removed,
- ``serialize_record``: Gson-compatible sorted-key compact JSON,
- ``process_line`` / ``process_lines``: DefaultFileReader's per-line decision
  table (DefaultFileReader.java:252-310): blank-skip, oversize→error route,
  parse-fail→error count, ok→provenance fields + serialized record, plus
  ReaderMetrics ceil-minute buckets (metrics/ReaderMetrics.java:29-35).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Any, Iterable

from log_collector_spark.grok.compiler import CompiledGrok
from log_collector_spark.grok.converters import clean_string, convert_value
from log_collector_spark.grok.gson import gson_dumps


def capture_line(compiled: CompiledGrok, line: str) -> dict[str, Any] | None:
    """Match + captures(): the raw TreeMap contents (incl. null entries),
    BEFORE garbage cleaning. Returns None when the line does not match
    (Match.EMPTY → empty map)."""
    if line is None or not line.strip():
        return None  # Grok.match: blank text → Match.EMPTY (Grok.java:297-299)
    m = compiled.pattern().search(line)
    if not m:
        return None
    capture: dict[str, Any] = {}
    for spec in compiled.captures:
        gval = m.group(spec.group)
        if gval is not None:
            value: Any = str(gval)
            converted = convert_value(spec.type, spec.fmt, value)
            key = spec.key
            if isinstance(converted, str):
                value = clean_string(converted)
            else:
                value = converted
        else:
            # null group: conversion skipped; key stays the RAW semantic name
            # (Match.java:171-183 — convert() never runs, so no spec split)
            key = spec.raw
            value = None
        if isinstance(value, dict):
            capture.update(value)  # one-level JSON flatten (Match.java:185-187)
        else:
            if key in capture:
                cur = capture[key]
                if isinstance(cur, list):
                    cur.append(value)
                else:
                    capture[key] = [cur, value]
            else:
                capture[key] = value
    return capture


def clean_map(capture: dict[str, Any]) -> dict[str, Any]:
    """Garbage.remove (grok/api/Garbage.java:95-144): 'UNWANTED' is always
    removed."""
    capture.pop("UNWANTED", None)
    return capture


def parse_line(compiled: CompiledGrok, line: str,
               ip_field: str | None = None,
               ip_lookup: "IpRangeLookup | None" = None) -> dict[str, Any]:
    """GrokParser.parse: returns the cleaned record map (empty dict == parse
    failure, per DefaultFileReader.java:284-288)."""
    capture = capture_line(compiled, line)
    if capture is None:
        return {}
    record = clean_map(capture)
    if ip_field and ip_lookup is not None:
        ip = record.get(ip_field)
        if isinstance(ip, str):
            record.update(ip_lookup.lookup(ip))
    return record


def serialize_record(record: dict[str, Any]) -> str:
    return gson_dumps(record)


# ---------------------------------------------------------------------------
# IP range lookup (reference util/IpConverter.java) — oracle version
# ---------------------------------------------------------------------------

import re as _re

_IP_RE = _re.compile(r"^((\d{1,3})\.(\d{1,3})\.(\d{1,3})\.(\d{1,3}))")

IP_LIB_FIELDS = [
    "sugo_nation", "sugo_province", "sugo_city", "sugo_district",
    "sugo_operator", "sugo_latitude", "sugo_longitude", "sugo_city_timezone",
    "sugo_timezone", "sugo_administrative", "sugo_phone_code",
    "sugo_nation_code", "sugo_continent", "sugo_area",
]


def ip_to_number(ip: str) -> int:
    """(a<<24)+(b<<16)+(c<<8)+d; 0 when the string is not ip-shaped
    (IpConverter.java:88-97)."""
    m = _IP_RE.match(ip)
    if not m:
        return 0
    return (int(m.group(2)) << 24) + (int(m.group(3)) << 16) + \
        (int(m.group(4)) << 8) + int(m.group(5))


class IpRangeLookup:
    """Sorted range map keyed by range_end+1; lookup = strictly-higher entry
    (TreeMap.higherEntry, IpConverter.java:48-59,77-78)."""

    def __init__(self, rows: Iterable[str], need_fields: set[str] | None = None):
        """rows: pipe-separated 16-column lines (col0=start ip, col1=end ip,
        cols 2..15 = IP_LIB_FIELDS values)."""
        entries: dict[int, dict[str, str]] = {}
        for line in rows:
            cols = line.rstrip("\n").split("|")
            if len(cols) != 16:
                continue
            lib = {f: cols[i + 2] for i, f in enumerate(IP_LIB_FIELDS)
                   if not need_fields or f in need_fields}
            entries[ip_to_number(cols[1]) + 1] = lib
        self.keys = sorted(entries)
        self.values = [entries[k] for k in self.keys]

    def lookup(self, ip: str | None) -> dict[str, str]:
        if not ip:
            return {}
        import bisect
        n = ip_to_number(ip)
        i = bisect.bisect_right(self.keys, n)  # first key strictly > n
        if i >= len(self.keys):
            return {}
        return self.values[i]


# ---------------------------------------------------------------------------
# Reader-loop decision table + metrics (oracle for routing/count equality)
# ---------------------------------------------------------------------------

SINK_OK_SUFFIX = "_etl"  # KafkaReader.java:86-89 topic rewrite
SINK_ERRORS = "errors"  # oversize records (DefaultFileReader.java:256-263)
SINK_FAILURES = "failures"  # parse failures (DefaultFileReader.java:284-288)
DEFAULT_MAX_SIZE_BYTES = 1048576  # reader.message.max_size.bytes (Configure.java:23-24)


def ceil_minute_ms(ts_ms: int) -> int:
    """ReaderMetrics bucket key: ceil(ts/60000)*60000 (ReaderMetrics.java:30)."""
    return int(math.ceil(ts_ms / 60000.0)) * 60000


@dataclass
class LineOutcome:
    disposition: str  # 'blank' | 'oversize' | 'ok' | 'parse_fail'
    sink: str | None
    record_json: str | None = None
    record: dict[str, Any] | None = None


@dataclass
class OracleCounts:
    success: int = 0
    error: int = 0
    lines: int = 0
    minute_buckets: dict[int, int] = field(default_factory=dict)
    sink_counts: dict[str, int] = field(default_factory=dict)


def process_line(compiled: CompiledGrok, line: str, *,
                 source: str = "default", host: str = "127.0.0.1",
                 filename: str = "transcripts",
                 max_size: int = DEFAULT_MAX_SIZE_BYTES,
                 metric_time_field: str | None = None,
                 ip_field: str | None = None,
                 ip_lookup: IpRangeLookup | None = None) -> LineOutcome:
    """One line through DefaultFileReader's loop (DefaultFileReader.java:252-310)."""
    size = len(line.encode("utf-8"))
    if size >= max_size:
        return LineOutcome("oversize", SINK_ERRORS)
    if not line.strip():
        return LineOutcome("blank", None)
    record = parse_line(compiled, line, ip_field=ip_field, ip_lookup=ip_lookup)
    if len(record) == 0:
        return LineOutcome("parse_fail", SINK_FAILURES)
    record["directory"] = source
    record["host"] = host
    record["filename"] = filename
    return LineOutcome("ok", source + SINK_OK_SUFFIX,
                       record_json=gson_dumps(record), record=record)


def process_lines(compiled: CompiledGrok, lines: Iterable[str],
                  **kw: Any) -> tuple[list[LineOutcome], OracleCounts]:
    """All lines + ReaderMetrics-equivalent counters."""
    metric_time_field = kw.get("metric_time_field")
    outcomes: list[LineOutcome] = []
    c = OracleCounts()
    for line in lines:
        o = process_line(compiled, line, **kw)
        outcomes.append(o)
        c.lines += 1
        if o.disposition == "ok":
            c.success += 1
            if metric_time_field and o.record and isinstance(
                    o.record.get(metric_time_field), int):
                b = ceil_minute_ms(o.record[metric_time_field])
                c.minute_buckets[b] = c.minute_buckets.get(b, 0) + 1
        elif o.disposition in ("oversize", "parse_fail"):
            c.error += 1
        if o.sink:
            c.sink_counts[o.sink] = c.sink_counts.get(o.sink, 0) + 1
    return outcomes, c
