"""Vectorized grok parse over Arrow batches (NO per-row Python UDFs).

This is the engine's analog of the reference's per-line loop
(reader/file/DefaultFileReader.java:233-324 + grok/api/Match.java:142-207),
re-expressed as batch columnar operations:

- ONE regex pass per batch with the precompiled, driver-expanded pattern
  (RE2 ``extract_regex`` where a strictly narrower form of it exists, the
  exact Python engine for the remaining rows) — the "precompiled pattern
  dictionary applied per-batch" mandated by the target spec,
- typed conversion as numpy/pandas column ops (strict-Java validity masks;
  failure → ``""`` in the serialized record, null in the typed column),
- SimpleDateFormat → epoch-ms as pure int64 arithmetic (Hinnant
  days-from-civil), no datetime objects,
- Gson-equal ``parsed_json`` assembled by vectorized string concatenation of
  per-key fragments in sorted-key order (pyarrow C++ string kernels) —
  byte-identical to the single-row oracle (tests enforce this).

``;json``-typed captures (dynamic key sets, Converter.java:235-270) share the
same single regex pass and columnar assembly; the only per-row Python they add
is one ``json.loads`` + Gson fragment rendering of the json column itself.
"""

from __future__ import annotations

import re
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from log_collector_spark.grok.compiler import CompiledGrok, CaptureSpec
from log_collector_spark.grok.converters import _sdf_to_regex, _DEFAULT_DATETIME_FMT
from log_collector_spark.grok.gson import (
    GSON_ESCAPE_TABLE, gson_escape, java_double_str, java_float_str)

_INT_FULL = re.compile(r"^[+-]?[0-9]+$")
_FP_FULL = re.compile(r"^[+-]?((\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?|Infinity|NaN)[fFdD]?$")

_INT_RANGES = {"byte": (-128, 127), "short": (-(2 ** 15), 2 ** 15 - 1),
               "int": (-(2 ** 31), 2 ** 31 - 1), "long": (-(2 ** 63), 2 ** 63 - 1)}

_DAYS_IN_MONTH = np.array([0, 31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31],
                          dtype="int64")


def days_from_civil(y: np.ndarray, m: np.ndarray, d: np.ndarray) -> np.ndarray:
    """Days since 1970-01-01 (proleptic Gregorian), vectorized int64."""
    y = y - (m <= 2)
    era = y // 400  # numpy floor division == Hinnant's era formula
    yoe = y - era * 400
    mp = np.where(m > 2, m - 3, m + 9)
    doy = (153 * mp + 2) // 5 + d - 1
    doe = yoe * 365 + yoe // 4 - yoe // 100 + doy
    return era * 146097 + doe - 719468


def _is_leap(y: np.ndarray) -> np.ndarray:
    return ((y % 4 == 0) & (y % 100 != 0)) | (y % 400 == 0)


_FAST_ISO_FMT = "yyyy-MM-dd HH:mm:ss"
_ISO_DIGIT_POS = np.array([0, 1, 2, 3, 5, 6, 8, 9, 11, 12, 14, 15, 17, 18])


def sdf_epoch_ms_vec(values: pd.Series, fmt: str) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized SimpleDateFormat prefix-parse → (epoch_ms int64, valid bool).

    Mirrors converters.parse_sdf_epoch_ms (UTC pinned; strict day-in-month,
    documented deviation from Java's lenient rollover). The ubiquitous
    ``yyyy-MM-dd HH:mm:ss`` format takes a fixed-width codepoint-arithmetic
    fast path (the regex re-parse was ~25% of parse_batch); rows that don't
    have the strict 19-char shape (variable widths, prefixes, garbage) fall
    back to the regex path row-subset, so the result is value-identical.
    """
    if fmt == _FAST_ISO_FMT:
        return _sdf_fast_iso(values)
    _, fields = _sdf_to_regex(fmt)
    if _RARE_SDF_FIELDS.intersection(fields):
        return _sdf_scalar_fallback(values, fmt)
    return _sdf_regex_vec(values, fmt)


# Letters with calendar-resolution semantics too rare to justify a numpy
# twin (W/F/u/G/Y — never seen in log timestamp formats): per-row delegation
# to the scalar kernel keeps them byte-equal by construction. The hot formats
# (fixed-width ISO fast path + all y/M/d/H/m/s/S/a/E/D/w/k/K/h/X/Z/z shapes)
# never take this path.
_RARE_SDF_FIELDS = frozenset(
    {"wyear", "wyear2", "wom", "dowim", "downum", "era"})


def _sdf_scalar_fallback(values: pd.Series,
                         fmt: str) -> tuple[np.ndarray, np.ndarray]:
    from log_collector_spark.grok.converters import (
        ConversionError, parse_sdf_epoch_ms)
    vals = values.tolist() if hasattr(values, "tolist") else list(values)
    n = len(vals)
    ms = np.zeros(n, dtype="int64")
    ok = np.zeros(n, dtype=bool)
    for i, v in enumerate(vals):
        if isinstance(v, str):
            try:
                ms[i] = parse_sdf_epoch_ms(v, fmt)
                ok[i] = True
            except ConversionError:
                pass
    return ms, ok


def _sdf_fast_iso(values: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    vals = values.tolist() if hasattr(values, "tolist") else list(values)
    n = len(vals)
    if n == 0:
        return np.zeros(0, dtype="int64"), np.zeros(0, dtype=bool)
    is_str = np.fromiter((isinstance(x, str) for x in vals), bool, count=n)
    arr = np.array([x if isinstance(x, str) else "" for x in vals],
                   dtype="U19")
    codes = arr.view(np.uint32).reshape(n, -1)[:, :19].astype("int64")
    d = codes - 48
    sep_ok = ((codes[:, 4] == 45) & (codes[:, 7] == 45) &
              (codes[:, 10] == 32) & (codes[:, 13] == 58) &
              (codes[:, 16] == 58))
    dd = d[:, _ISO_DIGIT_POS]
    digits_ok = ((dd >= 0) & (dd <= 9)).all(axis=1)
    strict = is_str & sep_ok & digits_ok

    year = d[:, 0] * 1000 + d[:, 1] * 100 + d[:, 2] * 10 + d[:, 3]
    month = d[:, 5] * 10 + d[:, 6]
    day = d[:, 8] * 10 + d[:, 9]
    hour = d[:, 11] * 10 + d[:, 12]
    minute = d[:, 14] * 10 + d[:, 15]
    second = d[:, 17] * 10 + d[:, 18]

    # identical range validation to the regex path
    month_c = np.clip(month, 1, 12)
    dim = _DAYS_IN_MONTH[month_c] + ((month_c == 2) & _is_leap(year))
    valid = strict & (month >= 1) & (month <= 12) & (day >= 1) & (day <= dim)
    valid &= (hour >= 0) & (hour < 24) & (minute >= 0) & (minute < 60) & \
        (second >= 0) & (second <= 60)

    days = days_from_civil(year, month_c, np.clip(day, 1, 31))
    ms = np.where(strict,
                  days * 86400000 + hour * 3600000 + minute * 60000 +
                  second * 1000, 0)

    # non-strict STRINGS may still parse under the variable-width regex
    # (e.g. '2023-1-5 0:0:0' or a >19-char prefix year) — regex-parse just
    # that subset
    fallback = is_str & ~strict
    if fallback.any():
        idx = np.nonzero(fallback)[0]
        sub = pd.Series([vals[i] for i in idx], dtype=object)
        ms_s, ok_s = _sdf_regex_vec(sub, _FAST_ISO_FMT)
        ms[idx] = ms_s
        valid[idx] = ok_s
    return ms.astype("int64"), valid


def _sdf_regex_vec(values: pd.Series, fmt: str) -> tuple[np.ndarray, np.ndarray]:
    rx, fields = _sdf_to_regex(fmt)
    # anchor like re.match (prefix match); _sdf_to_regex emits exactly one
    # capture group per field, in order. Direct match loop: ~3-5x faster than
    # pandas str.extract (no per-row Series machinery).
    n = len(values)
    ngroups = rx.groups
    empty = (None,) * ngroups
    vals = values.tolist() if hasattr(values, "tolist") else list(values)
    ms_ = [rx.match(x) if isinstance(x, str) else None for x in vals]
    colt = list(zip(*((m.groups() if m is not None else empty) for m in ms_))) \
        if n else [() for _ in range(ngroups)]
    ext = pd.DataFrame(
        {f: pd.Series(colt[i] if n else [], dtype=object)
         for i, f in enumerate(fields)})

    def geti(name: str, default: int) -> tuple[np.ndarray, np.ndarray]:
        if name not in fields:
            return np.full(n, default, dtype="int64"), np.zeros(n, dtype=bool)
        col = ext[name]
        present = col.notna().to_numpy()
        out = np.full(n, default, dtype="int64")
        if present.any():
            out[present] = col[present].astype("int64")
        return out, present

    # the overall regex match is the validity gate (optional groups may be NA)
    valid = (~ext.isna().all(axis=1).to_numpy()) if len(ext.columns) else \
        np.zeros(n, dtype=bool)

    year, _ = geti("year", 1970)
    if "year2" in fields:
        y2, p2 = geti("year2", 70)
        year = np.where(p2, np.where(y2 < 70, 2000 + y2, 1900 + y2), year)
    month, _ = geti("month", 1)
    if "month_name" in fields:
        mn = ext["month_name"].fillna("")
        codes = mn.str[:3].str.title().map(
            {m: i + 1 for i, m in enumerate(
                ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
                 "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"])}).fillna(1)
        month = np.where(mn.to_numpy() != "", codes.to_numpy().astype("int64"), month)
    day, _ = geti("day", 1)
    hour, _ = geti("hour", 0)
    minute, _ = geti("minute", 0)
    second, _ = geti("second", 0)
    millis, _ = geti("millis", 0)
    pm = np.zeros(n, dtype=bool)
    if "ampm" in fields:
        pm = ext["ampm"].fillna("").str.lower().eq("pm").to_numpy()
    # hour-field variants, strict bounds per the Java golden
    # (converters.parse_sdf_epoch_ms is the scalar twin; tests enforce parity)
    if "hour12" in fields:
        h12, p12 = geti("hour12", 0)
        hour = np.where(p12, (h12 % 12) + np.where(pm, 12, 0), hour)
        valid &= ~p12 | ((h12 >= 1) & (h12 <= 12))
    if "hour24" in fields:
        h24, p24 = geti("hour24", 0)
        hour = np.where(p24, h24 % 24, hour)  # 24 → 00 same day
        valid &= ~p24 | ((h24 >= 1) & (h24 <= 24))
    if "hour011" in fields:
        h011, p011 = geti("hour011", 0)
        hour = np.where(p011, h011 + np.where(pm, 12, 0), hour)
        valid &= ~p011 | ((h011 >= 0) & (h011 <= 11))

    off_min = np.zeros(n, dtype="int64")
    for tzf in ("tz_iso", "tz_rfc"):
        if tzf in fields:
            tz = ext[tzf].fillna("")
            has = (tz != "").to_numpy() & (tz != "Z").to_numpy()
            if has.any():
                sgn = np.where(tz.str[0].eq("-").fillna(False).to_numpy(), -1, 1)
                hh = pd.to_numeric(tz.str[1:3], errors="coerce").fillna(0).astype("int64").to_numpy()
                mmstr = tz.str[3:].str.replace(":", "", regex=False)
                mm = pd.to_numeric(mmstr, errors="coerce").fillna(0).astype("int64").to_numpy()
                off_min = np.where(has, sgn * (hh * 60 + mm), off_min)

    # strict range validation (month/day/hour/min/sec)
    month_c = np.clip(month, 1, 12)
    dim = _DAYS_IN_MONTH[month_c] + ((month_c == 2) & _is_leap(year))
    valid &= (month >= 1) & (month <= 12) & (day >= 1) & (day <= dim)
    valid &= (hour >= 0) & (hour < 24) & (minute >= 0) & (minute < 60) & \
        (second >= 0) & (second <= 60)

    days = days_from_civil(year, month_c, np.clip(day, 1, 31))

    # DAY_OF_YEAR / WEEK_OF_YEAR / DAY_OF_WEEK: resolution priority
    # MONTH+DAY > doy > week (GregorianCalendar DAY_OF_MONTH group first);
    # strict mode re-validates every parsed field against the resolved date.
    # Week rules: firstDayOfWeek=SUNDAY, minimalDaysInFirstWeek=1 (ENGLISH).
    if ("doy" in fields) or ("week" in fields) or ("weekday" in fields):
        have_md = ("month" in fields) or ("month_name" in fields) or \
            ("day" in fields)
        one = np.ones_like(year)
        jan1 = days_from_civil(year, one, one)
        jan1n = days_from_civil(year + 1, one, one)
        if "doy" in fields:
            doy_a, _ = geti("doy", 1)
            if not have_md:
                days = jan1 + doy_a - 1
                valid &= (doy_a >= 1) & (days < jan1n)  # YEAR consistency
            else:
                valid &= (days - jan1 + 1) == doy_a
        if "week" in fields:
            week_a, _ = geti("week", 1)
            week1 = jan1 - (jan1 + 4) % 7  # Sunday on/before Jan 1 (epoch=Thu)
            if not have_md and "doy" not in fields:
                days = week1 + (week_a - 1) * 7  # the week's Sunday
                # strict YEAR + recomputed-WOY consistency: Sunday within the
                # year, and its week must not contain next Jan 1 (→ woy 1)
                valid &= (days >= jan1) & (days + 6 < jan1n)
            else:
                ws = days - (days + 4) % 7
                woy = np.where(ws + 6 >= jan1n, 1, (ws - week1) // 7 + 1)
                valid &= woy == week_a
        if "weekday" in fields:
            wmap: dict[str, int] = {}
            for i, nm in enumerate(["sunday", "monday", "tuesday", "wednesday",
                                    "thursday", "friday", "saturday"]):
                wmap[nm] = i
                wmap[nm[:3]] = i
            idx = ext["weekday"].fillna("").str.lower().map(wmap) \
                .fillna(-1).to_numpy().astype("int64")
            valid &= idx == (days + 4) % 7  # epoch day 0 = Thursday = index 4

    ms = (days * 86400000 + hour * 3600000 + minute * 60000 + second * 1000 +
          millis - off_min * 60000)
    return ms, valid


def _clean_arrow(arr: "pa.Array") -> "pa.Array":
    """Match.cleanString on an Arrow array: strip symmetric quotes."""
    ln = pc.utf8_length(arr)
    first = pc.utf8_slice_codeunits(arr, 0, 1)
    last = pc.utf8_slice_codeunits(arr, -1)
    isq = pc.or_(pc.equal(first, '"'), pc.equal(first, "'"))
    sym = pc.and_(pc.and_(pc.greater_equal(ln, 2),
                          pc.equal(first, last)), isq)
    single = pc.and_(pc.equal(ln, 1), isq)
    out = pc.if_else(sym, pc.utf8_slice_codeunits(arr, 1, -1), arr)
    return pc.if_else(single, pa.scalar("", pa.string()), out)


# backslash and double-quote are escaped UNCONDITIONALLY (two C++ passes;
# backslash first — its replacement introduces backslashes that must not be
# re-escaped). The remaining escape set is probed with ONE regex scan and the
# per-char chain only runs when some row actually contains one of them.
_RARE_ESCAPES = [chr(c) for c in GSON_ESCAPE_TABLE
                 if chr(c) not in ("\\", '"')]
_RARE_CLASS = "[" + "".join(
    re.escape(c) if c >= " " else "\\x%02x" % ord(c)
    for c in _RARE_ESCAPES) + "]"


def _escape_arrow(arr: "pa.Array") -> "pa.Array":
    arr = pc.replace_substring(arr, "\\", "\\\\")
    arr = pc.replace_substring(arr, '"', '\\"')
    if pc.any(pc.match_substring_regex(arr, _RARE_CLASS)).as_py():
        for ch in _RARE_ESCAPES:
            arr = pc.replace_substring(arr, ch, GSON_ESCAPE_TABLE[ord(ch)])
    return arr


class VectorizedGrokParser:
    """Batch parser for one compiled grok expression.

    ``parse_batch(text)`` returns a DataFrame with:
    - ``parse_ok`` (bool): Grok.match found AND text non-blank,
    - ``parsed_json`` (object str / None): Gson-equal serialized record
      (including provenance constants), None when parse failed,
    - one typed column per non-UNWANTED output key (None on conversion
      failure or non-participation).
    """

    RESERVED = {"parse_ok", "parsed_json"}

    def __init__(self, compiled: CompiledGrok,
                 provenance: dict[str, str] | None = None):
        self.compiled = compiled
        self.provenance = dict(provenance or {})
        self._rx: re.Pattern | None = None
        self._fast = self._fast_pattern()
        # typed output schema: first spec per distinct visible key
        self.typed_keys: list[tuple[str, str | None]] = []
        seen = set()
        for c in compiled.captures:
            k = self._final_key(c.key)
            if k is None or k in seen:
                continue
            seen.add(k)
            if k in self.RESERVED:
                raise ValueError(f"capture key {k!r} collides with reserved column")
            self.typed_keys.append((k, c.type))

    @staticmethod
    def _final_key(key: str) -> str | None:
        """Garbage.remove: the UNWANTED key never reaches the record."""
        return None if key == "UNWANTED" else key

    def pattern(self) -> re.Pattern:
        if self._rx is None:
            self._rx = re.compile(self.compiled.python_regex)
        return self._rx

    # RE2 fast path: the DEMO-family pattern `[X] [iso-ts] {json}` minus
    # the two constructs RE2 rejects/changes, each replaced by a STRICTLY
    # NARROWER form so any fast-path match is provably the same match (and
    # the same named-group spans) the Python engine would produce at
    # position 0 — rows the narrow form misses fall back to the exact
    # Python loop, so behavior is byte-identical by construction:
    #   (?>dd){1,2} year  → \d{4}   (a 4-digit year followed by '-' never
    #                                exercises the atomic cut)
    #   (json)|(-)|()     → \{.*\}$ (first alternative only; leftmost-first
    #                                would pick it greedily anyway)
    # plus `^` anchoring (search's leftmost match can't be left of 0) and
    # an ASCII-only row guard (Python \s is unicode-aware, RE2's is not).
    _ISO_YEAR = r"(?>\d\d){1,2}"
    _JSON_TAIL_RX = re.compile(r"\(\?P<(name\d+)>\(\\\{\.\*\\\}\)\|\(-\)\|\(\)\)$")

    def _fast_pattern(self) -> str | None:
        """RE2 pattern string, or None when this expression isn't in the
        fast-path family or RE2 rejects it (then every row takes the Python
        loop). Eligibility is decided once here, by compiling the pattern
        against a one-row array, never per batch."""
        pr = self.compiled.python_regex
        m = self._JSON_TAIL_RX.search(pr)
        if m is None or self._ISO_YEAR not in pr:
            return None
        pr = pr[:m.start()] + f"(?P<{m.group(1)}>\\{{.*\\}})$"
        pr = "^" + pr.replace(self._ISO_YEAR, r"\d{4}")
        if "(?>" in pr:   # other atomic groups → not fast-path eligible
            return None
        try:
            pc.extract_regex(pa.array([""], pa.string()), pattern=pr)
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
            return None
        return pr

    # -- fragment builders ---------------------------------------------------

    def _convert(self, spec: CaptureSpec, v: pd.Series, present: np.ndarray
                 ) -> tuple[np.ndarray, Any]:
        """→ (json_fragment str array aligned to batch, typed values or None).

        Fragment excludes the key part; '' where not present. Conversion
        failure renders as '""' (Java failure→empty string) with typed None.
        """
        n = len(v)
        frag = np.full(n, "", dtype=object)
        typed: Any = None
        t = spec.type
        if t is None or t == "string":
            if t == "string" and spec.fmt is not None:
                # two-arg scalar convert returns null (Converter IConverter base)
                frag[present] = "null"
                return frag, None
            # stays in Arrow end-to-end (C++ kernels)
            arr = pa.Array.from_pandas(v, type=pa.string())
            cleaned = _clean_arrow(arr)
            q = pa.scalar('"', pa.string())
            fr = pc.binary_join_element_wise(q, _escape_arrow(cleaned), q, "")
            fr_np = fr.fill_null("").to_numpy(zero_copy_only=False)
            frag[present] = fr_np[present]
            return frag, cleaned.to_numpy(zero_copy_only=False)
        if t in ("date", "datetime"):
            fmt = spec.fmt or _DEFAULT_DATETIME_FMT
            try:
                _sdf_to_regex(fmt)  # unsupported format letters → all fail→""
            except Exception:
                frag[present] = '""'
                return frag, None
            ms, ok = sdf_epoch_ms_vec(v, fmt)
            ok = ok & present
            strs = ms.astype("U32").astype(object)
            frag[present] = '""'
            frag[ok] = strs[ok]
            typed = pd.array(ms, dtype="Int64")
            typed[~ok] = pd.NA
            return frag, typed
        vv = v.astype("string")
        if t in _INT_RANGES:
            if spec.fmt is not None:
                frag[present] = "null"
                return frag, None
            lo, hi = _INT_RANGES[t]
            shaped = vv.str.match(_INT_FULL).fillna(False).to_numpy() & present
            # fast path: <=18 digits always fits int64; longer goes per-value
            short = shaped & (vv.str.len().fillna(0) <= 18).to_numpy()
            long_tail = shaped & ~short
            ivals = np.zeros(n, dtype="int64")
            ok = short.copy()
            if short.any():
                ivals[short] = vv[short].astype("int64").to_numpy()
            for i in np.nonzero(long_tail)[0]:  # 19+-digit boundary (rare)
                iv = int(vv.iloc[i])
                if lo <= iv <= hi:
                    ivals[i] = iv
                    ok[i] = True
            ok = ok & (ivals >= lo) & (ivals <= hi)
            strs = ivals.astype("U32").astype(object)
            frag[present] = '""'
            frag[ok] = strs[ok]
            typed = np.where(ok, ivals, 0)
            typed = pd.array(typed, dtype="Int64")
            typed[~ok] = pd.NA
            return frag, typed
        if t in ("float", "double"):
            if spec.fmt is not None:
                frag[present] = "null"
                return frag, None
            stripped = vv.str.strip()
            ok = stripped.str.match(_FP_FULL).fillna(False).to_numpy() & present
            nums = pd.to_numeric(
                stripped.str.replace(r"[fFdD]$", "", regex=True),
                errors="coerce").to_numpy(dtype="float64", na_value=np.nan)
            ok &= ~np.isnan(nums) | stripped.str.contains("NaN", regex=False).fillna(False).to_numpy()
            fmt_fn = java_float_str if t == "float" else java_double_str
            frag[present] = '""'
            idx = np.nonzero(ok)[0]
            for i in idx:  # numeric text layout (rare column type); small loop
                frag[i] = fmt_fn(np.float32(nums[i]) if t == "float" else nums[i])
            if t == "float":
                typed = pd.array(np.where(ok, nums, np.nan).astype("float32"),
                                 dtype="Float32")
            else:
                typed = pd.array(np.where(ok, nums, np.nan), dtype="Float64")
            typed[~ok] = pd.NA
            return frag, typed
        if t == "boolean":
            if spec.fmt is not None:
                frag[present] = "null"
                return frag, None
            bv = vv.str.lower().eq("true").fillna(False).to_numpy()
            frag[present] = "false"
            frag[present & bv] = "true"
            typed = pd.array(bv, dtype="boolean")
            typed[~present] = pd.NA
            return frag, typed
        # unknown type → Converter failure → ""
        frag[present] = '""'
        return frag, None

    def _convert_json(self, spec: CaptureSpec, col: pd.Series,
                      present: np.ndarray, fkey: str,
                      slots: dict, typed_out: dict, n: int) -> None:
        """``;json`` capture, columnar (Converter.java:235-270 +
        Match.java:185-187 putAll flatten).

        The only per-row Python is ONE ``json.loads`` (+ Gson fragment
        rendering of each value) on the json capture column — the regex pass,
        date parse, and record assembly stay vectorized. Flattened keys are
        'replace'-mode slot contributions: putAll OVERWRITES earlier captures
        of the same key, while later duplicate captures still list-collect.
        Parse failure (non-object JSON) is Converter failure → "" under the
        capture's own key, like every other converter.
        """
        from log_collector_spark.grok.converters import convert_value
        from log_collector_spark.grok.gson import _value as _gson_value

        dyn: dict[str, np.ndarray] = {}
        fail = np.zeros(n, dtype=bool)
        vals = col.to_numpy()
        for i in np.nonzero(present)[0]:
            cv = convert_value("json", spec.fmt, str(vals[i]))
            if isinstance(cv, dict):
                for k, v in cv.items():
                    arr = dyn.get(k)
                    if arr is None:
                        arr = np.full(n, None, dtype=object)
                        dyn[k] = arr
                    if v is None:
                        arr[i] = "null"  # overwrite-to-omitted (Gson drops it)
                    else:
                        buf: list[str] = []
                        _gson_value(v, buf)
                        arr[i] = "".join(buf)
            else:  # conversion failure → "" (clean_string("") == "")
                fail[i] = True
        if fail.any():
            ffrag = np.full(n, "", dtype=object)
            ffrag[fail] = '""'
            slots.setdefault(fkey, []).append((fail, ffrag, "append"))
        if fkey not in typed_out:
            typed = np.full(n, None, dtype=object)
            typed[fail] = ""
            typed_out[fkey] = typed if fail.any() else None
        for k in dyn:
            fk = self._final_key(k)
            if fk is None:
                continue
            frag = dyn[k]
            has = np.fromiter((x is not None for x in frag), bool, count=n)
            slots.setdefault(fk, []).append(
                (has, np.where(has, frag, ""), "replace"))

    # -- matching --------------------------------------------------------------

    def _match_groups(self, lst: list, n: int, blank: np.ndarray,
                      rx: re.Pattern, gidx: dict
                      ) -> tuple[dict[str, pd.Series], np.ndarray]:
        """(named-group columns, matched mask) for a batch — RE2 fast path
        + exact-Python fallback. Group values of unmatched/blank rows are
        None and never read downstream (every consumer masks on
        ``matched``)."""
        cols: dict[str, np.ndarray] = {
            name: np.full(n, None, dtype=object) for name in gidx}
        matched = np.zeros(n, dtype=bool)
        todo = ~blank
        if self._fast is not None and n:
            arr = pa.array(lst, type=pa.string())
            ascii_ok = pc.string_is_ascii(arr)
            st = pc.extract_regex(arr, pattern=self._fast)
            hit = (pc.and_(ascii_ok, st.is_valid()).to_numpy(
                zero_copy_only=False) & todo)
            if hit.any():
                fields = {f.name for f in st.type}
                for name in gidx:
                    if name in fields:
                        vals = st.field(name).to_numpy(zero_copy_only=False)
                        cols[name][hit] = vals[hit]
                    # groups absent from the fast pattern (e.g. the
                    # optional timezone) are None on fast rows — the
                    # narrow pattern only matches rows without them
                matched |= hit
                todo &= ~hit
        if todo.any():
            names = list(gidx)
            idxs = [gidx[name] for name in names]
            for i in np.nonzero(todo)[0]:
                x = lst[i]
                m = rx.search(x) if isinstance(x, str) else None
                if m is None:
                    continue
                matched[i] = True
                g = m.groups()
                for name, j in zip(names, idxs):
                    cols[name][i] = g[j - 1]
        ext = {name: pd.Series(cols[name], dtype=object) for name in gidx}
        return ext, matched

    # -- main entry ------------------------------------------------------------

    def parse_batch(self, text: pd.Series) -> pd.DataFrame:
        n = len(text)
        s = text.reset_index(drop=True).fillna("").astype(object)
        lst: list = s.tolist()
        blank = np.fromiter((not str(x).strip() for x in lst), bool, count=n) \
            if n else np.zeros(0, dtype=bool)
        # Matching: RE2 C++ kernel (pyarrow extract_regex) for rows the
        # strictly-narrower fast pattern covers — ~97% of well-formed
        # DEMO-family lines — and the exact Python loop (identical
        # semantics to the reference's Pattern.matcher(text).find(),
        # Grok.java:296-311) for everything else. Byte-equality with the
        # pure-Python kernel is preserved by construction (see
        # _fast_pattern) and enforced by the vectorized-vs-oracle tests.
        rx = self.pattern()
        gidx = rx.groupindex  # name -> 1-based group number
        ext, matched = self._match_groups(lst, n, blank, rx, gidx)

        # per-key contribution slots, in capture order
        # key -> list of (has: bool ndarray, frag: object ndarray, mode);
        # mode 'append' = duplicate keys collect into lists (Match.java
        # captures loop), mode 'replace' = map.put/putAll overwrite semantics
        # (;json flatten, Match.java:185-187)
        slots: dict[str, list[tuple[np.ndarray, np.ndarray, str]]] = {}
        typed_out: dict[str, Any] = {}
        for spec in self.compiled.captures:
            col = ext[spec.group] if spec.group in ext else pd.Series(
                [None] * n, dtype=object)
            notna = col.notna().to_numpy()
            present = notna & matched
            absent = (~notna) & matched
            fkey = self._final_key(spec.key)
            if fkey is not None:
                if spec.type == "json":
                    self._convert_json(spec, col, present, fkey, slots,
                                       typed_out, n)
                else:
                    frag, typed = self._convert(spec, col, present)
                    slots.setdefault(fkey, []).append(
                        (present & (frag != ""), frag, "append"))
                    if typed is not None and fkey not in typed_out:
                        typed_out[fkey] = typed
                    elif fkey not in typed_out:
                        typed_out[fkey] = None
            # absent contribution goes to the RAW key (null entry)
            rkey = self._final_key(spec.raw)
            if rkey is not None and absent.any():
                nullfrag = np.full(n, "", dtype=object)
                nullfrag[absent] = "null"
                slots.setdefault(rkey, []).append((absent, nullfrag, "append"))

        # provenance constants: Java map.put OVERWRITES any parsed value
        # (DefaultFileReader.java:275-277), so they REPLACE the key's slots
        for k, v in self.provenance.items():
            pf = np.full(n, '"' + gson_escape(str(v)) + '"', dtype=object)
            slots[k] = [(matched.copy(), pf, "append")]

        # resolve each key (scalar / list / omitted) and join sorted entries.
        # String building runs as pyarrow C++ kernels (binary_join_element_wise)
        # — object-array "+" is a per-row Python loop.
        def _np_entry(key: str, slist) -> np.ndarray:
            cnt = np.zeros(n, dtype="int64")
            acc = np.full(n, "", dtype=object)
            for has, frag, mode in slist:
                if mode == "replace":  # putAll overwrite: drops prior values
                    cnt = np.where(has, 1, cnt)
                    acc = np.where(has, frag, acc)
                else:
                    cnt += has
                    acc = np.where(has, np.where(acc == "", frag, acc + "," + frag), acc)
            keyq = '"' + gson_escape(key) + '":'
            single_null = (cnt == 1) & ((acc == "null") | (acc == ""))
            body = np.where(cnt >= 2, "[" + acc + "]", acc)
            return np.where((cnt == 0) | single_null, "", keyq + body).astype(object)

        joined = None
        empty_s = pa.scalar("", pa.string())
        for key in sorted(slots.keys()):
            slist = slots[key]
            keyq = pa.scalar('"' + gson_escape(key) + '":', pa.string())
            if len(slist) == 1:
                has, frag, _mode = slist[0]
                fa = pa.array(frag, type=pa.string())
                is_null_entry = pc.equal(fa, "null")
                body = pc.binary_join_element_wise(keyq, fa, "")
                entry = pc.if_else(
                    pa.array(has & ~is_null_entry.fill_null(False).to_numpy(
                        zero_copy_only=False)),
                    body, empty_s)
            else:  # repeated key → list collect (rare)
                entry = pa.array(_np_entry(key, slist), type=pa.string())
            if joined is None:
                joined = entry
            else:
                both = pc.binary_join_element_wise(joined, entry, ",")
                joined = pc.if_else(pc.equal(entry, ""), joined,
                                    pc.if_else(pc.equal(joined, ""), entry, both))
        if joined is None:
            joined = pa.array(np.full(n, "", dtype=object), type=pa.string())
        wrapped = pc.binary_join_element_wise(
            pa.scalar("{", pa.string()), joined,
            pa.scalar("}", pa.string()), "")
        parsed_json = pc.if_else(pa.array(matched), wrapped,
                                 pa.scalar(None, pa.string()))
        parsed_json = parsed_json.to_pandas().astype(object).to_numpy()
        parsed_json = np.where(matched, parsed_json, None)

        out = {"parse_ok": matched, "parsed_json": pd.Series(parsed_json, dtype=object)}
        for key, _typ in self.typed_keys:
            tv = typed_out.get(key)
            if tv is None:
                out[key] = pd.Series([None] * n, dtype=object)
            else:
                out[key] = pd.Series(tv)
        return pd.DataFrame(out)

