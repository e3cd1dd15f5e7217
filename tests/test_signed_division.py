"""Signed integer division across the two engines.

Spark's integer DIV truncates toward zero. Whether a SQL engine's ``//``
truncates or floors depends on the engine, its version and the operand
types (the DuckDB in use truncates BIGINT ``//`` but not the float form;
Python and other SQL engines floor). An oracle division only means the same
thing in both engines when its numerator cannot be negative, so every
``//``/``DIV`` in a registered oracle either

* splits the sign off first (abs-split: ``CASE WHEN x >= 0 THEN x // n
  ELSE -((-x) // n) END``, recognised as a division inside a CASE whose
  comparison covers the numerator's columns), or
* divides a numerator that is non-negative for a stated reason: built only
  from columns in ``NON_NEGATIVE_COLUMNS`` with no subtraction, or listed
  verbatim in ``NON_NEGATIVE_NUMERATORS``.

The DSIR fixtures below run the Spark plan and its oracle on small tables
whose importance weights are negative and whose target slice is sparse or
empty.
"""

from __future__ import annotations

import os
import re
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from log_collector_spark.textops import common as C  # noqa: E402

NON_NEGATIVE_COLUMNS = {
    "row, hit, token and byte counts and sums of them": {
        "n", "n_a", "n_b", "n_t", "n_boiler", "n_bounces", "n_chars",
        "n_common", "n_converted", "n_docs", "n_events", "n_fp", "n_gaps",
        "n_green", "n_hits", "n_inter", "n_kept", "n_moved", "n_novel",
        "n_obs", "n_ok", "n_orphans", "n_overlap", "n_pair", "n_pairs",
        "n_rows", "n_rows_above", "n_rows_below", "n_singletons",
        "n_stopwords", "n_tokens", "n_total", "n_turns", "n_vecs",
        "n_vectors", "c", "c_sum", "co_days", "common_n", "cum_before",
        "cum_tokens", "dict_bytes", "distinct_tokens", "dl", "dup_tokens",
        "first_sum", "g", "hits_adc", "hits_cells", "inter", "kept_sum",
        "m", "middle_tokens", "nc", "nl", "no_", "prod", "rep", "rest_n",
        "same_label_pairs", "same_shard_docs", "shard_min", "t_total",
        "t_users", "tf", "tok", "tok_s", "top", "top_n", "triangles",
        "users", "x", "ap_num", "is_dup",
    },
    "latencies, rewards, sizes and budgets (non-negative by definition)": {
        "lat", "lat_sum", "best", "cachable_tokens", "sqrt_tokens", "params",
        "degree", "dim", "dcg_micro", "weight", "w_total", "avgdl_milli",
        "noise_b_milli", "bits_sum", "abs_err_sum", "max_gap", "err",
        "err_long", "err_short", "dt_ms",
    },
    "squared norms and distances, ratios of them": {
        "n2", "n2a", "vv", "p2", "ratio_pm",
        "p_0", "p_1", "p_2", "p_3", "p_4", "p_5", "p_6", "p_7",
    },
    "epoch times of the (2024) data and hour/day/minute indexes of them": {
        "ts", "hour_ms", "hour_idx", "h", "t0", "bucket_min", "d",
    },
    "ids, ranks, positions and pixel indexes": {
        "doc_id", "first_doc", "i", "j", "w", "ow", "rank", "pk", "k_truth",
    },
    "md5-prefix hashes (60-bit, non-negative by construction)": {"v"},
    "events.value is a non-negative measurement; v_c is it in cents": {
        "value", "v_c",
    },
    "TPC-H money in integer micros (prices and revenues are positive)": {
        "nation_micros", "promo_micros", "revenue_micros",
    },
}

NON_NEGATIVE_NUMERATORS = {
    "(2 * six - (n + 1) * sx) * 1000":
        "Gini numerator over ascending ranks: sum (2i-n-1)x_i >= 0",
    "(2000 * SUM((2 * i - n - 1) * x))":
        "Gini mean difference over ascending ranks: sum (2i-n-1)x_i >= 0",
    "((COUNT(*) - SUM(_d)) * 1000)": "_d is a 0/1 flag, so SUM(_d) <= COUNT(*)",
    "(t.n_docs - d.df + 1) * 1000000": "document frequency df <= n_docs",
    "least(1000000000, (t.n_docs - d.df + 1) * 1000000 // (d.df + 1)) "
    "* tf.tf * 2200": "IDF ratio with df <= n_docs, times a term count",
    "(SUM(bytes) OVER (ORDER BY fname ROWS BETWEEN UNBOUNDED PRECEDING AND "
    "CURRENT ROW) - bytes)": "running total minus its own last term",
    "(SUM(n) OVER (ORDER BY ln ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT "
    "ROW) - n) * 10": "running total minus its own last term",
    "(SUM(n) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT "
    "ROW) - n) * 10": "running total minus its own last term",
    "((n_events - n_kept) * 1000)": "kept events are a subset of events",
    "((CASE WHEN dot < 0 THEN -1 ELSE 1 END * ((dot * dot // n2a) * 1000 "
    "// n2b)) + 1000)": "signed cos^2 permille lies in [-1000, 1000]",
    "(t - pt)": "funnel steps are time-ordered (t >= previous step's pt)",
    "n_singletons * (n_singletons - 1)": "n(n-1) of a count",
    "c * (c - 1)": "n(n-1) of a count",
    "cnt * (cnt - 1)": "n(n-1) of a count",
    "t.n_turns * (t.n_turns - 1)": "n(n-1) of a count",
    "(r2_sum_a - n_a * (n_a + 1)) * 500":
        "Mann-Whitney U: 2*(rank sum - n_a(n_a+1)/2) >= 0",
    "GREATEST(n_docs * sum_x2 - sum_x * sum_x, 0)": "clamped at 0",
    "(cum_before + greatest(n_tokens, 1) - 1)": "counts, minus 1 after +1",
    "(cum_before + greatest(n_tokens, 1) - 1) // 512 - cum_before":
        "never reached: the inner division's numerator is the one above",
    "(n_packs * 512 - used_tokens) * 1000": "packs hold at most 512 tokens",
    "((bucket * n_docs - token_sum) * 1000)":
        "every doc in a length bucket is at most the bucket length",
    "((rk - 1) * 1000)": "ranks start at 1",
    "((a.total - a.d) * 1000)": "distinct n-grams <= total n-grams",
    "(e.v - d.mn) * 255": "a value minus its column minimum",
    "((e.v - d.mn) * 255 // d.rng) * d.rng": "a value minus its minimum",
    "(e.v - d.mn) - ((e.v - d.mn) * 255 // d.rng) * d.rng":
        "remainder of a non-negative value, >= 0",
    "(e.us - s.us) * 1000": "end instant minus start instant",
    "(s_abs + 2 * na * nb - s_ab - s_ba) * 1000":
        "total-variation numerator: sum of |a*nb - b*na| terms",
    "(price_c * (10000 - disc_bp) * (10000 + tax_bp))":
        "TPC-H discount < 100 %, prices positive",
    "(hour_ms - MIN(hour_ms) OVER (PARTITION BY t))": "offset from minimum",
    "((ROW_NUMBER() OVER ( PARTITION BY conv_id ORDER BY turn_idx) - 1) "
    "* 10)": "row numbers start at 1",
    "(mid_rn - 1) * 1000": "row numbers start at 1",
    "((mid_rn - 1) * 1000 // n_turns)": "row numbers start at 1",
    "(s_tot - sum_milli)":
        "leave-one-out: total of non-negative values minus one bucket's",
    "(n_hours * sq - n_events * n_events) * 1000":
        "n*sum(x^2) - (sum x)^2 >= 0 (Cauchy-Schwarz)",
    "(n_events * n_events - sq) * 1000": "(sum x)^2 - sum(x^2) >= 0",
    "(2 * n_green - n_tokens) * (2 * n_green - n_tokens) * 1000": "a square",
    "(ds * ds * 1000)": "a square",
    "dot * dot": "a square",
    "(dot * dot // n2a) * 1000": "a square over a squared norm",
    "LEAST(1000, (ds * ds * 1000) // GREATEST((n2 // 1000) * "
    "GREATEST(vv // 1000, 1), 1))": "a square over squared norms",
    "(150000000 + 850 * COALESCE(g.c_sum, 0))": "sum of count shares",
    "((d.n_docs - d.distinct_texts) * 1000)": "distinct texts <= documents",
    "((h1 - h0 + 1 - present_hours) * 1000)":
        "hours in the span minus the hours present in it",
    "((x + 2) * 1000 - 2 * "
    + C.sql_isqrt("(x * 1000000 // n) * (n - x) + 1000000") + ")":
        "Wilson lower bound: (x+2)^2 >= 4(x(n-x)/n + 1) for 0 <= x <= n",
}

_HIT = re.compile(r"//|\bDIV\b", re.I)
_STOP = re.compile(r"\b(SELECT|THEN|ELSE|WHEN|AND|OR|AS|ON|WHERE|BY)\s*$",
                   re.I)
_KEYWORDS = {"AND", "AS", "BETWEEN", "BIGINT", "BY", "CASE", "CURRENT",
             "DISTINCT", "DOUBLE", "ELSE", "END", "IS", "NOT", "NULL", "OR",
             "ORDER", "OVER", "PARTITION", "PRECEDING", "ROW", "ROWS",
             "THEN", "UNBOUNDED", "VARCHAR", "WHEN"}
# calls whose value is non-negative whatever their arguments are, and
# OVER (...) window specs, whose columns order rows rather than add value
_NON_NEGATIVE_CALLS = ("abs", "len", "length", "strlen", "count",
                       "row_number", "over")


def _numerator(sql: str, i: int) -> str:
    """Text of the left operand of the division at i: the
    multiplicative chain back to the nearest lower-precedence operator,
    comma, keyword or open paren."""
    j, depth = i, 0
    while j > 0:
        c = sql[j - 1]
        if c == ")":
            depth += 1
        elif c == "(":
            if depth == 0:
                break
            depth -= 1
        elif depth == 0:
            if c in ",=<>+|":
                break
            if c == "-":
                k = j - 2
                while k >= 0 and sql[k] == " ":
                    k -= 1
                if k >= 0 and (sql[k].isalnum() or sql[k] in ")_"):
                    break  # binary minus
            if not (c.isalnum() or c == "_") and _STOP.search(sql[:j]):
                break
        j -= 1
    return " ".join(sql[j:i].split())


def _strip_calls(text: str, names: tuple[str, ...]) -> str:
    """Replace every call of one of `names`, arguments included, by 0."""
    rx = re.compile(r"\b(" + "|".join(names) + r")\s*\(", re.I)
    while (m := rx.search(text)):
        depth = 0
        for k in range(m.end() - 1, len(text)):
            depth += {"(": 1, ")": -1}.get(text[k], 0)
            if depth == 0:
                break
        text = text[:m.start()] + "0" + text[k + 1:]
    return text


def _columns(text: str) -> set[str]:
    text = re.sub(r"'[^']*'", "''", text)
    out = set()
    for m in re.finditer(r"([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)?)\s*(\()?", text):
        if not m.group(2) and m.group(1).upper() not in _KEYWORDS:
            out.add(m.group(1).split(".")[-1])
    return out


def _sign_guards(sql: str) -> list[tuple[int, int, str, str]]:
    """(start, end, lhs, rhs) of the CASE owning each branch condition
    that compares two expressions (``WHEN lhs >= rhs THEN``)."""
    spans, stack = {}, []
    for t in re.finditer(r"\bCASE\b|\bEND\b", sql, re.I):
        if t.group(0).upper() == "CASE":
            stack.append(t.start())
        elif stack:
            spans[stack.pop()] = t.end()
    operand = r"((?:(?!\b(?:WHEN|THEN|ELSE|END)\b).)+?)"
    out = []
    for w in re.finditer(r"\bWHEN\s+" + operand + r"\s*(?:>=|>|<=|<)\s*"
                         + operand + r"\s+THEN\b", sql, re.I | re.S):
        owner = max((s for s in spans if s < w.start() <= spans[s]),
                    default=None)
        if owner is not None:
            lhs, rhs = (" ".join(x.split()) for x in w.group(1, 2))
            out.append((owner, spans[owner], lhs, rhs))
    return out


def _non_negative(num: str) -> bool:
    """No subtraction or negation, and only columns known non-negative."""
    bare = _strip_calls(re.sub(r"'[^']*'", "''", num), _NON_NEGATIVE_CALLS)
    allowed = set().union(*NON_NEGATIVE_COLUMNS.values())
    return not re.search(r"-(?!>)", bare) and _columns(bare) <= allowed


def _abs_split(at: int, num: str, guards) -> bool:
    """The division at `at` sits in a CASE whose branch is chosen by the
    sign of the numerator's signed part (``x`` of ``x >= 0``, ``a - b`` of
    ``a >= b``, either way round): with that part replaced by 0, the rest
    of the numerator is non-negative."""
    for a, b, lhs, rhs in guards:
        if not a <= at < b:
            continue
        signed = [f"{lhs} - {rhs}", f"{rhs} - {lhs}"]
        if rhs == "0":
            signed = [lhs] + [" - ".join(reversed(lhs.split(" - ")))
                              for _ in [0] if lhs.count(" - ") == 1]
        for part in signed:
            rx = r"(?<![\w.])" + re.escape(part) + r"(?![\w(])"
            if re.search(rx, num) and \
                    _non_negative(re.sub(rx, "0", num).replace("-0", "0")):
                return True
    return False


def _unsafe_divisions(sql: str) -> list[str]:
    guards = _sign_guards(sql)
    bad = []
    for m in _HIT.finditer(sql):
        num = _numerator(sql, m.start())
        if num not in NON_NEGATIVE_NUMERATORS and \
                not _abs_split(m.start(), num, guards) and \
                not _non_negative(num):
            bad.append(num)
    return bad


def test_oracle_divisions_are_sign_safe():
    import __spark_entry__ as E

    bad = {name: found for name, sql in sorted(E.oracle_sql().items())
           if (found := _unsafe_divisions(sql))}
    assert not bad, bad


def test_sign_lint_flags_a_bare_signed_numerator():
    assert _unsafe_divisions("SELECT lam_sum * 1000 // n FROM t") == [
        "lam_sum * 1000"]
    assert _unsafe_divisions(
        "SELECT CASE WHEN lam_sum >= 0 THEN lam_sum * 1000 // n "
        "ELSE -((-lam_sum) * 1000 // n) END FROM t") == []
    assert _unsafe_divisions("SELECT (n_docs - k) // 2 FROM t") == [
        "(n_docs - k)"]
    assert _unsafe_divisions("SELECT n_docs * 1000 // n FROM t") == []
    # a guard on the denominator is not a sign split of the numerator
    assert _unsafe_divisions(
        "SELECT CASE WHEN n > 0 THEN (x - n) * 1000 // n END FROM t") == [
        "(x - n) * 1000"]


# ---------------------------------------------------------------------------
# DSIR importance: negative weights and sparse / empty target slices
# ---------------------------------------------------------------------------

_WORDS = ("alpha beta gamma delta eps zeta eta theta iota kappa lam mu nu xi "
          "omi pi rho sigma tau ups").split()


def _dsir_docs() -> pd.DataFrame:
    """Raw docs dominated by one repeated bigram ("ab ab ... ab x") — its
    bucket holds most raw mass and little target mass, so docs made of it
    score negative — plus a sparse target slice of two short docs.
    Bigram counts 3/7/11 with one odd bigram each leave remainders when
    millibits are divided, and the few distinct tails make ties."""
    rows = []
    for i in range(1, 31):
        k = (3, 7, 11)[i % 3] + 1
        if i % 2:
            text = " ".join(["ab"] * (k - 1) + [_WORDS[i % 4]])
        else:
            text = " ".join(_WORDS[(i * 3 + j * 7) % len(_WORDS)]
                            for j in range(k))
        rows.append((i, "raw", text))
    rows.append((31, "tgt", "alpha beta gamma delta"))
    rows.append((32, "tgt", "ab ab ab xi omi"))
    return pd.DataFrame(rows, columns=["doc_id", "source", "text"])


def _dsir_both(spark, pdf, target, top_k):
    from log_collector_spark.textops import lm_proxy as LM

    got = [tuple(r) for r in LM.dsir_importance(
        spark.createDataFrame(pdf), target_source=target, n_buckets=64,
        top_k=top_k).collect()]
    con = duckdb.connect()
    con.register("docs", pdf)
    want = con.execute(LM.sql_dsir_importance(
        "docs", target_source=target, n_buckets=64, top_k=top_k)).fetchall()
    return sorted(got), sorted(tuple(r) for r in want)


def test_dsir_negative_weights_at_topk_boundary_match_oracle(spark):
    pdf = _dsir_docs()
    _, full = _dsir_both(spark, pdf, "tgt", len(pdf))
    imp = [r[4] for r in sorted(full)]
    first_neg = next(i for i, v in enumerate(imp) if v < 0)
    assert any(v % 1000 and v < 0 for v in imp)   # remainders were dropped
    # cut the top-k between two negative, tie-prone scores
    k = first_neg + 2
    got, want = _dsir_both(spark, pdf, "tgt", k)
    assert len(got) == k and got[-1][4] < 0
    assert got == want


def test_dsir_empty_target_slice_matches_oracle(spark):
    pdf = _dsir_docs()
    got, want = _dsir_both(spark, pdf, "no-such-source", 5)
    assert all(r[4] is not None for r in got), got
    assert got == want
