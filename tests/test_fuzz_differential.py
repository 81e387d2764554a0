"""Seeded differential fuzz: the scalar-function surface vs its DuckDB
oracle expressions on adversarial strings.

The per-query oracles only exercise fixture text; the drift risk is in
the scalar expressions themselves (regex dialects, unicode lowercasing,
whitespace classes). This suite pushes a few hundred seeded hostile
strings — accents, mixed scripts, whitespace runs, almost-emails,
almost-IPs, empty/degenerate — through BOTH engines in one batch each
and requires value-for-value agreement, so a Spark/DuckDB semantics gap
can never hide behind tame fixtures.
"""

from __future__ import annotations

import random

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from datawarehousefinal_spark.functions.pii import (
    count_emails,
    count_ipv4,
    scrub_pii,
)
from datawarehousefinal_spark.functions.textnorm import normalize_text
from datawarehousefinal_spark.operators.contamination import word_ngrams
from datawarehousefinal_spark.operators.textstats import whitespace_tokens
from datawarehousefinal_spark.queries._shared import _norm_sql, _TOKS_SQL

_CHARS = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    "áéíóúñÁÉÍÓÚÑüÜ"
    "    \t\n"
    ".,;:@%+-_()[]<>/\\'\"!?#$&*="
)
_SNIPPETS = [
    "user@example.com", "a.b+c@test-site.org", "not@an", "@@", "a@b.co",
    "10.0.0.1", "999.999.999.999", "1.2", "1.2.3.4.5", "v1.2.3",
    "  doble   espacio  ", "año señal", "EL NIÑO", "\ttab\tstart",
    "", "ñ1.2.3.4x", "fin@año.es",
]


def _gen_strings(n: int = 300, seed: int = 20260814) -> list[str]:
    rng = random.Random(seed)
    out = []
    for i in range(n):
        if i < len(_SNIPPETS):
            out.append(_SNIPPETS[i])
            continue
        k = rng.randint(0, 60)
        s = "".join(rng.choice(_CHARS) for _ in range(k))
        if rng.random() < 0.3:
            pos = rng.randint(0, len(s))
            s = s[:pos] + rng.choice(_SNIPPETS) + s[pos:]
        out.append(s)
    return out


def _duck(pdf: pd.DataFrame, select_expr: str):
    con = duckdb.connect()
    try:
        con.register("t", pdf)
        return con.execute(
            f"SELECT i, {select_expr} AS v FROM t ORDER BY i"
        ).fetchall()
    finally:
        con.close()


def test_scalar_surface_agrees_with_duckdb_on_hostile_strings(spark):
    strings = _gen_strings()
    pdf = pd.DataFrame({"i": range(len(strings)), "s": strings})
    df = spark.createDataFrame(pdf)
    got = {
        r["i"]: r
        for r in df.select(
            "i",
            normalize_text("s").alias("norm"),
            count_emails("s").alias("ne"),
            count_ipv4("s").alias("ni"),
            scrub_pii("s").alias("masked"),
            whitespace_tokens("s").alias("toks"),
            word_ngrams("s", n=3).alias("grams"),
        ).collect()
    }

    norm = dict(_duck(pdf, _norm_sql("s")))
    for i in got:
        assert got[i]["norm"] == norm[i], (i, strings[i], got[i]["norm"], norm[i])

    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    ip_re = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
    pii = _duck(
        pdf,
        f"len(regexp_extract_all(s, '{email_re}'))::BIGINT, "
        f"len(regexp_extract_all(s, '{ip_re}'))::BIGINT, "
        f"regexp_replace(regexp_replace(s, '{email_re}', '<EMAIL>', 'g'), "
        f"'{ip_re}', '<IP>', 'g')",
    )
    for i, ne, ni, masked in pii:
        assert got[i]["ne"] == ne, (i, strings[i])
        assert got[i]["ni"] == ni, (i, strings[i])
        assert got[i]["masked"] == masked, (i, strings[i], got[i]["masked"], masked)

    toks = dict(_duck(pdf, _TOKS_SQL.replace("text", "s")))
    for i in got:
        assert got[i]["toks"] == toks[i], (i, strings[i], got[i]["toks"], toks[i])

    grams_sql = (
        f"list_distinct(list_filter(list_transform("
        f"generate_series(1, greatest(len({_TOKS_SQL.replace('text', 's')}) - 2, 1)),"
        f" x -> array_to_string(list_slice({_TOKS_SQL.replace('text', 's')}, x, x + 2), ' ')"
        f"), g -> g <> ''))"
    )
    grams = dict(_duck(pdf, grams_sql))
    for i in got:
        assert sorted(got[i]["grams"]) == sorted(grams[i]), (i, strings[i])


def test_date_surface_agrees_with_python_and_duckdb(spark):
    """F9-F11 on random dates across five centuries: Spark's parse /
    concat / proleptic ordinal vs Python's date (the reference
    implementation, machineLearning.py:603) and vs the DuckDB oracle
    expression — all three calendars must agree (Spark 3+ and DuckDB are
    both proleptic Gregorian, like Python)."""
    import datetime as dt

    from datawarehousefinal_spark.functions.dates import (
        concat_date_nonpadded,
        parse_date_nonpadded,
        proleptic_ordinal,
    )

    rng = random.Random(41)
    days: list[dt.date] = [
        dt.date(1583, 1, 1) + dt.timedelta(days=rng.randint(0, 300_000))
        for _ in range(400)
    ] + [dt.date(1600, 2, 29), dt.date(1900, 3, 1), dt.date(2000, 2, 29),
         dt.date(2024, 12, 31)]
    pdf = pd.DataFrame(
        {
            "i": range(len(days)),
            "y": [d.year for d in days],
            "m": [d.month for d in days],
            "d": [d.day for d in days],
            "s": [f"{d.year}/{d.month}/{d.day}" for d in days],
        }
    )
    df = spark.createDataFrame(pdf)
    got = {
        r["i"]: r
        for r in df.select(
            "i",
            concat_date_nonpadded("y", "m", "d").alias("fc"),
            parse_date_nonpadded("s").alias("parsed"),
            proleptic_ordinal(parse_date_nonpadded("s")).alias("ordinal"),
        ).collect()
    }
    for i, d in enumerate(days):
        assert got[i]["fc"] == f"{d.year}/{d.month}/{d.day}"
        assert got[i]["parsed"] == d, (i, d, got[i]["parsed"])
        assert got[i]["ordinal"] == d.toordinal(), (i, d)
    duck = dict(
        _duck(
            pdf,
            "CAST(make_date(y, m, d) - DATE '0001-01-01' + 1 AS BIGINT)",
        )
    )
    for i, d in enumerate(days):
        assert duck[i] == d.toordinal(), (i, d)


def test_gap_fill_agrees_with_python_reference(spark):
    """Differential fuzz for gap_fill_interpolate: 60 random sparse
    per-group daily series (random gaps, duplicates-free, single-point
    groups, long holes) filled by Spark in ONE job and checked against a
    direct pure-Python linear interpolation of the same series."""
    import datetime as dt

    from datawarehousefinal_spark.operators.timeseries import (
        gap_fill_interpolate,
    )

    rng = random.Random(20260814)
    base = dt.date(2023, 1, 1)
    rows, expected = [], {}
    for g in range(60):
        n_obs = rng.choice([1, 2, 3, 5, 8])
        days = sorted(rng.sample(range(0, 60), n_obs))
        vals = [round(rng.uniform(-50, 50), 3) for _ in days]
        gname = f"g{g}"
        for d, v in zip(days, vals):
            rows.append((gname, base + dt.timedelta(days=d), v))
        # python reference: dense spine + linear interpolation
        for d in range(days[0], days[-1] + 1):
            date = base + dt.timedelta(days=d)
            if d in days:
                expected[(gname, date)] = (vals[days.index(d)], True)
                continue
            prev_i = max(i for i, dd in enumerate(days) if dd < d)
            next_i = min(i for i, dd in enumerate(days) if dd > d)
            pd_, nd = days[prev_i], days[next_i]
            pv, nv = vals[prev_i], vals[next_i]
            val = pv + (nv - pv) * (d - pd_) / (nd - pd_)
            expected[(gname, date)] = (val, False)
    df = spark.createDataFrame(rows, "g string, d date, v double")
    got = {
        (r["g"], r["d"]): (r["v"], r["was_observed"])
        for r in gap_fill_interpolate(df, "g", "d", "v").collect()
    }
    assert set(got) == set(expected)
    for key, (v, flag) in expected.items():
        gv, gflag = got[key]
        assert gflag == flag, key
        assert abs(gv - v) < 1e-9, (key, gv, v)


def test_sentence_split_agrees_with_duckdb_on_hostile_strings(spark):
    """The sentence_stats segmentation rule ([.!?]+ split, trim, drop
    empties) must agree between engines on adversarial punctuation —
    same drift-gate as the tokenizer above."""
    import pandas as pd

    from datawarehousefinal_spark.operators.textstats import sentence_stats

    extra = [
        "One. Two! Three?", "...", "!!!", "a.b.c", " . ! ? ",
        "ends mid", "¿esp? sí!", "x" * 50 + ".", ". leading", "a?!b",
    ]
    strings = _gen_strings(120) + extra
    pdf = pd.DataFrame({"i": range(len(strings)), "s": strings})
    df = spark.createDataFrame(pdf)
    got = {
        r["i"]: (r["n_sentences"], r["avg_sentence_chars"], r["max_sentence_chars"])
        for r in sentence_stats(df, "i", "s").collect()
    }
    expr = (
        "len(list_filter(list_transform(string_split_regex(s, '[.!?]+'),"
        " x -> trim(x)), x -> x <> ''))::BIGINT"
    )
    want_n = dict(_duck(pdf, expr))
    for i in got:
        assert got[i][0] == want_n[i], (i, strings[i], got[i], want_n[i])
