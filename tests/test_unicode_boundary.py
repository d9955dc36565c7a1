"""Unicode tokenizer boundary (r8): where the Spark engine and the
DuckDB oracle rendering agree on non-ASCII text, and the ONE codepoint
where they cannot.

Found by replaying the registry against a unicode-salted documents
fixture (NBSP, CJK, combining marks, RTL, emoji, zero-width joiner,
ideographic space, vertical tab): all 31 text-family mismatches reduce
to exactly FOUR causes, each pinned or documented —
  1. Java regex ``\\s`` includes vertical tab \\x0B, RE2's (DuckDB's)
     does not (the only TOKENIZER divergence: every other salt
     tokenizes identically, pinned token-by-token below; without the
     vtab salt the replay drops from 31 failures to 2);
  2. the Python-UDTF tokenizer used ``str.split()`` — UNICODE
     whitespace — silently diverging from every relational text op
     (an ENGINE-internal inconsistency, fixed to the explicit class);
  3. DuckDB ``trim()`` strips unicode whitespace where Spark strips
     ASCII space only (empties NBSP-only words in trimming oracles);
  4. oracle byte approximations (ascii(char) = codepoint) are
     faithful to real UTF-8 bytes only on ASCII.
The fixture text contract is ASCII-with-single-spaces, so the oracles
are faithful twins there; the engine's Java-regex behavior is the
declared product contract (queries/base.py has the full list).
"""

from __future__ import annotations

import re

import duckdb
from pyspark.sql import functions as F

from hadoop_0_20_2_ljx_spark.extensions import textstats
from hadoop_0_20_2_ljx_spark.queries.base import words_sql

SALTS = [
    "café",          # precomposed accent
    " ",              # NBSP — not \s in either engine
    "猫犬鸟",  # CJK
    "étude",         # combining acute
    "שלום",  # RTL Hebrew
    "\U0001f600",          # astral-plane emoji
    "a‍b",            # zero-width joiner inside a token
    "　",              # ideographic space — not \s in either engine
    "naïve—dash",
]
VTAB_TOKEN = "x\x0by"  # THE divergent case: Java \s has \x0B, RE2 does not


def _spark_tokens(spark, text: str) -> list[str]:
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(
        F.expr(textstats.tokens_sql("lower(text)")).alias("t")
    ).first()["t"]


def _duck_tokens(text: str) -> list[str]:
    with duckdb.connect() as con:
        return con.execute(
            "SELECT list_filter(string_split_regex(lower(?), '\\s+'), w -> w <> '')",
            [text],
        ).fetchone()[0]


def test_unicode_tokens_agree_outside_vtab(spark):
    text = "alpha " + " ".join(SALTS) + " omega"
    assert _spark_tokens(spark, text) == _duck_tokens(text)


def test_vtab_is_the_named_divergence(spark):
    text = f"alpha {VTAB_TOKEN} omega"
    spk = _spark_tokens(spark, text)
    dk = _duck_tokens(text)
    # Spark (Java \s): vertical tab splits -> 4 tokens; DuckDB (RE2): kept
    assert spk == ["alpha", "x", "y", "omega"]
    assert dk == ["alpha", "x\x0by", "omega"]


def test_oracle_whitespace_class_closes_the_vtab_gap(spark):
    """The oracles tokenize through queries/base.WS, which names \\x0B:
    they split where the engine's Java \\s does, vertical tab included."""
    text = "alpha " + " ".join(SALTS) + f" {VTAB_TOKEN} omega"
    with duckdb.connect() as con:
        dk = con.execute(f"SELECT {words_sql('lower(?)')}", [text]).fetchone()[0]
    assert dk == _spark_tokens(spark, text)
    assert "x" in dk and "y" in dk


def test_trim_divergence_is_named(spark):
    """DuckDB trim() strips UNICODE whitespace; Spark trim() strips
    ASCII space only — the second true divergence from the unicode
    replay (it empties NBSP / ideographic-space-only words in oracle
    renderings that trim, e.g. the BPE encode chain). Queries must not
    rely on trim over text that can be unicode-whitespace-only."""
    for ch in ("\u00a0", "\u3000"):
        got = (
            spark.createDataFrame([(ch,)], "s string")
            .select(F.trim(F.col("s")).alias("t"))
            .first()["t"]
        )
        assert got == ch  # Spark keeps it
        with duckdb.connect() as con:
            assert con.execute("SELECT trim(?)", [ch]).fetchone()[0] == ""  # DuckDB strips


def test_udtf_tokenizer_matches_relational_contract(spark):
    """The UDTF path must tokenize exactly like textstats.tokens_sql on
    unicode text (pre-r8 it used Python str.split(), which also splits
    NBSP and ideographic space)."""
    text = "alpha " + " ".join(SALTS) + f" {VTAB_TOKEN} omega"
    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    python_side = [t for t in ws.split(text) if t]
    spark_side = [
        r[0]
        for r in spark.createDataFrame([(text,)], "text string")
        .select(F.explode(F.expr(textstats.tokens_sql("text"))))
        .collect()
    ]
    assert python_side == spark_side
    # and the old behavior really was different (NBSP et al. split):
    assert text.split() != python_side


def test_pii_patterns_are_dialect_portable(spark):
    """The PII redaction patterns are chosen to parse identically under
    Java regex (Spark) and RE2 (DuckDB) — no backreferences, no
    lookaround (textstats.PII_PATTERNS). Verify the claim on adversarial
    boundary cases: \\b against unicode neighbors, overlapping/nested
    candidates, trailing dots, double-@, fullwidth digits."""
    from hadoop_0_20_2_ljx_spark.extensions.textstats import PII_PATTERNS, redact_pii

    cases = [
        "a@b.cd", "x1.2.3.4y", "ab1.2.3.4", "１.2.3.4", "mail:ü@ö.de",
        "+49 170 1234567x", "999.999.999.999", "1.2.3.4.5", "a@b.c",
        "a.b@c.d.ee", "phone+12 34 56 78 90", "ip:10.0.0.1.",
        "..1.2.3.4..", "user@@host.com", "café@münchen.de",
        "123-456-7890", " +1 234 567 8901 ", "a@b.cd@e.fg",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "text string")
    got = [r[0] for r in df.select(redact_pii(F.col("text"))).collect()]
    expr = "text"
    for pat, repl in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    with duckdb.connect() as con:
        for c, s in zip(cases, got):
            d = con.execute(f"SELECT {expr} FROM (SELECT ? AS text)", [c]).fetchone()[0]
            assert s == d, f"{c!r}: spark {s!r} != duckdb {d!r}"
