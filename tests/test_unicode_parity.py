"""Cross-engine unicode parity boundary.

The oracle harness proves Spark == DuckDB on every registered query,
but all driver testdata is ASCII — so the unicode behavior of the
string functions the queries lean on (lower, regexp token split,
alnum skeleton) is otherwise unexamined. This suite pins the measured
boundary:

- parity-SAFE classes (accented Latin, Greek, CJK, ligatures, sharp-s,
  combining marks): lower(), the `\\s+` tokenizer, and the
  `[^0-9A-Za-z]` skeleton agree byte-for-byte across engines — the
  edges variant injects these into document text and the full sweep
  stays green;
- the KNOWN divergences, both confined to lower(): Turkish dotted
  capital İ (U+0130 — Spark follows the full Unicode case mapping,
  lower('İ') = 'i' + combining dot above, two codepoints; DuckDB
  simplifies to plain 'i') and, measured in r11, Greek word-final Σ
  (Java String.toLowerCase applies the Unicode SpecialCasing
  CONTEXT rule mapping Σ at a word end to final sigma ς; DuckDB's
  utf8proc lowercases per codepoint, Σ→σ unconditionally). Neither
  engine is wrong; parity breaks. Every lower() consumer in the bank
  is structurally immune: the canonical content fingerprint
  (`normalized_fp_col`) strips non-alphanumerics BEFORE lowering so
  neither İ nor Σ ever reaches lower(), and language-ID / stopword
  checks are ASCII-anchored LIKE / set membership whose outcome a
  σ/ς or i/i̇ difference cannot flip. The r11 edges profile injects
  BOTH divergent classes into document text and the full 105-query
  sweep must stay green — that sweep is the engine-wide immunity
  proof; this suite pins the boundary itself and the immunity of
  each consumer shape. An operator that must EMIT lowered raw
  unicode text cannot be oracle-certified on these classes —
  normalize the source at ingest instead;
- r11 hard classes measured parity-SAFE end-to-end: NFC vs NFD
  encodings (byte-faithful everywhere — twins stay DISTINCT
  documents, by policy),
  astral-plane emoji incl. ZWJ sequences and regional-indicator
  flags (even through the split('')+ascii() rolling-hash path: both
  engines split into codepoints and return the codepoint number),
  CJK no-space spans (one whitespace token by contract), NBSP and
  ideographic space (token-INTERNAL: \\s is ASCII-only in both Java
  regex and RE2).
"""

from __future__ import annotations

import duckdb
import pytest

SAFE_TEXTS = [
    "Héllo WÖRLD Ça va",
    "ÅÄÖ åäö ÆØ æø",
    "ß scharfes S",
    "ΣΙΓΜΑ σίγμα τέλος",
    "Москва́ русский",
    "日本語 テスト 中文",
    "ﬁligature ﬂow",
    "á combining acute",
    # r11 hard classes, all measured parity-safe
    'café résumé naïve',                       # NFC
    'café résumé naïve',  # NFD of the same visible text
    "日本語のテキスト処理を行う",                # CJK span, no spaces
    "party 🎉🚀 family 👩‍👩‍👧 flag 🇺🇸",  # astral, ZWJ, flag
    "z̀́̂̃algo n̈",                        # combining-mark stacks
    "a b　c",                              # NBSP + ideographic space
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


@pytest.mark.parametrize("text", SAFE_TEXTS)
def test_lower_tokenize_skeleton_parity(spark, duck, text):
    df = spark.createDataFrame([(text,)], "t STRING")
    srow = df.selectExpr(
        "lower(t) AS lo",
        "regexp_replace(t, '[^0-9A-Za-z]', '') AS skel",
        "filter(split(trim(t), '\\\\s+'), x -> x != '') AS toks",
    ).collect()[0]
    dlo, dskel, dtoks = duck.execute(
        "SELECT lower(?), regexp_replace(?, '[^0-9A-Za-z]', '', 'g'), "
        "list_filter(regexp_split_to_array(trim(?), '\\s+'), x -> x <> '')",
        [text, text, text],
    ).fetchone()
    assert srow["lo"] == dlo
    assert srow["skel"] == dskel
    assert list(srow["toks"]) == list(dtoks)


def test_turkish_dotted_i_divergence_is_known(spark, duck):
    """If either engine changes its İ case mapping, this fails and the
    boundary documentation above must be re-verified."""
    df = spark.createDataFrame([("İstanbul",)], "t STRING")
    s_lo = df.selectExpr("lower(t) AS lo").collect()[0]["lo"]
    d_lo = duck.execute("SELECT lower('İstanbul')").fetchone()[0]
    assert s_lo == "i̇stanbul"  # full Unicode mapping: i + combining dot
    assert d_lo == "istanbul"  # simple mapping
    assert s_lo != d_lo


def test_normalized_fingerprint_immune_to_dotted_i(spark, duck):
    """The canonical content fingerprint strips non-alphanumerics
    BEFORE lowering, so the divergent İ never reaches lower() and the
    fingerprints agree across engines."""
    from pyspark.sql import functions as F

    from mozart_etl_spark.operators.text import normalized_fp_col

    df = spark.createDataFrame([("İstanbul VE İzmir!",)], "t STRING")
    s_fp = df.select(normalized_fp_col(F.col("t")).alias("fp")).collect()[0]["fp"]
    d_fp = duck.execute(
        "SELECT md5(lower(regexp_replace('İstanbul VE İzmir!', '[^0-9A-Za-z]', '', 'g')))"
    ).fetchone()[0]
    assert s_fp == d_fp


def test_final_sigma_divergence_is_known(spark, duck):
    """r11 measured boundary: Java String.toLowerCase applies the
    Unicode SpecialCasing CONTEXT rule (Σ at a word end → final sigma
    ς); DuckDB's utf8proc maps Σ→σ per codepoint, unconditionally.
    If either engine changes, the boundary documentation above must
    be re-verified."""
    df = spark.createDataFrame([("ΤΕΛΟΣ ΟΔΟΣ",)], "t STRING")
    s_lo = df.selectExpr("lower(t) AS lo").collect()[0]["lo"]
    d_lo = duck.execute("SELECT lower('ΤΕΛΟΣ ΟΔΟΣ')").fetchone()[0]
    assert s_lo == "τελος οδος"   # final sigma ς at each word end
    assert d_lo == "τελοσ οδοσ"   # unconditional σ
    assert s_lo != d_lo


DIVERGENT_TEXTS = [
    "İstanbul ışık DİYOR the end",   # Turkish İ + an English marker
    "ΤΕΛΟΣ ΟΔΟΣ ΣΙΓΜΑΣ and more",    # word-final Σ + a marker
]


@pytest.mark.parametrize("text", DIVERGENT_TEXTS)
def test_lower_consumers_immune_to_case_divergence(spark, duck, text):
    """Every lower() consumer shape in the bank must survive the two
    divergent classes: the fingerprint (strips first), the
    language-ID LIKE anchors, and the stopword-set membership — the
    σ/ς and i/i̇ byte differences can never flip their outcomes.
    This is the per-consumer pin behind letting the edges profile
    inject İ/Σ into the full sweep."""
    from pyspark.sql import functions as F

    from mozart_etl_spark.operators.text import (
        STOPWORDS,
        language_id,
        normalized_fp_col,
        stopword_ratio,
    )

    df = spark.createDataFrame([(1, text)], "doc_id LONG, text STRING")
    s_fp = df.select(normalized_fp_col(F.col("text")).alias("fp")).collect()[0]["fp"]
    d_fp = duck.execute(
        "SELECT md5(lower(regexp_replace(?, '[^0-9A-Za-z]', '', 'g')))", [text]
    ).fetchone()[0]
    assert s_fp == d_fp

    s_lang = language_id(df).collect()[0]["predicted_lang"]
    d_lang = duck.execute(
        "SELECT CASE WHEN ' ' || lower(?) || ' ' LIKE '% the %' "
        "         OR ' ' || lower(?) || ' ' LIKE '% and %' THEN 'en' "
        "       ELSE 'und' END",
        [text, text],
    ).fetchone()[0]
    assert s_lang == d_lang == "en"

    s_ratio = df.select(
        F.round(stopword_ratio(F.col("text")), 4).alias("r")
    ).collect()[0]["r"]
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    d_ratio = duck.execute(
        f"""SELECT round(CAST(len(list_filter(
                regexp_split_to_array(lower(trim(?)), '\\s+'),
                x -> list_contains([{sw}], x))) AS DOUBLE)
            / nullif(len(list_filter(regexp_split_to_array(trim(?), '\\s+'),
                                     x -> x <> '')), 0), 4)""",
        [text, text],
    ).fetchone()[0]
    assert s_ratio == d_ratio


def test_nfc_nfd_twins_stay_distinct(spark):
    """Codepoint-faithfulness contract: NFC and NFD encodings of the
    same visible text are DIFFERENT documents to every byte-faithful
    stage (exact dedup must NOT collapse them) — both engines agree,
    so this is an engine contract, not a parity risk."""
    import unicodedata

    from mozart_etl_spark.operators.dedup import exact_dedup

    base = "Héllo Wörld Café"
    rows = [
        (0, unicodedata.normalize("NFC", base)),
        (1, unicodedata.normalize("NFD", base)),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    raw = exact_dedup(df).collect()
    assert len(raw) == 2 and all(r["n_copies"] == 1 for r in raw), (
        "NFC/NFD twins wrongly collapsed raw"
    )


def test_rolling_hash_astral_emoji_parity(spark, duck):
    """split('') + ascii() both operate on CODEPOINTS in both engines
    — even astral-plane emoji, ZWJ joiners and regional-indicator
    halves hash identically, so text_rolling_hash is unicode-safe
    without any guard."""
    from pyspark.sql import functions as F

    from mozart_etl_spark.operators.text import rolling_hash

    text = "🎉 start 👩‍👩‍👧 mid 🇺🇸 end"
    df = spark.createDataFrame([(text,)], "t STRING")
    s_h = df.select(rolling_hash(F.col("t")).alias("h")).collect()[0]["h"]
    chars, = duck.execute("SELECT string_split(?, '')", [text]).fetchone()
    h = 0
    for ch in chars:
        cp = duck.execute("SELECT ascii(?)", [ch]).fetchone()[0]
        h = (h * 31 + cp) % 2147483647
    assert s_h == h
