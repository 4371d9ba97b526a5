"""Text analysis operators (SURVEY §2.9 X4)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ig_etl_sync_spark.operators import textops as T


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "The cat and the dog sat in the house, and it was warm."),
        (2, "Der Hund und die Katze sind nicht in das Haus mit auf sich."),
        (3, ""),
        (4, "   "),
        (5, "word"),
        (6, "a b c d e f g h i j k l m n o p"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def feats(docs, col):
    return {r["doc_id"]: r["v"] for r in docs.select("doc_id", col.alias("v")).collect()}


def test_token_count(spark, docs):
    got = feats(docs, T.token_count("text"))
    assert got[1] == 13
    assert got[3] == 0  # whitespace-only → 0, not 1
    assert got[5] == 1


def test_bpe_ish_count_exceeds_words(spark, docs):
    got = feats(docs, T.bpe_ish_token_count("text"))
    assert got[1] == 15  # 13 words + comma + period
    assert got[3] == 0


def test_lang_id(spark, docs):
    got = feats(docs, T.lang_id("text"))
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "und"
    assert got[6] == "und"  # no stopwords anywhere


def test_ratios_bounded(spark, docs):
    for col in (T.alpha_ratio("text"), T.punct_ratio("text"), T.stopword_ratio("text")):
        vals = feats(docs, col)
        assert all(0.0 <= v <= 1.0 for v in vals.values())


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello,   World!"), (2, "hello world"), (3, "HELLO  WORLD.")],
        "doc_id int, text string",
    )
    fps = {r["doc_id"]: r["v"] for r in df.select("doc_id", T.fingerprint_md5("text").alias("v")).collect()}
    assert fps[1] == fps[2] == fps[3]


def test_word_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d e f")], "doc_id int, text string")
    got = df.select(T.word_shingles("text", 5).alias("s")).collect()[0]["s"]
    assert got == ["a b c d e", "b c d e f"]
    short = spark.createDataFrame([(1, "a b")], "doc_id int, text string")
    got2 = short.select(T.word_shingles("text", 5).alias("s")).collect()[0]["s"]
    assert got2 == ["a b"]


def test_redact_pii_and_counts_agree(spark):
    from ig_etl_sync_spark.operators.textops import pii_counts, redact_pii
    from pyspark.sql import functions as F

    rows = [
        (1, "mail a.b+c@x.co call +1 (415) 555-0199 from 192.168.1.1"),
        (2, "no pii here, price 3.50 in 2024, version 1.2.3"),
        (3, "two mails: a@b.io and c@d.org"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {
        r["id"]: r
        for r in df.select(
            "id", *pii_counts("text"), redact_pii("text").alias("clean")
        ).collect()
    }
    assert (out[1]["n_email"], out[1]["n_ip"], out[1]["n_phone"]) == (1, 1, 1)
    assert "<EMAIL>" in out[1]["clean"] and "<IP>" in out[1]["clean"]
    assert "<PHONE>" in out[1]["clean"]
    # no false positives: decimals, years, dotted versions survive
    assert (out[2]["n_email"], out[2]["n_ip"], out[2]["n_phone"]) == (0, 0, 0)
    assert out[2]["clean"] == rows[1][1]
    assert out[3]["n_email"] == 2 and out[3]["clean"].count("<EMAIL>") == 2
