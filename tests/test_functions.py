"""Unit tests for the scalar column-expression library (SURVEY.md §2.8).

Fixture values mirror the reference's record shapes (institution / MOE /
survey kv blocks, multi-format dates) so semantics stay pinned to the
behavior documented in SURVEY.md §1.1.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from data_pipeline_childcare_spark.functions import (
    extract_major_code,
    extract_major_name,
    kv_block_to_map,
    lang_guess,
    parse_date_multi,
    parse_time_filter,
    pipe_header_to_map,
    quality_score,
    seconds_to_mmss,
    strip_admin_suffix,
    token_count,
)
from data_pipeline_childcare_spark.functions.text import (
    doc_fingerprint,
    split_record_blocks,
    word_ngrams,
)


def one(spark, col):
    return spark.range(1).select(col.alias("v")).first()["v"]


def test_kv_block_to_map(spark):
    block = "机构名称：成都天使托育园\n统一社会信用代码:91510100XXX\n备注：含：冒号值"
    m = one(spark, kv_block_to_map(F.lit(block)))
    assert m["机构名称"] == "成都天使托育园"
    assert m["统一社会信用代码"] == "91510100XXX"  # ASCII colon also splits
    assert m["备注"] == "含：冒号值"  # 2-limit split keeps colons in value


def test_pipe_header_to_map(spark):
    m = one(spark, pipe_header_to_map(F.lit("城市：成都 | 岗位：保育员 | 学历：大专")))
    assert m == {"城市": "成都", "岗位": "保育员", "学历": "大专"}


def test_split_record_blocks(spark):
    arr = one(spark, split_record_blocks(F.lit("a：1^_^b：2^_^")))
    assert arr == ["a：1", "b：2"]


def test_major_extraction(spark):
    assert one(spark, extract_major_name(F.lit("婴幼儿托育服务与管理 (520802)"))) == "婴幼儿托育服务与管理"
    assert one(spark, extract_major_code(F.lit("婴幼儿托育服务与管理 (520802)"))) == "520802"
    assert one(spark, extract_major_code(F.lit("无代码专业"))) == ""


def test_strip_admin_suffix(spark):
    assert one(spark, strip_admin_suffix(F.lit("四川省"))) == "四川"
    assert one(spark, strip_admin_suffix(F.lit("成都市"))) == "成都"
    # length guard: 吉林市 → 吉林 (≥2), but 沙市 must NOT become 沙
    assert one(spark, strip_admin_suffix(F.lit("吉林市"))) == "吉林"
    assert one(spark, strip_admin_suffix(F.lit("沙市"))) == "沙市"


def test_parse_date_multi(spark):
    for raw in ["2021-05-10", "2021/05/10", "2021.05.10", "2021年05月10日", "20210510"]:
        assert one(spark, parse_date_multi(F.lit(raw))) == dt.date(2021, 5, 10), raw
    assert one(spark, parse_date_multi(F.lit("not a date"))) is None


def test_seconds_to_mmss(spark):
    assert one(spark, seconds_to_mmss(F.lit(78.4))) == "01:18"
    assert one(spark, seconds_to_mmss(F.lit(0.0))) == "00:00"
    assert one(spark, seconds_to_mmss(F.lit(600.0))) == "10:00"


def test_parse_time_filter():
    today = dt.date(2026, 8, 13)
    lo, hi = parse_time_filter("近三年", today=today)
    assert lo == dt.datetime(2023, 1, 1) and hi.date() == today
    lo, hi = parse_time_filter("2014", today=today)
    assert lo == dt.datetime(2014, 1, 1) and hi == dt.datetime(2014, 12, 31, 23, 59, 59)
    lo, hi = parse_time_filter("2020-01-01 至 2021-06-30", today=today)
    assert lo == dt.datetime(2020, 1, 1) and hi == dt.datetime(2021, 6, 30, 23, 59, 59)
    assert parse_time_filter("", today=today) is None
    assert parse_time_filter("无效", today=today) is None


def test_lang_guess(spark):
    assert one(spark, lang_guess(F.lit("the cat sat on the mat and it is fine"))) == "en"
    assert one(spark, lang_guess(F.lit("der Hund ist nicht da und das ist gut"))) == "de"
    assert one(spark, lang_guess(F.lit("这是一段中文文本"))) == "zh"
    assert one(spark, lang_guess(F.lit("xyzzy qwerty"))) == "und"


def test_token_count_and_quality(spark):
    assert one(spark, token_count(F.lit("a  b\tc\nd"))) == 4
    q = one(spark, quality_score(F.lit("the quick brown fox jumps over the lazy dog")))
    assert 0.0 <= q <= 1.0


def test_word_ngrams(spark):
    grams = one(spark, word_ngrams(F.lit("a b c d"), 3))
    assert grams == ["a b c", "b c d"]
    # shorter than n → whole text as one shingle
    assert one(spark, word_ngrams(F.lit("a b"), 3)) == ["a b"]


def test_fingerprint_normalization(spark):
    a = one(spark, doc_fingerprint(F.lit("Hello   World")))
    b = one(spark, doc_fingerprint(F.lit("hello world")))
    assert a == b


def test_lang_fertility_groups(spark):
    import __spark_entry__ as entry_mod

    out = {
        r["lang_guess"]: r
        for r in entry_mod.lang_fertility_stats(spark, "/root/testdata/sf0.001").collect()
    }
    # synthetic corpus is ASCII English-ish: every group's fertility
    # (BPE-ish tokens per whitespace word) must be >= 1 whenever any
    # words exist, and doc counts must total the corpus
    assert sum(r["n_docs"] for r in out.values()) == 500
    for lang, r in out.items():
        if r["ws_tokens"] > 0:
            assert r["fertility"] >= 1.0, (lang, r)


def test_canonical_url_rules(spark):
    """Every canonicalization rule on hand-written URLs: case, default
    vs explicit ports, tracking params, param sort, fragments, empty
    path, paths staying case-sensitive."""
    from data_pipeline_childcare_spark.functions.urls import canonical_url

    cases = [
        ("HTTPS://WWW.Example.COM:443/A/b?utm_source=x&b=2&a=1#top",
         "https://www.example.com/A/b?a=1&b=2"),
        ("https://www.example.com/A/b?a=1&b=2",
         "https://www.example.com/A/b?a=1&b=2"),
        ("HTTP://Host.com:80", "http://host.com/"),
        ("http://host.com:8080/x", "http://host.com:8080/x"),
        ("https://h.io/p?utm_campaign=z&gclid=1&fbclid=2&ref=r",
         "https://h.io/p"),
        ("https://h.io/p?z=9&y=8&z=1", "https://h.io/p?y=8&z=1&z=9"),
        ("ftp://Files.NET/Data", "ftp://files.net/Data"),
        ("https://h.io/#only-frag", "https://h.io/"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["c"] for r in df.select(canonical_url(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in cases]
