"""Text scalar functions — all JVM-side Column expressions.

Re-expresses the reference's string layer (SURVEY.md §2.8):
  - key:value record parsing (reference retrieve.py:649-665, 909-934)
  - pipe-header parsing `城市：X | 岗位：Y` (retrieve.py:855-869)
  - major "name (code)" extraction (retrieve.py:951-959)
  - administrative-suffix stripping (retrieve.py:1074-1093)
  - whitespace normalization (多数据源获取数据.py:493-505)
plus the text-analysis operators mandated for an LLM-data pipeline:
tokenization, n-grams, quality scoring, language ID, fingerprinting,
SimHash Hamming distance. Everything here compiles into whole-stage codegen — no Python
in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# key:value record blocks
# --------------------------------------------------------------------------


def kv_block_to_map(col: Column | str, line_sep: str = "\n", kv_sep: str = "[：:]") -> Column:
    """Parse a flat `key：value`-per-line block into MAP<STRING,STRING>.

    The reference parses these blocks line-by-line in Python, splitting
    on the first fullwidth or ASCII colon (retrieve.py:919-921). Here:
    split to lines → filter empties → build map entries with a 2-limit
    split so values containing colons survive.
    """
    c = F.col(col) if isinstance(col, str) else col
    lines = F.filter(F.split(c, line_sep), lambda x: x.rlike(kv_sep))
    entries = F.transform(
        lines,
        lambda ln: F.struct(
            F.trim(F.split(ln, kv_sep, 2).getItem(0)).alias("key"),
            F.trim(F.split(ln, kv_sep, 2).getItem(1)).alias("value"),
        ),
    )
    return F.map_from_entries(entries)


def pipe_header_to_map(col: Column | str) -> Column:
    """Parse `城市：X | 岗位：Y | …` pipe headers (retrieve.py:855-869)."""
    c = F.col(col) if isinstance(col, str) else col
    return kv_block_to_map(c, line_sep=r"\s*\|\s*")


def split_record_blocks(col: Column | str, sep: str = r"\^_\^") -> Column:
    """Split a `^_^`-joined corpus file into an array of record blocks
    (separator convention: moe_majors_scraper.py:171)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.transform(F.split(c, sep), F.trim), lambda b: b != F.lit(""))


# --------------------------------------------------------------------------
# field extractors / normalizers
# --------------------------------------------------------------------------


def extract_major_name(col: Column | str) -> Column:
    """`"婴幼儿托育服务与管理 (520802)"` → name (retrieve.py:951-959)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(c, r"[（(][^）)]*[）)]\s*$", ""))


def extract_major_code(col: Column | str) -> Column:
    """`"… (520802)"` → code, empty string when absent."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, r"[（(]([^）)]*)[）)]\s*$", 1)


_ADMIN_SUFFIXES = r"(自治区|自治州|自治县|特别行政区|地区|林区|新区|省|市|区|县|盟|旗)$"


def strip_admin_suffix(col: Column | str) -> Column:
    """Strip one trailing Chinese administrative suffix, keeping names of
    length ≥ 2 (reference normalize_name, retrieve.py:1074-1093).

    Longest-first matching is encoded by alternation order in the regex;
    the ≥2-length guard prevents '吉林市' → '吉' style destruction.
    """
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, _ADMIN_SUFFIXES, "")
    return F.when(F.length(stripped) >= 2, stripped).otherwise(c)


def extract_video_id(col: Column | str) -> Column:
    """Video-id extraction: douyin `/video/(\\d+)`, bilibili `BV\\w+`
    (多数据源获取链接.py:646-663). Empty string when neither matches."""
    c = F.col(col) if isinstance(col, str) else col
    douyin = F.regexp_extract(c, r"/video/(\d+)", 1)
    bili = F.regexp_extract(c, r"(BV[0-9A-Za-z]+)", 1)
    return F.when(douyin != "", douyin).otherwise(bili)


def url_to_source_id(col: Column | str) -> Column:
    """URL → filesystem/metadata-safe source id
    (多数据源获取数据.py:1802-1803)."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, r"^https?://", "")
    return F.regexp_replace(stripped, r"[^0-9A-Za-z._-]", "_")


def normalize_whitespace(col: Column | str) -> Column:
    """Collapse runs of blank lines / spaces (多数据源获取数据.py:493-505)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, r"[ \t]+", " ")
    c = F.regexp_replace(c, r"\n{3,}", "\n\n")
    return F.trim(c)


# --------------------------------------------------------------------------
# LLM-data text analysis
# --------------------------------------------------------------------------


def tokenize(col: Column | str) -> Column:
    """Whitespace tokenizer → ARRAY<STRING>, lowercased, empties dropped."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != F.lit(""))


def token_count(col: Column | str) -> Column:
    return F.size(tokenize(col))


# GPT-2-style pretokenizer classes, restricted to the regex subset
# Java regex and RE2 share (no lookahead): letter runs / digit runs /
# punctuation runs, each with an optional leading space.
_BPE_LIKE_RE = r"( ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+)"


def bpe_like_tokens(col: Column | str) -> Column:
    """BPE-pretokenizer-style segmentation → ARRAY<STRING>. The unit a
    subword tokenizer would split further; counting these approximates
    LLM token budgets far better than whitespace words on CJK and
    punctuation-heavy text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(_BPE_LIKE_RE), 1)


def bpe_like_token_count(col: Column | str) -> Column:
    return F.size(bpe_like_tokens(col))


def word_ngrams(col: Column | str, n: int = 3) -> Column:
    """Word-level n-gram shingles → ARRAY<STRING> (joined with single
    spaces). Length < n yields the whole text as one shingle.

    Built as arrays_zip over n shifted slices of the token array, NOT
    as transform-over-sequence with slice(toks, i, n) in the lambda:
    lambda interiors are interpreted per element, so referencing the
    tokenize expression there re-tokenizes the document once per
    shingle (O(tokens²) work — measured 5× slower at sf0.1). The
    shifted slices reference the token array at top level, where
    codegen subexpression elimination evaluates tokenize once per row.
    """
    toks = tokenize(col)
    m = F.greatest(F.size(toks) - n + 1, F.lit(1))
    parts = [F.slice(toks, i + 1, m) for i in range(n)]
    z = F.arrays_zip(*parts)
    # arrays_zip names unaliased fields by position; slices past the
    # array end come back short and zip null-pads them — concat_ws
    # skips nulls, which yields exactly the whole-text shingle for
    # docs shorter than n tokens. Zero tokens zips to an empty array,
    # so the single-empty-shingle contract needs an explicit branch.
    return F.when(F.size(toks) == 0, F.array(F.lit(""))).otherwise(
        F.transform(z, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)]))
    )


def char_ngrams(col: Column | str, n: int = 5) -> Column:
    """Character n-grams over the lowercased, whitespace-collapsed text.

    Same shifted-slice construction as ``word_ngrams`` (and for the
    same reason): substring(s, i, n) inside a transform lambda would
    re-run the regexp_replace normalization once per character.
    """
    c = F.col(col) if isinstance(col, str) else col
    s = F.regexp_replace(F.lower(c), r"\s+", " ")
    chars = F.split(s, "")
    m = F.greatest(F.length(s) - n + 1, F.lit(1))
    parts = [F.slice(chars, i + 1, m) for i in range(n)]
    z = F.arrays_zip(*parts)
    return F.when(F.length(s) == 0, F.array(F.lit(""))).otherwise(
        F.transform(z, lambda st: F.concat_ws("", *[st[str(i)] for i in range(n)]))
    )


def quality_score(col: Column | str, stopwords: list[str] | None = None) -> Column:
    """Heuristic document-quality score in [0,1].

    Blends: mean token length in a sane band, stopword presence, and
    non-alphanumeric ratio — the classic cheap pretraining-corpus
    filters. Pure column math; runs in codegen at any scale.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = tokenize(c)
    n_tok = F.size(toks)
    mean_tok_len = F.when(n_tok > 0, F.length(F.concat_ws("", toks)) / n_tok).otherwise(F.lit(0.0))
    sw = stopwords or ["the", "a", "of", "and", "to", "in", "is"]
    sw_hits = F.size(F.filter(toks, lambda t: t.isin(*[F.lit(w) for w in sw])))
    sw_ratio = F.when(n_tok > 0, sw_hits / n_tok).otherwise(F.lit(0.0))
    alnum = F.length(F.regexp_replace(c, r"[^\p{L}\p{N}\s]", ""))
    sym_ratio = F.when(F.length(c) > 0, 1 - alnum / F.length(c)).otherwise(F.lit(1.0))
    len_component = F.when((mean_tok_len >= 3) & (mean_tok_len <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    sw_component = F.least(sw_ratio * 5, F.lit(1.0))
    sym_component = F.greatest(F.lit(0.0), 1 - sym_ratio * 2)
    return F.round((len_component + sw_component + sym_component) / 3, 4)


_LANG_MARKERS: dict[str, list[str]] = {
    # Tiny per-language function-word lists; a real deployment would use
    # a trained n-gram model, but the operator shape (score per language
    # via array intersection, argmax) is identical.
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "que"],
}


def lang_guess(col: Column | str) -> Column:
    """Language-ID heuristic: function-word hit counts, argmax language.

    CJK short-circuit first (any Han character → zh), then the marker
    table. Deterministic tie-break by language code order.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = tokenize(c)
    scores = [
        F.struct(
            F.size(F.filter(toks, lambda t: t.isin(*[F.lit(w) for w in ws]))).alias("hits"),
            F.lit(code).alias("lang"),
        )
        for code, ws in sorted(_LANG_MARKERS.items())
    ]
    # array_max on struct(hits, lang) orders by hits then lang; invert
    # lang ordering is not needed — ties resolve to the max lang code,
    # which is deterministic (documented behavior).
    best = F.array_max(F.array(*scores))
    has_cjk = c.rlike(r"[一-鿿]")
    return F.when(has_cjk, F.lit("zh")).when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def doc_fingerprint(col: Column | str) -> Column:
    """Deterministic content fingerprint: md5 of the normalized text.

    Used as the exact-dedup key; md5 (not hash()) so independent engines
    (e.g. a DuckDB oracle) agree on the value.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.regexp_replace(F.lower(c), r"\s+", " "))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit simhashes (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b))
