"""Column-expression library.

Every scalar operation from SURVEY.md §2.8 that is expressible with
built-in ``pyspark.sql.functions`` lives here as a function returning a
``Column`` — JVM-side, whole-stage-codegen friendly. Python/pandas UDFs
are quarantined in ``udfs.py`` and used only where built-ins genuinely
cannot express the semantics (JSON repair of LLM noise).
"""

from data_pipeline_childcare_spark.functions.text import (
    kv_block_to_map,
    pipe_header_to_map,
    extract_major_name,
    extract_major_code,
    strip_admin_suffix,
    normalize_whitespace,
    tokenize,
    token_count,
    char_ngrams,
    quality_score,
    lang_guess,
    doc_fingerprint,
)
from data_pipeline_childcare_spark.functions.dates import (
    parse_date_multi,
    parse_ts_multi,
    relative_date,
    seconds_to_mmss,
    parse_time_filter,
)

__all__ = [
    "kv_block_to_map",
    "pipe_header_to_map",
    "extract_major_name",
    "extract_major_code",
    "strip_admin_suffix",
    "normalize_whitespace",
    "tokenize",
    "token_count",
    "char_ngrams",
    "quality_score",
    "lang_guess",
    "doc_fingerprint",
    "parse_date_multi",
    "parse_ts_multi",
    "relative_date",
    "seconds_to_mmss",
    "parse_time_filter",
]
