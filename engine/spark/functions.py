"""Scalar SQL-function surface: the extraction kernels as registered UDFs.

``register_all(spark)`` exposes the core operators to plain Spark SQL, so a
user can write

    SELECT conv_id, x_clean_markdown(text) AS cleaned FROM transcripts

Every UDF is an Arrow-batched ``pandas_udf`` in the ``Iterator[pd.Series]``
form (one Python worker per partition, compiled regexes reused across
batches; no per-row Python round-trips), built by one factory from the
table below: (name, return type, kernel, result on NULL). Names are
prefixed ``x_`` to avoid colliding with builtins.
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd

from pyspark.sql.functions import pandas_udf

from engine.core.cleaner import clean_markdown
from engine.core.grounding import grounded_to_markdown, strip_eos
from engine.core.html_clean import clean_html
from engine.core.jsonparse import extract_json
from engine.core.metadata import detect_language, extract_title
from engine.core.pages import word_count

_TABLE = [
    ("x_clean_markdown", "string", lambda t: clean_markdown(t)[0], None),
    ("x_clean_html", "string", lambda t: clean_html(t)[0], None),
    ("x_grounded_to_markdown", "string",
     lambda t: grounded_to_markdown(t)[0], None),
    ("x_strip_eos", "string", strip_eos, None),
    ("x_word_count", "int", word_count, 0),
    ("x_detect_language", "string", detect_language, "en"),
    ("x_extract_title", "string", extract_title, None),
    ("x_extract_json", "string",
     lambda t: json.dumps(extract_json(t), ensure_ascii=False,
                          sort_keys=True), None),
]


def _udf(ret: str, kernel, on_null):
    @pandas_udf(ret)
    def fn(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            yield s.map(lambda t: kernel(t) if isinstance(t, str) else on_null)
    return fn


ALL = {name: _udf(ret, kernel, on_null)
       for name, ret, kernel, on_null in _TABLE}


def register_all(spark) -> None:
    for name, fn in ALL.items():
        spark.udf.register(name, fn)
