"""The SQL-function surface (engine/spark/functions.py): every registered
function, called through ``spark.sql``, returns what the engine/core kernel
returns when called in Python — on payload rows and on NULL."""

from __future__ import annotations

import json

PAYLOADS = [
    "# Quarterly Report\n\nRevenue grew **12%** in Q3, see [notes](http://x)."
    "\n<｜end of sentence｜>",
    "<html><head><title>T</title></head><body><h1>Hello</h1>"
    "<p>Some <b>bold</b> text.</p><script>x()</script></body></html>",
    "<|ref|>title<|/ref|><|det|>[[10, 20, 300, 40]]<|/det|>\n# Heading\n\n"
    "<|ref|>text<|/ref|><|det|>[[10, 50, 300, 90]]<|/det|>\nBody 中文 words.",
    'Sure:\n```json\n{"title": "A", "sections": [{"h": 1}]}\n```',
    "这是一个中文段落，用于语言检测。",
    "",
]


def _expected():
    from engine.core.cleaner import clean_markdown
    from engine.core.grounding import grounded_to_markdown, strip_eos
    from engine.core.html_clean import clean_html
    from engine.core.jsonparse import extract_json
    from engine.core.metadata import detect_language, extract_title
    from engine.core.pages import word_count
    return {
        "x_clean_markdown": (lambda t: clean_markdown(t)[0], None),
        "x_clean_html": (lambda t: clean_html(t)[0], None),
        "x_grounded_to_markdown": (lambda t: grounded_to_markdown(t)[0],
                                   None),
        "x_strip_eos": (strip_eos, None),
        "x_word_count": (word_count, 0),
        "x_detect_language": (detect_language, "en"),
        "x_extract_title": (extract_title, None),
        "x_extract_json": (lambda t: json.dumps(extract_json(t),
                                                ensure_ascii=False,
                                                sort_keys=True), None),
    }


def test_every_registered_function_matches_core_kernel(spark):
    from engine.spark.functions import ALL, register_all

    expected = _expected()
    assert sorted(ALL) == sorted(expected)
    register_all(spark)
    rows = list(enumerate(PAYLOADS + [None]))
    spark.createDataFrame(rows, "id int, text string") \
        .createOrReplaceTempView("sql_fn_payloads")
    for name, (kernel, on_null) in expected.items():
        got = [r.r for r in spark.sql(
            f"SELECT {name}(text) AS r FROM sql_fn_payloads ORDER BY id")
            .collect()]
        want = [kernel(t) if t is not None else on_null for _, t in rows]
        assert got == want, name
