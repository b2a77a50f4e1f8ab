"""Conversation-document assembly: Spark grouped-map output equals the pure
Python assembler on ordered oracle records; docs validate against the
schema checks."""

import json

import pytest

from engine.core.assemble import build_conversation_document, validate_document
from engine.core.extract import extract_turn
from tools import synth


@pytest.fixture(scope="module")
def small_table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("docs") / "tx.parquet")
    synth.write_parquet(path, 120)
    return spark.read.parquet(path)


def test_conversation_documents_match_oracle(spark, small_table):
    from engine.spark.documents import conversation_documents
    from engine.spark.pipeline import extract_df

    got = {r["conv_id"]: r for r in
           conversation_documents(extract_df(small_table)).collect()}

    by_conv = {}
    for r in small_table.collect():
        by_conv.setdefault(r["conv_id"], []).append(r)

    assert set(got) == set(by_conv)
    for conv_id, rows in by_conv.items():
        rows.sort(key=lambda r: r["turn_idx"])
        records = []
        for r in rows:
            rec = extract_turn(r["text"], r["tool"], f"{conv_id}:{r['turn_idx']}")
            rec["turn_idx"] = r["turn_idx"]
            records.append(rec)
        expected = build_conversation_document(conv_id, records)
        g = got[conv_id]
        assert g["is_valid"], g["error"]
        assert g["n_turns"] == len(rows)
        assert json.loads(g["doc_json"]) == json.loads(
            json.dumps(expected, ensure_ascii=False, sort_keys=True)), conv_id


def test_assembled_doc_contract():
    payloads = [
        ("# Doc Title\n\nAcme Corp grew 5.2% with revenue of $3B. Tickers: ACME\n\n"
         "![Figure 0-0](images/0_0.jpg)\nA neutral caption here", "ocr.markdown"),
        ("A plain follow-up turn with enough text to matter.", "chat.plain"),
    ]
    records = []
    for i, (text, tool) in enumerate(payloads):
        rec = extract_turn(text, tool, f"c:{i}")
        rec["turn_idx"] = i
        records.append(rec)
    doc = build_conversation_document("c", records)
    ok, err = validate_document(doc)
    assert ok, err
    assert doc["doc"]["title"] == "Doc Title"
    assert doc["doc"]["tickers"] == ["ACME"]
    assert doc["data"]["extraction_summary"]["figures_count"] == 1
    # page rebase: turn 0 page 0 → 0; provenance pages unique doc-wide
    pages = [p["page"] for p in doc["passages"]]
    assert pages == sorted(pages)
    assert any(p >= 1000 for p in pages)  # turn-1 passage rebased


def test_entity_dedup_across_turns():
    r1 = extract_turn("Acme Corp did things with Acme Corp in many words here.",
                      "chat.plain", "c:0")
    r2 = extract_turn("Acme Corp appeared again in the following turn text.",
                      "chat.plain", "c:1")
    r1["turn_idx"], r2["turn_idx"] = 0, 1
    doc = build_conversation_document("c", [r1, r2])
    names = [e["name"] for e in doc["entities"]]
    assert names.count("Acme Corp") == 1


def test_fold_merge_equals_single_pass_any_chunking():
    """Core contract of the salted path: for ANY contiguous chunking of the
    record stream, finalize(merge([fold(c) for c in chunks])) must equal the
    single-pass build — including a JSON round-trip of the partials, which
    is exactly what the Spark shuttle does between pass 1 and pass 2."""
    from engine.core.assemble import (finalize_conversation_document,
                                      fold_conversation_records,
                                      merge_conversation_partials)

    payloads = [
        ("# Doc Title\n\nAcme Corp grew 5.2% with revenue of $3B. Tickers: ACME\n\n"
         "![Figure 0-0](images/0_0.jpg)\nCaption zero", "ocr.markdown"),
        ("Plain turn mentioning Acme Corp and 7.5% growth again.", "chat.plain"),
        ("# Second Title\n\nBeta Inc fell 1.1% on $2M volume. Tickers: BETA\n\n"
         "![Figure 2-0](images/2_0.jpg)\nCaption two", "ocr.markdown"),
        ("中文内容在这里出现了百分之五的增长。", "chat.plain"),
        ("Acme Corp repeated once more with 5.2% in context.", "chat.plain"),
    ]
    records = []
    for i, (text, tool) in enumerate(payloads):
        rec = extract_turn(text, tool, f"c:{i}")
        rec["turn_idx"] = i
        records.append(rec)
    expected = build_conversation_document("c", records)

    def chunkings(seq):
        if not seq:
            yield []
            return
        for i in range(1, len(seq) + 1):
            for rest in chunkings(seq[i:]):
                yield [seq[:i]] + rest

    for chunks in chunkings(records):  # all 16 contiguous chunkings of 5 turns
        parts = [json.loads(json.dumps(fold_conversation_records(c),
                                       ensure_ascii=False))
                 for c in chunks]
        doc = finalize_conversation_document(
            "c", merge_conversation_partials(parts))
        assert doc == expected, [len(c) for c in chunks]


def test_salted_two_pass_matches_single_pass(spark, small_table):
    from engine.spark.documents import conversation_documents
    from engine.spark.pipeline import extract_df

    ext = extract_df(small_table)
    single = {r["conv_id"]: r for r in conversation_documents(ext).collect()}
    salted = {r["conv_id"]: r for r in
              conversation_documents(ext, chunk=3).collect()}
    assert set(single) == set(salted)
    for cid, s in single.items():
        g = salted[cid]
        assert (g["doc_json"], g["n_turns"], g["is_valid"]) == \
               (s["doc_json"], s["n_turns"], s["is_valid"]), cid


def test_mega_conversation_salted(spark, tmp_path):
    """VERDICT r4 #7: a synthetic mega-conversation (one conv_id, 100k turns)
    assembles identically through the salted two-pass path, whose pass-1
    groups are bounded at ``chunk`` turns by the grouping key itself."""
    from pyspark.sql import Window, functions as F
    from engine.spark.documents import conversation_documents, shard_expr
    from engine.spark.pipeline import extract_df

    chunk = 4096
    path = str(tmp_path / "mega.parquet")
    n = synth.write_parquet(path, 100_000)  # rounds to whole conversations
    assert n >= 100_000
    raw = spark.read.parquet(path)
    # one giant conversation; re-key turn_idx deterministically (synth's
    # per-conv indices would collide, making intra-key order ill-defined)
    w = Window.orderBy("conv_id", "turn_idx")
    mega = (raw.withColumn("rn", F.row_number().over(w))
            .withColumn("turn_idx", (F.col("rn") - 1).cast("int"))
            .drop("rn").withColumn("conv_id", F.lit("mega")))
    # the unpartitioned window leaves every row in one partition: salt the
    # extraction map so it runs on every core, not in one task
    cores = spark.sparkContext.defaultParallelism
    ext = extract_df(mega, salt_partitions=4 * cores).persist()
    try:
        # structural bound: no (conv_id, shard) pass-1 group exceeds chunk
        per_shard = (ext.groupBy("conv_id", shard_expr(chunk).alias("shard"))
                     .count().agg(F.max("count"), F.count("*")).first())
        assert per_shard[0] <= chunk
        assert per_shard[1] == -(-n // chunk)  # ceil: every shard present
        single = conversation_documents(ext).collect()
        salted = conversation_documents(ext, chunk=chunk).collect()
    finally:
        ext.unpersist()
    assert len(single) == len(salted) == 1
    s, g = single[0], salted[0]
    assert s["is_valid"] and g["is_valid"], (s["error"], g["error"])
    assert s["n_turns"] == g["n_turns"] == n
    assert s["doc_json"] == g["doc_json"]


def test_conversation_documents_tolerates_dirty_rows(spark):
    from engine.spark.documents import conversation_documents
    from engine.spark.pipeline import extract_df
    dirty = spark.createDataFrame(
        [("cX", 0, "user", "a normal turn with enough text", "chat.plain", None),
         ("cX", None, "user", None, None, None),
         (None, 1, "user", "null conversation", "chat.plain", None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    rows = {r["conv_id"]: r for r in
            conversation_documents(extract_df(dirty)).collect()}
    assert set(rows) == {"cX", "None"}
    assert rows["cX"]["n_turns"] == 2
    assert rows["cX"]["is_valid"]
