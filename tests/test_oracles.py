"""Driver-gate rehearsal inside pytest: a representative subset of
queries() vs oracle_sql() (full sweep: tools/check_oracles.py)."""

import duckdb
import pytest

from tools.check_oracles import TABLES, normalize

SF = "/root/testdata/sf0.01"

SUBSET = ["extract_per_turn", "extract_kind_rollup", "conversation_rollup",
          "pricing_summary", "doc_text_stats", "doc_lang_id",
          "dedup_minhash_pairs", "dedup_ngram_jaccard",
          "ann_cosine_topk", "ann_lsh_buckets"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SF}/{t}.parquet')")
    return con


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, duck, name):
    import __spark_entry__ as entry
    sdf = entry.queries()[name](spark, SF)
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.sql(entry.oracle_sql()[name])
    orows = rel.fetchall()
    assert sorted(sdf.columns) == sorted(rel.columns), name
    assert len(srows) == len(orows), name
    assert normalize(srows, sdf.columns) == normalize(orows, rel.columns), name


def test_rotation_window_covers_every_query():
    """The driver gate verifies only ``_RAW_QUERIES`` keys[:50]; rotating
    the window each round is a manual, load-bearing convention (CLAUDE.md
    #7). This pins it: every registry entry must be driver-verified in at
    least one committed CORRECTNESS_r*.json artifact or sit inside the
    CURRENT window — a query added outside the window without queueing it
    fails here instead of silently shipping unverified (VERDICT r6 #1).
    Two 50-entry windows cannot cover a registry of more than 100
    entries, so the union runs over every committed artifact."""
    import json
    from pathlib import Path

    import __spark_entry__ as entry
    repo = Path(__file__).resolve().parent.parent
    arts = sorted(repo.glob("CORRECTNESS_r*.json"))
    assert arts, "need a committed driver artifact"
    verified: set = set()
    for p in arts:
        verified |= set(json.loads(p.read_text()))
    window = set(list(entry._RAW_QUERIES)[:50])
    missing = sorted(set(entry._RAW_QUERIES) - (verified | window))
    assert missing == [], (
        f"queries neither driver-verified in any committed CORRECTNESS_r*"
        f" artifact nor inside the current 50-entry window: {missing}")
