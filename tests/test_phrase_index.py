"""Phrase retrieval over the positional index component (ROADMAP #24,
staged for r11 registration — the r10 gate window is full, so
`retrieval_phrase_match` is exercised here with the IDENTICAL
DuckDB-parity compare the registry gate applies, plus artifact
contracts: positional build exactness, overlap counting, append
carry-forward, and phrase-less-version fail-loudly)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from mapreduce_distributed_systems_spark.storage.lexical_index import (
    PHRASE_LEN,
    PHRASE_ORACLE,
    PHRASE_TOP_K,
    append_bm25_index,
    build_and_commit_bm25,
    phrase_topk_from_index,
    positional_postings,
    read_bm25_index,
    read_positional_postings,
    retrieval_phrase_match,
)
from tests.duck_oracle import compare_spark_vs_oracle


def test_phrase_match_parity_with_duckdb(spark, sf_dir):
    """The exact compare the driver gate would run once the query is
    registered at r11: Spark (positional artifact serve path) vs the
    pure-SQL oracle, order-insensitive, values exact."""
    df = retrieval_phrase_match(spark, sf_dir)
    compare_spark_vs_oracle(df, PHRASE_ORACLE, sf_dir)


def _write_docs(spark, rows):
    """rows: [(doc_id, text)] -> a table dir load_table can read."""
    d = tempfile.mkdtemp(prefix="phrase_docs_")
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{d}/documents.parquet")
    return d


def test_positional_postings_offsets_are_filtered_and_sorted(spark):
    """Offsets index the FILTERED token stream (empty tokens from
    punctuation runs dropped before numbering), 0-based, sorted —
    the invariant both the Spark intersection and the oracle's
    zip-with-range derivation depend on."""
    docs = spark.createDataFrame(
        [(1, "Hello, world... the Hello world")], "doc_id long, text string"
    )
    rows = {
        r.term: (r.tf, list(r.positions))
        for r in positional_postings(docs).collect()
    }
    assert rows == {
        "Hello": (2, [0, 3]),
        "world": (2, [1, 4]),
        "the": (1, [2]),
    }


def test_phrase_hits_count_overlapping_occurrences(spark):
    """Phrase (a, b, a) in 'a b a b a' starts at offsets 0 AND 2 —
    overlapping matches both count (the SQL three-way join counts
    them, so the array intersection must too), and a repeated word
    inside the phrase (w0 == w2) must not confuse the legs."""
    assert PHRASE_LEN == 3  # the planted texts below encode length 3
    d = _write_docs(
        spark,
        [
            (0, "a b a x"),  # query doc (doc_id % 100 = 0): phrase 'a b a'
            (1, "a b a b a"),  # hits 2 (overlap at 0 and 2)
            (2, "a b a"),  # hits 1
            (3, "b a a b"),  # hits 0 -> absent
        ],
    )
    got = {
        (r.query_id, r.doc_id): (r.hits, r.rank)
        for r in retrieval_phrase_match(spark, d).collect()
    }
    assert got == {(0, 1): (2, 1), (0, 2): (1, 2)}
    # and the planted corpus agrees with the oracle end-to-end (the
    # planted dir only has documents, so register that view directly)
    import duckdb

    con = duckdb.connect()
    con.execute(
        # Spark wrote a parquet DIRECTORY; duckdb needs the file glob
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    want = sorted(tuple(r) for r in con.execute(PHRASE_ORACLE).fetchall())
    spark_rows = sorted(
        (r.query_id, r.doc_id, r.hits, r.rank)
        for r in retrieval_phrase_match(spark, d)
        .select("query_id", "doc_id", "hits", "rank")
        .collect()
    )
    assert spark_rows == want


def test_rank_cuts_at_top_k_with_doc_id_tiebreak(spark):
    """More matching docs than PHRASE_TOP_K: equal-hit candidates
    order by doc_id ASC and the cut keeps exactly PHRASE_TOP_K."""
    rows = [(0, "p q r end")] + [
        (i, "p q r filler") for i in range(1, PHRASE_TOP_K + 5)
    ]
    d = _write_docs(spark, rows)
    got = retrieval_phrase_match(spark, d).collect()
    assert len(got) == PHRASE_TOP_K
    by_rank = sorted(got, key=lambda r: r.rank)
    assert [r.doc_id for r in by_rank] == list(range(1, PHRASE_TOP_K + 1))
    assert all(r.hits == 1 for r in got)


def test_append_carries_positional_component_forward(spark):
    """An append on a positional build must commit version+1 WITH a
    positional component (no silent loss of phrase support), and a
    phrase planted in the appended batch must be retrievable from the
    new version through the normal serve path."""
    base = tempfile.mkdtemp(prefix="phrase_append_")
    d = _write_docs(
        spark,
        [(0, "alpha beta gamma tail"), (1, "alpha beta gamma")],
    )
    build_and_commit_bm25(spark, d, base, with_positions=True)
    new_docs = spark.createDataFrame(
        [(11, "alpha beta gamma alpha beta gamma alpha beta gamma")],
        "doc_id long, text string",
    )
    append_bm25_index(spark, new_docs, base)
    _post, _terms, _dl, m2 = read_bm25_index(spark, base)
    assert m2["version"] == 2 and "positions_dir" in m2
    positional = read_positional_postings(spark, m2)
    got = {
        (r.query_id, r.doc_id): (r.hits, r.rank)
        for r in phrase_topk_from_index(spark, d, positional, m2).collect()
    }
    # hits 3 beats the base doc's 1 — the appended doc ranks first
    assert got == {(0, 11): (3, 1), (0, 1): (1, 2)}


def test_append_positional_is_idempotent_under_redelivery(spark):
    """Redelivering an already-committed batch commits a positional
    component with IDENTICAL content (the postings idempotence
    discipline extended to the positional table)."""
    base = tempfile.mkdtemp(prefix="phrase_idem_")
    d = _write_docs(spark, [(0, "u v w x"), (1, "u v w")])
    build_and_commit_bm25(spark, d, base, with_positions=True)
    new_docs = spark.createDataFrame(
        [(7, "u v w u v w")], "doc_id long, text string"
    )
    append_bm25_index(spark, new_docs, base)
    _, _, _, m2 = read_bm25_index(spark, base)
    append_bm25_index(spark, new_docs, base)  # redelivery
    _, _, _, m3 = read_bm25_index(spark, base)
    assert m3["version"] == m2["version"] + 1
    want = {
        (r.term, r.doc_id, r.tf, tuple(r.positions))
        for r in read_positional_postings(spark, m2).collect()
    }
    got = {
        (r.term, r.doc_id, r.tf, tuple(r.positions))
        for r in read_positional_postings(spark, m3).collect()
    }
    assert got == want


def test_phraseless_version_fails_loudly(spark):
    """Serving phrases from a version built WITHOUT positions must
    raise (KeyError on positions_dir), never silently degrade."""
    base = tempfile.mkdtemp(prefix="phrase_none_")
    d = _write_docs(spark, [(0, "m n o p"), (1, "m n o")])
    build_and_commit_bm25(spark, d, base)  # default: no positions
    _, _, _, manifest = read_bm25_index(spark, base)
    assert "positions_dir" not in manifest
    with pytest.raises(KeyError):
        read_positional_postings(spark, manifest)


def test_default_build_manifest_shape_is_unchanged(spark, sf_dir):
    """The round-10 certified doc_bm25_serve path must be untouched by
    the positional extension: a default build's manifest carries
    exactly the keys it did at certification (no positions_dir, same
    stats), so the helper edit is provably invisible to the in-window
    query."""
    base = tempfile.mkdtemp(prefix="phrase_noop_")
    path = build_and_commit_bm25(spark, sf_dir, base)
    import json

    with open(path) as f:
        manifest = json.load(f)
    assert set(manifest) == {
        "version",
        "postings_dir",
        "terms_dir",
        "doclens_dir",
        "n_term_buckets",
        "n_docs",
        "avgdl",
        "posting_cap",
        "schemas",
    }
    assert set(manifest["schemas"]) == {"postings", "terms", "doclens"}
    assert not any(
        p.startswith("positions-") for p in os.listdir(base)
    ), "default build must not write a positional dir"


def test_phrase_serve_reads_prune_to_query_buckets(spark, sf_dir):
    """The phrase legs must read the positional component through
    tb partition filters (directory-level skipping to the buckets the
    phrase words hash into) and keep tb out of every parquet
    ReadSchema — same discipline test_lexical_index pins for the
    scoring postings."""
    import tempfile

    from mapreduce_distributed_systems_spark.storage.lexical_index import (
        read_bm25_index as _read,
    )

    base = tempfile.mkdtemp(prefix="phrase_prune_")
    build_and_commit_bm25(spark, sf_dir, base, with_positions=True)
    _, _, _, manifest = _read(spark, base)
    positional = read_positional_postings(spark, manifest)
    df = phrase_topk_from_index(spark, sf_dir, positional, manifest)
    plan = df._jdf.queryExecution().executedPlan().toString()
    sections = plan.split("PartitionFilters: [")[1:]
    assert sections, f"no partition filters in plan:\n{plan[:2000]}"
    assert any("tb" in s[:200] for s in sections)
    for rs in plan.split("ReadSchema: ")[1:]:
        assert "tb" not in rs.split("\n", 1)[0]
