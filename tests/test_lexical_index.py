"""Persisted BM25 index contract (storage/lexical_index.py): manifest
commit ordering, version time travel, term-bucket partition-pruned
candidate reads, serving-equals-rebuild equivalence, and the
frozen-stats incremental append."""

from __future__ import annotations

import glob
import json
import os
import tempfile

from pyspark.sql import functions as F

from mapreduce_distributed_systems_spark.plans.registry import get_spec
from mapreduce_distributed_systems_spark.sources import load_table
from mapreduce_distributed_systems_spark.storage.lexical_index import (
    N_TERM_BUCKETS,
    append_bm25_index,
    build_and_commit_bm25,
    read_bm25_index,
    term_bucket,
    write_bm25_index,
)


def test_manifest_is_the_commit_point(spark, sf_dir):
    """All parquet dirs must be complete before any manifest appears,
    and the pointer must resolve to existing dirs — a reader that
    finds a manifest never sees missing data."""
    base = tempfile.mkdtemp(prefix="bm25_commit_")
    path = build_and_commit_bm25(spark, sf_dir, base)
    with open(path) as f:
        manifest = json.load(f)
    for key in ("postings_dir", "terms_dir", "doclens_dir"):
        assert os.path.isdir(manifest[key])
    assert os.path.exists(os.path.join(manifest["terms_dir"], "_SUCCESS"))
    assert not os.path.exists(path + ".tmp")
    assert os.path.exists(os.path.join(base, "manifest-001.json"))
    # frozen corpus scalars recorded at build time
    for key in ("n_docs", "avgdl", "posting_cap", "n_term_buckets"):
        assert key in manifest


def test_round_trip_preserves_postings_and_stats(spark, sf_dir):
    base = tempfile.mkdtemp(prefix="bm25_rt_")
    build_and_commit_bm25(spark, sf_dir, base)
    post, terms, doclens, manifest = read_bm25_index(spark, base)
    # the schemas the manifest pins are the ones inference would find
    for rel, key in ((post, "postings_dir"), (terms, "terms_dir"),
                     (doclens, "doclens_dir")):
        assert rel.schema == spark.read.parquet(manifest[key]).schema
    # the stored dictionary and doc lengths must equal a fresh
    # re-aggregation of the corpus
    from mapreduce_distributed_systems_spark.functions.text import words

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select("doc_id", F.explode(words("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    want_df = {
        (r.term, r.df)
        for r in tf.groupBy("term").agg(F.count("*").alias("df")).collect()
    }
    assert {(r.term, r.df) for r in terms.collect()} == want_df
    want_dl = {
        (r.doc_id, r.dl)
        for r in tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")).collect()
    }
    assert {(r.doc_id, r.dl) for r in doclens.collect()} == want_dl
    assert manifest["n_docs"] == len(want_dl)
    # postings carry dl denormalized in, consistent with the doclens
    # table row for the same doc
    dl_map = dict(want_dl)
    for r in post.limit(200).collect():
        assert r.dl == dl_map[r.doc_id]
    # every stored posting's bucket matches its term's hash bucket
    mism = post.where(
        F.col("tb") != term_bucket(F.col("term"))
    ).count()
    assert mism == 0


def test_version_time_travel_across_rebuilds(spark, sf_dir):
    """A rebuild commits version+1 with v1 left immutable: the pointer
    serves v2, a pinned read still resolves v1 — the same contract the
    IVF index and KV snapshots certify."""
    base = tempfile.mkdtemp(prefix="bm25_tt_")
    build_and_commit_bm25(spark, sf_dir, base)
    post1, _, _, m1 = read_bm25_index(spark, base)
    n1 = post1.count()
    # "rebuild": v2 keeps only even doc_ids (a deterministic change)
    post, terms, doclens, m = read_bm25_index(spark, base)
    write_bm25_index(
        post.where(F.col("doc_id") % 2 == 0).select(
            "term", "doc_id", "tf", "dl"
        ),
        terms,
        doclens,
        {k: m[k] for k in ("n_docs", "avgdl", "posting_cap")},
        base,
        version=2,
    )
    latest, _, _, m_latest = read_bm25_index(spark, base)
    pinned, _, _, m_pinned = read_bm25_index(spark, base, version=1)
    assert m_latest["version"] == 2 and m_pinned["version"] == 1
    assert pinned.count() == n1
    assert latest.count() == post1.where(F.col("doc_id") % 2 == 0).count()


def test_candidate_read_is_partition_pruned(spark, sf_dir):
    """The point of term-bucket-partitioned postings: a candidate read
    for a query's term buckets must plan partition filters on `tb`
    (directory-level skipping) and keep tb out of the parquet
    ReadSchema — a bounded fraction of the index bytes, not a full
    scan plus filter."""
    base = tempfile.mkdtemp(prefix="bm25_prune_")
    build_and_commit_bm25(spark, sf_dir, base)
    post, _, _, _ = read_bm25_index(spark, base)
    pruned = post.where(F.col("tb").isin([0, 3]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    tail = plan.split("PartitionFilters: [", 1)
    assert len(tail) == 2, f"no partition filters in plan:\n{plan}"
    assert "tb" in tail[1][:200]
    read_schema = plan.split("ReadSchema: ", 1)[1]
    assert "tb" not in read_schema
    # one data file per bucket: the repartition("tb")-before-partitionBy
    # write discipline (the vector_index small-files fix)
    with open(os.path.join(base, "manifest.json")) as f:
        post_dir = json.load(f)["postings_dir"]
    files = glob.glob(f"{post_dir}/*/*.parquet")
    buckets = [f.split("/tb=")[1].split("/")[0] for f in files]
    assert len(buckets) == len(set(buckets)), "multi-file bucket"
    assert len(buckets) <= N_TERM_BUCKETS


def test_serve_plan_prunes_buckets_and_equals_in_query_ranker(spark, sf_dir):
    """doc_bm25_serve (build, commit, reload, score off the artifact)
    must return exactly doc_bm25_topk (in-session rebuild): persistence
    is semantically invisible. Its executed plan must read postings
    through a tb partition filter."""
    served_df = get_spec("doc_bm25_serve").fn(spark, sf_dir)
    plan = served_df._jdf.queryExecution().executedPlan().toString()
    tail = plan.split("PartitionFilters: [", 1)
    assert len(tail) == 2, f"serve plan has no partition filters:\n{plan}"
    assert "tb" in tail[1][:200]
    served = {
        (r.query_id, r.rank): (r.doc_id, r.bm25) for r in served_df.collect()
    }
    rebuilt = {
        (r.query_id, r.rank): (r.doc_id, r.bm25)
        for r in get_spec("doc_bm25_topk").fn(spark, sf_dir).collect()
    }
    assert served == rebuilt


def _partitions_read(plan, dir_prefix: str) -> list[int]:
    """'number of partitions read' of every executed file scan whose
    root path contains `dir_prefix`, walking into adaptive plans and
    their query stages."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _partitions_read(plan.executedPlan(), dir_prefix)
    if name.endswith("QueryStageExec"):
        return _partitions_read(plan.plan(), dir_prefix)
    found = []
    if name == "FileSourceScanExec" and dir_prefix in str(
        plan.relation().location().rootPaths()
    ):
        found.append(plan.metrics().get("numPartitions").get().value())
    children = plan.children()
    for i in range(children.size()):
        found += _partitions_read(children.apply(i), dir_prefix)
    return found


def test_serve_is_one_plan_pruned_to_the_query_buckets(spark, sf_dir):
    """A request is one JVM-side plan: the query block reaches the
    postings join as a broadcast, not as driver-collected rows turned
    back into a Python-RDD relation (an ExistingRDD leaf). Pruning is
    then dynamic: after execution the postings scan has read exactly
    as many tb partitions as there are distinct buckets among the
    query's selected terms — a silent fall-back to a full index scan
    would keep results right and only show here."""
    from mapreduce_distributed_systems_spark.functions.text import words
    from mapreduce_distributed_systems_spark.operators.retrieval import (
        BM25_QUERY_FILTER,
        QUERY_TERMS,
    )
    from mapreduce_distributed_systems_spark.storage.lexical_index import (
        bm25_topk_from_index,
    )

    base = tempfile.mkdtemp(prefix="bm25_dpp_")
    build_and_commit_bm25(spark, sf_dir, base)
    qdir = tempfile.mkdtemp(prefix="bm25_dpp_q_")
    qdoc = (
        load_table(spark, sf_dir, "documents")
        .where(F.expr(BM25_QUERY_FILTER))
        .orderBy("doc_id")
        .limit(1)
        .select("doc_id", "text")
    )
    qdoc.write.parquet(f"{qdir}/documents.parquet")
    post, terms, _dl, m = read_bm25_index(spark, base)
    df = bm25_topk_from_index(spark, qdir, post, terms, m)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    assert df.collect()

    qterms = {
        r.term
        for r in qdoc.select(F.explode(words("text")).alias("term")).collect()
    }
    chosen = sorted(
        (r.df, r.term) for r in terms.collect() if r.term in qterms
    )[:QUERY_TERMS]
    buckets = {
        r.tb
        for r in spark.createDataFrame(
            [(t,) for _df, t in chosen], "term string"
        )
        .select(term_bucket(F.col("term"), m["n_term_buckets"]).alias("tb"))
        .collect()
    }
    read = _partitions_read(
        df._jdf.queryExecution().executedPlan(), "postings-"
    )
    assert read == [len(buckets)], (read, sorted(buckets))
    n_dirs = len(glob.glob(f"{m['postings_dir']}/tb=*"))
    assert len(buckets) < n_dirs  # the check can tell pruned from full


def test_serve_honors_the_manifest_bucket_count(spark, sf_dir):
    """The bucket count is a per-version layout property: a version
    written with a non-default B must serve EXACTLY the same results,
    with the query's bucket filter derived from the manifest's
    n_term_buckets — deriving it from the module constant instead
    would prune the wrong directories and silently drop candidates."""
    import glob as _glob

    from mapreduce_distributed_systems_spark.storage.lexical_index import (
        bm25_topk_from_index,
    )

    base = tempfile.mkdtemp(prefix="bm25_bkt_")
    build_and_commit_bm25(spark, sf_dir, base)
    post, terms, doclens, m = read_bm25_index(spark, base)
    # re-commit the same content as version 2 with B=8 (a layout-only
    # change; content identical)
    write_bm25_index(
        post.select("term", "doc_id", "tf", "dl"),
        terms,
        doclens,
        {k: m[k] for k in ("n_docs", "avgdl", "posting_cap")},
        base,
        version=2,
        n_buckets=8,
    )
    post2, terms2, _, m2 = read_bm25_index(spark, base)
    assert m2["n_term_buckets"] == 8
    dirs = _glob.glob(f"{m2['postings_dir']}/tb=*")
    assert 0 < len(dirs) <= 8
    served = {
        (r.query_id, r.rank): (r.doc_id, r.bm25)
        for r in bm25_topk_from_index(spark, sf_dir, post2, terms2, m2)
        .collect()
    }
    want = {
        (r.query_id, r.rank): (r.doc_id, r.bm25)
        for r in get_spec("doc_bm25_topk").fn(spark, sf_dir).collect()
    }
    assert served == want


def test_append_is_frozen_stats_and_immediately_retrievable(spark, sf_dir):
    """The incremental append: (a) new docs' postings are merged in and
    re-pruned against the same cap, (b) corpus stats and existing df
    values stay FROZEN at the base build's values (the documented
    stale-stats window), (c) version 1 stays resolvable, (d) no
    posting list exceeds the cap after the merge."""
    base = tempfile.mkdtemp(prefix="bm25_append_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    # base build = even doc_ids only, via a temp view the builder reads;
    # simplest: write a filtered parquet copy and build from it
    split_dir = tempfile.mkdtemp(prefix="bm25_split_")
    docs.where(F.col("doc_id") % 2 == 0).write.mode("overwrite").parquet(
        f"{split_dir}/documents.parquet"
    )
    build_and_commit_bm25(spark, split_dir, base)
    _, terms1, dl1, m1 = read_bm25_index(spark, base)
    df1 = {r.term: r.df for r in terms1.collect()}

    new_docs = docs.where(F.col("doc_id") % 2 == 1)
    append_bm25_index(spark, new_docs, base)
    post2, terms2, dl2, m2 = read_bm25_index(spark, base)

    assert m2["version"] == 2 and m2["stale_stats"] is True
    # frozen scalars
    assert m2["n_docs"] == m1["n_docs"]
    assert m2["avgdl"] == m1["avgdl"]
    # existing terms keep the base df; new-only terms enter with batch df
    df2 = {r.term: r.df for r in terms2.collect()}
    for t, d in df1.items():
        assert df2[t] == d, f"existing term {t!r} df drifted {d}->{df2[t]}"
    assert set(df2) >= set(df1)
    # new docs are retrievable: their postings exist in v2
    new_ids = {r.doc_id for r in new_docs.select("doc_id").collect()}
    stored_new = {
        r.doc_id
        for r in post2.select("doc_id").distinct().collect()
        if r.doc_id in new_ids
    }
    assert stored_new, "appended docs produced no postings"
    # doclens cover both generations
    assert dl2.count() > dl1.count()
    # merged lists respect the cap
    cap = m2["posting_cap"]
    over = (
        post2.groupBy("term")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > cap)
        .count()
    )
    assert over == 0
    # v1 still resolvable (time travel)
    post1, _, _, m1b = read_bm25_index(spark, base, version=1)
    assert m1b["version"] == 1
    assert post1.select("doc_id").distinct().count() <= m1["n_docs"]


def test_append_is_idempotent_under_redelivery(spark, sf_dir):
    """At-least-once delivery: re-appending an already-committed batch
    must commit a content-IDENTICAL version (postings, doclens, terms)
    instead of double-counting postings — the KV layer's exactly-once
    discipline applied to index maintenance."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    split_dir = tempfile.mkdtemp(prefix="bm25_idem_split_")
    docs.where(F.col("doc_id") % 2 == 0).write.mode("overwrite").parquet(
        f"{split_dir}/documents.parquet"
    )
    base = tempfile.mkdtemp(prefix="bm25_idem_")
    build_and_commit_bm25(spark, split_dir, base)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    append_bm25_index(spark, batch, base)
    post2, terms2, dl2, m2 = read_bm25_index(spark, base)
    key = lambda r: (r.term, r.doc_id, r.tf, r.dl)  # noqa: E731
    want_post = {key(r) for r in post2.collect()}
    want_dl = {(r.doc_id, r.dl) for r in dl2.collect()}
    want_df = {(r.term, r.df) for r in terms2.collect()}
    append_bm25_index(spark, batch, base)  # redelivery
    post3, terms3, dl3, m3 = read_bm25_index(spark, base)
    assert m3["version"] == m2["version"] + 1
    assert {key(r) for r in post3.collect()} == want_post
    assert {(r.doc_id, r.dl) for r in dl3.collect()} == want_dl
    assert {(r.term, r.df) for r in terms3.collect()} == want_df


def test_append_equals_full_rebuild_when_cap_never_binds(spark, sf_dir):
    """Segment-merge equivalence: as long as no posting list reaches
    the cap (true at the fixture SFs: max df << POSTING_CAP), the
    appended index's postings and doc lengths must equal a full
    rebuild's EXACTLY — the only documented divergences are the frozen
    stats (n_docs/avgdl/df), which this test does not compare."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    split_dir = tempfile.mkdtemp(prefix="bm25_eq_split_")
    docs.where(F.col("doc_id") % 2 == 0).write.mode("overwrite").parquet(
        f"{split_dir}/documents.parquet"
    )
    inc_dir = tempfile.mkdtemp(prefix="bm25_eq_inc_")
    build_and_commit_bm25(spark, split_dir, inc_dir)
    append_bm25_index(
        spark, docs.where(F.col("doc_id") % 2 == 1), inc_dir
    )
    full_dir = tempfile.mkdtemp(prefix="bm25_eq_full_")
    build_and_commit_bm25(spark, sf_dir, full_dir)

    post_inc, _, dl_inc, _ = read_bm25_index(spark, inc_dir)
    post_full, _, dl_full, _ = read_bm25_index(spark, full_dir)
    key = lambda r: (r.term, r.doc_id, r.tf, r.dl)  # noqa: E731
    assert {key(r) for r in post_inc.collect()} == {
        key(r) for r in post_full.collect()
    }
    assert {(r.doc_id, r.dl) for r in dl_inc.collect()} == {
        (r.doc_id, r.dl) for r in dl_full.collect()
    }


def test_append_re_prunes_merged_lists_to_the_global_order(spark):
    """When the cap binds, the merged list must be the top-cap of
    {stored survivors} ∪ {batch postings} in (tf DESC, doc_id ASC)
    order — a batch doc with a higher tf evicts a stored survivor."""
    import mapreduce_distributed_systems_spark.storage.lexical_index as li

    base = tempfile.mkdtemp(prefix="bm25_cap_")
    split_dir = tempfile.mkdtemp(prefix="bm25_cap_docs_")
    base_docs = spark.createDataFrame(
        [(i, " ".join(["w"] * i)) for i in (1, 2, 3, 4)],
        "doc_id long, text string",
    )
    base_docs.write.mode("overwrite").parquet(f"{split_dir}/documents.parquet")
    # cap is an explicit builder parameter (late r10 — the old module-
    # global monkeypatch no longer reaches the default argument)
    li.build_and_commit_bm25(spark, split_dir, base, cap=3)
    post1, _, _, m1 = read_bm25_index(spark, base)
    assert m1["posting_cap"] == 3
    # base prune keeps the tf-top-3: docs 4, 3, 2
    assert {(r.doc_id, r.tf) for r in post1.collect()} == {
        (4, 4), (3, 3), (2, 2)
    }
    new_docs = spark.createDataFrame(
        [(5, " ".join(["w"] * 5))], "doc_id long, text string"
    )
    append_bm25_index(spark, new_docs, base)
    post2, _, dl2, m2 = read_bm25_index(spark, base)
    # merged top-3: the batch doc (tf 5) evicts doc 2
    assert {(r.doc_id, r.tf, r.dl) for r in post2.collect()} == {
        (5, 5, 5), (4, 4, 4), (3, 3, 3)
    }
    assert m2["posting_cap"] == 3 and m2["stale_stats"] is True
    # doclens keep EVERY doc (maintenance table, not pruned)
    assert {r.doc_id for r in dl2.collect()} == {1, 2, 3, 4, 5}
