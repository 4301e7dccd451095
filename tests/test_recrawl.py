"""Recrawl-aware incremental KG: snapshot appends == one-shot rebuild.

The gate: after applying crawl snapshots T1 then T2 (with removals,
modifications, boilerplate-touches and additions), the live mention /
triple / node / edge sets are byte-equal to one-shot processing of the
final snapshot alone -- detection having run only over the changed
urls."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from redactify_spark.plans import recrawl as R


def _pages(spark, ids):
    rows = [(f"https://ex{i % 7}.example/p{i}",
             f"Alice{i} Smith works at Acme Corp in Berlin. "
             f"Reach the office by email user{i}@mail{i % 9}.example.com "
             f"or call {200 + i % 700}-{300 + i % 600}-{1000 + i}.")
            for i in ids]
    return spark.createDataFrame(rows, "url string, text string")


def _snap2(spark):
    """Second crawl over ids 0..59 with churn keyed on i%10, plus ten
    added pages 60..69."""
    base = _pages(spark, [i for i in range(60) if i % 10 != 1])
    modified_rows = [(f"https://ex{i % 7}.example/p{i}",
                      f"Jane Doe now runs Globex Inc from Paris, "
                      f"mail j{i}@other{i % 5}.org.")
                     for i in range(60) if i % 10 == 2]
    out = (base.join(spark.createDataFrame(modified_rows,
                                           "url string, _t2 string"),
                     "url", "left")
           .select("url", F.coalesce("_t2", "text").alias("text")))
    # touched: trailing whitespace (digest changes, tokens don't)
    out = out.withColumn(
        "text",
        F.when(F.regexp_extract("url", r"p(\d+)$", 1).cast("int") % 10 == 3,
               F.concat("text", F.lit("  "))).otherwise(F.col("text")))
    return out.unionByName(_pages(spark, range(60, 70)))


def _collect(df, drop=("_tranche",)):
    cols = sorted(c for c in df.columns if c not in drop)
    return sorted(tuple(str(v) for v in row)
                  for row in df.select(*cols).collect())


@pytest.fixture(scope="module")
def applied(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("recrawl"))
    s1 = R.append_snapshot(spark, root, "t1", _pages(spark, range(60)))
    s2 = R.append_snapshot(spark, root, "t2", _snap2(spark))
    return root, s1, s2


def test_delta_statistics(applied):
    _, s1, s2 = applied
    assert s1["delta"] == {"added": 60} and s1["detected_urls"] == 60
    assert s2["delta"]["removed"] == 6      # i%10==1
    assert s2["delta"]["modified"] == 6     # i%10==2 (fully new text)
    assert s2["delta"]["touched"] == 6      # i%10==3 (whitespace)
    assert s2["delta"]["added"] == 10
    assert s2["delta"]["unchanged"] == 42
    # detection ran ONLY over added+modified+touched
    assert s2["detected_urls"] == 22


def test_live_mentions_equal_oneshot(applied, spark):
    from redactify_spark.operators.detection import detect_mentions
    root, _, _ = applied
    live = R.current_mentions(spark, root)
    oneshot = detect_mentions(_snap2(spark), id_col="url",
                              text_col="text")
    assert _collect(live) == _collect(oneshot)


def test_live_triples_and_graph_equal_oneshot(applied, spark):
    from redactify_spark.operators.components import canonical_map
    from redactify_spark.operators.detection import detect_mentions
    from redactify_spark.operators.graph import (build_edges_from_canon,
                                                 build_nodes_from_canon)
    from redactify_spark.operators.linking import match_edges
    from redactify_spark.operators.triples import all_triples
    root, _, _ = applied
    got = R.refresh_graph(spark, root)
    m = detect_mentions(_snap2(spark), id_col="url", text_col="text")
    assert _collect(got["triples"]) == _collect(all_triples(m, "url"))
    me = match_edges(m)
    cm = m.join(canonical_map(m, me), "pseudo_key")
    assert _collect(got["nodes"].drop("salience")) == _collect(
        build_nodes_from_canon(cm, id_col="url"))
    assert _collect(got["edges"]) == _collect(
        build_edges_from_canon(cm, id_col="url"))


def test_append_is_idempotent(applied, spark):
    root, _, s2 = applied
    before = _collect(R.current_mentions(spark, root))
    again = R.append_snapshot(spark, root, "t2", _snap2(spark))
    assert again["delta"] == s2["delta"]
    assert _collect(R.current_mentions(spark, root)) == before
    assert R.read_ledger(root) == ["t1", "t2"]


def test_append_stores_one_state_table(applied):
    """Each append stores exactly its ownership state table plus the
    detection output of the urls it re-detected."""
    import os
    root, _, _ = applied
    for t in ("t1", "t2"):
        assert set(os.listdir(f"{root}/tranches/{t}")) == {"mentions",
                                                            "triples"}
        assert set(os.listdir(f"{root}/state/{t}")) == {"ownership"}


def test_failed_append_commits_nothing(applied, spark, tmp_path,
                                       monkeypatch):
    """A fault in detection leaves the ledger and the live set at T1,
    with the T2 ownership stage (written first) complete; re-running the
    append reuses it and equals an uninterrupted append."""
    from redactify_spark.operators import detection
    from redactify_spark.plans.checkpoint import read_manifest

    root = str(tmp_path / "fault")
    R.append_snapshot(spark, root, "t1", _pages(spark, range(60)))
    t1_live = _collect(R.current_mentions(spark, root))

    def fault(*args, **kwargs):
        raise RuntimeError("injected detection fault")

    with monkeypatch.context() as mp:
        mp.setattr(detection, "detect_mentions", fault)
        with pytest.raises(RuntimeError, match="injected"):
            R.append_snapshot(spark, root, "t2", _snap2(spark))
    assert R.read_ledger(root) == ["t1"]
    assert _collect(R.current_mentions(spark, root)) == t1_live
    assert read_manifest(f"{root}/state/t2",
                         "ownership")["status"] == "complete"

    want_root, _, want_s2 = applied
    assert R.append_snapshot(spark, root, "t2", _snap2(spark)) == want_s2
    assert R.read_ledger(root) == ["t1", "t2"]
    for live in (R.current_mentions, R.current_triples):
        assert _collect(live(spark, root)) == _collect(live(spark,
                                                            want_root))

    def own(r):
        return _collect(spark.read.parquet(f"{r}/state/t2/ownership/data"))
    assert own(root) == own(want_root)


def test_snapshot_without_url_column_fails_first_stage(spark, tmp_path):
    """Pages are keyed by `url`: a snapshot keyed by anything else is
    rejected by the ownership stage, before any stage table exists."""
    from pyspark.errors import AnalysisException

    root = tmp_path / "no_url"
    pages = _pages(spark, range(3)).withColumnRenamed("url", "page_id")
    with pytest.raises(AnalysisException):
        R.append_snapshot(spark, str(root), "t1", pages)
    assert not root.exists() or not any(root.iterdir())
    assert R.read_ledger(str(root)) == []


def test_budget_mode_skips_touched(spark, tmp_path):
    """redetect_touched=False: touched urls keep their T1 mentions and
    T1 ownership; only added+modified re-enter detection."""
    root = str(tmp_path / "budget")
    R.append_snapshot(spark, root, "t1", _pages(spark, range(60)))
    s2 = R.append_snapshot(spark, root, "t2", _snap2(spark),
                           redetect_touched=False)
    assert s2["detected_urls"] == 16        # 10 added + 6 modified
    own = spark.read.parquet(f"{root}/state/t2/ownership/data")
    touched_urls = {f"https://ex{i % 7}.example/p{i}"
                    for i in range(60) if i % 10 == 3}
    owners = {r.url: (r.owner, r.alive) for r in own.collect()}
    for u in touched_urls:
        assert owners[u] == ("t1", True)
    # whitespace-only touch: prior mentions are in fact still exact
    from redactify_spark.operators.detection import detect_mentions
    live = R.current_mentions(spark, root)
    oneshot = detect_mentions(_snap2(spark), id_col="url",
                              text_col="text")
    assert _collect(live) == _collect(oneshot)


def test_partial_crawl_preserves_absent_urls(spark, tmp_path):
    root = str(tmp_path / "partial")
    R.append_snapshot(spark, root, "t1", _pages(spark, range(20)))
    # partial recrawl sees only 3 urls, one modified
    part = _pages(spark, [0, 1, 2]).withColumn(
        "text", F.when(F.col("url").endswith("p2"),
                       F.lit("Wholly new text mentioning Jane Doe."))
        .otherwise(F.col("text")))
    s2 = R.append_snapshot(spark, root, "t2", part, full_snapshot=False)
    assert s2["delta"].get("removed", 0) == 17  # absent, NOT tombstoned
    own = {r.url: (r.owner, r.alive) for r in
           spark.read.parquet(f"{root}/state/t2/ownership/data").collect()}
    assert len(own) == 20
    assert all(alive for _, alive in own.values())
    assert own["https://ex2.example/p2"][0] == "t2"
    assert own["https://ex5.example/p5"][0] == "t1"


def test_tombstoned_urls_leave_the_graph(applied, spark):
    root, _, _ = applied
    removed = {f"https://ex{i % 7}.example/p{i}"
               for i in range(60) if i % 10 == 1}
    live_urls = {r.url for r in
                 R.current_mentions(spark, root).select("url").distinct()
                 .collect()}
    assert live_urls.isdisjoint(removed)
    prov = {r.prov_doc for r in
            R.current_triples(spark, root).select("prov_doc").distinct()
            .collect()}
    assert prov.isdisjoint(removed)


def test_append_resumes_after_mid_pipeline_kill(spark, tmp_path):
    """Kill-resume: wipe the ownership stage (the FIRST step of an
    append, the one the later stages read) and re-append -- the other
    stages short-circuit off their manifests and the final state is
    byte-equal to the uninterrupted run."""
    import shutil

    root = str(tmp_path / "resume")
    R.append_snapshot(spark, root, "t1", _pages(spark, range(60)))
    R.append_snapshot(spark, root, "t2", _snap2(spark))
    want = _collect(R.current_mentions(spark, root))
    own_dir = f"{root}/state/t2/ownership"
    before = spark.read.parquet(own_dir + "/data").count()
    shutil.rmtree(own_dir)

    # manifests of mentions/triples still present -> resume recomputes
    # ONLY ownership
    import json
    s2 = R.append_snapshot(spark, root, "t2", _snap2(spark))
    m = json.load(open(f"{root}/tranches/t2/mentions/_manifest.json"))
    assert m["status"] == "complete"
    assert spark.read.parquet(own_dir + "/data").count() == before
    assert _collect(R.current_mentions(spark, root)) == want
    assert s2["delta"]["added"] == 10


def test_compaction_preserves_live_sets_and_future_appends(spark,
                                                           tmp_path):
    """compact_ledger rewrites the live sets into one tranche, resets
    the ledger, prunes superseded dirs -- and the NEXT append diffs
    against the compacted signatures exactly as it would have against
    the full history."""
    import os

    root = str(tmp_path / "compact")
    R.append_snapshot(spark, root, "t1", _pages(spark, range(60)))
    R.append_snapshot(spark, root, "t2", _snap2(spark))
    want_m = _collect(R.current_mentions(spark, root))
    want_t = _collect(R.current_triples(spark, root))

    cid = R.compact_ledger(spark, root)
    assert R.read_ledger(root) == [cid]
    assert not os.path.exists(f"{root}/tranches/t1")
    assert not os.path.exists(f"{root}/state/t2")
    assert _collect(R.current_mentions(spark, root)) == want_m
    assert _collect(R.current_triples(spark, root)) == want_t

    # T3 over the compacted ledger: exactly one page modified
    t3 = _snap2(spark).withColumn(
        "text", F.when(F.col("url").endswith("p0"),
                       F.lit("Bob Stone now leads Stark Systems, "
                             "mail bob@stark.example."))
        .otherwise(F.col("text")))
    s3 = R.append_snapshot(spark, root, "t3", t3)
    assert s3["delta"]["modified"] == 1 and s3["detected_urls"] == 1
    from redactify_spark.operators.detection import detect_mentions
    assert _collect(R.current_mentions(spark, root)) == _collect(
        detect_mentions(t3, id_col="url", text_col="text"))
