"""Incremental KG maintenance: tranche appends (partial snapshots) +
graph refresh must equal one-shot processing of the union, and old
tranches must not be re-detected."""

import pytest

from redactify_spark.plans import checkpoint as CP
from redactify_spark.plans import recrawl as R
from redactify_spark.sources.pages import synth_pages


def table_set(df):
    return {tuple(str(v) for v in r)
            for r in df.select(*sorted(df.columns)).collect()}


def test_incremental_equals_oneshot(spark, tmp_path):
    all_pages = synth_pages(spark, 48, partitions=4).localCheckpoint()
    t1 = all_pages.where("warc_ts < timestamp'2025-01-01 00:06:48'")
    t2 = all_pages.subtract(t1)
    assert 0 < t1.count() < 48

    # incremental: tranche 1, refresh, tranche 2, refresh
    inc_root = str(tmp_path / "inc")
    R.append_snapshot(spark, inc_root, "t1", t1, full_snapshot=False)
    mid = R.refresh_graph(spark, inc_root)
    mid_nodes = table_set(mid["nodes"])
    R.append_snapshot(spark, inc_root, "t2", t2, full_snapshot=False)
    final = R.refresh_graph(spark, inc_root)

    # one-shot over the union
    one_root = str(tmp_path / "oneshot")
    one = CP.kg_pipeline(spark, all_pages, one_root, id_col="url")

    for k in ("nodes", "edges", "triples", "salience"):
        assert table_set(final[k]) == table_set(one[k]), k
    # the mid-state graph differs (fewer pages) -- refresh really rebuilt
    assert mid_nodes != table_set(final["nodes"])


def test_append_tranche_skips_completed(spark, tmp_path):
    root = str(tmp_path / "inc2")
    pages = synth_pages(spark, 8, partitions=2).localCheckpoint()
    R.append_snapshot(spark, root, "t1", pages, full_snapshot=False)
    m1 = CP.read_manifest(f"{root}/tranches/t1", "mentions")
    # re-appending the same tranche id resumes from the manifest
    # (no recompute -- wall_time unchanged)
    R.append_snapshot(spark, root, "t1", pages, full_snapshot=False)
    m2 = CP.read_manifest(f"{root}/tranches/t1", "mentions")
    assert m1 == m2
