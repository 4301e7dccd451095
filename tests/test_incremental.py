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


def test_incremental_ann_index_matches_rebuild(spark, tmp_path):
    """Tranche-by-tranche ANN indexing == one-shot rebuild, byte-exact
    (sig + cell per vector), and stored-index queries match inline
    lsh_topk over the union."""
    import numpy as np
    from pyspark.sql import functions as F

    from redactify_spark.operators.similarity import (_hyperplanes,
                                                      cell_assign_expr,
                                                      lsh_topk,
                                                      signature_expr)
    from redactify_spark.plans import incremental_ann as IA

    dim = 16

    def vecs(lo, hi):
        rows = [(i, [float(np.sin(0.7 * (i + 1) * (j + 1)))
                     for j in range(dim)]) for i in range(lo, hi)]
        return spark.createDataFrame(rows,
                                     "vec_id long, embedding array<float>")

    root = str(tmp_path / "ann_idx")
    IA.index_tranche(spark, root, "t0", vecs(0, 120), dim,
                     n_planes=6, n_cells=8)
    IA.index_tranche(spark, root, "t1", vecs(120, 200), dim,
                     n_planes=6, n_cells=8)

    got = {r.vec_id: (r.sig, r.cell)
           for r in IA.full_index(spark, root).collect()}
    assert len(got) == 200

    # one-shot rebuild with the SAME frozen centroids
    import json
    with open(IA._centroids_path(root)) as f:
        cents = np.asarray(json.load(f))
    planes = _hyperplanes(dim, 6)
    want = {r.vec_id: (r.sig, r.cell)
            for r in vecs(0, 200).select(
                "vec_id",
                signature_expr(F.col("embedding"), planes).alias("sig"),
                cell_assign_expr(F.col("embedding"), cents).alias("cell"))
            .collect()}
    assert got == want

    # stored-index query == inline query over the union
    q = [float(np.sin(0.7 * 8 * (j + 1))) for j in range(dim)]
    stored = [(r.vec_id, round(r.cos, 9))
              for r in IA.query_topk(spark, root, q, k=5,
                                     n_planes=6).collect()]
    inline = [(r.vec_id, round(r.cos, 9))
              for r in lsh_topk(vecs(0, 200), q, k=5, dim=dim,
                                n_planes=6).collect()]
    assert stored == inline and len(stored) == 5

    # resume: re-indexing an existing tranche is a no-op read-back
    again = IA.index_tranche(spark, root, "t0", vecs(0, 120), dim,
                             n_planes=6, n_cells=8)
    assert again.count() == 120
