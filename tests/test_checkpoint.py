"""Checkpoint/resume: byte-equal outputs after kill/resume at stage
boundaries (BASELINE.md resumability gate)."""

import json
import os
import shutil

import pytest

from redactify_spark.plans import checkpoint as CP
from redactify_spark.sources.pages import synth_pages


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "ckpt")


def table_set(df, cols=None):
    cols = cols or df.columns
    return {tuple(str(v) for v in r) for r in df.select(*cols).collect()}


def test_run_stage_writes_manifest(spark, root):
    df = CP.run_stage(spark, root, "s1",
                      lambda: spark.range(100).withColumnRenamed("id", "x"))
    assert df.count() == 100
    m = CP.read_manifest(root, "s1")
    assert m["status"] == "complete" and m["row_count"] == 100
    assert m["content_hash"] != 0
    assert sum(m["partitions"].values()) == 100


def test_resume_skips_builder(spark, root):
    calls = []

    def builder():
        calls.append(1)
        return spark.range(10).withColumnRenamed("id", "x")

    CP.run_stage(spark, root, "s1", builder)
    CP.run_stage(spark, root, "s1", builder)
    assert len(calls) == 1  # second run resumed from checkpoint


def test_invalidate_forces_recompute(spark, root):
    calls = []

    def builder():
        calls.append(1)
        return spark.range(10).withColumnRenamed("id", "x")

    CP.run_stage(spark, root, "s1", builder)
    CP.invalidate(root, "s1")
    CP.run_stage(spark, root, "s1", builder)
    assert len(calls) == 2


def test_kill_resume_equivalence(spark, root):
    """Run the full pipeline; then simulate a crash after stage 2 (wipe
    stages 3+), resume, and require identical final tables."""
    pages = synth_pages(spark, 48, partitions=4).localCheckpoint()

    full = CP.kg_pipeline(spark, pages, root, id_col="url")
    nodes_before = table_set(full["nodes"])
    edges_before = table_set(full["edges"])
    h_nodes = CP.content_hash(full["nodes"])

    salience_before = table_set(full["salience"])

    # crash after 02_triples: drop downstream checkpoints
    for stage in ("03_match_edges", "04_canonical", "05_nodes",
                  "06_edges"):
        CP.invalidate(root, stage)

    resumed = CP.kg_pipeline(spark, pages, root, id_col="url")
    assert table_set(resumed["nodes"]) == nodes_before
    assert table_set(resumed["edges"]) == edges_before
    assert table_set(resumed["salience"]) == salience_before
    assert CP.content_hash(resumed["nodes"]) == h_nodes

    # manifests intact for all stages
    for stage in ("01_mentions", "02_triples", "03_match_edges",
                  "04_canonical", "05_nodes", "06_edges"):
        assert CP.stage_complete(root, stage)

    # salience semantics: co-mentioned entities rise above the PageRank
    # base term; never-co-mentioned nodes sit exactly at it
    sal = {r.canon_id: r.salience for r in resumed["nodes"].collect()}
    edge_nodes = {r.src for r in resumed["edges"].collect()} | \
                 {r.dst for r in resumed["edges"].collect()}
    assert sal, "salience table empty"
    for cid, s in sal.items():
        if cid not in edge_nodes:
            assert s == 0.15


def test_node_salience_matches_separate_stage_formula(spark, root):
    """Salience lives on the node row.  Oracle: the formula of the former
    separate salience stage -- symmetrize the stored edges with a
    groupBy-max over (src, dst), weighted PageRank, left-join onto the
    nodes -- applied to the stored edges and the node columns."""
    from pyspark.sql import functions as F

    from redactify_spark.operators.graph_algs import pagerank

    pages = synth_pages(spark, 48, partitions=4).localCheckpoint()
    out = CP.kg_pipeline(spark, pages, root, id_col="url")
    nodes, edges = out["nodes"], out["edges"]
    assert nodes.columns == ["canon_id", "type", "surface_forms",
                             "n_mentions", "n_docs", "salience"]
    assert not os.path.exists(os.path.join(root, "07_salience"))

    sym = (edges.select("src", "dst", "weight")
           .unionByName(edges.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst"), "weight"))
           .groupBy("src", "dst").agg(F.max("weight").alias("weight")))
    ranks = pagerank(sym, weight="weight", iterations=5)
    oracle = (nodes.drop("salience")
              .join(ranks.withColumnRenamed("node", "canon_id"),
                    "canon_id", "left")
              .select("canon_id",
                      F.round(F.coalesce("rank", F.lit(0.15)), 6)
                      .alias("salience")))
    want = {r.canon_id: r.salience for r in oracle.collect()}
    got = {r.canon_id: r.salience for r in nodes.collect()}
    assert got == want
    assert any(v > 0.15 for v in got.values())

    sal = out["salience"]
    assert sal.columns == ["canon_id", "type", "n_mentions", "n_docs",
                           "salience"]
    assert table_set(sal) == table_set(nodes, sal.columns)


def test_content_hash_partition_invariant(spark):
    df = spark.range(1000).withColumnRenamed("id", "x")
    assert CP.content_hash(df.repartition(2)) == \
        CP.content_hash(df.repartition(16))


def test_pipeline_report_covers_all_stages(spark, root):
    pages = synth_pages(spark, 24, partitions=2).localCheckpoint()
    CP.kg_pipeline(spark, pages, root, id_col="url")
    rep = CP.pipeline_report(spark, root)
    stages = {r.stage for r in rep.collect()}
    assert {"01_mentions", "02_triples", "03_match_edges", "04_canonical",
            "05_nodes", "06_edges"} == stages
    rows = rep.collect()
    assert all(r.row_count >= 0 and r.wall_time_sec > 0
               and r.n_partitions >= 1 for r in rows)
    for r in rows:
        data = os.path.join(root, r.path, "data")
        assert r.bytes == sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(data) for f in fs
            if f.endswith(".parquet")) > 0


def test_audit_pipeline_tool(spark, tmp_path):
    """The audit CLI verifies intact stages and flags a tampered one."""
    import json
    import os
    import subprocess
    import sys

    from redactify_spark.plans import checkpoint as CP

    root = str(tmp_path / "audit_root")
    CP.run_stage(spark, root, "s1",
                 lambda: spark.range(100).selectExpr("id", "id * 2 AS v"))
    CP.run_stage(spark, root, "s2",
                 lambda: spark.range(10).selectExpr("id"))

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cmd = [sys.executable, f"{repo}/tools/audit_pipeline.py", root,
           "--master", "local[2]"]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stdout + r.stderr
    assert r.stdout.count("OK") == 2

    # tamper with a manifest: audit must fail loudly
    mp = os.path.join(root, "s2", "_manifest.json")
    m = json.load(open(mp))
    m["row_count"] += 1
    json.dump(m, open(mp, "w"))
    r2 = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    assert r2.returncode == 1
    assert "FAIL  s2" in r2.stdout and "OK    s1" in r2.stdout


def test_audit_lineage_keys_match_manifest_on_partitioned_layout(
        spark, tmp_path):
    """ADVICE r4: stage_manifest_stats must key per-file lineage by the
    same RELATIVE path as the manifest's footer counts, so a partitionBy
    (subdir) layout with colliding part-00000 basenames stays comparable
    file-by-file."""
    from redactify_spark.plans import checkpoint as CP

    path = str(tmp_path / "ptable")
    (spark.range(200)
     .selectExpr("id", "id % 3 AS part")
     .repartition(1)
     .write.partitionBy("part").parquet(path))

    footer, _ = CP._parquet_footers(path)
    stats = CP.stage_manifest_stats(spark, path)
    # three subdirs, one file each -> basenames WOULD collide; relative
    # keys must not
    assert len(footer) == 3
    assert set(stats["partitions"]) == set(footer)
    assert stats["partitions"] == footer
    assert stats["row_count"] == 200


KG_STAGES = ("01_mentions", "02_triples", "03_match_edges", "04_canonical",
             "05_nodes", "06_edges")


@pytest.fixture(scope="module")
def kg_built(spark, tmp_path_factory):
    """(root, pages, kg_pipeline output) of one cold build over
    synthetic pages."""
    root = str(tmp_path_factory.mktemp("kg") / "ckpt")
    pages = synth_pages(spark, 48, partitions=4).localCheckpoint()
    return root, pages, CP.kg_pipeline(spark, pages, root, id_col="url")


def _data(root, stage):
    return os.path.join(root, stage, "data")


def test_canonical_stage_stores_only_merged_keys(spark, kg_built):
    """04_canonical holds exactly the non-identity rows of the full
    map, and the returned `canonical` is that full map."""
    from redactify_spark.operators.components import canonical_map
    from redactify_spark.operators.linking import match_edges

    root, _, out = kg_built
    full = table_set(canonical_map(out["mentions"],
                                   match_edges(out["mentions"])))
    assert table_set(out["canonical"]) == full
    assert out["canonical"].columns == ["pseudo_key", "canon_id"]
    merged = {(k, c) for k, c in full if k != c}
    assert merged, "synthetic pages should merge some keys"
    stored = spark.read.parquet(_data(root, "04_canonical"))
    assert table_set(stored, ["pseudo_key", "canon_id"]) == merged
    assert stored.count() == len(merged)


def test_stage_tables_are_zstd(kg_built):
    import pyarrow.parquet as pq

    root, _, _ = kg_built
    for stage in KG_STAGES:
        codecs = set()
        for dp, _, fs in os.walk(_data(root, stage)):
            for f in fs:
                if f.endswith(".parquet"):
                    md = pq.ParquetFile(os.path.join(dp, f)).metadata
                    codecs |= {md.row_group(g).column(c).compression
                               for g in range(md.num_row_groups)
                               for c in range(md.num_columns)}
        assert codecs == {"ZSTD"}, (stage, codecs)


def test_read_back_schema_equals_inferred(spark, kg_built):
    """run_stage reads a stage back with its written schema instead of
    inferring it; the two must agree, nullability included."""
    root, _, out = kg_built
    returned = {"01_mentions": out["mentions"], "02_triples": out["triples"],
                "03_match_edges": out["match_edges"], "05_nodes": out["nodes"],
                "06_edges": out["edges"]}
    for stage in KG_STAGES:
        inferred = spark.read.parquet(_data(root, stage)).schema
        if stage in returned:
            assert returned[stage].schema == inferred, stage
        assert CP.read_manifest(root, stage)["schema"] == \
            inferred.simpleString(), stage


def test_resume_over_full_snappy_canonical_map(spark, kg_built, tmp_path):
    """A root whose 04_canonical holds a full map (identity rows
    included) written with snappy, as roots written before the stage
    held only merged keys do, resumes into the same nodes and edges;
    the audit tool verifies the mixed-codec root."""
    import subprocess
    import sys

    from redactify_spark.operators.components import canonical_map

    src, pages, out = kg_built
    root = str(tmp_path / "mixed")
    shutil.copytree(src, root)
    full = canonical_map(out["mentions"], out["match_edges"])
    CP.invalidate(root, "04_canonical")
    full.write.option("compression", "snappy").parquet(
        _data(root, "04_canonical"))
    stats = CP.stage_manifest_stats(spark, _data(root, "04_canonical"))
    with open(os.path.join(root, "04_canonical", "_manifest.json"), "w") as f:
        json.dump({"stage": "04_canonical", "status": "complete", **stats}, f)
    assert stats["row_count"] > spark.read.parquet(
        _data(src, "04_canonical")).count()
    for stage in ("05_nodes", "06_edges"):
        CP.invalidate(root, stage)

    resumed = CP.kg_pipeline(spark, pages, root, id_col="url")
    assert table_set(resumed["nodes"]) == table_set(out["nodes"])
    assert table_set(resumed["edges"]) == table_set(out["edges"])
    assert table_set(resumed["canonical"]) == table_set(out["canonical"])

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run([sys.executable, f"{repo}/tools/audit_pipeline.py",
                        root, "--master", "local[2]"],
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stdout + r.stderr
    assert r.stdout.count("OK") == len(KG_STAGES)
