"""Every top-level function or class in the package is reached from code
outside tests/: a workload, `__spark_entry__.py`, a tool, perfbench or
another package module.  A definition that only its own tests call is a
second copy of a path nothing runs; delete it, or give it an allowlist
entry with the reason it stays."""
import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]

ALLOWED = {
    # documented APIs (README / OPERATIONS) a user calls directly
    "pipeline_report": "OPERATIONS: per-stage rows, walls and hashes",
    "invalidate": "forces one stage to recompute; the resume tests use it",
    "refresh_graph": "OPERATIONS: rebuilds the recrawl KG from live mentions",
    "compact_ledger": "OPERATIONS: folds the recrawl ledger",
    "compact_table": "OPERATIONS: small-file compaction",
    "zorder_write": "OPERATIONS: clustered layout for pruned reads",
    "files_pruned_fraction": "measures what zorder_write prunes",
    "try_load_pii_hf_backend": "OPERATIONS: optional transformer NER backend",
    "try_load_medical_hf_backend": "OPERATIONS: optional medical NER backend",
    "export_merges_file": "writes the BPE merges that load_merges_file reads",
    "bucketed_join": "called by the spark-submit job test_submit ships",
    "plan_has_exchange": "called by the spark-submit job test_submit ships",
    "corpus_pipeline": "README: corpus flagship DAG; kill-resume tested",
    "analytics_pipeline": "README: analytics flagship DAG; kill-resume tested",
    "read_table": "SURVEY S1-S3: reads what write_table writes",
    # test hooks on process-wide state
    "reset_merges": "restores the default BPE merges after a test",
    "merges_md5": "pins the BPE merges table",
    # counts of what a width cap drops, so no cap is silent
    "wide_minhash_bucket_count": "minhash bucket cap",
    "wide_ngram_block_count": "n-gram block cap",
    "wide_levenshtein_block_count": "levenshtein block cap",
    "wide_cooccurrence_group_count": "co-occurrence group cap",
    "supernode_count": "triangle-count degree cap",
    "two_hop_dropped_mid_count": "two-hop mid-degree cap",
    "wide_interval_count": "interval-overlap width cap",
    "wide_embedding_bucket_count": "embedding sign-LSH bucket cap",
    # the reference's per-request counters, the model for stage counters
    "mention_metrics": "ROADMAP direction 3",
    "detector_breakdown": "ROADMAP direction 3",
    "score_histogram": "ROADMAP direction 3",
}


def _definitions():
    for path in sorted((ROOT / "redactify_spark").rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                yield f"{path.relative_to(ROOT)}:{node.name}", node.name


def _in_package(module, level=0):
    return level > 0 or (module or "").split(".")[0] == "redactify_spark"


def _third_party_aliases(tree):
    """Names a file binds by importing from outside the package: `pq` in
    `import pyarrow.parquet as pq`, `F` in `from pyspark.sql import
    functions as F`."""
    aliases = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            aliases.update(a.asname or a.name.split(".")[0]
                           for a in node.names if not _in_package(a.name))
        elif isinstance(node, ast.ImportFrom) \
                and not _in_package(node.module, node.level):
            aliases.update(a.asname or a.name for a in node.names)
    return aliases


def _root_name(node):
    while isinstance(node, ast.Attribute):
        node = node.value
    return node.id if isinstance(node, ast.Name) else None


def _references():
    """Names that code outside tests/ uses.  An attribute read on a
    third-party alias (`pq.read_table`, `np.unique`, `F.col`) names that
    module's attribute, not a package definition, so it does not count;
    nor does a name imported from a third-party module."""
    names = set()
    for path in ROOT.rglob("*.py"):
        if "tests" in path.relative_to(ROOT).parts:
            continue
        tree = ast.parse(path.read_text())
        foreign = _third_party_aliases(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                if _root_name(node) not in foreign:
                    names.add(node.attr)
            elif isinstance(node, ast.ImportFrom):
                if _in_package(node.module, node.level):
                    names.update(a.name for a in node.names)
            elif isinstance(node, ast.Constant) and isinstance(node.value, str) \
                    and node.value.isidentifier():
                names.add(node.value)
    return names


def test_every_package_definition_is_reached_outside_tests():
    defs = list(_definitions())
    refs = _references()
    unreached = [where for where, name in defs
                 if name not in refs and name not in ALLOWED]
    assert unreached == []
    assert set(ALLOWED) <= {name for _, name in defs}, "stale allowlist"
