"""Physical-plan invariants for the headline queries: the plans BENCH.md
claims (pushed filters, pruned scans, broadcast joins, top-k without a
global sort) are asserted here so an operator change that silently
regresses the plan fails CI, not a 100-TB run."""

import contextlib
import io

import pytest


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def qs():
    import __spark_entry__ as entry
    return entry.queries()


SF = "/root/testdata/sf0.001"


def test_q01_filter_pushdown_and_column_pruning(spark, qs):
    plan = plan_of(qs["q01_lineitem_agg"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # ReadSchema pruned: projection needs 5 columns, not the whole table
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_shipdate" in read and "l_quantity" in read
    assert "l_partkey" not in read and "l_comment" not in read


def test_q05_broadcasts_the_dim(spark, qs):
    plan = plan_of(qs["q05_broadcast_dim_join"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_q21_broadcasts_both_dims(spark, qs):
    plan = plan_of(qs["q21_multi_join"](spark, SF))
    # tree section prints each join once as "BroadcastHashJoin Inner"
    assert plan.count("BroadcastHashJoin Inner") == 2


def test_q11_topk_no_global_sort(spark, qs):
    plan = plan_of(qs["q11_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_q26_semi_join(spark, qs):
    plan = plan_of(qs["q26_exists_semijoin"](spark, SF))
    assert "LeftSemi" in plan


def test_q22_anti_join(spark, qs):
    plan = plan_of(qs["q22_set_ops"](spark, SF))
    assert "LeftAnti" in plan


def test_detection_input_column_pruned(spark):
    """The detection UDTF's scan must read only (doc_id, text) -- a scan
    of all document columns would move dead bytes through Arrow."""
    from redactify_spark.operators.detection import detect_mentions
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(detect_mentions(docs, id_col="doc_id", text_col="text"))
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "doc_id" in read and "text" in read
    assert "source" not in read and "lang" not in read


def test_q62_chunking_no_shuffle(spark, qs):
    """Chunk explosion happens inside the scan stage: the only Exchange
    allowed is the final orderBy's range partitioning."""
    import __spark_entry__ as entry
    from redactify_spark.operators.curation import chunk_documents
    d = entry._t(spark, SF, "documents")
    plan = plan_of(chunk_documents(d))
    assert "Exchange" not in plan


def test_q55_asof_single_shuffle_no_range_join(spark, qs):
    """Union-and-sweep as-of join: one hashpartitioning Exchange on the
    key feeding a Window -- and no BroadcastNestedLoop/cartesian range
    join anywhere."""
    plan = plan_of(qs["q55_asof_join"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    # exactly one hash shuffle keyed on the join key (the final orderBy
    # adds a rangepartitioning exchange)
    hash_exchanges = [ln for ln in plan.splitlines()
                      if "Arguments: hashpartitioning(_key" in ln]
    assert len(hash_exchanges) == 1


def test_q61_stratified_sample_filter_only(spark, qs):
    """Stratified sampling is a pure filter: no Exchange before the
    final aggregation's shuffle; the sampling predicate sits in a
    Filter over the scan."""
    import __spark_entry__ as entry
    from redactify_spark.operators.curation import stratified_sample
    d = entry._t(spark, SF, "documents")
    plan = plan_of(stratified_sample(d, "lang", {"en": 50}))
    assert "Exchange" not in plan
    assert "Filter" in plan


def test_q64_unigram_join_is_vocabulary_sized(spark, qs):
    """The NLL scorer joins the exploded tokens against the LM table --
    no cartesian anything, and the per-doc aggregation is hash-based."""
    plan = plan_of(qs["q64_unigram_nll"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_q77_interval_join_no_nested_loop(spark, qs):
    """The bin-blocked interval join must never fall back to
    BroadcastNestedLoop/cartesian -- that is its entire reason to
    exist."""
    plan = plan_of(qs["q77_interval_join"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q80_bm25_df_join_broadcast(spark, qs):
    """The per-term df table is tiny (one row per query term) and must
    broadcast; the tf aggregation must not plan a cartesian product.

    Asserted on the operator output: the declared q80 adds a lazy
    localCheckpoint barrier before its orderBy (r6), and localCheckpoint
    -- even lazy -- replaces the visible logical plan with a LogicalRDD
    scan, hiding the join subtree from explain().  The declared q80 plan
    must still show that barrier: if it goes, the join subtree is
    visible again and this check no longer covers what q80 runs."""
    from redactify_spark.operators import textstats as X
    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(X.bm25_scores(d, ["spark", "vector", "stream"]))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Scan ExistingRDD" in plan_of(qs["q80_bm25"](spark, SF))


def test_q81_linkage_blocked_equi_join(spark, qs):
    """Levenshtein runs only inside block equi-joins -- never as a
    nested-loop predicate over the cross product."""
    plan = plan_of(qs["q81_name_linkage"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q87_funnel_window_not_range_join(spark, qs):
    """The next-purchase lookup is a per-user window sweep, not a
    time-range join."""
    plan = plan_of(qs["q87_funnel"](spark, SF))
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q89_gapfill_no_single_partition_window(spark, qs):
    """Spine explode + forward-fill window are keyed per user: nothing
    funnels through a single partition."""
    plan = plan_of(qs["q89_gapfill"](spark, SF))
    assert "Exchange SinglePartition" not in plan


def test_q88_containment_no_cross_join(spark, qs):
    plan = plan_of(qs["q88_containment"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_registry_every_query_is_gated():
    """Registry hygiene CI (VERDICT r3 #8): queries() must partition
    EXACTLY into oracle-backed (DuckDB value-hash via the driver) and
    rows-only-with-pytest-gate (rows_only_gated()).  A new query that
    lands without either check fails here in the same commit; a stale
    oracle/gate entry for a removed query fails too."""
    import os

    import __spark_entry__ as entry
    qs = set(entry.queries())
    oracles = set(entry.oracle_sql())
    gated = entry.rows_only_gated()
    assert not (oracles & set(gated)), sorted(oracles & set(gated))
    uncovered = qs - oracles - set(gated)
    assert not uncovered, f"queries with no oracle and no gate: " \
                          f"{sorted(uncovered)}"
    stale = (oracles | set(gated)) - qs
    assert not stale, f"oracle/gate entries for removed queries: " \
                      f"{sorted(stale)}"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for name, gate_file in gated.items():
        p = os.path.join(repo, gate_file)
        assert os.path.exists(p), gate_file
        with open(p) as f:
            assert name in f.read(), \
                f"{gate_file} never references {name}"


def test_q106_langid_broadcast_profile_single_agg_shuffle(spark, qs):
    """Cross-script language ID plan shape: the trigram profile table
    joins as a BROADCAST (constant-size, a few thousand rows -- never a
    shuffle side), and the script classifier is pure expression work:
    the only hashpartitioning Exchanges are the per-doc aggregation /
    argmax-window / result-join keys on doc_id, with no SinglePartition
    Exchange anywhere (the r4 langid contract, extended to the
    multiscript router)."""
    plan = plan_of(qs["q106_langid_multiscript"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "Exchange SinglePartition" not in plan
    # the dominant-script computation must not add shuffles: every
    # hashpartitioning exchange is keyed by doc_id
    import re
    for m in re.finditer(r"Exchange hashpartitioning\(([^,]+),", plan):
        assert "doc_id" in m.group(1), m.group(0)


def test_q113_crawl_delta_single_join_no_text_shuffle(spark, qs):
    """Crawl-delta plan shape: ONE full-outer join over the two
    signature tables, and the join's exchanges carry only the 40-byte
    signature columns (url/digest/simhash) -- page text never crosses
    the shuffle (it dies in the shuffle-free signature scan)."""
    plan = plan_of(qs["q113_crawl_delta"](spark, SF))
    tree = plan.split("\n\n(")[0]   # tree section only (details repeat
    assert "FullOuter" in plan      # every node once more)
    assert tree.count("SortMergeJoin") == 1
    import re
    for m in re.finditer(r"Exchange hashpartitioning\((\w+)", plan):
        assert m.group(1) == "url", m.group(0)
    assert "text" not in re.findall(
        r"Exchange hashpartitioning\(([^)]*)\)", plan)


def test_q114_anchor_aliases_combines_map_side(spark, qs):
    """Anchor alias plan shape: the (dst, anchor) count aggregates
    PARTIALLY before its exchange (head targets combine map-side), and
    the only exchanges are the agg key and the per-dst window key --
    the raw anchor stream is shuffled exactly once."""
    plan = plan_of(qs["q114_anchor_text_aliases"](spark, SF))
    assert "partial_count" in plan or plan.count("HashAggregate") >= 2
    assert plan.count("Exchange hashpartitioning") <= 2
