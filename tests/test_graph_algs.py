"""Graph analytics: PageRank power iteration, triangles, co-occurrence."""

import pytest
from pyspark.sql import functions as F

from redactify_spark.operators import graph_algs as G


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _numpy_pagerank(edge_list, iterations=5, d=0.85):
    """Independent pure-Python re-derivation (GraphX convention)."""
    nodes = sorted({u for u, _ in edge_list} | {v for _, v in edge_list})
    outdeg = {}
    for u, _ in edge_list:
        outdeg[u] = outdeg.get(u, 0) + 1
    r = {n: 1.0 for n in nodes}
    for _ in range(iterations):
        acc = {n: 0.0 for n in nodes}
        for u, v in edge_list:
            acc[v] += r[u] / outdeg[u]
        r = {n: (1 - d) + d * acc[n] for n in nodes}
    return r


def test_pagerank_cycle_is_stationary(spark):
    e = _edges(spark, [(1, 2), (2, 1)])
    out = {r.node: r.rank for r in G.pagerank(e, iterations=5).collect()}
    assert out == {1: pytest.approx(1.0), 2: pytest.approx(1.0)}


def test_pagerank_matches_reference_star(spark):
    pairs = [(0, 1), (0, 2), (0, 3), (1, 0), (2, 0), (3, 0)]
    expected = _numpy_pagerank(pairs)
    out = {r.node: r.rank
           for r in G.pagerank(_edges(spark, pairs), iterations=5).collect()}
    for n, v in expected.items():
        assert out[n] == pytest.approx(v, abs=1e-12)


def test_pagerank_dangling_keeps_base(spark):
    pairs = [(1, 2)]  # node 2 dangling, node 1 receives nothing
    expected = _numpy_pagerank(pairs)
    out = {r.node: r.rank
           for r in G.pagerank(_edges(spark, pairs), iterations=5).collect()}
    assert out[1] == pytest.approx(0.15)
    assert out[2] == pytest.approx(expected[2])


def test_triangle_counts_and_coeff(spark):
    # triangle 1-2-3 plus pendant 3-4
    e = _edges(spark, [(1, 2), (2, 3), (3, 1), (3, 4)])
    tri = {r.node: r.n_triangles for r in G.triangle_counts(e).collect()}
    assert tri == {1: 1, 2: 1, 3: 1, 4: 0}
    cc = {r.node: (r.degree, round(r.coeff, 6))
          for r in G.clustering_coefficients(e).collect()}
    assert cc == {1: (2, 1.0), 2: (2, 1.0),
                  3: (3, round(1 / 3, 6)), 4: (1, 0.0)}


def test_triangle_orientation_insensitive(spark):
    a = G.triangle_counts(_edges(spark, [(1, 2), (2, 3), (3, 1)]))
    b = G.triangle_counts(_edges(spark, [(2, 1), (3, 2), (1, 3)]))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_cooccurrence_edges_and_cap(spark):
    rows = [(10, 1), (10, 2), (10, 3), (11, 2), (11, 3), (11, 2)]
    df = spark.createDataFrame(rows, "g long, i long")
    edges = {(r.src, r.dst)
             for r in G.cooccurrence_edges(df, "g", "i").collect()}
    assert edges == {(1, 2), (1, 3), (2, 3)}
    # cap at 2 drops group 10 (3 distinct items), keeps group 11
    capped = {(r.src, r.dst)
              for r in G.cooccurrence_edges(df, "g", "i",
                                            max_group=2).collect()}
    assert capped == {(2, 3)}
    assert G.wide_cooccurrence_group_count(df, "g", "i", max_group=2) == 1


def test_cooccurrence_pmi_hand_fixture(spark):
    import math
    # groups: {a,b} x3, {a,c} x1 -> pairs (a,b):3, (a,c):1 (pruned at min 2)
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"),
            (3, "a"), (3, "b"), (4, "a"), (4, "c")]
    df = spark.createDataFrame(rows, "g long, i string")
    out = {(r.src, r.dst): (r.n_pair, round(r.pmi, 6))
           for r in G.cooccurrence_pmi(df, "g", "i",
                                       min_pair_count=2).collect()}
    # n_groups=4, m(a)=4, m(b)=3 -> pmi(a,b)=ln(3*4/(4*3))=0
    assert out == {("a", "b"): (3, round(math.log(3 * 4 / (4 * 3)), 6))}
    both = {(r.src, r.dst): r.n_pair
            for r in G.cooccurrence_pmi(df, "g", "i",
                                        min_pair_count=1).collect()}
    assert both[("a", "c")] == 1


def test_pagerank_weighted_matches_reference(spark):
    import math
    pairs = [(0, 1, 3.0), (0, 2, 1.0), (1, 0, 2.0), (2, 0, 1.0)]
    # independent re-derivation with weight-proportional distribution
    nodes = {0, 1, 2}
    wsum = {}
    for u, _, w in pairs:
        wsum[u] = wsum.get(u, 0.0) + w
    r = {n: 1.0 for n in nodes}
    for _ in range(5):
        acc = {n: 0.0 for n in nodes}
        for u, v, w in pairs:
            acc[v] += r[u] * w / wsum[u]
        r = {n: 0.15 + 0.85 * acc[n] for n in nodes}
    e = spark.createDataFrame(pairs, "src long, dst long, weight double")
    out = {row.node: row.rank
           for row in G.pagerank(e, weight="weight",
                                 iterations=5).collect()}
    for n, v in r.items():
        assert out[n] == pytest.approx(v, abs=1e-12)
    # distinct (src, dst) rows: skipping the per-pair sum changes nothing
    assert {row.node: row.rank
            for row in G.pagerank(e, weight="weight", iterations=5,
                                  assume_distinct=True).collect()} == out
    # weighted != unweighted on this fixture (weight actually matters)
    unw = {row.node: row.rank
           for row in G.pagerank(e, iterations=5).collect()}
    assert not math.isclose(out[1], unw[1])


def test_pagerank_weighted_parallel_edges_summed(spark):
    # duplicate (src,dst) rows: weights sum before normalization
    e1 = spark.createDataFrame([(0, 1, 1.0), (0, 1, 2.0), (0, 2, 3.0)],
                               "src long, dst long, weight double")
    e2 = spark.createDataFrame([(0, 1, 3.0), (0, 2, 3.0)],
                               "src long, dst long, weight double")
    a = sorted(map(tuple, G.pagerank(e1, weight="weight").collect()))
    b = sorted(map(tuple, G.pagerank(e2, weight="weight").collect()))
    assert a == b


def _weighted_reference(triples, iterations=5, d=0.85):
    """Pure-Python weighted PageRank (GraphX convention) over
    (src, dst, weight) rows; parallel rows' weights add up."""
    w = {}
    for u, v, x in triples:
        w[(u, v)] = w.get((u, v), 0.0) + x
    nodes = {u for u, _ in w} | {v for _, v in w}
    wsum = {}
    for (u, _), x in w.items():
        wsum[u] = wsum.get(u, 0.0) + x
    r = {n: 1.0 for n in nodes}
    for _ in range(iterations):
        acc = {n: 0.0 for n in nodes}
        for (u, v), x in w.items():
            acc[v] += r[u] * x / wsum[u]
        r = {n: (1 - d) + d * acc[n] for n in nodes}
    return r


def test_pagerank_components_strings_partitions(spark):
    """Several components (rank never crosses one), string keys, a
    dangling node, weights and a parallel edge, spread over 4
    partitions."""
    triples = [("acme", "bolt", 3.0), ("bolt", "acme", 1.0),
               ("acme", "cog", 1.0), ("cog", "bolt", 2.0),
               ("acme", "dud", 4.0),                 # dud is dangling
               ("xeno", "yak", 2.0), ("yak", "xeno", 5.0),
               ("yak", "xeno", 1.0),                 # parallel edge
               ("pim", "quo", 1.0)]
    expected = _weighted_reference(triples)
    e = (spark.createDataFrame(triples,
                               "src string, dst string, weight double")
         .repartition(4))
    out = {r.node: r.rank
           for r in G.pagerank(e, weight="weight", iterations=5).collect()}
    assert set(out) == set(expected)
    for n, v in expected.items():
        assert out[n] == pytest.approx(v, abs=1e-12), n

    # undirected=True reads each row as one undirected edge: the same
    # ranks as over both directions, weighted and unweighted, with the
    # component labelling spread over 4 partitions
    oriented = [("acme", "bolt", 3.0), ("acme", "cog", 1.0),
                ("cog", "bolt", 2.0), ("acme", "dud", 4.0),
                ("xeno", "yak", 2.0), ("pim", "quo", 1.0),
                ("quo", "rho", 5.0)]
    o = (spark.createDataFrame(oriented,
                               "src string, dst string, weight double")
         .repartition(4))
    both = o.unionByName(o.select(F.col("dst").alias("src"),
                                  F.col("src").alias("dst"), "weight"))
    for kw, sym in (({}, G.symmetrize(o, assume_oriented=True)),
                    ({"weight": "weight"}, both)):
        want = {r.node: r.rank
                for r in G.pagerank(sym, iterations=5, **kw).collect()}
        got = {r.node: r.rank
               for r in G.pagerank(o, iterations=5, undirected=True,
                                   **kw).collect()}
        assert set(got) == set(want)
        for n, v in want.items():
            assert got[n] == pytest.approx(v, abs=1e-12), (kw, n)


def _brute_k_core(pairs, k):
    """Independent pure-Python peeling reference."""
    adj = {}
    for u, v in pairs:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    changed = True
    while changed:
        changed = False
        for n in [n for n, nb in adj.items() if len(nb) < k]:
            for m in adj.pop(n):
                adj[m].discard(n)
            changed = True
    return {n: len(nb) for n, nb in adj.items()}


def test_k_core_triangle_with_tail(spark):
    # triangle 1-2-3 with tail 3-4-5: 2-core = the triangle
    e = _edges(spark, [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)])
    out = {r.node: r.degree for r in G.k_core(e, 2).collect()}
    assert out == {1: 2, 2: 2, 3: 2}
    # 3-core is empty
    assert G.k_core(e, 3).count() == 0


def test_k_core_matches_brute_force_random(spark):
    import random
    rng = random.Random(11)
    pairs = list({tuple(sorted((rng.randint(0, 30), rng.randint(0, 30))))
                  for _ in range(120)})
    pairs = [(u, v) for u, v in pairs if u != v]
    for k in (2, 3, 4):
        expected = _brute_k_core(pairs, k)
        got = {r.node: r.degree
               for r in G.k_core(_edges(spark, pairs), k).collect()}
        assert got == expected, k


def test_triangle_supernode_cap_fires(spark):
    """Power-law fixture: one hub whose degree exceeds the cap is
    dropped with all its edges, its count is observable, and triangles
    not touching the hub are unaffected."""
    hub_edges = [(0, i) for i in range(100, 250)]      # deg(0) = 150
    tri_a = [(1, 2), (2, 3), (3, 1)]                   # hub-free triangle
    tri_hub = [(100, 101)]                             # closes 0-100-101
    e = _edges(spark, hub_edges + tri_a + tri_hub)

    exact = {r.node: r.n_triangles for r in G.triangle_counts(e).collect()}
    assert exact[0] == 1 and exact[100] == 1 and exact[1] == 1

    assert G.supernode_count(e, max_degree=100) == 1
    assert G.supernode_count(e, max_degree=1000) == 0

    capped = {r.node: r.n_triangles
              for r in G.triangle_counts(e, max_degree=100).collect()}
    assert 0 not in capped                 # hub dropped from output
    assert capped[1] == capped[2] == capped[3] == 1   # untouched
    assert capped[100] == 0 and capped[101] == 0      # hub triangle lost
    # nodes whose ONLY edges touched the hub still report 0 rather than
    # vanishing -- only the hub itself is excluded
    assert capped[150] == 0 and capped[249] == 0
    assert len(capped) == 153   # 154 original nodes minus the 1 hub


def test_triangle_pmi_release_caches(spark):
    """Scoped persistence: after triangle_counts / cooccurrence_pmi
    return, the only persisted RDD added is the (GC-scoped) checkpointed
    result -- internal persist()s are released (VERDICT r2 #3)."""
    jsc = spark.sparkContext._jsc.sc()
    e = _edges(spark, [(1, 2), (2, 3), (3, 1), (3, 4)])
    before = jsc.getPersistentRDDs().size()
    tri = G.triangle_counts(e)
    assert tri.count() == 4
    assert jsc.getPersistentRDDs().size() - before <= 1

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "c")],
        "g long, i string")
    before = jsc.getPersistentRDDs().size()
    pmi = G.cooccurrence_pmi(df, "g", "i", min_pair_count=2)
    assert pmi.count() == 1
    assert jsc.getPersistentRDDs().size() - before <= 1


def test_bounded_reachability(spark):
    """BFS min-depth on a path graph with a branch; unreachable and
    beyond-max_hops nodes excluded."""
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (2, 5), (8, 9)])
    out = {r.node: r.depth
           for r in G.bounded_reachability(e, [1], max_hops=2).collect()}
    assert out == {1: 0, 2: 1, 3: 2, 5: 2}
    # two seeds: depth is the min over seeds
    out2 = {r.node: r.depth
            for r in G.bounded_reachability(e, [1, 4], max_hops=1).collect()}
    assert out2 == {1: 0, 4: 0, 2: 1, 3: 1}


def test_bounded_reachability_matches_brute_force_random(spark):
    """BFS min-depths match a pure-Python re-derivation on random
    graphs (same style as the k_core brute-force gate)."""
    import random
    rng = random.Random(11)
    for trial in range(3):
        n = 30
        pairs = sorted({(rng.randrange(n), rng.randrange(n))
                        for _ in range(45)})
        pairs = [(a, b) for a, b in pairs if a != b]
        seeds, hops = [0, 5], 3

        adj = {}
        for a, b in pairs:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        depth = {s: 0 for s in seeds}
        frontier = set(seeds)
        for d in range(1, hops + 1):
            nxt = {v for u in frontier for v in adj.get(u, ())
                   if v not in depth}
            for v in nxt:
                depth[v] = d
            frontier = nxt
        got = {r.node: r.depth
               for r in G.bounded_reachability(
                   _edges(spark, pairs), seeds, hops).collect()}
        assert got == depth, trial


# ---------------------------------------------------------------------------
# two-hop expansion / neighbor Jaccard / label propagation (r5)
# ---------------------------------------------------------------------------

def _brute_two_hop(pairs, cap=10**9):
    """Pure-Python wedge expansion with the mid-degree cap."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for m, nbrs in adj.items():
        if len(nbrs) > cap:
            continue
        ns = sorted(nbrs)
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                k = (ns[i], ns[j])
                out[k] = out.get(k, 0) + 1
    return out


def test_two_hop_path_graph(spark):
    """Path 1-2-3-4: exactly the distance-2 pairs, multiplicity 1."""
    e = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    got = {(r.a, r.c): r.n_paths
           for r in G.two_hop_pair_counts(e).collect()}
    assert got == {(1, 3): 1, (2, 4): 1}


def test_two_hop_multiplicity_counts_common_neighbors(spark):
    """Square 1-2-3-4-1: opposite corners share TWO length-2 paths."""
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    got = {(r.a, r.c): r.n_paths
           for r in G.two_hop_pair_counts(e).collect()}
    assert got == {(1, 3): 2, (2, 4): 2}


def test_two_hop_mid_degree_cap_excludes_hub(spark):
    """A hub above the cap is excluded as a wedge CENTER (its star pairs
    vanish) but keeps acting as an endpoint; the dropped-mid metric
    reports exactly one excluded node.  This is the head-entity guard:
    a 10^6-degree hub would otherwise mint 10^12 wedge pairs."""
    star = [(0, i) for i in range(1, 6)]      # hub 0, degree 5
    tail = [(1, 100), (100, 101)]             # path hanging off node 1
    e = _edges(spark, star + tail)
    capped = {(r.a, r.c): r.n_paths
              for r in G.two_hop_pair_counts(e, max_mid_degree=4).collect()}
    # hub excluded as center: no (i, j) leaf pairs; node 1 (degree 2)
    # still centers wedges 0-1-100; node 100 centers 1-100-101
    assert capped == {(0, 100): 1, (1, 101): 1}
    assert G.two_hop_dropped_mid_count(e, max_mid_degree=4) == 1
    # uncapped agrees with brute force
    full = {(r.a, r.c): r.n_paths
            for r in G.two_hop_pair_counts(e).collect()}
    assert full == _brute_two_hop(star + tail)


def test_two_hop_matches_brute_force_random(spark):
    import random
    rng = random.Random(23)
    for trial in range(3):
        n = 25
        pairs = sorted({tuple(sorted((rng.randrange(n), rng.randrange(n))))
                        for _ in range(40)})
        pairs = [(a, b) for a, b in pairs if a != b]
        got = {(r.a, r.c): r.n_paths
               for r in G.two_hop_pair_counts(_edges(spark, pairs)).collect()}
        assert got == _brute_two_hop(pairs), trial


def test_neighbor_jaccard_golden(spark):
    """Triangle 1-2-3 plus pendant 3-4: check every emitted pair's
    common count, true degrees, and Jaccard ratio."""
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4)])
    rows = {(r.a, r.b): r for r in G.neighbor_jaccard(e).collect()}
    # N(1)={2,3} N(2)={1,3} N(3)={1,2,4} N(4)={3}
    expect = {
        (1, 2): (1, 2, 2),   # common {3}; |union|=3
        (1, 3): (1, 2, 3),   # common {2}
        (2, 3): (1, 2, 3),   # common {1}
        (1, 4): (1, 2, 1),   # common {3}; N(4)={3} subset
        (2, 4): (1, 2, 1),
    }
    assert set(rows) == set(expect)
    for k, (nc, da, db) in expect.items():
        r = rows[k]
        assert (r.n_common, r.deg_a, r.deg_b) == (nc, da, db), k
        assert r.jaccard == pytest.approx(nc / (da + db - nc)), k


def _brute_lpa(pairs, iterations):
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {n: n for n in adj}
    for _ in range(iterations):
        nxt = {}
        for n, nbrs in adj.items():
            cnt = {}
            for v in nbrs:
                cnt[labels[v]] = cnt.get(labels[v], 0) + 1
            best = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
            nxt[n] = best[0]
        labels = nxt
    return labels


def test_label_propagation_two_cliques(spark):
    """Two triangles joined by one bridge edge: LPA converges to one
    label per clique (the min node id of each side)."""
    left = [(1, 2), (2, 3), (1, 3)]
    right = [(10, 11), (11, 12), (10, 12)]
    pairs = left + right + [(3, 10)]
    got = {r.node: r.label
           for r in G.label_propagation(_edges(spark, pairs),
                                        iterations=5).collect()}
    assert got == _brute_lpa(pairs, 5)
    assert got[1] == got[2] == got[3] == 1
    assert got[11] == got[12]


def test_label_propagation_matches_brute_force_random(spark):
    """Synchronous-update + min-label tiebreak parity on random graphs:
    the Spark result is a pure function of the graph."""
    import random
    rng = random.Random(7)
    for trial in range(2):
        n = 20
        pairs = sorted({tuple(sorted((rng.randrange(n), rng.randrange(n))))
                        for _ in range(30)})
        pairs = [(a, b) for a, b in pairs if a != b]
        got = {r.node: r.label
               for r in G.label_propagation(_edges(spark, pairs),
                                            iterations=4).collect()}
        assert got == _brute_lpa(pairs, 4), trial


def test_label_propagation_deterministic_rerun(spark):
    """Same graph twice -> byte-identical labeling (no RNG, no visit
    order)."""
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 1), (2, 5)]
    a = sorted(map(tuple, G.label_propagation(
        _edges(spark, pairs), iterations=5).collect()))
    b = sorted(map(tuple, G.label_propagation(
        _edges(spark, pairs), iterations=5).collect()))
    assert a == b
