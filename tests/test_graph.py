"""Golden tests for connected components / near-dup clustering
(operators/graph.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from drugbankner_spark.operators.graph import (
    connected_components,
    near_dup_clusters,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_components_chain_and_clique(spark):
    # chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds),
    # triangle 10-11-12, isolated edge 20-21
    e = _edges(
        spark,
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
    )
    got = {r["id"]: r["component"] for r in connected_components(e).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_components_label_is_min_regardless_of_direction(spark):
    # edges stored "backwards" (high -> low) still label by global min
    e = _edges(spark, [(9, 5), (5, 7), (7, 3)])
    got = {r["id"]: r["component"] for r in connected_components(e).collect()}
    assert set(got.values()) == {3}


def test_components_partitioning_invariant(spark):
    e = _edges(spark, [(1, 2), (2, 3), (4, 5)])
    a = sorted(map(tuple, connected_components(e).collect()))
    b = sorted(map(tuple, connected_components(e.repartition(7)).collect()))
    assert a == b


def test_near_dup_clusters_singletons(spark):
    docs = spark.range(6).select(F.col("id").alias("doc_id"))
    pairs = _edges(spark, [(0, 1), (1, 2), (4, 5)])
    out = {
        r["doc_id"]: (r["cluster_id"], r["is_singleton"])
        for r in near_dup_clusters(docs, pairs).collect()
    }
    assert out == {
        0: (0, False), 1: (0, False), 2: (0, False),
        3: (3, True),                      # no pair: own cluster
        4: (4, False), 5: (4, False),
    }


def test_components_self_loops_only(spark):
    # self-loops only: every node is its own component, and the first
    # round's fingerprint already matches, so propagation stops at once
    e = _edges(spark, [(5, 5), (6, 6)])
    stats = {}
    rows = connected_components(e, stats=stats).collect()
    assert {(r["id"], r["component"]) for r in rows} == {(5, 5), (6, 6)}
    assert stats["rounds"] == 1


def test_triangle_count_known_graphs(spark):
    # round 6: K4 has 4 triangles; duplicate/reversed edges and loops
    # canonicalize away; a path contributes none; K5 has 10.
    from drugbankner_spark.operators.graph import triangle_count

    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    edges = k4 + [(j, i) for i, j in k4] + [(10, 11), (11, 12), (5, 5)]
    r = triangle_count(
        spark.createDataFrame(edges, "src long, dst long")
    ).collect()[0]
    assert (r["n_triangles"], r["n_edges"], r["n_vertices"]) == (4, 8, 7)
    k5 = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    r5 = triangle_count(
        spark.createDataFrame(k5, "src long, dst long")
    ).collect()[0]
    assert r5["n_triangles"] == 10


def test_triangle_count_randomized_vs_bruteforce(spark):
    import itertools
    import random

    from drugbankner_spark.operators.graph import triangle_count

    rng = random.Random(13)
    edges = list({(rng.randint(0, 24), rng.randint(0, 24))
                  for _ in range(120)})
    adj = set()
    for s, d in edges:
        if s != d:
            adj.add((min(s, d), max(s, d)))
    verts = sorted({v for e in adj for v in e})
    want = sum(
        1 for x, y, z in itertools.combinations(verts, 3)
        if (x, y) in adj and (x, z) in adj and (y, z) in adj
    )
    got = triangle_count(
        spark.createDataFrame(edges, "src long, dst long")
    ).collect()[0]
    assert got["n_triangles"] == want and got["n_edges"] == len(adj)


def test_common_neighbor_scores(spark):
    # square 0-1-2-3-0: diagonals (0,2) and (1,3) are the non-edges
    # with 2 common neighbors each; jaccard = 2/(2+2-2) = 1.0
    from drugbankner_spark.operators.graph import common_neighbor_scores

    edges = [(0, 1), (1, 2), (2, 3), (3, 0)]
    got = {(r["a"], r["b"]): (r["n_common"], r["jaccard"])
           for r in common_neighbor_scores(
               spark.createDataFrame(edges, "src long, dst long")
           ).collect()}
    assert got == {(0, 2): (2, 1.0), (1, 3): (2, 1.0)}


def test_kcore_decomposition_known_and_random(spark):
    import itertools
    import random

    from drugbankner_spark.operators.graph import kcore_decomposition

    # K4 with a pendant vertex: clique vertices core 3, pendant core 1
    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    edges = k4 + [(0, 9)]
    got = {r["v"]: r["core"] for r in kcore_decomposition(
        spark.createDataFrame(edges, "src long, dst long")).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 9: 1}

    # randomized graph vs a Python peeling reference
    rng = random.Random(5)
    redges = list({(rng.randint(0, 17), rng.randint(0, 17))
                   for _ in range(60)})
    adj: dict = {}
    for s, d in redges:
        if s != d:
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
    core_ref = {v: 0 for v in adj}
    live = {v: set(ns) for v, ns in adj.items()}
    k = 1
    while live:
        while True:
            drop = [v for v, ns in live.items() if len(ns) < k]
            if not drop:
                break
            for v in drop:
                for n in live.get(v, ()):
                    live[n].discard(v)
                live.pop(v, None)
        for v in live:
            core_ref[v] = k
        k += 1
        if k > 64:
            break
    got_r = {r["v"]: r["core"] for r in kcore_decomposition(
        spark.createDataFrame(redges, "src long, dst long")).collect()}
    assert got_r == core_ref


def test_coreness_hindex_converges_to_peeling(spark):
    # Round 9: the synchronized h-index iteration must converge to the
    # exact peeling coreness — on a known graph AND a random one.
    import random

    from drugbankner_spark.operators.graph import (
        coreness_hindex,
        kcore_decomposition,
    )

    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    edges = k4 + [(0, 9), (9, 10), (10, 11)]  # clique + a path tail
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["v"]: r["core"]
           for r in coreness_hindex(df, rounds=8).collect()}
    want = {r["v"]: r["core"] for r in kcore_decomposition(df).collect()}
    assert got == want
    assert got[0] == 3 and got[11] == 1

    rng = random.Random(11)
    redges = list({(rng.randint(0, 23), rng.randint(0, 23))
                   for _ in range(80)})
    rdf = spark.createDataFrame(redges, "src long, dst long")
    got_r = {r["v"]: r["core"]
             for r in coreness_hindex(rdf, rounds=12).collect()}
    want_r = {r["v"]: r["core"]
              for r in kcore_decomposition(rdf).collect()}
    assert got_r == want_r


def test_coreness_hindex_monotone_rounds(spark):
    # Values are monotone non-increasing in the round count — running
    # MORE rounds never raises any vertex's value (Lü et al. lemma);
    # degree (round 0) upper-bounds everything.
    from drugbankner_spark.operators.graph import coreness_hindex

    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    v2 = {r["v"]: r["core"] for r in coreness_hindex(df, rounds=2).collect()}
    v5 = {r["v"]: r["core"] for r in coreness_hindex(df, rounds=5).collect()}
    assert set(v2) == set(v5)
    assert all(v5[v] <= v2[v] for v in v2)


def test_bfs_distances_golden_chain_with_branch(spark):
    # round 6 late: 0-1-2-3-4 chain plus branch 2-9; seeds {0} —
    # exact min-hop distances, capped at max_hops.
    from drugbankner_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (2, 9)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(0,)], ["node"])
    got = {r["node"]: r["dist"]
           for r in bfs_distances(edges, seeds, max_hops=3).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 9: 3}  # 4 is 4 hops: cut


def test_bfs_distances_multi_seed_and_directed(spark):
    from drugbankner_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 2)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(0,), (3,)], ["node"])
    und = {r["node"]: r["dist"]
           for r in bfs_distances(edges, seeds, max_hops=5).collect()}
    assert und == {0: 0, 3: 0, 1: 1, 2: 1}
    dird = {r["node"]: r["dist"]
            for r in bfs_distances(edges, seeds, max_hops=5,
                                   directed=True).collect()}
    # directed: 2 reachable from both seeds (via 1 and direct from 3)
    assert dird == {0: 0, 3: 0, 1: 1, 2: 1}


def test_bfs_distances_randomized_vs_reference(spark):
    import random
    from collections import deque

    from drugbankner_spark.operators.graph import bfs_distances

    rng = random.Random(23)
    n = 40
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(70)]
    seeds = [0, 7]
    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    want, q = {s: 0 for s in seeds}, deque(seeds)
    while q:
        u = q.popleft()
        if want[u] >= 4:
            continue
        for v in adj.get(u, ()):
            if v not in want:
                want[v] = want[u] + 1
                q.append(v)
    got = {r["node"]: r["dist"] for r in bfs_distances(
        spark.createDataFrame(edges, ["src", "dst"]),
        spark.createDataFrame([(s,) for s in seeds], ["node"]),
        max_hops=4,
    ).collect()}
    assert got == want


def test_label_propagation_two_cliques_bridge(spark):
    # two 4-cliques joined by one bridge edge: LPA separates them and
    # each community takes its min node id as label.
    import itertools

    from drugbankner_spark.operators.graph import label_propagation

    c1 = list(itertools.combinations([0, 1, 2, 3], 2))
    c2 = list(itertools.combinations([10, 11, 12, 13], 2))
    edges = spark.createDataFrame(
        c1 + c2 + [(3, 10)], ["src", "dst"]
    )
    got = {r["node"]: r["label"]
           for r in label_propagation(edges, iterations=3).collect()}
    assert all(got[v] == 0 for v in [0, 1, 2, 3])
    assert all(got[v] == 10 for v in [10, 11, 12, 13])


def test_label_propagation_matches_reference_iterations(spark):
    # randomized graph: Spark sync-LPA == a dict-based synchronous
    # reference with the same min-tiebreak, per iteration count.
    import random
    from collections import Counter

    from drugbankner_spark.operators.graph import label_propagation

    rng = random.Random(31)
    n = 30
    raw = [(rng.randrange(n), rng.randrange(n)) for _ in range(50)]
    adj = {}
    for a, b in raw:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    labels = {v: v for v in adj}
    for _ in range(3):
        new = {}
        for v, nbrs in adj.items():
            cnt = Counter(labels[u] for u in nbrs)
            mx = max(cnt.values())
            new[v] = min(l for l, c in cnt.items() if c == mx)
        labels = new
    got = {r["node"]: r["label"] for r in label_propagation(
        spark.createDataFrame(raw, ["src", "dst"]), iterations=3
    ).collect()}
    assert got == labels


def test_random_walks_match_reference_and_are_valid_paths(spark):
    # round 6 late: hash-seeded DeepWalk corpus == a dict-based
    # reference; every consecutive pair is a real edge.
    import hashlib
    import random

    from drugbankner_spark.operators.graph import random_walks

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    rng = random.Random(83)
    n = 25
    raw = [(rng.randrange(n), rng.randrange(n)) for _ in range(60)]
    adj = {}
    for a, b in raw:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    adj = {v: sorted(ns) for v, ns in adj.items()}
    want = {}
    for v in adj:
        for w in range(2):
            cur, path = v, [v]
            for t in range(1, 4):
                nbrs = adj[cur]
                cur = nbrs[h32(f"{v}|{w}|{t}|{cur}") % len(nbrs)]
                path.append(cur)
            want[(v, w)] = " ".join(map(str, path))
    got = {(r["start"], r["walk_id"]): r["path"] for r in random_walks(
        spark.createDataFrame(raw, ["src", "dst"]),
        walk_len=4, walks_per_node=2,
    ).collect()}
    assert got == want
    for (v, w), path in got.items():
        nodes = list(map(int, path.split(" ")))
        assert nodes[0] == v and len(nodes) == 4
        for a, b in zip(nodes, nodes[1:]):
            assert b in adj[a]


def test_modularity_planted_two_cliques(spark):
    # Round 9: two K4 cliques joined by one bridge edge; with the true
    # community labels Q is the textbook positive value — computed by
    # hand from Q = sum_c (m_c/m - (d_c/2m)^2).
    from drugbankner_spark.operators.graph import modularity_score

    k4a = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    k4b = [(i + 10, j + 10) for i in range(4) for j in range(i + 1, 4)]
    edges = spark.createDataFrame(
        k4a + k4b + [(0, 10)], "src long, dst long"
    )
    labels = spark.createDataFrame(
        [(i, 0) for i in range(4)] + [(i + 10, 1) for i in range(4)],
        "node long, label long",
    )
    rows = {r["community"]: r
            for r in modularity_score(edges, labels).collect()}
    # m = 13; each community: m_in = 6, deg_sum = 13
    assert rows[0]["m_in"] == 6 and rows[0]["deg_sum"] == 13
    m = 13
    q_exp = 6 / m - (13 / (2 * m)) ** 2
    total_q = rows[0]["q"] + rows[1]["q"]
    assert abs(total_q - 2 * q_exp) < 1e-12
    assert total_q > 0.2          # strongly modular by construction
    # exact-integer identity: q == q_num / (4 m^2) for every row
    for r in rows.values():
        assert r["q"] == r["q_num"] / (4.0 * m * m)
        assert r["q_num"] == 4 * m * r["m_in"] - r["deg_sum"] ** 2


def test_modularity_singleton_communities_negative(spark):
    # every node its own community: all m_in = 0, Q strictly negative
    from drugbankner_spark.operators.graph import modularity_score

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "src long, dst long"
    )
    labels = spark.createDataFrame(
        [(i, i) for i in range(3)], "node long, label long"
    )
    rows = modularity_score(edges, labels).collect()
    assert all(r["m_in"] == 0 for r in rows)
    assert sum(r["q"] for r in rows) < 0


def test_coreness_hindex_require_converged(spark):
    # ADVICE r09: a fixed round count can return 'core' values that are
    # only upper bounds on long-diameter graphs; require_converged must
    # raise instead of silently under-iterating. Chain of 12 vertices:
    # degrees are 1/2, h-index needs several rounds to settle to all-1s.
    import pytest

    from drugbankner_spark.operators.graph import coreness_hindex

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    with pytest.raises(ValueError, match="did not converge"):
        coreness_hindex(chain, rounds=1, require_converged=True)
    ok = coreness_hindex(chain, rounds=8, require_converged=True)
    assert {r["core"] for r in ok.collect()} == {1}


def test_modularity_deduplicates_label_rows(spark):
    # ADVICE r09: duplicate (node, label) rows must not double-count
    # deg_sum / n_nodes / m_in — Q with duplicated input equals Q with
    # clean input.
    from drugbankner_spark.operators.graph import modularity_score

    k4a = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    k4b = [(i + 10, j + 10) for i in range(4) for j in range(i + 1, 4)]
    edges = spark.createDataFrame(
        k4a + k4b + [(0, 10)], "src long, dst long"
    )
    clean = [(i, 0) for i in range(4)] + [(i + 10, 1) for i in range(4)]
    labels_dup = spark.createDataFrame(
        clean + clean + clean[:3], "node long, label long"
    )
    rows = {r["community"]: r
            for r in modularity_score(edges, labels_dup).collect()}
    assert rows[0]["n_nodes"] == 4 and rows[0]["deg_sum"] == 13
    assert rows[0]["m_in"] == 6


def test_g_kcore_registry_row_uses_hindex_not_peeling(spark):
    # VERDICT r09 next #5: the peeling kcore_decomposition is oracle
    # scaffolding (data-dependent driver loop); the production path -
    # and the g_kcore driver row - must stay on coreness_hindex. Pin
    # it structurally: the registry callable's source references
    # coreness_hindex and not kcore_decomposition.
    import inspect

    import __spark_entry__ as E

    src = inspect.getsource(E.all_queries()["g_kcore"])
    assert "coreness_hindex" in src
    assert "kcore_decomposition(" not in src


def test_components_raise_when_round_budget_runs_out(spark):
    # a 40-node path needs ~40 propagation rounds: the default budget of
    # 25 ends before the fingerprint confirms a fixed point, and the
    # error names the budget
    import pytest

    e = _edges(spark, [(i, i + 1) for i in range(39)])
    with pytest.raises(ValueError, match="max_iterations=25"):
        connected_components(e)
