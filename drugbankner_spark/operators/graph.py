"""Connected components over candidate-pair edges → dedup CLUSTER ids.

A training-data pipeline doesn't stop at near-dup PAIRS (dedup.py): it
needs each document assigned to a duplicate CLUSTER so one canonical doc
per cluster survives. Pairs → clusters is connected components; the
reference has no graph ops, so this is an engine extension in the E1
family (SURVEY.md §2.12).

Algorithm: iterative min-label propagation expressed as DataFrame joins
— each round, every node takes the min label among itself and its
neighbors. Converges in graph-diameter rounds; near-dup graphs are
dense small cliques (diameter ~2-3), so 3-5 rounds in practice.
Per round: one shuffle-join (edges ⋈ labels) + one hash agg — the same
shape GraphX/GraphFrames uses, with ``localCheckpoint`` truncating the
lineage so the plan doesn't grow per iteration. A long-chain graph
needs one round per hop of diameter; past ``max_iterations`` the
operator raises instead of returning unconverged labels.

Every operator here reads its edge list as one relation: an undirected
edge list is built by :func:`_both_ways` (both directions from ONE scan
of the caller's plan) or :func:`_canonical` (one ``least``/``greatest``
row per edge), never by a ``union`` of two projections of the same
frame, which would plan the caller's edge subtree twice (ARCHITECTURE
§7o).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from drugbankner_spark.caching import shared_persist


def _label_invariant(labels: DataFrame) -> tuple:
    """One-aggregation fingerprint of an (id, component) label table:
    (count, order-free XOR of xxhash64(id, component)). One row per id,
    so XOR never cancels duplicates; equality across rounds ⇒ unchanged
    labels up to a 2^-64 collision."""
    row = labels.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("id", "component")).alias("x"),
    ).first()
    return (row["n"], row["x"])


def _both_ways(
    edges: DataFrame, src: str, dst: str, a: str = "a", b: str = "b"
) -> DataFrame:
    """Both directions of every edge from ONE scan of ``edges``: two
    rows (a=src, b=dst) and (a=dst, b=src) per input row, loops and
    duplicates kept. Selecting ``a`` alone lists every endpoint once per
    edge end. A union of two projections would embed the caller's
    ``edges`` subtree twice in one plan — Catalyst does not dedupe
    common subtrees, so an expensive pair generator would run twice."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias(a), F.col(dst).alias(b)),
                F.struct(F.col(dst).alias(a), F.col(src).alias(b)),
            )
        ).alias("_e")
    ).select(f"_e.{a}", f"_e.{b}")


def _canonical(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """One (a, b) row per edge with a = least, b = greatest endpoint —
    the direction-free form; loops and duplicates kept."""
    return edges.select(
        F.least(F.col(src), F.col(dst)).alias("a"),
        F.greatest(F.col(src), F.col(dst)).alias("b"),
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Label every vertex of the undirected graph ``edges`` with the MIN
    vertex id reachable from it. Output: (id, component), one row per
    distinct vertex appearing in any edge. Deterministic — the label is
    a graph property, independent of partitioning and iteration order.

    Each iteration is one join + one min-agg (two shuffles) and one
    convergence check — a single hash-agg action comparing the label
    table's (count, order-free xor of xxhash64(id, component))
    fingerprint with the previous round's (labels only ever decrease, so
    an unchanged fingerprint means a fixed point up to a 2^-64 collision;
    cheaper than the join-with-old-labels changed-count it replaces).
    Lineage is cut per round with ``localCheckpoint`` so iteration N
    doesn't replan rounds 1..N-1. Pass ``stats={}`` to receive
    ``stats["rounds"]``. Raises ``ValueError`` when ``max_iterations``
    rounds end before the fingerprint confirms a fixed point.
    """
    # LAZY checkpoints (round 15, guide §1/§2.4): every round already
    # runs an invariant action over the full label table — that action
    # doubles as the checkpoint's materializing job, so the separate
    # eager-checkpoint job per round (and two at setup) disappears.
    # Blocks are cached on first computation exactly as before; only
    # WHICH job pays for them changes.
    #
    # Symmetrize with ONE scan of the edge plan (``_both_ways``): under
    # AQE a twice-planned pair generator's shuffle stages materialize
    # CONCURRENTLY, defeating even a persist on the subtree (parallel
    # cold tasks can't see each other's cache).
    #
    # Partition AND sort the edge table by the per-round join key ONCE,
    # then persist (guide §2.4): every round joins sym on "b", so under
    # the at-scale sort-merge plan an unprepared sym would be
    # re-exchanged and re-sorted every round. A persist is the right
    # lifetime tool here — sym is STATIC across rounds (no lineage
    # growth to cut), and InMemoryTableScan preserves the cached plan's
    # partitioning+ordering, which localCheckpoint's LogicalRDD drops
    # under AQE (verified in-plan: ExistingRDD re-exchanged; cached scan
    # not). Only the label table moves per round.
    sym = shared_persist(
        _both_ways(edges, src, dst)
        .distinct()
        .repartition("b")
        .sortWithinPartitions("b")
    )
    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=False)
    )
    # materializes labels AND sym (labels reads every sym partition)
    prev_inv = _label_invariant(labels)
    rounds = 0
    for _ in range(max_iterations):
        via_neighbor = sym.join(
            labels.select(F.col("id").alias("b"), "component"), "b"
        ).select(F.col("a").alias("id"), "component")
        new_labels = (
            labels.union(via_neighbor)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=False)
        )
        rounds += 1
        inv = _label_invariant(new_labels)  # materializes new_labels
        labels = new_labels
        if inv == prev_inv:
            break
        prev_inv = inv
    else:
        raise ValueError(
            f"connected_components did not converge in max_iterations="
            f"{max_iterations} rounds: its labels are not a fixed point "
            "yet; raise max_iterations"
        )
    if stats is not None:
        stats["rounds"] = rounds
    return labels


def near_dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Cluster id per document: connected component of the candidate-pair
    graph for paired docs, the doc's own id for singletons. Output:
    (id_col, cluster_id, is_singleton). Canonical-doc selection is then
    ``exact_dedup(..., key_cols=["cluster_id"])`` or min-id-per-cluster.
    """
    comp = connected_components(pairs, src, dst)
    return (
        docs.select(id_col)
        .join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
            F.col("component").isNull().alias("is_singleton"),
        )
    )


def pagerank(
    edges: DataFrame,
    n_iters: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 4,
) -> DataFrame:
    """PageRank over an edge list — the domain-authority signal for
    web-corpus curation (rank hosts by the link graph from
    operators/web.extract_links_df, then weight or gate admission by
    host rank; the classic CommonCrawl-refinement move).

    Power iteration as DataFrame ops: per round one (edges ⋈ ranks)
    shuffle join + one map-side-combinable sum by destination. Dangling
    mass (nodes without outlinks) redistributes uniformly via a 1-row
    aggregate broadcast — no collect of the rank vector itself, so the
    node table can be web-scale. ``localCheckpoint`` truncates lineage
    every few rounds (the connected-components discipline).
    Output: (node, rank); ranks sum to 1.
    """
    return _power_iteration(
        edges, None, n_iters, damping, src, dst, checkpoint_every
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: list,
    n_iters: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 4,
) -> DataFrame:
    """Personalized PageRank (round 7): teleport and dangling mass go
    to the SEED SET uniformly instead of all nodes — rank becomes
    "authority relative to these seeds", the similarity/expansion
    signal (seed a topic's known-good hosts, rank the rest of the link
    graph by affinity to them; also the classic recommender walk).

    Same power iteration as :func:`pagerank`; the teleport vector rides
    ``base`` as a column, so seeds cost nothing extra per iteration.
    Ranks sum to 1 over reachable nodes; nodes unreachable from the
    seeds converge to 0."""
    if not seeds:
        raise ValueError("personalized_pagerank: seeds must be non-empty")
    return _power_iteration(
        edges, list(seeds), n_iters, damping, src, dst, checkpoint_every
    )


def _power_iteration(
    edges: DataFrame,
    seeds: list | None,
    n_iters: int,
    damping: float,
    src: str,
    dst: str,
    checkpoint_every: int,
) -> DataFrame:
    """The power iteration both PageRanks share: per round one
    edges⋈ranks join + one dest-keyed sum, the dangling mass as a 1-row
    broadcast, lineage cut every ``checkpoint_every`` rounds. ``seeds``
    None teleports uniformly over all n nodes (one count job sizes n);
    a seed list teleports to the seeds through a ``_tele`` column."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        _both_ways(e, "src", "dst")
        .select(F.col("a").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if seeds is None:
        n_total = nodes.count()
        if n_total == 0:
            return nodes.withColumn("rank", F.lit(0.0))
        tele_cols = []
        start = F.lit(1.0 / n_total)
        teleport = F.lit((1.0 - damping) / n_total)
        spread = F.col("mass") / F.lit(float(n_total))
    else:
        tele_cols = [F.when(
            F.col("node").isin(seeds), F.lit(1.0 / len(seeds))
        ).otherwise(F.lit(0.0)).alias("_tele")]
        start = F.col("_tele")
        teleport = F.lit(1.0 - damping) * F.col("_tele")
        spread = F.col("mass") * F.col("_tele")
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    # static per-iteration inputs: node ⋈ out-degree, checkpointed once
    base = (
        nodes.join(
            out_deg.withColumnRenamed("src", "node"), "node", "left"
        )
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            *tele_cols,
        )
        .localCheckpoint(eager=True)
    )
    keep = ["node", *(["_tele"] if tele_cols else [])]
    ranks = base.select("node", start.alias("rank"))
    for i in range(n_iters):
        with_deg = ranks.join(base, "node")
        dangling = with_deg.filter(F.col("out_deg") == 0).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("mass")
        )  # 1-row build side
        contrib = (
            e.join(
                with_deg.filter(F.col("out_deg") > 0)
                .withColumnRenamed("node", "src"),
                "src",
            )
            .select("dst", (F.col("rank") / F.col("out_deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            base.select(*keep)
            .join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    teleport
                    + F.lit(damping)
                    * (F.coalesce(F.col("inflow"), F.lit(0.0)) + spread)
                ).alias("rank"),
            )
        )
        if (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact triangle counting (round 6): undirected edges → one row
    (n_triangles, n_edges, n_vertices). The classic compact-forward /
    degree-orientation algorithm as pure DataFrame joins:

    1. canonicalize: (min, max) per edge, loops dropped, distinct;
    2. orient every edge from the LOWER-ranked endpoint under the
       total order (degree, vertex id) — each triangle then has
       exactly one "apex" vertex with two out-edges, so it is counted
       exactly once;
    3. wedges = out-edges self-joined on the apex (u→v ⋈ u→w with
       rank_v < rank_w), closed by a semi join against the oriented
       edge set on (v, w).

    Scale: orientation bounds every vertex's out-degree by O(√m) on
    any graph (a vertex keeps only edges toward HIGHER-degree
    neighbors), so the wedge join materializes O(m^1.5) rows worst
    case — the provable bound for exact triangle enumeration — and
    hot hub vertices never explode their wedge lists. Three shuffles:
    degree agg, wedge join key, closing semi join."""
    e = shared_persist(
        _canonical(edges, src, dst)
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        _both_ways(e, "a", "b")
        .groupBy(F.col("a").alias("v"))
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("_da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("_db"))
    ranked = e.join(da, "a").join(db, "b")
    fwd = F.struct(F.col("_da").alias("d"), F.col("a").alias("v"))
    bwd = F.struct(F.col("_db").alias("d"), F.col("b").alias("v"))
    oriented = shared_persist(ranked.select(
        F.when(fwd < bwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd < bwd, F.col("b")).otherwise(F.col("a")).alias("w"),
        F.when(fwd < bwd, F.col("_db")).otherwise(F.col("_da")).alias("_dw"),
    ))
    o1 = oriented.select("u", F.col("w").alias("v"), F.col("_dw").alias("_dv"))
    o2 = oriented.select("u", "w", "_dw")
    wedges = o1.join(o2, "u").filter(
        F.struct(F.col("_dv").alias("d"), F.col("v").alias("v"))
        < F.struct(F.col("_dw").alias("d"), F.col("w").alias("v"))
    )
    closed = wedges.join(
        oriented.select(F.col("u").alias("v"), F.col("w")),
        ["v", "w"],
        "left_semi",
    )
    n_tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    n_e = e.agg(F.count(F.lit(1)).alias("n_edges"))
    n_v = deg.agg(F.count(F.lit(1)).alias("n_vertices"))
    return n_tri.crossJoin(n_e).crossJoin(n_v)


def common_neighbor_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 1,
) -> DataFrame:
    """Link-prediction candidate scores (round 6): for every NON-edge
    vertex pair sharing ≥ ``min_common`` neighbors — (a, b, n_common,
    jaccard) where jaccard = |N(a)∩N(b)| / |N(a)∪N(b)|. The classic
    common-neighbors / Jaccard predictors; exact rationals rounded to
    6dp for cross-engine parity.

    Plan: wedges through the shared neighbor (one self-join on the
    neighbor column), minus existing edges (anti join), plus two
    degree lookups. The wedge join is the same Σd² shape as triangle
    counting — at scale cap hub degrees first (sample or filter) as
    every production link-prediction pipeline does."""
    e = shared_persist(
        _canonical(edges, src, dst)
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # adjacency in both directions: (v, neighbor)
    adj = shared_persist(_both_ways(e, "a", "b", "v", "n"))
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    x = adj.select(F.col("v").alias("x"), "n")
    y = adj.select(F.col("v").alias("y"), "n")
    pairs = (
        x.join(y, "n")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    non_edges = pairs.join(
        e.select(F.col("a").alias("x"), F.col("b").alias("y")),
        ["x", "y"],
        "left_anti",
    )
    dx = deg.select(F.col("v").alias("x"), F.col("d").alias("_dx"))
    dy = deg.select(F.col("v").alias("y"), F.col("d").alias("_dy"))
    return (
        non_edges.join(dx, "x").join(dy, "y")
        .select(
            F.col("x").alias("a"), F.col("y").alias("b"), "n_common",
            F.round(
                F.col("n_common")
                / (F.col("_dx") + F.col("_dy") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


def kcore_decomposition(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_k: int = 64,
    checkpoint_every: int = 8,
) -> DataFrame:
    """k-core decomposition by iterative peeling — ORACLE SCAFFOLDING,
    not the production path (VERDICT r09 next #5). The peel loop is a
    data-dependent driver loop: one eager localCheckpoint + count()
    action per round, and the round count grows with the graph's
    degeneracy × peel depth, which is unbounded at 100 TB scale.
    Production callers (the ``g_kcore`` registry row included) use
    :func:`coreness_hindex` — fixed synchronized rounds, no per-round
    driver action — which this function exists to pin against on
    known and random graphs (``tests/test_graph.py``). Per vertex,
    core = the LARGEST k such that the vertex survives iterated
    removal of all vertices with degree < k — the standard
    graph-density/quality signal (spam rings and templated link farms
    concentrate in high cores). Output: (v, core).

    Algorithm: iterative peeling per k — for each k in ascending
    order, repeatedly delete sub-k-degree vertices until stable (each
    round is one degree agg + one semi join), recording survivors'
    core = k. EVERY peel round is eagerly localCheckpoint-ed: the
    convergence count re-executes the round's plan otherwise, and an
    uncut 8-round lineage recomputes exponentially (the
    connected-components lesson, applied strictly here because every
    round carries an action). Total rounds are bounded by the
    degeneracy + peel depth (small for real sparse graphs); each
    round shuffles edge endpoints only."""
    e = (
        _canonical(edges, src, dst)
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_e = e.count()

    def ends(e: DataFrame) -> DataFrame:
        return _both_ways(e, "a", "b").select(F.col("a").alias("v"))

    core = ends(e).distinct().select("v", F.lit(0).alias("core"))
    core = core.localCheckpoint(eager=True)
    for k in range(1, max_k + 1):
        if n_e == 0:
            break
        while True:
            deg = (
                ends(e)
                .groupBy("v")
                .agg(F.count(F.lit(1)).alias("d"))
            )
            keep = deg.filter(F.col("d") >= k).select("v")
            new_e = e.join(
                keep.select(F.col("v").alias("a")), "a", "left_semi"
            ).join(
                keep.select(F.col("v").alias("b")), "b", "left_semi"
            ).localCheckpoint(eager=True)
            n_new = new_e.count()
            e = new_e
            if n_new == n_e:
                break
            n_e = n_new
        if n_e == 0:
            break
        survivors = ends(e).distinct()
        core = core.join(
            survivors.withColumnRenamed("v", "_sv"),
            core["v"] == F.col("_sv"),
            "left",
        ).select(
            "v",
            F.when(F.col("_sv").isNotNull(), F.lit(k))
            .otherwise(F.col("core")).alias("core"),
        ).localCheckpoint(eager=True)
    return core


def coreness_hindex(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 8,
    checkpoint_every: int = 4,
    require_converged: bool = False,
) -> DataFrame:
    """Coreness via SYNCHRONIZED h-index iteration (Lü et al. 2016,
    "The H-index of a network, and its relation to degree and
    coreness"): start every vertex at its degree, then repeatedly set
    each vertex's value to the H-index of its neighbors' values (the
    largest h such that ≥ h neighbors hold value ≥ h). The sequence is
    monotone non-increasing and converges to the exact k-core number.
    Unlike the fixpoint peeling in ``kcore_decomposition`` (whose round
    count is data-dependent), this runs a FIXED number of synchronized
    rounds — the property that makes it cross-engine replayable as a
    chained-CTE SQL oracle, the same contract as ``pagerank``.

    Per round: one shuffle join (directed-edge table ⋈ values on the
    neighbor endpoint), one (v, value) count agg, one cumulative-count
    window over each vertex's DISTINCT neighbor values, one
    max(least(cum, value)) hash agg — all integer arithmetic, no
    float convention anywhere. The H-index never needs the per-
    neighbor rank: with c(u) = #neighbors holding value ≥ u,
    h = max over distinct u of min(c(u), u) — so the degree-scale
    row_number window (round ≤11: a hub's whole adjacency list ranked
    in ONE task per round) collapses to a map-side-combinable count
    plus a window over distinct values only (≤ min(degree, max core)
    rows per vertex, and the hub's edge-scale rows never reach the
    window's shuffle). No collect; the value table stays
    distributed, so the node set can be web-scale. Output:
    (v, core) after ``rounds`` iterations (equal to true coreness once
    converged — tests pin equality against ``kcore_decomposition``).

    Round bound (ADVICE r09): convergence needs at most
    O(graph diameter) rounds in practice — pathological
    chain-of-cliques graphs need ~(chain length) rounds, so the
    default 8 under-iterates on long-diameter graphs. Callers who
    cannot bound the diameter should pass
    ``require_converged=True``: after the final round the values of
    round ``rounds`` and ``rounds-1`` are compared (one extra join +
    1-row agg) and a ``ValueError`` names the still-changing vertex
    count instead of silently returning a column called ``core`` that
    is only an upper bound."""
    und = (
        _canonical(edges, src, dst)
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # both directions: one row per (vertex, neighbor)
    dirs = _both_ways(und, "a", "b", "v", "u").localCheckpoint(eager=True)
    vals = dirs.groupBy("v").agg(F.count(F.lit(1)).alias("core"))
    prev_vals = vals
    from pyspark.sql import Window

    for r in range(1, rounds + 1):
        nb = dirs.join(
            vals.select(F.col("v").alias("u"), F.col("core").alias("uval")),
            "u",
        )
        # H-index of the neighbor multiset from VALUE-GROUPED counts:
        # for each distinct neighbor value u, c(u) = #neighbors with
        # value >= u (cumulative count over values desc), and
        # h = max(min(c(u), u)) — identical to ranking every neighbor
        # (each sorted-rank block's best min(rank, value) is exactly
        # min(c(u), u)), but the window sees distinct values, not the
        # adjacency list, and the count agg combines map-side.
        vcounts = nb.groupBy("v", "uval").agg(
            F.count(F.lit(1)).alias("_c")
        )
        w = (
            Window.partitionBy("v").orderBy(F.desc("uval"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        vals = (
            vcounts.withColumn("_cum", F.sum("_c").over(w))
            .groupBy("v")
            .agg(F.max(F.least(F.col("_cum"), F.col("uval")))
                 .cast("long").alias("core"))
        )
        if r == rounds and require_converged:
            prev = prev_vals.select(
                F.col("v"), F.col("core").alias("_prev")
            )
            n_changed = (
                vals.join(prev, "v")
                .filter(F.col("core") != F.col("_prev"))
                .count()
            )
            if n_changed:
                raise ValueError(
                    f"coreness_hindex did not converge in {rounds} "
                    f"rounds: {n_changed} vertices still changing — "
                    "raise `rounds` (bound: graph diameter)"
                )
        if r % checkpoint_every == 0 or r == rounds:
            vals = vals.localCheckpoint(eager=True)
        prev_vals = vals
    return vals


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    max_hops: int = 3,
    directed: bool = False,
) -> DataFrame:
    """Multi-source BFS: hop distance from the nearest seed, bounded at
    ``max_hops`` (k-hop neighborhood extraction — "every doc within 2
    links of a known-bad site", contamination blast radius, seed-set
    expansion). Output: (node, dist) for every vertex reachable in
    ≤ ``max_hops`` hops, dist = exact minimum hop count, seeds at 0.
    Deterministic — a graph property like the CC labels above.

    One round per hop: frontier ⋈ edges → dist+1, anti-join visited,
    min-agg (a frontier node reached twice in the same round keeps one
    row), ``localCheckpoint`` cutting lineage. Early exit on an empty
    frontier — one count action per round, the same convergence-probe
    budget as :func:`connected_components`. The visited table only ever
    grows by the frontier, so per-round shuffle volume is proportional
    to the frontier's edge fan-out, not the whole graph."""
    adj = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        if directed else _both_ways(edges, src, dst)
    )
    adj = adj.filter(F.col("a") != F.col("b")).distinct() \
        .localCheckpoint(eager=True)
    visited = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = visited
    for _ in range(max_hops):
        nxt = (
            frontier.join(adj, frontier["node"] == adj["a"])
            .select(F.col("b").alias("node"),
                    (F.col("dist") + 1).alias("dist"))
            .join(visited.select("node"), "node", "left_anti")
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
        if nxt.count() == 0:
            break
        visited = visited.union(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) with the
    deterministic min-label tiebreak: every node starts as its own
    label; each round it adopts the most frequent label among its
    neighbors, ties broken by MIN label. Fixed ``iterations`` (the
    GraphFrames LPA contract — sync LPA oscillates on bipartite
    structures, so a fixed budget, not convergence, is the standard
    stopping rule). Output: (node, label). Deterministic for a given
    iteration count — count/max/min are partition-order free.

    Per round: one join (adjacency ⋈ labels) + one (node, label) count
    agg + one map-side-combinable min_by agg picking the winning label
    per node (round 12: in early rounds a hub's distinct neighbor
    labels are degree-scale — the previous max-count window put them
    all in one task; min_by over struct(−count, label) computes the
    same most-frequent-min-tiebreak winner with partial aggregation,
    so a hub's votes combine map-side) — two shuffles, the same
    budget as a CC round; isolated nodes keep their label via the
    left join + coalesce."""
    sym = (
        _both_ways(edges, src, dst)
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = sym.select(F.col("a").alias("node")).distinct()
    labels = nodes.withColumn("label", F.col("node")) \
        .localCheckpoint(eager=True)

    for _ in range(iterations):
        votes = (
            sym.join(labels.select(F.col("node").alias("b"), "label"), "b")
            .groupBy(F.col("a").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        top = votes.groupBy("node").agg(
            F.min_by(
                "label",
                F.struct((-F.col("c")).alias("_nc"),
                         F.col("label").alias("_lb")),
            ).alias("new_label")
        )
        labels = (
            labels.join(top, "node", "left")
            .select(
                "node",
                F.coalesce("new_label", "label").alias("label"),
            )
            .localCheckpoint(eager=True)
        )
    return labels


def random_walks(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    walk_len: int = 4,
    walks_per_node: int = 2,
) -> DataFrame:
    """DeepWalk/node2vec walk-corpus generation (Perozzi et al. 2014),
    made DETERMINISTIC: from every node, ``walks_per_node`` walks of
    ``walk_len`` nodes over the undirected graph, where step ``t``
    from node ``cur`` picks sorted-neighbor index
    ``hash32(start|walk|t|cur) % degree`` — hash-not-RNG, so the
    corpus is reproducible across engines, partitionings, and reruns
    (the repo's standard sampling convention; the skip-gram trainer
    downstream doesn't care that the walk is pseudo-random).
    Output: (start, walk_id, path) with path the space-joined node
    sequence.

    Shape: one adjacency agg (sorted neighbor ARRAY per node — degree-
    bounded rows), then ``walk_len − 1`` equi joins of the walk
    frontier against the adjacency on the current node. At 100 TB the
    frontier shuffles on ``cur`` each step — the standard vertex-
    program shape — and hub-node skew is AQE's skew-join case, not a
    correctness concern."""
    from drugbankner_spark.operators.dedup import content_hash32

    sym = (
        _both_ways(edges, src, dst)
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    adj = sym.groupBy(F.col("a").alias("node")).agg(
        F.array_sort(F.collect_list("b")).alias("nbrs")
    )
    walks = (
        adj.select("node")
        .select(
            F.col("node").alias("start"),
            F.explode(
                F.sequence(F.lit(0), F.lit(walks_per_node - 1))
            ).alias("walk_id"),
        )
        .select(
            "start", "walk_id",
            F.col("start").alias("cur"),
            F.col("start").cast("string").alias("path"),
        )
    )
    for t in range(1, walk_len):
        h = content_hash32(
            F.concat_ws(
                "|",
                F.col("start").cast("string"),
                F.col("walk_id").cast("string"),
                F.lit(str(t)),
                F.col("cur").cast("string"),
            )
        )
        step = (
            walks.join(adj, walks["cur"] == adj["node"])
            .select(
                "start", "walk_id",
                F.element_at(
                    "nbrs", (h % F.size("nbrs") + 1).cast("int")
                ).alias("cur"),
                F.col("path"),
            )
            .select(
                "start", "walk_id", "cur",
                F.concat_ws(
                    " ", F.col("path"), F.col("cur").cast("string")
                ).alias("path"),
            )
        )
        walks = step
    return walks.select("start", "walk_id", "path")


def modularity_score(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Newman modularity of a community assignment, per community and
    in EXACT integer arithmetic — the quality score that turns
    ``label_propagation``'s labels into an evaluable clustering (the
    Louvain objective, scored relationally):

        Q = Σ_c [ m_c/m − (d_c/2m)² ]
          = Σ_c (4·m·m_c − d_c²) / (4·m²)

    with m = |undirected edges|, m_c = edges inside community c,
    d_c = total degree of c's nodes. Per-community rows carry the
    exact BIGINT numerator ``q_num`` = 4·m·m_c − d_c² (shared
    denominator 4·m²) plus ``q`` = one IEEE division of those exact
    integers — no unordered float sum anywhere; the corpus Q is
    Σ q_num / (4m²), summable downstream in integers. Overflow bound:
    m·m_c and d_c² < 2⁶³ — fine past 10⁹ edges.

    Plan: edge canonicalization, one 1-row m aggregate broadcast (the
    pagerank dangling-mass pattern — never a driver collect), two
    label joins on the edge list, and dim-sized (community) aggs.
    Communities with no internal edge still emit (their −(d_c/2m)²
    term is real). Output: (community, n_nodes, m_in, deg_sum,
    q_num, q)."""
    und = (
        _canonical(edges, src, dst)
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # distinct: duplicate (node, label) rows would silently double-count
    # deg_sum / n_nodes and fan out the edge joins, producing a wrong Q
    # with no error (ADVICE r09). A node carrying TWO DIFFERENT labels
    # is still caller error (documented precondition: labels is a
    # function of node, as label_propagation emits).
    lab = labels.select(
        F.col(node_col).alias("_n"), F.col(label_col).alias("community")
    ).distinct()
    m_row = und.agg(F.count(F.lit(1)).alias("_m"))
    deg = (
        _both_ways(und, "a", "b")
        .groupBy(F.col("a").alias("_n"))
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    per_c = (
        deg.join(lab, "_n")
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("_d").alias("deg_sum"),
        )
    )
    inner = (
        und.join(lab.withColumnRenamed("_n", "a")
                 .withColumnRenamed("community", "_ca"), "a")
        .join(lab.withColumnRenamed("_n", "b")
              .withColumnRenamed("community", "_cb"), "b")
        .filter(F.col("_ca") == F.col("_cb"))
        .groupBy(F.col("_ca").alias("community"))
        .agg(F.count(F.lit(1)).alias("m_in"))
    )
    q_num = (
        F.lit(4) * F.col("_m") * F.col("m_in")
        - F.col("deg_sum") * F.col("deg_sum")
    )
    return (
        per_c.join(inner, "community", "left")
        .select(
            "community",
            "n_nodes",
            F.coalesce("m_in", F.lit(0)).alias("m_in"),
            "deg_sum",
        )
        .crossJoin(F.broadcast(m_row))
        .select(
            "community",
            "n_nodes",
            "m_in",
            "deg_sum",
            q_num.alias("q_num"),
            (q_num.cast("double")
             / (F.lit(4.0) * F.col("_m") * F.col("_m"))).alias("q"),
        )
    )
