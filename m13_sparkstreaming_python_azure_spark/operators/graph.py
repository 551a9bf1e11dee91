"""Connected components over candidate-pair edges — the clustering step
between near-dup PAIR generation (dedup.py / similarity.py) and survivor
selection: pairs only say "a duplicates b"; components say "these N docs
are all one duplicate group", including links implied by transitivity.

Algorithm: min-label propagation with pointer jumping. Each round every
node takes the min label over (its own, its neighbors', its label's
label). Edge relaxation alone needs diameter rounds (a length-L chain
takes L); the pointer-jump term halves label-tree depth every round, so
convergence is O(log n) rounds — the property that makes the loop viable
on billion-node dup graphs. Each round is two shuffles (edge join + label
join) and the iterate is localCheckpoint'ed to truncate lineage.

Spark has no built-in CC (GraphX is RDD/Scala-only); this is the
DataFrame-native equivalent of the MapReduce min-label algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from m13_sparkstreaming_python_azure_spark.operators.util import (
    release_local_checkpoint,
)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``, where
    ``component`` is the minimum node id reachable through any pair chain.

    Driver-side loop with a convergence check per round — iteration count
    is O(log n), independent of data volume per round."""
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).filter(F.col("u") != F.col("v")).distinct()
    # undirected: keep both orientations so one join relaxes every edge
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = sym.localCheckpoint(eager=True)

    labels = (
        sym.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    prev_ck = labels  # the checkpoint DataFrame backing ``labels``

    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.v == labels.id)
            .groupBy("u")
            .agg(F.min("label").alias("nmin"))
            .select(F.col("u").alias("id"), "nmin")
        )
        lbl2 = labels.select(
            F.col("id").alias("l_id"), F.col("label").alias("l_label")
        )
        jumped = labels.join(
            lbl2, labels.label == lbl2.l_id, "left"
        ).select("id", "label", F.col("l_label").alias("jmin"))
        new_lab = F.least(
            "label",
            F.coalesce("jmin", "label"),
            F.coalesce("nmin", "label"),
        )
        # fold the convergence flag INTO the checkpointed row (r12,
        # guide §2.4): ``jumped`` still carries the round-start label,
        # so new != old is a free map-side comparison here — the old
        # separate changed-check job re-joined new_labels against
        # labels (one extra join + count job per round); now it is a
        # limit(1) scan of the already-cached checkpoint
        new_labels = (
            jumped.join(neighbor_min, on="id", how="left")
            .select(
                "id",
                new_lab.alias("label"),
                (new_lab != F.col("label")).alias("__chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter("__chg").limit(1).count()
        # the round-start checkpoint is dead once new_labels is
        # materialized and the flag read — free its blocks now rather
        # than at GC (see release_local_checkpoint); the RETURNED final
        # checkpoint is the one live result and stays
        release_local_checkpoint(prev_ck)
        prev_ck = new_labels
        labels = new_labels.select("id", "label")
        if changed == 0:
            break
    # sym only fed the loop; the result is a projection over the final
    # checkpoint alone, so sym's blocks are releasable here
    release_local_checkpoint(sym)
    return labels.select(
        F.col("id").alias("node"), F.col("label").alias("component")
    )


def dedup_clusters(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str,
    pair_a: str = "id_a",
    pair_b: str = "id_b",
) -> DataFrame:
    """Full survivor map: every id in ``all_ids`` labeled with its duplicate
    component (singletons label themselves); ``is_survivor`` marks the
    component minimum — the canonical keep-one-per-cluster policy."""
    comp = connected_components(pairs, pair_a, pair_b)
    out = (
        all_ids.select(F.col(id_col).alias("node"))
        .join(comp, on="node", how="left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("component", F.col("node")).alias("cluster_id"),
        )
    )
    return out.withColumn(
        "is_survivor", (F.col(id_col) == F.col("cluster_id")).cast("int")
    )


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, n_triangles) for every node in ``edges`` — the clustering-
    coefficient numerator, a density/community signal over dup graphs and
    co-occurrence graphs.

    Each triangle is enumerated exactly once as an ordered triple
    a < b < c (edges normalized to the a<b orientation first), then
    credited to its three corners via one explode. Two equi-joins total:
    wedges (a<b)⋈(b<c) on b, closed against (a<c). At scale, orient by
    DEGREE instead of id (relabel nodes by ascending degree before the
    joins): every wedge pivot then has out-degree ≤ √(2|E|), which bounds
    the wedge blowup on skewed graphs — id order is used here because the
    oracle must reproduce the exact pipeline cheaply; the relabeling is a
    pure per-edge map and changes no counts."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .distinct()
    )
    wedge = (
        e.alias("x")
        .join(e.alias("y"), F.col("x.b") == F.col("y.a"))
        .select(
            F.col("x.a").alias("a"),
            F.col("x.b").alias("b"),
            F.col("y.b").alias("c"),
        )
    )
    tri = wedge.alias("w").join(
        e.alias("z"),
        (F.col("w.a") == F.col("z.a")) & (F.col("w.c") == F.col("z.b")),
    ).select("w.a", "w.b", "w.c")
    per_node = (
        tri.select(
            F.explode(F.array("a", "b", "c")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nodes = e.select(F.col("a").alias("node")).union(
        e.select(F.col("b").alias("node"))
    ).distinct()
    return nodes.join(per_node, on="node", how="left").select(
        "node", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles")
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Power-iteration PageRank (unnormalized, fixed iteration count) —
    the canonical iterative-join algorithm, Spark-first: each round is one
    broadcast-or-shuffle join (edges ⋈ ranks) plus a keyed aggregate, so a
    round costs O(edges) with map-side combine and the iteration count is
    the only sequential dimension.

    Determinism across engines (the oracle hash-checks this):
    - per-edge contributions are cast to decimal(27,12) BEFORE summing, so
      the per-node sum is exact and fold-order independent (double sums
      would differ between Spark's partial aggregation tree and any other
      engine's);
    - each iteration's rank snaps to a 1e-9 grid via floor(x*1e9+0.5) —
      floating error cannot accumulate across iterations.

    A fixed iteration count (vs convergence test) keeps the plan static
    and the result engine-independent; at scale, checkpoint ``ranks``
    every few rounds to truncate lineage.

    Cleanup contract (ADVICE r12): the returned ranks are an eager
    ``localCheckpoint`` — NOT a CacheManager entry — so caller-side
    ``.unpersist()`` is a silent no-op; release the blocks early with
    ``operators.util.release_local_checkpoint(result)`` (otherwise they
    free at the next JVM GC after the reference drops).
    """
    # The edge relation is often EXPENSIVE lineage (e.g. a self-join that
    # materializes co-occurrence): deg, nodes, and edged each consume it,
    # so pin it once during setup — it computes one time instead of three
    # — and release it as soon as edged/nodes are materialized.
    edges = edges.persist()
    deg = edges.groupBy(src).agg(F.count(F.lit(1)).alias("__deg"))
    edged = edges.join(deg, on=src).persist()
    nodes = edges.select(F.col(src).alias("node")).distinct().persist()
    # ranks is O(nodes): while it fits a broadcast (~tens of MB), pin the
    # hint so the edge table never shuffles inside the loop — the only
    # per-iteration shuffle is then the contribution aggregate. Past that
    # size the hint would OOM the driver; drop it and pre-partition BOTH
    # sides on the key instead, so the per-iteration join reuses one
    # stable partitioning instead of re-planning each round.
    broadcastable = nodes.count() <= 5_000_000
    ranks = nodes.withColumn("rank", F.lit(1.0))
    if not broadcastable:
        edged = edged.repartition(src)
    edged.count()  # materialize off the cached edges, then drop them
    edges.unpersist()
    ckpts: list[DataFrame] = []
    for i in range(iterations):
        rank_side = F.broadcast(ranks) if broadcastable else ranks
        contribs = edged.join(
            rank_side, edged[src] == ranks["node"]
        ).select(
            F.col(dst).alias("node"),
            (F.col("rank") / F.col("__deg")).cast("decimal(27,12)").alias("__c"),
        )
        ranks = contribs.groupBy("node").agg(
            (
                F.floor(
                    (
                        F.lit(1.0 - damping)
                        + F.lit(damping) * F.sum("__c").cast("double")
                    )
                    * F.lit(1e9)
                    + F.lit(0.5)
                )
                / F.lit(1e9)
            ).alias("rank")
        )
        # localCheckpoint each round (r12, guide §3.3/§7.3): the prior
        # lazy persist kept results cached but NOT the logical plan —
        # every round's broadcast build re-analyzed the whole
        # accumulated tree (supplier_pagerank's final plan formatted to
        # ~1 MB; planning was O(iterations²) driver work). Checkpointing
        # truncates lineage to a leaf per round, one materialization job
        # each — the same job the broadcast build already spent — and
        # the arithmetic (decimal-exact sums, 1e-9 snap) is untouched.
        if i < iterations - 1:
            ranks = ranks.localCheckpoint(eager=True)
            ckpts.append(ranks)
    # The RETURNED ranks are the final eager checkpoint — self-contained
    # (no lineage into the released intermediates, immune to cache
    # eviction/clearCache) and the one live result; callers done with
    # them can free the blocks early via ``release_local_checkpoint``
    # (test_pagerank_releases_intermediate_caches pins this contract).
    # Every intermediate round's blocks are dead once the final
    # checkpoint materializes — release them immediately.
    ranks = ranks.localCheckpoint(eager=True)
    for c in ckpts:
        release_local_checkpoint(c)
    edged.unpersist()
    nodes.unpersist()
    return ranks


def bfs_distances(
    edges: DataFrame, source: int, max_hops: int = 6
) -> DataFrame:
    """Single-source BFS shortest-path distances over a directed edge
    list, bounded at ``max_hops`` — (node, dist) for every node reachable
    from ``source`` within the bound.

    Scale design: level-synchronous frontier expansion — hop h is ONE
    equi-join frontier⋈edges partitioned on the join key (the same plan a
    Pregel superstep lowers to), then an anti-join against the visited
    set so the frontier only carries NEWLY discovered nodes (monotone
    shrink on convergence). localCheckpoint truncates lineage each hop
    (iterative-join rule, same as pagerank above); the per-hop count() is
    the loop-termination check, a bounded driver action. For power-law
    graphs at extreme scale, the visited set is the memory bound — it is
    partitioned by node, never collected.
    """
    spark = edges.sparkSession
    e = edges.select("src", "dst").distinct().persist()
    visited = spark.createDataFrame(
        [(source, 0)], "node bigint, dist int"
    ).localCheckpoint(eager=True)
    frontier = visited
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = (
            nxt.join(visited, "node", "left_anti")
            .withColumn("dist", F.lit(hop))
            .localCheckpoint(eager=True)
        )
        if new.count() == 0:
            break
        visited = visited.unionByName(new).localCheckpoint(eager=True)
        frontier = new
    e.unpersist()
    return visited


def k_core(edges: DataFrame, k: int, max_iter: int = 30) -> DataFrame:
    """The k-core of an undirected graph: the maximal subgraph where
    every node has degree >= k, by iterative peeling — drop all nodes
    with degree < k, recompute degrees on the induced subgraph, repeat
    to fixpoint. Returns (node, degree) inside the core.

    Edges are symmetrized internally (union with the reversed list,
    then distinct), so callers may pass one row per undirected edge OR
    an already-symmetric list — both yield correct undirected degrees.
    If ``max_iter`` rounds pass without a fixpoint, the result is the
    degree->=k slice of the round-``max_iter`` live subgraph (documented
    truncation; the gate oracle mirrors the same round count).

    Scale design: each round is ONE degree aggregate (groupBy src) plus
    two semi-joins filtering the edge list to surviving nodes — all
    partitioned on node/src keys. The edge list shrinks monotonically,
    so later rounds cost less; localCheckpoint truncates lineage per
    round (iterative-join rule). Peeling rounds are bounded by the
    degeneracy ordering depth — tens, not thousands, for real graphs;
    ``max_iter`` is the safety valve. The per-round count() on the
    dropped-node set is the bounded driver action that detects the
    fixpoint."""
    one_way = edges.select("src", "dst")
    sym = (
        one_way.unionByName(
            one_way.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    def _peel(live_df: DataFrame) -> tuple[DataFrame, DataFrame]:
        deg = live_df.groupBy("src").agg(
            F.count(F.lit(1)).alias("degree")
        )
        keep = deg.filter(F.col("degree") >= k).select("src")
        return deg, (
            live_df.join(keep, on="src", how="left_semi").join(
                keep.select(F.col("src").alias("dst")),
                on="dst",
                how="left_semi",
            )
        )

    live = sym.localCheckpoint(eager=True)
    n_prev = live.count()
    stale = None  # checkpoint two generations back — provably dead
    remaining = max_iter
    while remaining > 0:
        # TWO peels share one checkpoint + one count (r12, guide §2.4):
        # at gate sizes the per-round cost is job overhead, not data, so
        # halving the blocking-job count nearly halves the loop
        # (measured 17.2 s -> 9.1 s for the 30-peel customer graph;
        # deeper batching regresses — a 5-peel chained-semi-join plan
        # costs more in planning than it saves in jobs). TOTAL peel
        # count stays exactly ``max_iter``, so the documented truncation
        # semantics (and the 30-round oracle) are unchanged; a fixpoint
        # mid-pair just makes the second peel a no-op.
        nb = min(2, remaining)
        remaining -= nb
        cur = live
        first_deg = None
        for _ in range(nb):
            deg, cur = _peel(cur)
            if first_deg is None:
                first_deg = deg
        nxt = cur.localCheckpoint(eager=True)
        n = nxt.count()
        # fixpoint = no edge dropped across the whole pair, which means
        # every node already had degree >= k at pair start: return those
        # degrees directly.
        if n == n_prev:
            return first_deg.select(F.col("src").alias("node"), "degree")
        # ``first_deg`` (and the possible return above) reads the
        # PAIR-START ``live``, so only the checkpoint TWO generations
        # back is provably dead here (none in the first pair-round)
        if stale is not None:
            release_local_checkpoint(stale)
        stale, live, n_prev = live, nxt, n
    deg = live.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    return deg.filter(F.col("degree") >= k).select(
        F.col("src").alias("node"), "degree"
    )


def link_prediction(
    edges: DataFrame, max_degree: int | None = 64, min_common: int = 2
) -> DataFrame:
    """Common-neighbors + Adamic-Adar link prediction: score unconnected
    node pairs at distance 2 by their shared neighborhood — CN = |N(a) ∩
    N(b)|, AA = Σ_z 1/ln(deg z) over shared neighbors z (Adamic & Adar
    2003; rarer mutual friends weigh more).

    Plan: symmetrize once, one degree aggregate, wedge enumeration via a
    single self-equi-join on the center node, an aggregate per end-pair,
    and an anti-join against existing edges. Wedge fan-out is deg(z)² —
    the classic hub blow-up — so ``max_degree`` drops super-hub centers
    BEFORE the join (the standard exclusion: a celebrity node predicts
    nothing anyway; at 100 TB this cap is what keeps the join linear).
    AA terms grid-snap 1e-9 pre-sum into exact BIGINT accumulation (deg
    z >= 2 for any wedge center, so ln > 0 always).

    Returns (node_a, node_b, common_neighbors, adamic_adar) for pairs
    with CN >= ``min_common``, node_a < node_b."""
    sym = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    centers = deg if max_degree is None else deg.filter(F.col("deg") <= max_degree)
    # wedges: a - z - b with both spokes incident to an allowed center z
    spokes = sym.select(F.col("dst").alias("z"), F.col("src").alias("end")).join(
        F.broadcast(centers.select(F.col("src").alias("z"), "deg")), on="z"
    )
    aa_term = F.floor(
        F.lit(1.0) / F.log(F.col("l.deg").cast("double")) * 1e9 + F.lit(0.5)
    ).cast("decimal(28,0)")
    pairs = (
        spokes.alias("l")
        .join(spokes.alias("r"), on="z")
        .filter(F.col("l.end") < F.col("r.end"))
        .select(
            F.col("l.end").alias("node_a"),
            F.col("r.end").alias("node_b"),
            aa_term.alias("t"),
        )
        .groupBy("node_a", "node_b")
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.sum("t").alias("s_aa"),
        )
        .filter(F.col("common_neighbors") >= min_common)
    )
    existing = sym.select(
        F.col("src").alias("node_a"), F.col("dst").alias("node_b")
    )
    return pairs.join(
        existing, on=["node_a", "node_b"], how="left_anti"
    ).select(
        "node_a",
        "node_b",
        "common_neighbors",
        (F.col("s_aa").cast("double") / 1e9).alias("adamic_adar"),
    )


def label_propagation(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    iterations: int = 5,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007): every node starts as its own label; each round it adopts the
    most frequent label among its neighbors, ties broken by SMALLEST
    label. A FIXED iteration count (synchronous LPA can oscillate on
    bipartite structures) makes the result deterministic and
    engine-reproducible.

    The per-round argmax needs no window: (max count, then min label)
    encodes as one BIGINT ``(C1 − cnt)·C2 + label`` minimized per node —
    exact integer arithmetic, bit-equal across engines (requires
    label < C2 = 1e7; asserted. No degree bound is needed: score
    differences are multiples of C2, so the min picks the right
    (cnt, label) for ANY cnt — C1 only keeps the encoding positive for
    degrees below it, and the argmax is correct regardless). Plan: one
    edge⋈label join + one groupBy per round, lineage truncated per round
    — the same O(rounds) shape as connected_components."""
    C1, C2 = 100_000, 10_000_000
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).filter(F.col("u") != F.col("v")).distinct()
    sym = e.union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)

    labels = (
        sym.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    if labels.agg(F.max("id")).collect()[0][0] >= C2:
        raise ValueError("node ids must be < 1e7 for the argmax encoding")
    prev_ck = labels  # the checkpoint backing ``labels``

    for _ in range(iterations):
        counts = (
            sym.join(labels, sym.v == labels.id)
            .groupBy("u", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        enc = counts.select(
            "u",
            (
                (F.lit(C1) - F.col("cnt")) * F.lit(C2) + F.col("label")
            ).alias("score"),
        )
        labels = (
            enc.groupBy("u")
            .agg(F.min("score").alias("s"))
            .select(
                F.col("u").alias("id"),
                (F.col("s") % F.lit(C2)).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        # the round-start checkpoint is dead once the new one
        # materializes — free its blocks now (release_local_checkpoint)
        release_local_checkpoint(prev_ck)
        prev_ck = labels
    release_local_checkpoint(sym)
    return labels.select(
        F.col("id").alias("node"), F.col("label").alias("community")
    )


def bellman_ford_distances(
    edges: DataFrame, source: int, max_hops: int = 6
) -> DataFrame:
    """Single-source WEIGHTED shortest-path distances (Bellman-Ford,
    ``max_hops`` synchronous relaxation rounds) over a directed edge
    list with a BIGINT ``w`` weight column — the weighted sibling of
    ``bfs_distances`` (hop count is cost there; here each edge carries
    its own cost). Returns (node, dist) = min total weight over all
    paths from ``source`` of at most ``max_hops`` edges; unreachable
    nodes are absent.

    Scale design: each round is ONE equi-join dist⋈edges on the source
    key plus ONE min-aggregate on node — the Pregel superstep plan, all
    shuffles on node keys. localCheckpoint truncates lineage per round
    (iterative-join rule). The round count is FIXED, not converged, so
    the plan is deterministic and the oracle can mirror it exactly: a
    recursive CTE enumerating (node, dist, hop) states with UNION dedup
    and taking min(dist) per node at the end.

    Determinism contract: weights are BIGINTs, so distances are exact
    integer sums — no float exposure anywhere.
    """
    spark = edges.sparkSession
    e = edges.select("src", "dst", "w").distinct().persist()
    dist = spark.createDataFrame(
        [(source, 0)], "node bigint, dist bigint"
    ).localCheckpoint(eager=True)
    for _ in range(max_hops):
        cand = dist.join(e, dist["node"] == e["src"]).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        prev = dist
        dist = (
            dist.unionByName(cand)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
        # the previous round's checkpoint is dead once the new one
        # materializes (the union read it inside that same job)
        release_local_checkpoint(prev)
    e.unpersist()
    return dist


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 6,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg '99), fixed iteration count,
    L1-normalized — pure BIGINT arithmetic so the result is bit-equal
    across engines and an unrolled-CTE oracle can hash-check it.

    Per round: ``a(d) = Σ_{(s,d)∈E} h(s)`` then L1-normalize; ``h(s) =
    Σ_{(s,d)∈E} a(d)`` then L1-normalize. Scores live on a 1e6 integer
    grid; normalization is ``(x·G) DIV Σx`` — exact BIGINT division (a
    double-division floor would lose exactness past 2^53),
    fold-order independent (the L1 sums are BIGINT). Each round is two
    node-keyed join+aggregate pairs (the Pregel superstep plan);
    localCheckpoint truncates lineage per round. Overflow bound: raw sums
    ≤ max_degree·G ≤ 1e5·1e6 = 1e11; ·G = 1e17 < 2^63.

    The L1 totals stay IN-PLAN as broadcast one-row scalars over the
    checkpointed raw aggregates (r12: two fewer driver round-trips per
    iteration — 4 blocking jobs/round → 2; same math bit-for-bit, the
    DIV divisor is a column instead of an inlined literal). On a
    nonempty edge set with < G distinct nodes, mass cannot vanish
    mid-iteration (hubs start at G on every source, so each raw
    aggregate matches every edge and each normalization keeps its max
    entry ≥ G/n > 0) — but past G nodes integer flooring CAN zero every
    score, so each normalization carries an in-plan ``assert_true(t >
    0)`` that raises the 'mass vanished' error at execution instead of
    silently propagating NULL scores (review r12)."""
    G = 1_000_000
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct()
    e = e.localCheckpoint(eager=True)
    if not e.head(1):
        raise ValueError(
            "hits: graph has no edges — HITS is undefined on an empty "
            "link structure"
        )
    hubs = e.select(F.col("s").alias("node")).distinct().withColumn(
        "h", F.lit(G).cast("long")
    )
    auths = None
    prev_a = prev_h = None  # checkpoints backing the live hubs/auths
    for _ in range(iterations):
        # checkpoint the RAW aggregate; the total + normalization ride
        # lazily on top (the broadcast scalar materializes inside the
        # NEXT half-round's checkpoint job — no collect)
        a_raw = (
            e.join(hubs, e["s"] == hubs["node"])
            .groupBy(F.col("d").alias("node"))
            .agg(F.sum("h").alias("raw"))
        ).localCheckpoint(eager=True)
        # the PREVIOUS round's a_raw only fed last round's h_raw, which
        # is materialized — free its blocks now (the final return reads
        # only the LAST round's two checkpoints, which stay live)
        release_local_checkpoint(prev_a)
        prev_a = a_raw
        tot_a = a_raw.agg(F.sum("raw").alias("t"))
        auths = (
            a_raw.crossJoin(F.broadcast(tot_a))
            .filter(
                F.assert_true(
                    F.col("t") > 0,
                    F.lit(
                        "hits: authority mass vanished (integer flooring "
                        "zeroed every score — graph exceeds the 1e6 grid)"
                    ),
                ).isNull()
            )
            .select("node", F.expr(f"(raw * {G}) DIV t").alias("a"))
        )
        h_raw = (
            e.join(auths, e["d"] == auths["node"])
            .groupBy(F.col("s").alias("node"))
            .agg(F.sum("a").alias("raw"))
        ).localCheckpoint(eager=True)
        release_local_checkpoint(prev_h)
        prev_h = h_raw
        tot_h = h_raw.agg(F.sum("raw").alias("t"))
        hubs = (
            h_raw.crossJoin(F.broadcast(tot_h))
            .filter(
                F.assert_true(
                    F.col("t") > 0,
                    F.lit(
                        "hits: hub mass vanished (integer flooring zeroed "
                        "every score — graph exceeds the 1e6 grid)"
                    ),
                ).isNull()
            )
            .select("node", F.expr(f"(raw * {G}) DIV t").alias("h"))
        )
    # the edge checkpoint only fed the loop; the result reads the last
    # round's two checkpoints only
    release_local_checkpoint(e)
    return hubs.join(auths, "node", "full_outer").select(
        "node",
        F.coalesce(F.col("h"), F.lit(0)).alias("hub"),
        F.coalesce(F.col("a"), F.lit(0)).alias("authority"),
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 4,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank: random walk with restart to a SEED set —
    'importance relative to these nodes' (recommendation expansion,
    related-entity discovery), vs plain pagerank's global importance.
    Teleport mass (1−d)/|S| lands only on seeds; nodes keep rank only
    while reachable from the seed frontier.

    ``seeds`` is a one-column (node) DataFrame. Same determinism AND
    cleanup contract as ``pagerank`` (the result is an eager
    localCheckpoint — free it early via
    ``operators.util.release_local_checkpoint``, not ``.unpersist()``):
    per-edge contributions cast to decimal(27,12) before
    the sum (exact, fold-order free), each round snapped to a 1e-9 grid.
    Per round: one join + one keyed aggregate + one outer join with the
    broadcast seed vector."""
    seed_nodes = seeds.select(F.col(seeds.columns[0]).alias("node"))
    n_seeds = seed_nodes.count()
    if n_seeds == 0:
        raise ValueError(
            "personalized_pagerank: empty seed set (teleport mass is "
            "1/|S|) — pass at least one seed node"
        )
    deg = edges.groupBy(src).agg(F.count(F.lit(1)).alias("__deg"))
    edged = edges.join(deg, on=src).persist()
    edged.count()
    teleport = F.lit(1.0 - damping) / F.lit(float(n_seeds))
    ranks = seed_nodes.withColumn(
        "rank", F.lit(1.0) / F.lit(float(n_seeds))
    )
    ckpts: list[DataFrame] = []
    for i in range(iterations):
        contribs = (
            edged.join(ranks, edged[src] == ranks["node"])
            .select(
                F.col(dst).alias("node"),
                (F.col("rank") / F.col("__deg"))
                .cast("decimal(27,12)")
                .alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").cast("double").alias("__m"))
        )
        ranks = (
            contribs.join(
                F.broadcast(seed_nodes.withColumn("__s", F.lit(1))),
                "node",
                "full_outer",
            )
            .select(
                "node",
                (
                    F.floor(
                        (
                            F.when(F.col("__s").isNotNull(), teleport)
                            .otherwise(F.lit(0.0))
                            + F.lit(damping)
                            * F.coalesce(F.col("__m"), F.lit(0.0))
                        )
                        * F.lit(1e9)
                        + F.lit(0.5)
                    )
                    / F.lit(1e9)
                ).alias("rank"),
            )
        )
        # lineage truncation per round — same rationale as ``pagerank``
        if i < iterations - 1:
            ranks = ranks.localCheckpoint(eager=True)
            ckpts.append(ranks)
    # final eager checkpoint + immediate release of the dead
    # intermediates — see ``pagerank`` for the ownership contract
    ranks = ranks.localCheckpoint(eager=True)
    for c in ckpts:
        release_local_checkpoint(c)
    edged.unpersist()
    return ranks


def oriented_triangles(e: DataFrame, deg: DataFrame | None = None) -> DataFrame:
    """Enumerate each triangle of a canonical undirected edge list
    (columns ``a < b``, distinct) EXACTLY once via the degree-ordered
    wedge join (Suri & Vassilvitskii WWW'11): orient every edge from the
    (degree, id)-smaller endpoint to the larger, generate wedges at the
    small endpoint — out-degree O(√m) regardless of hub size — and close
    them against the canonical edge set with one equi-join. Returns
    ``(pivot, u, v)`` where pivot is the (degree, id)-smallest corner
    and u, v its degree-ordered neighbors.

    ``deg`` (node, degree) is computed from ``e`` when not supplied.
    The orientation key is ``degree·2³² + node`` (fits a signed long for
    degree, node < 2³¹ — beyond that, widen to DECIMAL)."""
    if deg is None:
        deg = (
            e.select(F.col("a").alias("node"))
            .unionAll(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
    key = (F.col("degree") * F.lit(1 << 32) + F.col("node")).alias("k")
    dk = deg.select("node", key)
    ek = (
        e.join(dk.withColumnRenamed("node", "a").withColumnRenamed("k", "ka"), "a")
        .join(dk.withColumnRenamed("node", "b").withColumnRenamed("k", "kb"), "b")
    )
    oriented = ek.select(
        F.when(F.col("ka") < F.col("kb"), F.col("a"))
        .otherwise(F.col("b"))
        .alias("lo"),
        F.when(F.col("ka") < F.col("kb"), F.col("b"))
        .otherwise(F.col("a"))
        .alias("hi"),
        F.least("ka", "kb").alias("klo"),
        F.greatest("ka", "kb").alias("khi"),
    )
    w1 = oriented.select(
        F.col("lo").alias("pivot"),
        F.col("hi").alias("u"),
        F.col("khi").alias("ku"),
    )
    w2 = oriented.select(
        F.col("lo").alias("pivot"),
        F.col("hi").alias("v"),
        F.col("khi").alias("kv"),
    )
    wedges = w1.join(w2, "pivot").filter(F.col("ku") < F.col("kv"))
    closing = e.select(F.col("a").alias("ca"), F.col("b").alias("cb"))
    return wedges.join(
        closing,
        (
            (F.least("u", "v") == F.col("ca"))
            & (F.greatest("u", "v") == F.col("cb"))
        ),
    ).select("pivot", "u", "v")


def triangle_clustering(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient via the
    degree-ordered wedge join — the scale path `triangle_counts`'s
    docstring defers to (Suri & Vassilvitskii WWW'11, the
    "curse of the last reducer" fix): orient every undirected edge from
    the (degree, id)-SMALLER endpoint to the larger, so each node's
    out-degree is O(√m) regardless of hub size; wedges are generated at
    the small endpoint and closed against the canonical edge set with
    one equi-join. Exactly two shuffles beyond the degree aggregate;
    never a full neighbor×neighbor explode on a hub.

    Returns (node, degree, n_triangles, clustering) where clustering =
    2·tri / (deg·(deg−1)) — a ratio of identically-derived BIGINTs, so
    it is IEEE-bit-equal across engines with no rounding grid. Self
    loops are dropped; the input may list either or both directions.

    The orientation key is ``degree·2³² + node`` (fits a signed long for
    degree, node < 2³¹ — beyond that, widen to DECIMAL)."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    e = e.localCheckpoint(eager=True)
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tris = oriented_triangles(e, deg)
    per_node = (
        tris.select(F.col("pivot").alias("node"))
        .unionAll(tris.select(F.col("u").alias("node")))
        .unionAll(tris.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                (2 * F.coalesce(F.col("n_triangles"), F.lit(0)))
                / (F.col("degree") * (F.col("degree") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )


def k_truss(
    edges: DataFrame,
    k: int = 4,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-truss peeling (Cohen 2008): repeatedly drop edges supported by
    fewer than k−2 triangles — the edge-grain cohesion complement of
    k-core (node-grain): a k-truss edge's endpoints share ≥ k−2 common
    neighbors INSIDE the subgraph, which filters out the weak bridges
    k-core keeps. ``rounds`` is FIXED (deterministic plan + unrollable
    oracle); each round is one triangle enumeration over the surviving
    edges via the degree-ordered wedge join (``oriented_triangles`` —
    wedge pivots are O(√m) even on hub-skewed graphs; degrees are
    recomputed per round on the shrinking subgraph) + one edge-keyed
    support aggregate, lineage-truncated per round. Triangle SUPPORT is
    orientation-independent, so the DuckDB oracle's id-ordered
    enumeration counts the same triangles and the hash gate pins the
    semantics across the two orderings.

    Returns the surviving canonical edges ``(a, b, support)`` with their
    LAST-round support."""
    if k < 3:
        raise ValueError("k-truss needs k >= 3")
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # orientation order computed ONCE from the INITIAL degrees: triangle
    # uniqueness needs any fixed total order; the O(√m) pivot bound needs
    # degree order, and subgraph degrees only DECREASE under peeling, so
    # the initial order keeps the bound without a per-round degree pass
    deg0 = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint(eager=True)
    )
    # Degree-keyed oriented edges built ONCE (r13, guide §2.4/§3): every
    # round used to re-join the surviving edge set against deg0 twice
    # inside ``oriented_triangles`` just to re-derive the SAME
    # orientation columns — and peeling only ever SHRINKS the edge set,
    # so (lo, hi, khi) per surviving edge never changes. Carrying them
    # through the per-round checkpoint removes two key-attach joins (one
    # exchange each) from every round.
    key = (F.col("degree") * F.lit(1 << 32) + F.col("node")).alias("k")
    dk = deg0.select("node", key)
    ek = (
        e.join(
            dk.withColumnRenamed("node", "a").withColumnRenamed("k", "ka"),
            "a",
        )
        .join(
            dk.withColumnRenamed("node", "b").withColumnRenamed("k", "kb"),
            "b",
        )
        .select(
            "a",
            "b",
            F.when(F.col("ka") < F.col("kb"), F.col("a"))
            .otherwise(F.col("b"))
            .alias("lo"),
            F.when(F.col("ka") < F.col("kb"), F.col("b"))
            .otherwise(F.col("a"))
            .alias("hi"),
            F.greatest("ka", "kb").alias("khi"),
        )
        .localCheckpoint(eager=True)
    )
    # e's canonical edges live on inside ek; deg0 is no longer read
    release_local_checkpoint(e)
    release_local_checkpoint(deg0)
    support = None
    stale = None  # pre-peel ek of the PREVIOUS round — dead once its
    # round's support is superseded
    for _ in range(rounds):
        w1 = ek.select(
            F.col("lo").alias("pivot"),
            F.col("hi").alias("u"),
            F.col("khi").alias("ku"),
        )
        w2 = ek.select(
            F.col("lo").alias("pivot"),
            F.col("hi").alias("v"),
            F.col("khi").alias("kv"),
        )
        wedges = w1.join(w2, "pivot").filter(F.col("ku") < F.col("kv"))
        closing = ek.select(F.col("a").alias("ca"), F.col("b").alias("cb"))
        tri = wedges.join(
            closing,
            (
                (F.least("u", "v") == F.col("ca"))
                & (F.greatest("u", "v") == F.col("cb"))
            ),
        ).select("pivot", "u", "v")
        sides = (
            tri.select(
                F.least("pivot", "u").alias("a"),
                F.greatest("pivot", "u").alias("b"),
            )
            .unionAll(
                tri.select(
                    F.least("pivot", "v").alias("a"),
                    F.greatest("pivot", "v").alias("b"),
                )
            )
            .unionAll(
                tri.select(
                    F.least("u", "v").alias("a"),
                    F.greatest("u", "v").alias("b"),
                )
            )
        )
        support = sides.groupBy("a", "b").agg(
            F.count(F.lit(1)).alias("support")
        )
        nxt = (
            ek.join(support, ["a", "b"])
            .filter(F.col("support") >= k - 2)
            .select("a", "b", "lo", "hi", "khi")
            .localCheckpoint(eager=True)
        )
        # the returned plan re-reads the LAST round's ``support``, whose
        # subtree reads that round's pre-peel ek — so only the ek two
        # generations back is provably dead here (none in the first round)
        if stale is not None:
            release_local_checkpoint(stale)
        stale, ek = ek, nxt
    return ek.join(support, ["a", "b"]).select("a", "b", "support")
