"""Iterative graph algorithms over edge-list DataFrames.

PageRank (Page et al. 1999) is the canonical "joins + aggregations in
a loop" distributed algorithm — the same execution shape as this
repo's k-means (`similarity.kmeans_fit`) and connected components
(`dedup.connected_components`): per iteration, one equi-join of the
rank table against the edge list and one destination-keyed partial
aggregation, plus a 1-row broadcast for the dangling mass. No
vertex-centric framework needed; Catalyst handles it as plain
shuffles, which is exactly how GraphFrames executes it too.

Engine portability: ranks are rounded per iteration (the kmeans
trick), so the whole trajectory is value-checkable against a DuckDB
unrolled-CTE replay despite being float arithmetic.

Fault-tolerance note: the iterative operators here materialize
loop-invariant tables and periodic iterates with ``localCheckpoint``,
whose blocks are NON-replicated executor-local storage — losing an
executor mid-job fails the job (Spark re-runs it from the source on
retry). That is the standard perf/fault-tolerance trade for iterative
lineage truncation; jobs needing checkpoint durability across executor
loss should set a checkpoint dir and use ``checkpoint()`` instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from denormalized_spark.operators._bucketing import bucket_pairs, capped_bucket_collect


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    round_digits: int = 9,
    materialize_every: int | None = 4,
    weight_col: str | None = None,
) -> DataFrame:
    """PageRank over an (src, dst) edge list; returns ``(node, rank)``
    with Σrank = 1 (dangling mass redistributed uniformly, the
    standard formulation). Pass ``weight_col`` (positive edge
    weights, e.g. transition counts) for weighted PageRank: each
    source divides its rank ∝ weight instead of uniformly — the
    out-"degree" becomes the source's weight sum and everything else
    is unchanged.

    Scale shape per iteration: one src-keyed equi-join of the n-row
    rank table against the edge list (both shuffle on the same key, so
    AQE reuses the edge exchange across iterations), one dst-keyed
    partial aggregation of contributions, and a 1-row dangling-mass
    broadcast — web-graph PageRank's textbook Spark plan. The node
    count crosses the driver once (a scalar); ``materialize_every``
    lazily localCheckpoints the rank table every N iterations to keep
    lineage flat on long runs, the same k-rows-of-metadata contract
    kmeans_fit uses.

    Per-iteration ``round_digits`` rounding re-synchronizes every
    engine/partitioning to identical ranks, making the ITERATIVE float
    trajectory oracle-checkable (see queries' graph_pagerank_events).
    """
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"), w.alias("_w")
    )
    # The loop-invariant tables are localCheckpoint-ed ONCE: every
    # iteration (and every post-materialize_every segment) re-embeds
    # their subtrees, so an unmaterialized edge stream — e.g. the
    # tokenize+explode graph build of textrank — would be re-planned
    # per round at build and re-executed per checkpoint segment at
    # runtime (measured on text_textrank_keywords: build 11.2 s,
    # noop 4-5 s before; the checkpoint cuts both).
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()  # one scalar to the driver; materializes nodes
    outdeg = e.groupBy("src").agg(F.sum("_w").alias("outdeg"))
    ew = e.join(outdeg, "src").localCheckpoint(eager=False)
    dangling_nodes = nodes.join(
        outdeg.select(F.col("src").alias("node")), "node", "left_anti"
    ).localCheckpoint(eager=False)
    ranks = nodes.withColumn("rank", F.lit(1.0) / F.lit(float(n)))
    for i in range(iterations):
        contribs = (
            ew.join(ranks, ew.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("_w") / F.col("outdeg")).alias("_s"))
        )
        dang = dangling_nodes.join(ranks, "node").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dang")
        )
        ranks = (
            nodes.join(contribs, nodes.node == contribs.dst, "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                F.round(
                    F.lit(damping_complement(damping)) / F.lit(float(n))
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("_s"), F.lit(0.0))
                        + F.col("_dang") / F.lit(float(n))
                    ),
                    round_digits,
                ).alias("rank"),
            )
        )
        if materialize_every and (i + 1) % materialize_every == 0:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def damping_complement(damping: float) -> float:
    """1 − damping as the double a SQL literal would parse to: plain
    ``1.0 - 0.85`` is 0.15000000000000002 in binary while an oracle's
    ``0.15`` literal is double(0.15) — the decimal re-round makes both
    engines hold the identical constant."""
    return float(round(1.0 - damping, 10))


def hits(
    edges: DataFrame,
    iterations: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    round_digits: int = 9,
    materialize_every: int | None = 4,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over an (src, dst)
    edge list; returns ``(node, hub, auth)``, each score L1-normalized
    per iteration (the classic presentation normalizes L2; L1 gives
    identical rankings and keeps the normalizer a plain sum — exactly
    the 1-row metadata aggregate the oracle can replay).

    Same execution shape as :func:`pagerank`: each half-step is one
    edge-keyed equi-join + one keyed partial aggregation, plus a
    1-row norm broadcast; per-iteration rounding keeps the float
    trajectory engine-portable. Use on the link graph the reference's
    event-transition matrix induces: hubs = types that lead
    everywhere, authorities = types everything leads to."""
    # Loop-invariant e/nodes checkpointed once — each _half joins
    # against both, so an unmaterialized edge subtree re-executes
    # 2x per iteration (measured on graph_hits_events: noop 7-10 s
    # before, dominated by re-deriving the transition edges).
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    hub = nodes.withColumn("hub", F.lit(1.0))

    def _half(scores, score_col, join_on, out_key, out_col):
        raw = (
            e.join(scores, F.col(join_on) == scores.node)
            .groupBy(out_key)
            .agg(F.sum(score_col).alias("_raw"))
        )
        norm = raw.agg(F.sum("_raw").alias("_norm"))
        return (
            nodes.join(raw, nodes.node == F.col(out_key), "left")
            .crossJoin(F.broadcast(norm))
            .select(
                "node",
                F.round(
                    F.coalesce(F.col("_raw"), F.lit(0.0)) / F.col("_norm"),
                    round_digits,
                ).alias(out_col),
            )
        )

    auth = None
    for i in range(iterations):
        auth = _half(hub, "hub", "src", "dst", "auth")
        hub = _half(auth, "auth", "dst", "src", "hub")
        if materialize_every and (i + 1) % materialize_every == 0:
            auth = auth.localCheckpoint(eager=False)
            hub = hub.localCheckpoint(eager=False)
    if auth is None:  # iterations == 0
        auth = nodes.withColumn("auth", F.lit(1.0))
    return hub.join(auth, "node").select("node", "hub", "auth")


def covisitation_edges(
    df: DataFrame,
    user_col: str,
    item_col: str,
    max_users_per_item: int | None = 64,
) -> DataFrame:
    """Project a bipartite (user, item) interaction stream onto the
    user–user co-visitation graph: an undirected edge ``(u, v)``,
    ``u < v``, whenever two users touched the same item. The standard
    first step of interaction-graph analytics (communities, triangle
    cohesion, recommendation neighborhoods).

    Scale shape — the repo's bucket-cap contract
    (operators/_bucketing.py): distinct (item, user) first (corpus →
    one keyed dedup), then per-item bucket-collect with
    ``max_users_per_item`` dropping degenerate items WHOLE (an item
    every user touched is not co-visitation evidence — same reasoning
    as an over-cap LSH bucket; oracles mirror with HAVING BETWEEN).
    Pair fan-out is therefore ≤ cap²/2 per item, never
    corpus-quadratic. Output edges are distinct."""
    iu = df.select(F.col(item_col).alias("_it"), F.col(user_col).alias("_u")).distinct()
    buckets = capped_bucket_collect(
        iu, ["_it"], F.col("_u"), "_us", max_users_per_item
    )
    pair_arrays = bucket_pairs(
        F.col("_us"), lambda x, y: F.struct(x.alias("u"), y.alias("v"))
    )
    return (
        buckets.select(F.explode(pair_arrays).alias("_p"))
        .select("_p.u", "_p.v")
        .distinct()
    )


def triangle_stats(edges: DataFrame, u_col: str = "u", v_col: str = "v") -> DataFrame:
    """Global triangle census of an undirected graph given as distinct
    ``u < v`` edges: one row ``(n_nodes, n_edges, n_wedges,
    n_triangles, clustering_micro)`` where ``n_wedges`` = Σ C(deg,2)
    (paths of length 2) and ``clustering_micro`` is the global
    clustering coefficient 3·triangles/wedges on the micro grid — the
    graph-cohesion summary (social graphs ≫ random graphs here).

    Algorithm — degree-ordered orientation (node-iterator++ /
    Suri & Vassilvitskii 2011, the MapReduce-standard form): orient
    every edge from the (degree, id)-SMALLER endpoint to the larger,
    so each triangle is counted exactly once from its lowest-degree
    corner and per-node oriented out-degree is O(√m) on any graph —
    the skew bound that makes the wedge join safe on power-law
    graphs (a celebrity node generates wedges only from its LOW-degree
    neighbors, never deg² of its own).

    Plan: degree table (one edge-keyed agg over the exploded
    endpoints), two broadcast-friendly equi-joins to attach endpoint
    degrees, the wedge self-join keyed on the oriented source, and a
    semi-join of wedges against oriented edges — all equi-joins,
    integer-exact, no BNLJ anywhere. Output is 1-row metadata."""
    e = edges.select(F.col(u_col).alias("u"), F.col(v_col).alias("v"))
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    ed = (
        e.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
    )
    # orient low → high by (degree, id): src precedes dst
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("du")).otherwise(F.col("dv")).alias("ds"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dd"),
    )
    w1 = oriented.select(F.col("src"), F.col("dst").alias("b"),
                         F.col("dd").alias("db"))
    w2 = oriented.select(F.col("src"), F.col("dst").alias("c"),
                         F.col("dd").alias("dc"))
    # wedge (b, c) from shared low corner src, ordered by the SAME
    # (degree, id) total order the orientation used, so the closing
    # edge is oriented b→c and the semi-join below finds it
    wedges = w1.join(w2, "src").filter(
        (F.col("db") < F.col("dc"))
        | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
    )
    tri = wedges.join(
        oriented.select(F.col("src").alias("b"), F.col("dst").alias("c")),
        ["b", "c"],
        "left_semi",
    ).agg(F.count("*").alias("n_triangles"))
    base = deg.agg(
        F.count("*").alias("n_nodes"),
        F.expr("sum(d * (d - 1)) div 2").alias("n_wedges"),
    )
    ne = e.agg(F.count("*").alias("n_edges"))
    return (
        base.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.floor(
                    F.lit(3.0)
                    * F.col("n_triangles").cast("double")
                    / F.col("n_wedges").cast("double")
                    * 1_000_000
                    + F.lit(0.5)
                ).cast("long"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("clustering_micro"),
        )
    )


def _degrees(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("d"))
    )


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int | None = None,
    max_iter: int = 100,
) -> DataFrame:
    """k-core of an undirected graph (Seidman 1983; distributed
    peeling per Montresor, De Pellegrini & Miorandi 2013): repeatedly
    delete nodes with degree < k until none remain; the survivors are
    the maximal subgraph where every node keeps ≥ k neighbors — the
    standard cohesion filter (spam rings, dense communities, "core"
    users) that a plain degree threshold gets wrong because removing
    a low-degree node can expose its neighbors.

    ``edges`` are distinct ``u < v`` rows. ``rounds`` runs a FIXED
    number of peel passes (exact k-core whenever the graph's peel
    depth is below it — oracle-replayable as unrolled CTEs; callers
    should verify convergence at their scale); ``rounds=None``
    iterates to the true fixpoint with a driver-side count probe per
    pass — the production mode. EVERY pass materializes via
    localCheckpoint in both modes: one pass consumes its predecessor
    three times (the degree union reads it twice, the anti-join
    once), so an unmaterialized unroll re-executes the base ~3^rounds
    times — measured pathological at 8 rounds even on 10k edges.
    Materialize-per-round is how iterative graph passes run at scale
    (the connected_components posture).

    Every pass is: one edge-keyed degree agg + two anti-joins against
    the (small) victim set — corpus-linear, no pair blowup; peel
    depth on real graphs is tens of passes. Returns the surviving
    ``(n, core_degree)`` nodes."""
    if k < 1:
        raise ValueError(f"kcore_peel: k must be >= 1, got {k}")

    def peel_once(e: DataFrame) -> DataFrame:
        low = _degrees(e).filter(F.col("d") < k).select("n")
        return e.join(
            low.withColumnRenamed("n", "u"), "u", "left_anti"
        ).join(low.withColumnRenamed("n", "v"), "v", "left_anti")

    e = edges.select("u", "v").localCheckpoint()
    first = e
    if rounds is not None:
        for _ in range(int(rounds)):
            nxt = peel_once(e).localCheckpoint()
            # release the superseded generation: each round's blocks
            # are dead weight once the next is materialized, and six
            # pinned 10M-edge generations were measured to double the
            # peel wall through storage eviction + GC pressure
            if e is not first:
                e.unpersist()
            e = nxt
    else:
        prev = e.count()
        for _ in range(max_iter):
            nxt = peel_once(e).localCheckpoint()
            if e is not first:
                e.unpersist()
            e = nxt
            cur = e.count()
            if cur == prev:
                break
            prev = cur
    return _degrees(e).filter(F.col("d") >= k).select(
        "n", F.col("d").alias("core_degree")
    )


def item_cf_similarity(
    df: DataFrame,
    user_col: str,
    item_col: str,
    max_items_per_user: int | None = 64,
    min_cocount: int = 2,
) -> DataFrame:
    """Item-item collaborative-filtering similarity (Sarwar, Karypis,
    Konstan & Riedl 2001): cosine over binary user-interaction
    vectors, cos(a, b) = |U_a ∩ U_b| / √|U_a|·√|U_b| — the
    "customers who touched this also touched" primitive behind
    item-to-item recommenders, computable without ever materializing
    the user×item matrix.

    Scale shape — the repo bucket-cap contract: distinct (user, item)
    first, per-USER capped bucket-collect (a user who touched
    everything is not co-interaction evidence — over-cap users drop
    WHOLE, HAVING-mirrored by oracles), pair fan-out ≤ cap²/2 per
    user, then ONE pair-keyed count shuffle. ``min_cocount`` kills
    the singleton pair tail at the reducer. Frequencies join back
    item-keyed; the cosine is one integer co-count over a pinned
    √·√ product, milli-floored. Returns
    ``(item_a, item_b, cocount, n_a, n_b, cosine_milli)``."""
    iu = df.select(
        F.col(user_col).alias("_u"), F.col(item_col).alias("_it")
    ).distinct()
    freqs = iu.groupBy(F.col("_it")).agg(F.count("*").cast("long").alias("_f"))
    buckets = capped_bucket_collect(
        iu, ["_u"], F.col("_it"), "_its", max_items_per_user
    )
    pair_arrays = bucket_pairs(
        F.col("_its"), lambda x, y: F.struct(x.alias("item_a"), y.alias("item_b"))
    )
    pairs = (
        buckets.select(F.explode(pair_arrays).alias("_p"))
        .select("_p.item_a", "_p.item_b")
        .groupBy("item_a", "item_b")
        .agg(F.count("*").cast("long").alias("cocount"))
        .filter(F.col("cocount") >= int(min_cocount))
    )
    out = (
        pairs.join(
            freqs.select(F.col("_it").alias("item_a"), F.col("_f").alias("n_a")),
            "item_a",
        )
        .join(
            freqs.select(F.col("_it").alias("item_b"), F.col("_f").alias("n_b")),
            "item_b",
        )
        .select(
            "item_a",
            "item_b",
            "cocount",
            "n_a",
            "n_b",
            F.floor(
                F.col("cocount").cast("double")
                / (
                    F.sqrt(F.col("n_a").cast("double"))
                    * F.sqrt(F.col("n_b").cast("double"))
                )
                * 1000
                + F.lit(0.5)
            ).cast("long").alias("cosine_milli"),
        )
    )
    return out


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    u_col: str = "u",
    v_col: str = "v",
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan,
    Albert & Kumara 2007) over a distinct undirected ``u < v`` edge
    list: every node starts labeled with its own id; each round every
    node simultaneously adopts the most frequent label among its
    neighbors AND itself (the self-vote is the standard damping that
    keeps the synchronous schedule from oscillating on bipartite
    pieces), ties broken toward the SMALLEST label — a pinned total
    order, so the whole trajectory is deterministic and replayable as
    unrolled CTEs by an oracle. Runs a FIXED number of rounds (the
    kcore_peel posture: exact whenever the propagation stabilizes
    within them; callers verify convergence at their scale).

    Scale shape per round: one node-keyed equi-join of the label
    table against the (both-directions) edge list, one (node, label)
    partial-aggregated count, and one node-keyed argmax window —
    all shuffles on the node key, no pair blowup, no driver loops
    over data. EVERY round localCheckpoints its label table (the
    measured ~3^rounds re-execution hazard of unmaterialized
    iterative plans — see kcore_peel) and unpersists the superseded
    generation. Returns ``(n, label)`` — nodes sharing a label after
    the last round are one community."""
    from pyspark.sql import Window

    if rounds < 1:
        raise ValueError(f"label_propagation: rounds must be >= 1, got {rounds}")
    both = (
        edges.select(F.col(u_col).alias("s"), F.col(v_col).alias("t"))
        .unionAll(edges.select(F.col(v_col).alias("s"), F.col(u_col).alias("t")))
        .localCheckpoint()
    )
    labels = (
        both.select(F.col("s").alias("n"))
        .distinct()
        .select("n", F.col("n").alias("label"))
        .localCheckpoint()
    )
    first = labels
    w = Window.partitionBy("n").orderBy(F.desc("cnt"), F.asc("label"))
    for _ in range(int(rounds)):
        nbr = both.join(
            labels.withColumnRenamed("n", "s"), "s"
        ).select(F.col("t").alias("n"), "label")
        votes = (
            nbr.unionAll(labels.select("n", "label"))
            .groupBy("n", "label")
            .agg(F.count("*").cast("long").alias("cnt"))
        )
        nxt = (
            votes.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1)
            .select("n", "label")
            .localCheckpoint()
        )
        if labels is not first:
            labels.unpersist()
        labels = nxt
    return labels


def link_prediction_scores(
    edges: DataFrame,
    max_degree: int | None = 32,
    min_common: int = 2,
    top_k: int = 50,
    u_col: str = "u",
    v_col: str = "v",
) -> DataFrame:
    """Neighborhood-based link prediction (Liben-Nowell & Kleinberg
    2003) over a distinct undirected ``u < v`` edge list: score every
    NON-edge pair at distance 2 by common-neighbor count, Jaccard of
    neighborhoods, and preferential attachment — the classic "people
    you may know" / co-purchase-recommendation shortlist.

    Scale shape — the wedge join is the quadratic hazard, bounded the
    covisitation way: nodes with degree > ``max_degree`` drop WHOLE
    before wedging (a hub's wedges are popularity noise, not link
    evidence — the same reasoning as an over-cap LSH bucket; oracles
    mirror the cap), so fan-out is ≤ max_degree² per node, never
    graph-quadratic. One degree agg, one shared-node self-join, one
    pair-keyed count, an anti join against existing edges, two
    degree lookups (broadcast-sized after the cap), TakeOrdered
    top-k. All integer except the one milli-floored Jaccard division.
    Returns ``(u, v, common_neighbors, jaccard_milli,
    pref_attachment)`` ordered (cn desc, u, v)."""
    e = edges.select(F.col(u_col).alias("u"), F.col(v_col).alias("v"))
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("d"))
    )
    keep = deg if max_degree is None else deg.filter(F.col("d") <= max_degree)
    adj = (
        e.select(F.col("u").alias("s"), F.col("v").alias("t"))
        .unionAll(e.select(F.col("v").alias("s"), F.col("u").alias("t")))
        .join(keep.select(F.col("n").alias("s")), "s")
        .join(keep.select(F.col("n").alias("t")), "t")
    )
    a = adj.select(F.col("t").alias("x"), F.col("s").alias("p"))
    b = adj.select(F.col("t").alias("x"), F.col("s").alias("q"))
    wedges = (
        a.join(b, "x")
        .filter(F.col("p") < F.col("q"))
        .groupBy(F.col("p").alias("u"), F.col("q").alias("v"))
        .agg(F.count("*").cast("long").alias("common_neighbors"))
        .filter(F.col("common_neighbors") >= min_common)
    )
    non_edges = wedges.join(e, ["u", "v"], "left_anti")
    du = keep.select(F.col("n").alias("u"), F.col("d").alias("_du"))
    dv = keep.select(F.col("n").alias("v"), F.col("d").alias("_dv"))
    scored = (
        non_edges.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            "u",
            "v",
            "common_neighbors",
            F.floor(
                (F.col("common_neighbors") * 1000).cast("double")
                / (F.col("_du") + F.col("_dv") - F.col("common_neighbors")).cast(
                    "double"
                )
            ).cast("long").alias("jaccard_milli"),
            (F.col("_du") * F.col("_dv")).cast("long").alias("pref_attachment"),
        )
    )
    return scored.orderBy(
        F.desc("common_neighbors"), F.asc("u"), F.asc("v")
    ).limit(top_k)


def degree_assortativity(
    edges: DataFrame, u_col: str = "u", v_col: str = "v"
) -> DataFrame:
    """Degree assortativity of an undirected graph (Newman 2002,
    "Assortative mixing in networks"): the Pearson correlation of the
    end-degrees over edges — positive in social graphs (hubs befriend
    hubs), negative in hub-and-spoke interaction graphs. Using the
    symmetric per-edge form over M edges (each edge contributes both
    end orderings):

        r = (Σjk/M − (Σ(j+k)/2M)²) / (Σ(j²+k²)/2M − (Σ(j+k)/2M)²)

    Engine-exact: degrees are exact longs (bounded by the bucket cap
    upstream), all five sums are exact integer aggregations, r is one
    fixed-order IEEE expression micro-floored; degenerate variance
    (regular graph) pins r to 0.

    Scale shape: one degree aggregation (2 stubs per edge, keyed), two
    node-keyed joins back to the edge list, one 1-row moment agg —
    the same shapes as triangle_stats without the wedge join. Returns
    ``(n_nodes, n_edges, assortativity_micro)``."""
    deg = _degrees(edges.select(F.col(u_col).alias("u"), F.col(v_col).alias("v")))
    ed = (
        edges.select(F.col(u_col).alias("u"), F.col(v_col).alias("v"))
        .join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
    )
    mom = ed.agg(
        F.count("*").cast("long").alias("m"),
        F.sum(F.col("du") * F.col("dv")).cast("long").alias("_sjk"),
        F.sum(F.col("du") + F.col("dv")).cast("long").alias("_ssum"),
        F.sum(F.col("du") * F.col("du") + F.col("dv") * F.col("dv"))
        .cast("long").alias("_ssq"),
    )
    nodes = deg.agg(F.count("*").cast("long").alias("n_nodes"))
    mean_half = F.col("_ssum").cast("double") / (
        F.lit(2.0) * F.col("m").cast("double")
    )
    num = F.col("_sjk").cast("double") / F.col("m").cast("double") - mean_half * mean_half
    den = (
        F.col("_ssq").cast("double") / (F.lit(2.0) * F.col("m").cast("double"))
        - mean_half * mean_half
    )
    return (
        mom.crossJoin(F.broadcast(nodes))
        .select(
            "n_nodes",
            F.col("m").alias("n_edges"),
            F.when(
                (F.col("m") > 0) & (den > 0),
                F.floor(num / den * F.lit(1_000_000.0) + F.lit(0.5)).cast("long"),
            ).otherwise(F.lit(0).cast("long")).alias("assortativity_micro"),
        )
    )
