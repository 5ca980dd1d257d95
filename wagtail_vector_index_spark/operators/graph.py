"""Iterative graph analytics as DataFrame loops (EXT).

PageRank (Brin & Page 1998) joins :func:`~wagtail_vector_index_spark.
operators.dedup.connected_components` as the second iterative graph
operator: each round is two declarative stages (contribution join +
per-destination sum), so the whole computation is shuffle-on-node-key
work a cluster scales horizontally — no driver-side graph state, no
collect. Fixed iteration count keeps it exactly replayable by a chained
CTE oracle (the same technique as the Lloyd-training replay in
ann_recall_ivf_learned); per-round rounding (``round_decimals``) is the
cross-engine determinism pin for the order-dependent float sums.

Simplified update (dangling mass dropped, documented):
    pr_{i+1}(v) = (1 - d) / N + d * sum_{u->v} pr_i(u) / outdeg(u)
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_BCAST_CAP_CONF = "spark.wvi.graph.broadcastMaxRows"
_BCAST_CAP_DEFAULT = 8_000_000


def _honor_broadcast_declaration(spark, n_rows, *, what: str) -> bool:
    """Size-guard for the loop operators' broadcast declarations
    (``broadcast_ranks`` / ``broadcast_scores`` / ``broadcast_filter``
    / ``broadcast_labels`` / the personalized-teleport seed join; r13).

    Each declaration is a caller statement that the node-grain side is
    far smaller than the edge side. Honoring it blindly turns a
    mis-declared huge node set into a broadcast OOM instead of a slow
    plan; this gate makes the declaration safe: ONE bounded probe per
    operator call (a row count the operator already has, or computes
    over an already-materialized frame — never per round; node sets
    only shrink or stay node-grain inside the loops, so a pre-loop
    bound stays valid every round). Above the cap the operator falls
    back to the shuffled shape with a warning instead of OOMing.

    The cap counts ROWS, not bytes: these frames are 1-2 longs + a
    double wide, so the default 8M rows builds <= ~1 GB of hash
    relation per executor — far under Spark's 512M-row / 8 GB
    broadcast hard cap, and far above any graph for which the
    node << edge declaration is actually true. Tune (or disable the
    probe with a value <= 0) via ``spark.wvi.graph.broadcastMaxRows``.
    """
    cap = int(spark.conf.get(_BCAST_CAP_CONF, str(_BCAST_CAP_DEFAULT)))
    if cap <= 0:
        return True
    if int(n_rows) <= cap:
        return True
    warnings.warn(
        f"{what}: node-grain side has {int(n_rows)} rows, above "
        f"{_BCAST_CAP_CONF}={cap}; ignoring the broadcast declaration "
        "and falling back to the shuffled shape",
        RuntimeWarning,
        stacklevel=3,
    )
    return False


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
    round_decimals: int | None = None,
    dangling: str = "drop",
    mass_round_decimals: int = 6,
    teleport: DataFrame | None = None,
    broadcast_ranks: bool = False,
) -> DataFrame:
    """PageRank over a directed edge list; returns (node, pr).

    ``teleport`` (optional) switches to PERSONALIZED PageRank (Page et
    al. 1999 §6; the graph-proximity ranking behind related-item and
    seed-expansion retrieval): a 1-column ``node`` frame of seed
    nodes. The teleport vector puts mass 1/|seeds| on each seed and 0
    elsewhere — both the initial ranks and the per-round restart term
    use it, so rank concentrates in the seeds' neighborhoods instead
    of spreading uniformly. Seeds are folded into the node frame as a
    column ONCE (one broadcast join before the loop); the per-round
    plan is unchanged. Only ``dangling="drop"`` composes with
    personalization here (redistributing sink mass to the teleport
    set is a one-line extension nobody has asked for yet).

    Nodes are the union of sources and destinations. Sink nodes (no
    out-edges) keep receiving rank but redistribute none; what happens
    to their mass is ``dangling``:

    - ``"drop"`` (default): the mass decays — the simple variant the
      ``graph_pagerank`` oracle replays; rank sums total < 1.
    - ``"redistribute"``: the textbook variant — each round adds the
      total dangling mass back uniformly
      (``pr += d * m_i / N`` where ``m_i = sum of sink ranks``), so
      ranks stay a probability distribution. Costs one extra tiny agg
      per round: the sink-mass sum is an anti-join of the rank table
      against the (broadcastable, distinct-source) out-degree keys,
      aggregated to one row and broadcast into the update.
      When rounds are pinned (``round_decimals`` set), the sink-mass
      SUM is additionally rounded to ``mass_round_decimals`` (default
      6) before entering the update: an ~N-term float sum is
      order-dependent across engines, and the coarser mass pin leaves
      orders of magnitude of margin over the summation error while
      staying exactly replayable. Any oracle replaying the recurrence
      must use the SAME two precisions (``_pagerank_oracle`` in
      queries_relational.py takes them as paired parameters so the
      two sides cannot drift).

    Round structure (r5, measured best-of-5 at sf0.1: 6.1s -> 4.1s):

    - the edge frame is hash-partitioned by source ONCE and
      localCheckpointed; LogicalRDD preserves the HashPartitioning, so
      every round's contribution join shuffles only the (small) rank
      table to the edges' layout — the edge list, the 100 TB side,
      never moves again. (On a real cluster with unreliable executors,
      set a checkpoint dir and swap in ``checkpoint()``.) Per-round
      rank checkpoints were measured ~2x SLOWER (materialization jobs
      dominate these small frames) — rounds stay one lazy DAG.
    - out-degrees are folded into the partitioned edge frame up front,
      removing one join per round.
    - the node count is a driver scalar (one count job), removing the
      per-round broadcast crossJoin of a 1-row total.
    """
    if dangling not in ("drop", "redistribute"):
        raise ValueError(f"unknown dangling policy {dangling!r}")
    if teleport is not None and dangling != "drop":
        raise ValueError("teleport composes only with dangling='drop'")
    d = float(damping)
    # Normalize the input to reserved internal names first: the caller's
    # edge frame may carry columns named node/pr/__deg (or dst='node'),
    # which would make the per-round joins ambiguous.
    edges = edges.select(
        F.col(src).alias("__e_src"), F.col(dst).alias("__e_dst")
    )
    edges = edges.repartition("__e_src").localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("__e_src").alias("node"))
        .unionByName(edges.select(F.col("__e_dst").alias("node")))
        .distinct()
    )
    outdeg = edges.groupBy("__e_src").agg(
        F.count(F.lit(1)).cast("double").alias("__deg")
    )
    edges = edges.join(outdeg, "__e_src")
    # r12: materialize the DEGREE-ANNOTATED frame too. The agg and
    # the join are exchange-free over the src-partitioned blocks,
    # but left lazy they re-ran INSIDE EVERY ROUND's plan — five
    # full passes over the edge frame (the 100 TB side) that the
    # docstring's "folded in up front" always intended to pay once.
    # Same for the node roster: its union+distinct subtree is
    # referenced by every round's update (and ReuseExchange stops
    # deduplicating it once mid-loop checkpoints split the plan).
    # LogicalRDD preserves the HashPartitioning either way.
    edges = edges.localCheckpoint(eager=True)
    nodes = nodes.localCheckpoint(eager=True)
    src_keys = edges.select(F.col("__e_src").alias("node")).distinct()
    n = float(nodes.count())
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("pr"))
    # r13 size guard: the roster count above is the node-grain bound for
    # every per-round frame the declaration broadcasts (ranks and the
    # per-destination sums are both at most node-grain) — honoring the
    # declaration is gated on it at zero extra cost.
    broadcast_ranks = _honor_broadcast_declaration(
        edges.sparkSession, n, what="pagerank(broadcast_ranks)"
    ) if broadcast_ranks else False
    if teleport is not None:
        seeds = teleport.select(F.col("node")).distinct()
        ns = float(seeds.count())
        if ns == 0:
            raise ValueError("teleport frame has no nodes")
        # one broadcast join annotates the node frame with its teleport
        # weight; measured round-loop cost is identical to the uniform
        # variant (the per-round plan shape is unchanged). The broadcast
        # hint is size-guarded on the seed count already in hand (r13).
        seed_side = seeds.withColumn("__is_seed", F.lit(True))
        if _honor_broadcast_declaration(
            edges.sparkSession, ns, what="pagerank(teleport seed join)"
        ):
            seed_side = F.broadcast(seed_side)
        nodes = nodes.join(
            seed_side,
            "node",
            "left",
        ).select(
            "node",
            F.when(F.col("__is_seed"), F.lit(1.0 / ns))
            .otherwise(F.lit(0.0))
            .alias("__tele"),
        )
        # r12: materialize the ANNOTATED roster. Left lazy, the
        # broadcast join + teleport projection re-ran inside every
        # round's base join (the same per-round re-derivation the
        # degree-annotated edge frame fix removed); the frame is
        # (node, double) — tiny at any scale. Measured sf0.1:
        # seeded 7.9s -> ~5s, closing most of its gap over the
        # uniform variant (4.7s).
        nodes = nodes.localCheckpoint(eager=True)
        restart = F.lit(1.0 - d) * F.col("__tele")
        ranks = nodes.select("node", F.col("__tele").alias("pr"))
    else:
        restart = F.lit((1.0 - d) / n)
        ranks = nodes.select("node", F.lit(1.0 / n).alias("pr"))
    for i in range(int(iterations)):
        # broadcast_ranks=True: declare the node set small enough to
        # broadcast — the contribution join goes map-side, so the only
        # exchange per round is the per-destination sum (the same
        # lever as hits(broadcast_scores=True); use when nodes are far
        # fewer than edges, never when the node set rivals executor
        # memory).
        rside = F.broadcast(ranks) if broadcast_ranks else ranks
        contrib = edges.join(
            rside, edges["__e_src"] == rside["node"]
        ).select(
            F.col("__e_dst").alias("node"),
            (F.col("pr") / F.col("__deg")).alias("__c"),
        )
        summed = contrib.groupBy("node").agg(F.sum("__c").alias("__s"))
        # broadcast_ranks declares the node set broadcast-sized, and
        # `summed` is at most node-sized — but it hangs off a
        # localCheckpoint, whose missing stats (default sizeInBytes)
        # make the planner sort-merge the base join every round: one
        # exchange + sort of the roster per round that the hint
        # removes (r12: 5 SMJ -> 5 BHJ in the executed plan).
        base = nodes.join(
            F.broadcast(summed) if broadcast_ranks else summed,
            "node",
            "left",
        )
        extra = F.lit(0.0)
        if dangling == "redistribute":
            # sink mass = rank held by nodes with no out-edges; one
            # 1-row agg broadcast into the update, rounded to
            # mass_round_decimals when rounds are pinned (see above).
            m = (
                ranks.join(src_keys, "node", "left_anti")
                .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("__m"))
            )
            if round_decimals is not None:
                m = m.select(
                    F.round("__m", int(mass_round_decimals)).alias("__m")
                )
            base = base.crossJoin(F.broadcast(m))
            extra = F.col("__m") / F.lit(n)
        pr = restart + F.lit(d) * (
            F.coalesce(F.col("__s"), F.lit(0.0)) + extra
        )
        if round_decimals is not None:
            pr = F.round(pr, round_decimals)
        ranks = base.select("node", pr.alias("pr"))
        if dangling == "redistribute" and (i + 1) % 4 == 0 and i + 1 < iterations:
            # the sink-mass agg references `ranks` a second time, so
            # the lazy plan TREE doubles per round; a checkpoint every
            # 4 rounds bounds the growth at 2^4 subtree copies. r6
            # measured the "clean" alternative — eagerly checkpointing
            # `summed` EVERY round, which makes the tree linear — at
            # 11.2s vs 7.4s for this bounded-lazy form (sf0.1, same
            # session): per-round materialization jobs dominate these
            # small frames, exactly as the r5 per-round rank
            # checkpoints did, while the duplicated lazy subtrees are
            # deduplicated at execution by ReuseExchange (the cost is
            # plan-analysis size, bounded by the cadence). The lazy
            # form with a bounded cadence is the keeper.
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def triangle_counts(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over an undirected edge list; returns
    (node, n_tri) for every node in at least one triangle.

    Degree-ordered enumeration (Suri & Vassilvitskii WWW'11, the
    MapReduce "compact-forward" shape): orient every edge from its
    lower-(degree, id) endpoint to the higher, enumerate wedges only
    between each pivot's OUT-neighbors, and close them against the
    canonical edge set. Each triangle is generated exactly once, at
    its minimum-rank vertex, and per-pivot wedge work is outdeg² with
    outdeg <= O(sqrt(m)) under degree orientation — the bound that
    keeps a power-law graph's hub nodes from exploding the wedge join
    (id-ordered orientation would put deg(hub)² wedges on every hub).
    Three shuffles total: degree agg, wedge self-join on the pivot,
    closing join on the wedge pair. Pure integer math — an oracle can
    replay counts with the naive id-ordered enumeration and match
    exactly."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        # lazy lineage cut (r12): the canonical edge set feeds THREE
        # consumers (degree agg, the rank join, the closing join), so
        # without it the caller's edge-building pipeline — often a
        # co-occurrence self-join — re-ran per consumer; blocks
        # materialize once in the first action (same pattern as
        # dbscan_cosine's pair frame)
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ranked = e.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        # lazy cut: both sides of the wedge self-join read this frame —
        # one materialization instead of re-running the two degree joins
    ).localCheckpoint(eager=False)
    o1 = oriented.select("s", F.col("t").alias("a"))
    o2 = oriented.select("s", F.col("t").alias("b"))
    wedges = o1.join(o2, "s").where(F.col("a") < F.col("b"))
    tri = wedges.join(
        e,
        (F.col("a") == F.col("u")) & (F.col("b") == F.col("v")),
    ).select("s", "a", "b")
    member = tri.select(F.explode(F.array("s", "a", "b")).alias("node"))
    return member.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))


def kcore(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    k: int = 2,
    rounds: int = 6,
    broadcast_filter: bool = False,
) -> DataFrame:
    """k-core peel (Seidman 1983; the distributed fixed-point form of
    Matula & Beck's peeling): repeatedly delete every node whose degree
    in the REMAINING graph is below ``k``, for a FIXED number of
    ``rounds``; returns (node, deg) — survivors with their degree
    inside the surviving subgraph. When the peel has converged (one
    round removes nothing) the result IS the k-core, the standard
    dense-subgraph / graph-cleaning primitive (core numbers gate which
    nodes are worth embedding; spam rings live in high cores).

    Fixed rounds rather than a convergence probe keeps the operator a
    pure function of the edge set — exactly replayable by chained CTEs
    — and avoids per-round driver actions; peeling is monotone
    (deletions only), so extra rounds past convergence are no-ops.
    Per round: one degree agg + two semi-join filters, all node-keyed
    shuffles on a frame that only SHRINKS. The remaining-edge frame is
    eagerly localCheckpointed every second round: each
    round references the previous frame three times (degree agg + both
    endpoint filters), so the lazy plan tree grows 3x per round and a
    cadence of 2 caps it at 3^2 subtree copies — the same
    bounded-lazy tradeoff measured for the dangling-PageRank loop
    (per-round eager materialization dominated; see pagerank notes).
    On a real cluster swap localCheckpoint for checkpoint()."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    sym = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .repartition("u")
        .localCheckpoint(eager=True)
    )
    if broadcast_filter:
        # r13 size guard: the keep filter is bounded by the node roster
        # and only SHRINKS round over round, so one pre-loop probe (a
        # distinct count over the already-materialized edge blocks)
        # bounds every round's broadcast.
        broadcast_filter = _honor_broadcast_declaration(
            sym.sparkSession,
            sym.select("u").distinct().count(),
            what="kcore(broadcast_filter)",
        )
    for i in range(int(rounds)):
        deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("__d"))
        # broadcast_filter declares the node set broadcast-sized (the
        # hits broadcast_scores argument): the keep filter is at most
        # node-grain but hangs off checkpointed leaves with no stats,
        # so the planner otherwise sort-merges BOTH semi joins — a full
        # sort of the edge frame per round on u plus an exchange+sort
        # on v. Broadcast, both filters go map-side and the edge frame
        # never moves after the initial repartition (r12; semantics
        # identical — semi-join filters). Both semi joins consume ONE
        # shared projection of the keep table (r13, ADVICE): with the
        # key expressed as a join condition rather than a rename below
        # the exchange, the two broadcast builds are canonically equal
        # and ReuseExchange ships the node set once per round, not
        # twice (the SMJ fallback's two exchanges dedup the same way).
        keep = deg.where(F.col("__d") >= int(k)).select(
            F.col("u").alias("__keep")
        )
        if broadcast_filter:
            keep = F.broadcast(keep)
        sym = sym.join(
            keep, F.col("u") == F.col("__keep"), "left_semi"
        ).join(keep, F.col("v") == F.col("__keep"), "left_semi")
        if (i + 1) % 2 == 0 and i + 1 < int(rounds):
            sym = sym.localCheckpoint(eager=True)
    return sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )


def label_propagation(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 3,
    broadcast_labels: bool = False,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007); returns (node, community) after a FIXED number of
    rounds. Each round every node adopts the most frequent label among
    its neighbors — majority count, ties broken by the smaller label —
    so dense neighborhoods converge onto one label while sparse
    bridges keep communities apart. Connected components answers
    "reachable at all"; this answers "densely connected", the
    modularity-flavored split a co-occurrence graph wants.

    Determinism is the design constraint: synchronous updates (every
    round reads only the previous round's labels), a total tie order
    (count desc, label asc), and a fixed round count make the result a
    pure function of the edge set — an external engine replays it as
    chained CTEs, which the async/randomized textbook variant can
    never be. Per round: one join of the symmetrized (once-shuffled,
    checkpointed) edge list against the label table + one
    map-side-combinable count + one per-node argmax window — all
    node-keyed shuffles, no driver state."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    sym = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .repartition("u")
        .localCheckpoint(eager=True)
    )
    labels = sym.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("community")
    )
    if broadcast_labels:
        # r13 size guard: the label table stays node-grain every round,
        # so one pre-loop bound covers the loop. The round-0 table is
        # materialized first (tiny — two longs per node) so the probe
        # count is a cheap scan of its blocks AND round 1 reads the
        # materialization instead of re-deriving the distinct roster.
        labels = labels.localCheckpoint(eager=True)
        broadcast_labels = _honor_broadcast_declaration(
            sym.sparkSession, labels.count(),
            what="label_propagation(broadcast_labels)",
        )
    w = Window.partitionBy("node").orderBy(
        F.col("__c").desc(), F.col("community").asc()
    )
    for _ in range(int(rounds)):
        # broadcast_labels: same declaration as kcore's broadcast_filter
        # — the label table is node-grain but stats-less, and the join
        # key (v) is not the edge frame's partition key (u), so the
        # planner otherwise re-shuffles the WHOLE edge frame by v every
        # round (r12).
        lside = F.broadcast(labels) if broadcast_labels else labels
        neigh = sym.join(
            lside, sym["v"] == lside["node"]
        ).select(F.col("u").alias("node"), "community")
        counted = neigh.groupBy("node", "community").agg(
            F.count(F.lit(1)).alias("__c")
        )
        labels = (
            counted.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select("node", "community")
        )
    return labels


def hits(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 4,
    round_decimals: int | None = None,
    broadcast_scores: bool = False,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over a directed edge
    list; returns (node, hub, auth) after a FIXED number of mutual-
    reinforcement rounds. Authorities are nodes pointed at by good
    hubs; hubs are nodes pointing at good authorities — on a bipartite
    buyer->item or supplier->part graph the authority side ranks the
    items that matter and the hub side the actors with taste, the
    complement of PageRank's single-score prestige.

    Per round: ``auth = normalize(sum of in-neighbor hub scores)`` then
    ``hub = normalize(sum of out-neighbor auth scores)`` — two
    contribution joins + two per-node sums, all node-keyed shuffles
    with no driver-side graph state. Normalization is by the MAX score
    (a 1-row agg broadcast into the update) rather than the textbook
    L2 norm: scale-invariant for ranking, and exactly replayable in
    ANSI SQL without sqrt-of-sum-of-squares float ambiguity. Fixed
    rounds + per-round rounding (``round_decimals``, same pin as
    :func:`pagerank`) make the result a pure function of the edge set,
    replayed by chained CTEs.

    The edge frame is shuffled ONCE per join key (one copy hash-
    partitioned by ``u`` for the auth step, one by ``v`` for the hub
    step, both localCheckpointed) so only the small score tables move
    per round. Each round's node-grain score table is eagerly
    localCheckpointed (cutting the lazy tree — the r5 fully-lazy form
    quadrupled the tree per round, measured 64.7s at a 10x staging);
    the max-normalization then rides the NEXT half-round's plan as a
    broadcast 1-row agg crossJoin over that materialized leaf, so the
    only driver action per half-round is the checkpoint itself.

    ``broadcast_scores=True`` declares the node set small enough to
    broadcast (checkpointed score frames are RDD-backed leaves, so AQE
    cannot see their size and plans sort-merge joins for them): each
    contribution join becomes map-side — the edge set never shuffles
    after the initial distinct, and the only exchange per half-round
    is the node-grain partial-agg sum. The right call whenever nodes
    are far fewer than edges (the supplier->part gate: 21k nodes vs
    ~600k edges); leave False for node sets beyond executor memory.
    On a real cluster swap localCheckpoint for checkpoint()."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct()
    if broadcast_scores:
        e_u = e.localCheckpoint(eager=True)
        # r13 size guard: score tables stay node-grain every round; one
        # probe over the just-materialized edge blocks bounds the loop.
        # A rejected declaration falls back to the shuffled layout
        # (one extra repartition+checkpoint of the already-materialized
        # frame — the price of the misdeclaration, never an OOM).
        broadcast_scores = _honor_broadcast_declaration(
            e_u.sparkSession,
            e_u.select("u").distinct().count(),
            what="hits(broadcast_scores)",
        )
        if not broadcast_scores:
            e_u = e_u.repartition("u").localCheckpoint(eager=True)
            e_v = e_u.repartition("v").localCheckpoint(eager=True)
        else:
            e_v = e_u
    else:
        e_u = e.repartition("u").localCheckpoint(eager=True)
        e_v = e_u.repartition("v").localCheckpoint(eager=True)

    def maybe_bc(scores):
        return F.broadcast(scores) if broadcast_scores else scores

    def rnd(c):
        return F.round(c, round_decimals) if round_decimals is not None else c

    # max-normalization, two physical forms with identical values:
    # broadcast-small node sets take ONE single-partition window pass
    # over the node-grain agg (no second consumer of the agg exchange,
    # no 1-row BroadcastNestedLoopJoin — measured ~15% off the gate's
    # wall at sf0.1); unbounded node sets keep the partial-agg max +
    # broadcast crossJoin, which never funnels node rows through one
    # partition.
    _wall = Window.partitionBy()

    def normalize(raw, key, val):
        if broadcast_scores:
            return raw.withColumn("__m", F.max(val).over(_wall)).select(
                key, rnd(F.col(val) / F.col("__m")).alias(val)
            )
        vmax = raw.agg(F.max(val).alias("__m"))
        return raw.crossJoin(F.broadcast(vmax)).select(
            key, rnd(F.col(val) / F.col("__m")).alias(val)
        )

    hubs = e_u.select("u").distinct().select("u", F.lit(1.0).alias("h"))
    auth = None
    n_rounds = int(rounds)
    for r in range(n_rounds):
        raw_a = (
            e_u.join(maybe_bc(hubs), "u")
            .groupBy("v")
            .agg(rnd(F.sum("h")).alias("a"))
        )
        auth = normalize(raw_a, "v", "a")
        # ONE materialization per round: the auth half-round stays lazy
        # inside this round's job and the round tree is cut at raw_h,
        # keeping the plan linear. The LAST round skips the cut — no
        # further round consumes it, so its (one-round-deep, bounded)
        # tree flows into the caller's output job instead of paying a
        # separate materialization (measured ~0.4s at sf0.1, identical
        # results).
        raw_h = (
            e_v.join(maybe_bc(auth), "v")
            .groupBy("u")
            .agg(rnd(F.sum("a")).alias("h"))
        )
        if r < n_rounds - 1:
            raw_h = raw_h.localCheckpoint(eager=True)
        hubs = normalize(raw_h, "u", "h")
    return (
        hubs.select(F.col("u").alias("node"), "h")
        .join(auth.select(F.col("v").alias("node"), "a"), "node", "full_outer")
        .select(
            "node",
            F.coalesce(F.col("h"), F.lit(0.0)).alias("hub"),
            F.coalesce(F.col("a"), F.lit(0.0)).alias("auth"),
        )
    )


def bfs_distances(
    edges: DataFrame,
    seed,
    *,
    src: str = "src",
    dst: str = "dst",
    max_depth: int = 4,
    directed: bool = False,
) -> DataFrame:
    """Breadth-first distances from ``seed``: one row per reachable
    node within ``max_depth`` hops, ``(node, dist)`` with dist = the
    MINIMUM hop count — single-source shortest paths on an unweighted
    graph, the frontier-expansion primitive behind "who is within k
    hops" reachability, influence radii, and seed-set neighborhood
    features.

    Frontier BFS as DataFrame rounds (the Pregel shape): the edge list
    is symmetrized (unless ``directed``), repartitioned on the source
    key ONCE and localCheckpointed — every round's frontier join then
    co-shuffles only the frontier (<= nodes rows), never the edges.
    Each round: frontier ⋈ edges -> candidate nodes, anti-join against
    the visited set (so a node keeps its first = minimum depth),
    distinct, tag with the round number. Rounds are a fixed
    ``max_depth`` — no convergence probe, one driver action per round
    at most (the anti-join/union is lazy; only the visited-set
    localCheckpoint materializes) — and an early exit fires when a
    frontier comes back empty. State per round is the visited set +
    frontier, both node-grain; the edge set never moves after round 0.

    On a real cluster swap localCheckpoint for checkpoint()."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if not directed:
        e = e.unionByName(
            edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
        )
    e = e.distinct().repartition("u").localCheckpoint(eager=True)

    spark = edges.sparkSession
    node_type = e.schema["u"].dataType
    visited = spark.createDataFrame(
        [(seed, 0)], schema=f"node {node_type.simpleString()}, dist int"
    ).localCheckpoint(eager=True)
    frontier = visited.select("node")
    for depth in range(1, int(max_depth) + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["u"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(depth))
        )
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        # derive the next frontier from the CHECKPOINTED union so the
        # empty-probe (and next round's join) read cached blocks
        # instead of recomputing nxt's join lineage
        frontier = visited.where(F.col("dist") == depth).select("node")
        if frontier.isEmpty():
            break
    return visited
