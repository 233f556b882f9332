"""Iterative graph analytics — PageRank over DataFrame edge lists.

Complements the combinatorial graph family in ``dedup.py`` (min-label /
two-phase connected components) with the numeric-iterative one: a fixed
number of synchronous power iterations, the shape of
centrality/influence scoring over similarity graphs (near-dup clusters:
the highest-rank doc is the natural cluster representative to KEEP in
curation) and interaction graphs.

Iterative-Spark discipline, the part that matters at scale:

- the (src, dst, outdeg) contribution table is built ONCE and pinned
  with an eager localCheckpoint — every iteration re-joins it, and an
  unpinned frame would re-derive the whole edge lineage per iteration;
- ranks are localCheckpointed every ``_CHECKPOINT_EVERY`` iterations —
  without lineage truncation the logical plan grows linearly in the
  iteration count and the driver's analysis/optimization time (and
  eventually memory) dominates the actual work, the classic iterative-
  DataFrame trap;
- each iteration is exactly one equi-join (hash on src) plus one
  aggregate (hash on dst) — both keyed shuffles that AQE sizes; nothing
  is ever collected to the driver.

Numeric parity: all arithmetic is IEEE double on both engines (the
DuckDB oracle CASTs its decimal literals to DOUBLE — a bare ``0.85`` is
DECIMAL there and would silently run exact-decimal iterations);
per-node contribution sums are float-order-dependent but a 6-decimal
round after ``iters`` iterations sits far inside the documented
cross-engine seam budget (error ~1e-14 vs 0.5e-6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.literals import local_frame
from . import dedup

# Iterations between eager localCheckpoints of the iterative loops'
# state (pagerank ranks, label_propagation labels, fixed-round k_core
# edges); the last iteration is never pinned.
_CHECKPOINT_EVERY = 3


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iters: int = 10,
    damping: float = 0.85,
    undirected: bool = False,
    weight_col: str | None = None,
    redistribute_dangling: bool = False,
) -> DataFrame:
    """Synchronous PageRank after exactly ``iters`` power iterations
    (fixed-count, so the result is deterministic and SQL-replayable —
    no convergence-threshold nondeterminism): starting uniform over the
    nodes that appear as a source,

        rank'(v) = (1-d)/N + d * Σ_{u→v} rank(u) * w(u,v) / outw(u)

    with w ≡ 1 (so outw = outdeg) in the unweighted default, or taken
    from ``weight_col`` — the similarity-weighted form a near-dup graph
    wants: a 0.95-Jaccard neighbor should pull the representative
    harder than a 0.71 one. Weights must be positive; each node's
    outgoing weights are normalized by their own sum, so rank mass is
    conserved exactly as in the unweighted case.

    ``undirected=True`` symmetrizes the edge list first (every node
    then has outdeg ≥ 1, so there are no dangling nodes and the rank
    mass stays exactly 1 — callers feeding DIRECTED graphs with sinks
    should add their own dangling redistribution if they need mass
    conservation). On the DIRECTED path the node set is src ∪ dst and
    every iteration left-joins the new in-mass back onto the pinned
    node table (coalesce to the (1-d)/N base), so source-only nodes
    keep their base rank and sink-only nodes count toward N — without
    that re-join the per-iteration groupBy(dst) silently drops any node
    with no in-edges after round 1 (r10 ADVICE). By default sinks leak
    their own mass; ``redistribute_dangling=True`` (directed path only)
    adds the canonical fix — each iteration the summed rank of nodes
    with no out-edges is redistributed uniformly (d·dangling/N to every
    node), restoring Σrank = 1 exactly, the proper-Markov-chain form an
    absorbing-state analysis needs. The dangling total rides the plan
    as a broadcast 1-row aggregate (the community_modularity m
    pattern), never a driver collect. The undirected path skips the
    re-join: symmetrization guarantees every node has in-edges, so the
    joined form is identical and the extra shuffle would be pure
    overhead. Returns (node, rank) rounded to 6dp.
    """
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w")
    )
    if undirected:
        e = e.unionByName(
            e.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
    deg = e.groupBy("src").agg(F.sum("w").alias("outdeg"))
    contrib = e.join(deg, "src").localCheckpoint(eager=True)
    nodes = contrib.select(F.col("src").alias("node"))
    if not undirected:
        # directed graphs: sink-only nodes never appear as a src but
        # are real nodes — include them in N and in the rank table
        nodes = nodes.unionByName(
            contrib.select(F.col("dst").alias("node"))
        )
    nodes = nodes.distinct()
    if not undirected:
        # pinned: re-joined every iteration on the directed path
        nodes = nodes.localCheckpoint(eager=True)
    src_nodes = None
    if redistribute_dangling and not undirected:
        src_nodes = contrib.select(
            F.col("src").alias("node")
        ).distinct().localCheckpoint(eager=True)
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    base = (1.0 - damping) / float(n)
    ranks = nodes.withColumn("rank", F.lit(1.0 / float(n)))
    for i in range(1, iters + 1):
        in_mass = (
            contrib.join(
                ranks.withColumnRenamed("node", "src"), "src"
            )
            .groupBy("dst")
            .agg(
                F.sum(
                    F.col("rank") * F.col("w") / F.col("outdeg")
                ).alias("in_mass")
            )
            .withColumnRenamed("dst", "node")
        )
        if undirected:
            # every node has in-edges after symmetrization: in_mass
            # already covers the full node set, no re-join needed
            ranks = in_mass.select(
                "node",
                (F.lit(base) + F.lit(damping) * F.col("in_mass")).alias(
                    "rank"
                ),
            )
        else:
            # directed: left-join onto the pinned node table so
            # source-only nodes keep their (1-d)/N base instead of
            # dropping out of the rank table after round 1
            joined = nodes.join(in_mass, "node", "left")
            incoming = F.coalesce(F.col("in_mass"), F.lit(0.0))
            if src_nodes is not None:
                # dangling total as a broadcast 1-row aggregate riding
                # the plan (no driver action): the summed rank of nodes
                # with no out-edges, shared uniformly
                dang = (
                    ranks.join(src_nodes, "node", "left_anti")
                    .agg(
                        F.coalesce(F.sum("rank"), F.lit(0.0)).alias(
                            "_dang"
                        )
                    )
                )
                joined = joined.crossJoin(F.broadcast(dang))
                incoming = incoming + F.col("_dang") / F.lit(float(n))
            ranks = joined.select(
                "node",
                (F.lit(base) + F.lit(damping) * incoming).alias("rank"),
            )
        if i % _CHECKPOINT_EVERY == 0 and i < iters:
            ranks = ranks.localCheckpoint(eager=True)
            # release the PREVIOUS checkpoint's blocks now: the old
            # DataFrame just became unreachable, but the ContextCleaner
            # only frees its blocks after a driver GC notices — in a
            # long iterative loop the dead checkpoints accumulate in
            # the block manager and late iterations pay the memory
            # pressure (measured: 0.78 -> 2.84 s/iter at 10M edges
            # without this)
            import gc

            gc.collect()
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def triangle_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact triangle counts + local clustering coefficient per node over
    an undirected edge list — the density signal on similarity graphs
    (a near-dup CLUSTER is clique-ish: high coefficient separates true
    template families from chains of pairwise-coincidental overlaps,
    which PageRank alone cannot).

    Degree-ordered orientation (the standard distributed-triangle trick,
    cf. Suri & Vassilvitskii WWW'11): orient every edge from its
    (degree, id)-smaller endpoint to the larger, enumerate wedges only
    from each node's out-neighborhood, and close them with one more
    equi-join. Out-degree under this orientation is bounded by O(sqrt(m))
    regardless of the raw degree distribution, so the wedge join's
    per-key fanout — the thing that explodes on celebrity nodes in a
    naive enumeration — stays bounded at 100 TB; every step is an
    equi-keyed shuffle (AQE-sizable), nothing is collected.

    Each triangle is counted exactly once (its orientation-minimum
    vertex owns it) and then credited to all three corners. Returns one
    row per node in the edge set: (node, degree, n_triangles,
    clustering_coeff = 2T/deg(deg-1), rounded; 0.0 for degree-1 nodes).
    All-integer arithmetic plus one rounded division — hash-exact
    cross-engine.

    Input hygiene: the edge list is canonicalized here — (a,b)/(b,a)
    collapse to one undirected edge and self-loops are dropped — so a
    SYMMETRIZED list (the form pagerank consumes) counts identically to
    the one-per-pair form; without this, a symmetrized input doubles
    every degree and octuples triangle counts.
    """
    e = (
        edges.filter(F.col(src) != F.col(dst))
        .select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .distinct()
    )
    nodes = e.select(F.col("a").alias("v")).unionAll(
        e.select(F.col("b").alias("v"))
    )
    deg = nodes.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    ed = e.join(
        deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a"
    ).join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("s"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("t"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("dt"),
    )
    w1 = o.select("s", F.col("t").alias("v1"), F.col("dt").alias("d1"))
    w2 = o.select("s", F.col("t").alias("v2"), F.col("dt").alias("d2"))
    wedge_ord = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2"))
    )
    closing = o.select(F.col("s").alias("v1"), F.col("t").alias("v2"))
    tri = (
        w1.join(w2, "s")
        .filter(wedge_ord)
        .join(closing, ["v1", "v2"])
        .select("s", "v1", "v2")
    )
    tn = (
        tri.select(F.col("s").alias("v"))
        .unionAll(tri.select(F.col("v1").alias("v")))
        .unionAll(tri.select(F.col("v2").alias("v")))
    )
    tc = tn.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("t"))
    t = F.coalesce(F.col("t"), F.lit(0).cast("long"))
    coeff = F.when(
        F.col("d") >= 2,
        F.round(
            F.lit(2.0) * t / (F.col("d") * (F.col("d") - F.lit(1))), 6
        ),
    ).otherwise(F.lit(0.0))
    return deg.join(tc, "v", "left").select(
        F.col("v").alias("node"),
        F.col("d").cast("long").alias("degree"),
        t.cast("long").alias("n_triangles"),
        coeff.alias("clustering_coeff"),
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iters: int = 5,
    undirected: bool = True,
    weight_col: str | None = None,
) -> DataFrame:
    """Community detection by synchronous label propagation
    (Raghavan-Albert-Kumara 2007) after exactly ``iters`` rounds —
    fixed-count + deterministic tie-break (most frequent neighbor
    label; ties → SMALLEST label), so the result is SQL-replayable
    and partitioning-independent, unlike the paper's random-order
    asynchronous form.

    Per round, every node adopts the modal label among its neighbors:
    one join (labels → edge sources) + one (node, label) count + one
    per-node argmax window whose input is the counted table (≤ one row
    per distinct neighbor label per node, never the raw adjacency).
    All shuffles key on node ids; no step is driver-side. Fixed-count
    synchronous LPA can oscillate on bipartite structure — for the
    dedup use-case (dense near-clique clusters) it stabilizes in 2-3
    rounds; callers needing convergence detection can compare label
    tables across calls.

    ``weight_col`` makes votes similarity-weighted (the weighted-
    pagerank sibling): each node adopts the label with the largest
    NEIGHBOR WEIGHT SUM instead of the largest neighbor count. The
    vote sum is rounded to 6dp before ranking — float summation order
    differs across partitionings/engines, and an unrounded near-tie
    would make the argmax nondeterministic; after rounding, exact ties
    still break by smallest label.

    Directed graphs (``undirected=False``) propagate along in-edges:
    a node with no in-edges KEEPS its current label each round (the
    per-round left join + coalesce below) — without that, source-only
    nodes would silently vanish from the label table after round 1 and
    their influence with them.

    The complementary operator to connected_components (same-component
    ≠ same-community: a chain of weak links is one component but many
    communities) and pagerank (which ranks WITHIN a cluster).
    Returns (node, community) — both ids, no floats to drift.

    Driver gate (the job-floor gate family: ``connected_components``
    and the incremental folds share ``dedup.DRIVER_EDGE_GATE``;
    ``bpe_train`` has its own word-count gate): for the UNWEIGHTED form
    only, if the materialized (symmetrized) edge table fits the gate it
    is collected and the identical synchronous loop runs as driver dict
    ops — integer votes and the (count desc, label asc) tie-break
    translate exactly; duplicate edges keep counting in votes because
    the collect takes the edge list as-is (path equality pytest-pinned, incl. directed
    keep-label nodes and string ids). The weighted form always runs
    distributed: its vote is a 6dp-rounded FLOAT SUM whose
    summation-order/rounding seam the driver must not re-implement.
    Above the gate the loop below runs unchanged.
    """
    w_val = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), w_val.alias("w")
    )
    if undirected:
        e = e.unionByName(
            e.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
    # localCheckpoint, NOT repartition+persist: the checkpoint
    # materializes WITHOUT any exchange, and although each iteration
    # then re-shuffles the edge table for the labels join, the
    # alternative (pre-partition on src + persist, whose
    # InMemoryTableScan preserves outputPartitioning) measured WORSE —
    # 3.9 GB vs 1.4 GB total shuffle and 42 s vs 26 s for 3 rounds at
    # 10M edges — because it pays an upfront full-edge shuffle and the
    # pinned 32-partition layout stops AQE from sizing every downstream
    # exchange (SCALING.md §label-prop, negative result recorded).
    e = e.localCheckpoint(eager=True)
    if weight_col is None:
        # one limit-bounded collect decides AND delivers (r16 job-floor
        # trim): short of the threshold ⟹ the rows ARE the whole
        # pinned edge set, so the probe job and the second collect the
        # r13 gate paid are gone; at the threshold the prefix is
        # discarded and the distributed loop reads the eager pin
        gate = dedup.DRIVER_EDGE_GATE
        rows = e.select("src", "dst").limit(gate + 1).collect()
        if len(rows) <= gate:
            elist = [(r["src"], r["dst"]) for r in rows]
            if undirected:
                node_set = {s for s, _ in elist}
            else:
                node_set = {s for s, _ in elist} | {d for _, d in elist}
            labels = {n: n for n in node_set}
            for _ in range(iters):
                votes: dict = {}
                for s, d in elist:
                    lab = labels[s]
                    per = votes.setdefault(d, {})
                    per[lab] = per.get(lab, 0) + 1
                labels = {
                    n: (
                        min(
                            votes[n].items(),
                            key=lambda kv: (-kv[1], kv[0]),
                        )[0]
                        if n in votes
                        else labels[n]  # directed node w/o in-edges
                    )
                    for n in node_set
                }
            return local_frame(
                e.sparkSession,
                list(labels.items()),
                e.select("src", "dst").schema,
            ).toDF("node", "community")
    if undirected:
        # after symmetrization every node appears as a src — skip the
        # dst union (one less scan + smaller distinct)
        nodes = e.select(F.col("src").alias("node")).distinct()
    else:
        nodes = (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
            .localCheckpoint(eager=True)
        )
    labels = nodes.withColumn("label", F.col("node"))
    w = Window.partitionBy("node").orderBy(
        F.col("c").desc(), F.col("label").asc()
    )
    for i in range(1, iters + 1):
        vote = (
            F.round(F.sum("w"), 6)
            if weight_col is not None
            else F.count(F.lit(1))
        )
        counts = (
            e.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(vote.alias("c"))
        )
        new = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", F.col("label").alias("_new"))
        )
        if undirected:
            # every node has in-edges after symmetrization, so `new`
            # already covers the full node set — no keep-label join
            labels = new.select("node", F.col("_new").alias("label"))
        else:
            # keep every node's row: no in-edges this round -> keep label
            labels = (
                labels.join(new, "node", "left")
                .select(
                    "node",
                    F.coalesce(F.col("_new"), F.col("label")).alias(
                        "label"
                    ),
                )
            )
        if i % _CHECKPOINT_EVERY == 0 and i < iters:
            labels = labels.localCheckpoint(eager=True)
            import gc

            gc.collect()  # see pagerank: release superseded checkpoints
    return labels.select("node", F.col("label").alias("community"))


def community_modularity(
    edges: DataFrame,
    communities: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    community_col: str = "community",
) -> DataFrame:
    """Newman modularity contribution per community: Q_c = e_in/m −
    (d_c/2m)² — the quality metric that says whether a community
    assignment (label_propagation's output) beats random wiring with
    the same degrees. Σ Q_c ∈ [-0.5, 1); ~0 means the split is no
    better than chance.

    Edges are canonicalized here (self-loops dropped, (a,b)/(b,a)
    collapsed) so symmetrized and one-per-pair inputs score identically
    — the triangle_stats hygiene rule. e_in, d_c, m are integers; the
    single float division is rounded at 6dp. The edge count rides the
    plan as a broadcast 1-row aggregate — no driver action, the whole
    score is one lazy plan. Returns (community, n_nodes, e_in, deg_sum,
    q_part).
    """
    ce = (
        edges.filter(F.col(src) != F.col(dst))
        .select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .distinct()
    )
    m_df = ce.agg(F.count(F.lit(1)).cast("double").alias("m"))
    deg = (
        ce.select(F.col("a").alias("node"))
        .unionAll(ce.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    lab = communities.select(
        F.col(node_col).alias("node"), F.col(community_col).alias("label")
    )
    la = lab.select(F.col("node").alias("a"), F.col("label").alias("_la"))
    lb = lab.select(F.col("node").alias("b"), F.col("label").alias("_lb"))
    intra = (
        ce.join(la, "a")
        .join(lb, "b")
        .filter(F.col("_la") == F.col("_lb"))
        .groupBy(F.col("_la").alias("label"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    # LEFT join: a community whose every node has zero canonical degree
    # (isolated node, or only self-loops — dropped above) must still be
    # scored as (n_nodes, e_in=0, deg_sum=0, q_part=0), not silently
    # vanish from the per-community contract
    comm = (
        lab.join(deg, "node", "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.coalesce(F.col("d"), F.lit(0))).alias("deg_sum"),
        )
    )
    out = (
        comm.join(intra, "label", "left")
        .crossJoin(F.broadcast(m_df))
        .select(
            # preserve the label's SOURCE type: label_propagation emits
            # node ids as labels, and node ids may be strings — a hard
            # long cast would throw under ANSI (silent NULL otherwise)
            # on non-numeric community ids (r10 ADVICE)
            F.col("label").alias("community"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.coalesce(F.col("e_in"), F.lit(0)).cast("long").alias("e_in"),
            F.col("deg_sum").cast("long").alias("deg_sum"),
            F.when(F.col("m") > 0, (
                F.round(
                    F.coalesce(F.col("e_in"), F.lit(0)) / F.col("m")
                    - (F.col("deg_sum") / (2 * F.col("m")))
                    * (F.col("deg_sum") / (2 * F.col("m"))),
                    6,
                )
                + F.lit(0.0)  # -0.0 + 0.0 = 0.0: normalize negative zero
                # (repr('-0.0') vs repr('0.0') breaks the hash compare;
                # a zero-internal-edge singleton community rounds to -0.0)
            )).otherwise(F.lit(0.0)).alias("q_part"),  # m=0: ANSI /0 throws
        )
    )
    return out


def k_core(
    edges: DataFrame,
    k: int,
    *,
    src: str = "src",
    dst: str = "dst",
    rounds: int | None = None,
) -> DataFrame:
    """k-core of the undirected graph: the maximal subgraph where every
    node keeps degree ≥ k, by iterative peeling (repeatedly drop nodes
    with degree < k; dropping one node can push its neighbors under k,
    hence the loop). On a near-dup graph the 2-core separates clique-ish
    template FAMILIES from degree-1 chains of pairwise-coincidental
    overlaps — the same curation signal family as triangle_stats, but
    global (a long chain has clustering coefficient 0 everywhere yet
    still links clusters; peeling actually removes it).

    ``rounds`` fixed = deterministic, oracle-replayable (extra rounds
    past the fixpoint are no-ops); None = run to fixpoint, checking
    convergence with one bounded 1-row count per round (production
    mode; peeling depth is typically small). Edges are canonicalized
    (self-loops dropped, (a,b)/(b,a) collapsed — the triangle_stats
    hygiene rule) and pinned once with localCheckpoint.

    Plan per round: endpoint-union degree count (map-side partials,
    keyed by node) → the REMOVED set (degree < k — usually small:
    peeling strips the fringe, not the core) → two anti-joins of the
    live edges against it (AQE broadcasts the removed side while it
    fits). Periodic localCheckpoint + superseded-checkpoint release
    (the pagerank discipline). Returns (node, degree) over the final
    subgraph — after convergence every degree is ≥ k.
    """
    import gc

    live = (
        edges.filter(F.col(src) != F.col(dst))
        .select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_live = live.count() if rounds is None else None

    def _deg(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("a").alias("node"))
            .unionAll(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )

    r = 0
    while rounds is None or r < rounds:
        r += 1
        removed = _deg(live).filter(F.col("deg") < k).select("node")
        nxt = live.join(
            removed.withColumnRenamed("node", "a"), "a", "left_anti"
        ).join(removed.withColumnRenamed("node", "b"), "b", "left_anti")
        if rounds is None:
            nxt = nxt.localCheckpoint(eager=True)
            gc.collect()
            n_nxt = nxt.count()
            live = nxt
            if n_nxt == n_live:
                break
            n_live = n_nxt
        else:
            live = nxt
            if r % _CHECKPOINT_EVERY == 0 and r < rounds:
                live = live.localCheckpoint(eager=True)
                gc.collect()
    return _deg(live).select(
        "node", F.col("deg").cast("long").alias("degree")
    )
