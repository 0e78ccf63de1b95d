"""Graph analytics beyond connected components (those live in
operators/dedup.py as cluster consolidation): triangle counting via
degree-oriented wedge closure — the MapReduce-era construction
(Suri & Vassilvitskii, "Counting triangles and the curse of the last
reducer") that bounds the quadratic wedge fan-out.

No graph analytics exists in the reference (three linear streaming
scripts, SURVEY.md §2); north-star extension. Triangle participation
is the standard cohesion signal over co-occurrence graphs (parts
co-ordered, docs co-cited, users co-active) — a curation feature for
community/boilerplate detection.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _free(ck: DataFrame) -> None:
    """Release a materialized localCheckpoint's blocks (best-effort;
    the plan accessor is internal). Checkpoint blocks are non-evictable
    and invisible to clearCache(), so every superseded frontier must be
    freed explicitly once its successor's blocks exist."""
    try:
        ck._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def _sym_edges(edges: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """(src, dst) rows for every undirected (a, b) pair in BOTH
    directions — the edge list every propagation loop here reads.
    Neither partitioned nor pinned: each caller adds its own
    repartition and checkpoint."""
    return edges.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).unionByName(
        edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    )


def triangle_counts(
    edges: DataFrame,
    a_col: str = "pa",
    b_col: str = "pb",
) -> DataFrame:
    """Per-node triangle counts for an undirected simple graph given as
    (a, b) pairs with a < b, each edge once.

    Construction: orient every edge from its lower-(degree, id)
    endpoint to its higher one — a total order, so orientation is
    conflict-free — then join oriented edges on their source to form
    wedges (u→v, u→w with v before w in the same order), and close
    each wedge against the oriented edge set (v→w). Every triangle is
    found EXACTLY once: its unique lowest-order vertex is the wedge
    pivot. The orientation is the scale guard: wedge fan-out is
    Σ outdeg(u)², and out-degrees under the degree order are O(√m) —
    without it a single hub explodes the wedge join quadratically.

    Shuffles: one degree aggregate, two joins to attach endpoint
    degrees (AQE broadcasts the degree table when small), one wedge
    self-join keyed on the pivot, one closure hash join, one final
    per-node aggregate over the 3-exploded triangle rows. All equi —
    no cartesian anywhere.

    Returns (node, n_triangles), one row per node that participates in
    at least one triangle."""
    deg = (
        edges.select(F.col(a_col).alias("n"))
        .unionByName(edges.select(F.col(b_col).alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orientation key: (degree, node) — lexicographic struct comparison
    keyed = (
        edges.join(deg.select(F.col("n").alias(a_col), F.col("d").alias("_da")), a_col)
        .join(deg.select(F.col("n").alias(b_col), F.col("d").alias("_db")), b_col)
        .select(
            F.when(
                F.struct("_da", a_col) < F.struct("_db", b_col), F.col(a_col)
            ).otherwise(F.col(b_col)).alias("s"),
            F.when(
                F.struct("_da", a_col) < F.struct("_db", b_col), F.col(b_col)
            ).otherwise(F.col(a_col)).alias("t"),
            F.when(
                F.struct("_da", a_col) < F.struct("_db", b_col), F.col("_db")
            ).otherwise(F.col("_da")).alias("_dt"),
        )
    )
    # oriented edges feed the wedge join (twice) and the closure probe
    o = keyed.localCheckpoint(eager=False)
    w1 = o.select(F.col("s"), F.col("t").alias("v"), F.col("_dt").alias("_dv"))
    w2 = o.select(F.col("s"), F.col("t").alias("w"), F.col("_dt").alias("_dw"))
    wedges = w1.join(w2, "s").filter(
        F.struct("_dv", "v") < F.struct("_dw", "w")
    )
    closed = wedges.join(
        o.select(F.col("s").alias("v"), F.col("t").alias("w")), ["v", "w"]
    ).select(F.col("s").alias("x"), F.col("v").alias("y"), F.col("w").alias("z"))
    nodes = (
        closed.select(F.col("x").alias("node"))
        .unionByName(closed.select(F.col("y").alias("node")))
        .unionByName(closed.select(F.col("z").alias("node")))
    )
    return nodes.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def k_core(
    edges: DataFrame,
    k: int,
    a_col: str = "pa",
    b_col: str = "pb",
    max_iter: int = 30,
    stats: dict | None = None,
) -> DataFrame:
    """The k-core of an undirected simple graph: the maximal subgraph
    where every node has degree ≥ k, computed by iterative peeling
    (delete all nodes with degree < k; repeat until fixpoint). The
    standard graph-cleanup pass before community/cohesion analysis —
    pendant chains and sparse fuzz vanish, dense structure stays.

    Iteration shape (the connected_components discipline): each round
    is one degree aggregate + one broadcast-able anti-join of the
    surviving edge list against the peeled node set; the edge frontier
    is localCheckpoint-ed per round (bounded plan depth) and superseded
    checkpoints are freed eagerly (non-evictable blocks leak
    otherwise). Peeling terminates in ≤ |V| rounds; real graphs need
    few — each round removes every currently-under-k node at once.
    Fixpoint = a round that deletes nothing (count unchanged — one
    scalar collect per round, same as the CC label-sum signal).

    Fully DuckDB-oracle-able despite the fixpoint loop: a recursive
    CTE can't DELETE, but it can re-emit the peeled working set with
    an iteration counter — and peeling is idempotent past the
    fixpoint, so "iterate exactly N" equals "iterate to fixpoint"
    whenever convergence lands within N (the registered query's cap;
    its pytest asserts convergence via `stats`). Plus hand-verified
    K5+pendant-chain structure tests.

    Returns the surviving edges (a_col, b_col)."""

    # lazy checkpoints materialized by the (required) fixpoint count:
    # one job per peel round instead of a blocking checkpoint job PLUS
    # the count (r12; superseded rounds still freed eagerly — their
    # blocks exist once the count returns).
    #
    # r13 NEGATIVE RESULT (don't retry): fusing the fixpoint count to
    # every-2-rounds (the VERDICT r12 #7 candidate) measured ~19%
    # SLOWER in an interleaved same-JVM A/B (2.52 → 2.99 s at sf0.1,
    # consistent across passes): the idempotent extra round past the
    # fixpoint costs a full degree aggregate + two anti-joins over the
    # surviving edge set — proportionally expensive at ANY scale —
    # while the count it saves is a cheap fixed barrier. Fused checks
    # pay off only when the per-round work is trivial next to the
    # barrier (not true for peeling).
    cur = edges.select(a_col, b_col).repartition(a_col).localCheckpoint(
        eager=False
    )
    n_edges = cur.count()
    rounds, converged = 0, False
    for _ in range(max_iter):
        deg = (
            cur.select(F.col(a_col).alias("n"))
            .unionByName(cur.select(F.col(b_col).alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        peel = deg.filter(F.col("d") < k).select("n")
        nxt = (
            cur.join(
                F.broadcast(peel.select(F.col("n").alias(a_col))), a_col, "left_anti"
            )
            .join(
                F.broadcast(peel.select(F.col("n").alias(b_col))), b_col, "left_anti"
            )
            .select(a_col, b_col)
            .localCheckpoint(eager=False)
        )
        prev = cur
        cur = nxt
        rounds += 1
        m = cur.count()
        _free(prev)
        if m == n_edges:
            converged = True
            break
        n_edges = m
        if m == 0:
            converged = True
            break
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
    return cur


def pagerank_integer(
    edges: DataFrame,
    iterations: int = 10,
    a_col: str = "pa",
    b_col: str = "pb",
    scale: int = 1_000_000_000_000,
    damping_pct: int = 85,
) -> DataFrame:
    """PageRank over an undirected simple graph in FIXED-POINT INTEGER
    arithmetic: ranks are integers at `scale` (1e12 = 12 decimal
    digits), contributions are r DIV outdeg, damping is
    (damping_pct·Σ) DIV 100. Floating-point PageRank is un-oracle-able
    (per-node sums depend on partition order and cross-engine libm);
    the integer recurrence is EXACTLY deterministic — integer addition
    is associative and truncating division of positives is floor in
    every engine — so a DuckDB recursive CTE reproduces every rank
    bit-for-bit. Truncation injects <1 ulp-of-scale per op: at 1e12,
    ranking order is unaffected for any realistic graph.

    Overflow bound: a hub node can receive nearly ALL the mass (total
    mass ≈ |V|·scale), so the un-damped per-destination sum can reach
    |V|·scale and the `damping_pct · Σ` product must stay under 2^63:
    |V| < 2^63 / (damping_pct · scale) — ~1.08·10^5 at the defaults
    (85, 1e12). Lower `scale` for bigger graphs (scale=1e6 admits
    |V| ~ 10^11). Enforced by a runtime ValueError, because ANSI-off
    BIGINT arithmetic would otherwise wrap silently and emit wrong
    ranks with no error.

    Iteration shape (r12): each of the fixed `iterations` rounds is one
    join (ranks onto out-edges) + one aggregate (contributions per
    destination), lineage-truncated by a LAZY localCheckpoint — the
    recurrence has no per-round driver decision, so the old eager
    per-round materialization added one blocking count job + a full
    rank-table block write per round for nothing (with AQE the round's
    shuffles already execute at plan-compile time; the lazy form just
    skips the extra job — measured ~9% warm and 60→48 jobs on the
    copurchase query, OPTIMIZATION_r12.md). Only the LAST round is eager,
    which materializes the whole chain, after which every superseded
    round's blocks are freed explicitly — lazy checkpoints MUST keep
    the eager-free discipline or each call strands ~iterations block
    sets and degrades later queries in the session (measured 2× on the
    r12 profile sweep before the frees were restored). Symmetrized
    edges mean no dangling nodes (every node has out-degree ≥ 1), so
    total mass is conserved up to truncation.

    Returns (node, rank) with rank the final fixed-point integer."""

    # lazy pin: the overflow-guard count below materializes e2 AND the
    # initial ranks in ONE job (eager pins here cost one extra blocking
    # job each and a second pass over the edge build)
    e2 = _rank_edges(edges, a_col, b_col)
    base = (scale * (100 - damping_pct)) // 100
    ranks = (
        e2.select("src").distinct()
        .select(F.col("src").alias("node"), F.lit(scale).cast("long").alias("r"))
        .localCheckpoint(eager=False)
    )
    n_nodes = ranks.count()
    if damping_pct * n_nodes * scale >= 2**63:
        raise ValueError(
            f"pagerank_integer overflow risk: damping_pct*|V|*scale = "
            f"{damping_pct}*{n_nodes}*{scale} >= 2^63; a hub node can "
            f"receive ~|V|*scale mass and the damping product would wrap "
            f"BIGINT silently (ANSI off). Lower `scale` (need scale < "
            f"{2**63 // max(1, damping_pct * n_nodes)})."
        )
    return _integer_rank_rounds(e2, ranks, iterations, damping_pct, F.lit(base))


def _rank_edges(edges: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """(src, dst, od) out-edges with the source's out-degree, hash
    partitioned on src and lazily pinned — the edge side of every
    integer-rank round."""
    sym = _sym_edges(edges, a_col, b_col)
    outdeg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    return sym.join(outdeg, "src").repartition("src").localCheckpoint(eager=False)


def _integer_rank_rounds(
    e2: DataFrame, ranks: DataFrame, iterations: int, damping_pct: int, teleport
) -> DataFrame:
    """The round loop of pagerank_integer and
    personalized_pagerank_integer: ranks join the out-edges `e2`, each
    destination sums r DIV od, and its new rank is
    teleport + (damping_pct·Σ) DIV 100, where `teleport` is a column
    over `dst`. Lazy checkpoint per round, eager last round; that last
    one materializes the chain, so every superseded round and e2 are
    then freed. iterations=0 returns the still-lazy initial ranks,
    which may read a never-materialized e2: nothing is freed then."""
    history = [ranks]
    for it in range(iterations):
        contrib = (
            e2.join(ranks, e2["src"] == ranks["node"])
            .select("dst", F.expr("r DIV od").alias("_c"))
            .groupBy("dst")
            .agg(F.sum("_c").alias("_sum"))
        )
        ranks = contrib.select(
            F.col("dst").alias("node"),
            (teleport + F.expr(f"({damping_pct} * _sum) DIV 100")).alias("r"),
        ).localCheckpoint(eager=(it == iterations - 1))
        history.append(ranks)
    if iterations > 0:
        for h in history[:-1]:
            _free(h)
        _free(e2)
    return ranks


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    a_col: str = "pa",
    b_col: str = "pb",
    stats: dict | None = None,
) -> DataFrame:
    """Multi-source BFS hop distance over an undirected graph: every
    node reachable from ANY seed within `max_hops` gets its minimum
    hop count — the "blast radius" primitive behind influence scoring,
    recall expansion from a labeled seed set, and contamination spread
    ("how far does this bad domain reach through the link graph").

    Iteration shape (r12 rework): each round expands the CURRENT
    FRONTIER only — frontier ⋈ edges on the node key, then a left-anti
    join against the visited set, so a node is expanded exactly once
    ever and per-round work is O(edges touched by new nodes), not
    O(|V|·hops). The frontier is a LAZY localCheckpoint materialized
    by the (unavoidable) empty-frontier count — one job per round, not
    a blocking checkpoint job PLUS the count. The visited set is kept
    as a plan-level UNION of the per-round frontier checkpoints
    (≤ max_hops + 1 leaf frames) instead of being re-materialized per
    round — the old shape re-wrote every visited row each round,
    O(|V|·hops) checkpoint writes for an O(|V|) result, and cost a
    third job per round. No explicit frees: every frontier block set
    IS part of the returned result. At 100 TB both joins
    hash-partition on the node key; the frontier is broadcast-able in
    the common small-seed case but the code never requires it.

    Returns (node, hop) for all reached nodes, hop ∈ [0, max_hops];
    unreached nodes are simply absent (callers can anti-join)."""
    # Pin the symmetric edge list ONCE: the per-round joins must not
    # re-derive it (for a composed edge construction — self-join +
    # distinct — lazy reuse re-executes the whole upstream every
    # round; measured 4x round cost on the copurchase query). Lazy:
    # round 1's count materializes it alongside the first frontier.
    sym = (
        _sym_edges(edges, a_col, b_col)
        .repartition("src")
        .localCheckpoint(eager=False)
    )
    frontier0 = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .withColumn("hop", F.lit(0))
        .repartition("node")
        .localCheckpoint(eager=False)
    )
    fronts = [frontier0]
    frontier = frontier0.select("node")
    rounds = 0
    for h in range(1, max_hops + 1):
        visited_nodes = reduce(
            lambda x, y: x.unionByName(y), (f.select("node") for f in fronts)
        )
        reached = (
            frontier.join(sym, frontier["node"] == sym["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = (
            reached.join(visited_nodes, "node", "left_anti")
            .withColumn("hop", F.lit(h))
            .localCheckpoint(eager=False)
        )
        rounds += 1
        if new.count() == 0:
            _free(new)
            break
        fronts.append(new)
        frontier = new.select("node")
    _free(sym)  # every front is count-materialized; sym is unneeded
    if stats is not None:
        stats["rounds"] = rounds
    return reduce(lambda x, y: x.unionByName(y), fronts)


def label_propagation(
    edges: DataFrame,
    rounds: int,
    a_col: str = "pa",
    b_col: str = "pb",
) -> DataFrame:
    """Synchronous label-propagation community detection (LPA) over an
    undirected graph, made DETERMINISTIC: each round every node adopts
    the most frequent label among its neighbors, ties broken by MIN
    label — so the result is a pure function of (graph, rounds), no
    RNG, no visit order. Fixed round count rather than convergence:
    synchronous LPA can oscillate on bipartite-ish structure, and a
    fixed-R contract is what an SQL oracle can replay exactly
    (unrolled one CTE per round).

    Scale shape per round: labels ⋈ symmetric edges on the node key
    (one hash exchange), then a (node, label) count aggregate with
    map-side partials, then a per-node argmax as max(struct(count,
    -label)) — an aggregate, NEVER a window over a corpus-sized
    partition. ZERO driver round-trips (no convergence test — R is
    structural), so r12 runs the rounds on LAZY localCheckpoints (plan
    depth still bounded; the eager per-round count job is skipped —
    with AQE the round's shuffles execute at compile time either way).
    The LAST round is eager, materializing the chain, after which every
    superseded round's blocks are freed explicitly (lazy checkpoints
    must keep the eager-free discipline — see pagerank_integer).

    Returns (node, lab) after `rounds` rounds; init lab(node) = node."""
    # Pin the symmetric edge list once (same rationale as bfs_hops:
    # lazy reuse re-executes the upstream edge construction per round).
    sym = (
        _sym_edges(edges, a_col, b_col)
        .repartition("src")
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lab", F.col("node"))
        .repartition("node")
        .localCheckpoint(eager=False)
    )
    history = [labels]
    for it in range(rounds):
        msgs = (
            labels.join(sym, labels["node"] == sym["src"])
            .groupBy(F.col("dst"), F.col("lab"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            msgs.groupBy("dst")
            .agg(
                F.max(
                    F.struct(F.col("c"), (-F.col("lab")).alias("nl"))
                ).alias("m")
            )
            .select(
                F.col("dst").alias("node"), (-F.col("m.nl")).alias("lab")
            )
            .localCheckpoint(eager=(it == rounds - 1))
        )
        history.append(labels)
    # rounds=0 returns the still-lazy initial labels frame, which
    # depends on the never-materialized sym checkpoint — freeing sym
    # then would make the caller's first action fail (r12 ADVICE).
    if rounds > 0:
        for h in history[:-1]:
            _free(h)
        _free(sym)
    return labels


def hits_integer_bipartite(
    edges: DataFrame,
    iterations: int = 8,
    o_col: str = "o",
    p_col: str = "p",
    scale: int = 1_000_000,
) -> DataFrame:
    """HITS hubs & authorities over a bipartite graph (orders→parts)
    in FIXED-POINT INTEGER arithmetic — the pagerank_integer
    discipline applied to the mutually-recursive eigenpair: step k
    sums the opposite side's scores along edges, then MAX-normalizes
    (val' = s·scale DIV max(s)), so the leader sits at exactly
    `scale` and the iteration is scale-invariant like the float
    original. Float HITS is un-oracle-able (summation order + libm);
    this integer recurrence is exact in any engine, so the DuckDB
    recursive CTE replays every score bit-for-bit.

    Overflow bound: after normalization every score ≤ scale, so a
    side's raw sum s ≤ deg_max·scale and the normalizing product
    s·scale ≤ deg_max·scale² must stay < 2^63 — enforced with a
    runtime ValueError (deg_max < 2^63/scale², ≈9.2e6 at 1e6; lower
    `scale` for denser graphs).

    Returns (side, node, val) for the FINAL update of each side:
    side='a' at iteration `iterations−1`, side='h' at `iterations`
    (an even `iterations` starts and ends on hubs). Because the
    result carries the LAST update of BOTH sides, at least 2
    iterations are required (one per side) — iterations < 2 raises
    ValueError (ADVICE r10: it previously crashed dereferencing the
    never-assigned previous-side frame).

    Iteration shape (r12): one keyed join + one hash agg + a 1-row max
    broadcast per round on LAZY localCheckpoints (the eager per-round
    count jobs are skipped; the round's shuffles execute at compile
    time under AQE either way), with the per-round sum table pinned so
    the normalization broadcast and the output projection share one
    execution. The LAST round is eager; every superseded round's
    blocks are then freed explicitly except the two returned sides
    (the eager-free discipline — see pagerank_integer). The two
    overflow-guard degree scans are fused into ONE collect."""
    if iterations < 2:
        raise ValueError(
            "hits_integer_bipartite needs iterations >= 2 (the result "
            "reports the final update of BOTH sides; a single "
            "iteration never scores the starting side)"
        )
    e = (
        edges.select(F.col(o_col).alias("o"), F.col(p_col).alias("p"))
        .distinct()
        .repartition("o")
        .localCheckpoint(eager=False)
    )
    deg_o = e.groupBy("o").agg(F.count(F.lit(1)).alias("d")).agg(
        F.max("d").alias("m")
    )
    deg_p = e.groupBy("p").agg(F.count(F.lit(1)).alias("d")).agg(
        F.max("d").alias("m")
    )
    deg_max = (
        deg_o.unionByName(deg_p).agg(F.max("m")).collect()[0][0] or 0
    )
    if deg_max * scale * scale >= 2**63:
        raise ValueError(
            f"hits_integer_bipartite overflow risk: deg_max*scale² = "
            f"{deg_max}*{scale}² >= 2^63 — lower `scale`."
        )
    cur = (
        e.select("o").distinct()
        .select(F.col("o").alias("node"), F.lit(scale).cast("long").alias("val"))
        .localCheckpoint(eager=False)
    )
    side = "h"
    prev_final = None
    history = [cur]
    for it in range(1, iterations + 1):
        if side == "h":
            joined = e.join(cur, e["o"] == cur["node"]).select(
                F.col("p").alias("nxt"), "val"
            )
            side = "a"
        else:
            joined = e.join(cur, e["p"] == cur["node"]).select(
                F.col("o").alias("nxt"), "val"
            )
            side = "h"
        # s feeds BOTH the 1-row max subtree and the normalized output:
        # pin it lazily or the round's join+agg executes twice (the
        # normalization broadcast materializes the blocks, the main
        # path then reads them)
        s = (
            joined.groupBy("nxt")
            .agg(F.sum("val").alias("s"))
            .localCheckpoint(eager=False)
        )
        mx = s.agg(F.max("s").alias("mx"))
        new = (
            s.crossJoin(F.broadcast(mx))
            .select(
                F.col("nxt").alias("node"),
                F.expr(f"CAST((s * {scale}) DIV mx AS BIGINT)").alias("val"),
            )
            .localCheckpoint(eager=(it == iterations))
        )
        history.append(s)
        if it == iterations - 1:
            prev_final = new
        else:
            history.append(new)
        cur = new
    # the eager final round materialized the whole chain; free every
    # superseded frame except the two returned sides
    for h in history:
        if h is not prev_final and h is not cur:
            _free(h)
    _free(e)
    a_side, h_side = (prev_final, cur) if side == "h" else (cur, prev_final)
    return a_side.select(
        F.lit("a").alias("side"), "node", "val"
    ).unionByName(h_side.select(F.lit("h").alias("side"), "node", "val"))


def personalized_pagerank_integer(
    edges: DataFrame,
    seed_node=None,
    iterations: int = 10,
    a_col: str = "pa",
    b_col: str = "pb",
    scale: int = 1_000_000_000_000,
    damping_pct: int = 85,
) -> DataFrame:
    """Personalized PageRank (random walk with restart) in fixed-point
    integers — pagerank_integer with the teleport mass concentrated on
    ONE seed node instead of spread uniformly: r' = restart·[node=seed]
    + 0.85·Σ contributions. THE similarity-to-a-node ranking behind
    'customers also bought' recommendations; converges to the
    restart-walk stationary distribution around the seed.

    seed_node=None picks the max-degree node (ties → min id) — a
    deterministic choice both engines can replay, computed from the
    PINNED (src, od) pairs (r12: the old form re-ran the caller's
    whole edge construction for the seed argmax before e2's checkpoint
    ran it again). Same exactness and overflow arguments as
    pagerank_integer (total mass is ≤ scale here, strictly easier);
    the same round loop (_integer_rank_rounds — one pipelined job for
    all rounds, not one blocking job per round).

    Returns (node, r) fixed-point ranks (nodes never reached hold 0
    implicitly and are not emitted — PPR mass is zero off the reachable
    set)."""

    e2 = _rank_edges(edges, a_col, b_col)
    if seed_node is None:
        # (src, od) pairs of e2 ARE the outdeg table (every node keeps
        # at least one symmetric edge), so the argmax reads the pinned
        # blocks instead of re-running the edge build — and this first
        # action is what materializes e2 for the whole loop.
        seed_node = (
            e2.select("src", "od")
            .distinct()
            .orderBy(F.desc("od"), F.asc("src"))
            .limit(1)
            .collect()[0]["src"]
        )
    restart = (scale * (100 - damping_pct)) // 100
    nodes = e2.select("src").distinct()
    ranks = nodes.select(
        F.col("src").alias("node"),
        F.when(F.col("src") == seed_node, F.lit(scale))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("r"),
    ).localCheckpoint(eager=False)
    teleport = F.when(F.col("dst") == seed_node, F.lit(restart)).otherwise(F.lit(0))
    return _integer_rank_rounds(e2, ranks, iterations, damping_pct, teleport)


def anf_hop_registers(
    edges: DataFrame,
    max_hops: int,
    a_col: str = "pa",
    b_col: str = "pb",
    m: int = 16,
) -> DataFrame:
    """ANF / HyperANF hop-neighborhood sketches (Palmer et al. 2002;
    Boldi et al. 2011) over an undirected graph: every node carries a
    16-register HLL sketch of the node set within ≤h hops, advanced
    one hop per round by the SKETCH-UNION recurrence
        N(v, h) = N(v, h−1) ∪ ⋃_{(v,u)∈E} N(u, h−1)
    which on registers is just max(rho) per (node, bucket) — one keyed
    join + one hash aggregate per hop, the 100 TB graduation of the
    exact seeded-BFS histogram (effective_diameter_copurchase): state
    is 16·|V| rows per hop REGARDLESS of how dense the reachable sets
    get, where exact hop sets grow as Σ|B(v,h)| (≈ |V|² on a
    small-world graph by hop 3).

    Returns (hop, node, bucket_hex, rho) for hop 0..max_hops — hop 0
    is each node's singleton sketch. Finalize any slice with the
    portable estimate arithmetic (operators/sketches.py
    HLL_SUMMARY_SQL, hll_estimate_sql(m)); register tables merge associatively so the per-hop
    snapshots also answer "NF of any seed subset" by filtering.

    Iteration shape: per round, edges ⋈ registers on the node key
    (register side ≤ 16·|V| rows), union with the previous table, one
    (node, bucket) max aggregate, LAZY localCheckpoint (plan-depth
    bound without a blocking job per hop — each snapshot materializes
    at its first action and is then reused by hop h+1 AND the final
    union; eager pins cost ~18% of the query at sf0.1, measured r11).
    Snapshots are RETAINED — every hop is part of the result.

    `m` picks the per-node sketch width: 16 (default, σ≈26%) or the
    r11 VERDICT #5 graduation 64 (σ≈13% at 4× register rows); the
    register format is operators/sketches.py hll_register_exprs."""
    from .sketches import hll_register_exprs

    sym = _sym_edges(edges, a_col, b_col).localCheckpoint()
    nodes = sym.select(F.col("src").alias("node")).distinct()
    # salt the sketch key: node sets are often PRE-SAMPLED by a hash
    # of the same id (the co-purchase slice keeps md5 first char 0-3),
    # and an unsalted sketch bucket reuses exactly those bits — only
    # 4 of 16 buckets could ever fill, capping every estimate at
    # 16·ln(16/12). The salt makes bucket/rho independent of any
    # id-hash sampling upstream.
    ex = hll_register_exprs("concat(CAST(node AS STRING), ':anf')", m)
    cur = nodes.select(
        "node",
        F.expr(ex["bucket_hex"]).alias("bucket_hex"),
        F.expr(ex["rho"]).alias("rho"),
    ).localCheckpoint()
    snaps = [cur.withColumn("hop", F.lit(0).cast("bigint"))]
    for h in range(1, max_hops + 1):
        contrib = sym.join(cur, sym["dst"] == cur["node"]).select(
            F.col("src").alias("node"), "bucket_hex", "rho"
        )
        cur = (
            cur.select("node", "bucket_hex", "rho")
            .unionByName(contrib)
            .groupBy("node", "bucket_hex")
            .agg(F.max("rho").alias("rho"))
            .localCheckpoint(eager=False)
        )
        snaps.append(cur.withColumn("hop", F.lit(h).cast("bigint")))
    return reduce(lambda x, y: x.unionByName(y), snaps).select(
        "hop", "node", "bucket_hex", "rho"
    )


def anf_hop_summary(
    edges: DataFrame,
    max_hops: int,
    a_col: str = "pa",
    b_col: str = "pb",
    m: int = 16,
) -> DataFrame:
    """Per-(hop, node) HLL estimate inputs — s_int = Σ 2^(49−ρ) over
    present registers and n_regs = their count — computed on a PACKED
    register layout (r12): one row per node carrying m rho columns
    instead of anf_hop_registers' one row per (node, bucket). The
    sketch-union recurrence max(rho) per (node, bucket) becomes m
    per-column MAX aggregates, so per-hop state and shuffle rows drop
    m-fold (16× at m=16, 64× at m=64) with the identical recurrence:
    column j holds bucket j's rho (0 = register empty; true rho ≥ 1),
    and column-wise max over the union of self + neighbor rows IS the
    per-bucket max over the unpacked rows. Column j is the register
    whose integer `bucket` (hll_register_exprs) is j, so s_int / n_regs
    are equal term-for-term to the unpacked operator's — pinned by
    pytest against anf_hop_registers on the same graph.

    Same checkpoint discipline as anf_hop_registers: per-hop LAZY
    localCheckpoints (plan-depth bound, no blocking job per hop);
    snapshots are all retained — every hop is part of the result."""
    from .sketches import hll_register_exprs, hll_term

    sym = _sym_edges(edges, a_col, b_col).localCheckpoint()
    nodes = sym.select(F.col("src").alias("node")).distinct()
    ex = hll_register_exprs("concat(CAST(node AS STRING), ':anf')", m)
    base = nodes.select(
        "node",
        F.expr(f"CAST({ex['bucket']} AS INT)").alias("_bidx"),
        F.expr(ex["rho"]).alias("_rho"),
    )
    rcols = [f"r{j}" for j in range(m)]
    cur = base.select(
        "node",
        *[
            F.expr(f"CAST(IF(_bidx = {j}, _rho, 0) AS INT)").alias(rcols[j])
            for j in range(m)
        ],
    ).localCheckpoint()
    snaps = [cur.withColumn("hop", F.lit(0).cast("bigint"))]
    for h in range(1, max_hops + 1):
        contrib = sym.join(cur, sym["dst"] == cur["node"]).select(
            F.col("src").alias("node"), *rcols
        )
        cur = (
            cur.select("node", *rcols)
            .unionByName(contrib)
            .groupBy("node")
            .agg(*[F.max(c).alias(c) for c in rcols])
            .localCheckpoint(eager=False)
        )
        snaps.append(cur.withColumn("hop", F.lit(h).cast("bigint")))
    s_int = " + ".join(
        f"IF({r} > 0, {hll_term(r)}, CAST(0 AS BIGINT))" for r in rcols
    )
    n_regs = " + ".join(f"IF({r} > 0, 1, 0)" for r in rcols)
    return reduce(lambda x, y: x.unionByName(y), snaps).select(
        "hop",
        "node",
        F.expr(f"CAST({s_int} AS BIGINT)").alias("s_int"),
        F.expr(f"CAST({n_regs} AS BIGINT)").alias("n_regs"),
    )


def bfs_hops_tagged(
    edges: DataFrame,
    seeds: list,
    max_hops: int,
    a_col: str = "pa",
    b_col: str = "pb",
) -> DataFrame:
    """Per-seed BFS hop distances for SEVERAL seeds in ONE frontier
    loop: the frontier carries a `seed` tag, so k seeds cost max_hops
    rounds of scheduling instead of k·max_hops (r11 — the 4-seed
    certificate BFS was over half of anf_hop_histogram's wall at 16
    blocking checkpoint rounds; tagging cuts it to 4). Work per round
    is the same Σ per-seed frontier ⋈ edges as k separate runs — only
    the job count shrinks; per-seed ball overlap is preserved because
    visited is keyed on (seed, node).

    Returns (seed, node, hop) with hop ∈ [0, max_hops], exactly the
    union of per-seed `bfs_hops` outputs (pytest-pinned).

    r12 rework (same as bfs_hops): the per-round frontier is a LAZY
    localCheckpoint materialized by the empty-frontier count (one job
    per round instead of three), and the visited set is the plan-level
    union of the frontier checkpoints — the old shape re-materialized
    all visited rows every round (O(|V|·hops) checkpoint writes) and
    needed the explicit superseded-frontier frees the r11 ADVICE
    audited; now every frontier block set is part of the result and
    nothing is freed or rewritten."""
    spark = edges.sparkSession
    sym = (
        _sym_edges(edges, a_col, b_col)
        .repartition("src")
        .localCheckpoint(eager=False)
    )
    frontier0 = (
        spark.createDataFrame([(s,) for s in seeds], "seed bigint")
        .select("seed", F.col("seed").alias("node"))
        .distinct()
        .withColumn("hop", F.lit(0))
        .repartition("node")
        .localCheckpoint(eager=False)
    )
    fronts = [frontier0]
    frontier = frontier0.select("seed", "node")
    for h in range(1, max_hops + 1):
        visited_keys = reduce(
            lambda x, y: x.unionByName(y),
            (f.select("seed", "node") for f in fronts),
        )
        reached = (
            frontier.join(sym, frontier["node"] == sym["src"])
            .select("seed", F.col("dst").alias("node"))
            .distinct()
        )
        new = (
            reached.join(visited_keys, ["seed", "node"], "left_anti")
            .withColumn("hop", F.lit(h))
            .localCheckpoint(eager=False)
        )
        if new.count() == 0:
            _free(new)
            break
        fronts.append(new)
        frontier = new.select("seed", "node")
    _free(sym)  # every front is count-materialized; sym is unneeded
    return reduce(lambda x, y: x.unionByName(y), fronts)
