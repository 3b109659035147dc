"""Distributed graph kernels over DataFrame edge lists.

Complements the connected-components kernel (pipeline/cc.py): PageRank and
triangle counting, both expressed as joins + map-side-combinable
aggregations so they scale as a constant number of |E|-shuffles per pass.

Semantics are pinned by tests against pure-python/numpy references
(tests/test_analytics.py) and by the kg_* rows' DuckDB twins in
queries_catalog.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def symmetrize(edges: DataFrame, src: str = "src_id",
               dst: str = "dst_id") -> DataFrame:
    """Distinct undirected simple edges (a < b) from a directed multi-edge
    list; self-loops dropped."""
    return (
        edges.filter(F.col(src) != F.col(dst))
        .select(F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b"))
        .distinct()
    )


def pagerank(nodes: DataFrame, und: DataFrame, iters: int = 5,
             damp: float = 0.85) -> DataFrame:
    """Fixed-iteration non-normalized PageRank over an undirected simple
    graph: r'(v) = (1−d) + d·Σ_{(u,v)} r(u)/deg(u); isolated nodes settle
    at (1−d).

    `nodes`: one column ``node``; `und`: canonical pairs ``a < b``.
    Plan: degrees attach to the adjacency ONCE and the result is
    materialized (localCheckpoint) so no iteration re-derives the edge
    subtree; the `ranks` plan is likewise checkpointed every
    ``checkpoint_every`` iterations, so lineage depth — and therefore
    per-iteration planning/recompute cost — stays bounded regardless of
    `iters`. Each iteration is one src-keyed join plus one dst-keyed
    partial agg — a single |E|-scale shuffle. At production scale,
    additionally bucket the adjacency by src so the per-iteration join
    reuses scan partitioning.
    """
    adj = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    deg = adj.groupBy("src").agg(F.count("*").cast("double").alias("deg"))
    # Built once, consumed every iteration: cut its lineage so iteration k
    # does not re-run the upstream edge pipeline k times.
    adj_deg = adj.join(deg, "src").localCheckpoint()
    # The spine is hash-partitioned + sorted on the join key ONCE before
    # its checkpoint (round-6, guide §2.4): interleaved A/B at 400k
    # edges / 6 iterations measured 7.3-13.2 s (as-was) -> 5.6-6.8 s
    # (repartition) -> 5.0-5.3 s (repartition + sort). Note the AQE-
    # wrapped checkpoint reports UnknownPartitioning in explain, so the
    # win is the hash-local, AQE-sized layout the checkpoint captures
    # (fewer/cheaper per-iteration shuffle blocks), asserted by
    # measurement rather than by plan metadata.
    node_ids = (nodes.select("node").repartition("node")
                .sortWithinPartitions("node").localCheckpoint())
    ranks = node_ids.select("node", F.lit(1.0).alias("pr"))
    checkpoint_every = 2
    for it in range(iters):
        contrib = (
            adj_deg.join(ranks, adj_deg.src == ranks.node)
            .groupBy("dst").agg(F.sum(F.col("pr") / F.col("deg")).alias("c"))
        )
        ranks = (
            node_ids
            .join(contrib, F.col("node") == F.col("dst"), "left")
            .select("node",
                    (F.lit(1 - damp)
                     + F.lit(damp) * F.coalesce("c", F.lit(0.0))).alias("pr"))
        )
        # Truncate the growing iterative plan; without this the optimizer
        # re-plans (and lineage re-executes) a tree that doubles per pass.
        if (it + 1) % checkpoint_every == 0 and (it + 1) < iters:
            ranks = ranks.localCheckpoint()
    return ranks


def triangle_counts(edges: DataFrame, a: str = "doc_a",
                    b: str = "doc_b") -> DataFrame:
    """Per-node triangle participation counts over canonical (a < b)
    undirected edges. Wedge join e1(a,b)⋈e2(b,c) + closing edge e3(a,c)
    finds each triangle exactly once; per-node counts union the three
    corners. At 100 TB, orient edges low→high *degree* instead of id to
    bound the wedge fan-out at hub nodes (same plan, different order).
    Returns (node, n_tri)."""
    # The edge list enters the wedge join THREE times; if it carries a
    # non-trivial lineage (here: the pipeline that built the KG edges)
    # the 3-way self-join would re-evaluate that subtree up to 3x unless
    # exchange reuse happens to fire. Materialize once — the
    # canonical edge list is ids-only, tiny relative to its lineage.
    edges = edges.select(a, b).localCheckpoint()
    e1 = edges.select(F.col(a).alias("ta"), F.col(b).alias("tb"))
    e2 = edges.select(F.col(a).alias("tb2"), F.col(b).alias("tc"))
    e3 = edges.select(F.col(a).alias("ta3"), F.col(b).alias("tc3"))
    tri = (
        e1.join(e2, F.col("tb") == F.col("tb2"))
        .join(e3, (F.col("ta") == F.col("ta3")) & (F.col("tc") == F.col("tc3")))
        .select("ta", "tb", "tc")
    )
    corners = tri.select(F.col("ta").alias("node")).unionAll(
        tri.select(F.col("tb").alias("node"))).unionAll(
        tri.select(F.col("tc").alias("node")))
    return corners.groupBy("node").agg(F.count("*").cast("long").alias("n_tri"))


def adamic_adar(und: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Adamic–Adar link prediction over an undirected simple graph
    (canonical ``a < b`` pairs): for every NON-edge (u, v) with at least
    one common neighbor n, score Σ_n 1/ln(deg(n)) — the classic
    common-neighbor index used to propose missing KG edges (KG
    completion). Returns (u, v, n_common, aa_micro).

    Numerics: each term is floored to integer micro-units
    (floor(1e6/ln(deg))) BEFORE summation, so the aggregate is an exact
    integer sum — order-independent across engines and partitionings (the
    float-twin discipline; a raw double Σ would depend on reduce order).
    ln(deg) ≥ ln(2) > 0 always: a common neighbor has degree ≥ 2.

    Plan shape (the triangle_counts discipline): the ids-only edge list is
    materialized once, then enters as three independent projections — two
    wedge legs joined on the shared neighbor + one left-anti against the
    existing edges. One |wedges|-scale shuffle; at 100 TB orient wedges at
    hub nodes by degree (or cap per-node fan-out) to bound the quadratic
    hub blow-up, exactly as triangle counting would."""
    und = und.select(a, b).localCheckpoint()
    adj = und.select(F.col(a).alias("src"), F.col(b).alias("dst")).unionAll(
        und.select(F.col(b).alias("src"), F.col(a).alias("dst")))
    deg = adj.groupBy("src").agg(F.count("*").alias("deg"))
    w1 = adj.select(F.col("src").alias("n"), F.col("dst").alias("u"))
    w2 = adj.select(F.col("src").alias("n2"), F.col("dst").alias("v"))
    wedges = (
        w1.join(w2, (F.col("n") == F.col("n2")) & (F.col("u") < F.col("v")))
        .select("n", "u", "v")
    )
    scored = (
        wedges.join(deg.select(F.col("src").alias("n"), "deg"), "n")
        .groupBy("u", "v")
        .agg(
            F.count("*").cast("long").alias("n_common"),
            F.sum(F.floor(F.lit(1000000.0)
                          / F.log(F.col("deg").cast("double"))).cast("long"))
             .cast("long").alias("aa_micro"),
        )
    )
    return scored.join(
        und.select(F.col(a).alias("u"), F.col(b).alias("v")),
        ["u", "v"], "left_anti")


def label_propagation(und: DataFrame, rounds: int = 3,
                      a: str = "doc_a", b: str = "doc_b") -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan et al. 2007)
    over canonical (a < b) undirected edges: labels start as node ids;
    each round every node adopts the most frequent label among its
    neighbors PLUS its own current label (the self-vote damps the
    bipartite flip-flop synchronous LPA is known for), ties broken by
    smallest label. Returns (node, label).

    Plan (the pagerank discipline): the edge list is materialized once
    (ids only); per round one dst-keyed join pulls neighbor labels, one
    map-side-combinable (node, label) count tallies votes, and the
    winner is picked by a hash aggregation max(struct(cnt, -label)) —
    lexicographic struct order IS (count desc, label asc), the same
    deterministic winner as a row_number window but without the
    node-partitioned SORT the window needs (measured ~1.2-1.5× per
    round at 400k edges; negation is order-reversing for the whole
    long range except LONG_MIN, which no id generator here emits).
    Labels are re-checkpointed so plan depth — and recompute cost —
    stays flat in `rounds`. Per-round state is node-sized. Cited
    behavior: community detection the reference's entity-link stage
    would sit upstream of; unlike connected components, LPA does not
    flood through one spurious near-dup edge."""
    from pyspark.sql.types import (ByteType, IntegerType, LongType,
                                   ShortType)

    for col in (a, b):
        if not isinstance(und.schema[col].dataType,
                          (ByteType, ShortType, IntegerType, LongType)):
            # the max(struct(cnt, -label)) winner pick negates the label,
            # which is only order-reversing for integral types (round-6,
            # ADVICE: a string-id caller — plausible since
            # connected_components accepts string sids — must fail loudly
            # here instead of silently corrupting tie-breaks)
            raise TypeError(
                f"label_propagation: column {col!r} must be integral "
                f"(got {und.schema[col].dataType}); map string ids to "
                "longs first")
    e = und.select(a, b).localCheckpoint()
    # the symmetrized adjacency enters one d-keyed join per round: hash-
    # partition + sort it on d ONCE (round-6, guide §2.4 — the pagerank
    # measured-layout discipline) so every round consumes the hash-local
    # checkpointed layout; the labels side arrives partitioned by node
    # from its winner-pick aggregation already
    und2 = (e.select(F.col(a).alias("s"), F.col(b).alias("d")).unionAll(
        e.select(F.col(b).alias("s"), F.col(a).alias("d")))
        .repartition("d").sortWithinPartitions("d").localCheckpoint())
    labels = und2.select(F.col("s").alias("node")).distinct().select(
        "node", F.col("node").alias("label")).localCheckpoint()
    for _ in range(rounds):
        nbr = und2.join(labels.withColumnRenamed("node", "d"), "d").select(
            F.col("s").alias("node"), "label")
        # one exchange serves BOTH aggregation levels (round-6, guide
        # §2.2): hash partitioning on node satisfies the clustered
        # distribution of groupBy(node, label) AND groupBy(node), so the
        # explicit repartition replaces two agg exchanges per round with
        # one — identical results (aggregation is partitioning-invariant)
        votes = nbr.unionAll(labels.select("node", "label")) \
            .repartition("node")
        cnt = votes.groupBy("node", "label").agg(F.count("*").alias("cnt"))
        labels = (
            cnt.groupBy("node")
            .agg(F.max(F.struct(F.col("cnt"),
                                (-F.col("label")).alias("nl"))).alias("w"))
            .select("node", (-F.col("w.nl")).alias("label"))
            .localCheckpoint()
        )
    return labels


def bgp_person_org_place(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Cyclic basic-graph-pattern match over a typed predicate graph:

        ?p ORG-AFF ?o .  ?p PHYS ?g .  OPTIONAL { ?o GEN-AFF ?g }
        ?p a PER .  ?o a ORG .  ?g a GPE .

    Used by the catalog row queries_catalog.q_kg_bgp_match, over the
    pipeline's constructed graph. Inputs:
    edges (src_id, dst_id, pred, weight), nodes (entity_id,
    canonical_name, type). Returns one row per binding with canonical
    names, both edge supports and the closure flag.

    Plan: the constant-predicate selections prune at the edge scan; BOTH
    star legs key on ?p = src_id so one hash partitioning serves the
    star join; the closing probe is a distinct 2-column projection
    equi-joined on (?o, ?g); the three type/name constraints are
    node-dim joins (entity table ≪ |E| — broadcast-eligible). Skewed
    hub bindings (?p with many orgs × many places) follow the
    degree-cap/salt discipline documented on triangle_counts."""
    aff = (edges.filter(F.col("pred") == "ORG-AFF")
           .select(F.col("src_id").alias("p"), F.col("dst_id").alias("o"),
                   F.col("weight").cast("long").alias("w_aff")))
    phys = (edges.filter(F.col("pred") == "PHYS")
            .select(F.col("src_id").alias("p"), F.col("dst_id").alias("g"),
                    F.col("weight").cast("long").alias("w_phys")))
    gen = (edges.filter(F.col("pred") == "GEN-AFF")
           .select(F.col("src_id").alias("o"), F.col("dst_id").alias("g"))
           .distinct().withColumn("closed", F.lit(1)))

    def typed(var: str, typ: str, name_col: str) -> DataFrame:
        return nodes.filter(F.col("type") == typ).select(
            F.col("entity_id").alias(var),
            F.col("canonical_name").alias(name_col))

    return (aff.join(phys, "p")
            .join(gen, ["o", "g"], "left")
            .join(typed("p", "PER", "person"), "p")
            .join(typed("o", "ORG", "org"), "o")
            .join(typed("g", "GPE", "place"), "g")
            .select(F.col("p").cast("long").alias("p"),
                    F.col("o").cast("long").alias("o"),
                    F.col("g").cast("long").alias("g"),
                    "person", "org", "place", "w_aff", "w_phys",
                    F.coalesce("closed", F.lit(0)).cast("long")
                     .alias("closed")))


def bounded_reachability(edges: DataFrame, max_hops: int = 3) -> DataFrame:
    """Directed min-hops closure within ``max_hops`` — the SPARQL
    property-path `p{1,k}` evaluator behind the catalog row
    queries_catalog.q_kg_reachability (over the pipeline's constructed
    graph).
    Input: edges with (src_id, dst_id); output (src_id, dst_id, hops)
    where hops is the SHORTEST directed path length ≤ max_hops.

    BFS frontier expansion: level k+1 equi-joins the level-k frontier to
    the edge list on the frontier's dst and left-anti joins everything
    already reached, so a pair is emitted exactly at its min-hops level
    (the anti-join IS the min() — no per-pair aggregation pass). Cycle
    self-reachability is kept. The edge list is localCheckpoint-ed once
    (2 narrow columns); each level's frontier re-checkpoints and the
    reached set is a lazy union over those eager levels, so plan depth —
    and recompute cost — stays flat in max_hops (the pagerank/LPA
    discipline). Depth stays capped: a web-scale
    transitive closure is quadratic and never materialized wholesale;
    hub fan-out follows the degree-cap/salt discipline documented on
    triangle_counts."""
    e = edges.select("src_id", "dst_id").distinct().localCheckpoint()
    reached = e.withColumn("hops", F.lit(1)).localCheckpoint()
    frontier = reached
    for k in range(2, max_hops + 1):
        nxt = (frontier.select(F.col("src_id"),
                               F.col("dst_id").alias("mid"))
               .join(e.select(F.col("src_id").alias("mid"),
                              F.col("dst_id").alias("new_dst")), "mid")
               .select("src_id", F.col("new_dst").alias("dst_id"))
               .distinct()
               .join(reached.select("src_id", "dst_id"),
                     ["src_id", "dst_id"], "left_anti")
               .withColumn("hops", F.lit(k)).localCheckpoint())
        # reached is a lazy union of checkpointed levels (round-6): the
        # anti-join and the final result only ever scan already-eager
        # frontier tables, so re-checkpointing the union bought nothing
        # but one extra materialization pass per level
        reached = reached.unionAll(nxt)
        frontier = nxt
    return reached


def bottleneck_paths(edges: DataFrame, max_hops: int = 3) -> DataFrame:
    """Bottleneck (widest-path) closure within ``max_hops`` over the
    (max, min) semiring: for every directed (src, dst) pair connected in
    ≤ max_hops hops, the STRONGEST CHAIN support — max over paths of the
    minimum edge weight along the path — plus the hop count of the
    shortest path achieving it. On a KG whose edge weights are evidence
    counts this answers "how strongly are these two entities connected
    through any chain of relations?", the trust-propagation dual of
    bounded_reachability's plain min-hops.

    Delta Bellman-Ford: parallel edges collapse to their max weight once
    (a weaker parallel edge can never appear on a widest path), then each
    level extends only the IMPROVED frontier — a candidate (src, dst,
    supp) survives iff supp strictly beats the incumbent best. Dominance
    is safe in this semiring: extending a path can only lower its support
    (min), so an equal-or-better incumbent found at an earlier-or-equal
    level dominates every extension within the hop cap, and strict
    improvement keeps ``hops`` = the first (smallest) level at which the
    final support was achieved — exactly the recursive twin's
    min(hops) FILTER (supp = max). Oracle: DuckDB WITH RECURSIVE
    enumerating all ≤ max_hops paths with least()-folded support.

    100-TB shape: the collapsed edge list is localCheckpoint-ed once (3
    narrow columns); each level is ONE equi-join on the frontier's dst +
    a map-side-combinable groupBy (per-pair max) + one left join against
    the incumbent table; frontier and best re-checkpoint per level so
    plan depth stays flat (the bounded_reachability discipline). The
    frontier SHRINKS as supports converge — delta propagation is the
    property that makes Bellman-Ford viable at scale. Depth stays capped;
    hub fan-out follows the triangle_counts degree-cap/salt note."""
    e = (edges.groupBy("src_id", "dst_id")
         .agg(F.max("weight").alias("w")).localCheckpoint())
    best = e.select(
        "src_id", "dst_id", F.col("w").alias("best_support"),
        F.lit(1).alias("hops")).localCheckpoint()
    frontier = best
    for k in range(2, max_hops + 1):
        cand = (
            frontier.select("src_id", F.col("dst_id").alias("mid"),
                            "best_support")
            .join(e.select(F.col("src_id").alias("mid"),
                           F.col("dst_id").alias("new_dst"), "w"), "mid")
            .select("src_id", F.col("new_dst").alias("dst_id"),
                    F.least("best_support", "w").alias("best_support"))
            .groupBy("src_id", "dst_id")
            .agg(F.max("best_support").alias("best_support"))
            .withColumn("hops", F.lit(k))
        )
        imp = (
            cand.join(best.select("src_id", "dst_id",
                                  F.col("best_support").alias("_cur")),
                      ["src_id", "dst_id"], "left")
            .filter(F.col("_cur").isNull()
                    | (F.col("best_support") > F.col("_cur")))
            .drop("_cur").localCheckpoint()
        )
        best = (best.join(imp.select("src_id", "dst_id"),
                          ["src_id", "dst_id"], "left_anti")
                .unionByName(imp).localCheckpoint())
        frontier = imp
    return best


def min_cost_paths(edges: DataFrame, max_hops: int = 3) -> DataFrame:
    """Cheapest-path closure within ``max_hops`` over the (min, +)
    semiring: for every directed (src, dst) pair connected in ≤ max_hops
    hops, the minimum total cost over all paths (sum of per-edge costs)
    plus the hop count of the shortest path achieving that cost. The
    additive dual of bottleneck_paths' (max, min): with edge cost set to
    an inverse-evidence "resistance", this is the trust-weighted distance
    a KG serving layer ranks explanation chains by.

    Input: edges with (src_id, dst_id, cost); parallel edges collapse to
    their min cost once (a costlier parallel edge can never lie on a
    cheapest path). Delta Bellman-Ford with strict-improvement dominance:
    a candidate survives iff its cost strictly beats the incumbent.
    Dominance is safe because extending a path only ADDS cost (costs are
    non-negative), so an equal-or-cheaper incumbent found at an
    earlier-or-equal level dominates every extension within the hop cap;
    strict improvement keeps ``hops`` = the first (smallest) level at
    which the final cost was achieved — the twin's min(hops) FILTER
    (cost = min). Cycle paths back to the source are kept, matching
    bounded_reachability.

    100-TB shape: identical to bottleneck_paths — the collapsed edge list
    localCheckpoints once, each level is one equi-join on the frontier's
    dst + a map-side-combinable per-pair min + one incumbent left join;
    frontier and best re-checkpoint per level so plan depth stays flat,
    and the frontier SHRINKS as costs converge. Hub fan-out follows the
    triangle_counts degree-cap/salt note."""
    e = (edges.groupBy("src_id", "dst_id")
         .agg(F.min("cost").alias("c")).localCheckpoint())
    best = e.select(
        "src_id", "dst_id", F.col("c").alias("min_cost"),
        F.lit(1).alias("hops")).localCheckpoint()
    frontier = best
    for k in range(2, max_hops + 1):
        cand = (
            frontier.select("src_id", F.col("dst_id").alias("mid"),
                            "min_cost")
            .join(e.select(F.col("src_id").alias("mid"),
                           F.col("dst_id").alias("new_dst"), "c"), "mid")
            .select("src_id", F.col("new_dst").alias("dst_id"),
                    (F.col("min_cost") + F.col("c")).alias("min_cost"))
            .groupBy("src_id", "dst_id")
            .agg(F.min("min_cost").alias("min_cost"))
            .withColumn("hops", F.lit(k))
        )
        imp = (
            cand.join(best.select("src_id", "dst_id",
                                  F.col("min_cost").alias("_cur")),
                      ["src_id", "dst_id"], "left")
            .filter(F.col("_cur").isNull()
                    | (F.col("min_cost") < F.col("_cur")))
            .drop("_cur").localCheckpoint()
        )
        best = (best.join(imp.select("src_id", "dst_id"),
                          ["src_id", "dst_id"], "left_anti")
                .unionByName(imp).localCheckpoint())
        frontier = imp
    return best


def hits(nodes: DataFrame, edges: DataFrame, iters: int = 3) -> DataFrame:
    """Fixed-iteration HITS hubs & authorities over the DIRECTED simple
    graph — the centrality pair PageRank can't express: a hub points at
    good authorities, an authority is pointed at by good hubs. On a KG
    whose edges run subject→object this separates "entities that assert
    many well-supported facts" from "entities many facts are about".

    Deliberately UNNORMALIZED so the scores stay exact integers: with
    h₀ = a₀ = 1, the recurrence aₖ(v) = Σ_{u→v} hₖ₋₁(u) then
    hₖ(u) = Σ_{u→v} aₖ(v) (the standard sequential update) keeps every
    score a sum of products of in/out-degrees — BIGINT-exact, so the twin
    gates hash-identical with no float tolerance, and the RANKING equals
    the L1-normalized textbook iteration (normalization is a positive
    per-iteration scalar). Growth is bounded by (d_max²)^iters; at
    iters=3 even d_max ~ 10³ stays far inside int64. Self-loops drop and
    parallel predicates collapse once (distinct (src, dst)).

    Plan shape per iteration: exactly two |E|-scale equi-join +
    map-side-combinable aggregations (one keyed on dst for a, one on src
    for h), each left-joined back onto the node spine so zero-degree
    nodes hold 0 rather than vanish; the h scores re-checkpoint per
    iteration so lineage stays flat (the pagerank discipline — a's
    lineage is one join over checkpointed inputs, bounded without its
    own eager materialization). At production scale
    the edge list would be bucketed by src/dst so both joins reuse scan
    partitioning."""
    e = (edges.filter(F.col("src_id") != F.col("dst_id"))
         .select("src_id", "dst_id").distinct().localCheckpoint())
    # spine pre-partitioned + sorted on the join key once (the pagerank
    # round-6 discipline — measured win from the hash-local AQE-sized
    # checkpoint layout; both per-iteration spine joins consume it)
    spine = (nodes.select("node").repartition("node")
             .sortWithinPartitions("node").localCheckpoint())
    h = spine.withColumn("h", F.lit(1).cast("long"))
    for _ in range(iters):
        a_in = (e.join(h.select(F.col("node").alias("src_id"), "h"),
                       "src_id")
                .groupBy("dst_id").agg(F.sum("h").alias("s")))
        # `a` is NOT checkpointed (round-6): its lineage is one join +
        # agg over the checkpointed e and h, so depth stays bounded; only
        # the last iteration's `a` is consumed twice (h_out + the final
        # join), one cheap recompute against 3 saved eager jobs
        a = (spine.join(a_in, spine["node"] == a_in["dst_id"], "left")
             .select("node", F.coalesce("s", F.lit(0))
                     .cast("long").alias("a")))
        h_out = (e.join(a.select(F.col("node").alias("dst_id"), "a"),
                        "dst_id")
                 .groupBy("src_id").agg(F.sum("a").alias("s")))
        h = (spine.join(h_out, spine["node"] == h_out["src_id"], "left")
             .select("node", F.coalesce("s", F.lit(0))
                     .cast("long").alias("h")).localCheckpoint())
    return h.join(a, "node").select("node", "h", "a")


def next_hop_table(edges: DataFrame, walk_len: int = 4) -> DataFrame:
    """Deterministic per-step next-hop table for hash-driven random walks
    (DeepWalk/node2vec corpus generation, RNG-free so partition-stable):
    over the symmetrized adjacency, step k at node a moves to the
    neighbor b minimizing md5("k:a:b") (lowercase-hex string order; b
    ascending breaks the astronomically-unlikely digest tie). Keying the
    hash on (step, cur, dst) — not on the walk id — makes the table
    precomputable: walk assembly becomes ``walk_len`` plain equi-joins
    against an O(|V|·walk_len) table instead of an iterated per-walk
    argmin, and every walk is replayable from the table alone.

    Returns (step, cur, nxt) for step 1..walk_len. One |E|·walk_len
    explode + a per-(step, cur) argmin — a map-side-combinable
    min(struct(hash, b)) hash aggregation (round-6: lexicographic struct
    order IS the former window's (hash asc, b asc) order, so the winner
    is identical, without the node-partitioned SORT of |E|·walk_len rows
    the row_number window paid — the label_propagation winner-pick
    discipline). Hub nodes carry the usual degree-cap/salt note
    (triangle_counts)."""
    und = symmetrize(edges)
    adj = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    cand = adj.withColumn(
        "step", F.explode(F.array(*[F.lit(i) for i in range(1, walk_len + 1)])))
    hkey = F.md5(F.concat_ws(":", "step", "a", "b"))
    return (cand.groupBy("step", F.col("a").alias("cur"))
            .agg(F.min(F.struct(hkey.alias("h"), F.col("b").alias("nxt")))
                 .alias("w"))
            .select("step", "cur", F.col("w.nxt").alias("nxt")))


def personalized_pagerank(edges: DataFrame, n_seeds: int = 5,
                          iters: int = 3) -> DataFrame:
    """Personalized PageRank from the ``n_seeds`` highest-degree
    entities (degree desc, id asc tie-break) over the undirected simple
    projection — the "related entities" serving primitive behind every
    KG recommendation panel ("people also connected to X"). Exact
    INTEGER arithmetic in micro-units so the twin is reduction-order
    safe: r_0(s, s) = 1e6, and each iteration emits per-edge terms
    (85 * r_k(u)) div (100 * deg(u)) — floor division applied BEFORE the
    sum, so every term is an exact integer on both engines — plus a
    150000 teleport on the seed. The tiny mass lost to flooring and to
    rows filtered at 0 is identical on both engines by construction.

    100-TB shape: the degree-annotated adjacency materializes ONCE
    (localCheckpoint — it enters every iteration); each iteration is one
    equi-join of the sparse rank table against it + one map-side-
    combinable groupBy; ranks re-checkpoint per iteration so plan depth
    stays flat (the pagerank/bounded_reachability discipline). The rank
    table stays sparse — |seeds| * (3-hop neighborhood), never
    |seeds| * |V| — and the seed selection is a driver-side top-k
    (TakeOrderedAndProject), never a global sort."""
    und = symmetrize(edges)
    adj = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = adj.groupBy("a").agg(F.count("*").alias("deg"))
    adj_deg = (adj.join(deg, "a")
               .select(F.col("a").alias("u"), F.col("b").alias("v"), "deg")
               .localCheckpoint())
    seeds = (deg.orderBy(F.col("deg").desc(), F.col("a").asc())
             .limit(n_seeds).select(F.col("a").alias("seed_id"))
             .localCheckpoint())
    teleport = seeds.select(
        "seed_id", F.col("seed_id").alias("node"),
        F.lit(150000).cast("long").alias("term"))
    r = seeds.select("seed_id", F.col("seed_id").alias("node"),
                     F.lit(1000000).cast("long").alias("r"))
    for _ in range(iters):
        contrib = (r.select("seed_id", F.col("node").alias("u"), "r")
                   .join(adj_deg, "u")
                   .select("seed_id", F.col("v").alias("node"),
                           F.expr("(85 * r) div (100 * deg)").alias("term")))
        r = (contrib.unionByName(teleport)
             .groupBy("seed_id", "node")
             .agg(F.sum("term").cast("long").alias("r"))
             .filter(F.col("r") > 0).localCheckpoint())
    return r.select("seed_id", "node", F.col("r").alias("ppr_micro"))


def neighbor_jaccard(edges: DataFrame) -> DataFrame:
    """Structural-role similarity: Jaccard overlap of neighbor sets for
    every entity pair sharing at least one neighbor on the undirected
    simple projection — high-overlap NON-edges are entity-resolution
    candidates the surface-form linker missed (two ids playing the same
    role in the same neighborhoods), and high-overlap edges flag
    near-duplicate relations. Returns (a, b, n_common, is_edge,
    jaccard) with a < b.

    Wedge join: adj(u, x) ⋈ adj(u, y) on the shared neighbor u with
    x < y → per-pair count = |N(x) ∩ N(y)|; union size by
    inclusion-exclusion from the degree table (never a second join
    against the neighbor lists). Pair fan-out is Σ_u deg(u)², the same
    hub-bounded shape as triangle_counts — degree-cap/salt hubs at
    scale; the edge flag is one equi-join against the (a < b) canonical
    edge list, ids-only throughout."""
    und = symmetrize(edges).localCheckpoint()
    adj = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = adj.groupBy("a").agg(F.count("*").alias("deg"))
    pairs = (adj.select(F.col("a").alias("u"), F.col("b").alias("x"))
             .join(adj.select(F.col("a").alias("u"), F.col("b").alias("y")),
                   "u")
             .filter(F.col("x") < F.col("y"))
             .groupBy("x", "y").agg(F.count("*").alias("n_common")))
    return (pairs
            .join(deg.select(F.col("a").alias("x"),
                             F.col("deg").alias("deg_x")), "x")
            .join(deg.select(F.col("a").alias("y"),
                             F.col("deg").alias("deg_y")), "y")
            .join(und.select(F.col("a").alias("x"), F.col("b").alias("y"),
                             F.lit(1).alias("is_edge")),
                  ["x", "y"], "left")
            .fillna(0, ["is_edge"])
            .select(F.col("x").alias("a"), F.col("y").alias("b"),
                    "n_common", F.col("is_edge").cast("long").alias("is_edge"),
                    F.round(F.col("n_common") / (F.col("deg_x")
                            + F.col("deg_y") - F.col("n_common")),
                            6).alias("jaccard")))


def entity_cards(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """SPARQL DESCRIBE-style entity cards: one row per entity with ≥1
    outgoing fact — canonical name/type, out-fact count, total evidence
    weight, in-degree, and a deterministic one-string digest of all
    outgoing facts (`pred:object_name(weight)` items, byte-order sorted,
    '; '-joined). The digest makes the fact set hash-comparable across
    snapshots. Expects edges (src_id, dst_id, pred, weight) and nodes
    (entity_id, canonical_name, type, ...).

    Scale shape: object names attach via ONE broadcast of the entity dim
    (|V| ≪ |E|); the card is a single map-side-combinable groupBy on
    src_id whose collect_list is bounded by per-entity out-degree (the
    hub bound a serving layer caps anyway); the in-degree census is a
    second ids-only groupBy joined entity-to-entity. The final
    name/type attach is |V|-to-|V| (cards is entity-grained), so it is
    left un-hinted — AQE picks broadcast when the dim fits and a
    co-partitioned shuffle join when it doesn't. No window, no global
    sort — ordering lives INSIDE each card via array_sort.
    Used by queries_catalog.q_kg_entity_card (driver-gated vs a
    string_agg(... ORDER BY item) DuckDB twin)."""
    dim = nodes.select("entity_id", "canonical_name", "type")
    dst_name = dim.select(F.col("entity_id").alias("dst_id"),
                          F.col("canonical_name").alias("obj_name"))
    item = F.concat("pred", F.lit(":"), "obj_name", F.lit("("),
                    F.col("weight").cast("long").cast("string"), F.lit(")"))
    cards = (edges.join(F.broadcast(dst_name), "dst_id")
             .select(F.col("src_id").alias("entity_id"), item.alias("item"),
                     F.col("weight").cast("long").alias("w"))
             .groupBy("entity_id")
             .agg(F.count("*").cast("long").alias("n_facts"),
                  F.sum("w").cast("long").alias("out_weight"),
                  F.array_join(F.array_sort(F.collect_list("item")), "; ")
                  .alias("card")))
    in_deg = (edges.groupBy(F.col("dst_id").alias("entity_id"))
              .agg(F.count("*").cast("long").alias("n_in")))
    return (cards.join(dim, "entity_id")
            .join(in_deg, "entity_id", "left")
            .select(F.col("entity_id").cast("long").alias("entity_id"),
                    "canonical_name", "type", "n_facts", "out_weight",
                    F.coalesce("n_in", F.lit(0)).cast("long").alias("n_in"),
                    "card"))


def khop_subgraph(edges: DataFrame, n_seeds: int = 3, k: int = 2) -> DataFrame:
    """Induced k-hop neighborhood export — the CONSTRUCT/visualization
    serving primitive ("fetch the subgraph around X"): for each of the
    ``n_seeds`` highest-degree entities (degree desc, id asc tie-break,
    the personalized_pagerank seed rule) every DIRECTED edge whose two
    endpoints both lie within k undirected hops of the seed, annotated
    with the endpoints' min-hop distances. Returns (seed_id, src_id,
    dst_id, pred, weight, src_hops, dst_hops).

    100-TB shape: seeded BFS touches only the seed neighborhoods — the
    frontier is deduped per level (groupBy min-hops) and re-checkpointed
    so plan depth stays flat (the bounded_reachability discipline); the
    induced-edge step is two ids-only equi-joins of the edge list
    against the per-seed reach set — never an all-pairs expansion."""
    und = symmetrize(edges)
    adj = (und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .select(F.col("a").alias("u"), F.col("b").alias("v"))
        .localCheckpoint())
    deg = adj.groupBy("u").agg(F.count("*").alias("deg"))
    seeds = (deg.orderBy(F.col("deg").desc(), F.col("u").asc())
             .limit(n_seeds).select(F.col("u").alias("seed_id"))
             .localCheckpoint())
    reach = seeds.select(
        "seed_id", F.col("seed_id").alias("node"),
        F.lit(0).cast("long").alias("hops"))
    frontier = reach
    for lvl in range(1, k + 1):
        frontier = (frontier.select("seed_id", F.col("node").alias("u"))
                    .join(adj, "u")
                    .select("seed_id", F.col("v").alias("node"),
                            F.lit(lvl).cast("long").alias("hops"))
                    .groupBy("seed_id", "node")
                    .agg(F.min("hops").alias("hops"))
                    .localCheckpoint())
        reach = reach.unionByName(frontier)
    rmin = (reach.groupBy("seed_id", "node")
            .agg(F.min("hops").cast("long").alias("hops"))
            .localCheckpoint())
    src_r = rmin.select("seed_id", F.col("node").alias("src_id"),
                        F.col("hops").alias("src_hops"))
    dst_r = rmin.select("seed_id", F.col("node").alias("dst_id"),
                        F.col("hops").alias("dst_hops"))
    return (edges.join(src_r, "src_id")
            .join(dst_r, ["seed_id", "dst_id"])
            .select("seed_id", "src_id", "dst_id", "pred",
                    F.col("weight").cast("long").alias("weight"),
                    "src_hops", "dst_hops"))


def pred_cardinality(edges: DataFrame) -> DataFrame:
    """Per-predicate cardinality profile over a (src_id, dst_id, pred)
    edge list: distinct edges / subjects / objects, max out-fan per
    subject and in-fan per object, mean out-fan (exact 6dp), plus the
    induced OWL-style is_functional / is_inverse_functional flags
    (max fan == 1). See q_kg_pred_cardinality for the scale argument
    (two map-side-combinable agg cascades, O(|preds|) broadcast join)."""
    e = edges.select("src_id", "dst_id", "pred")
    out_fan = (e.groupBy("pred", "src_id").agg(F.count("*").alias("f"))
               .groupBy("pred").agg(
                   F.count("*").alias("n_src"),
                   F.sum("f").alias("n_edges"),
                   F.max("f").alias("max_out"),
                   F.round(F.sum("f").cast("double")
                           / F.count("*").cast("double"), 6)
                    .alias("avg_out")))
    in_fan = (e.groupBy("pred", "dst_id").agg(F.count("*").alias("f"))
              .groupBy("pred").agg(
                  F.count("*").alias("n_dst"),
                  F.max("f").alias("max_in")))
    return out_fan.join(F.broadcast(in_fan), "pred").select(
        "pred",
        F.col("n_edges").cast("long").alias("n_edges"),
        F.col("n_src").cast("long").alias("n_src"),
        F.col("n_dst").cast("long").alias("n_dst"),
        F.col("max_out").cast("long").alias("max_out"),
        F.col("max_in").cast("long").alias("max_in"),
        "avg_out",
        (F.col("max_out") == 1).alias("is_functional"),
        (F.col("max_in") == 1).alias("is_inverse_functional"))


def pred_implication(edges: DataFrame) -> DataFrame:
    """Length-1 Horn-rule mining (AMIE-style) over a (src_id, dst_id,
    pred) edge list: for every ordered predicate pair, confidence of
    p1(x,y) => p2(x,y) ('same') and p1(x,y) => p2(y,x) ('inv');
    support = entity pairs where both hold, confidence = support /
    |p1 pairs| at exact 6dp. Self-rules are kept only in the 'inv'
    direction (p(x,y) => p(y,x) with confidence 1 flags a symmetric
    predicate); 'same' self-rules are trivially 1 and excluded. One
    pair-keyed self-join each direction; marginals broadcast."""
    e = edges.select("src_id", "dst_id", "pred").distinct()
    marg = e.groupBy("pred").agg(F.count("*").alias("n_p1"))
    a = e.select("src_id", "dst_id", F.col("pred").alias("p1"))
    same = (a.join(e.select("src_id", "dst_id",
                            F.col("pred").alias("p2")),
                   ["src_id", "dst_id"])
            .filter(F.col("p1") != F.col("p2"))
            .withColumn("direction", F.lit("same")))
    inv = (a.join(e.select(F.col("dst_id").alias("src_id"),
                           F.col("src_id").alias("dst_id"),
                           F.col("pred").alias("p2")),
                  ["src_id", "dst_id"])
           .withColumn("direction", F.lit("inv")))
    return (same.unionByName(inv)
            .groupBy("p1", "p2", "direction")
            .agg(F.count("*").alias("support"))
            .join(F.broadcast(marg), F.col("p1") == F.col("pred"))
            .select(
                "p1", "p2", "direction",
                F.col("support").cast("long").alias("support"),
                F.col("n_p1").cast("long").alias("n_p1"),
                F.round(F.col("support").cast("double")
                        / F.col("n_p1").cast("double"), 6)
                 .alias("confidence")))


def functional_conflicts(edges: DataFrame,
                         func_share_min: float = 0.8) -> DataFrame:
    """Cardinality-constraint conflict detection over a (src_id, dst_id,
    pred) edge list — the upsert-QA pass that pred_cardinality's induced
    profile licenses: every subject holding MORE than one distinct object
    under a predicate is a conflict candidate, and the per-predicate
    functional share (fraction of subjects with exactly one object)
    routes it — candidates under a mostly-functional predicate
    (share >= func_share_min) are the "person with two birthplaces" rows
    a curator must resolve; the rest are ordinary multi-valued facts.
    Emits (pred, src_id, n_obj, func_share, is_suspect, objs) with objs a
    deterministic ascending comma digest of the conflicting object ids.

    100-TB shape: one distinct projection, one (pred, src)-keyed agg
    (map-side combinable; the digest is bounded by per-subject out-fan,
    the same bound entity_cards rides), one O(|preds|·|V|)-row profile
    agg, profile broadcast back. No self-join, no corpus-scale sort."""
    fan = (edges.select("src_id", "dst_id", "pred").distinct()
           .groupBy("pred", "src_id")
           .agg(F.countDistinct("dst_id").alias("n_obj"),
                F.concat_ws(",", F.transform(
                    F.array_sort(F.collect_set("dst_id")),
                    lambda x: x.cast("string"))).alias("objs")))
    profile = fan.groupBy("pred").agg(
        F.round(F.sum((F.col("n_obj") == 1).cast("long")).cast("double")
                / F.count("*").cast("double"), 6).alias("func_share"))
    return (fan.filter(F.col("n_obj") > 1)
            .join(F.broadcast(profile), "pred")
            .select("pred", "src_id",
                    F.col("n_obj").cast("long").alias("n_obj"),
                    "func_share",
                    (F.col("func_share") >= F.lit(func_share_min))
                    .alias("is_suspect"),
                    "objs"))


def redundant_edges(edges: DataFrame, same_pred: bool = True) -> DataFrame:
    """One-step transitive redundancy over a (src_id, dst_id, pred) edge
    list — the transitive-reduction prepass of KG compression: an edge
    (a, c, p) is redundant when some mid b (distinct from both endpoints)
    carries a 2-hop chain a→b→c. ``same_pred=True`` requires both chain
    legs to carry p itself (classic transitive reduction of one
    relation); ``same_pred=False`` accepts ANY predicate pair — the
    derivable-fact census that is the inverse of rule materialization
    (kg_infer_edges ADDS missing closures; this reports present edges a
    minimized serving graph could drop). Emits each redundant edge with
    its chain-witness count (pred, src_id, dst_id, n_witness).

    100-TB shape: the distinct edge list is materialized ONCE
    (localCheckpoint — it enters the plan three times; the
    triangle_counts lesson), the wedge is one equi-join keyed on the mid
    (plus pred in same-pred mode), and redundancy is an ids-only inner
    join back to the edge list, never an all-pairs probe. Hub mids are
    the skew risk — at real scale cap or salt on degree exactly as
    triangle_counts documents; the wedge fan-out is
    Σ_b deg_in(b)·deg_out(b) (per pred in same-pred mode)."""
    e = edges.select("src_id", "dst_id", "pred").distinct().localCheckpoint()
    keys = ["b", "pred"] if same_pred else ["b"]
    w1 = e.select(F.col("src_id").alias("a"), F.col("dst_id").alias("b"),
                  *(["pred"] if same_pred else []))
    w2 = e.select(F.col("src_id").alias("b"), F.col("dst_id").alias("c"),
                  *(["pred"] if same_pred else []))
    grp = ([F.col("pred").alias("wp")] if same_pred else []) + \
        [F.col("a"), F.col("c")]
    wedges = (w1.join(w2, keys)
              .filter((F.col("b") != F.col("a"))
                      & (F.col("b") != F.col("c"))
                      & (F.col("a") != F.col("c")))
              .groupBy(*grp)
              .agg(F.count("*").alias("n_witness")))
    cond = (F.col("a") == F.col("src_id")) & (F.col("c") == F.col("dst_id"))
    if same_pred:
        cond = cond & (F.col("wp") == F.col("pred"))
    return (wedges.join(e, cond)
            .select("pred", "src_id", "dst_id",
                    F.col("n_witness").cast("long").alias("n_witness")))


def rule_mine_2hop(edges: DataFrame) -> DataFrame:
    """AMIE-style closed 2-hop Horn-rule mining over a (src_id, dst_id,
    pred) edge list: for every predicate triple (p1, p2, p3) score the
    rule  p1(x,y) AND p2(y,z) => p3(x,z)  on non-degenerate paths
    (x, y, z pairwise distinct). ``body_pairs`` = distinct (x, z)
    bindings of the body per (p1, p2); ``support`` = body bindings whose
    head edge p3(x,z) is present; ``conf_std`` = support / body_pairs
    (closed-world confidence); ``conf_pca`` = support / |body bindings
    whose x has SOME p3 fact| — the partial-completeness-assumption
    denominator of Galarraga et al. 2013 (AMIE): under an open world, an
    x with no known p3 edge is unknown, not a counterexample. Only rules
    with support >= 1 are emitted (zero-support candidates are the
    O(|preds|^3) tail a miner prunes). This is the length-2 extension of
    pred_implication (length-1 rules) and the scoring pass whose winners
    kg_infer_edges-style forward chaining materializes.

    100-TB shape: the distinct edge list is materialized ONCE
    (localCheckpoint — it enters the plan four times), the body is one
    mid-keyed wedge equi-join collapsed to distinct (p1, p2, x, z) and
    re-materialized (it also enters three downstream joins); support is
    an (x, z)-keyed ids-only join against the edge list and the PCA
    denominator an x-keyed join against the O(|preds|*|V|) distinct
    subject table — never an all-pairs probe. Hub mids are the skew
    risk; cap or salt on degree exactly as triangle_counts documents."""
    e = edges.select("src_id", "dst_id", "pred").distinct().localCheckpoint()
    w1 = e.select(F.col("src_id").alias("x"), F.col("dst_id").alias("y"),
                  F.col("pred").alias("p1"))
    w2 = e.select(F.col("src_id").alias("y"), F.col("dst_id").alias("z"),
                  F.col("pred").alias("p2"))
    body = (w1.join(w2, "y")
            .filter((F.col("x") != F.col("y")) & (F.col("y") != F.col("z"))
                    & (F.col("x") != F.col("z")))
            .select("p1", "p2", "x", "z").distinct().localCheckpoint())
    body_n = body.groupBy("p1", "p2").agg(F.count("*").alias("body_pairs"))
    head = e.select(F.col("src_id").alias("x"), F.col("dst_id").alias("z"),
                    F.col("pred").alias("p3"))
    sup = (body.join(head, ["x", "z"])
           .groupBy("p1", "p2", "p3").agg(F.count("*").alias("support")))
    subj = e.select(F.col("pred").alias("p3"),
                    F.col("src_id").alias("x")).distinct()
    pca = (body.join(subj, "x")
           .groupBy("p1", "p2", "p3").agg(F.count("*").alias("pca_body")))
    return (sup.join(pca, ["p1", "p2", "p3"])
            .join(F.broadcast(body_n), ["p1", "p2"])
            .select(
                "p1", "p2", "p3",
                F.col("body_pairs").cast("long").alias("body_pairs"),
                F.col("support").cast("long").alias("support"),
                F.col("pca_body").cast("long").alias("pca_body"),
                F.round(F.col("support").cast("double")
                        / F.col("body_pairs").cast("double"), 6)
                 .alias("conf_std"),
                F.round(F.col("support").cast("double")
                        / F.col("pca_body").cast("double"), 6)
                 .alias("conf_pca")))


def community_modularity(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """Community detection + Newman modularity over a directed (src_id,
    dst_id) edge list, viewed undirected: canonical (a < b) distinct
    pairs (self-loops dropped) run the deterministic synchronous LPA of
    ``label_propagation`` for a pinned ``rounds``; each community then
    gets one row (community, n_nodes, within_edges, degree_sum,
    modularity) where modularity is that community's Newman term
    e_c/m - (d_c/(2m))^2 at 6dp — summing the column gives the
    partition's Q, and per-community rows (not one global scalar) keep
    the whole assignment hash-pinnable. Unlike the connected-component
    census (cc_components) this splits weakly-bridged regions instead of
    flooding through single spurious edges, and the modularity column is
    the quality gate that decides whether the split is real structure.

    100-TB shape: the canonical pair list is materialized once; LPA is
    per-round one dst-keyed join + one map-side-combinable vote count +
    one hash-aggregated max(struct(cnt, -label)) winner pick
    (label_propagation's checkpointed discipline, plan depth flat in
    rounds); degrees are one
    map-side-combinable count; the three per-community aggregates are
    label-keyed shuffles of node-sized frames and |m| rides a 1-row
    broadcast. Output is O(#communities)."""
    e = (edges.filter(F.col("src_id") != F.col("dst_id"))
         .select(F.least("src_id", "dst_id").alias("a"),
                 F.greatest("src_id", "dst_id").alias("b"))
         .distinct().localCheckpoint())
    lab = label_propagation(e, rounds=rounds, a="a", b="b")
    m = e.agg(F.count("*").alias("m"))
    deg = (e.select(F.col("a").alias("node")).unionAll(
               e.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count("*").alias("deg")))
    com = lab.groupBy(F.col("label").alias("community")).agg(
        F.count("*").alias("n_nodes"))
    dsum = (lab.join(deg, "node")
            .groupBy(F.col("label").alias("community"))
            .agg(F.sum("deg").alias("degree_sum")))
    la = lab.select(F.col("node").alias("a"), F.col("label").alias("ca"))
    lb = lab.select(F.col("node").alias("b"), F.col("label").alias("cb"))
    win = (e.join(la, "a").join(lb, "b")
           .filter(F.col("ca") == F.col("cb"))
           .groupBy(F.col("ca").alias("community"))
           .agg(F.count("*").alias("within_edges")))
    return (com.join(dsum, "community")
            .join(win, "community", "left")
            .crossJoin(F.broadcast(m))
            .select(
                F.col("community").cast("long").alias("community"),
                F.col("n_nodes").cast("long").alias("n_nodes"),
                F.coalesce("within_edges", F.lit(0)).cast("long")
                 .alias("within_edges"),
                F.col("degree_sum").cast("long").alias("degree_sum"),
                F.round(
                    F.coalesce("within_edges", F.lit(0)).cast("double")
                    / F.col("m").cast("double")
                    - F.pow(F.col("degree_sum").cast("double")
                            / (F.lit(2.0) * F.col("m").cast("double")),
                            F.lit(2.0)), 6).alias("modularity")))
