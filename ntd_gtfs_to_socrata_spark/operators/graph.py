"""Distributed connected components over an edge DataFrame.

The operator that turns near-duplicate PAIRS into duplicate CLUSTERS — the
step every large-scale training-data dedup pipeline needs between candidate
generation (MinHash-LSH / shingle Jaccard) and "keep one doc per cluster".
The reference has no graph surface at all (▲ north-star).

Small graphs skip the loop. ``connected_components`` counts the distinct
directed edges on the checkpoint it already runs (an ``observe()``
metric, so the check costs no job); at or below ``_SMALL_GRAPH_EDGES``
(200,000 rows) it collects them as Arrow batches (one job) and runs
union-find on the driver, whatever the diameter. In
``dedup_lsh_pipeline`` (17 verified edges) the call went from 28 jobs to
15: the edge checkpoint's 14, which run the upstream LSH stages, and
the collect. At the bound the solve takes 0.7 s and 24 MB of driver heap
(figures beside the constant). It runs on the driver, not in one
``applyInPandas`` task, because a Python worker stage costs about what
the rounds it replaces do: a trivial ``mapInPandas`` job over 31 rows
takes 0.36 s (median of 10; 0.25-0.39) against 0.07 s (0.06-0.11) for
its JVM equivalent on a warm ``local[4]`` session. The labels come back as a local frame that plans
as a ``LocalTableScan``.

Algorithm above the bound: iterative min-label propagation. Every node
starts labeled with its own id; each round every node takes the min of
its own label and its neighbors' labels; fixpoint = components labeled
by their minimum node id.
Rounds needed = graph diameter — near-dup graphs are dense clumps with tiny
diameters (2-4), so this converges in a handful of rounds. For adversarial
long-chain graphs, the large-star/small-star variant (Kiveris et al.,
"Connected Components in MapReduce and Beyond") halves the diameter per
round; the propagation loop below is the right default for dedup workloads.

Scale posture per round:
- ONE shuffle join (edges ⋈ labels on node key) + ONE aggregation, both
  hash-partitioned on the node key, so successive rounds reuse partitioning.
- labels are (long, long) pairs — the shuffle payload is 16 bytes/row no
  matter how wide the documents are.
- ``stagecache.checkpoint`` cuts lineage each round (local or reliable,
  see that module), each round's checkpoint superseding the last.
- convergence is detected by counting the labels a round lowers (a
  neighbor's label below the node's own): a round that lowers none IS
  the fixpoint — and the count rides the checkpoint job as an
  ``observe()`` metric (fires on eager materialization), so a round is
  ONE job, with no separate scalar-agg scan and no join-and-compare of
  consecutive label sets. A count works for any orderable id type and
  cannot overflow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ntd_gtfs_to_socrata_spark.operators.stagecache import checkpoint


# Largest distinct directed edge set (both directions of every input
# edge) that connected_components solves on the driver. Measured at the
# bound on a warm local[4] session, a random graph of 100,000 edges over
# 60,000 ids (199,990 directed rows, 125 components): the driver solve
# (Arrow collect + union-find + local frame) takes 0.7 s and peaks at
# 24 MB of Python heap; the whole call takes 1.05 s against 11.5-12.6 s
# for the loop on the same graph. Past the bound the collected edges and
# the local frame, which every downstream plan carries, grow with the
# graph, so larger graphs keep the distributed loop.
_SMALL_GRAPH_EDGES = 200_000
# Id types whose Python order and equality are Spark's: integers, and
# strings under the default binary collation (UTF-8 byte order is code
# point order). Floats (NaN, -0.0), decimals, dates and collated strings
# take the loop.
_DRIVER_ID_TYPES = (
    T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType(), T.StringType(),
)


def undirected(df: DataFrame, a: str, b: str, u: str, v: str) -> DataFrame:
    """Both directions of every ``(a, b)`` row of ``df``, as ``(u, v)``
    rows. Duplicates and self-loops pass through; callers add
    ``.distinct()`` where they need an edge set.

    Both directions come from ONE pass over ``df`` (an explode of a
    2-element array, not a union of two branches): a union re-lists — and
    re-EXECUTES — the upstream edge-producing subtree per branch, which is
    ruinous when edges come from an expensive pair generator (dedup verify
    joins, shingle inverted indexes)."""
    return df.select(
        F.explode(
            F.array(
                F.struct(F.col(a).alias(u), F.col(b).alias(v)),
                F.struct(F.col(b).alias(u), F.col(a).alias(v)),
            )
        ).alias("e")
    ).select(f"e.{u}", f"e.{v}")


def _rounds(state: DataFrame, step, n: int) -> DataFrame:
    """Apply ``step(state, i)`` for ``i`` in ``0 .. n-1``; return the last
    state.

    Lineage is cut every second round and never after the last one, each
    checkpoint superseding the previous one (not the caller's initial
    state). A fixed-round loop has no convergence probe riding the
    checkpoint job, so each materialization is pure overhead: one
    scheduled job plus a full write of the state. A cadence of 2 keeps
    the plan depth bounded (it doubles, once) while halving the
    checkpoint jobs and state writes; measured 3.2 s → 2.8 s for
    ``pagerank`` on the near-dup graph at sf0.1 with bit-identical ranks,
    and at 100 TB the same cadence halves the DFS bytes reliable-mode
    checkpointing writes. The last round is never cut: the caller's one
    action executes it directly, and a checkpoint there would only
    materialize the result twice."""
    cut = None
    for i in range(n):
        state = step(state, i)
        if i % 2 == 1 and i < n - 1:
            state = cut = checkpoint(state, supersedes=cut)
    return state


def _until_fixpoint(state, step, budget: int, name: str, remedy: str, changed=None):
    """Apply ``step(state) -> (state, changed)`` until a step reports that
    it changed nothing; return that step's state.

    ``changed`` is a count the step observes on its checkpoint job (an
    ``observe()`` metric fires on the eager materialization), so the
    convergence check costs no job of its own. A known-zero starting
    ``changed`` returns ``state`` at once. Every step counts against
    ``budget``, the one that reports zero included; exhaustion RAISES,
    with ``remedy`` telling the caller what to change — a partial
    labeling or a partial peel is a silently WRONG result, so a loop
    never returns one."""
    if changed == 0:
        return state
    for _ in range(budget):
        state, changed = step(state)
        if changed == 0:
            return state
    raise RuntimeError(
        f"{name} did not converge within {budget} rounds (a partial result "
        f"would be wrong); {remedy}"
    )


def _components_on_driver(bidir: DataFrame) -> DataFrame:
    """Label the checkpointed directed edge set ``bidir`` (u, v) with
    union-find on the driver: union by min id (the surviving root is
    always its component's minimum) and path compression. Returns
    (node, component_id) as a local frame — built from an Arrow table, it
    plans as a JVM ``LocalTableScan`` whatever the session's Arrow
    setting, with no Python worker and no RDD scan."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    has_null = False
    # one job; Arrow batches, not pickled Rows (0.08 s against 0.9 s for
    # collect() at 200,000 rows). bidir holds both directions, so every
    # endpoint shows up as u
    edges = bidir.toArrow()
    for u, v in zip(edges.column("u").to_pylist(), edges.column("v").to_pylist()):
        if u is None:
            has_null = True
            continue
        parent.setdefault(u, u)
        if v is None:
            continue
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    nodes = list(parent)
    comps = [find(n) for n in nodes]
    if has_null:
        nodes.append(None)
        comps.append(None)
    field = bidir.schema["u"]
    schema = T.StructType(
        [
            T.StructField("node", field.dataType, field.nullable),
            T.StructField("component_id", field.dataType, field.nullable),
        ]
    )
    at = to_arrow_type(field.dataType)
    table = pa.table(
        {"node": pa.array(nodes, type=at), "component_id": pa.array(comps, type=at)}
    )
    return bidir.sparkSession.createDataFrame(table, schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
) -> DataFrame:
    """Return (node, component_id) for every node appearing in ``edges``,
    where component_id is the minimum node id in the component.

    ``edges`` is treated as undirected; self-loops and duplicates are fine.
    A NULL endpoint yields one ``(NULL, NULL)`` row and joins no
    component.

    Small graphs are solved on the driver: the distinct directed edge
    set is checkpointed as before, its row count rides that checkpoint as
    an ``observe()`` metric, and at or below ``_SMALL_GRAPH_EDGES`` rows
    (with integral or plain-string ids, whose Python order is Spark's)
    the edges are collected (one job) and labeled by union-find; the
    result is a local frame with the loop's column types. Only the edge
    checkpoint's jobs and the collect run, whatever the diameter — and
    ``max_iterations`` does not apply, since there are no rounds.

    Larger graphs run the min-label loop, which raises ``RuntimeError`` if
    the fixpoint is not reached within ``max_iterations`` — partial labels
    are silently WRONG component ids (a long-chain graph whose diameter
    exceeds the budget would split one component into many), so
    exhaustion must never return. Near-dup graphs converge in a handful of
    rounds; a raise here means the input is not a dedup-shaped graph —
    raise the budget or switch to a diameter-halving scheme
    (large-star/small-star, Kiveris et al.).
    """
    size = Observation()
    bidir = (
        undirected(edges, src, dst, "u", "v")
        .distinct()
        .observe(size, F.count(F.lit(1)).alias("n"))
        .transform(checkpoint)
    )
    if (
        size.get["n"] <= _SMALL_GRAPH_EDGES
        and bidir.schema["u"].dataType in _DRIVER_ID_TYPES
    ):
        return _components_on_driver(bidir)
    labels = (
        bidir.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .transform(checkpoint)
    )

    # NOTE (r14, measured and REJECTED): fusing TWO propagation steps per
    # materialized round — sound for correctness (labels are monotone
    # non-increasing, so a double round that lowers no label still
    # certifies the fixpoint) — made every consumer's job count WORSE
    # (dedup_soft_weight 24 -> 31 jobs, tp_cluster_aware_split -> 30,
    # release_pipeline_counts -> 38): near-dup graphs converge in ~2
    # steps, so the fused loop executes extra propagation joins past the
    # fixpoint (detection lags a full double round) and AQE submits the
    # deeper per-round plan as MORE stage-jobs, not fewer. Single-step
    # rounds with the probe riding each checkpoint are the measured
    # optimum for fast-converging graphs.
    def lower(labels: DataFrame):
        nbr_min = (
            bidir.join(labels, bidir.v == labels.node)
            .groupBy(F.col("u").alias("node2"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # the probe counts the labels this round lowers: zero IS the
        # fixpoint. (A sum of labels would cast string ids to double,
        # which fails under ANSI, and can overflow on 64-bit hashed ids.)
        lowered = Observation()
        nxt = (
            labels.join(nbr_min, labels.node == F.col("node2"), "left")
            .observe(
                lowered, F.count_if(F.col("nbr_label") < F.col("label")).alias("n")
            )
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            .transform(lambda d: checkpoint(d, supersedes=labels))
        )
        return nxt, lowered.get["n"]

    labels = _until_fixpoint(
        labels,
        lower,
        max_iterations,
        "connected_components",
        "the graph diameter exceeds the propagation budget; raise "
        "max_iterations or use connected_components_star (diameter-halving)",
    )
    return labels.select("node", F.col("label").alias("component_id"))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge set; returns
    (node, rank) for every node that appears as a source or target.

    The classic centrality score a web-corpus curation pipeline uses for
    link-based document quality (the reference has no graph surface; ▲
    north-star). FIXED iteration count, not convergence detection, so the
    result is a deterministic function of the edge set and a declarative
    (unrolled-CTE) SQL oracle can reproduce it exactly.

    Simplified formulation (no dangling-mass redistribution):
    ``r_0(n) = 1.0``; ``r_{i+1}(n) = (1-d) + d * Σ_{(m,n)∈E} r_i(m)/outdeg(m)``.
    Nodes with no in-edges settle at ``1-d``.

    Scale posture per iteration: ONE shuffle join (edges ⋈ ranks on the
    source key — out-degrees are precomputed once and travel WITH the
    edge rows, so no second join) + ONE aggregation on the target key.
    Rank state is (long, double) = 16 bytes/row regardless of document
    width; lineage is cut every second round, never after the last (see
    ``_rounds``). Skewed in-degree (a viral page) is an AQE skew-join
    case; the contribution aggregation itself partial-combines map-side.
    """
    # materialize the distinct edge set ONCE before deriving out-degrees
    # and the node universe — e_deg and nodes otherwise each re-execute
    # the full upstream edge-producing subtree (expensive when edges come
    # from a pair generator)
    e = (
        edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"))
        .distinct()
        .transform(checkpoint)
    )
    outdeg = e.groupBy("e_src").agg(F.count(F.lit(1)).alias("outdeg"))
    # out-degree joined ONCE and carried on the edge row — each iteration
    # then needs only the rank join, not a rank join plus a degree join
    e_deg = e.join(outdeg, "e_src").transform(checkpoint)
    nodes = (
        e.select(F.explode(F.array("e_src", "e_dst")).alias("node"))
        .distinct()
        .transform(checkpoint)
    )

    def step(ranks: DataFrame, i: int) -> DataFrame:
        contrib = (
            e_deg.join(ranks, e_deg.e_src == ranks.node)
            .groupBy(F.col("e_dst").alias("node2"))
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("in_sum"))
        )
        return nodes.join(contrib, nodes.node == F.col("node2"), "left").select(
            "node",
            (
                F.lit(1.0 - damping)
                + F.lit(damping) * F.coalesce(F.col("in_sum"), F.lit(0.0))
            ).alias("rank"),
        )

    return _rounds(nodes.select("node", F.lit(1.0).alias("rank")), step, iterations)


def _large_star(e: DataFrame, moved: Observation) -> DataFrame:
    """Large-star: every node u links its STRICTLY LARGER neighbors to the
    minimum of its closed neighborhood min(Γ⁺(u)). Preserves connectivity;
    strictly reduces edge "height". One shuffle join + one agg. ``moved``
    counts the edges it rewires (u is not its neighborhood's minimum)."""
    bidir = (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )
    mins = bidir.groupBy("u").agg(F.min("v").alias("mn"))
    m = F.least(F.col("u"), F.col("mn")).alias("new_v")
    return (
        bidir.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .observe(moved, F.count_if(F.col("mn") < F.col("u")).alias("n"))
        .select(F.col("v").alias("u"), m.alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame, moved: Observation) -> DataFrame:
    """Small-star: orient each edge high→low; every high node links all its
    smaller neighbors (and itself) to their minimum. Completes the
    star-collapse the large-star set up. One shuffle join + one agg.
    ``moved`` counts the edges it rewires (v is not u's smallest
    neighbor)."""
    hi_lo = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    mins = hi_lo.groupBy("u").agg(F.min("v").alias("mn"))
    linked = hi_lo.join(mins, "u").observe(
        moved, F.count_if(F.col("v") != F.col("mn")).alias("n")
    )
    to_min = linked.select(F.col("v").alias("u"), F.col("mn").alias("v"))
    self_link = mins.select("u", F.col("mn").alias("v"))
    return to_min.unionByName(self_link).filter(F.col("u") != F.col("v")).distinct()


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the adversarial-diameter-safe twin of ``connected_components``.

    Min-label propagation needs diameter-many rounds (a 1M-node chain ⇒
    1M shuffles); star rounds HALVE the effective diameter each time, so
    convergence is O(log n) rounds on ANY graph shape. Per round: two
    (groupBy + join) pairs over an edge set that only shrinks (edges
    collapse toward component minima), every shuffle keyed on the node id
    with 16-byte payloads, lineage truncated per round exactly like the
    propagation loop. Use this when the input is not a dedup-shaped clump
    graph — or as the fallback after ``connected_components`` raises.

    Returns (node, component_id), component_id = min node id, identical
    contract to ``connected_components``.
    """
    # one upstream execution total: the raw projection is checkpointed,
    # then BOTH the working edge set and the node universe derive from it
    # (previously e and all_nodes each re-executed the upstream edge
    # producer, the union inside all_nodes twice over)
    base = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).transform(checkpoint)
    # an empty edge set needs no rounds (and would run its rewire probes
    # under plans AQE prunes to empty relations, which report no metrics)
    size = Observation()
    e = (
        base.filter(F.col("u") != F.col("v"))
        .distinct()
        .observe(size, F.count(F.lit(1)).alias("n"))
        .transform(checkpoint)
    )
    # every node that appears anywhere, including isolated self-loop nodes
    all_nodes = (
        base.select(F.explode(F.array("u", "v")).alias("node"))
        .distinct()
        .transform(checkpoint)
    )

    def star(e: DataFrame):
        # fixpoint when a round rewires no edge: its output is then its
        # input, oriented high→low. Both steps count their rewired edges
        # on the round's checkpoint job; a count works for any orderable
        # id type and cannot overflow
        large, small = Observation(), Observation()
        nxt = checkpoint(_small_star(_large_star(e, large), small), supersedes=e)
        return nxt, large.get["n"] + small.get["n"]

    e = _until_fixpoint(
        e,
        star,
        max_iterations,
        "connected_components_star",
        "unexpected for any graph (O(log n) bound); check for adversarial inputs",
        changed=size.get["n"],
    )
    # after collapse every edge points node→component-min; nodes absent
    # from the final edge set are their own component (singletons)
    labels = e.groupBy("u").agg(F.min("v").alias("component_id"))
    return all_nodes.join(labels, all_nodes.node == labels.u, "left").select(
        "node",
        F.coalesce(F.col("component_id"), F.col("node")).alias("component_id"),
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
) -> DataFrame:
    """Fixed-iteration label propagation (community detection): every node
    starts with its own id as label; each round it adopts the most
    frequent label among its in-neighbors (tiebreak: smaller label), or
    keeps its own when it has none. Deterministic by construction —
    FIXED rounds + total-order tiebreak — so an unrolled-CTE SQL oracle
    reproduces it exactly (the ``pagerank`` philosophy; classic async LPA
    with random visit order is irreproducible under task retries and has
    no place in a value-checked pipeline).

    Communities differ from connected components on bridged graphs: a
    thin bridge between two dense clumps keeps ONE component but TWO
    majority-label communities — the signal for "these two duplicate
    families touch but shouldn't merge" (threshold-boundary pairs).

    Scale posture per round: one shuffle join (edges ⋈ labels on the
    source key), one (node, label) count aggregate (map-side combined),
    one per-node argmax via ``min(struct(-c, label))`` — lexicographic
    struct ordering IS "highest count, tie to smallest label", computed
    with map-side partial aggregation instead of a per-node-partition
    window sort — then one join back to the node set, all
    hash-partitioned on the node key. Label state is 16 bytes/row;
    lineage is cut every second round, never after the last (see
    ``_rounds``)."""
    e = edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst")).distinct()
    e = e.transform(checkpoint)
    nodes = (
        e.select(F.col("e_src").alias("node"))
        .unionByName(e.select(F.col("e_dst").alias("node")))
        .distinct()
        .transform(checkpoint)
    )

    def step(labels: DataFrame, i: int) -> DataFrame:
        votes = (
            e.join(labels, e.e_src == labels.node)
            .groupBy(F.col("e_dst").alias("node2"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        best = (
            votes.groupBy("node2")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("negc"), F.col("label").alias("l"))
                ).alias("m")
            )
            .select("node2", F.col("m.l").alias("new_label"))
        )
        return labels.join(best, labels.node == F.col("node2"), "left").select(
            "node",
            F.coalesce(F.col("new_label"), F.col("label")).alias("label"),
        )

    return _rounds(nodes.select("node", F.col("node").alias("label")), step, iterations)


def k_core(
    edges: DataFrame,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int | None = None,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly drop nodes
    whose degree in the SURVIVING subgraph is < k until a fixpoint; return
    the surviving nodes with their within-core degree.

    Input is an UNDIRECTED pair list (one row per pair); it is symmetrized
    here so degree = count of incident edges. Degrees are maintained
    INCREMENTALLY (r8 verdict task 2): the full edge set is aggregated
    ONCE up front; each peel round then aggregates only the DELTA edge
    set — edges from a surviving node into a just-removed one — and
    subtracts those counts from the maintained degree table. Per-round
    shuffle volume is therefore proportional to the edges REMOVED that
    round (Σ over rounds = |E|, the sum telescopes), not to the surviving
    edge set × rounds — the term that made the non-incremental loop
    super-linear on deep graphs (9.9× wall at 10× data in the r8 sf1
    sweep; rounds grow with graph depth).

    Loop contract as ``connected_components`` (``_until_fixpoint``): the
    fixpoint probe (peel set empty) rides the DEGREE checkpoint one step
    ahead as an ``observe()`` metric — each deg materialization reports
    how many of its rows are already < k, so no round pays a separate
    peel-set job, and the round that empties the peel set is the last
    one run. Every round removes at least one node, so ``node_count``
    rounds always suffice — the DEFAULT bound (``max_iterations=None``)
    is derived from the node count (one control-plane scalar), making
    exhaustion unreachable. A long simple path is the worst case: k=2
    peels only the two endpoints per round, so an n-node chain needs
    ~n/2 rounds — the r6 ADVICE case that overran the old fixed default
    of 30. Pass an explicit ``max_iterations`` only to enforce an external
    round budget (e.g. the oracle's unroll depth); exhaustion then RAISES
    — a partial peel is a wrong k-core, never returned.

    Scale posture: every shuffle is keyed on a node id over the delta
    edge set (shrinking) or the node-sized degree table; no window, no
    collect of anything but the per-round empty-check scalar.
    """
    e = undirected(edges, src, dst, "s", "d").distinct().transform(checkpoint)
    # the ONE full-edge-set aggregation; every later round touches only
    # delta edges and the node-sized degree table. The fixpoint probe
    # rides ONE STEP AHEAD on the degree checkpoint (r14): each deg
    # materialization observes how many of ITS rows are already below k —
    # the size of the NEXT round's peel set — so the round never pays a
    # separate job (the old shape checkpointed `low` per round just to
    # read its emptiness: 3 checkpoint jobs per peel instead of 2). `low`
    # is now a lazy filter over the materialized deg RDD — its three
    # embeddings below re-run a map over checkpointed rows, nothing else.
    # The node-count bound rides the same observe (the old deg.count()
    # control job removed).
    seed = Observation()
    deg = (
        e.groupBy("s")
        .agg(F.count(F.lit(1)).alias("deg"))
        .observe(
            seed,
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum((F.col("deg") < k).cast("int")).alias("n_low"),
        )
        .transform(checkpoint)
    )

    def peel(state):
        deg, e = state
        low = deg.filter(F.col("deg") < k).select("s")
        low_d = low.select(F.col("s").alias("d"))
        # delta degree loss: edges whose DEST was just removed but whose
        # source survives lose the source one incident edge. Aggregates
        # ONLY the removed edges — never the surviving set.
        lost = (
            e.join(low_d, "d", "semi")
            .join(low, "s", "left_anti")
            .groupBy("s")
            .agg(F.count(F.lit(1)).alias("lost"))
        )
        n_low = Observation()
        deg = (
            deg.join(low, "s", "left_anti")
            .join(lost, "s", "left")
            .select(
                "s",
                (F.col("deg") - F.coalesce(F.col("lost"), F.lit(0))).alias("deg"),
            )
            .observe(n_low, F.sum((F.col("deg") < k).cast("int")).alias("n"))
            .transform(lambda d, prev=deg: checkpoint(d, supersedes=prev))
        )
        # shrink the surviving edge set (map-side with a broadcast low;
        # needed so later delta joins see only surviving edges)
        e = (
            e.join(low, "s", "left_anti")
            .join(low_d, "d", "left_anti")
            .transform(lambda d, prev=e: checkpoint(d, supersedes=prev))
        )
        # sum() over an empty frame observes NULL — an empty degree table
        # (edgeless input, or a graph that fully peels away) means an
        # empty peel set
        return (deg, e), n_low.get["n"] or 0

    deg, _ = _until_fixpoint(
        (deg, e),
        peel,
        seed.get["n_nodes"] if max_iterations is None else max_iterations,
        "k_core",
        "max_iterations is a caller-imposed bound (peeling needs at most one "
        "round per node, and long chains peel only from the ends); raise it "
        "or pass None to derive the bound from the node count",
        changed=seed.get["n_low"] or 0,
    )
    return deg.select(
        F.col("s").alias("node"), F.col("deg").cast("long").alias("core_degree")
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 2,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg hubs & authorities) over a DIRECTED
    edge set; returns (node, auth_raw, hub_raw) as exact BIGINTs.

    The fourth iterative-graph entry beside PageRank / CC / k-core, and
    the one that needs edge DIRECTION: on a containment graph (src is
    mostly contained in dst) authorities are the heavily-quoted canonical
    originals and hubs the aggregator/compilation documents — the curation
    signal that separates "source worth keeping" from "scraper mashup".

    Determinism by construction: with h_0 = 1 and the classic unnormalized
    updates ``a_i(n) = Σ_{(m,n)∈E} h_{i-1}(m)`` then ``h_i(n) =
    Σ_{(n,m)∈E} a_i(m)``, every intermediate is an INTEGER (sums of
    integer products), so all aggregation runs in BIGINT — exact and
    summation-order-free on any engine, unlike float PageRank whose final
    round() tolerates an ulp. Normalization (one exact division per node)
    is left to the caller so the raw scores stay integers here.

    Scale posture per iteration: one edge⋈score shuffle join + one
    node-keyed aggregation per direction — identical shape to
    ``pagerank`` (score state is 16 bytes/node; ``checkpoint``
    truncates lineage). Values grow like (max degree)^iterations, so the
    BIGINT budget bounds iterations at ~4 for web-scale degrees — HITS
    converges in spirit by then, and the fixed count is what makes the
    unrolled-CTE oracle exact.
    """
    from pyspark.sql import functions as F

    if iterations < 1:
        # iterations=0 would leave auth undefined (advisor r8): reject the
        # degenerate call instead of raising a confusing TypeError later.
        raise ValueError(f"hits requires iterations >= 1, got {iterations}")

    e = (
        edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"))
        .distinct()
        .transform(checkpoint)
    )
    nodes = (
        e.select(F.explode(F.array("e_src", "e_dst")).alias("node"))
        .distinct()
        .transform(checkpoint)
    )
    hub = nodes.select("node", F.lit(1).cast("long").alias("h"))
    auth = None
    for _ in range(iterations):
        a_in = (
            e.join(hub, e.e_src == hub.node)
            .groupBy(F.col("e_dst").alias("node2"))
            .agg(F.sum("h").alias("a_sum"))
        )
        auth = (
            nodes.join(a_in, nodes.node == F.col("node2"), "left")
            .select(
                "node",
                F.coalesce(F.col("a_sum"), F.lit(0)).cast("long").alias("a"),
            )
            .transform(lambda d, prev=auth: checkpoint(d, supersedes=prev))
        )
        h_out = (
            e.join(auth, e.e_dst == auth.node)
            .groupBy(F.col("e_src").alias("node2"))
            .agg(F.sum("a").alias("h_sum"))
        )
        hub = (
            nodes.join(h_out, nodes.node == F.col("node2"), "left")
            .select(
                "node",
                F.coalesce(F.col("h_sum"), F.lit(0)).cast("long").alias("h"),
            )
            .transform(lambda d, prev=hub: checkpoint(d, supersedes=prev))
        )
    return nodes.join(auth, "node").join(hub, "node").select(
        "node",
        F.col("a").alias("auth_raw"),
        F.col("h").alias("hub_raw"),
    )


def _bfs(
    edges: DataFrame, seeds: DataFrame, src: str, dst: str, max_hops: int, keys: list
) -> DataFrame:
    """The BFS loop both public BFS operators run: state is one row per
    ``keys`` (``["node"]`` or ``["seed", "node"]``) plus its ``dist``, every
    key column starting as the seed id at dist 0; each round relaxes the
    rim over the symmetrized edges and min-merges it into the state on
    ``keys``. Lineage is cut every second round, never after the last (a
    fixed-round loop; see ``_rounds``)."""
    e = undirected(edges, src, dst, "s", "d").distinct().transform(checkpoint)
    seed = F.col(seeds.columns[0])
    dist = seeds.select(
        *[seed.alias(k) for k in keys], F.lit(0).cast("int").alias("dist")
    ).transform(checkpoint)
    carried = keys[:-1]  # keys beside "node": the seed id, when kept

    def hop(dist: DataFrame, i: int) -> DataFrame:
        # relax only the RIM — rows first reached in round i (dist == i).
        # Lossless by the BFS invariant, pointwise per key: distances
        # never decrease under the min-merge, so a row settled at dist
        # k < i was already relaxed in round k and re-relaxing it can only
        # re-derive nd = k + 1 <= existing. The frontier join's dist side
        # shrinks from |reached so far| to |newly reached| (guide §2.3:
        # shuffle the rim, not the accumulated state).
        frontier = dist.filter(F.col("dist") == F.lit(i))
        relaxed = (
            e.join(frontier, e.s == frontier.node)
            .groupBy(
                *[F.col(k).alias(k + "2") for k in carried], F.col("d").alias("node2")
            )
            .agg((F.min("dist") + F.lit(1)).alias("nd"))
        )
        on = [dist[k] == F.col(k + "2") for k in keys]
        return dist.join(relaxed, on, "full").select(
            *[F.coalesce(F.col(k), F.col(k + "2")).alias(k) for k in keys],
            F.least(
                F.coalesce(F.col("dist"), F.lit(2147483647)),
                F.coalesce(F.col("nd"), F.lit(2147483647)),
            ).alias("dist"),
        )

    return _rounds(dist, hop, max_hops)


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 4,
) -> DataFrame:
    """Multi-source BFS over an UNDIRECTED pair list: hop distance from
    the nearest seed, up to ``max_hops``; unreached nodes are absent.
    Returns (node, dist) with dist in [0, max_hops], exact integers.

    Each round is one distance-frontier ⋈ edges shuffle + a node-keyed
    min — the connected-components loop shape with a bounded round count
    (``max_hops`` is a semantic parameter here, not a convergence bound:
    distance-to-trusted-seed beyond a few hops carries no curation
    signal, which is also what keeps the unrolled-CTE oracle exact).
    State is one (node, dist) row per REACHED node; the frontier join
    prunes to rows that can still improve, so late rounds touch only the
    expanding rim.
    """
    return _bfs(edges, seeds, src, dst, max_hops, ["node"])


def bfs_distances_per_seed(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 4,
) -> DataFrame:
    """Per-SEED BFS over an undirected pair list: (seed, node, dist) for
    every node within ``max_hops`` of each seed — the state bfs_distances
    collapses to nearest-seed form, kept seed-keyed so per-seed
    statistics (closeness, reach, ego-net size) can aggregate over it.

    Same loop as ``bfs_distances`` with the seed id carried through the
    relax/merge keys: per round one frontier⋈edges shuffle + a
    (seed, node)-keyed integer min. State is one row per (seed, reached
    node) — fan-out is bounded by seeds x ego-net size, so the seed set
    must be bounded by construction (sampled probes, trusted roots), not
    corpus-proportional: at a corpus-scaled seed count prefer
    ``bfs_distances``'s nearest-seed collapse.
    """
    return _bfs(edges, seeds, src, dst, max_hops, ["seed", "node"])
