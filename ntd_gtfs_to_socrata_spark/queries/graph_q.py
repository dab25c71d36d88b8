"""Graph analytics over the near-duplicate document graph (▲ north-star;
the reference has no graph surface).

A large-scale training-data pipeline needs more than clustering from its
dedup graph: PageRank-style centrality picks the CANONICAL document per
duplicate cluster (the most-linked variant, the same link-based quality
idea web-corpus curation uses), triangle counts measure how clique-like
the near-dup neighborhoods are (a transcription-farm signature), and the
degree distribution is the first profile you pull before tuning LSH
thresholds. All three run on the exact shingle-Jaccard edge set that
``dedup_connected_components`` uses, so every number here is consistent
with the clustering the dedup pipeline ships.

Oracle strategy: PageRank runs a FIXED iteration count, so the DuckDB
oracle unrolls the iterations as chained CTEs (standard SQL forbids
aggregation inside a recursive term) — the distributed loop is
value-hash checked against a fully declarative computation, same
philosophy as the recursive-CTE oracle for connected components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ntd_gtfs_to_socrata_spark.operators.graph import undirected
from ntd_gtfs_to_socrata_spark.operators.stagecache import checkpoint
from ntd_gtfs_to_socrata_spark.queries import register
from ntd_gtfs_to_socrata_spark.queries.dedup_text import (
    AUDIT_DF_CAP,
    _ngram_jaccard,
    _ngram_oracle,
)

_PR_ITERS = 5
_PR_DAMP = 0.85


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank as chained CTEs. The near-dup
    graph is symmetric (both directions of every pair), so every node has
    in-edges and each iteration's GROUP BY covers the full node set."""
    steps = []
    for i in range(_PR_ITERS):
        steps.append(
            f"pr{i + 1} AS (\n"
            f"  SELECT e.dst AS node, {1 - _PR_DAMP} + {_PR_DAMP} * "
            f"sum(p.pr / d.outdeg) AS pr\n"
            f"  FROM edges e JOIN pr{i} p ON p.node = e.src "
            f"JOIN deg d ON d.src = e.src GROUP BY e.dst\n)"
        )
    chained = ",\n".join(steps)
    return f"""
WITH pairs AS MATERIALIZED ({_ngram_oracle(df_cap=AUDIT_DF_CAP)}),
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM edges GROUP BY src),
pr0 AS (SELECT DISTINCT src AS node, CAST(1.0 AS DOUBLE) AS pr FROM edges),
{chained}
SELECT node AS doc_id, round(pr, 4) AS pr FROM pr{_PR_ITERS}
"""


@register("graph_pagerank", _pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-based centrality of documents inside their near-dup
    neighborhoods: 5 fixed PageRank iterations (operators/graph.py
    ``pagerank``) over the symmetric shingle-Jaccard edge set. The
    highest-rank doc per component is the natural canonical pick when
    'min doc_id' is too arbitrary (e.g. prefer the variant most copies
    derive from)."""
    from ntd_gtfs_to_socrata_spark.operators.graph import pagerank

    pairs = _ngram_jaccard(spark, sf_dir, df_cap=AUDIT_DF_CAP)
    edges = undirected(pairs, "doc_a", "doc_b", "src", "dst")
    ranks = pagerank(edges, iterations=_PR_ITERS, damping=_PR_DAMP)
    return ranks.select(
        F.col("node").alias("doc_id"), F.round("rank", 4).alias("pr")
    )


TRIANGLE_ORACLE = f"""
WITH pairs AS MATERIALIZED ({_ngram_oracle(df_cap=AUDIT_DF_CAP)}),
e AS (SELECT doc_a AS a, doc_b AS b FROM pairs)
SELECT count(*) AS n_triangles
FROM e e1
JOIN e e2 ON e2.a = e1.b
JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
"""


@register("graph_triangle_count", TRIANGLE_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count over the near-dup graph via the oriented
    edge-edge-edge join: edges already satisfy ``doc_a < doc_b`` (the
    pair generator emits i<j only), so each triangle {a<b<c} is counted
    exactly once as (a,b)+(b,c)+(a,c) — no /6 correction, no symmetric
    blow-up. Scale posture: at 100 TB orient edges low-degree→high-degree
    instead of by id (the standard skew bound: every wedge is generated
    at its lowest-degree vertex); id orientation is used here because the
    oracle must reproduce the same orientation declaratively and dedup
    clumps are degree-bounded anyway.

    The edge set feeds THREE join legs; it is materialized once
    (``checkpoint``) so the upstream pair pipeline isn't recomputed
    per leg — the same share-don't-recompute posture every iterative
    operator here uses."""
    pairs = (
        _ngram_jaccard(spark, sf_dir, df_cap=AUDIT_DF_CAP)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .transform(checkpoint)
    )
    e1 = pairs.alias("e1")
    e2 = pairs.alias("e2")
    e3 = pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
    )
    return tri.agg(F.count(F.lit(1)).alias("n_triangles"))


DEGREE_ORACLE = f"""
WITH pairs AS MATERIALIZED ({_ngram_oracle(df_cap=AUDIT_DF_CAP)}),
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY src)
SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree
"""


@register("graph_degree_distribution", DEGREE_ORACLE)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the near-dup graph — the one-glance profile
    that says whether near-dup mass sits in pairs (degree 1) or
    boilerplate mega-clusters (long tail), and therefore which LSH/df-cap
    knobs to tighten. Two hash aggregations, both map-side combining.

    Endpoints come from ONE ``explode(array(doc_a, doc_b))`` over the
    pair set rather than a two-branch union — a union would duplicate
    the whole upstream pair pipeline in the plan (each branch re-derives
    it), doubling its exchanges; pairs are unique (i<j), so occurrence
    count IS the neighbor count."""
    pairs = _ngram_jaccard(spark, sf_dir, df_cap=AUDIT_DF_CAP)
    nodes = pairs.select(
        F.explode(F.array("doc_a", "doc_b")).alias("node")
    )
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


def _canonical_oracle() -> str:
    """CC (recursive CTE) + PageRank (unrolled CTEs) + per-component
    argmax, all declarative. Ranks are rounded to 4 decimals BEFORE the
    argmax compare on both sides so float low-bit noise cannot flip the
    winner differently in the two engines.

    Memory shape (r10): ``pairs``/``edges``/``deg`` are referenced by
    every unrolled PageRank step plus the recursive reach CTE — left to
    DuckDB's default inlining, the whole string-shingle pair pipeline is
    re-planned per reference, which at sf1 blew a >160 GB working set
    (LOCALGATE_r10's one oracle-resource casualty). ``AS MATERIALIZED``
    binds each shared frame ONCE; the correlated per-row ``n_members``
    subquery is likewise replaced by one pre-aggregated join. Same
    output, linear oracle memory."""
    pr_steps = []
    for i in range(_PR_ITERS):
        pr_steps.append(
            f"pr{i + 1} AS (\n"
            f"  SELECT e.dst AS node, {1 - _PR_DAMP} + {_PR_DAMP} * "
            f"sum(p.pr / d.outdeg) AS pr\n"
            f"  FROM edges e JOIN pr{i} p ON p.node = e.src "
            f"JOIN deg d ON d.src = e.src GROUP BY e.dst\n)"
        )
    chained = ",\n".join(pr_steps)
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED ({_ngram_oracle(df_cap=AUDIT_DF_CAP)}),
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
deg AS MATERIALIZED (
  SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM edges GROUP BY src
),
pr0 AS (SELECT DISTINCT src AS node, CAST(1.0 AS DOUBLE) AS pr FROM edges),
{chained},
reach(node, root) AS (
  SELECT DISTINCT src AS node, src AS root FROM edges
  UNION
  SELECT e.dst AS node, r.root AS root FROM reach r JOIN edges e ON e.src = r.node
),
cc AS MATERIALIZED (SELECT node, min(root) AS comp FROM reach GROUP BY node),
joined AS MATERIALIZED (
  SELECT cc.comp, cc.node, round(p.pr, 4) AS pr
  FROM cc JOIN pr{_PR_ITERS} p ON p.node = cc.node
),
best AS (SELECT comp, max(pr) AS max_pr FROM joined GROUP BY comp),
members AS (SELECT comp, count(*) AS n_members FROM cc GROUP BY comp)
SELECT j.comp AS component_id,
       min(j.node) AS canonical_doc,
       max(b.max_pr) AS canonical_pr,
       max(m.n_members) AS n_members
FROM joined j
JOIN best b ON b.comp = j.comp AND j.pr = b.max_pr
JOIN members m ON m.comp = j.comp
GROUP BY j.comp
"""


@register("graph_canonical_by_rank", _canonical_oracle())
def graph_canonical_by_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection by centrality: connected components
    give the duplicate clusters, PageRank gives each member's centrality,
    and the cluster's canonical doc is its max-rank member (min doc_id on
    exact rank ties — symmetric clusters produce exact ties after the
    round-4 quantisation both engines apply before comparing). This is
    the principled upgrade over 'keep min doc_id': the most-linked
    variant is the one the other copies derive from.

    Scale posture: both inputs are per-NODE frames of the near-dup
    subgraph (orders of magnitude smaller than the corpus); the argmax
    is one groupBy for the per-component max joined back — the same
    two-pass shape as ``w3_topk_per_group``'s scale variant, no global
    window."""
    from ntd_gtfs_to_socrata_spark.operators.graph import (
        connected_components,
        pagerank,
    )

    # pairs feed BOTH the CC loop and the PageRank loop — materialize
    # once so neither re-derives the pair pipeline; `joined` then feeds
    # three aggregation legs (best / members / winners) and is likewise
    # checkpointed (it's a per-node frame of the near-dup subgraph —
    # small by construction)
    pairs = checkpoint(_ngram_jaccard(spark, sf_dir, df_cap=AUDIT_DF_CAP))
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    cc = connected_components(pairs, src="doc_a", dst="doc_b").select(
        "node", F.col("component_id").alias("comp")
    )
    pr = pagerank(edges, iterations=_PR_ITERS, damping=_PR_DAMP).select(
        F.col("node").alias("pnode"), F.round("rank", 4).alias("pr")
    )
    joined = (
        cc.join(pr, cc.node == F.col("pnode"))
        .select("comp", "node", "pr")
        .transform(checkpoint)
    )
    best = joined.groupBy("comp").agg(F.max("pr").alias("max_pr"))
    members = joined.groupBy("comp").agg(F.count(F.lit(1)).alias("n_members"))
    winners = (
        joined.join(best, "comp")
        .filter(F.col("pr") == F.col("max_pr"))
        .groupBy("comp")
        .agg(F.min("node").alias("canonical_doc"), F.max("max_pr").alias("canonical_pr"))
    )
    return winners.join(members, "comp").select(
        F.col("comp").alias("component_id"),
        "canonical_doc",
        "canonical_pr",
        "n_members",
    )


_LPA_ITERS = 3


def _lpa_labels_cte() -> str:
    """The shared CTE block: near-dup pairs → symmetric edges → unrolled
    fixed-iteration label propagation (per round: (node, label) vote
    counts → per-node argmax (count desc, label asc) → label update with
    keep-own fallback). Ends with ``lp{N}`` = final (node, label); both
    the community profile and the modularity oracle build on it."""
    steps = []
    for i in range(_LPA_ITERS):
        steps.append(
            f"""votes{i} AS (
  SELECT e.dst AS node, p.label, count(*) AS c
  FROM edges e JOIN lp{i} p ON p.node = e.src GROUP BY e.dst, p.label
),
best{i} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
    FROM votes{i}) WHERE rn = 1
),
lp{i + 1} AS (
  SELECT a.node, coalesce(b.label, a.label) AS label
  FROM lp{i} a LEFT JOIN best{i} b ON b.node = a.node
)"""
        )
    chained = ",\n".join(steps)
    return f"""pairs AS MATERIALIZED ({_ngram_oracle(df_cap=AUDIT_DF_CAP)}),
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
lp0 AS (
  SELECT DISTINCT node, node AS label FROM (
    SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges)
),
{chained}"""


def _lpa_oracle() -> str:
    return f"""
WITH {_lpa_labels_cte()}
SELECT label AS community, count(*) AS n_members, min(node) AS min_doc_id
FROM lp{_LPA_ITERS} GROUP BY label
"""


@register("graph_label_propagation", _lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the near-dup graph via deterministic
    fixed-round label propagation (operators/graph.py
    ``label_propagation``): majority-label communities split
    bridge-connected duplicate families that connected components would
    merge — the review queue for borderline LSH thresholds. Output is the
    community profile (label, size, min member)."""
    from ntd_gtfs_to_socrata_spark.operators.graph import label_propagation

    pairs = _ngram_jaccard(spark, sf_dir, df_cap=AUDIT_DF_CAP)
    edges = undirected(pairs, "doc_a", "doc_b", "src", "dst")
    labels = label_propagation(edges, iterations=_LPA_ITERS)
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("node").alias("min_doc_id"),
    )


_KCORE_K = 2
# Oracle unroll depth AND the operator's round bound at this call site
# (passed as max_iterations below, so operator and oracle agree whenever
# the operator returns); the fixture graph peels in 2-3 rounds.
_KCORE_LEVELS = 12


def _kcore_oracle() -> str:
    """Unrolled peeling as chained CTEs (the _pagerank_oracle pattern):
    lvl{i+1} keeps edges whose BOTH endpoints have degree >= k within
    lvl{i}. With more levels than the graph needs, the last level IS the
    fixpoint the distributed loop converges to."""
    steps = []
    for i in range(_KCORE_LEVELS):
        steps.append(
            f"lvl{i + 1} AS MATERIALIZED (\n"
            f"  SELECT e.src, e.dst FROM lvl{i} e\n"
            f"  JOIN (SELECT src, count(*) AS c FROM lvl{i} GROUP BY src) da\n"
            f"    ON da.src = e.src AND da.c >= {_KCORE_K}\n"
            f"  JOIN (SELECT src, count(*) AS c FROM lvl{i} GROUP BY src) db\n"
            f"    ON db.src = e.dst AND db.c >= {_KCORE_K}\n)"
        )
    chained = ",\n".join(steps)
    return f"""
WITH pairs AS MATERIALIZED ({_ngram_oracle(df_cap=AUDIT_DF_CAP)}),
lvl0 AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
{chained}
SELECT src AS doc_id, count(*) AS core_degree
FROM lvl{_KCORE_LEVELS} GROUP BY src
"""


@register("graph_k_core", _kcore_oracle())
def graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the near-dup graph: iteratively peel degree-<2 nodes so
    only DENSE duplicate clumps survive — chains and isolated pairs (the
    borderline-Jaccard noise) drop out, leaving the transcription-farm
    cores worth human review. The third iterative-algorithm entry beside
    min-label CC and large-star/small-star, value-hash checked against a
    fixed-unroll declarative replay of the peeling (the PageRank oracle
    pattern).

    The operator is bounded to the oracle's unroll depth
    (``max_iterations=_KCORE_LEVELS``) so the two sides agree WHENEVER
    the operator returns: a graph needing more rounds makes the operator
    RAISE (loudly failing the gate) instead of returning a correct
    k-core the fixed-depth oracle can't replay (r6 ADVICE). Standalone
    callers get the node-count-derived bound (``max_iterations=None``),
    which always converges."""
    from ntd_gtfs_to_socrata_spark.operators.graph import k_core

    pairs = _ngram_jaccard(spark, sf_dir, df_cap=AUDIT_DF_CAP)
    return k_core(
        pairs, k=_KCORE_K, src="doc_a", dst="doc_b", max_iterations=_KCORE_LEVELS
    ).select(
        F.col("node").alias("doc_id"), "core_degree"
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities (directed containment graph)
# ---------------------------------------------------------------------------

_HITS_ITERS = 2


def _hits_oracle() -> str:
    """Unrolled fixed-iteration HITS as chained CTEs (the _pagerank_oracle
    pattern) over the DIRECTED df-capped containment edge set. Each
    a/h step is MATERIALIZED: the chain references its predecessor and
    the final select references a{k}/h{k} twice — unfenced, DuckDB
    inlines (and re-plans) the whole chain per reference (part of the
    94 s sf1 oracle tail measured in r11). Every
    intermediate score is a BIGINT (h0=1 and integer sums stay integer),
    so the oracle needs no float-tolerance anywhere — only the final
    normalization divides, under the floor(x*1e6+0.5)/1e6 policy."""
    from ntd_gtfs_to_socrata_spark.queries.dedup_text import _containment_oracle

    steps = []
    for i in range(_HITS_ITERS):
        steps.append(
            f"a{i + 1} AS MATERIALIZED (\n"
            f"  SELECT n.node, CAST(coalesce(s.v, 0) AS BIGINT) AS a\n"
            f"  FROM nodes n LEFT JOIN (\n"
            f"    SELECT e.dst AS node, sum(h.h) AS v\n"
            f"    FROM edges e JOIN h{i} h ON h.node = e.src GROUP BY e.dst\n"
            f"  ) s ON s.node = n.node\n)"
        )
        steps.append(
            f"h{i + 1} AS MATERIALIZED (\n"
            f"  SELECT n.node, CAST(coalesce(s.v, 0) AS BIGINT) AS h\n"
            f"  FROM nodes n LEFT JOIN (\n"
            f"    SELECT e.src AS node, sum(a.a) AS v\n"
            f"    FROM edges e JOIN a{i + 1} a ON a.node = e.dst GROUP BY e.src\n"
            f"  ) s ON s.node = n.node\n)"
        )
    chained = ",\n".join(steps)
    k = _HITS_ITERS
    return f"""
WITH ce AS MATERIALIZED ({_containment_oracle(df_cap=AUDIT_DF_CAP)}),
edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM ce),
nodes AS MATERIALIZED (
  SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges
),
h0 AS (SELECT node, CAST(1 AS BIGINT) AS h FROM nodes),
{chained},
ta AS (SELECT sum(a) AS v FROM a{k}),
th AS (SELECT sum(h) AS v FROM h{k})
SELECT a{k}.node AS doc_id,
       floor(CAST(a{k}.a AS DOUBLE) / CAST(ta.v AS DOUBLE) * 1000000 + 0.5)
         / 1000000 AS authority,
       floor(CAST(h{k}.h AS DOUBLE) / CAST(th.v AS DOUBLE) * 1000000 + 0.5)
         / 1000000 AS hub
FROM a{k} JOIN h{k} ON h{k}.node = a{k}.node, ta, th
"""


@register("graph_hits", _hits_oracle())
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubs & authorities over the DIRECTED containment graph (src mostly
    contained in dst): authorities are the heavily-quoted canonical
    originals, hubs the aggregator/compilation documents — the direction-
    aware complement to PageRank's undirected centrality, and the signal
    that tells "source worth keeping" from "scraper mashup" in corpus
    curation.

    Runs ``operators/graph.py hits`` (fixed 2 iterations, all-BIGINT
    exact integer state — no float drifts ANY engine can disagree on),
    then L1-normalizes each score once at the end under the
    floor(x*1e6+0.5)/1e6 rounding policy. The containment edge set is the
    df-capped audit form (``_containment(df_cap=AUDIT_DF_CAP)``), sharing
    one semantic definition with ``dedup_containment``'s oracle via
    ``_containment_oracle``."""
    from ntd_gtfs_to_socrata_spark.operators.graph import hits
    from ntd_gtfs_to_socrata_spark.queries.dedup_text import _containment

    edges = _containment(spark, sf_dir, df_cap=AUDIT_DF_CAP).select("src", "dst")
    raw = hits(edges, iterations=_HITS_ITERS)
    totals = raw.agg(
        F.sum("auth_raw").alias("ta"), F.sum("hub_raw").alias("th")
    )
    # 1-row scalar totals: the sanctioned constant-size broadcast pattern
    return raw.crossJoin(F.broadcast(totals)).select(
        F.col("node").alias("doc_id"),
        (
            F.floor(
                F.col("auth_raw").cast("double")
                / F.col("ta").cast("double")
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0)
        ).alias("authority"),
        (
            F.floor(
                F.col("hub_raw").cast("double")
                / F.col("th").cast("double")
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0)
        ).alias("hub"),
    )


# ---------------------------------------------------------------------------
# Link prediction by common-neighbor Jaccard (2-hop wedge join)
# ---------------------------------------------------------------------------

LINKPRED_ORACLE = """
WITH pairs0 AS MATERIALIZED ({neardup}),
pairs AS (SELECT id_a AS doc_a, id_b AS doc_b FROM pairs0),
edges AS MATERIALIZED (
  SELECT doc_a AS x, doc_b AS y FROM pairs
  UNION
  SELECT doc_b AS x, doc_a AS y FROM pairs
),
deg AS (SELECT x, count(*) AS d FROM edges GROUP BY x),
wedges AS (
  SELECT e1.y AS a, e2.y AS b, count(*) AS cn
  FROM edges e1 JOIN edges e2 ON e2.x = e1.x AND e1.y < e2.y
  GROUP BY e1.y, e2.y
),
cand AS (
  SELECT w.a, w.b, w.cn FROM wedges w
  WHERE NOT EXISTS (
    SELECT 1 FROM pairs p WHERE p.doc_a = w.a AND p.doc_b = w.b
  )
),
scored AS (
  SELECT c.a, c.b, c.cn,
         floor(CAST(c.cn AS DOUBLE) / CAST(da.d + db.d - c.cn AS DOUBLE)
               * 1000000 + 0.5) / 1000000 AS score
  FROM cand c JOIN deg da ON da.x = c.a JOIN deg db ON db.x = c.b
)
SELECT a AS id_a, b AS id_b, cn AS common_neighbors, score
FROM scored ORDER BY score DESC, a, b LIMIT 100
"""


def _linkpred_oracle() -> str:
    from ntd_gtfs_to_socrata_spark.queries.similarity_q import NEARDUP_ORACLE

    return LINKPRED_ORACLE.format(neardup=NEARDUP_ORACLE)


@register("graph_link_prediction", _linkpred_oracle())
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 predicted-but-missing near-dup links by common-neighbor
    Jaccard: for each NON-adjacent pair sharing >= 1 neighbor in the
    embedding-cosine graph (``sim_cosine_neardup_pairs``'s edge set —
    cosine-threshold graphs genuinely chain, unlike the shingle-Jaccard
    clusters which are transitive cliques in this corpus), score =
    |N(a) ∩ N(b)| / |N(a) ∪ N(b)|. High scores flag pairs a threshold/
    ANN candidate stage missed inside an otherwise-dense neighborhood —
    the recall auditor for near-dup retrieval (and the classic link-
    prediction baseline).

    Plan: symmetrize edges with ONE explode pass, wedge self-join on the
    shared-neighbor key (fan-out bounded by node degree — at 100 TB the
    edge set comes from the LSH/IVF bucketed candidate generator, and a
    degree cap bounds the wedge blow-up the same way the df cap bounds
    posting lists), count per candidate pair = intersection; union =
    deg_a + deg_b - cn via a node-keyed degree join (plain joins — AQE
    sizes them). Scores are exact integer ratios under the
    floor(x*1e6+0.5)/1e6 policy, ranked with id tie-breaks, so the
    top-100 cut is engine-deterministic; orderBy().limit() =
    TakeOrderedAndProject, never a global sort."""
    from ntd_gtfs_to_socrata_spark.queries.similarity_q import sim_neardup_pairs

    pairs = (
        sim_neardup_pairs(spark, sf_dir)
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
        .transform(checkpoint)
    )
    edges = undirected(pairs, "doc_a", "doc_b", "x", "y")
    deg = edges.groupBy("x").agg(F.count(F.lit(1)).alias("d"))
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    wedges = (
        e1.join(
            e2,
            (F.col("e2.x") == F.col("e1.x")) & (F.col("e1.y") < F.col("e2.y")),
        )
        .groupBy(F.col("e1.y").alias("a"), F.col("e2.y").alias("b"))
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    cand = wedges.join(
        pairs,
        (wedges.a == pairs.doc_a) & (wedges.b == pairs.doc_b),
        "left_anti",
    )
    scored = cand.join(
        deg.select(F.col("x").alias("a"), F.col("d").alias("deg_a")), "a"
    ).join(deg.select(F.col("x").alias("b"), F.col("d").alias("deg_b")), "b")
    score = (
        F.floor(
            F.col("cn").cast("double")
            / (F.col("deg_a") + F.col("deg_b") - F.col("cn")).cast("double")
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        / F.lit(1000000.0)
    )
    return (
        scored.select(
            F.col("a").alias("id_a"),
            F.col("b").alias("id_b"),
            F.col("cn").alias("common_neighbors"),
            score.alias("score"),
        )
        .orderBy(F.col("score").desc(), "id_a", "id_b")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Multi-source BFS: hop distance to the nearest trusted seed
# ---------------------------------------------------------------------------

_BFS_HOPS = 4
_BFS_SEED_MOD = 97


def _bfs_oracle() -> str:
    from ntd_gtfs_to_socrata_spark.queries.dedup_text import _containment_oracle

    steps = []
    for t in range(_BFS_HOPS):
        steps.append(
            f"d{t + 1} AS (\n"
            f"  SELECT coalesce(p.node, r.node) AS node,\n"
            f"         least(coalesce(p.dist, 2147483647),\n"
            f"               coalesce(r.nd, 2147483647)) AS dist\n"
            f"  FROM d{t} p FULL JOIN (\n"
            f"    SELECT e.d AS node, min(p2.dist) + 1 AS nd\n"
            f"    FROM edges e JOIN d{t} p2 ON p2.node = e.s GROUP BY e.d\n"
            f"  ) r ON r.node = p.node\n)"
        )
    chained = ",\n".join(steps)
    return f"""
WITH ce AS MATERIALIZED ({_containment_oracle(df_cap=AUDIT_DF_CAP)}),
edges AS MATERIALIZED (
  SELECT src AS s, dst AS d FROM ce
  UNION
  SELECT dst AS s, src AS d FROM ce
),
d0 AS (
  SELECT doc_id AS node, CAST(0 AS INT) AS dist FROM documents
  WHERE doc_id % {_BFS_SEED_MOD} = 0
),
{chained}
SELECT node AS doc_id, CAST(dist AS INT) AS dist FROM d{_BFS_HOPS}
"""


@register("graph_bfs_distance", _bfs_oracle())
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance from the nearest TRUSTED SEED document (deterministic
    seed set: doc_id % {mod} == 0) over the undirected df-capped
    containment graph — the "provenance distance" curation signal: docs
    many near-dup hops from any vetted source are scraper-of-scraper
    chains, the population quality filters rank down. Multi-source BFS
    with a FIXED hop budget (distance beyond a few hops carries no
    signal), run by ``operators/graph.py::bfs_distances`` — per round one
    frontier⋈edges shuffle + a node-keyed integer min, the CC loop shape
    with exact integer distances the unrolled-CTE oracle replays."""
    from ntd_gtfs_to_socrata_spark.operators.graph import bfs_distances
    from ntd_gtfs_to_socrata_spark.queries.dedup_text import _containment
    from ntd_gtfs_to_socrata_spark.io import load_table

    edges = _containment(spark, sf_dir, df_cap=AUDIT_DF_CAP).select("src", "dst")
    seeds = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _BFS_SEED_MOD == 0)
        .select("doc_id")
    )
    return bfs_distances(edges, seeds, max_hops=_BFS_HOPS).select(
        F.col("node").alias("doc_id"), F.col("dist").cast("int").alias("dist")
    )


graph_bfs_distance.__doc__ = graph_bfs_distance.__doc__.format(mod=_BFS_SEED_MOD)


# ---------------------------------------------------------------------------
# Modularity of the LPA communities (clustering quality score)
# ---------------------------------------------------------------------------


def _modularity_oracle() -> str:
    k = _LPA_ITERS
    return f"""
WITH {_lpa_labels_cte()},
internal AS (
  SELECT la.label, CAST(count(*) AS BIGINT) AS e_c
  FROM pairs p
  JOIN lp{k} la ON la.node = p.doc_a
  JOIN lp{k} lb ON lb.node = p.doc_b AND lb.label = la.label
  GROUP BY la.label
),
deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY src),
dsum AS (
  SELECT l.label, CAST(sum(deg.d) AS BIGINT) AS d_c
  FROM lp{k} l JOIN deg ON deg.node = l.node GROUP BY l.label
),
members AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_members
  FROM lp{k} GROUP BY label
),
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs)
SELECT mem.label AS community, mem.n_members,
       coalesce(i.e_c, 0) AS internal_edges, ds.d_c AS degree_sum,
       CAST(floor(
         (CAST(coalesce(i.e_c, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
          - (CAST(ds.d_c AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
            * (CAST(ds.d_c AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE))))
         * 1000000 + 0.5) AS BIGINT) AS modularity_contrib_micro
FROM members mem
LEFT JOIN internal i ON i.label = mem.label
JOIN dsum ds ON ds.label = mem.label, m
"""


@register("graph_modularity", _modularity_oracle())
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities on the near-dup graph —
    the standard clustering-quality score (Q = Σ_c e_c/m − (d_c/2m)²):
    the number curators watch when tuning the LSH threshold, since a
    partition whose Q collapses toward 0 means the "clusters" are no
    better than random edge placement. Emitted per community
    (contribution in micro units; total Q = the sum), so the report also
    ranks which communities are well-separated vs bridge-riddled.

    Exactness: e_c, d_c, m are integers; each contribution is one double
    expression over exact integer casts, floor-quantized (4m² < 2⁵³ up to
    m ≈ 4.7·10⁷ pairs; past that pre-scale by 1/m on both engines).
    Scale posture: membership joins are node-keyed; degrees come from the
    symmetric edge set's node-keyed count; m is a 1-row broadcast scalar.
    Everything else is per-community aggregation — map-side combinable."""
    from ntd_gtfs_to_socrata_spark.operators.graph import label_propagation

    pairs = (
        _ngram_jaccard(spark, sf_dir, df_cap=AUDIT_DF_CAP)
        .select("doc_a", "doc_b")
        .transform(checkpoint)
    )
    edges = undirected(pairs, "doc_a", "doc_b", "src", "dst")
    labels = checkpoint(label_propagation(edges, iterations=_LPA_ITERS))
    la = labels.select(F.col("node").alias("doc_a"), F.col("label").alias("lab_a"))
    lb = labels.select(F.col("node").alias("doc_b"), F.col("label").alias("lab_b"))
    internal = (
        pairs.join(la, "doc_a")
        .join(lb, "doc_b")
        .filter(F.col("lab_a") == F.col("lab_b"))
        .groupBy(F.col("lab_a").alias("label"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    # one labels⋈deg pass yields BOTH the member count and the degree sum
    # per community (r14, guide §2.4): deg covers every labeled node (all
    # nodes come from the symmetric edge set, so each has degree ≥ 1 and
    # the inner join drops nothing) — the separate `members` aggregation
    # re-scanned labels and added a shuffle + a third assembly join.
    dsum = (
        labels.join(deg, "node")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("d").alias("d_c"),
        )
    )
    m = pairs.agg(F.count(F.lit(1)).alias("m"))
    md = F.col("m").cast("double")
    half = F.col("d_c").cast("double") / (F.lit(2.0) * md)
    contrib = F.floor(
        (F.coalesce(F.col("e_c"), F.lit(0)).cast("double") / md - half * half)
        * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("long")
    return (
        dsum.join(internal, "label", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("label").alias("community"),
            "n_members",
            F.coalesce(F.col("e_c"), F.lit(0)).alias("internal_edges"),
            F.col("d_c").alias("degree_sum"),
            contrib.alias("modularity_contrib_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Degree assortativity (Pearson r of degrees at edge endpoints)
# ---------------------------------------------------------------------------


def _assortativity_oracle() -> str:
    return f"""
WITH pairs AS MATERIALIZED ({_ngram_oracle(df_cap=AUDIT_DF_CAP)}),
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
ends AS (
  SELECT da.d AS x, db.d AS y
  FROM edges e JOIN deg da ON da.node = e.src JOIN deg db ON db.node = e.dst
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS m2,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x + y) AS BIGINT) AS sx,
         CAST(sum(x * x + y * y) AS BIGINT) AS sxx
  FROM ends
)
SELECT CAST(m2 / 2 AS BIGINT) AS n_edges,
  CASE WHEN 2 * m2 * sxx - sx * sx = 0 THEN CAST(0 AS BIGINT)
       ELSE CAST(floor(
         CAST(4 * m2 * sxy - sx * sx AS DOUBLE)
         / CAST(2 * m2 * sxx - sx * sx AS DOUBLE)
         * 1000000 + 0.5) AS BIGINT) END AS assortativity_micro
FROM s
"""


@register("graph_assortativity", _assortativity_oracle())
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the near-dup graph: the
    Pearson correlation of endpoint degrees over all directed edge
    incidences. Positive = hubs link hubs (mirror farms copying each
    other), negative = hubs link leaves (one template fanned out to many
    one-off pages) — which of the two dedup topologies dominates decides
    whether keep-one or cluster-review is the right release policy.

    Formula on the symmetrized incidence list (each undirected edge
    counted in both orientations, which is what makes the x/y roles
    symmetric): r = (4·M·Σxy − (Σ(x+y))²) / (2·M·Σ(x²+y²) − (Σ(x+y))²)
    with M = incidence count — every sum an exact BIGINT (degrees are
    integers), ONE quantized division at the end; a degree-regular graph
    (zero variance) pins r to 0.

    Scale posture: degree table = one node-keyed count; the incidence
    join is edge-keyed on each endpoint; the moment fold is one
    map-side-combinable row. No window, no collect."""
    pairs = (
        _ngram_jaccard(spark, sf_dir, df_cap=AUDIT_DF_CAP)
        .select("doc_a", "doc_b")
        .transform(checkpoint)
    )
    edges = undirected(pairs, "doc_a", "doc_b", "src", "dst")
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    ends = (
        edges.join(deg.select(F.col("node").alias("src"), F.col("d").alias("x")), "src")
        .join(deg.select(F.col("node").alias("dst"), F.col("d").alias("y")), "dst")
        .select("x", "y")
    )
    s = ends.agg(
        F.count(F.lit(1)).alias("m2"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") + F.col("y")).alias("sx"),
        F.sum(F.col("x") * F.col("x") + F.col("y") * F.col("y")).alias("sxx"),
    )
    denom = F.lit(2) * F.col("m2") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.lit(4) * F.col("m2") * F.col("sxy") - F.col("sx") * F.col("sx")
    return s.select(
        (F.col("m2") / F.lit(2)).cast("long").alias("n_edges"),
        F.when(denom == 0, F.lit(0).cast("long"))
        .otherwise(
            F.floor(
                num.cast("double") / denom.cast("double") * F.lit(1000000.0)
                + F.lit(0.5)
            ).cast("long")
        )
        .alias("assortativity_micro"),
    )


# ---------------------------------------------------------------------------
# Harmonic closeness centrality of the seed documents (r9)
# ---------------------------------------------------------------------------

_CLOSE_HOPS = 4
_CLOSE_SEED_MOD = 97


def _closeness_oracle() -> str:
    from ntd_gtfs_to_socrata_spark.queries.dedup_text import _containment_oracle

    steps = []
    for t in range(_CLOSE_HOPS):
        steps.append(
            f"d{t + 1} AS (\n"
            f"  SELECT coalesce(p.seed, r.seed) AS seed,\n"
            f"         coalesce(p.node, r.node) AS node,\n"
            f"         least(coalesce(p.dist, 2147483647),\n"
            f"               coalesce(r.nd, 2147483647)) AS dist\n"
            f"  FROM d{t} p FULL JOIN (\n"
            f"    SELECT p2.seed, e.d AS node, min(p2.dist) + 1 AS nd\n"
            f"    FROM edges e JOIN d{t} p2 ON p2.node = e.s\n"
            f"    GROUP BY p2.seed, e.d\n"
            f"  ) r ON r.seed = p.seed AND r.node = p.node\n)"
        )
    chained = ",\n".join(steps)
    return f"""
WITH ce AS MATERIALIZED ({_containment_oracle(df_cap=AUDIT_DF_CAP)}),
edges AS MATERIALIZED (
  SELECT src AS s, dst AS d FROM ce
  UNION
  SELECT dst AS s, src AS d FROM ce
),
d0 AS (
  SELECT doc_id AS seed, doc_id AS node, CAST(0 AS INT) AS dist
  FROM documents WHERE doc_id % {_CLOSE_SEED_MOD} = 0
),
{chained}
SELECT seed AS doc_id,
       CAST(SUM(CASE WHEN dist > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_reached,
       CAST(SUM(CASE WHEN dist > 0
                 THEN CAST(floor(1000000.0 / dist) AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS harmonic_micro
FROM d{_CLOSE_HOPS} GROUP BY seed
"""


@register("graph_closeness_centrality", _closeness_oracle())
def graph_closeness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARMONIC CLOSENESS of the seed documents (doc_id % {mod} == 0)
    over the undirected df-capped containment graph: C(s) = sum over
    reached nodes of 1/d(s, v), within a fixed {hops}-hop budget — the
    "how central is this vetted source in the duplication network"
    ranking; harmonic form handles disconnected graphs where classic
    closeness (1 / sum of d) is undefined.

    Per-seed BFS keeps (seed, node, dist) state (operators/graph.py::
    bfs_distances_per_seed) — per round one frontier⋈edges shuffle + a
    (seed, node)-keyed integer min; the seed set is bounded by
    construction (sampled probes), so state is seeds x ego-net, never
    corpus². 1/d quantizes as floor(10^6/d) on exact integer distances,
    so both engines sum identical BIGINTs.

    Scale posture: at a corpus-proportional seed count this query is the
    wrong tool (use bfs_distances' nearest-seed collapse); for the
    bounded-probe form the per-round shuffle moves the frontier rim
    only, and the unrolled-CTE oracle replays the exact fixpoint."""
    from ntd_gtfs_to_socrata_spark.io import load_table
    from ntd_gtfs_to_socrata_spark.operators.graph import bfs_distances_per_seed
    from ntd_gtfs_to_socrata_spark.queries.dedup_text import _containment

    edges = _containment(spark, sf_dir, df_cap=AUDIT_DF_CAP).select("src", "dst")
    seeds = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _CLOSE_SEED_MOD == 0)
        .select("doc_id")
    )
    per_seed = bfs_distances_per_seed(edges, seeds, max_hops=_CLOSE_HOPS)
    reached = F.when(F.col("dist") > 0, 1).otherwise(0)
    inv = F.when(
        F.col("dist") > 0, F.floor(F.lit(1000000.0) / F.col("dist")).cast("long")
    ).otherwise(F.lit(0))
    return per_seed.groupBy(F.col("seed").alias("doc_id")).agg(
        F.sum(reached).cast("long").alias("n_reached"),
        F.sum(inv).cast("long").alias("harmonic_micro"),
    )


graph_closeness_centrality.__doc__ = graph_closeness_centrality.__doc__.format(
    mod=_CLOSE_SEED_MOD, hops=_CLOSE_HOPS
)
