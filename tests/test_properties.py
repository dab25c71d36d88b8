"""Property-based tests (hypothesis): merge-layer algebraic laws and
cast-probe parity with Python float() — the reference's exact acceptance
semantics (/root/reference/publish_to_catalog.py:181-200)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ntd_gtfs_to_socrata_spark.operators import merge as M
from ntd_gtfs_to_socrata_spark.operators import validation as V

KEYS = st.integers(min_value=0, max_value=6)
ROWS = st.lists(st.tuples(KEYS, st.text(alphabet="abc", max_size=2)), max_size=8)

slow = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _df(spark, rows):
    return spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)], "k int, v string, seq int"
    )


NULLABLE_KEYS = st.one_of(st.none(), st.integers(min_value=0, max_value=5))
KEYED_ROWS = st.lists(st.tuples(NULLABLE_KEYS, st.text(alphabet="abc", max_size=2)), max_size=8)


@slow
@given(existing=KEYED_ROWS, incoming=KEYED_ROWS)
def test_full_sync_snapshot_law(spark, existing, incoming):
    """full_sync and the one-join J5/J3 plan ≡ the formulas they replaced:
    the snapshot equals upsert-then-semi-join (same keys, one incoming
    value per key, same columns), and the observed ``deleted`` equals the
    anti-join's row count — with duplicate and NULL keys on both sides and
    a column only ``existing`` has."""
    from pyspark.sql import Observation

    e = spark.createDataFrame(
        [(k, v, f"x{i}") for i, (k, v) in enumerate(existing)],
        "k int, v string, only_existing string",
    )
    i = _df(spark, incoming)
    # the J5 formula before the one-join plan, as the reference
    want = M.upsert(e, i, "k").join(i.select("k").distinct(), on="k", how="left_semi")
    want_keys = sorted(r["k"] for r in want.collect())
    values = {}
    for k, v in incoming:
        values.setdefault(k, set()).add(v)
    counts = Observation()
    snapshot, deletions = M.full_sync_with_deletions(e, i, "k", counts)
    for frame in (M.full_sync(e, i, "k"), snapshot):
        got = frame.collect()
        assert frame.columns == want.columns == ["k", "v", "seq", "only_existing"]
        assert sorted(r["k"] for r in got) == want_keys
        assert all(r["v"] in values[r["k"]] and r["only_existing"] is None for r in got)
    n_deleted = M.locate_deletions(e, i, "k").count()
    assert counts.get == {"n": len(want_keys), "deleted": n_deleted}
    assert sum(r["rows"] for r in deletions.collect()) == n_deleted


@slow
@given(existing=ROWS, incoming=ROWS)
def test_upsert_preserves_existing_only_keys(spark, existing, incoming):
    e, i = _df(spark, existing), _df(spark, incoming)
    out = {r["k"] for r in M.upsert(e, i, "k").collect()}
    assert out == {k for k, _ in existing} | {k for k, _ in incoming}


FLOAT_STRINGS = st.one_of(
    st.floats(allow_nan=True, allow_infinity=True).map(str),
    st.text(alphabet="0123456789.eE+- ", max_size=10),
    st.sampled_from(["nan", "inf", "-inf", "Infinity", " 7 ", "1e5", "", "x", "'45'"]),
)


@slow
@given(vals=st.lists(FLOAT_STRINGS, min_size=1, max_size=20))
def test_cast_probe_matches_python_float(spark, vals):
    """float_probe(s) is non-null exactly when Python float(s) succeeds —
    the reference's try/except acceptance (L183-186)."""
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = [
        r["ok"]
        for r in df.select(V.float_probe(F.col("s")).isNotNull().alias("ok")).collect()
    ]

    def py_ok(s: str) -> bool:
        try:
            float(s)
            return True
        except ValueError:
            return False

    assert got == [py_ok(v) for v in vals]


# ---------------------------------------------------------------------------
# Text-operator parity with pure-Python references
# ---------------------------------------------------------------------------

ASCII_TEXT = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=40
)


def _py_poly_hash(s: str, n_chars: int) -> int:
    from ntd_gtfs_to_socrata_spark.operators.textops import HASH_MOD, POW31

    total = 0
    for i in range(n_chars):
        code = ord(s[i]) if i < len(s) else 0
        total += code * POW31[i]
    return total % HASH_MOD


@slow
@given(texts=st.lists(ASCII_TEXT, min_size=1, max_size=6))
def test_char_poly_hash_property_parity(spark, texts):
    """char_poly_hash == the pure-Python polynomial for arbitrary ASCII —
    the engine-portability contract every minhash/fingerprint oracle
    relies on."""
    from ntd_gtfs_to_socrata_spark.operators import textops as TX

    df = spark.createDataFrame([(t,) for t in texts], "s string")
    got = [r[0] for r in df.select(TX.char_poly_hash(F.col("s"), 16)).collect()]
    want = [_py_poly_hash(t, 16) for t in texts]
    assert got == want


def _py_shingles(text: str, n: int = 3) -> list[str]:
    toks = text.strip().split()
    # F.split on \s+ of an empty/whitespace string yields [''] — mirror it
    if not toks:
        toks = [""]
    seen, out = set(), []
    for i in range(len(toks) - n + 1):
        sh = " ".join(toks[i : i + n])
        if sh not in seen:
            seen.add(sh)
            out.append(sh)
    return out


@slow
@given(texts=st.lists(st.text(alphabet="ab c", max_size=30), min_size=1, max_size=6))
def test_word_shingles_property_parity(spark, texts):
    """word_shingles == first-occurrence-ordered distinct word 3-grams of
    whitespace tokens, for arbitrary spacing (runs of spaces, leading and
    trailing whitespace, short documents)."""
    from ntd_gtfs_to_socrata_spark.operators import textops as TX

    df = spark.createDataFrame([(t,) for t in texts], "s string")
    got = [
        r[0] for r in df.select(TX.word_shingles(TX.tokens(F.col("s")))).collect()
    ]
    want = [_py_shingles(t) for t in texts]
    assert got == want


def _py_ngrams(text: str, n: int = 2) -> list[str]:
    toks = text.strip().split()
    if not toks:
        toks = [""]
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


@slow
@given(texts=st.lists(st.text(alphabet="ab c", max_size=30), min_size=1, max_size=6))
def test_word_ngrams_property_parity(spark, texts):
    """word_ngrams == ALL order-preserving word bigrams (duplicates kept) —
    the base the repetition-ratio quality rule counts on."""
    from ntd_gtfs_to_socrata_spark.operators import textops as TX

    df = spark.createDataFrame([(t,) for t in texts], "s string")
    got = [r[0] for r in df.select(TX.word_ngrams(TX.tokens(F.col("s")), 2)).collect()]
    want = [_py_ngrams(t, 2) for t in texts]
    assert got == want


EDGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=12), st.integers(min_value=0, max_value=12)
    ),
    max_size=14,
)


@slow
@given(edges=EDGES)
def test_connected_components_law(spark, edges):
    """CC on random graphs ≡ union-find: same partition of nodes, labels
    are component minima; empty edge sets yield empty output."""
    from ntd_gtfs_to_socrata_spark.operators.graph import connected_components

    df = spark.createDataFrame(edges or [(None, None)], "src long, dst long").filter(
        F.col("src").isNotNull()
    )
    got = {
        r["node"]: r["component_id"] for r in connected_components(df).collect()
    }

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    assert got == want


LONG_IDS = st.one_of(st.none(), st.integers(min_value=0, max_value=9))
STRING_IDS = st.one_of(st.none(), st.text(alphabet="aZé中", max_size=2))


def _with_repeats(edges):
    """The edges plus reversed and duplicated copies of the first few."""
    return edges + [(b, a) for a, b in edges[:3]] + edges[:2]


CC_GRAPHS = st.one_of(
    st.tuples(
        st.just("long"), st.lists(st.tuples(LONG_IDS, LONG_IDS), max_size=12).map(_with_repeats)
    ),
    st.tuples(
        st.just("string"),
        st.lists(st.tuples(STRING_IDS, STRING_IDS), max_size=12).map(_with_repeats),
    ),
)


@slow
@given(graph=CC_GRAPHS)
def test_cc_driver_path_equals_loop_law(spark, graph):
    """The small-graph driver solve ≡ the min-label loop (forced by a
    bound of 0): the same rows, duplicates included, and the same schema
    — over self-loops, duplicate and reversed edges, NULL endpoints (one
    ``(NULL, NULL)`` row, joined to no component) and ``long`` and
    ``string`` ids (string minima in Spark's binary order)."""
    from collections import Counter

    from ntd_gtfs_to_socrata_spark.operators import graph as G

    id_type, edges = graph
    df = spark.createDataFrame(edges, f"src {id_type}, dst {id_type}")
    driver = G.connected_components(df)
    bound = G._SMALL_GRAPH_EDGES
    G._SMALL_GRAPH_EDGES = 0
    try:
        loop = G.connected_components(df)
        want = Counter(map(tuple, loop.collect()))
    finally:
        G._SMALL_GRAPH_EDGES = bound
    assert driver.schema == loop.schema
    assert Counter(map(tuple, driver.collect())) == want


# ids at both ends of the long range: any sum of two of them overflows
EDGE_LONG_IDS = st.one_of(
    st.integers(min_value=-(2**63), max_value=-(2**63) + 4),
    st.integers(min_value=2**63 - 5, max_value=2**63 - 1),
)
STAR_GRAPHS = st.one_of(
    st.tuples(st.just("long"), EDGES),
    st.tuples(st.just("long"), st.lists(st.tuples(EDGE_LONG_IDS, EDGE_LONG_IDS), max_size=12)),
    st.tuples(
        st.just("string"),
        st.lists(
            st.tuples(st.text(alphabet="aZé中", max_size=2), st.text(alphabet="aZé中", max_size=2)),
            max_size=12,
        ),
    ),
)


@slow
@given(graph=STAR_GRAPHS)
def test_cc_star_equals_propagation_law(spark, graph):
    """The diameter-halving star variant is a DROP-IN for min-label
    propagation on arbitrary random graphs — identical (node,
    component_id) maps, including self-loop-only singleton nodes (which
    the star variant must keep via its node-universe left join), for
    ``string`` ids and for ``long`` ids at both ends of their range (the
    fixpoint test must neither cast nor add ids)."""
    from ntd_gtfs_to_socrata_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    id_type, edges = graph
    df = spark.createDataFrame(
        edges or [(None, None)], f"src {id_type}, dst {id_type}"
    ).filter(F.col("src").isNotNull())
    prop = {r["node"]: r["component_id"] for r in connected_components(df).collect()}
    star = {
        r["node"]: r["component_id"]
        for r in connected_components_star(df).collect()
    }
    assert star == prop


@slow
@given(edges=EDGES, k=st.integers(min_value=2, max_value=3))
def test_k_core_matches_serial_peeling(spark, edges, k):
    """k-core on random graphs ≡ a serial Python peel: same surviving
    node set AND same within-core degrees (the operator's symmetrized
    distinct edge set maps to an undirected simple graph without
    self-loops contributing degree 2)."""
    from ntd_gtfs_to_socrata_spark.operators.graph import k_core

    df = spark.createDataFrame(edges or [(None, None)], "src long, dst long").filter(
        F.col("src").isNotNull()
    )
    got = {r["node"]: r["core_degree"] for r in k_core(df, k=k).collect()}

    # serial peel over the symmetrized adjacency (self-loops count once
    # per direction after distinct — i.e. (u,u) contributes 1 to deg(u),
    # matching the operator's explode+distinct edge model)
    adj: dict[int, set[tuple[int, int]]] = {}
    for a, b in edges:
        for u, v in ((a, b), (b, a)):
            adj.setdefault(u, set()).add((u, v))
    while True:
        low = [u for u, inc in adj.items() if len(inc) < k]
        if not low:
            break
        for u in low:
            for (_, v) in adj.pop(u, set()):
                if v in adj:
                    adj[v].discard((v, u))
    want = {u: len(inc) for u, inc in adj.items()}
    assert got == want


@slow
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),        # user
            st.sampled_from(["click", "view", "purchase", "other"]),
            st.integers(min_value=0, max_value=40),       # ts seconds
        ),
        max_size=16,
    )
)
def test_funnel_law(spark, events):
    """Window-chained funnel ≡ brute-force first-touch progression."""
    import datetime

    base = datetime.datetime(2020, 1, 1)
    rows = [
        (u, t, base + datetime.timedelta(seconds=s)) for u, t, s in events
    ]
    df = spark.createDataFrame(rows or [(None, None, None)],
                               "user_id long, event_type string, ts timestamp")
    df = df.filter(F.col("user_id").isNotNull())

    # brute force per user
    per_user: dict[int, list[tuple[str, int]]] = {}
    for u, t, s in events:
        per_user.setdefault(u, []).append((t, s))
    n_click = n_view = n_purchase = 0
    for u, evs in per_user.items():
        clicks = [s for t, s in evs if t == "click"]
        if not clicks:
            continue
        n_click += 1
        t1 = min(clicks)
        views = [s for t, s in evs if t == "view" and s > t1]
        if not views:
            continue
        n_view += 1
        t2 = min(views)
        purchases = [s for t, s in evs if t == "purchase" and s > t2]
        if purchases:
            n_purchase += 1

    # run the registered query's plan against the synthetic frame by
    # monkey-free substitution: rebuild the same expressions inline
    from pyspark.sql import Window

    w = Window.partitionBy("user_id")
    t1c = F.min(F.when(F.col("event_type") == "click", F.col("ts"))).over(w)
    step1 = df.withColumn("t1", t1c)
    t2c = F.min(
        F.when((F.col("event_type") == "view") & (F.col("ts") > F.col("t1")), F.col("ts"))
    ).over(w)
    step2 = step1.withColumn("t2", t2c)
    t3c = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")), F.col("ts")
        )
    ).over(w)
    step3 = step2.withColumn("t3", t3c)
    per = step3.groupBy("user_id").agg(
        F.first("t1").alias("t1"), F.first("t2").alias("t2"), F.first("t3").alias("t3")
    )
    got = per.agg(
        F.sum(F.col("t1").isNotNull().cast("long")).alias("c"),
        F.sum(F.col("t2").isNotNull().cast("long")).alias("v"),
        F.sum(F.col("t3").isNotNull().cast("long")).alias("p"),
    ).collect()[0]
    assert (got["c"] or 0, got["v"] or 0, got["p"] or 0) == (n_click, n_view, n_purchase)


@slow
@given(existing=ROWS, incoming=ROWS)
def test_snapshot_diff_law(spark, existing, incoming):
    """snapshot_diff ≡ dict-based classification (last row per key wins
    within each snapshot is NOT assumed — snapshots here are pre-deduped
    via dict semantics on the generated rows)."""
    old_d = {k: v for k, v, in existing}
    new_d = {k: v for k, v, in incoming}
    e = spark.createDataFrame(
        list(old_d.items()) or [(None, None)], "k int, v string"
    ).filter(F.col("k").isNotNull())
    i = spark.createDataFrame(
        list(new_d.items()) or [(None, None)], "k int, v string"
    ).filter(F.col("k").isNotNull())
    got = {r["k"]: r["change"] for r in M.snapshot_diff(e, i, "k", "v").collect()}
    want = {}
    for k in set(old_d) | set(new_d):
        if k not in old_d:
            want[k] = "insert"
        elif k not in new_d:
            want[k] = "delete"
        elif old_d[k] != new_d[k]:
            want[k] = "update"
        else:
            want[k] = "unchanged"
    assert got == want


@slow
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),      # user
            st.integers(min_value=0, max_value=8000),   # ts seconds (gaps straddle 1800)
        ),
        max_size=14,
        unique=True,
    )
)
def test_lag_gap_sessionization_law(spark, events):
    """lag_gap_sessions ≡ a per-user sorted scan splitting on >gap
    silences (includes duplicate-timestamp determinism via event_id)."""
    import datetime

    from ntd_gtfs_to_socrata_spark.queries.time_windows import lag_gap_sessions

    base = datetime.datetime(2020, 1, 1)
    rows = [
        (u, i, base + datetime.timedelta(seconds=s))
        for i, (u, s) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows or [(None, None, None)], "user_id long, event_id long, ts timestamp"
    ).filter(F.col("user_id").isNotNull())
    got = {
        (r["user_id"], r["session_seq"]): (r["n_events"], r["duration_sec"])
        for r in lag_gap_sessions(df, gap_sec=1800).collect()
    }

    per_user: dict[int, list[tuple[int, int]]] = {}
    for i, (u, s) in enumerate(events):
        per_user.setdefault(u, []).append((s, i))
    want = {}
    for u, evs in per_user.items():
        evs.sort()
        seq, start, prev, n = 0, None, None, 0
        for s, _ in evs:
            if prev is None or s - prev > 1800:
                if start is not None:
                    want[(u, seq)] = (n, prev - start)
                seq += 1
                start, n = s, 0
            n += 1
            prev = s
        want[(u, seq)] = (n, prev - start)
    assert got == want


@slow
@given(rows=ROWS)
def test_scd2_current_equals_last_write_wins(spark, rows):
    """Law: scd2_history(...).filter(is_current) ≡ last_write_wins(...),
    and validity intervals chain per key (valid_to[v] = valid_from[v+1])."""
    from ntd_gtfs_to_socrata_spark.operators import changelog as CL

    df = _df(spark, rows)
    hist = CL.scd2_history(df, ["k"], "seq").collect()
    current = {
        (r["k"], r["v"], r["seq"]) for r in hist if r["is_current"]
    }
    lww = {
        (r["k"], r["v"], r["seq"])
        for r in CL.last_write_wins(df, ["k"], "seq").collect()
    }
    assert current == lww
    by_key: dict[int, list] = {}
    for r in hist:
        by_key.setdefault(r["k"], []).append(r)
    for k, rs in by_key.items():
        rs.sort(key=lambda r: r["version"])
        assert [r["version"] for r in rs] == list(range(1, len(rs) + 1))
        for a, b in zip(rs, rs[1:]):
            assert a["valid_to"] == b["valid_from"]
        assert rs[-1]["valid_to"] is None


NUMROWS = st.lists(st.tuples(KEYS, st.integers(min_value=-5, max_value=5)), max_size=8)


@slow
@given(existing=NUMROWS, incoming=NUMROWS)
def test_incremental_agg_maintenance_law(spark, existing, incoming):
    """Law: MV(old) ⊕ group-delta(snapshot_delta(old, new)) == MV(new) for
    any pair of snapshots (last write per key wins inside each snapshot)."""
    def snap(rows):
        # one row per key (snapshots are keyed states): last value wins
        d = {}
        for k, v in rows:
            d[k] = v
        return d

    o, n = snap(existing), snap(incoming)
    old = spark.createDataFrame(
        [(k, v, k % 2) for k, v in o.items()] or [(None, None, None)],
        "k int, v int, g int",
    ).filter(F.col("k").isNotNull())
    new = spark.createDataFrame(
        [(k, v, k % 2) for k, v in n.items()] or [(None, None, None)],
        "k int, v int, g int",
    ).filter(F.col("k").isNotNull())

    mv_old = old.groupBy("g").agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
    delta = M.snapshot_delta(old, new, key="k", value="v", carry=("g",))
    d = delta.groupBy("g").agg(
        F.sum(
            F.when(F.col("change") == "insert", F.col("v_new"))
            .when(F.col("change") == "delete", -F.col("v_old"))
            .when(F.col("change") == "update", F.col("v_new") - F.col("v_old"))
            .otherwise(F.lit(0))
        ).alias("ds"),
        F.sum(
            F.when(F.col("change") == "insert", 1)
            .when(F.col("change") == "delete", -1)
            .otherwise(0)
        ).alias("dc"),
    )
    maintained = {
        r["g"]: (r["sum_v"], r["n_rows"])
        for r in mv_old.join(d, "g", "full_outer")
        .select(
            "g",
            (F.coalesce("s", F.lit(0)) + F.coalesce("ds", F.lit(0))).alias("sum_v"),
            (F.coalesce("c", F.lit(0)) + F.coalesce("dc", F.lit(0))).alias("n_rows"),
        )
        .filter(F.col("n_rows") > 0)
        .collect()
    }
    want = {}
    for k, v in n.items():
        g = k % 2
        s, c = want.get(g, (0, 0))
        want[g] = (s + v, c + 1)
    assert maintained == want


# ---------------------------------------------------------------------------
# r6 primitives: phash blockhash and k-core vs independent Python models
# ---------------------------------------------------------------------------

PAYLOAD_TEXT = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), min_size=0, max_size=200
)


def _py_blockhash_bands(data: bytes) -> tuple[int, int, int, int]:
    n = len(data)
    if n == 0:
        return (0, 0, 0, 0)
    total = sum(data)
    bits = []
    for i in range(64):
        lo, hi = (i * n) // 64, ((i + 1) * n) // 64
        bits.append(1 if 64 * sum(data[lo:hi]) > total else 0)
    return tuple(
        sum(bits[16 * j + k] << k for k in range(16)) for j in range(4)
    )


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(PAYLOAD_TEXT, min_size=1, max_size=5))
def test_phash_bands_match_python_model(spark, texts):
    from ntd_gtfs_to_socrata_spark.operators import multimodal as MM

    df = spark.createDataFrame(
        [(i, t.encode("utf-8")) for i, t in enumerate(texts)],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: (r["b0"], r["b1"], r["b2"], r["b3"])
           for r in MM.phash_bands(df).collect()}
    for i, t in enumerate(texts):
        assert got[i] == _py_blockhash_bands(t.encode("utf-8"))


def _py_k_core(edges: list[tuple[int, int]], k: int) -> dict[int, int]:
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for node in list(adj):
            if len(adj[node]) < k:
                for nb in adj.pop(node):
                    adj[nb].discard(node)
                changed = True
    return {n: len(nbrs) for n, nbrs in adj.items()}


SMALL_EDGES = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=25,
    unique=True,
)


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=SMALL_EDGES)
def test_k_core_matches_python_peeling(spark, edges):
    from ntd_gtfs_to_socrata_spark.operators.graph import k_core

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["core_degree"] for r in k_core(df, k=2).collect()}
    assert got == _py_k_core(edges, 2)


@slow
@given(edges=EDGES)
def test_hits_matches_python_model(spark, edges):
    """2-iteration integer HITS on random directed graphs ≡ the obvious
    Python model (exact BIGINT propagation, no float anywhere)."""
    from ntd_gtfs_to_socrata_spark.operators.graph import hits

    dedup = sorted(set(edges))
    if not dedup:
        return
    df = spark.createDataFrame(dedup, "src long, dst long")
    got = {
        r["node"]: (r["auth_raw"], r["hub_raw"])
        for r in hits(df, iterations=2).collect()
    }
    nodes = {n for e in dedup for n in e}
    h = {n: 1 for n in nodes}
    a = {}
    for _ in range(2):
        a = {n: 0 for n in nodes}
        for s, d in dedup:
            a[d] += h[s]
        h = {n: 0 for n in nodes}
        for s, d in dedup:
            h[s] += a[d]
    assert got == {n: (a[n], h[n]) for n in nodes}


@slow
@given(edges=EDGES, seed_mod=st.integers(min_value=2, max_value=5))
def test_bfs_distances_match_python_bfs(spark, edges, seed_mod):
    """Multi-source BFS on random graphs ≡ Python BFS from the same seeds,
    truncated at the hop budget."""
    from collections import deque

    from ntd_gtfs_to_socrata_spark.operators.graph import bfs_distances

    dedup = sorted(set(edges))
    nodes = {n for e in dedup for n in e}
    seeds = sorted(n for n in nodes if n % seed_mod == 0)
    if not dedup or not seeds:
        return
    df = spark.createDataFrame(dedup, "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "doc_id long")
    max_hops = 4
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(df, sdf, max_hops=max_hops).collect()
    }
    adj: dict[int, set[int]] = {}
    for x, y in dedup:
        adj.setdefault(x, set()).add(y)
        adj.setdefault(y, set()).add(x)
    want = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        n = q.popleft()
        if want[n] >= max_hops:
            continue
        for m in adj.get(n, ()):
            if m not in want:
                want[m] = want[n] + 1
                q.append(m)
    assert got == want


@slow
@given(edges=EDGES, seed_mod=st.integers(min_value=2, max_value=5))
def test_per_seed_bfs_and_closeness_match_python(spark, edges, seed_mod):
    """Per-seed BFS on random graphs ≡ an independent Python BFS from
    EACH seed; harmonic closeness folds exactly as floor(1e6/d) sums."""
    from collections import deque

    from ntd_gtfs_to_socrata_spark.operators.graph import bfs_distances_per_seed

    dedup = sorted(set(edges))
    nodes = {n for e in dedup for n in e}
    seeds = sorted(n for n in nodes if n % seed_mod == 0)
    if not dedup or not seeds:
        return
    df = spark.createDataFrame(dedup, "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "doc_id long")
    max_hops = 4
    got = {
        (r["seed"], r["node"]): r["dist"]
        for r in bfs_distances_per_seed(df, sdf, max_hops=max_hops).collect()
    }
    adj: dict[int, set[int]] = {}
    for x, y in dedup:
        adj.setdefault(x, set()).add(y)
        adj.setdefault(y, set()).add(x)
    want: dict[tuple[int, int], int] = {}
    for s in seeds:
        dist = {s: 0}
        q = deque([s])
        while q:
            n = q.popleft()
            if dist[n] >= max_hops:
                continue
            for m in adj.get(n, ()):
                if m not in dist:
                    dist[m] = dist[n] + 1
                    q.append(m)
        for n, d in dist.items():
            want[(s, n)] = d
    assert got == want
