"""Tokenizer-training primitives: distributed BPE pair statistics
(▲ north-star; no counterpart in the reference, whose only text surface
is regex validation at publish_to_catalog.py:128-154).

Byte-pair-encoding training is, per merge round, "count every adjacent
symbol pair across the corpus, weighted by word frequency; merge the
most frequent pair". The count step is the expensive, corpus-sized part
and is exactly a Spark aggregation; the merge choice is a 1-row argmax.
The key scale move: collapse the corpus to the DISTINCT-TOKEN table
first (vocab-sized, bounded by Heaps' law — millions of rows at 100 TB,
not billions), carry each token's corpus frequency, and derive pair
counts from the vocab with frequency weights. Pair generation is then a
map-side higher-order-function expression over a vocab-sized input:
both shuffles (token count, pair sum) are map-side-combined aggregations
whose reduce volume is vocab/pair cardinality, independent of corpus
row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ntd_gtfs_to_socrata_spark.io import ensure_min_parallelism, load_table
from ntd_gtfs_to_socrata_spark.operators import textops as TX
from ntd_gtfs_to_socrata_spark.operators.stagecache import checkpoint
from ntd_gtfs_to_socrata_spark.queries import register

# Adjacent character pairs of tok = substr(tok, i, 2) for i in 1..len-1.
_PAIR_COUNTS_SQL = """
WITH tok AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
  FROM documents
),
tc AS (
  SELECT tok, count(*) AS n FROM tok WHERE len(tok) >= 2 GROUP BY tok
),
pairs AS (
  SELECT unnest(list_transform(range(1, len(tok)),
                               i -> substr(tok, CAST(i AS INT), 2))) AS pair,
         n
  FROM tc
)
SELECT pair, CAST(sum(n) AS BIGINT) AS n_occurrences
FROM pairs GROUP BY pair
"""

BPE_PAIR_ORACLE = f"SELECT * FROM ({_PAIR_COUNTS_SQL}) WHERE n_occurrences >= 5"

BPE_TOP_ORACLE = f"""
SELECT * FROM ({_PAIR_COUNTS_SQL})
ORDER BY n_occurrences DESC, pair LIMIT 1
"""


def _pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    tok_counts = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
        .filter(F.length("tok") >= 2)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = tok_counts.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.substring(F.col("tok"), i, F.lit(2)),
            )
        ).alias("pair"),
        "n",
    )
    return pairs.groupBy("pair").agg(F.sum("n").alias("n_occurrences"))


@register("bpe_pair_counts", BPE_PAIR_ORACLE)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent-character-pair frequencies, the inner loop of
    BPE tokenizer training, at support ≥ 5. Two map-side-combined
    shuffles: corpus → distinct-token counts (vocab-sized reduce), vocab
    → pair sums (alphabet²-bounded reduce). Pair explosion happens on the
    VOCAB, not the corpus — a token appearing a million times contributes
    its pairs once with weight 1e6."""
    return _pair_counts(spark, sf_dir).filter(F.col("n_occurrences") >= 5)


@register("bpe_top_merge", BPE_TOP_ORACLE)
def bpe_top_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merge-selection step: the single most frequent adjacent pair
    (count desc, pair asc for a deterministic tiebreak). TakeOrdered over
    the pair-count aggregate — the 1-row result a BPE trainer would fold
    into its merge table before re-segmenting."""
    return _pair_counts(spark, sf_dir).orderBy(
        F.col("n_occurrences").desc(), F.col("pair").asc()
    ).limit(1)


def _java_quote(s: str) -> str:
    r"""Literal-quote a learned symbol for use inside a Java regex
    (\Q..\E, with embedded \E split out the way Pattern.quote does)."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def _repl_escape(s: str) -> str:
    """Escape Java regexp_replace replacement metacharacters."""
    return s.replace("\\", "\\\\").replace("$", "\\$")


def train_bpe_merges(
    spark: SparkSession, sf_dir: str, n_merges: int = 3
) -> DataFrame:
    """Full iterative BPE training over the corpus vocabulary.

    State is the vocab-sized (rep, n) table where ``rep`` is the token's
    current symbol segmentation as a space-joined string ("t h e" →
    after merging ('t','h') → "th e"). Each round: (1) aggregate
    adjacent-symbol pair counts (two map-side-combined shuffles, reduce
    volume bounded by vocab/pair cardinality), (2) collect the 1-row
    argmax — a control-plane scalar, the same collect contract as the
    k-means centroids (similarity_q.py) — and (3) fold the merge into
    ``rep`` with a literal-quoted whole-symbol regexp_replace (leftmost,
    non-overlapping: standard BPE merge order). The corpus itself is
    touched ONCE, to build the vocab; every iteration runs on the
    vocab-sized state, which is what makes N-round training tractable at
    100 TB (Heaps' law bounds the vocab at millions of rows while the
    corpus has billions).
    """
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    # the vocab-sized state is checkpointed once per round (each round
    # superseding the last), so iterations re-read materialized state
    state = checkpoint(
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
        .filter(F.length("tok") >= 2)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.concat_ws(" ", F.split("tok", "")).alias("rep"), "n")
    )
    merges = []
    for rank in range(1, n_merges + 1):
        pair_counts = (
            state.select(F.split("rep", " ").alias("syms"), "n")
            .select(
                F.explode(
                    F.transform(
                        F.slice(
                            F.col("syms"), 1, F.size("syms") - 1
                        ),
                        lambda x, i: F.struct(
                            x.alias("left"),
                            F.element_at(F.col("syms"), i + 2).alias("right"),
                        ),
                    )
                ).alias("p"),
                "n",
            )
            .groupBy("p.left", "p.right")
            .agg(F.sum("n").alias("n_occurrences"))
        )
        best = pair_counts.orderBy(
            F.col("n_occurrences").desc(), F.col("left").asc(), F.col("right").asc()
        ).limit(1).collect()
        if not best:
            break
        left, right, n_occ = best[0]["left"], best[0]["right"], best[0]["n_occurrences"]
        merges.append((rank, left, right, left + right, n_occ))
        if rank == n_merges:
            break  # the last merge's state has no reader
        pattern = f"(?<= |^){_java_quote(left)} {_java_quote(right)}(?= |$)"
        state = checkpoint(
            state.select(
                F.regexp_replace("rep", pattern, _repl_escape(left + right)).alias("rep"),
                "n",
            ),
            supersedes=state,
        )
    return spark.createDataFrame(
        merges, "merge_rank int, left string, right string, merged string, n_occurrences bigint"
    )


# LOCAL_ORACLES tier (r12 verdict item 3): the training loop is iterative
# and not PLAIN-SQL-expressible, but its output is deterministic
# integers/strings — so with the reference trainer registered as DuckDB
# scalars (tools/local_oracles.py) the merge tables and per-doc counts
# are full value-hash-checked locally. The driver's plain-DuckDB harness
# still records these rows-only (no create_function hook — see
# oracle_sql()'s docstring for the proposal).
BPE_TRAIN_LOCAL_ORACLE = """
SELECT CAST(r AS INT) AS merge_rank,
       bpe3_left(r) AS "left",
       bpe3_right(r) AS "right",
       bpe3_merged(r) AS merged,
       bpe3_n(r) AS n_occurrences
FROM range(1, 4) t(r) WHERE r <= bpe3_count(0)
"""

BPE_TRAIN_SAMPLED_LOCAL_ORACLE = """
SELECT CAST(r AS INT) AS merge_rank,
       bpe50_left(r) AS "left",
       bpe50_right(r) AS "right",
       bpe50_merged(r) AS merged,
       bpe50_n(r) AS n_occurrences
FROM range(1, 51) t(r) WHERE r <= bpe50_count(0)
"""

BPE_TOKEN_COUNTS_LOCAL_ORACLE = """
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
    FROM documents)
  WHERE length(tok) > 0
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(SUM(bpe_len(tok)) AS BIGINT) AS n_bpe_tokens
FROM toks GROUP BY doc_id
"""


@register("bpe_train_merges", local_oracle=BPE_TRAIN_LOCAL_ORACLE)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three rounds of BPE training (rows-only in the DRIVER gate: the
    per-round argmax over a re-segmented state is iterative and not
    plain-SQL-expressible; locally the learned merge table is full
    value-hash-checked against the independent reference trainer via
    DuckDB Python scalars — LOCAL_ORACLES tier — and
    tests/test_entity_res_tokenizer.py pins the same equality)."""
    return train_bpe_merges(spark, sf_dir, n_merges=3)


@register("bpe_token_counts", local_oracle=BPE_TOKEN_COUNTS_LOCAL_ORACLE)
def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY side of BPE: per-document sequence length under the
    trained tokenizer — the number every packing/budgeting decision
    (tp_pack_sequences, context-window accounting) actually needs,
    which differs from the whitespace token count the moment merges
    exist. Pipeline: train (3 merges, collected as control-plane
    scalars) → segment the VOCAB by folding the merges into each
    token's symbol string (3 chained literal regexp_replace — applied
    vocab-side, never corpus-side) → broadcast-join the per-token
    symbol count back to the exploded corpus → per-doc sum. Single-char
    tokens (below the vocab's length floor) are 1 symbol by definition.
    At 100 TB the trained segmentation is a persisted artifact keyed by
    token — this query re-derives it inline to stay self-contained.
    Rows-only: the result depends on the learned merges, so there is no
    SQL oracle; tests value-check against the pure-Python trainer's
    segmentation on the same corpus."""
    merges_df = train_bpe_merges(spark, sf_dir, n_merges=3)
    merges = [
        (r["left"], r["right"])
        for r in merges_df.orderBy("merge_rank").collect()
    ]
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok")
    ).filter(F.length("tok") > 0)
    rep = F.concat_ws(" ", F.split("tok", ""))
    for left, right in merges:
        pattern = f"(?<= |^){_java_quote(left)} {_java_quote(right)}(?= |$)"
        rep = F.regexp_replace(rep, pattern, _repl_escape(left + right))
    vocab = (
        toks.filter(F.length("tok") >= 2)
        .select("tok")
        .distinct()
        .select("tok", F.size(F.split(rep, " ")).alias("bpe_len"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .withColumn("bpe_len", F.coalesce("bpe_len", F.lit(1)))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("bpe_len").alias("n_bpe_tokens"),
        )
    )


def train_bpe_merges_sampled(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = 50,
    sample_vocab: int = 100_000,
) -> DataFrame:
    """PRODUCTION-SCALE BPE training path (r8 verdict task 8): the
    distributed ``train_bpe_merges`` is exact but pays one Spark job per
    merge round — at a real 50k-merge vocab that is 50k jobs, a wall no
    amount of per-job efficiency fixes because BPE's merge choice is
    inherently sequential. The standard production answer (every major
    tokenizer trains this way) is: ONE distributed pass reduces the
    corpus to the frequency-weighted vocab, a bounded SAMPLE of that
    vocab (the ``sample_vocab`` most frequent tokens — deterministic:
    count desc, token asc) is collected, and the sequential merge loop
    runs driver-side over the vocab-sized sample with NO per-round jobs.

    Same semantics as the distributed trainer (adjacent-pair counts
    weighted by token frequency; leftmost non-overlapping merge fold;
    tie-break count desc, left asc, right asc), same output schema —
    so when the sample covers the full vocab the two trainers are EQUAL
    row-for-row (pinned in tests/test_entity_res_tokenizer.py), and at
    scale the sample's frequency cutoff is the only approximation, the
    one every practical BPE implementation makes.

    Scale posture: corpus touched once (two map-side-combined shuffles,
    reduce volume = vocab cardinality); the collect is top-N-bounded
    (Heaps' law makes the FULL vocab millions of rows at 100 TB — the
    cap keeps the driver transfer fixed regardless); the merge loop is
    O(n_merges * sample_tokens) driver CPU with zero cluster occupancy."""
    docs = ensure_min_parallelism(load_table(spark, sf_dir, "documents"))
    vocab_rows = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
        .filter(F.length("tok") >= 2)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(sample_vocab)
        .collect()
    )
    vocab: dict[tuple, int] = {}
    for r in vocab_rows:
        key = tuple(r["tok"])
        vocab[key] = vocab.get(key, 0) + r["n"]
    merges = []
    for rank in range(1, n_merges + 1):
        pair_counts: dict[tuple, int] = {}
        for syms, n in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pair_counts[(a, b)] = pair_counts.get((a, b), 0) + n
        if not pair_counts:
            break
        (left, right), n_occ = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, left, right, left + right, n_occ))
        new_vocab: dict[tuple, int] = {}
        for syms, n in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + n
        vocab = new_vocab
    return spark.createDataFrame(
        merges,
        "merge_rank int, left string, right string, merged string, n_occurrences bigint",
    )


@register(
    "bpe_train_merges_sampled", local_oracle=BPE_TRAIN_SAMPLED_LOCAL_ORACLE
)
def bpe_train_merges_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """50 merge rounds via the sampled driver-side trainer (rows-only in
    the DRIVER gate: iterative argmax, not plain-SQL-expressible;
    locally full value-hash-checked at LOCAL_ORACLES tier — the sample
    cap exceeds every fixture vocab, so the reference trainer replays
    all 50 rounds exactly). On the fixture rounds 1-3 equal the
    distributed ``bpe_train_merges`` (pinned in tests) — the entry
    documents the production path: one corpus pass + driver-side merge
    loop, no job-per-merge wall."""
    return train_bpe_merges_sampled(spark, sf_dir, n_merges=50)
