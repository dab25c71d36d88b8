"""Key-based merge layer (SURVEY.md §2.3 J1-J5).

The reference does these joins as hand-written Python nested loops /
membership tests; here each is a declarative join Catalyst can plan
(broadcast for small dims, sort-merge + AQE skew handling otherwise):

- J1  feed-ID resolution   — left outer equi-join on a regex-extracted key
      (``getFourfourFromCatalogonMatchingFeedID``,
      /root/reference/publish_to_catalog.py:503-513).
- J2  create-vs-update routing — null-key ⇒ 'create' else 'update'
      (publish_to_catalog.py:536-543): the anti/semi halves of J1.
- J3  deletion anti-join   — sink rows absent from incoming ⇒ delete set
      (``locateDeletions``, publish_to_catalog.py:261-288).
- J4  upsert (merge-by-key) — incoming wins over existing
      (publish_to_catalog.py:345-352): plain-Spark MERGE via union +
      row_number window dedupe.
- J5  full sync = J4 + J3  — snapshot replace by key
      (publish_to_catalog.py:354): MERGE ... WHEN NOT MATCHED BY SOURCE
      THEN DELETE semantics; the snapshot is incoming deduplicated by key,
      and ``full_sync_with_deletions`` counts J3 on the same keyed join.

Scale notes: the upsert shuffles once on the key (window partitionBy).
The full sync shuffles incoming's rows once on the key and existing's key
column only. For a lakehouse target this whole module maps to a single
Delta/Iceberg MERGE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F


def resolve_by_key(
    incoming: DataFrame,
    catalog: DataFrame,
    key: str,
    broadcast_catalog: bool = True,
) -> DataFrame:
    """J1: left outer equi-join; catalog is a small dimension ⇒ broadcast
    hash join (no shuffle of the big side)."""
    right = F.broadcast(catalog) if broadcast_catalog else catalog
    return incoming.join(right, on=key, how="left")


def route_create_update(
    resolved: DataFrame, resolved_id_col: str, action_col: str = "action"
) -> DataFrame:
    """J2 (publish_to_catalog.py:536-543)."""
    return resolved.withColumn(
        action_col,
        F.when(F.col(resolved_id_col).isNull(), F.lit("create")).otherwise(
            F.lit("update")
        ),
    )


def locate_deletions(existing: DataFrame, incoming: DataFrame, key: str) -> DataFrame:
    """J3 (publish_to_catalog.py:261-288): existing \\ incoming by key."""
    return existing.join(incoming, on=key, how="left_anti")


def upsert(
    existing: DataFrame,
    incoming: DataFrame,
    key: str | list[str],
    order_tiebreak: Column | None = None,
) -> DataFrame:
    """J4: plain-Spark MERGE-by-key; incoming rows win over existing.

    union + per-key row_number with a source-priority ordering — one
    shuffle on the key. Columns are aligned by name (schema-tolerant:
    missing columns become nulls).
    """
    keys = [key] if isinstance(key, str) else list(key)
    src = incoming.withColumn("__src_priority", F.lit(0))
    tgt = existing.withColumn("__src_priority", F.lit(1))
    unioned = src.unionByName(tgt, allowMissingColumns=True)
    order = [F.col("__src_priority").asc()]
    if order_tiebreak is not None:
        order.append(order_tiebreak)
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        unioned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src_priority")
    )


def full_sync(existing: DataFrame, incoming: DataFrame, key: str | list[str]) -> DataFrame:
    """J5: upsert + delete-absent. The post-sync snapshot is ``incoming``
    deduplicated by key (incoming wins, one of its rows per key, NULL keys
    dropped); rows only in ``existing`` are gone. The law it satisfies:

        full_sync(E, I, k) == upsert(E, I, k) ⋉ distinct(I.k)    (left-semi on k)

    row for row and column for column: ``incoming``'s columns, then the
    columns only ``existing`` has, all NULL (``unionByName`` with missing
    columns allowed). Syncing twice against the same incoming is a
    fixpoint. Only ``incoming`` is shuffled: an existing row can survive
    only under an incoming key, where an incoming row wins, so no existing
    row reaches the snapshot and ``existing`` contributes its schema
    alone."""
    keys = [key] if isinstance(key, str) else list(key)
    own = {c.lower() for c in incoming.columns}  # unionByName matches names case-insensitively
    missing = [f for f in existing.schema.fields if f.name.lower() not in own]
    return (
        incoming.dropna(how="any", subset=keys)
        .dropDuplicates(keys)
        .select("*", *[F.lit(None).cast(f.dataType).alias(f.name) for f in missing])
    )


def full_sync_with_deletions(
    existing: DataFrame, incoming: DataFrame, key: str, counts: Observation
) -> tuple[DataFrame, DataFrame]:
    """J5 + J3 from ONE keyed full-outer join of ``full_sync``'s rows to
    ``existing``'s per-key row counts; only ``existing``'s key column is
    shuffled (partial counts per key). Returns ``(snapshot, deletions)``:

    - ``snapshot`` = ``full_sync(existing, incoming, key)``, observing on
      the join ``n`` (its rows) and ``deleted`` (the existing rows whose
      key is gone, = ``locate_deletions(existing, incoming, key).count()``,
      duplicate and NULL existing keys included) into ``counts``, so the
      action that writes the snapshot also counts the deletions;
    - ``deletions`` = one ``(key, rows)`` row per existing-only key, lazy
      over the same join.
    """
    synced = full_sync(existing, incoming, key)
    old = existing.groupBy(F.col(key).alias("__old_key")).agg(
        F.count(F.lit(1)).alias("__old_rows")
    )
    joined = synced.join(old, F.col(key) == F.col("__old_key"), "full_outer")
    kept = F.col(key).isNotNull()  # full_sync drops NULL keys
    observed = joined.observe(
        counts,
        F.count(F.col(key)).alias("n"),
        F.coalesce(F.sum(F.when(~kept, F.col("__old_rows"))), F.lit(0)).alias("deleted"),
    )
    # the filters sit above the observation: below it, Catalyst would turn
    # the full-outer join into a one-sided one and lose the other side
    snapshot = observed.filter(kept).select(*synced.columns)
    deletions = joined.filter(~kept).select(
        F.col("__old_key").alias(key), F.col("__old_rows").alias("rows")
    )
    return snapshot, deletions


def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str, value: str
) -> DataFrame:
    """Classify every key across two snapshots as insert / delete /
    update / unchanged — the CDC extract generalizing locate_deletions +
    upsert into ONE full-outer join (reference analog:
    publish_to_catalog.py:486-528's separate delete-scan and upsert
    passes). Returns (key, change) rows.

    Scale posture: one co-partitioned sort-merge join; bucket both
    snapshots on the key (io.write_bucketed) and the exchange disappears.
    """
    o = old.select(F.col(key).alias("__k_old"), F.col(value).alias("__v_old"))
    n = new.select(F.col(key).alias("__k_new"), F.col(value).alias("__v_new"))
    change = (
        F.when(F.col("__k_old").isNull(), "insert")
        .when(F.col("__k_new").isNull(), "delete")
        .when(F.col("__v_old") != F.col("__v_new"), "update")
        .otherwise("unchanged")
    )
    return o.join(n, o.__k_old == n.__k_new, "full_outer").select(
        F.coalesce(F.col("__k_old"), F.col("__k_new")).alias(key),
        change.alias("change"),
    )


def snapshot_delta(
    old: DataFrame,
    new: DataFrame,
    key: str,
    value: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The value-carrying CDC delta stream behind [[snapshot_diff]]:
    ``(key, change, v_old, v_new, *carry)`` — v_old/v_new are NULL outside
    their side, carry columns are coalesced across sides. This is the input
    an incremental materialized-view maintainer consumes: each row carries
    exactly enough to retract the old contribution and apply the new one.

    Same plan as snapshot_diff: ONE co-partitioned full-outer sort-merge
    join on the key (exchange-free when both snapshots are bucketed)."""
    o = old.select(
        F.col(key).alias("__k_old"),
        F.col(value).alias("v_old"),
        *[F.col(c).alias(f"__o_{c}") for c in carry],
    )
    n = new.select(
        F.col(key).alias("__k_new"),
        F.col(value).alias("v_new"),
        *[F.col(c).alias(f"__n_{c}") for c in carry],
    )
    change = (
        F.when(F.col("__k_old").isNull(), "insert")
        .when(F.col("__k_new").isNull(), "delete")
        .when(F.col("v_old") != F.col("v_new"), "update")
        .otherwise("unchanged")
    )
    return o.join(n, o.__k_old == n.__k_new, "full_outer").select(
        F.coalesce(F.col("__k_old"), F.col("__k_new")).alias(key),
        change.alias("change"),
        "v_old",
        "v_new",
        *[
            F.coalesce(F.col(f"__o_{c}"), F.col(f"__n_{c}")).alias(c)
            for c in carry
        ],
    )
