"""Aggregate merge: a counter table as a CDC consumer.

``merge_agg`` ingests INCREMENT events (one row per source event, each
carrying its contribution: +1, +chars, …) into a key-unique
accumulator table — the SummingMergeTree / "metrics rollforward" shape
a usage-metering pipeline needs next to the row-image tables. Unlike
``rollup.py`` (which re-aggregates table STATE from snapshot diffs)
this consumes the event stream directly, so the accumulators never
require reading the fact table at all.

Semantics per value column, via ``resolvers``:

- ``sum``  → old + Σ batch contributions (commutative: out-of-order
  batches land the same totals);
- ``min`` / ``max`` → fold over old and batch values (idempotent &
  commutative);
- ``approx_distinct`` → the batch column carries RAW values (user ids,
  texts, …); the accumulator column holds a Datasketches HLL sketch
  (``binary``): batch partials via ``hll_sketch_agg``, fold via
  ``hll_union`` (commutative & associative — the mergeable-summaries
  property that makes distinct counting incremental at all; an exact
  distinct would need the full value set per key). Read estimates with
  ``hll_sketch_estimate`` (exact in the sketch's sparse regime, ~2%
  relative error beyond). The ledger's replay-no-op is what makes the
  non-idempotent union retry-safe, same as ``sum``;
- any payload column NOT in resolvers is rejected — an accumulator
  table holds accumulators.

``op='delete'`` resets a key: within one commit the delete applies
FIRST, then that batch's increments re-accumulate from zero (a
deterministic rule that needs no event ordering); across commits,
deletes take effect in commit order — the standard counter-store
contract (a later increment re-creates the key from zero).

Exactly-once: the ledger range makes a replayed batch a NO-OP, which is
what makes non-idempotent ``sum`` safe to retry.

Scale shape: ONE map-side-combined hash aggregation collapses the batch
to per-key partials; the current accumulators are read bucket-pruned to
the touched keys' buckets and semi-joined; the final fold + commit ride
the ordinary ledgered merge. Everything is hash-aggs — no windows, no
row explosion, skew collapses in the combine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..lakehouse import CommitInfo, SnapshotTable, bucket_expr

def _hll_union_nullsafe(old, new):
    # hll_union errors on NULL; a key new to either side keeps the
    # other side's sketch
    return (
        F.when(old.isNull(), new)
        .when(new.isNull(), old)
        .otherwise(F.hll_union(old, new))
    )


_FOLDS = {
    "sum": (F.sum, lambda old, new: F.coalesce(old, F.lit(0)) + F.coalesce(new, F.lit(0))),
    "min": (F.min, F.least),
    "max": (F.max, F.greatest),
    "approx_distinct": (F.hll_sketch_agg, _hll_union_nullsafe),
}


def merge_agg(
    table: SnapshotTable,
    batch: DataFrame,
    resolvers: dict[str, str],
    applied_range: tuple[int, int] | None = None,
    on_conflict: str = "fail",
    prune_buckets: bool = True,
) -> CommitInfo:
    """Fold a batch of increment events into ``table``'s accumulators.

    ``batch`` columns: the table's key columns, ``lsn``, optional
    ``op`` ('incr' default / 'delete'), and one column per resolver
    entry carrying that event's contribution. The table's schema must
    be keys + resolver columns + ``ts`` (the sync ordinal the merge
    owns — monotone in the ledger range, so later commits always win)."""
    m = table.manifest(refresh=True)
    keys = m["key_cols"]
    nb = m["bucket_count"]
    if applied_range is not None and table.is_applied(*applied_range):
        return CommitInfo(m["snapshot_id"], 0, 0, applied_range)
    payload = {
        f.name for f in table.current_schema(m).fields
    } - set(keys) - {"ts"}
    missing = payload - set(resolvers)
    if missing:
        raise ValueError(
            f"accumulator columns without a resolver: {sorted(missing)} — "
            "an aggregate table holds accumulators only"
        )
    bad = {c: r for c, r in resolvers.items() if r not in _FOLDS}
    if bad:
        raise ValueError(
            f"unknown resolvers {bad}; use one of {sorted(_FOLDS)}"
        )

    has_op = "op" in batch.columns
    inc = batch.filter(F.col("op") != "delete") if has_op else batch
    # ONE map-side-combined aggregation: batch -> per-key partials
    partials = inc.groupBy(*keys).agg(
        *[_FOLDS[r][0](F.col(c)).alias(c) for c, r in resolvers.items()],
        F.max("lsn").alias("_max_lsn"),
    )

    touched = batch.select(*keys).distinct()
    # prune_buckets=True (default): one tiny job lists the batch's
    # buckets so the current-accumulator read opens only those — the
    # scale-right choice for key-local increment streams. A caller
    # whose batch hashes across every bucket anyway (uniform keys)
    # passes False: the listing job and the merge's own pre-pass are
    # then skipped and the accumulator read covers the table (which it
    # would have anyway), same final state.
    if prune_buckets:
        bkts = sorted(
            r[0]
            for r in touched.select(
                bucket_expr(keys[0], nb).alias("b")
            ).distinct().collect()
        )
    else:
        bkts = None
    current = (
        table.read(buckets=bkts or None)
        .join(touched, keys, "left_semi")
        .select(*keys, *resolvers)
    )
    if has_op:
        # delete-first: reset keys deleted in this batch before folding
        deleted = batch.filter(F.col("op") == "delete").select(*keys).distinct()
        current = current.join(deleted, keys, "left_anti")
    else:
        deleted = None

    joined = partials.alias("n").join(current.alias("o"), keys, "full_outer")
    folded = joined.select(
        *[F.coalesce(F.col(f"n.{k}"), F.col(f"o.{k}")).alias(k) for k in keys],
        *[
            _FOLDS[r][1](F.col(f"o.{c}"), F.col(f"n.{c}")).alias(c)
            for c, r in resolvers.items()
        ],
    )
    # ordinal follows COMMIT order (snapshot id), not range order:
    # batches may apply out of lsn order (sum/min/max commute), and a
    # range-based ordinal would lose LWW against an already-applied
    # later range, silently dropping the fold
    ordinal = m["snapshot_id"] + 1
    events = folded.withColumn(
        "ts", F.timestamp_seconds(F.lit(ordinal))
    ).withColumn("op", F.lit("update")).withColumn(
        "lsn", F.lit(ordinal).cast("long")
    )
    if deleted is not None:
        # keys deleted with NO re-increments in the batch: emit deletes
        gone = deleted.join(partials.select(*keys), keys, "left_anti")
        sch = {f.name: f.dataType for f in table.current_schema(m).fields}
        del_events = gone.select(
            *keys,
            *[F.lit(None).cast(sch[c]).alias(c) for c in resolvers],
            F.timestamp_seconds(F.lit(ordinal)).alias("ts"),
            F.lit("delete").alias("op"),
            F.lit(ordinal).cast("long").alias("lsn"),
        )
        events = events.unionByName(del_events)
    return table.merge_cdc(
        events, applied_range=applied_range, lineage=False,
        on_conflict=on_conflict,
        prune_buckets=prune_buckets,
    )
