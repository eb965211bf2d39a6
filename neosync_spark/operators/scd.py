"""Slowly-changing-dimension type-2 history — versioned effective ranges.

The reference replays a change stream into the destination's CURRENT
state (`ON CONFLICT DO UPDATE`, worker/pkg/benthos/sql/
output_sql_insert.go:187-191) and separately exposes the raw event
stream; warehouses consuming a CDC feed almost always also want the
third shape — the Kimball type-2 dimension: one row per VERSION of a
key with an effective range [valid_from, valid_to) and an is_current
flag, deletes closing the last open range without emitting a row.

Spark-first plan: one hash shuffle on the key, a single window pass
(`lead` over (ts, lsn)) to close each version with the NEXT event's
ordinate, then a filter dropping delete events (they exist only to
close ranges). No self-join, no second shuffle: Catalyst plans the
row_number + lead over the same window spec as ONE Window operator.

Scale notes (10^10 events):
* The shuffle key is the full business key (e.g. (conv_id, turn_idx)),
  not the conversation — hot conversations spread over their turns.
* A key's whole version chain lands in one task (any SCD2 build needs
  that adjacency); chains are bounded by per-key update counts, not by
  corpus size. For pathological single-key firehoses, fold with
  `lww_dedup` first and keep only the latest k versions.
* At-least-once delivery re-emits identical events; `dedupe=True`
  collapses them BEFORE the window so a duplicate cannot fabricate a
  zero-width version.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scd2_history(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str] = ("ts", "lsn"),
    attr_cols: Sequence[str] | None = None,
    op_col: str = "op",
    delete_op: str = "delete",
    dedupe: bool = True,
) -> DataFrame:
    """Build the type-2 history of a change log.

    Returns one row per non-delete event (a VERSION), with:
      * ``version_seq``  — 1-based ordinal of the event within its key
        (deletes consume a seq so the numbering matches the raw log),
      * ``valid_from_<o>`` / ``valid_to_<o>`` for each order column —
        the half-open effective range; ``valid_to_*`` NULL while open,
      * ``is_current``   — 1 for the key's live version (last event and
        not closed by a later delete), else 0.

    ``order_cols`` must be a total order per key ((ts, lsn) — the LWW
    ordinate used everywhere else in this engine).
    """
    attrs = list(
        attr_cols
        if attr_cols is not None
        else [c for c in df.columns if c not in (*key_cols, *order_cols, op_col)]
    )
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).asc() for c in order_cols])
    if dedupe:
        # Identical re-deliveries share the full (key, order) tuple, so
        # they are ADJACENT under w's ordering: drop a row whose
        # predecessor has the same order tuple. Using the same window
        # spec keeps this a second Window op over the SAME exchange —
        # one shuffle total, vs the extra full-tuple shuffle a
        # dropDuplicates([*key, *order]) would plan.
        ord_struct = F.struct(*[F.col(c) for c in order_cols])
        df = (
            df.withColumn("_prev_ord", F.lag(ord_struct).over(w))
            .filter(~ord_struct.eqNullSafe(F.col("_prev_ord")))
            .drop("_prev_ord")
        )
    nxt = {c: F.lead(F.col(c)).over(w) for c in order_cols}
    versioned = df.select(
        *key_cols,
        F.row_number().over(w).cast("long").alias("version_seq"),
        *attrs,
        F.col(op_col).alias("change_op"),
        *[F.col(c).alias(f"valid_from_{c}") for c in order_cols],
        *[nxt[c].alias(f"valid_to_{c}") for c in order_cols],
    )
    first_order = order_cols[0]
    return versioned.filter(F.col("change_op") != F.lit(delete_op)).withColumn(
        "is_current",
        F.when(F.col(f"valid_to_{first_order}").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long"),
    )


def scd2_dim_schema(event_schema, key_cols, attr_cols, lsn_type=None):
    """Schema for an incrementally-maintained SCD2 dimension table:
    key columns + version_seq (the dimension's composite key), the
    versioned attributes, the [valid_from_lsn, valid_to_lsn) effective
    range, is_current, a tombstone flag (delete events consume a
    version_seq but carry no attributes — stored so the NEXT epoch's
    seq offset counts them; filtered out of `scd2_state`), and the
    sync-ordinal `ts` the dimension's own LWW merges order by."""
    from pyspark.sql import types as T

    by_name = {f.name: f for f in event_schema.fields}
    fields = [
        T.StructField(k, by_name[k].dataType, False) for k in key_cols
    ]
    fields.append(T.StructField("version_seq", T.LongType(), False))
    fields.extend(
        T.StructField(a, by_name[a].dataType, True) for a in attr_cols
    )
    fields.extend([
        T.StructField("valid_from_lsn", T.LongType(), True),
        T.StructField("valid_to_lsn", T.LongType(), True),
        T.StructField("is_current", T.LongType(), True),
        T.StructField("tombstone", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ])
    return T.StructType(fields)


def scd2_sync(
    dst,
    events: DataFrame,
    applied_range: tuple[int, int],
    key_cols: Sequence[str],
    attr_cols: Sequence[str] | None = None,
    lsn_col: str = "lsn",
    op_col: str = "op",
    delete_op: str = "delete",
    prune_buckets: bool = True,
):
    """One incremental epoch of SCD2 dimension maintenance — the
    versioned-history twin of `incremental_rollup_sync` (state
    consumers can be fed from snapshot diffs, but an SCD2 dimension
    needs EVERY event: a state diff collapses intermediate versions,
    so this consumer takes lsn-contiguous change-log slices and goes
    through the destination's exactly-once ledger; a replayed epoch is
    a table no-op).

    Versions order by ``lsn`` alone (the WAL order — "when did the
    dimension change" for a binlog is the commit order, not the
    payload timestamp, which can disorder across batches). That makes
    epochs stitch exactly: the destination's OPEN version per touched
    key closes at the epoch's first event lsn, new versions continue
    ``version_seq`` from the key's stored maximum (tombstone rows keep
    delete-consumed seqs countable), and the invariant

        scd2_state(dst) == scd2_history(full log, order_cols=("lsn",))

    holds after every epoch — the gate oracle. Shuffle shape per
    epoch: one key shuffle for the batch window pass (dedupe + seq +
    lead in ONE Window spec), one semi-join against the dimension
    (diff-sized, AQE-broadcastable), one merge shuffle.

    Every emitted row carries the dimension's sync ordinal as (ts,
    lsn) so a later epoch always wins LWW over the open-version row it
    closes.
    """
    from ..lakehouse import CommitInfo

    if dst.is_applied(*applied_range):
        return CommitInfo(
            dst.manifest(refresh=True)["snapshot_id"], 0, 0, applied_range
        )
    last = dst.last_applied_lsn()
    if last is not None and applied_range[0] < last:
        # LWW consumers tolerate out-of-order epochs; a versioned
        # history cannot (stitching appends). A binlog WAL delivers
        # lsn-ordered slices; anything else must be re-sliced first.
        raise ValueError(
            f"scd2_sync requires lsn-contiguous in-order epochs: range "
            f"{applied_range} starts before the dimension's high-water "
            f"{last} and is not an exact replay"
        )
    keys = list(key_cols)
    attrs = list(
        attr_cols
        if attr_cols is not None
        else [
            c for c in events.columns
            if c not in (*keys, lsn_col, op_col, "ts")
        ]
    )
    # schema-before-apply (the engine's SchemaInit ordering): a source
    # column added mid-stream evolves the dimension before any data
    # moves — earlier versions read NULL for it
    cur = dst.current_schema()
    have = {f.name for f in cur.fields}
    missing = [a for a in attrs if a not in have]
    if missing:
        from pyspark.sql import types as T

        by_name = {f.name: f for f in events.schema.fields}
        dst.alter_schema(T.StructType(
            list(cur.fields)
            + [T.StructField(a, by_name[a].dataType, True) for a in missing]
        ))
    ordinal = dst.sync_ordinal()

    b = events.select(*keys, lsn_col, op_col, *attrs)
    w = Window.partitionBy(*keys).orderBy(F.col(lsn_col).asc())
    # duplicate deliveries share (key, lsn) → adjacent under w; drop,
    # number and close in ONE Window spec (single exchange). The
    # windowed batch feeds three consumers (versions, touched keys,
    # close positions) — lazily localCheckpoint so the shuffle runs
    # ONCE, not once per consumer.
    nb = (
        b.withColumn("_prev", F.lag(F.col(lsn_col)).over(w))
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col(lsn_col)))
        .withColumn("_seq", F.row_number().over(w).cast("long"))
        .withColumn("_next_lsn", F.lead(F.col(lsn_col)).over(w))
    ).localCheckpoint(eager=False)
    # the key's FIRST event this epoch (_prev null after the window):
    # one row per touched key carrying the close position — no extra
    # distinct, no min-aggregate, no second pass over the batch
    firsts = nb.filter(F.col("_prev").isNull()).select(
        *keys, F.col(lsn_col).cast("long").alias("_close_at")
    )
    existing = dst.read().join(firsts.select(*keys), keys, "left_semi")
    offsets = existing.groupBy(*keys).agg(
        F.max("version_seq").alias("_offset")
    )
    is_tomb = F.col(op_col) == F.lit(delete_op)
    newv = (
        nb.join(offsets, keys, "left")
        .withColumn(
            "version_seq",
            (F.col("_seq") + F.coalesce(F.col("_offset"), F.lit(0)))
            .cast("long"),
        )
        .withColumn("valid_from_lsn", F.col(lsn_col).cast("long"))
        .withColumn(
            "valid_to_lsn",
            F.when(is_tomb, F.col(lsn_col)).otherwise(F.col("_next_lsn"))
            .cast("long"),
        )
        .withColumn("tombstone", is_tomb.cast("long"))
        .withColumn(
            "is_current",
            (F.col("_next_lsn").isNull() & ~is_tomb).cast("long"),
        )
    )
    for a in attrs:
        newv = newv.withColumn(
            a, F.when(is_tomb, F.lit(None)).otherwise(F.col(a))
        )
    cols = [
        *keys, "version_seq", *attrs,
        "valid_from_lsn", "valid_to_lsn", "is_current", "tombstone",
    ]
    closing = (
        existing.filter(
            (F.col("tombstone") == 0) & F.col("valid_to_lsn").isNull()
        )
        .join(firsts, keys)
        .withColumn("valid_to_lsn", F.col("_close_at"))
        .withColumn("is_current", F.lit(0).cast("long"))
    )
    batch = (
        newv.select(*cols)
        .unionByName(closing.select(*cols))
        .withColumn("ts", F.timestamp_seconds(F.lit(ordinal)))
        .withColumn("lsn", F.lit(ordinal).cast("long"))
        .withColumn("op", F.lit("insert"))
    )
    # prune_buckets passes through to the merge: the default is right
    # for key-local epochs (pruned dimension read); a caller replaying
    # a uniform-key log opts out of the pre-pass
    return dst.merge_cdc(
        batch,
        applied_range=applied_range,
        prune_buckets=prune_buckets,
    )


def scd2_state(dst) -> DataFrame:
    """The user-facing view of an incrementally-maintained dimension:
    version rows only (tombstone bookkeeping filtered), sync-ordinal
    columns dropped."""
    df = dst.read().filter(F.col("tombstone") == 0)
    return df.drop("tombstone", "ts", "lsn")


def scd2_current(history: DataFrame) -> DataFrame:
    """The current-state projection of an SCD2 history (is_current = 1).

    Equal to `lww_dedup` over the same log minus deleted keys — the
    equivalence is property-tested in tests/test_scd2.py.
    """
    return history.filter(F.col("is_current") == 1).drop(
        "is_current", *[c for c in history.columns if c.startswith("valid_to_")]
    )
