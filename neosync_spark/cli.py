"""CLI — the headless one-shot sync analog (reference:
/root/reference/cli/internal/cmds/neosync/sync/sync.go:130).

Run via spark-submit with the package shipped as --py-files:

    zip -r /tmp/neosync_spark.zip neosync_spark
    spark-submit --master local[32] --py-files /tmp/neosync_spark.zip \
        run_cdc.py replay --log /data/changelog --table /data/transcripts \
        --mapping text=transform_pii_text --mapping tool=transform_character_scramble

Subcommands: synth (generate a change log), replay (run/resume a sync
job), compact (fold MoR deltas), verify (final state vs oracle), show
(snapshot/ledger info), diff (net changes between snapshots — CDC-out),
rollup-sync (incremental materialized-view maintenance), requeue
(re-apply FK-quarantined rows once the parent caught up), rollback
(restore files + ledger to a snapshot), expire (snapshot GC), validate
(distributed constraint checks), branch (write-audit-publish refs:
create/list/drop/publish with an optional not-null audit; stage commits
with `replay --branch <name>`), index-sync (incremental MinHash-LSH
dedup index: per-epoch O(new docs), ledgered), checksum (order-
independent replica digests; --against localizes divergent chunks),
rescale (bucket-count evolution under one atomic snapshot), get
(point lookup — bucket + bloom pruned), drift (per-column PSI between
snapshots; exit 1 on drift), inspect (files/snapshots metadata
tables), export (snapshot → plain parquet), export-cdc (tail the
table OUT as Debezium envelope JSONL hops — bootstrap then cursor-
tracked incremental diffs), sidx-sync / lookup (secondary value index
over a payload column: ledgered maintenance + pruned point lookups),
maintain (one-shot bounded maintenance window: worst-bucket MoR fold
+ optional snapshot GC), profile
(--percentiles adds quantiles), stats-sync (incremental ANALYZE:
per-bucket column stats maintained from manifest bucket diffs, merged
global profile printed; resumes from the stats ledger).
"""

from __future__ import annotations

import argparse
import json
import sys


def _change_counts(diff_df) -> dict:
    """change_type -> row count for a snapshot_diff frame."""
    from pyspark.sql import functions as F

    return {
        r["change_type"]: r["n"]
        for r in diff_df.groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def _cast_cli_value(v: str, dtype):
    """Cast a CLI string to the table's key column type (the shapes a
    key can realistically be: string / integral / decimal-ish)."""
    from pyspark.sql import types as T

    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int(v)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return float(v)
    return v


def _parse_mapping(items: list[str]):
    from .plans.job import ColumnMapping

    out = []
    for it in items or []:
        col, _, rest = it.partition("=")
        name, _, params = rest.partition(":")
        kw = json.loads(params) if params else {}
        out.append(ColumnMapping(col, name, kw))
    return out


def _parse_mapping_where(items: list[str]) -> dict:
    out = {}
    for it in items or []:
        col, _, pred = it.partition("=")
        if not pred:
            raise SystemExit(
                f"--mapping-where needs COL=SQL_PREDICATE, got {it!r}"
            )
        out[col] = pred
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="neosync-spark")
    p.add_argument("--master", default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("synth", help="generate a deterministic change log")
    s.add_argument("--out", required=True)
    s.add_argument("--events", type=int, default=1_000_000)
    s.add_argument("--convs", type=int, default=0)
    s.add_argument("--seed", type=int, default=42)

    r = sub.add_parser("replay", help="run or resume a CDC sync job")
    r.add_argument("--log", required=True)
    r.add_argument("--table", required=True)
    r.add_argument("--mapping", action="append", default=[],
                   help="col=transformer[:json-params], repeatable")
    r.add_argument("--mapping-where", action="append", default=[],
                   metavar="COL=SQL_PREDICATE",
                   help="scope COL's mapping to rows matching the SQL "
                        "predicate (e.g. text=\"role = 'user'\"); "
                        "other rows pass through unmasked")
    r.add_argument("--batch-size", type=int, default=500_000)
    r.add_argument("--buckets", type=int, default=64)
    r.add_argument("--mode", choices=["cow", "mor"], default="cow")
    r.add_argument("--pipeline", type=int, default=1,
                   help="mor only: overlap N delta writes (pipelined commits)")
    r.add_argument("--no-prune", action="store_true")
    r.add_argument("--quarantine", action="store_true")
    r.add_argument("--seed", type=int, default=42)
    r.add_argument("--fk-parent", default=None,
                   help="parquet path of the parent key set: rows whose FK "
                        "misses it are quarantined, not failed "
                        "(skip_foreign_key_violations analog)")
    r.add_argument("--fk-col", default="conv_id")
    r.add_argument("--fk-ref-col", default="conv_id")
    r.add_argument("--branch", default=None,
                   help="stage commits on this branch ref (created at the "
                        "current main head if absent); publish with the "
                        "'branch publish' subcommand")
    r.add_argument("--patch-ops", action="store_true",
                   help="accept partial row images: op='patch' rows set "
                        "only their non-NULL columns (MySQL minimal row "
                        "image); with --mode mor patches are stored raw "
                        "and folded at read — correct under arbitrary "
                        "cross-batch ts disorder")
    r.add_argument("--format", choices=["parquet", "debezium"],
                   default="parquet", dest="log_format",
                   help="log encoding: raw CDC parquet (default) or "
                        "Debezium envelope JSON lines")
    r.add_argument("--envelope-schema", default=None, metavar="DDL",
                   help="debezium payload schema as a DDL string "
                        "(default: the transcript payload columns)")
    r.add_argument("--evolve-payload", action="store_true",
                   help="debezium only: when the feed carries payload "
                        "fields the schema lacks (producer added a "
                        "column mid-feed), add them to the table and "
                        "decode them instead of silently dropping them")
    r.add_argument("--strict-wire-types", action="store_true",
                   help="debezium only: quarantine rows whose wire "
                        "token doesn't fit a declared field type "
                        "(reason type_conflict:<fields>) instead of "
                        "letting permissive parsing null the field "
                        "silently")
    r.add_argument("--toast-placeholder", default=None, metavar="LITERAL",
                   help="debezium only: treat this literal in an "
                        "update's string columns as the Postgres "
                        "unchanged-TOAST sentinel (use "
                        "__debezium_unavailable_value for the stock "
                        "connector): resolve from the pre-image when "
                        "present, else demote the event to a partial-"
                        "image patch; requires --patch-ops")
    r.add_argument("--bloom-cols", default=None, metavar="COL,COL",
                   help="on table creation: build per-file bloom sidecars "
                        "for these columns at every commit (point-lookup "
                        "file skipping; see the 'get' subcommand)")
    r.add_argument("--encrypt-cols", default=None, metavar="COL,COL",
                   help="crypto-shredding at write: AES-GCM-encrypt these "
                        "payload columns with per-subject keys from "
                        "--keystore (minted on first sight); erasure = "
                        "the 'shred' subcommand — key delete, O(1), no "
                        "table rewrite")
    r.add_argument("--keystore", default=None,
                   help="KeyStore root for --encrypt-cols")
    r.add_argument("--registry", default=None, metavar="FILE",
                   help="declarative schema-registry JSON (versions "
                        "effective from an lsn drive ALTERs before "
                        "apply; declared versions stay authoritative "
                        "over --evolve-payload)")

    jb = sub.add_parser(
        "job",
        help="run a declarative sync job from a JSON spec file "
             "(the reference's config-driven job definition analog: "
             "JobSpec field names verbatim; mappings as "
             '[{"column": c, "transformer": name, "params": {…}}])',
    )
    jb.add_argument("--spec", required=True, help="path to the JSON spec")

    sq = sub.add_parser(
        "sql",
        help="ad-hoc Spark SQL over lakehouse tables: --table "
             "name=path registers each snapshot as a view (optionally "
             "at a pinned snapshot and/or policy-masked), then runs "
             "the query",
    )
    sq.add_argument("--table", action="append", default=[],
                    metavar="NAME=PATH[@SNAPSHOT]", required=True)
    sq.add_argument("--query", required=True)
    sq.add_argument("--limit", type=int, default=50,
                    help="rows printed (the full count is reported)")
    sq.add_argument("--policies", default=None,
                    help="policy JSON: masked reads for every view")
    sq.add_argument("--audience", default=None)

    dp = sub.add_parser(
        "dpo-pairs",
        help="serve DPO preference pairs from tail-maintained mining "
             "state (--dpo-dst) — chosen/rejected per rewritten "
             "assistant turn, no log reread",
    )
    dp.add_argument("--state", required=True)
    dp.add_argument("--target-role", default="assistant")
    dp.add_argument("--limit", type=int, default=20)

    rg = sub.add_parser(
        "registry",
        help="validate / inspect a declarative schema-registry file "
             "(every version re-registers through its own declared "
             "compatibility mode; violations exit 1)",
    )
    rg.add_argument("--file", required=True)
    rg.add_argument("action", choices=["check", "show"])

    c = sub.add_parser("compact", help="fold MoR delta files")
    c.add_argument("--table", required=True)
    c.add_argument("--sort-by-key", action="store_true",
                   help="cluster rows by key within bucket files "
                        "(row-group stats line up with the key)")
    c.add_argument("--max-records-per-file", type=int, default=None,
                   help="split each bucket into several key-clustered "
                        "files so per-file zone maps prune point lookups")
    c.add_argument("--zorder", default=None, metavar="COL,COL",
                   help="cluster by the Morton interleave of these "
                        "columns instead of the key sort (Delta "
                        "OPTIMIZE ZORDER analog); zone maps then "
                        "prune scans on ANY clustered column")
    c.add_argument("--zorder-bits", type=int, default=4,
                   help="rank-bucket bits per z-ordered column (2^bits "
                        "equi-depth buckets each)")
    c.add_argument("--expire-rows-before", default=None, metavar="TS",
                   help="retention pass: physically drop every row (live "
                        "or tombstone) with ts older than this ISO "
                        "timestamp; targets the whole table")
    c.add_argument("--auto", action="store_true",
                   help="compact only buckets selected by the pressure "
                        "policy (worst first) instead of every bucket "
                        "holding deltas")
    c.add_argument("--min-deltas", type=int, default=4,
                   help="auto: schedule a bucket at >= this many delta "
                        "files")
    c.add_argument("--min-delta-bytes", type=int, default=None,
                   help="auto: also schedule a bucket at >= this many "
                        "delta bytes")
    c.add_argument("--max-buckets", type=int, default=None,
                   help="auto: bound the maintenance window to the K "
                        "worst buckets")

    cl = sub.add_parser(
        "compact-log",
        help="rewrite a changelog dir to one LWW event per key (Kafka "
             "log-compaction semantics): bootstraps replay O(keys) "
             "instead of O(history); manifest records the lsn "
             "watermark to resume tailing from",
    )
    cl.add_argument("--log", required=True, help="source WAL parquet dir")
    cl.add_argument("--out", required=True, help="compacted log dir")
    cl.add_argument("--drop-tombstones", action="store_true",
                    help="drop keys whose latest event is a delete "
                         "(fresh-bootstrap only: an existing destination "
                         "would keep rows the source deleted)")
    cl.add_argument("--patch-ops", action="store_true",
                    help="fold op='patch' partial images into full "
                         "images (compacted log needs no patch support)")
    cl.add_argument("--key-cols", default=None, metavar="A,B",
                    help="override key columns (default conv_id,turn_idx)")
    cl.add_argument("--order-cols", default=None, metavar="A,B",
                    help="override LWW order columns (default ts,lsn)")
    cl.add_argument("--files", type=int, default=None,
                    help="output file count (default: shuffle parallelism)")
    cl.add_argument("--base", default=None,
                    help="prior compacted log: incremental recompaction — "
                         "only the WAL suffix past the base manifest's "
                         "lsn_hi is read and folded onto the base")

    rt = sub.add_parser(
        "retain",
        help="retention: drop rows older than a cutoff, metadata-only "
             "where zone maps allow (expire_rows)",
    )
    rt.add_argument("--table", required=True)
    rt.add_argument("--before", required=True, metavar="TS",
                    help="ISO timestamp cutoff: every row (live or "
                         "tombstone) with ts older than this is dropped; "
                         "wholly-old files leave the manifest without "
                         "being read, straddling files are row-filtered "
                         "in place, patch buckets fold via compact")

    v = sub.add_parser("verify", help="replay-vs-oracle final state check")
    v.add_argument("--log", required=True)
    v.add_argument("--table", required=True)

    lg = sub.add_parser(
        "lag",
        help="replication lag / freshness: how far behind the WAL the "
             "table is (ledger high-water + zone-map applied freshness; "
             "only the pending log tail is scanned)",
    )
    lg.add_argument("--log", required=True, help="live WAL parquet dir")
    lg.add_argument("--table", required=True)

    wm = sub.add_parser(
        "watermark",
        help="size the streaming watermark from a log slice's "
             "event-time disorder",
    )
    wm.add_argument("--log", required=True)
    wm.add_argument("--quantile", type=float, default=0.999,
                    help="admit this fraction of the slice's events "
                         "(1.0 = zero-drop max lateness)")

    w = sub.add_parser("show", help="snapshot history + ledger")
    w.add_argument("--table", required=True)

    cp = sub.add_parser(
        "conv-pairs",
        help="near-dup conversation pairs served FROM the signature "
             "index maintained by `tail --conv-index` (band collision "
             "+ exact-Jaccard verify of candidates; the table is never "
             "re-minhashed)",
    )
    cp.add_argument("--table", required=True)
    cp.add_argument("--index", required=True)
    cp.add_argument("--threshold", type=float, default=0.7)
    cp.add_argument("--limit", type=int, default=50)

    cn = sub.add_parser(
        "count",
        help="count(*) of live rows from manifest row labels — "
             "metadata-only on compacted/tombstone-expired tables; "
             "unlabeled files scan only their tombstone flag column, "
             "MoR delta buckets take the pruned LWW read",
    )
    cn.add_argument("--table", required=True)
    cn.add_argument("--snapshot", type=int, default=None)

    dl = sub.add_parser(
        "delete",
        help="predicate DML: tombstone live rows matching a SQL "
             "condition (DELETE FROM t WHERE ...)",
    )
    dl.add_argument("--table", required=True)
    dl.add_argument("--where", required=True)

    up = sub.add_parser(
        "update",
        help="predicate DML: rewrite live rows matching a SQL "
             "condition (UPDATE t SET col=expr WHERE ...)",
    )
    up.add_argument("--table", required=True)
    up.add_argument("--where", required=True)
    up.add_argument("--set", action="append", required=True,
                    metavar="COL=SQL_EXPR",
                    help="column assignment, repeatable")

    rp = sub.add_parser(
        "replace",
        help="atomic predicate overwrite (replaceWhere / INSERT "
             "OVERWRITE): one commit after which live state is "
             "(non-matching rows) + the rows from --from; every new "
             "row must satisfy --where",
    )
    rp.add_argument("--table", required=True)
    rp.add_argument("--where", required=True)
    rp.add_argument("--from", dest="from_path", required=True,
                    help="parquet of replacement rows (full payload "
                         "columns incl. keys + ts)")

    ins = sub.add_parser(
        "inspect",
        help="metadata tables: per-file layout (files) or per-snapshot "
             "lineage (snapshots) as JSON rows",
    )
    ins.add_argument("--table", required=True)
    ins.add_argument("--what", choices=["files", "snapshots"],
                     default="files")
    ins.add_argument("--snapshot", type=int, default=None)

    exp = sub.add_parser(
        "export",
        help="materialize a snapshot's live rows as plain parquet "
             "(backup / hand-off to non-lakehouse consumers)",
    )
    exp.add_argument("--table", required=True)
    exp.add_argument("--out", required=True)
    exp.add_argument("--snapshot", type=int, default=None)

    xc = sub.add_parser(
        "export-cdc",
        help="tail the table OUT as Debezium envelope JSONL hops: first "
             "run emits the bootstrap ('r' snapshot reads), later runs "
             "emit one c/u/d diff hop since the last exported snapshot "
             "(a cursor file under --out makes reruns incremental; a "
             "consumer replays hops in order via decode_debezium or "
             "`replay --format debezium`)",
    )
    xc.add_argument("--table", required=True)
    xc.add_argument("--out", required=True,
                    help="output directory; hops land as hop-<from>-<to>/")
    xc.add_argument("--full", action="store_true",
                    help="force a full bootstrap even if a cursor exists")

    g = sub.add_parser(
        "get",
        help="point lookup: fetch rows by key value (bucket-pruned by "
             "the key hash + bloom-pruned past the MoR delta chain)",
    )
    g.add_argument("--table", required=True)
    g.add_argument("--key", action="append", required=True,
                   help="key value (the leading key column, e.g. a "
                        "conv_id); repeatable")
    g.add_argument("--stats", action="store_true",
                   help="also print how many files the lookup opened "
                        "vs the table total")
    g.add_argument("--keystore", default=None,
                   help="decrypt --decrypt-cols through this KeyStore "
                        "(shredded subjects read NULL)")
    g.add_argument("--decrypt-cols", default=None, metavar="COL,COL")

    enc = sub.add_parser(
        "encrypt",
        help="crypto-shredding rollout over an EXISTING table: rewrite "
             "only un-encrypted files (resumable transform-version "
             "backfill), minting per-subject keys into the keystore; "
             "pair with `replay --encrypt-cols` so new batches arrive "
             "encrypted and `shred` for O(1) erasure",
    )
    enc.add_argument("--table", required=True)
    enc.add_argument("--keystore", required=True)
    enc.add_argument("--cols", required=True, metavar="COL,COL")
    enc.add_argument("--subject-col", default="conv_id")
    enc.add_argument("--group-size", type=int, default=64)

    shr = sub.add_parser(
        "shred",
        help="GDPR erasure by key destruction: delete subjects' keys "
             "from the keystore — their ciphertext (every copy, every "
             "replica) becomes unreadable without touching data files",
    )
    shr.add_argument("--keystore", required=True)
    shr.add_argument("--subjects", required=True,
                     help="comma-separated subject values (e.g. conv ids)")

    dr = sub.add_parser(
        "drift",
        help="per-column distribution drift (PSI over md5 value "
             "buckets) between two snapshots of a table",
    )
    dr.add_argument("--table", required=True)
    dr.add_argument("--from-snapshot", type=int, required=True)
    dr.add_argument("--to-snapshot", type=int, default=None,
                    help="default: current head")
    dr.add_argument("--columns", default=None, metavar="COL,COL",
                    help="default: every non-key payload column")
    dr.add_argument("--buckets", type=int, default=64)
    dr.add_argument("--threshold", type=float, default=0.2)

    rq = sub.add_parser(
        "requeue",
        help="re-apply FK-quarantined rows after the parent caught up "
             "(the deferred half of skip_foreign_key_violations)",
    )
    rq.add_argument("--table", required=True)
    rq.add_argument("--fk-parent", default=None,
                    help="parquet path of the CURRENT parent key set; "
                         "omitted = requeue everything")
    rq.add_argument("--fk-col", default="conv_id")
    rq.add_argument("--fk-ref-col", default="conv_id")
    rq.add_argument("--mapping", action="append", default=[],
                    help="col=transformer[:json-params] (same transforms "
                         "as the original replay)")
    rq.add_argument("--seed", type=int, default=42)

    rb = sub.add_parser(
        "rollback",
        help="restore the table (files + ledger) to a previous snapshot",
    )
    rb.add_argument("--table", required=True)
    rb.add_argument("--to-snapshot", type=int, required=True)

    ex = sub.add_parser(
        "expire", help="expire old snapshots and delete unreferenced files"
    )
    ex.add_argument("--table", required=True)
    ex.add_argument("--keep-last", type=int, default=3)

    mt = sub.add_parser(
        "maintain",
        help="one-shot maintenance window: fold the worst MoR buckets "
             "(delta-pressure plan, bounded by --max-buckets so the "
             "cadence amortizes at scale), optionally expire snapshots "
             "+ GC unreferenced files",
    )
    mt.add_argument("--table", required=True)
    mt.add_argument("--min-deltas", type=int, default=4)
    mt.add_argument("--min-delta-bytes", type=int, default=None)
    mt.add_argument("--max-buckets", type=int, default=None,
                    help="compact at most the K worst buckets this run")
    mt.add_argument("--zorder", default=None,
                    help="comma-separated columns to z-order the rewrite by")
    mt.add_argument("--max-records-per-file", type=int, default=None)
    mt.add_argument("--expire-tombstones-before", default=None,
                    help="ISO ts: physically drop tombstones whose LWW "
                         "ts is older (pick it beyond the source's max "
                         "out-of-orderness — an older same-key event "
                         "arriving later could re-insert); also "
                         "restores the pure-metadata count(*) path")
    mt.add_argument("--expire-keep-last", type=int, default=None,
                    help="also expire snapshots, keeping the last K")
    mt.add_argument("--ledger-keep", type=int, default=None,
                    help="also compact the exactly-once ledger: rows "
                         "older than the newest K coalesce into spans "
                         "(covered union identical; bounds per-commit "
                         "metadata at micro-batch cadence)")
    mt.add_argument("--vacuum-grace", type=float, default=None,
                    help="also delete orphan files (crash debris "
                         "referenced by NO snapshot) older than this "
                         "many seconds; concurrent-safe — pick the "
                         "grace above the writers' max prepare-to-"
                         "commit latency (never expires snapshots)")

    br = sub.add_parser(
        "branch", help="write-audit-publish branch management"
    )
    br.add_argument("--table", required=True)
    br.add_argument(
        "action", choices=["create", "list", "drop", "publish", "diff"],
    )
    br.add_argument("--name", default=None, help="branch name")
    br.add_argument("--from-snapshot", type=int, default=None)
    br.add_argument(
        "--audit-not-null", default=None,
        help="publish audit: comma-separated columns that must be "
             "non-null in every staged row (violations abort)",
    )
    br.add_argument(
        "--keep", action="store_true",
        help="keep the branch ref after a successful publish",
    )

    d = sub.add_parser(
        "diff", help="net row changes between two snapshots (CDC-out)"
    )
    d.add_argument("--table", required=True)
    d.add_argument("--from-snapshot", type=int, required=True)
    d.add_argument("--to-snapshot", type=int, default=None,
                   help="default: current snapshot")
    d.add_argument("--out", default=None,
                   help="write the diff as parquet instead of printing counts")

    rs = sub.add_parser(
        "rollup-sync",
        help="incrementally sync a per-conversation rollup table from "
             "snapshot diffs (materialized-view maintenance)",
    )
    rs.add_argument("--src", required=True, help="transcripts SnapshotTable")
    rs.add_argument("--dst", required=True,
                    help="rollup SnapshotTable (created if absent)")
    rs.add_argument("--from-snapshot", type=int, default=None,
                    help="default: last synced snapshot recorded in dst's "
                         "ledger (or full build if none)")
    rs.add_argument("--to-snapshot", type=int, default=None,
                    help="default: src's current snapshot")

    ss = sub.add_parser(
        "stats-sync",
        help="incrementally maintain per-bucket column statistics from "
             "manifest bucket diffs (ANALYZE as a CDC consumer) and "
             "print the merged global profile",
    )
    ss.add_argument("--src", required=True, help="source SnapshotTable")
    ss.add_argument("--stats", required=True,
                    help="stats SnapshotTable (created if absent)")
    ss.add_argument("--cols", default=None,
                    help="comma-separated columns (default: all)")
    ss.add_argument("--from-snapshot", type=int, default=None,
                    help="default: last synced snapshot recorded in the "
                         "stats ledger (or full profile if none)")
    ss.add_argument("--to-snapshot", type=int, default=None,
                    help="default: src's current snapshot")
    ss.add_argument("--approx", action="store_true",
                    help="HyperLogLog++ distincts (no Expand — the "
                         "widest-profile path)")

    tl = sub.add_parser(
        "tail",
        help="tail a WAL directory via Structured Streaming into the "
             "table — the same apply path and exactly-once ledger as "
             "replay, plus derived tables maintained per epoch",
    )
    tl.add_argument("--log", required=True, help="WAL parquet dir")
    tl.add_argument("--format", dest="log_format",
                    choices=["parquet", "debezium"], default="parquet",
                    help="WAL segment format: raw parquet change events "
                         "(default) or Debezium envelope JSON lines (the "
                         "wire format export-cdc emits)")
    tl.add_argument("--envelope-schema", default=None, metavar="DDL",
                    help="debezium payload schema as a DDL string "
                         "(default: the transcript payload)")
    tl.add_argument("--evolve-payload", action="store_true",
                    help="debezium only: when the wire carries payload "
                         "fields the schema lacks (producer added a "
                         "column mid-feed), add them to the table and "
                         "decode them from that epoch on instead of "
                         "silently dropping them")
    tl.add_argument("--strict-wire-types", action="store_true",
                    help="debezium only: quarantine rows whose wire "
                         "token doesn't fit a declared field type "
                         "instead of letting permissive parsing null "
                         "the field silently")
    tl.add_argument("--toast-placeholder", default=None, metavar="LITERAL",
                    help="debezium only: unchanged-TOAST sentinel "
                         "literal (see replay --toast-placeholder); "
                         "requires --patch-ops")
    tl.add_argument("--table", required=True)
    tl.add_argument("--checkpoint", required=True,
                    help="streaming checkpoint dir (epoch redelivery)")
    tl.add_argument("--mapping", action="append", default=[],
                    help="column=transformer[:k=v,...] (same as replay)")
    tl.add_argument("--mapping-where", action="append", default=[],
                    metavar="COL=SQL_PREDICATE",
                    help="scope COL's mapping to matching rows "
                         "(same as replay)")
    tl.add_argument("--seed", type=int, default=42)
    tl.add_argument("--buckets", type=int, default=64)
    tl.add_argument("--mode", choices=["cow", "mor"], default="cow")
    tl.add_argument("--no-prune", action="store_true")
    tl.add_argument("--quarantine", action="store_true")
    tl.add_argument("--patch-ops", action="store_true")
    tl.add_argument("--registry", default=None, metavar="FILE",
                    help="declarative schema-registry JSON; "
                         "lsn-scheduled versions drive ALTERs on the "
                         "tail exactly as in batch replay")
    tl.add_argument("--max-files", type=int, default=4,
                    help="maxFilesPerTrigger (epoch size)")
    tl.add_argument("--follow", action="store_true",
                    help="keep tailing new files (default: drain and stop)")
    tl.add_argument("--timeout", type=int, default=None,
                    help="seconds to run with --follow, then stop")
    tl.add_argument("--rollup-dst", default=None,
                    help="also maintain a per-conversation rollup table")
    tl.add_argument("--replica", default=None,
                    help="also maintain a replica table")
    tl.add_argument("--scd2-dim", default=None,
                    help="also maintain an SCD2 dimension (WAL files "
                         "must arrive lsn-ordered; see scd2_sync)")
    tl.add_argument("--dpo-dst", default=None,
                    help="maintain incremental DPO preference-mining "
                         "state (event consumer: superseded texts live "
                         "only in the log); serve with `dpo-pairs`")
    tl.add_argument("--sft-dst", default=None,
                    help="maintain an incremental SFT-example export "
                         "(training data as a CDC consumer; O(changed "
                         "convs)/epoch, vanished targets retracted)")
    tl.add_argument("--sft-budget", type=int, default=2048,
                    help="context budget (chars) for --sft-dst")
    tl.add_argument("--stats-dst", default=None,
                    help="also maintain per-bucket column statistics "
                         "(incremental ANALYZE; see stats-sync)")
    tl.add_argument("--conv-index", default=None,
                    help="also maintain the conversation near-dup "
                         "signature index (MinHash-LSH bands re-signed "
                         "for the epoch's changed conversations; query "
                         "with conv-pairs)")
    tl.add_argument("--bootstrap-source", default=None,
                    help="parquet of a frozen source state: interleave "
                         "one incremental-snapshot chunk per epoch until "
                         "the bootstrap completes, then finish remaining "
                         "chunks after the drain (DBLog — a new "
                         "destination attaches to a live feed without "
                         "pausing it); requires --bootstrap-state and "
                         "--source-lsn")
    tl.add_argument("--bootstrap-state", default=None,
                    help="chunk-progress state dir (resume point)")
    tl.add_argument("--source-lsn", type=int, default=None,
                    help="WAL position --bootstrap-source reflects "
                         "(the chunk low watermark)")
    tl.add_argument("--bootstrap-chunk-rows", type=int, default=1 << 20)

    s2 = sub.add_parser(
        "scd2-sync",
        help="incrementally maintain an SCD2 (type-2 versioned history) "
             "dimension table from the change log, exactly-once",
    )
    s2.add_argument("--log", required=True, help="change-log parquet dir")
    s2.add_argument("--dim", required=True,
                    help="dimension SnapshotTable (created if absent)")
    s2.add_argument("--keys", default="conv_id,turn_idx",
                    help="comma-separated business key columns")
    s2.add_argument("--attrs", default=None,
                    help="comma-separated versioned attribute columns "
                         "(default: every non-key, non-lsn/op/ts column)")
    s2.add_argument("--from-lsn", type=int, default=None,
                    help="default: resume from the dim ledger")
    s2.add_argument("--to-lsn", type=int, default=None,
                    help="default: log max lsn + 1")

    ss = sub.add_parser(
        "snapshot-sync",
        help="bootstrap/re-snapshot a table from a source state in "
             "key-range chunks (DBLog incremental snapshot) — resumable, "
             "and safe to interleave with replay/tail of the same "
             "source's change stream in any order",
    )
    ss.add_argument("--source", required=True,
                    help="parquet of the source state rows (no op/lsn cols)")
    ss.add_argument("--source-lsn", type=int, required=True,
                    help="WAL position the source state provably reflects "
                         "(the chunk low watermark)")
    ss.add_argument("--table", required=True,
                    help="destination SnapshotTable (created if absent)")
    ss.add_argument("--state", required=True,
                    help="chunk-progress state dir (resume point)")
    ss.add_argument("--chunk-rows", type=int, default=1 << 20)
    ss.add_argument("--max-chunks", type=int, default=None,
                    help="apply at most N chunks this invocation "
                         "(interleave stream drains between invocations)")
    ss.add_argument("--keys", default="conv_id,turn_idx",
                    help="key columns when creating the destination")
    ss.add_argument("--buckets", type=int, default=16)
    ss.add_argument("--mapping", action="append", default=[],
                    help="column=transformer[:k=v,...] — MUST match the "
                         "stream side's mapping (deterministic "
                         "transformers make chunk and stream rows "
                         "agree); without it an anonymized destination "
                         "would bootstrap UNMASKED history")
    ss.add_argument("--seed", type=int, default=42)
    ss.add_argument("--on-conflict", choices=["fail", "rebase", "retry"],
                    default="fail",
                    help="optimistic-concurrency policy for chunk "
                         "commits; use 'retry' when a live tail/replay "
                         "writes the same table concurrently")

    ix = sub.add_parser(
        "index-sync",
        help="incrementally index new documents into a MinHash-LSH dedup "
             "index table and emit the near-duplicate pairs they introduce",
    )
    ix.add_argument("--docs", required=True,
                    help="parquet of NEW documents (id + content columns)")
    ix.add_argument("--corpus", required=True,
                    help="parquet of the full document lake (for the exact-"
                         "Jaccard verification of candidate pairs)")
    ix.add_argument("--index", required=True,
                    help="band-index SnapshotTable root (created if absent)")
    ix.add_argument("--id-col", default="doc_id")
    ix.add_argument("--content-col", default="text")
    ix.add_argument("--threshold", type=float, default=0.7)
    ix.add_argument("--epoch", type=int, default=None,
                    help="epoch ordinal for the exactly-once ledger "
                         "(replay of the same epoch is a no-op)")
    ix.add_argument("--pairs-out", default=None,
                    help="write pairs as parquet instead of printing counts")

    sx = sub.add_parser(
        "sidx-sync",
        help="maintain a secondary value index over a payload column "
             "(created if absent; auto-advances from the index's own "
             "ledger to the table's current snapshot)",
    )
    sx.add_argument("--table", required=True, help="source SnapshotTable")
    sx.add_argument("--index", required=True,
                    help="postings SnapshotTable root (created if absent)")
    sx.add_argument("--col", required=True, help="payload column to index")
    sx.add_argument("--buckets", type=int, default=64,
                    help="index bucket count (creation only)")

    lk = sub.add_parser(
        "lookup",
        help="point lookup by an indexed payload value: postings read "
             "prunes to the value's hash bucket + blooms; the table read "
             "prunes to the matching keys' buckets",
    )
    lk.add_argument("--table", required=True)
    lk.add_argument("--index", required=True)
    lk.add_argument("--col", required=True)
    lk.add_argument("--value", required=True, action="append",
                    help="value to look up (repeatable)")
    lk.add_argument("--limit", type=int, default=20)

    rsc = sub.add_parser(
        "rescale",
        help="bucket-count evolution: rewrite the table under a new "
             "bucket count (one atomic snapshot; ledger preserved)",
    )
    rsc.add_argument("--table", required=True)
    rsc.add_argument("--buckets", type=int, required=True)
    rsc.add_argument("--max-records-per-file", type=int, default=None)

    pg = sub.add_parser(
        "purge",
        help="right-to-be-forgotten: physically erase whole keys from "
             "data files, quarantine sidecars and snapshot history",
    )
    pg.add_argument("--table", required=True)
    pg.add_argument("--key", required=True, nargs="+",
                    help="key value(s) to erase (cast to the key "
                         "column's type)")
    pg.add_argument("--no-expire", action="store_true",
                    help="skip snapshot GC (purge NOT complete until "
                         "expire runs)")
    pg.add_argument("--keep-last", type=int, default=1)
    pg.add_argument("--force", action="store_true",
                    help="proceed even when branches pin history")

    fk = sub.add_parser(
        "fsck",
        help="distributed storage audit: every manifest file entry "
             "checked executor-side (existence, footer, zone-map vs "
             "manifest stats); exit 1 if damage found",
    )
    fk.add_argument("--table", required=True)
    fk.add_argument("--shallow", action="store_true",
                    help="skip the zone-map-vs-manifest comparison "
                         "(existence + footer parse only)")

    rr = sub.add_parser(
        "repair",
        help="re-derive damaged buckets from the archived change log "
             "(only their slice of the log is replayed); buckets "
             "default to what fsck finds",
    )
    rr.add_argument("--table", required=True)
    rr.add_argument("--log", required=True,
                    help="the archived change log (parquet)")
    rr.add_argument("--buckets", default=None, metavar="ID,ID",
                    help="bucket ids to rebuild (default: run the "
                         "storage audit and repair what it finds)")
    rr.add_argument("--mapping", action="append", default=[],
                    help="col=transformer[:json-params] — MUST match "
                         "what the original replay applied (anonymized "
                         "values are part of the stored state)")
    rr.add_argument("--seed", type=int, default=42)
    rr.add_argument("--patch-source", action="store_true",
                    help="log carries partial images (op='patch')")
    rr.add_argument("--exclude-key", nargs="+", default=None,
                    help="key values to withhold (re-assert purges the "
                         "log would resurrect)")

    ck = sub.add_parser(
        "checksum",
        help="order-independent replica checksum (pt-table-checksum "
             "analog): digest one table, or localize divergence "
             "against another",
    )
    ck.add_argument("--table", required=True,
                    help="SnapshotTable root or plain parquet dir")
    ck.add_argument("--against", default=None,
                    help="second table: print diverged chunks instead")
    ck.add_argument("--key-col", default="conv_id")
    ck.add_argument("--chunks", type=int, default=64)
    ck.add_argument("--cols", default=None,
                    help="comma-separated columns to digest (default: "
                         "all shared; use to compare a wire-format "
                         "replica whose ts carries the hop ordinal — "
                         "e.g. conv_id,turn_idx,role,text,tool)")

    au = sub.add_parser(
        "audit",
        help="re-identification audit of an anonymized table: "
             "k-anonymity, l-diversity and t-closeness censuses over "
             "the quasi-identifier columns in three aggregation jobs",
    )
    au.add_argument("--table", required=True,
                    help="SnapshotTable root or plain parquet dir")
    au.add_argument("--quasi", required=True,
                    help="comma-separated quasi-identifier columns")
    au.add_argument("--sensitive", default=None,
                    help="sensitive column (enables l-diversity + "
                         "t-closeness)")
    au.add_argument("--k", type=int, default=5)
    au.add_argument("--l", type=int, default=2)
    au.add_argument("--t", type=float, default=0.2)

    pf = sub.add_parser(
        "profile",
        help="per-column profile (null fraction / distincts / min-max) "
             "in one aggregation job",
    )
    pf.add_argument("--table", required=True,
                    help="SnapshotTable root or plain parquet dir")
    pf.add_argument("--columns", default=None,
                    help="comma-separated subset (default: all columns)")
    pf.add_argument("--approx", action="store_true",
                    help="HyperLogLog++ distincts (the at-scale path; "
                         "no multi-count-distinct Expand); with "
                         "--percentiles, GK-sketch quantiles")
    pf.add_argument("--percentiles", default=None, metavar="COL,COL",
                    help="also profile quantiles (p25/50/75/95) for "
                         "these numeric columns")

    vc = sub.add_parser(
        "validate",
        help="distributed constraint validation (PK/unique/check/not_null/FK)",
    )
    vc.add_argument("--tables", action="append", required=True,
                    help="name=parquet-or-snapshot-table-path, repeatable")
    vc.add_argument(
        "--constraint", action="append", required=True,
        help="pk:<table>:<cols> | unique:<table>:<cols> | "
             "not_null:<table>:<cols> | check:<table>:<expr> | "
             "fk:<child>:<cols>:<parent>:<refcols>  (cols comma-separated)")

    rp = sub.add_parser(
        "replicate",
        help="incremental cross-lakehouse replication: ship the net "
             "snapshot diff to a replica table (ledgered hops)",
    )
    rp.add_argument("--src", required=True, help="primary table path")
    rp.add_argument("--dst", required=True,
                    help="replica table path (created with replica_schema "
                         "on first use)")
    rp.add_argument("--from-snapshot", type=int, default=None,
                    help="diff base; omit on an EXISTING replica to use its "
                         "last applied hop, or on a fresh one to bootstrap")
    rp.add_argument("--to-snapshot", type=int, default=None,
                    help="target snapshot (default: primary's current)")

    cat = sub.add_parser(
        "catalog",
        help="atomic multi-table publish: pin/read tables through a "
             "versioned catalog pointer",
    )
    cat.add_argument("--root", required=True, help="catalog directory")
    cat.add_argument("action", choices=["init", "show", "publish", "read"])
    cat.add_argument("--pin", action="append", default=[],
                     help="publish: name=table-path (pins the table's "
                          "CURRENT snapshot), repeatable — all pins move "
                          "in ONE atomic version step")
    cat.add_argument("--consistent", action="store_true",
                     help="publish: pin every table at the newest COMMON "
                          "source-lsn watermark instead of current heads")
    cat.add_argument("--name", default=None, help="read: table name")
    cat.add_argument("--limit", type=int, default=20, help="read: rows")
    cat.add_argument("--policies", default=None,
                     help="read: JSON policy file (rows of col/audience/"
                          "rule/arg) — serve the masked per-audience view")
    cat.add_argument("--audience", default=None,
                     help="read: audience for --policies")

    args = p.parse_args(argv)

    from .session import get_spark

    spark = get_spark("neosync_spark_cli", master=args.master)

    if args.cmd == "synth":
        from .synth import SynthConfig, generate_spark

        cfg = SynthConfig(
            n_events=args.events,
            n_convs=args.convs or max(100, args.events // 50),
            seed=args.seed,
        )
        generate_spark(spark, cfg).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"written": args.out, "events": cfg.total_rows}))
        return 0

    if args.cmd == "replay":
        from .plans.job import JobSpec, run_job

        registry = None
        if args.registry:
            from .schema_registry import load_registry

            registry = load_registry(args.registry)
        job = JobSpec(
            source_path=args.log,
            destination_path=args.table,
            mappings=_parse_mapping(args.mapping),
            transform_where=_parse_mapping_where(args.mapping_where),
            seed=args.seed,
            batch_lsn_size=args.batch_size,
            n_buckets=args.buckets,
            merge_mode=args.mode,
            prune_buckets=not args.no_prune,
            quarantine=args.quarantine,
            pipeline_batches=args.pipeline,
            fk_parent_path=args.fk_parent,
            fk_col=args.fk_col,
            fk_ref_col=args.fk_ref_col,
            branch=args.branch,
            patch_ops=args.patch_ops,
            bloom_cols=args.bloom_cols.split(",") if args.bloom_cols else None,
            source_format=args.log_format,
            envelope_schema=args.envelope_schema,
            evolve_payload=args.evolve_payload,
            strict_wire_types=args.strict_wire_types,
            toast_placeholder=args.toast_placeholder,
            encrypt_cols=(
                args.encrypt_cols.split(",") if args.encrypt_cols else None
            ),
            keystore_path=args.keystore,
        )
        stats = run_job(spark, job, registry)
        print(json.dumps({
            "batches_applied": stats.batches_applied,
            "batches_skipped": stats.batches_skipped,
            "rows_applied": stats.rows_applied,
            "rows_skipped_fk": stats.rows_skipped_fk,
            "schema_ops": stats.schema_ops,
        }))
        return 0

    if args.cmd == "job":
        import dataclasses

        from .plans.job import ColumnMapping, JobSpec, run_job

        with open(args.spec) as f:
            spec = json.load(f)
        maps = [
            ColumnMapping(
                m["column"], m["transformer"], m.get("params") or {}
            )
            for m in spec.pop("mappings", [])
        ]
        registry = None
        reg_path = spec.pop("schema_registry", None)
        if reg_path:
            from .schema_registry import load_registry

            registry = load_registry(reg_path)
        known = {f2.name for f2 in dataclasses.fields(JobSpec)}
        unknown = sorted(set(spec) - known)
        if unknown:
            raise SystemExit(
                f"unknown JobSpec fields in {args.spec}: {unknown}; "
                f"known: {sorted(known)} + 'schema_registry'"
            )
        job = JobSpec(mappings=maps, **spec)
        stats = run_job(spark, job, registry)
        print(json.dumps({
            "batches_applied": stats.batches_applied,
            "batches_skipped": stats.batches_skipped,
            "rows_applied": stats.rows_applied,
            "rows_skipped_fk": stats.rows_skipped_fk,
            "schema_ops": stats.schema_ops,
        }))
        return 0

    if args.cmd == "sql":
        from .lakehouse import SnapshotTable

        pol = None
        if args.policies:
            if not args.audience:
                raise SystemExit("--policies needs --audience")
            with open(args.policies) as fh:
                pol = json.load(fh)
        for spec in args.table:
            name, _, rest = spec.partition("=")
            if not rest:
                raise SystemExit(
                    f"--table needs NAME=PATH[@SNAPSHOT], got {spec!r}"
                )
            path, _, snap = rest.partition("@")
            t = SnapshotTable.load(spark, path)
            df = t.read(snapshot_id=int(snap)) if snap else t.read()
            if pol is not None:
                from .operators.policy_mask import apply_policies

                df = apply_policies(df, pol, args.audience)
            df.createOrReplaceTempView(name)
        out = spark.sql(args.query)
        rows = out.limit(args.limit).collect()
        for r in rows:
            print(json.dumps(r.asDict(), default=str))
        # full count only when the preview hit the limit (cheap when
        # the query is an aggregate; the scan prunes like any read)
        n = len(rows) if len(rows) < args.limit else out.count()
        print(json.dumps({"rows": n, "printed": len(rows)}))
        return 0

    if args.cmd == "dpo-pairs":
        from .lakehouse import SnapshotTable
        from .operators.dpo_sync import dpo_pairs

        state = SnapshotTable.load(spark, args.state)
        pairs = dpo_pairs(state, target_role=args.target_role)
        n = pairs.count()
        for r in pairs.orderBy("conv_id", "turn_idx").limit(args.limit).collect():
            print(json.dumps(r.asDict(), default=str))
        print(json.dumps({"pairs": n}))
        return 0

    if args.cmd == "registry":
        from .schema_registry import IncompatibleSchemaError, load_registry

        try:
            reg = load_registry(args.file)
        except IncompatibleSchemaError as e:
            print(json.dumps({
                "ok": False,
                "mode": e.mode,
                "violations": e.violations,
            }))
            return 1
        except ValueError as e:
            print(json.dumps({"ok": False, "error": str(e)}))
            return 1
        out = {
            "ok": True,
            "policy": reg.policy,
            "compatibility": reg.compatibility,
            "versions": [
                {
                    "version": v.version,
                    "effective_lsn": v.effective_lsn,
                    "columns": len(v.schema.fields),
                    **({"renames": dict(v.renames)} if v.renames else {}),
                    **({"schema": v.schema.simpleString()}
                       if args.action == "show" else {}),
                }
                for v in reg.versions
            ],
        }
        print(json.dumps(out))
        return 0

    if args.cmd == "compact-log":
        from .operators.log_compact import compact_changelog_dir
        from .schema import KEY_COLS, ORDER_COLS

        manifest = compact_changelog_dir(
            spark,
            args.log,
            args.out,
            key_cols=args.key_cols.split(",") if args.key_cols else KEY_COLS,
            order_cols=(
                args.order_cols.split(",") if args.order_cols else ORDER_COLS
            ),
            drop_tombstones=args.drop_tombstones,
            patch_ops=args.patch_ops,
            n_files=args.files,
            base_dir=args.base,
        )
        print(json.dumps(manifest))
        return 0

    if args.cmd == "compact":
        from .lakehouse import SnapshotTable

        t = SnapshotTable.load(spark, args.table)
        buckets = None
        plan = None
        if args.auto:
            plan = t.plan_compaction(
                min_deltas=args.min_deltas,
                min_delta_bytes=args.min_delta_bytes,
                max_buckets=args.max_buckets,
            )
            if not plan:
                print(json.dumps(
                    {"compacted": False, "snapshot": None, "plan": []}
                ))
                return 0
            buckets = [b for b, _n, _sz in plan]
        try:
            info = t.compact(
                buckets=buckets,
                expire_rows_before=(
                    __import__("datetime").datetime.fromisoformat(
                        args.expire_rows_before
                    )
                    if args.expire_rows_before else None
                ),
                sort_by_key=args.sort_by_key,
                max_records_per_file=args.max_records_per_file,
                zorder_cols=(
                    [c.strip() for c in args.zorder.split(",") if c.strip()]
                    if args.zorder else None
                ),
                zorder_bits=args.zorder_bits,
            )
        except ValueError as e:
            print(json.dumps({"error": str(e)}))
            return 1
        out = {
            "compacted": bool(info),
            "snapshot": info.snapshot_id if info else None,
        }
        if plan is not None:
            out["plan"] = [
                {"bucket": b, "delta_files": n, "delta_bytes": sz}
                for b, n, sz in plan
            ]
        print(json.dumps(out))
        return 0

    if args.cmd == "watermark":
        from .operators.sessions import suggest_watermark

        try:
            out = suggest_watermark(
                spark.read.parquet(args.log), quantile=args.quantile
            )
        except ValueError as e:
            print(json.dumps({"error": str(e)}))
            return 1
        print(json.dumps(out))
        return 0

    if args.cmd == "verify":
        from pyspark.sql import functions as F

        from .lakehouse import SnapshotTable
        from .operators.dedup import lww_dedup

        t = SnapshotTable.load(spark, args.table)
        log = spark.read.parquet(args.log)
        won = lww_dedup(log, ["conv_id", "turn_idx"], ["ts", "lsn"])
        expected = won.filter(F.col("op") != "delete")
        n_table = t.read().count()
        n_expected = expected.count()
        ok = n_table == n_expected
        print(json.dumps({"table_rows": n_table, "expected_rows": n_expected, "match": ok}))
        return 0 if ok else 1

    if args.cmd == "lag":
        from .lakehouse import SnapshotTable
        from .operators.monitor import replication_lag

        t = SnapshotTable.load(spark, args.table)
        row = replication_lag(
            spark.read.parquet(args.log), t
        ).collect()[0]
        print(json.dumps(row.asDict(), default=str))
        return 0

    if args.cmd == "count":
        from .lakehouse import SnapshotTable

        t = SnapshotTable.load(spark, args.table)
        print(json.dumps(t.metadata_count(args.snapshot)))
        return 0

    if args.cmd == "conv-pairs":
        from pyspark.sql import functions as F

        from .lakehouse import SnapshotTable
        from .operators.dedup_index import conv_index_pairs

        t = SnapshotTable.load(spark, args.table)
        idx = SnapshotTable.load(spark, args.index)
        rows = (
            conv_index_pairs(idx, t, threshold=args.threshold)
            .orderBy(F.col("jaccard").desc(), "id_a", "id_b")
            .limit(args.limit)
            .collect()
        )
        print(json.dumps({"pairs": [r.asDict() for r in rows]}))
        return 0

    if args.cmd == "requeue":
        from .engine import EngineConfig, FkCheck, ReplayEngine
        from .lakehouse import SnapshotTable
        from .plans.job import resolve_transformer

        t = SnapshotTable.load(spark, args.table)
        fk = None
        if args.fk_parent:
            fk = FkCheck(
                spark.read.parquet(args.fk_parent),
                args.fk_col,
                args.fk_ref_col,
            )
        transforms = {
            m.column: resolve_transformer(m, args.seed)
            for m in _parse_mapping(args.mapping)
        }
        eng = ReplayEngine(
            spark, t, transforms=transforms, config=EngineConfig(fk_check=fk)
        )
        print(json.dumps(eng.requeue_fk_quarantine()))
        return 0

    if args.cmd == "rollback":
        from .lakehouse import SnapshotTable

        t = SnapshotTable.load(spark, args.table)
        new_sid = t.rollback(args.to_snapshot)
        print(json.dumps({
            "rolled_back_to": args.to_snapshot,
            "new_snapshot": new_sid,
        }))
        return 0

    if args.cmd == "expire":
        from .lakehouse import SnapshotTable

        t = SnapshotTable.load(spark, args.table)
        print(json.dumps(t.expire_snapshots(keep_last=args.keep_last)))
        return 0

    if args.cmd == "maintain":
        from .lakehouse import SnapshotTable

        t = SnapshotTable.load(spark, args.table)
        plan = t.plan_compaction(
            min_deltas=args.min_deltas,
            min_delta_bytes=args.min_delta_bytes,
            max_buckets=args.max_buckets,
        )
        out = {
            "planned_buckets": [
                {"bucket": b, "delta_files": n, "delta_bytes": nb}
                for b, n, nb in plan
            ],
        }
        exp_tomb = None
        if args.expire_tombstones_before:
            import pandas as pd

            exp_tomb = pd.Timestamp(args.expire_tombstones_before)
        if plan or exp_tomb is not None:
            info = t.compact(
                # a tombstone-expiry request targets the whole table
                # (tombstones live in COW base files too); otherwise
                # only the planned delta-pressure buckets rewrite
                buckets=[b for b, _, _ in plan] if exp_tomb is None else None,
                expire_tombstones_before=exp_tomb,
                zorder_cols=args.zorder.split(",") if args.zorder else None,
                max_records_per_file=args.max_records_per_file,
            )
            if info is not None:
                out["compacted_snapshot"] = info.snapshot_id
                out["rows_rewritten"] = info.rows_written
        if args.ledger_keep is not None:
            out["ledger"] = t.compact_ledger(keep_last=args.ledger_keep)
        if args.expire_keep_last is not None:
            out["expire"] = t.expire_snapshots(
                keep_last=args.expire_keep_last
            )
        if args.vacuum_grace is not None:
            out["vacuum"] = t.vacuum_orphans(
                grace_seconds=args.vacuum_grace
            )
        print(json.dumps(out))
        return 0

    if args.cmd == "replicate":
        from .lakehouse import SnapshotTable
        from .plans.replicate import replica_schema, replicate_incremental

        src = SnapshotTable.load(spark, args.src)
        to_sid = (
            args.to_snapshot
            if args.to_snapshot is not None
            else src.manifest(refresh=True)["snapshot_id"]
        )
        if SnapshotTable.exists(args.dst):
            dst = SnapshotTable.load(spark, args.dst)
            from_sid = args.from_snapshot
            if from_sid is None:
                applied = dst.applied_ranges()
                from_sid = max((r[1] for r in applied), default=None)
            if from_sid is None:
                print("replica has no applied hop; pass --from-snapshot "
                      "or use a fresh --dst to bootstrap", file=sys.stderr)
                return 2
        else:
            m = src.manifest(refresh=True)
            dst = SnapshotTable.create(
                spark, args.dst, replica_schema(src.current_schema()),
                key_cols=m["key_cols"], n_buckets=m["bucket_count"],
            )
            from_sid = args.from_snapshot  # None = bootstrap hop
        ci = replicate_incremental(
            src, dst, to_sid, from_snapshot_id=from_sid
        )
        print(json.dumps({
            "from_snapshot": from_sid, "to_snapshot": to_sid,
            "rows_shipped": ci.rows_written,
            "replica_snapshot": ci.snapshot_id,
        }))
        return 0

    if args.cmd == "catalog":
        from .lakehouse import SnapshotTable
        from .plans.catalog import Catalog

        if args.action == "init":
            Catalog.create(args.root)
            print(json.dumps({"root": args.root, "version": 0}))
            return 0
        c = Catalog.load(args.root)
        if args.action == "show":
            print(json.dumps({"version": c.version(), "tables": c.tables()}))
            return 0
        if args.action == "publish":
            pins = dict(kv.split("=", 1) for kv in args.pin)
            tables = {
                n: SnapshotTable.load(spark, path) for n, path in pins.items()
            }
            if args.consistent:
                v, w = c.publish_consistent(tables)
                print(json.dumps({"version": v, "watermark": w}))
            else:
                v = c.publish(tables)
                print(json.dumps({"version": v}))
            return 0
        if args.action == "read":
            if not args.name:
                print("catalog read needs --name", file=sys.stderr)
                return 2
            df = c.read(spark, args.name)
            if args.policies:
                if not args.audience:
                    print("--policies needs --audience", file=sys.stderr)
                    return 2
                from .operators.policy_mask import apply_policies

                with open(args.policies) as fh:
                    df = apply_policies(df, json.load(fh), args.audience)
            for r in df.limit(args.limit).collect():
                print(json.dumps(r.asDict(), default=str))
            return 0

    if args.cmd == "retain":
        import datetime

        from .lakehouse import SnapshotTable

        t = SnapshotTable.load(spark, args.table)
        rep = t.expire_rows(datetime.datetime.fromisoformat(args.before))
        print(json.dumps(rep))
        return 0

    if args.cmd == "branch":
        from pyspark.sql import functions as F

        from .lakehouse import BranchAuditError, SnapshotTable

        t = SnapshotTable.load(spark, args.table)
        if args.action == "list":
            print(json.dumps(t.list_branches()))
            return 0
        if args.name is None:
            p.error("--name is required for create/drop/publish/diff")
        if args.action == "create":
            head = t.create_branch(args.name, args.from_snapshot)
            print(json.dumps({"branch": args.name, "head": head}))
            return 0
        if args.action == "drop":
            t.drop_branch(args.name)
            print(json.dumps({"dropped": args.name}))
            return 0
        if args.action == "diff":
            # publish preview: net row changes main -> branch head
            import os as _os

            try:
                t._check_ref_name(args.name)
            except ValueError as e:
                print(json.dumps({"error": str(e)}))
                return 1
            if not _os.path.exists(t._hint_path(args.name)):
                print(json.dumps({"error": f"branch {args.name!r} does not exist"}))
                return 1
            bhead = t._read_ref(args.name)
            main_cur = t._read_ref("main")
            diff = t.snapshot_diff(main_cur, bhead)
            print(json.dumps({
                "branch": args.name, "main": main_cur, "head": bhead,
                "changes": _change_counts(diff),
            }))
            return 0
        audit = None
        if args.audit_not_null:
            cols = [c.strip() for c in args.audit_not_null.split(",") if c.strip()]
            if not cols:
                p.error("--audit-not-null needs at least one column name")

            def audit(df, _cols=cols):  # noqa: F811
                cond = None
                for c in _cols:
                    nn = F.col(c).isNull()
                    cond = nn if cond is None else (cond | nn)
                return df.filter(cond).count()

        try:
            head = t.publish_branch(
                args.name, audit=audit, drop_after=not args.keep
            )
        except BranchAuditError as e:
            print(json.dumps({"published": False, "error": str(e)}))
            return 1
        print(json.dumps({"published": True, "main_head": head}))
        return 0

    if args.cmd == "diff":
        from pyspark.sql import functions as F

        from .lakehouse import SnapshotTable

        t = SnapshotTable.load(spark, args.table)
        to_id = args.to_snapshot
        if to_id is None:
            to_id = t.manifest(refresh=True)["snapshot_id"]
        diff = t.snapshot_diff(args.from_snapshot, to_id)
        if args.out:
            # count from the just-written files, not a second run of the
            # full-outer diff join
            diff.write.mode("overwrite").parquet(args.out)
            diff = spark.read.parquet(args.out)
        counts = _change_counts(diff)
        print(json.dumps({
            "from_snapshot": args.from_snapshot,
            "to_snapshot": to_id,
            "changes": counts,
            "written": args.out,
        }))
        return 0

    if args.cmd == "rollup-sync":
        from .lakehouse import SnapshotTable
        from .operators.rollup import ROLLUP_SCHEMA, incremental_rollup_sync

        src = SnapshotTable.load(spark, args.src)
        to_id = args.to_snapshot
        if to_id is None:
            to_id = src.manifest(refresh=True)["snapshot_id"]
        if SnapshotTable.exists(args.dst):
            dst = SnapshotTable.load(spark, args.dst)
        else:
            dst = SnapshotTable.create(
                spark, args.dst, ROLLUP_SCHEMA,
                key_cols=["conv_id"], order_cols=["ts"], n_buckets=16,
            )
        from_id = args.from_snapshot
        if from_id is None:
            from_id = dst.last_applied_lsn()
        info = incremental_rollup_sync(src, dst, from_id, to_id)
        print(json.dumps({
            "from_snapshot": from_id,
            "to_snapshot": to_id,
            "rows_written": info.rows_written,
            "dst_snapshot": info.snapshot_id,
            "noop": info.rows_written == 0 and from_id == to_id,
        }))
        return 0

    if args.cmd == "stats-sync":
        from .lakehouse import SnapshotTable
        from .operators.stats_sync import (
            changed_buckets,
            create_stats_table,
            merged_stats,
            stats_sync,
        )

        src = SnapshotTable.load(spark, args.src)
        to_id = args.to_snapshot
        if to_id is None:
            to_id = src.manifest(refresh=True)["snapshot_id"]
        if SnapshotTable.exists(args.stats):
            stats = SnapshotTable.load(spark, args.stats)
        else:
            stats = create_stats_table(spark, args.stats)
        from_id = args.from_snapshot
        if from_id is None:
            from_id = stats.last_applied_lsn()
        cols = args.cols.split(",") if args.cols else None
        info = stats_sync(
            src, stats, cols, to_id, from_snapshot=from_id,
            approx=args.approx,
        )
        key0 = src.manifest()["key_cols"][0]
        merged = [
            r.asDict()
            for r in merged_stats(stats, additive_cols=[key0])
            .orderBy("column")
            .collect()
        ]
        print(json.dumps({
            "from_snapshot": from_id,
            "to_snapshot": to_id,
            "buckets_profiled": (
                len(changed_buckets(src, from_id, to_id))
                if from_id is not None and from_id != to_id
                else (0 if from_id == to_id else
                      int(src.manifest()["bucket_count"]))
            ),
            "stats_rows_written": info.rows_written,
            "noop": info.rows_written == 0 and from_id == to_id,
            "profile": merged,
        }, default=str))
        return 0

    if args.cmd == "tail":
        from .lakehouse import SnapshotTable
        from .plans.job import JobSpec, compile_job
        from .streaming.stream import StreamingReplay

        job = JobSpec(
            source_path=args.log,
            destination_path=args.table,
            mappings=_parse_mapping(args.mapping),
            transform_where=_parse_mapping_where(args.mapping_where),
            seed=args.seed,
            n_buckets=args.buckets,
            merge_mode=args.mode,
            prune_buckets=not args.no_prune,
            quarantine=args.quarantine,
            patch_ops=args.patch_ops,
        )
        registry = None
        if args.registry:
            from .schema_registry import load_registry

            registry = load_registry(args.registry)
        engine, _ = compile_job(spark, job, registry)
        consumers, event_consumers = [], []
        if args.rollup_dst:
            from .operators.rollup import ROLLUP_SCHEMA
            from .streaming.consumers import rollup_consumer

            if SnapshotTable.exists(args.rollup_dst):
                rdst = SnapshotTable.load(spark, args.rollup_dst)
            else:
                rdst = SnapshotTable.create(
                    spark, args.rollup_dst, ROLLUP_SCHEMA,
                    key_cols=["conv_id"], order_cols=["ts"], n_buckets=16,
                )
            consumers.append(rollup_consumer(rdst))
        if args.replica:
            from .plans.replicate import replica_schema
            from .schema import KEY_COLS, transcript_schema
            from .streaming.consumers import replica_consumer

            if SnapshotTable.exists(args.replica):
                rep = SnapshotTable.load(spark, args.replica)
            else:
                rep = SnapshotTable.create(
                    spark, args.replica,
                    replica_schema(transcript_schema()),
                    key_cols=KEY_COLS, n_buckets=args.buckets,
                )
            consumers.append(replica_consumer(rep))
        if args.dpo_dst:
            from .operators.dpo_sync import create_dpo_state
            from .streaming.consumers import dpo_consumer

            if SnapshotTable.exists(args.dpo_dst):
                dpo = SnapshotTable.load(spark, args.dpo_dst)
            else:
                dpo = create_dpo_state(spark, args.dpo_dst)
            event_consumers.append(dpo_consumer(dpo))
        if args.sft_dst:
            from .operators.sft_sync import create_sft_export
            from .streaming.consumers import sft_export_consumer

            if SnapshotTable.exists(args.sft_dst):
                sft = SnapshotTable.load(spark, args.sft_dst)
            else:
                sft = create_sft_export(spark, args.sft_dst)
            consumers.append(sft_export_consumer(
                sft, context_budget_chars=args.sft_budget
            ))
        if args.stats_dst:
            from .operators.stats_sync import create_stats_table
            from .streaming.consumers import stats_consumer

            if SnapshotTable.exists(args.stats_dst):
                sdst = SnapshotTable.load(spark, args.stats_dst)
            else:
                sdst = create_stats_table(spark, args.stats_dst)
            consumers.append(stats_consumer(sdst))
        if args.conv_index:
            from .operators.dedup_index import create_conv_index
            from .streaming.consumers import conv_dedup_index_consumer

            if SnapshotTable.exists(args.conv_index):
                cidx = SnapshotTable.load(spark, args.conv_index)
            else:
                cidx = create_conv_index(spark, args.conv_index)
            consumers.append(conv_dedup_index_consumer(cidx))
        if args.scd2_dim:
            from .operators.scd import scd2_dim_schema
            from .schema import KEY_COLS, change_event_schema
            from .streaming.consumers import scd2_consumer

            attrs = ["role", "text", "tool"]
            if SnapshotTable.exists(args.scd2_dim):
                dim = SnapshotTable.load(spark, args.scd2_dim)
            else:
                dim = SnapshotTable.create(
                    spark, args.scd2_dim,
                    scd2_dim_schema(change_event_schema(True), KEY_COLS, attrs),
                    key_cols=[*KEY_COLS, "version_seq"], n_buckets=16,
                )
            event_consumers.append(scd2_consumer(dim, KEY_COLS, attrs))
        snap = None
        if args.bootstrap_source:
            if not args.bootstrap_state or args.source_lsn is None:
                raise SystemExit(
                    "--bootstrap-source requires --bootstrap-state and "
                    "--source-lsn (the WAL position the source state "
                    "reflects)"
                )
            from .operators.incremental_snapshot import IncrementalSnapshot

            snap = IncrementalSnapshot(
                engine.table,
                spark.read.parquet(args.bootstrap_source),
                args.bootstrap_state,
                chunk_rows=args.bootstrap_chunk_rows,
            )

            # chunks must land through the SAME transforms as the
            # stream — an anonymized destination must never bootstrap
            # unmasked history (deterministic transformers make the
            # overlap rows agree)
            _boot_kw = (
                {"transform": engine.transform_batch}
                if engine.transforms
                else {}
            )

            def _bootstrap_chunk(batch, rng, _s=snap, _lw=args.source_lsn):
                # one chunk per epoch: the snapshot makes progress at
                # the stream's cadence without ever blocking it
                if not _s.done:
                    _s.step(lw=_lw, **_boot_kw)

            event_consumers.append(_bootstrap_chunk)
        payload = None
        if args.envelope_schema:
            from pyspark.sql import types as T

            payload = T._parse_datatype_string(args.envelope_schema)
        q = StreamingReplay(
            engine, consumers=consumers, event_consumers=event_consumers
        ).start(
            args.log, args.checkpoint,
            max_files_per_trigger=args.max_files, follow=args.follow,
            fmt=args.log_format, payload_schema=payload,
            evolve_payload=args.evolve_payload,
            strict_types=args.strict_wire_types,
            toast_placeholder=args.toast_placeholder,
        )
        if args.follow:
            q.awaitTermination(args.timeout)
            q.stop()
        else:
            q.awaitTermination()
        boot = None
        if snap is not None:
            # the drain may end before the key space does — finish the
            # remaining chunks (each is idempotent and ledgered)
            tail_out = snap.run(lw=args.source_lsn, **_boot_kw)
            boot = {
                "chunks": tail_out["chunks"],
                "done": tail_out["done"],
                "finished_after_drain": tail_out["chunks_applied"],
            }
        cp = engine.table.manifest(refresh=True)["checkpoint"]
        out = {
            "table_rows": engine.table.read().count(),
            "ledger_exact_rows": len(cp["applied"]),
            "ledger_compacted_spans": len(cp.get("compacted", [])),
            "consumers": len(consumers) + len(event_consumers),
        }
        if boot is not None:
            out["bootstrap"] = boot
        print(json.dumps(out))
        return 0

    if args.cmd == "scd2-sync":
        from .lakehouse import SnapshotTable
        from .operators.scd import scd2_dim_schema, scd2_sync
        from .sources.changelog import ChangeLogSource

        src = ChangeLogSource(spark, args.log)
        keys = args.keys.split(",")
        attrs = args.attrs.split(",") if args.attrs else None
        bounds = src.lsn_bounds()
        if bounds is None:
            print(json.dumps({"rows_written": 0, "noop": True}))
            return 0
        to_lsn = args.to_lsn if args.to_lsn is not None else bounds[1] + 1
        if SnapshotTable.exists(args.dim):
            dim = SnapshotTable.load(spark, args.dim)
        else:
            sample = src.slice(bounds[0], bounds[0] + 1)
            eff_attrs = attrs or [
                c for c in sample.columns
                if c not in (*keys, "lsn", "op", "ts")
            ]
            dim = SnapshotTable.create(
                spark, args.dim,
                scd2_dim_schema(sample.schema, keys, eff_attrs),
                key_cols=[*keys, "version_seq"], n_buckets=16,
            )
        from_lsn = args.from_lsn
        if from_lsn is None:
            from_lsn = dim.last_applied_lsn() or bounds[0]
        info = scd2_sync(
            dim, src.slice(from_lsn, to_lsn), (from_lsn, to_lsn),
            key_cols=keys, attr_cols=attrs,
        )
        print(json.dumps({
            "from_lsn": from_lsn,
            "to_lsn": to_lsn,
            "rows_written": info.rows_written,
            "dim_snapshot": info.snapshot_id,
            "noop": info.rows_written == 0,
        }))
        return 0

    if args.cmd == "snapshot-sync":
        from .lakehouse import SnapshotTable
        from .operators.incremental_snapshot import IncrementalSnapshot

        src = spark.read.parquet(args.source)
        if SnapshotTable.exists(args.table):
            table = SnapshotTable.load(spark, args.table)
        else:
            table = SnapshotTable.create(
                spark, args.table, src.schema,
                key_cols=args.keys.split(","), n_buckets=args.buckets,
            )
        snap = IncrementalSnapshot(
            table, src, args.state, chunk_rows=args.chunk_rows
        )
        kw = {}
        if args.on_conflict != "fail":
            kw["on_conflict"] = args.on_conflict
        if args.mapping:
            from .engine import EngineConfig, ReplayEngine
            from .plans.job import resolve_transformer

            transforms = {
                m.column: resolve_transformer(m, args.seed)
                for m in _parse_mapping(args.mapping)
            }
            eng = ReplayEngine(
                spark, table, transforms=transforms, config=EngineConfig()
            )
            kw["transform"] = eng.transform_batch
        out = snap.run(
            lw=args.source_lsn, max_chunks=args.max_chunks, **kw
        )
        print(json.dumps(out))
        return 0

    if args.cmd == "index-sync":
        from .lakehouse import SnapshotTable
        from .operators.dedup_index import create_minhash_index, minhash_index_sync

        if SnapshotTable.exists(args.index):
            idx = SnapshotTable.load(spark, args.index)
        else:
            idx = create_minhash_index(spark, args.index)
        new_docs = spark.read.parquet(args.docs)
        corpus = spark.read.parquet(args.corpus)
        epoch = args.epoch
        if epoch is None:
            # content-keyed default: the SAME --docs input always maps to
            # the same epoch, so an unparameterized scheduler retry is the
            # documented exactly-once no-op (a ledger-watermark default
            # would hand a retry a FRESH epoch and re-emit every pair)
            import hashlib
            import os as _os

            entries = []
            for root, _dirs, files in _os.walk(args.docs):
                for f in files:
                    if f.startswith(("_", ".")):
                        continue
                    p = _os.path.join(root, f)
                    st = _os.stat(p)
                    entries.append(
                        f"{_os.path.relpath(p, args.docs)}:{st.st_size}:{st.st_mtime_ns}"
                    )
            listing = "|".join(sorted(entries))
            epoch = int.from_bytes(
                hashlib.md5(listing.encode()).digest()[:8], "big"
            ) & ((1 << 62) - 1)
        pairs = minhash_index_sync(
            idx, new_docs, corpus, args.content_col, args.id_col,
            threshold=args.threshold, applied_range=(epoch, epoch + 1),
        )
        n = pairs.count()
        if args.pairs_out:
            pairs.write.mode("overwrite").parquet(args.pairs_out)
        print(json.dumps({
            "epoch": [epoch, epoch + 1],
            "new_pairs": n,
            "index_snapshot": idx.manifest(refresh=True)["snapshot_id"],
        }))
        return 0

    if args.cmd == "sidx-sync":
        from .lakehouse import SnapshotTable
        from .operators.secondary_index import (
            create_secondary_index,
            secondary_index_sync,
        )

        src = SnapshotTable.load(spark, args.table)
        if SnapshotTable.exists(args.index):
            idx = SnapshotTable.load(spark, args.index)
        else:
            idx = create_secondary_index(
                spark, args.index, src, args.col, n_buckets=args.buckets
            )
        ranges = idx.applied_ranges()
        from_snap = max((r[1] for r in ranges), default=None)
        to_snap = src.manifest(refresh=True)["snapshot_id"]
        info = secondary_index_sync(
            src, idx, args.col, to_snapshot=to_snap, from_snapshot=from_snap
        )
        print(json.dumps({
            "col": args.col,
            "from_snapshot": from_snap,
            "to_snapshot": to_snap,
            "postings_written": info.rows_written,
            "index_snapshot": idx.manifest(refresh=True)["snapshot_id"],
        }))
        return 0

    if args.cmd == "lookup":
        from .lakehouse import SnapshotTable
        from .operators.secondary_index import secondary_lookup

        src = SnapshotTable.load(spark, args.table)
        idx = SnapshotTable.load(spark, args.index)
        rows = secondary_lookup(src, idx, args.col, args.value)
        n = rows.count()
        for r in rows.limit(args.limit).collect():
            print(json.dumps(r.asDict(), default=str))
        print(json.dumps({"col": args.col, "values": args.value, "rows": n}))
        return 0

    if args.cmd == "rescale":
        from .lakehouse import SnapshotTable

        t = SnapshotTable.load(spark, args.table)
        info = t.rescale_buckets(
            args.buckets, max_records_per_file=args.max_records_per_file
        )
        print(json.dumps({
            "snapshot": info.snapshot_id,
            "buckets": args.buckets,
        }))
        return 0

    if args.cmd == "encrypt":
        import os as _os

        from .lakehouse import SnapshotTable
        from .operators.crypto_shred import KeyStore, encrypt_columns

        t = SnapshotTable.load(spark, args.table)
        store = KeyStore(spark, args.keystore)
        cols = args.cols.split(",")
        subject = args.subject_col
        marker = _os.path.join(t.path, "metadata", "encryption.json")
        pending = t.pending_transform_buckets()
        if _os.path.exists(marker) and not pending:
            with open(marker) as fh:
                print(json.dumps({"already_encrypted": json.load(fh)}))
            return 0
        if _os.path.exists(marker):
            # crashed rollout: resume at the declared version with the
            # ORIGINAL parameters — stamped files are never re-read, so
            # nothing double-encrypts
            with open(marker) as fh:
                saved = json.load(fh)
            cols, subject = saved["cols"], saved["subject"]
            v = int(t.manifest(refresh=True).get("transform_version", 0))
        else:
            v = int(t.manifest(refresh=True).get("transform_version", 0)) + 1
            t.set_transform_version(v)
            with open(marker, "w") as fh:
                json.dump({"cols": cols, "subject": subject,
                           "keystore": args.keystore, "version": v}, fh)
        store.ensure(t.read().select(subject), subject)

        def _enc(df):
            return encrypt_columns(df, store.load(), subject, cols)

        info = t.transform_backfill(_enc, group_size=args.group_size)
        info["version"] = v
        print(json.dumps(info))
        return 0

    if args.cmd == "shred":
        from .operators.crypto_shred import KeyStore

        store = KeyStore(spark, args.keystore)
        n = store.shred(args.subjects.split(","))
        print(json.dumps({"keys_destroyed": n}))
        return 0

    if args.cmd == "purge":
        from .lakehouse import SnapshotTable

        t = SnapshotTable.load(spark, args.table)
        key_type = t.current_schema()[t.manifest()["key_cols"][0]].dataType
        vals = [
            _cast_cli_value(v, key_type) for v in args.key
        ]
        try:
            out = t.purge_keys(
                vals,
                expire=not args.no_expire,
                keep_last=args.keep_last,
                force=args.force,
            )
        except ValueError as e:
            print(json.dumps({"error": str(e)}))
            return 1
        print(json.dumps(out))
        return 0

    if args.cmd == "fsck":
        from .lakehouse import SnapshotTable

        t = SnapshotTable.load(spark, args.table)
        rep = t.verify_files(deep=not args.shallow)
        print(json.dumps(rep))
        return 0 if not rep["damaged"] else 1

    if args.cmd == "repair":
        from .lakehouse import SnapshotTable
        from .plans.job import resolve_transformer

        t = SnapshotTable.load(spark, args.table)
        if args.buckets:
            buckets = [int(b) for b in args.buckets.split(",")]
        else:
            buckets = t.verify_files()["damaged_buckets"]
            if not buckets:
                print(json.dumps({"repaired": False, "damaged_buckets": []}))
                return 0
        transform = None
        if args.mapping:
            from .engine import ReplayEngine

            transform = ReplayEngine(spark, t, transforms={
                mp.column: resolve_transformer(mp, args.seed)
                for mp in _parse_mapping(args.mapping)
            }).transform_batch

        excl = None
        if args.exclude_key:
            key_type = t.current_schema()[t.manifest()["key_cols"][0]].dataType
            excl = [_cast_cli_value(v, key_type) for v in args.exclude_key]
        info = t.repair_buckets(
            spark.read.parquet(args.log),
            buckets,
            transform=transform,
            patch_source=args.patch_source,
            exclude_keys=excl,
        )
        post = t.verify_files(deep=False)
        print(json.dumps({
            "repaired": True,
            "buckets": buckets,
            "rows_rederived": info.rows_written,
            "snapshot": info.snapshot_id,
            "clean_after": not post["damaged"],
        }))
        return 0 if not post["damaged"] else 1

    if args.cmd == "checksum":
        from .lakehouse import SnapshotTable
        from .operators.checksum import diverged_chunks, table_checksum

        def _load(path):
            if SnapshotTable.exists(path):
                return SnapshotTable.load(spark, path).read()
            return spark.read.parquet(path)

        a = _load(args.table)
        if args.cols:
            cols = [c.strip() for c in args.cols.split(",") if c.strip()]
            a = a.select(*cols)
        if args.against is None:
            row = table_checksum(a).collect()[0]
            print(json.dumps({
                "n_rows": row["n_rows"],
                "digest_xor": row["digest_xor"],
                "digest_sum": str(row["digest_sum"]),
            }))
            return 0
        b = _load(args.against)
        if args.cols:
            b = b.select(*cols)
        div = diverged_chunks(a, b, args.key_col, n_chunks=args.chunks).collect()
        print(json.dumps({
            "chunks": args.chunks,
            "diverged": [
                {"chunk": r["chunk"], "src_rows": r["src_rows"],
                 "dst_rows": r["dst_rows"]}
                for r in div
            ],
            "match": not div,
        }))
        return 0 if not div else 1

    if args.cmd == "audit":
        from .lakehouse import SnapshotTable
        from .operators.privacy import (
            k_anonymity_report,
            l_diversity_report,
            t_closeness_report,
        )

        if SnapshotTable.exists(args.table):
            df = SnapshotTable.load(spark, args.table).read()
        else:
            df = spark.read.parquet(args.table)
        quasi = args.quasi.split(",")
        out = {
            "table": args.table,
            "k_anonymity": k_anonymity_report(df, quasi, k=args.k)
            .collect()[0]
            .asDict(),
        }
        if args.sensitive:
            out["l_diversity"] = (
                l_diversity_report(df, quasi, args.sensitive, l=args.l)
                .collect()[0]
                .asDict()
            )
            out["t_closeness"] = (
                t_closeness_report(df, quasi, args.sensitive, t=args.t)
                .collect()[0]
                .asDict()
            )
        print(json.dumps(out, default=str))
        return 0

    if args.cmd == "profile":
        from .lakehouse import SnapshotTable
        from .operators.profile import profile_columns

        if SnapshotTable.exists(args.table):
            df = SnapshotTable.load(spark, args.table).read()
        else:
            df = spark.read.parquet(args.table)
        cols = args.columns.split(",") if args.columns else None
        rows = profile_columns(df, cols, approx=args.approx).collect()
        out = {
            "table": args.table,
            "approx": args.approx,
            "columns": [r.asDict() for r in rows],
        }
        if args.percentiles:
            from .operators.profile import numeric_percentiles

            out["percentiles"] = [
                r.asDict()
                for r in numeric_percentiles(
                    df, args.percentiles.split(","), approx=args.approx
                ).collect()
            ]
        print(json.dumps(out, default=str))
        return 0

    if args.cmd == "validate":
        from .lakehouse import SnapshotTable
        from .schema_constraints import (
            Constraint,
            ConstraintSet,
            ForeignKey,
            validate_constraints,
        )

        tables = {}
        for it in args.tables:
            name, _, path = it.partition("=")
            if SnapshotTable.exists(path):
                tables[name] = SnapshotTable.load(spark, path).read()
            else:
                tables[name] = spark.read.parquet(path)
        cs = ConstraintSet()
        for i, spec in enumerate(args.constraint):
            parts = spec.split(":")
            kind = parts[0]
            if kind == "fk":
                if len(parts) != 5:
                    raise SystemExit(
                        f"bad constraint {spec!r}: expected "
                        "fk:<child>:<cols>:<parent>:<refcols>"
                    )
                _, child, cols, parent, refcols = parts
                cs.add(ForeignKey(
                    f"fk_{i}", child, tuple(cols.split(",")),
                    parent, tuple(refcols.split(",")),
                ))
            elif kind == "check":
                if len(parts) < 3:
                    raise SystemExit(
                        f"bad constraint {spec!r}: expected check:<table>:<expr>"
                    )
                tbl, expr = parts[1], ":".join(parts[2:])
                cs.add(Constraint(f"check_{i}", tbl, "check", expr=expr))
            elif kind in ("pk", "unique", "not_null"):
                if len(parts) != 3:
                    raise SystemExit(
                        f"bad constraint {spec!r}: expected {kind}:<table>:<cols>"
                    )
                _, tbl, cols = parts
                full = {"pk": "primary_key"}.get(kind, kind)
                cs.add(Constraint(
                    f"{kind}_{i}", tbl, full, tuple(cols.split(",")),
                ))
            else:
                raise SystemExit(f"unknown constraint kind {kind!r}")
        rows = validate_constraints(tables, cs).collect()
        out = [r.asDict() for r in rows]
        print(json.dumps({"constraints": out}))
        return 0 if all(r["n_violations"] == 0 for r in out) else 1

    if args.cmd == "show":
        from .lakehouse import SnapshotTable

        t = SnapshotTable.load(spark, args.table)
        cp = t.manifest(refresh=True)["checkpoint"]
        print(json.dumps({
            "history": t.history(),
            "applied_ranges": [list(r) for r in t.applied_ranges()],
            "ledger_exact_rows": len(cp["applied"]),
            "ledger_compacted_spans": len(cp.get("compacted", [])),
            "delta_pressure": t.delta_file_counts(),
        }, indent=1))
        return 0

    if args.cmd == "delete":
        from .lakehouse import SnapshotTable

        t = SnapshotTable.load(spark, args.table)
        info = t.delete_where(args.where)
        print(json.dumps({
            "deleted_rows": info.rows_written, "snapshot": info.snapshot_id,
        }))
        return 0

    if args.cmd == "update":
        from .lakehouse import SnapshotTable

        t = SnapshotTable.load(spark, args.table)
        sets = {}
        for item in args.set:
            col, _, expr = item.partition("=")
            if not expr:
                raise SystemExit(f"--set needs COL=SQL_EXPR, got {item!r}")
            sets[col] = expr
        info = t.update_where(args.where, sets)
        print(json.dumps({
            "updated_rows": info.rows_written, "snapshot": info.snapshot_id,
        }))
        return 0

    if args.cmd == "replace":
        from .lakehouse import SnapshotTable

        t = SnapshotTable.load(spark, args.table)
        info = t.replace_where(
            args.where, spark.read.parquet(args.from_path)
        )
        print(json.dumps({
            "rows_written": info.rows_written, "snapshot": info.snapshot_id,
        }))
        return 0

    if args.cmd == "inspect":
        from .lakehouse import SnapshotTable

        t = SnapshotTable.load(spark, args.table)
        df = (
            t.files(args.snapshot)
            if args.what == "files"
            else t.snapshots()
        )
        print(json.dumps([r.asDict() for r in df.collect()], indent=1))
        return 0

    if args.cmd == "export-cdc":
        import os as _os

        from .lakehouse import SnapshotTable
        from .sources.debezium import (
            encode_debezium,
            snapshot_export_debezium,
        )

        t = SnapshotTable.load(spark, args.table)
        m = t.manifest(refresh=True)
        head = m["snapshot_id"]
        cursor_path = _os.path.join(args.out, "_cursor")
        last = None
        if not args.full and _os.path.exists(cursor_path):
            with open(cursor_path) as fh:
                last = int(fh.read().strip())
        if last == head:
            print(json.dumps({"from": last, "to": head, "envelopes": 0,
                              "hop": None}))
            return 0
        if last is None:
            env = snapshot_export_debezium(t, head)
            hop_name = f"hop-0-{head}"
        else:
            env = encode_debezium(
                t.snapshot_diff(last, head, include_preimages=True),
                m["key_cols"], head,
            )
            hop_name = f"hop-{last}-{head}"
        hop_dir = _os.path.join(args.out, hop_name)
        env.select("value").write.mode("overwrite").text(hop_dir)
        n = spark.read.text(hop_dir).count()
        # cursor written only after the hop landed: a crash replays the
        # same hop (consumer ledgers make the replay a no-op)
        _os.makedirs(args.out, exist_ok=True)
        tmpc = cursor_path + ".tmp"
        with open(tmpc, "w") as fh:
            fh.write(str(head))
        _os.replace(tmpc, cursor_path)
        print(json.dumps({
            "from": last, "to": head, "envelopes": n, "hop": hop_dir,
        }))
        return 0

    if args.cmd == "export":
        from .lakehouse import SnapshotTable

        t = SnapshotTable.load(spark, args.table)
        n = t.export_snapshot(args.out, args.snapshot)
        print(json.dumps({"out": args.out, "rows": n}))
        return 0

    if args.cmd == "get":
        from .lakehouse import SnapshotTable

        t = SnapshotTable.load(spark, args.table)
        key_col = t.manifest()["key_cols"][0]
        dtype = t.current_schema()[key_col].dataType
        keys = [_cast_cli_value(v, dtype) for v in args.key]
        df = t.read(key_equals={key_col: keys})
        if args.decrypt_cols:
            if not args.keystore:
                raise SystemExit("--decrypt-cols requires --keystore")
            from .operators.crypto_shred import KeyStore, decrypt_read

            df = decrypt_read(
                df,
                KeyStore(spark, args.keystore).load(),
                key_col,
                args.decrypt_cols.split(","),
            )
        out = {"rows": [
            {k: (v.isoformat() if hasattr(v, "isoformat") else v)
             for k, v in r.asDict().items()}
            for r in df.collect()
        ]}
        if args.stats:
            out["scan"] = t.scan_stats(key_equals={key_col: keys})
        print(json.dumps(out, indent=1))
        return 0

    if args.cmd == "drift":
        from .lakehouse import SnapshotTable
        from .operators.monitor import column_drift

        t = SnapshotTable.load(spark, args.table)
        m = t.manifest()
        if args.columns:
            cols = args.columns.split(",")
        else:
            # payload columns only: the ts ORDER column necessarily
            # drifts on any append-heavy table (new time ranges =
            # new bucket mass), which would make exit 1 the default
            skip = set(m["key_cols"]) | set(m.get("order_cols", []))
            cols = [
                f.name for f in t.current_schema().fields
                if f.name not in skip
            ]
        to_sid = args.to_snapshot
        rows = column_drift(
            t.read(args.from_snapshot),
            t.read(to_sid),
            cols,
            n_buckets=args.buckets,
            psi_threshold=args.threshold,
        ).collect()
        print(json.dumps({
            "from_snapshot": args.from_snapshot,
            "to_snapshot": to_sid if to_sid is not None else m["snapshot_id"],
            "drift": [r.asDict() for r in rows],
        }, indent=1))
        return 1 if any(r["drifted"] for r in rows) else 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
