"""The three benchmark workloads, driven through the product's public
entry points exactly as ``run_cdc.py replay`` / ``tail`` build them:
``JobSpec`` + ``compile_job`` / ``run_job`` and ``StreamingReplay``,
with the engine's default knobs.

Every workload reports the same end-to-end metric names (see
``E2E_UNITS``); what each name measures on each workload is listed in
BENCHMARK.json, perfbench/README.md and ``ALIASES`` below.
"""

from __future__ import annotations

import math
import os
import shutil
import threading
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

from . import stats
from .stats import MISSING, Segment

# metric name -> unit; every workload reports all of them
E2E_UNITS = {
    "setup_s": "s",
    "heap_live_mb": "MB",
    "events_per_s": "1/s",
    "stored_bytes_per_row": "B",
    "scan_s": "s",
    "latency_p50_s": "s",
}

# printed by every run but not bounded: on backfill it is the reciprocal
# of events_per_s, on tail the epoch time behind latency_p50_s (and
# streaming.trigger_s); on mor_reads it is mor_commit_p50_s
INFO_UNITS = {"commit_s": "s"}

LAYER_UNITS = {
    "sources.slice_rows_per_s": "1/s",
    "dedup.lww_s": "s",
    "dedup.collapse_ratio": "ratio",
    "transformers.pii_text_rows_per_s": "1/s",
    "transformers.scramble_rows_per_s": "1/s",
    "lakehouse.merge_cdc_s": "s",
    "lakehouse.buckets_rewritten": "count",
    "lakehouse.files_per_commit": "count",
    "lakehouse.commit_bytes_written": "B",
    "lakehouse.write_amp": "ratio",
    "lakehouse.manifest_bytes": "B",
    "lakehouse.read_s": "s",
    "lakehouse.lookup_files_opened": "count",
    "engine.apply_batch_s": "s",
    "engine.self_s": "s",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.overhead_s": "s",
    "streaming.rows_per_epoch": "count",
    "tail.generator_lateness_s": "s",
    "spark.jobs_per_commit": "count",
    "spark.tasks_per_commit": "count",
    "spark.failed_tasks": "count",
    "trace.events_per_s": "1/s",
    "trace.latency_p50_s": "s",
    "proc.peak_pss_mb": "MB",
}

# compaction and delta files happen only on mor_reads, which reports
# these on top of LAYER_UNITS
MOR_LAYER_UNITS = {
    "lakehouse.compactions": "count",
    "lakehouse.compact_s": "s",
    "lakehouse.delta_files": "count",
}

# workload-specific names of the headline metrics, printed beside the
# generic ones
ALIASES = {
    "backfill": {
        "events_per_s": "backfill_events_per_s",
        "stored_bytes_per_row": "stored_bytes_per_row",
    },
    "tail": {
        "latency_p50_s": "tail_freshness_p50_s",
    },
    "mor_reads": {
        "latency_p50_s": "lookup_p50_s",
        "commit_s": "mor_commit_p50_s",
        "scan_s": "mor_scan_s",
    },
}

CONVS_PER_EVENT = 1 / 50  # ~50 events per conversation
ZIPF_A = 1.3


@dataclass(frozen=True)
class Size:
    setup_reps: int = 3
    # backfill: one bulk commit of the whole log per cycle
    backfill_events: int = 300_000
    backfill_lookups: int = 12  # per cycle, on the fresh table
    warmup_events: int = 20_000  # backfill: one untimed log + commit first
    # tail / mor_reads: preloaded base, then open-loop writes
    preload_events: int = 50_000
    seg_events: int = 3_750
    # offered once, a little under half the tail's drain capacity so the
    # backlog stays flat even while the shared host runs slower: offered
    # 4 segments/s of this size (a standing backlog, 8-segment epochs of
    # ~3.6 s), the tail committed 2.13 segments/s on a shared 4-core x86
    # VM with 15 GiB of RAM; in slow spells there, 8-segment epochs took
    # 5-8 s, a capacity of 1.0-1.6/s. Fewer, larger segments keep the
    # data rate while leaving headroom in files per trigger
    seg_per_s: float = 0.8
    drain_grace_s: float = 3.0  # no segment is due this close to the end
    # untimed segments at the same rate before the timed window: the
    # first epochs of a new query run slower while the JVM warms up
    lead_in_s: float = 6.0
    # StreamingReplay.start's default (the `tail` CLI passes 4): an epoch
    # takes what landed since the last one, so this binds only when a
    # stall left a backlog, which 8 drains before it can grow
    max_files_per_trigger: int = 8
    processing_interval: str = "250 milliseconds"
    mor_batch_events: int = 10_000
    # about twice the mean MoR commit (1.3-2.7 s on 4 shared cores, plus
    # a compaction every 9th commit), so reads get the gaps between writes
    mor_period_s: float = 4.5
    scan_every: int = 2  # full scan after every n-th write
    min_gap_lookups: int = 2  # reads a gap gets even when writes run late
    min_lookups: int = 24  # lookups per run, topped up at the end on a slow host
    probe_rows: int = 50_000  # transformer probe sample


SIZES = {
    "full": Size(),
    "tiny": Size(
        setup_reps=2,
        backfill_events=20_000,
        warmup_events=2_000,
        backfill_lookups=45,
        preload_events=10_000,
        seg_events=200,
        seg_per_s=2.0,
        mor_batch_events=500,
        min_gap_lookups=6,
        probe_rows=2_000,
    ),
}

STORE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def mappings():
    from neosync_spark.plans.job import ColumnMapping

    return [
        ColumnMapping("text", "transform_pii_text"),
        ColumnMapping(
            "tool",
            "transform_character_scramble",
            {"user_provided_regex": '"q":"[^"]*"'},
        ),
    ]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Comparable form of a table image: stored columns, naive UTC
    microsecond timestamps, None for nulls, (conv_id, turn_idx) order."""
    out = df[STORE_COLS].copy()
    ts = pd.to_datetime(out["ts"])
    if ts.dt.tz is not None:
        ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
    out["ts"] = ts.astype("datetime64[us]")
    out["turn_idx"] = out["turn_idx"].astype("int64")
    for c in ("conv_id", "role", "text", "tool"):
        out[c] = out[c].astype(object).where(out[c].notna(), None)
    return out.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(
        drop=True
    )


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a short description of the first mismatch."""
    try:
        pd.testing.assert_frame_equal(
            normalize(got), normalize(want), check_dtype=False
        )
    except AssertionError as e:
        return str(e).splitlines()[0][:300] + f" (got {len(got)} rows, want {len(want)})"
    return None


class Bench:
    """One workload run. Everything it creates lives under ``work``,
    which the caller deletes when the run ends."""

    name = ""
    layer_units = LAYER_UNITS

    def __init__(self, spark, work: str, seed: int, seconds: float, size: Size, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.size = size
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {k: 0.0 for k in self.layer_units}
        self.notes: dict[str, object] = {}
        self.rng = np.random.default_rng(seed)
        self.started = time.monotonic()
        os.makedirs(work, exist_ok=True)

    # ---------- shared pieces ----------

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def synth_cfg(self, n_events: int, convs_from: int | None = None):
        from neosync_spark.synth import SynthConfig

        n_convs = max(10, int((convs_from or n_events) * CONVS_PER_EVENT))
        return SynthConfig(n_events=n_events, n_convs=n_convs, seed=self.seed)

    def job(self, log: str, table: str, **kw):
        from neosync_spark.plans.job import JobSpec

        return JobSpec(source_path=log, destination_path=table, mappings=mappings(), **kw)

    def write_log(self, cfg, out: str, lsn_below: int | None = None) -> None:
        """Materialize the seeded change log as parquet through Spark."""
        from pyspark.sql import functions as F

        from neosync_spark.synth import generate_spark

        df = generate_spark(self.spark, cfg)
        if lsn_below is not None:
            df = df.filter(F.col("lsn") < lsn_below)
        df.write.parquet(out)

    @staticmethod
    def read_log(path: str) -> pd.DataFrame:
        import pyarrow.parquet as pq

        return pq.read_table(path).to_pandas()

    @staticmethod
    def dir_bytes(path: str) -> int:
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        )

    def mark(self, phase: str) -> None:
        """Record how far into the run ``phase`` ended (wall-clock)."""
        self.notes.setdefault("elapsed_s", {})[phase] = round(
            time.monotonic() - self.started, 1
        )

    def warm_up(self) -> None:
        """Untimed: one small log written and replayed through the same
        job, so the JIT and the python workers are warm before the first
        timed commit (a fresh JVM charges its start-up to whatever runs
        first). The open-loop workloads need none: their set-up replays
        the preload three times and reports the median."""
        from neosync_spark.plans.job import run_job

        cfg = self.synth_cfg(self.size.warmup_events)
        log, table = self.path("warmup", "log"), self.path("warmup", "table")
        self.write_log(cfg, log)
        run_job(self.spark, self.job(log, table, batch_lsn_size=cfg.n_events))
        shutil.rmtree(self.path("warmup"), ignore_errors=True)

    def timed_setup(self, build) -> dict:
        """Build the starting state ``setup_reps`` times on fresh
        directories; report the median and keep the last result (a dict
        whose ``root`` holds everything that build made)."""
        times, out = [], None
        for i in range(self.size.setup_reps):
            if out is not None:
                shutil.rmtree(out["root"], ignore_errors=True)
            t0 = time.perf_counter()
            out = build(self.path(f"setup{i}"))
            times.append(time.perf_counter() - t0)
        self.mark("setup")
        self.e2e["setup_s"] = stats.median(times)
        self.notes["setup_samples_s"] = [round(t, 4) for t in times]
        return out

    def instrument(self, engine) -> None:
        """Traced run only: spans around the layers' public calls."""
        tr = self.tracer
        table = engine.table

        def on_merge(attrs, info):
            attrs["table"] = table.path
            attrs["buckets_rewritten"] = info.buckets_rewritten
            attrs["snapshot_id"] = info.snapshot_id
            attrs["applied_range"] = info.applied_range

        tr.wrap(engine, "apply_batch", "engine.apply_batch", jobs=True)
        tr.wrap(table, "merge_cdc", "lakehouse.merge_cdc", on_result=on_merge)
        tr.wrap(table, "compact", "lakehouse.compact")
        tr.wrap(table, "read", "lakehouse.read")
        tr.wrap(table, "delta_file_counts", "lakehouse.delta_file_counts")
        tr.wrap(table, "applied_ranges", "lakehouse.applied_ranges")

    def lookup_key(self, n_convs: int) -> str:
        rank = int(self.rng.zipf(ZIPF_A))
        return f"conv-{(rank - 1) % n_convs:06d}"

    def lookup(self, table, key: str):
        with self.tracer.span("lookup") as attrs:
            df = table.read(key_equals={"conv_id": key})
            if self.tracer.enabled:
                attrs["files_opened"] = len(df.inputFiles())
            return df.collect()

    def timed_lookup(self, table, n_convs: int, lsn_end: int, lat: list, records: list) -> None:
        """One Zipf point lookup, timed; a failed lookup is a missing
        sample. ``records`` keeps (key, lsn_end, rows) for the oracle."""
        key = self.lookup_key(n_convs)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            rows = self.lookup(table, key)
        except Exception as e:  # noqa: BLE001 - a failed lookup is a measured outcome
            self.failed += 1
            self.problems.append(f"lookup {key}: {e!r}"[:300])
            rows = None
        lat.append(time.perf_counter() - t0 if rows is not None else MISSING)
        records.append((key, lsn_end, rows))

    def scan(self, table) -> float:
        t0 = time.perf_counter()
        with self.tracer.span("scan"):
            table.read().count()
        return time.perf_counter() - t0

    @staticmethod
    def expected(log: pd.DataFrame, transform, lsn_end=None) -> pd.DataFrame:
        """The oracle's table image after applying lsns below ``lsn_end``."""
        from neosync_spark.synth import expected_final_state

        src = log if lsn_end is None else log[log["lsn"] < lsn_end]
        return normalize(expected_final_state(src, transform=transform))

    def check_table(self, table, want: pd.DataFrame, what="table") -> int:
        """Compare the table with the oracle; returns its live row count."""
        self.attempted += 1
        got = table.read().toPandas()
        bad = frames_match(got, want)
        if bad is not None:
            self.failed += 1
            self.problems.append(f"{what}: {bad}")
        return len(got)

    def check_lookups(self, records, log: pd.DataFrame, transform) -> None:
        """Each lookup must return exactly the LWW state of its
        conversation at the lsn prefix applied when it ran."""
        from neosync_spark.synth import expected_final_state

        by_conv = {k: g for k, g in log.groupby("conv_id", sort=False)}
        empty = log.iloc[0:0]
        for key, lsn_end, rows in records:
            if rows is None:
                continue  # failed lookup: already counted
            g = by_conv.get(key, empty)
            want = expected_final_state(g[g["lsn"] < lsn_end], transform=transform)
            got = pd.DataFrame([r.asDict() for r in rows], columns=STORE_COLS)
            bad = frames_match(got, want)
            if bad is not None:
                self.failed += 1
                self.problems.append(f"lookup {key}@{lsn_end}: {bad}")

    def ledger_prefix(self, ledger) -> int:
        """The applied lsn prefix; a gap or overlap fails the run."""
        try:
            return stats.applied_prefix(ledger)
        except ValueError as e:
            self.attempted += 1
            self.failed += 1
            self.problems.append(f"ledger: {e}")
            return max(int(r[1]) for r in ledger)

    @staticmethod
    def stored_bytes_per_row(table, live_rows: int) -> float:
        m = table.manifest(refresh=True)
        size = sum(
            os.path.getsize(e["path"]) for es in m["files"].values() for e in es
        )
        return size / max(1, live_rows)

    def set_latency(self, samples: list[float]) -> None:
        self.e2e["latency_p50_s"] = stats.percentile(samples, 50)
        self.notes["latency_highest_percentile"] = stats.highest_percentile(samples)

    # ---------- traced-run reductions ----------

    def commit_io(self, tables, bytes_per_lsn: float) -> None:
        """Per-commit files, bytes and manifest size from the manifests
        of the commits the traced run saw."""
        by_path = {t.path: t for t in tables}
        files, written, amp, mbytes = [], [], [], []
        for s in self.tracer.measured():
            if s["name"] != "lakehouse.merge_cdc" or "snapshot_id" not in s["attrs"]:
                continue
            sid = s["attrs"]["snapshot_id"]
            table = by_path[s["attrs"]["table"]]
            with self.tracer.span("lakehouse.manifest"):
                m = table.manifest(sid)
                parent = table.manifest(m["parent"]) if m.get("parent") is not None else {"files": {}}
            old = {e["path"] for es in parent["files"].values() for e in es}
            new = [e["path"] for es in m["files"].values() for e in es if e["path"] not in old]
            nbytes = sum(os.path.getsize(p) for p in new)
            files.append(len(new))
            written.append(nbytes)
            rng = s["attrs"].get("applied_range")
            if rng:
                amp.append(nbytes / max(1.0, (rng[1] - rng[0]) * bytes_per_lsn))
            mbytes.append(
                os.path.getsize(os.path.join(table.path, "metadata", f"snap-{sid}.json"))
            )
        L = self.layer
        if files:
            L["lakehouse.files_per_commit"] = stats.median(files)
            L["lakehouse.commit_bytes_written"] = stats.median(written)
            L["lakehouse.manifest_bytes"] = stats.median(mbytes)
        if amp:
            L["lakehouse.write_amp"] = stats.median(amp)

    def reduce_spans(self, table, first_sid: int) -> None:
        tr, L = self.tracer, self.layer
        with tr.span("lakehouse.files"):
            table.files().count()

        def med(name):
            d = tr.durations(name)
            return stats.median(d) if d else 0.0

        if "lakehouse.compactions" in L:
            with tr.span("lakehouse.history"):
                ops = [
                    h["summary"].get("operation")
                    for h in table.history()
                    if h["snapshot_id"] >= first_sid
                ]
            L["lakehouse.compactions"] = float(sum(1 for o in ops if o == "compact"))
            L["lakehouse.compact_s"] = med("lakehouse.compact")
            dc = tr.counts.get("delta_files", [])
            L["lakehouse.delta_files"] = stats.median(dc) if dc else 0.0
        L["lakehouse.merge_cdc_s"] = med("lakehouse.merge_cdc")
        # reads the benchmark made (merges also call read() internally)
        ours = {s["id"] for s in tr.spans if s["name"] in ("lookup", "scan")}
        reads = [
            s["end"] - s["start"]
            for s in tr.spans
            if s["name"] == "lakehouse.read" and s["parent"] in ours
        ]
        L["lakehouse.read_s"] = stats.median(reads) if reads else 0.0
        L["engine.apply_batch_s"] = med("engine.apply_batch")
        br = tr.attr_values("lakehouse.merge_cdc", "buckets_rewritten")
        L["lakehouse.buckets_rewritten"] = stats.median(br) if br else 0.0
        fo = tr.attr_values("lookup", "files_opened")
        L["lakehouse.lookup_files_opened"] = stats.median(fo) if fo else 0.0
        # apply_batch minus its lakehouse children
        selfs = tr.self_durations("engine.apply_batch")
        L["engine.self_s"] = stats.median(selfs) if selfs else 0.0
        jobs = tr.attr_values("engine.apply_batch", "spark_jobs")
        tasks = tr.attr_values("engine.apply_batch", "spark_tasks")
        L["spark.jobs_per_commit"] = stats.median(jobs) if jobs else 0.0
        L["spark.tasks_per_commit"] = stats.median(tasks) if tasks else 0.0
        L["spark.failed_tasks"] = float(sum(tr.attr_values("engine.apply_batch", "spark_failed")))

    def layer_probes(self, log_path: str, log: pd.DataFrame) -> None:
        """Isolated per-layer rates on the workload's own log."""
        from neosync_spark.operators.dedup import lww_dedup
        from neosync_spark.plans.job import resolve_transformer
        from neosync_spark.schema import KEY_COLS
        from neosync_spark.sources.changelog import ChangeLogSource

        tr, L = self.tracer, self.layer
        src = ChangeLogSource(self.spark, log_path)
        lo, hi = int(log["lsn"].min()), int(log["lsn"].max()) + 1

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        scan_t, lww_t = [], []
        for _ in range(3):
            with tr.span("sources.slice"):
                t0 = time.perf_counter()
                noop(src.slice(lo, hi))
                scan_t.append(time.perf_counter() - t0)
            with tr.span("dedup.lww_dedup"):
                t0 = time.perf_counter()
                noop(lww_dedup(src.slice(lo, hi), KEY_COLS, ["ts", "lsn"]))
                lww_t.append(time.perf_counter() - t0)
        n_in = len(log)
        n_out = lww_dedup(src.slice(lo, hi), KEY_COLS, ["ts", "lsn"]).count()
        L["sources.slice_rows_per_s"] = n_in / stats.median(scan_t)
        L["dedup.lww_s"] = max(0.0, stats.median(lww_t) - stats.median(scan_t))
        L["dedup.collapse_ratio"] = n_out / n_in

        maps = {m.column: resolve_transformer(m, 42) for m in mappings()}
        keys = log["conv_id"].astype(str) + "|" + log["turn_idx"].astype(str)
        for col, metric in (
            ("text", "transformers.pii_text_rows_per_s"),
            ("tool", "transformers.scramble_rows_per_s"),
        ):
            vals = log[col].dropna().head(self.size.probe_rows)
            k = keys.loc[vals.index]
            ts = []
            for _ in range(3):
                with tr.span(f"transformers.{col}"):
                    t0 = time.perf_counter()
                    maps[col](vals.reset_index(drop=True), k.reset_index(drop=True))
                    ts.append(time.perf_counter() - t0)
            L[metric] = len(vals) / stats.median(ts) if len(vals) else 0.0

    def finish_trace(self, tables, first_sid, log_path, log, bytes_per_lsn) -> None:
        """Traced run only: reduce spans and manifests to the per-layer
        metrics; ``first_sid`` is the first snapshot the run committed."""
        if not self.tracer.enabled:
            return
        self.commit_io(tables, bytes_per_lsn)
        self.reduce_spans(tables[-1], first_sid)
        self.layer_probes(log_path, log)
        self.layer["trace.events_per_s"] = self.e2e["events_per_s"]
        self.layer["trace.latency_p50_s"] = self.e2e["latency_p50_s"]


class Backfill(Bench):
    """Closed loop, one client: bulk catch-up replays of one seeded log,
    each into a fresh empty table in ONE commit, each followed by one
    full scan and a few point lookups on the table it produced."""

    name = "backfill"

    def run(self) -> None:
        from neosync_spark.plans.job import compile_job

        sz = self.size
        cfg = self.synth_cfg(sz.backfill_events)

        def build(root):
            os.makedirs(root)
            log_path = os.path.join(root, "log")
            self.write_log(cfg, log_path)
            return {"root": root, "log": log_path}

        self.warm_up()
        self.mark("warm_up")
        st = self.timed_setup(build)
        log = self.read_log(st["log"])
        bytes_per_lsn = self.dir_bytes(st["log"]) / cfg.n_events
        n_events = len(log)

        rates, commits, scans, lat, lookups, tables = [], [], [], [], [], []
        t_end = time.monotonic() + self.seconds
        last = 0.0
        while not tables or time.monotonic() + last <= t_end:
            c0 = time.monotonic()
            dst = self.path(f"table{len(tables)}")
            engine, source = compile_job(
                self.spark, self.job(st["log"], dst, batch_lsn_size=cfg.n_events)
            )
            self.instrument(engine)
            t0 = time.perf_counter()
            with self.tracer.span("engine.replay"):
                rstats = engine.replay(source)
            dt = time.perf_counter() - t0
            self.attempted += 1
            if rstats.batches_applied != 1:
                self.failed += 1
                self.problems.append(f"backfill made {rstats.batches_applied} commits")
            commits.append(dt)
            rates.append(n_events / dt)
            tables.append(engine.table)
            scans += [self.scan(engine.table) for _ in range(2)]
            for _ in range(sz.backfill_lookups):
                self.timed_lookup(engine.table, cfg.n_convs, cfg.n_events, lat, lookups)
            last = time.monotonic() - c0
        # a slow host fits fewer cycles: top the sample up on the last table
        while len(lat) < sz.min_lookups:
            self.timed_lookup(tables[-1], cfg.n_convs, cfg.n_events, lat, lookups)
        self.mark("window")

        self.e2e["events_per_s"] = stats.median(rates)
        self.e2e["commit_s"] = stats.median(commits)
        self.e2e["scan_s"] = stats.median(scans)
        self.set_latency(lat)
        self.notes["commits"] = len(commits)
        self.notes["events_per_commit"] = n_events

        transform = engine.pandas_transform
        want = self.expected(log, transform)
        for i, t in enumerate(tables):
            rows = self.check_table(t, want, what=f"table{i}")
        self.e2e["stored_bytes_per_row"] = self.stored_bytes_per_row(tables[-1], rows)
        self.check_lookups(lookups, log, transform)
        self.finish_trace(tables, 1, st["log"], log, bytes_per_lsn)


def write_segment(pdf: pd.DataFrame, path: str) -> None:
    """One WAL segment in the change-event parquet layout the tail reads
    (timestamps as UTC-adjusted micros, like Spark writes them)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("lsn", pa.int64()),
            ("op", pa.string()),
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    df = pdf.copy()
    ts = pd.to_datetime(df["ts"])
    df["ts"] = ts.dt.tz_convert("UTC") if ts.dt.tz is not None else ts.dt.tz_localize("UTC")
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)


class _Preloaded(Bench):
    """Shared set-up of the two open-loop workloads: a seeded log whose
    first ``preload_events`` lsns are replayed into a base table by the
    same job as a backfill (one copy-on-write commit, so the base holds
    no delta files); the rest arrives during the run."""

    def extra_events(self) -> int:
        raise NotImplementedError

    def load_base(self, log: str, table: str, root: str) -> None:
        """Replay the preload log into ``table`` with ``run_job``."""
        from neosync_spark.plans.job import run_job

        run_job(self.spark, self.job(log, table, batch_lsn_size=self.size.preload_events))

    def prepare(self):
        from neosync_spark.synth import generate_pandas

        sz = self.size
        P = sz.preload_events
        cfg = self.synth_cfg(P + self.extra_events(), convs_from=P)
        # inputs, not set-up: untimed, and written without Spark
        full, pre = self.path("log_full"), self.path("log_preload")
        log = generate_pandas(cfg)
        for path, rows in ((full, log), (pre, log[log["lsn"] < P])):
            os.makedirs(path)
            write_segment(rows, os.path.join(path, "part-0.parquet"))

        def build(root):
            table = os.path.join(root, "table")
            self.load_base(pre, table, root)
            return {"root": root, "table": table}

        st = self.timed_setup(build)
        bytes_per_lsn = self.dir_bytes(full) / cfg.n_events
        return cfg, full, log, st, bytes_per_lsn


class Tail(_Preloaded):
    """Open loop: a generator thread lands lsn-contiguous WAL segments on
    a fixed schedule while the product tail drains them with
    ``StreamingReplay(...).start(follow=True)``."""

    name = "tail"

    def n_lead_in(self) -> int:
        return int(self.size.lead_in_s * self.size.seg_per_s)

    def n_segments(self) -> int:
        sz = self.size
        timed = max(1, int((self.seconds - sz.drain_grace_s) * sz.seg_per_s))
        return self.n_lead_in() + timed

    def extra_events(self) -> int:
        return self.n_segments() * self.size.seg_events

    def load_base(self, log: str, table: str, root: str) -> None:
        """The preload drains through the same product tail, as one
        epoch of a ``follow=False`` query, so the set-up also warms the
        streaming path the timed epochs run on."""
        from neosync_spark.plans.job import compile_job
        from neosync_spark.streaming.stream import StreamingReplay

        engine, _ = compile_job(self.spark, self.job(log, table))
        q = StreamingReplay(engine).start(
            log, os.path.join(root, "checkpoint"),
            max_files_per_trigger=self.size.max_files_per_trigger,
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"preload failed: {q.exception()}")

    def run(self) -> None:
        from neosync_spark.plans.job import compile_job
        from neosync_spark.streaming.stream import StreamingReplay

        sz = self.size
        cfg, full, log, st, bytes_per_lsn = self.prepare()
        P = sz.preload_events

        # pre-materialize every segment so landing one is a rename
        staging, wal = self.path("staging"), self.path("wal")
        os.makedirs(staging)
        os.makedirs(wal)
        plan = []
        for i in range(self.n_segments()):
            lo, hi = P + i * sz.seg_events, P + (i + 1) * sz.seg_events
            name = f"seg-{i:06d}.parquet"
            write_segment(log[(log["lsn"] >= lo) & (log["lsn"] < hi)], os.path.join(staging, name))
            plan.append((lo, hi, name))

        engine, _ = compile_job(self.spark, self.job(wal, st["table"]))
        self.instrument(engine)
        table = engine.table
        first_sid = table.manifest()["snapshot_id"] + 1
        self.notes["processing_interval"] = sz.processing_interval
        self.notes["max_files_per_trigger"] = sz.max_files_per_trigger
        self.notes["offered_segments_per_s"] = sz.seg_per_s
        self.notes["events_per_segment"] = sz.seg_events

        q = StreamingReplay(engine).start(
            wal,
            self.path("checkpoint"),
            max_files_per_trigger=sz.max_files_per_trigger,
            follow=True,
            processing_interval=sz.processing_interval,
        )
        segments: list[Segment] = []
        stop = threading.Event()
        t0 = time.time() + 0.5
        n_lead = self.n_lead_in()
        # segments due before `start` are the untimed lead-in
        start = t0 + n_lead / sz.seg_per_s
        self.tracer.since = start

        def generator():
            for i, (lo, hi, name) in enumerate(plan):
                due = t0 + i / sz.seg_per_s
                if stop.wait(max(0.0, due - time.time())):
                    return
                src = os.path.join(staging, name)
                os.utime(src, (due, due))  # file-source order = lsn order
                os.rename(src, os.path.join(wal, name))
                segments.append(Segment(lo, hi, due, time.time()))

        gen = threading.Thread(target=generator, name="wal-generator")
        gen.start()
        try:
            while time.time() < start + self.seconds and q.isActive:
                time.sleep(0.1)
            # stop between epochs: an epoch still running now is pending
            # work, and cancelling it mid-write only adds noise (a
            # backlog keeps triggers back to back, hence the cap)
            cap = time.time() + 20
            while q.isActive and q.status["isTriggerActive"] and time.time() < cap:
                time.sleep(0.05)
        finally:
            stop.set()
            gen.join()
            progress = list(q.recentProgress)
            exc = q.exception()
            q.stop()
        self.mark("window")
        if exc is not None:
            self.failed += 1
            self.problems.append(f"tail query failed: {exc}"[:300])

        ledger = table.applied_ranges()
        committed = {
            int(r["snapshot_id"]): r["committed_at"]
            for r in table.snapshots().collect()
            if r["committed_at"] is not None
        }
        timed = plan[n_lead:]
        landed = segments[n_lead:]
        fresh = stats.freshness(landed, ledger, committed)
        self.attempted += len(timed)
        missing = len(timed) - len(landed) + sum(1 for f in fresh if f == MISSING)
        fresh += [MISSING] * (len(timed) - len(landed))
        self.notes["lead_in_segments"] = n_lead
        self.notes["segments_pending_at_end"] = missing
        self.set_latency(fresh)
        late = stats.lateness(segments)
        self.notes["generator_lateness_max_s"] = round(max(late), 4) if late else None

        # epochs whose trigger started inside the timed window
        epochs = [
            p for p in progress
            if p["numInputRows"] > 0 and stats.epoch_start(p) >= start
        ]
        trig = [p["durationMs"].get("triggerExecution", 0) / 1000 for p in epochs]
        addb = [p["durationMs"].get("addBatch", 0) / 1000 for p in epochs]
        self.notes["epochs"] = len(epochs)
        self.notes["trigger_samples_s"] = [round(t, 3) for t in trig]
        self.notes["rows_per_epoch"] = [p["numInputRows"] for p in epochs]
        self.e2e["commit_s"] = stats.median(trig) if trig else MISSING
        prefix = self.ledger_prefix(ledger)
        first = timed[0][0]
        applied = int(((log["lsn"] >= first) & (log["lsn"] < prefix)).sum())
        self.e2e["events_per_s"] = applied / self.seconds
        self.scan(table)  # the first scan of a new plan shape runs cold
        scans = [self.scan(table) for _ in range(5)]
        self.notes["scan_samples_s"] = [round(x, 4) for x in scans]
        self.e2e["scan_s"] = stats.median(scans)
        rows = self.check_table(table, self.expected(log, engine.pandas_transform, prefix))
        self.e2e["stored_bytes_per_row"] = self.stored_bytes_per_row(table, rows)

        L = self.layer
        if trig:
            L["streaming.trigger_s"] = stats.median(trig)
            L["streaming.add_batch_s"] = stats.median(addb)
            L["streaming.overhead_s"] = stats.median([t - a for t, a in zip(trig, addb)])
            L["streaming.rows_per_epoch"] = stats.median([p["numInputRows"] for p in epochs])
        if late:
            L["tail.generator_lateness_s"] = stats.median(late)
        self.finish_trace([table], first_sid, full, log, bytes_per_lsn)


class MorReads(_Preloaded):
    """One driver thread interleaving an open-loop merge-on-read writer
    (``ReplayEngine.apply_batch`` every ``mor_period_s``, timed from its
    due time) with a closed-loop reader filling the gaps: Zipf point
    lookups (at least ``min_gap_lookups`` per gap), and a full scan
    after every ``scan_every``-th write."""

    name = "mor_reads"
    layer_units = {**LAYER_UNITS, **MOR_LAYER_UNITS}

    def n_writes(self) -> int:
        return int(math.ceil(self.seconds / self.size.mor_period_s))

    def extra_events(self) -> int:
        return self.n_writes() * self.size.mor_batch_events

    def run(self) -> None:
        from neosync_spark.plans.job import compile_job

        sz = self.size
        cfg, full, log, st, bytes_per_lsn = self.prepare()
        P, B = sz.preload_events, sz.mor_batch_events
        engine, source = compile_job(self.spark, self.job(full, st["table"], merge_mode="mor"))
        self.instrument(engine)
        table = engine.table
        first_sid = table.manifest()["snapshot_id"] + 1

        commit_lat, late, lat, scans, lookups = [], [], [], [], []
        prefix = P
        k = 0  # writes done; the read gap after write k is gap k
        gap_lookups = sz.min_gap_lookups
        n_writes = self.n_writes()
        t0 = time.time()
        t_end = t0 + self.seconds
        while True:
            now = time.time()
            due = t0 + k * sz.mor_period_s
            # a write waits for its gap's minimum reads; its latency is
            # still timed from when it was due
            if k < n_writes and due <= now and gap_lookups >= sz.min_gap_lookups:
                lo, hi = P + k * B, P + (k + 1) * B
                late.append(now - due)
                self.attempted += 1
                try:
                    engine.apply_batch(source.slice(lo, hi), (lo, hi))
                    prefix = hi
                    commit_lat.append(time.time() - due)
                except Exception as e:  # noqa: BLE001 - a failed commit is a measured outcome
                    self.failed += 1
                    self.problems.append(f"commit {lo}-{hi}: {e!r}"[:300])
                    commit_lat.append(MISSING)
                    break  # later ranges would leave a ledger gap
                if self.tracer.enabled:
                    self.tracer.count("delta_files", sum(table.delta_file_counts().values()))
                k += 1
                gap_lookups = 0
                if k % sz.scan_every == 0:
                    scans.append(self.scan(table))
                continue
            if now >= t_end:
                break
            self.timed_lookup(table, cfg.n_convs, prefix, lat, lookups)
            gap_lookups += 1

        # a slow host runs fewer gaps: top the sample up on the final table
        while len(lat) < sz.min_lookups:
            self.timed_lookup(table, cfg.n_convs, prefix, lat, lookups)
        self.mark("window")
        due_unrun = sum(1 for j in range(k, n_writes) if t0 + j * sz.mor_period_s < t_end)
        commit_lat += [MISSING] * due_unrun
        self.attempted += due_unrun
        self.notes["commits"] = len(commit_lat)
        self.notes["commit_samples_s"] = [round(c, 4) for c in commit_lat]
        self.notes["lookups"] = len(lat)
        self.notes["commit_highest_percentile"] = stats.highest_percentile(commit_lat)
        self.notes["scans"] = len(scans)
        self.notes["scan_samples_s"] = [round(x, 4) for x in scans]
        self.e2e["commit_s"] = stats.median(commit_lat)
        self.e2e["events_per_s"] = int(
            ((log["lsn"] >= P) & (log["lsn"] < prefix)).sum()
        ) / self.seconds
        self.e2e["scan_s"] = stats.median(scans) if scans else self.scan(table)
        self.set_latency(lat)
        self.ledger_prefix(table.applied_ranges())  # contiguity check
        rows = self.check_table(table, self.expected(log, engine.pandas_transform, prefix))
        self.e2e["stored_bytes_per_row"] = self.stored_bytes_per_row(table, rows)
        self.check_lookups(lookups, log, engine.pandas_transform)
        if late:
            self.layer["tail.generator_lateness_s"] = stats.median(late)
        self.finish_trace([table], first_sid, full, log, bytes_per_lsn)


WORKLOADS = {w.name: w for w in (Backfill, Tail, MorReads)}

