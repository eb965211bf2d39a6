"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 30 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (plus a span file under perfbench/out/). The lines
before it print every metric by name with its unit, the workload-specific
aliases of the workload's headline metrics, and run notes.

``--workload all`` runs the three workloads one after another, each in
its own process, and prints all of their metrics.

Exit status: 0 when every output matched the oracle, 1 when a run failed
or an output mismatched, 2 when run outside a checkout of the repository.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
WORKLOAD_NAMES = ("backfill", "tail", "mor_reads")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOAD_NAMES, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full")
    return p.parse_args(argv)


def host_env(work: str) -> dict:
    """Fit Spark to this host and keep every file it writes under
    ``work``: local[nproc], a driver heap of a quarter of RAM (at most
    8 GiB), shuffle/spill and temp dirs inside the work directory. The
    JVM keeps its default heap sizing, as ``run_cdc.py`` users get it."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kib = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    heap_gib = max(1, min(8, mem_kib // 4 // 2**20))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "NEOSYNC_SPARK_DRIVER_MEM": f"{heap_gib}g",
        "NEOSYNC_SPARK_LOCAL_DIR": local,
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    time.tzset()
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {"nproc": nproc, "driver_mem": env["NEOSYNC_SPARK_DRIVER_MEM"]}


def heap_live_mb(spark) -> float:
    """The driver JVM's heap in use right after a full collection: what
    the run keeps live. Peak resident memory is not used as the bounded
    figure because it follows the collector's heap sizing, which varies
    from run to run with timing."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def fmt(v: float) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def report(name: str, bench, traced: bool, host: dict, out_dir: str, run_id: str,
           config: str) -> dict:
    from perfbench import stats
    from perfbench.workloads import E2E_UNITS, INFO_UNITS, ALIASES

    print(f"# workload={name} seed={bench.seed} seconds={bench.seconds:g} trace={int(traced)}")
    print(f"# host: local[{host['nproc']}] driver heap {host['driver_mem']}, "
          f"shuffle dir {host['shuffle_dir']}")
    units = {**E2E_UNITS, **INFO_UNITS}
    for k, u in units.items():
        print(f"{k} = {fmt(bench.e2e[k])} {u}")
    for k, alias in ALIASES.get(name, {}).items():
        if alias != k:
            print(f"{alias} = {fmt(bench.e2e[k])} {units[k]}")
    print(f"peak_rss_mb = {fmt(bench.layer['proc.peak_pss_mb'])} MB (peak PSS of the "
          "process tree; not bounded: it follows the JVM's heap sizing)")
    frac = bench.failed / max(1, bench.attempted)
    print(f"failed_frac = {frac:.6g} ({bench.failed}/{bench.attempted})")
    for k, v in bench.notes.items():
        if k.endswith("highest_percentile"):
            print(f"# {k.replace('_highest_percentile', '')}: highest percentile with "
                  f"10 samples beyond it: {v}")
    for p in bench.problems[:20]:
        print(f"# problem: {p}")
    print("# notes: " + json.dumps(bench.notes, default=str))
    print(f"# wall_s: {time.monotonic() - bench.started:.1f}")

    results = os.path.join(out_dir, "results.jsonl")
    if not traced:
        with open(results, "a") as f:
            f.write(json.dumps({"workload": name, "config": config, "run_id": run_id,
                                "e2e": bench.e2e}) + "\n")
        metrics = {k: {"value": bench.e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    else:
        for k, u in bench.layer_units.items():
            print(f"{k} = {fmt(bench.layer[k])} {u}")
        selfs = bench.tracer.self_times()
        for k in sorted(selfs):
            n = len(bench.tracer.durations(k))
            print(f"# self_time {k} = {selfs[k]:.4f} s over {n} spans")
        base = []
        if os.path.exists(results):
            with open(results) as f:
                base = [json.loads(l) for l in f if l.strip()]
        base = [b["e2e"] for b in base if (b["workload"], b["config"]) == (name, config)]
        for k in ("events_per_s", "latency_p50_s"):
            if base:
                ref = stats.median([b[k] for b in base])
                print(f"# tracing overhead on {k}: traced {bench.e2e[k]:.6g} vs "
                      f"untraced median {ref:.6g} over {len(base)} runs "
                      f"({(bench.e2e[k] - ref) / ref:+.1%})")
            else:
                print(f"# tracing overhead on {k}: no untraced runs recorded yet")
        spans = os.path.join(out_dir, f"spans-{run_id}.jsonl")
        bench.tracer.write(spans)
        print(f"# spans: {len(bench.tracer.spans)} written to {os.path.relpath(spans, ROOT)}")
        metrics = {k: {"value": bench.layer[k], "unit": u} for k, u in bench.layer_units.items()}
    return {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }


def run_one(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, "neosync_spark", "__init__.py")):
        print("perfbench: run from the root of a repository checkout "
              "(neosync_spark/ not found)", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}-{int(time.time())}"
    bench_dir = os.path.join(ROOT, "perfbench")
    work = os.path.join(bench_dir, ".work", run_id)
    out_dir = os.path.join(bench_dir, "out")
    os.makedirs(out_dir, exist_ok=True)
    spark = bench = None
    try:
        host = host_env(work)
        from neosync_spark.session import get_spark
        from perfbench.proc import PeakMemory, wait_children
        from perfbench.trace import Tracer
        from perfbench.workloads import SIZES, WORKLOADS

        with PeakMemory() as mem:
            spark = get_spark(
                "perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"}
            )
            host["shuffle_dir"] = spark.conf.get("spark.local.dir", "(spark default)")
            tracer = Tracer(run_id, enabled=bool(args.trace), spark=spark)
            bench = WORKLOADS[args.workload](
                spark, os.path.join(work, "data"), args.seed, args.seconds,
                SIZES[args.size], tracer,
            )
            bench.run()
            bench.e2e["heap_live_mb"] = heap_live_mb(spark)
        bench.layer["proc.peak_pss_mb"] = mem.peak_mb
        bench.notes["peak_pss_mb_by_process"] = mem.peak_parts_mb()
        # untraced runs of the same config are the tracing-overhead baseline
        config = f"{args.size}/{args.seconds:g}s"
        result = report(args.workload, bench, bool(args.trace), host, out_dir, run_id, config)
    except Exception:  # noqa: BLE001 - top-level boundary: report and fail the run
        traceback.print_exc()
        if bench is not None:
            print("# notes: " + json.dumps(bench.notes, default=str), file=sys.stderr)
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
            wait_children()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def run_all(args) -> int:
    """Each workload in its own process (fresh JVM), then one summary."""
    from perfbench.workloads import E2E_UNITS, ALIASES

    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    lines = []
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--size", args.size]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        out = proc.stdout.strip().splitlines()
        print("\n".join(out[:-1]))
        if proc.returncode != 0 or not out:
            combined["correct"] = False
            lines.append(f"{name}: failed (exit {proc.returncode})")
            continue
        res = json.loads(out[-1])
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for k, m in res["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = m
        for k, alias in ALIASES[name].items():
            if k in res["metrics"]:
                lines.append(f"{alias} = {fmt(res['metrics'][k]['value'])} {E2E_UNITS[k]}")
        for k in ("setup_s", "heap_live_mb"):
            if k in res["metrics"]:
                lines.append(f"{name}.{k} = {fmt(res['metrics'][k]['value'])} {E2E_UNITS[k]}")
        lines.append(f"{name}.failed_frac = {res['failed'] / max(1, res['attempted']):.6g}")
    print("# summary, by workload-specific metric names:")
    print("\n".join(lines))
    print(json.dumps(combined))
    return 0 if combined["correct"] else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
