#!/usr/bin/env python3
"""graft benchmark: one seeded closed-loop workload per invocation.

    python3 perfbench/run.py --workload dedup_curation --seed 1 --seconds 30 --trace 0

Run from the repository root. Builds the program from source on first
use (perfbench/build.py), generates the inputs from --seed into a fresh
run directory under .bench_runs/, drives one Spark session through the
workload (perfbench/harness), checks every entry's result against its
DuckDB oracle, and prints one JSON line as the last line of stdout:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/README.md for the workloads and every metric.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

CORES = 4
RUN_BUDGET_S = 170  # the whole invocation, build excluded

DEDUP_SF = 0.015
LAKE_SF = 0.02

WORKLOADS = {
    "dedup_curation": {
        "tables": {"documents": DEDUP_SF, "embeddings": DEDUP_SF},
        "ops": ["d2_minhash_lsh", "d20_dedup_clusters", "d54_knn_graph",
                "d22_unigram_logprob"],
        "heap": "3g",
        # seconds of a warm pass on 4 cores; a run measures the whole
        # passes that come nearest --seconds
        "pass_s": 5,
    },
    "lake_ingest": {
        "tables": {"customer": LAKE_SF},
        # s1 first: every cycle's freshness is measured on it
        "ops": ["s1_stream_window", "s7_stream_foreach_batch", "a7_writers"],
        "heap": "2g",
        "pass_s": 4,
        # the events table: `window` live slices of the pool, each landed
        # as `files` parquet files; one slice lands and one expires per cycle
        "window": 8, "slices": 32, "files": 6,
    },
}

# metric name -> unit; BENCHMARK.json lists the same names and units
END_TO_END = {
    "latency_p50_ms": "ms", "latency_tail_ms": "ms", "ops_per_s": "1/s",
    "rows_per_s": "rows/s", "live_heap_peak_mb": "MB", "setup_s": "s",
}
KERNELS = ["jaccard_sim_sorted_bail", "minhash_sig", "minhash_bands", "simhash64",
           "cosine_sim", "topk_by", "first_shared_lane16", "hyperplane_packed16"]
PER_LAYER = {
    "session.start_ms": "ms", "session.inputgen_ms": "ms", "session.warmup_ms": "ms",
    "tables.load_ms": "ms", "tables.scans": "count",
    "queries.build_ms": "ms", "queries.build_self_ms": "ms", "queries.build_jobs": "count",
    "queries.cached_mb": "MB", "queries.persisted_frames": "count",
    "queries.live_heap_mb": "MB",
    "spark_plan.analysis_ms": "ms", "spark_plan.optimization_ms": "ms",
    "spark_plan.planning_ms": "ms", "spark_plan.executions": "count",
    "spark_exec.jobs": "count", "spark_exec.stages": "count", "spark_exec.tasks": "count",
    "spark_exec.job_wall_ms": "ms", "spark_exec.driver_gap_ms": "ms",
    "spark_exec.scheduler_delay_ms": "ms", "spark_exec.task_run_ms": "ms",
    "spark_exec.task_cpu_ms": "ms", "spark_exec.core_busy_frac": "ratio",
    "spark_exec.stage_skew": "ratio", "spark_exec.gc_ms": "ms", "spark_exec.input_mb": "MB",
    "spark_exec.shuffle_write_mb": "MB", "spark_exec.shuffle_read_mb": "MB",
    "spark_exec.spill_mb": "MB", "spark_exec.task_retries": "count",
    **{f"expressions.{k}_ns_per_row": "ns/row" for k in KERNELS},
    "sources.write_ms": "ms", "sources.write_mb": "MB", "sources.list_ms": "ms",
    "sources.listed_files": "count", "sources.remove_ms": "ms", "sources.read_ms": "ms",
    "streaming.stage_ms": "ms", "streaming.staging_paid": "count",
    "streaming.batches": "count", "streaming.batch_p50_ms": "ms",
    "streaming.commit_ms": "ms", "streaming.state_rows": "count", "streaming.state_mb": "MB",
    "fs.read_mb": "MB", "fs.write_mb": "MB",
    "ingest.freshness_p50_ms": "ms", "ingest.write_amp": "ratio",
    "harness.failed_frac": "ratio", "harness.timeouts": "count", "harness.errors": "count",
    "harness.mismatches": "count",
    "trace.untraced_p50_ms": "ms", "trace.traced_p50_ms": "ms", "trace.overhead_ms": "ms",
    "trace.overhead_frac": "ratio",
}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def fresh_run_dir(workload, seed, trace):
    base = os.path.join(ROOT, ".bench_runs")
    run = os.path.join(base, f"{workload}-s{seed}-t{trace}-{os.getpid()}-{time.time_ns()}")
    if os.path.exists(run) and os.listdir(run):
        fail(f"run directory {run} is not empty; refusing to start")
    os.makedirs(run, exist_ok=True)
    for d in ("data", "scratch", "local", "warehouse", "tmp", "results", "out", "check"):
        os.makedirs(os.path.join(run, d))
    return run


def make_inputs(cfg, run, seed):
    """Generates the workload's tables; returns {table: rows} and the
    content fingerprint the oracle cache is keyed by."""
    data = os.path.join(run, "data")
    rows = gen.generate(data, cfg["tables"], seed)
    spec = dict(cfg["tables"])
    if "window" in cfg:
        import pyarrow.parquet as pq
        pool = os.path.join(run, "pool")
        os.makedirs(pool)
        slices = gen.events_slices(LAKE_SF, seed, cfg["slices"])
        for i, t in enumerate(slices):
            gen.write_table(t, os.path.join(pool, f"slice_{i:05d}.parquet"))
        # the initial live window, laid out as the ingest cycle lands it
        for i in range(cfg["window"]):
            d = os.path.join(data, "events.parquet", f"slice={i}")
            os.makedirs(d)
            t = slices[i]
            step = -(-t.num_rows // cfg["files"])
            for j in range(cfg["files"]):
                pq.write_table(t.slice(j * step, step), os.path.join(d, f"part-{j:05d}.parquet"))
        rows["events"] = sum(slices[i].num_rows for i in range(cfg["window"]))
        rows["_slice"] = slices[0].num_rows
        spec["events"] = ("lake", LAKE_SF)
    return rows, gen.content_fingerprint(spec)


def jvm_command(classes, cfg, run, args):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    jars = build.spark_jars()
    kv = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "cores": CORES, "timeout": 40,
        "data": os.path.join(run, "data"), "results": os.path.join(run, "results"),
        "out": os.path.join(run, "out"), "local": os.path.join(run, "local"),
        "warehouse": os.path.join(run, "warehouse"), "scratch": os.path.join(run, "scratch"),
        "ops": ",".join(cfg["ops"]),
        # a traced pass runs every entry twice, so a traced run measures
        # half as many passes, but at least two cycles for the freshness median
        "passes": (max(2, round(args.seconds / cfg["pass_s"] / 2)) if args.trace
                   else max(1, round(args.seconds / cfg["pass_s"]))),
    }
    if "window" in cfg:
        kv.update({"lake": os.path.join(run, "data"), "pool": os.path.join(run, "pool"),
                   "window": cfg["window"], "slices": cfg["slices"], "files": cfg["files"],
                   "snapshot": os.path.join(run, "check")})
    # ParallelGC on a fixed heap: with 4 cores, G1's concurrent threads
    # compete with the 4 task threads; passes ran 30-50% slower and far
    # less steadily under G1
    return (["java", "-XX:-UsePerfData", "-XX:+UseParallelGC", f"-Xms{cfg['heap']}",
             f"-Xmx{cfg['heap']}", *opens,
             f"-Djava.io.tmpdir={os.path.join(run, 'tmp')}",
             f"-Dderby.system.home={os.path.join(run, 'tmp')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", f"{classes}:{jars}", "graftbench.Harness"]
            + [f"{k}={v}" for k, v in kv.items()])


def read_records(out):
    ops, fresh = [], []
    with open(os.path.join(out, "ops.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            (fresh if "freshness_ms" in r else ops).append(r)
    with open(os.path.join(out, "summary.json")) as f:
        summary = json.load(f)
    return ops, fresh, summary


def run_checks(cfg, run, fingerprint):
    """Oracle-checks every entry result the run kept. Returns
    ({entry: reason} for failures, number of results checked)."""
    import oracle
    with open(os.path.join(run, "out", "oracle_sql.json")) as f:
        oracles = json.load(f)
    data = os.path.join(run, "data")
    tables = {t: os.path.join(data, f"{t}.parquet") for t in cfg["tables"]}
    failed, checked = {}, 0
    phases = {"warmup": list(oracles)}
    if "window" in cfg:  # consumers again, on the table the measured cycles left
        phases["final"] = [n for n in oracles if n.startswith("s")]
    for phase, names in phases.items():
        rdir = os.path.join(run, "results", phase)
        results = {n: os.path.join(rdir, n) for n in names}
        paths = dict(tables)
        cache = None
        if "window" in cfg:
            paths["events"] = os.path.join(run, "check" if phase == "warmup" else "data",
                                           "events.parquet")
        else:
            cache = os.path.join(ROOT, ".bench_cache", "oracle")
        res = oracle.check(results, oracles, paths, os.path.join(run, "tmp"),
                           cache_dir=cache, fingerprint=fingerprint)
        checked += len(res)
        for n, why in res.items():
            if why is not None:
                failed.setdefault(n, f"{phase}: {why}")
    return failed, checked


def main():
    # a termination signal unwinds through the finally blocks, which stop
    # the harness JVM and remove the run's bulky directories
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    cfg = WORKLOADS[args.workload]

    classes = build.build()
    t_begin = time.time()
    run = fresh_run_dir(args.workload, args.seed, args.trace)
    try:
        result = measure(args, cfg, classes, run, t_begin)
    finally:
        for d in ("data", "pool", "scratch", "local", "warehouse", "tmp", "results", "check"):
            shutil.rmtree(os.path.join(run, d), ignore_errors=True)
    print(json.dumps(result))


def measure(args, cfg, classes, run, t_begin):
    g0 = time.perf_counter()
    rows, fingerprint = make_inputs(cfg, run, args.seed)
    inputgen_s = time.perf_counter() - g0

    env = dict(os.environ)
    env.update({"GRAFT_SCRATCH_DIR": os.path.join(run, "scratch"),
                "SPARK_LOCAL_DIRS": os.path.join(run, "local"),
                "SPARK_GRAFT_CPUS": str(CORES)})
    cmd = jvm_command(classes, cfg, run, args)
    spawn_ms = time.time() * 1000
    log = open(os.path.join(run, "out", "jvm.log"), "w")
    budget = RUN_BUDGET_S - (time.time() - t_begin)
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=run)
    try:
        code = proc.wait(timeout=max(10, budget - 15))
    except subprocess.TimeoutExpired:
        fail("harness exceeded the run budget")
    finally:
        if proc.poll() is None:  # timeout or a signal: never leave the JVM behind
            proc.kill()
            proc.wait()
        log.close()
    if code != 0:
        with open(os.path.join(run, "out", "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {code}")

    ops, fresh, summary = read_records(os.path.join(run, "out"))
    c0 = time.perf_counter()
    check_failed, checked = run_checks(cfg, run, fingerprint)
    print(f"[perfbench] oracle check of {checked} results: {time.perf_counter() - c0:.1f}s, "
          f"harness {time.time() - spawn_ms / 1000:.1f}s since spawn", file=sys.stderr)
    for n, why in sorted(check_failed.items()):
        print(f"[perfbench] check {n}: {why}", file=sys.stderr)

    measured = [r for r in ops if r["phase"] == "measure"]
    plain = [r for r in measured if not r["traced"]]
    traced = [r for r in measured if r["traced"]]
    attempted, failed, reasons = metrics.account(measured, set(check_failed))
    ok = [r for r in plain if r["status"] == "ok"]
    setup = {
        "inputgen_ms": inputgen_s * 1000,
        "start_ms": summary["session_ready_ms"] - spawn_ms,
        "warmup_ms": summary["warmup_end_ms"] - summary["warmup_start_ms"],
    }
    setup_s = inputgen_s + (summary["warmup_end_ms"] - spawn_ms) / 1000

    if args.trace == 0:
        # each op's median over the passes: a noisy stretch of the host
        # that hits one pass does not move it
        per_op = {}
        for r in ok:
            per_op.setdefault((r["kind"], r["name"]), []).append(r)
        op_ms = {k: metrics.median([r["wall_ms"] for r in rs]) for k, rs in per_op.items()}
        p, tail, n = metrics.tail_latency(
            {k: [r["wall_ms"] for r in rs] for k, rs in per_op.items()})
        values = {
            "latency_p50_ms": metrics.median(list(op_ms.values())),
            "latency_tail_ms": tail,
            "ops_per_s": len(plain) / len(summary["pass_s"]) / metrics.median(summary["pass_s"]),
            "rows_per_s": (sum(op_rows(rs[0], rows) for rs in per_op.values())
                           / (sum(op_ms.values()) / 1000)),
            "live_heap_peak_mb": summary["live_heap_mb"],
            "setup_s": setup_s,
        }
        units = END_TO_END
        print(f"[perfbench] {args.workload}: {len(plain)} ops in {len(summary['pass_s'])} passes "
              f"of {[round(x, 2) for x in summary['pass_s']]} s, live heap "
              f"{round(summary['live_heap_mb'])} MB, "
              f"tail=p{p} of n={n}, failed={reasons}, setup={setup}", file=sys.stderr)
    else:
        values = layer_metrics(summary, setup, traced, plain, fresh, reasons, attempted)
        units = PER_LAYER
    return {
        "correct": not check_failed and failed == 0 and checked > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def op_rows(rec, rows):
    """Input rows of the tables an op reads."""
    if rec["kind"] == "land":
        return rows["_slice"]
    return sum(rows.get(t, 0) for t in rec["tables"])


def layer_metrics(summary, setup, traced, plain, fresh, reasons, attempted):
    """Per-layer numbers of a traced run: per-op means over the traced
    entries, plus the run-level session, kernel, ingest and tracing
    figures. Sources, fs and ingest figures come from the untraced records,
    which form the same closed loop as an untraced run."""
    mean, median = metrics.mean, metrics.median
    values = {f"session.{k}": v for k, v in setup.items()}
    for k in PER_LAYER:
        with_k = [r["layers"][k] for r in traced if k in r.get("layers", {})]
        if with_k:
            values[k] = mean(with_k)
    for name in KERNELS:
        values[f"expressions.{name}_ns_per_row"] = summary["kernels"][name]

    def kind_mean(kind, field="wall_ms"):
        return mean([r[field] for r in plain if r["kind"] == kind])
    mb = 1024.0 * 1024.0
    landed = sum(r["amount"] for r in plain if r["kind"] == "land")
    values.update({
        "sources.write_ms": kind_mean("land"),
        "sources.write_mb": kind_mean("land", "amount") / mb,
        "sources.read_ms": kind_mean("land", "read_ms"),
        "sources.list_ms": kind_mean("list"),
        "sources.listed_files": kind_mean("list", "amount"),
        "sources.remove_ms": kind_mean("expire"),
        "fs.read_mb": mean([r["fs_read_b"] for r in plain]) / mb,
        "fs.write_mb": mean([r["fs_write_b"] for r in plain]) / mb,
        "ingest.freshness_p50_ms": median([f["freshness_ms"] for f in fresh]),
        "ingest.write_amp": (sum(r["fs_write_b"] for r in plain) / landed if landed else 0.0),
        "harness.failed_frac": sum(reasons.values()) / attempted if attempted else 0.0,
        "harness.timeouts": reasons["timeout"],
        "harness.errors": reasons["error"],
        "harness.mismatches": reasons["mismatch"],
    })
    # tracing overhead: the same entries run untraced and traced, paired
    base = median([r["wall_ms"] for r in plain if r["kind"] == "entry" and r["status"] == "ok"])
    with_trace = median([r["wall_ms"] for r in traced
                         if r["kind"] == "entry" and r["status"] == "ok"])
    values.update({
        "trace.untraced_p50_ms": base,
        "trace.traced_p50_ms": with_trace,
        "trace.overhead_ms": with_trace - base,
        "trace.overhead_frac": (with_trace - base) / base if base else 0.0,
    })
    return values


if __name__ == "__main__":
    main()
