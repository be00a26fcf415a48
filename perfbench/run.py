"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload er_link_dense --seed 1 --seconds 1 --trace 0

Run from the repository root.  The library is imported from the source
tree next to this directory (nothing is installed), and the Python
workers Spark spawns get the same path.  All inputs, Spark scratch space,
temporary stores and the run record live under ``perfbench/.work`` and
``perfbench/out``.

One process, one client: the workload's operation runs back to back on
``local[N]`` (N from ``SPARK_GRAFT_CPUS``, else the CPU count; driver
heap ``SPARK_DRIVER_MEMORY``, default 3g).  The run

1. starts the session and makes one tiny Arrow-UDF call, so a worker
   that cannot import the package fails set-up with a clear message;
2. generates the inputs from ``--seed`` and writes them to parquet,
   three times, reading each copy back through the page cache
   (``setup_s`` = session start + median copy);
3. runs one cold operation (``cold_s``), then at least three warm
   operations, more while ``--seconds`` have not passed.  Every
   operation gets fresh temporary
   roots and its output is checked; a failed check or an exception
   counts as a failure and its time is not used.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs one
untraced warm operation, then traced operations with one span per
library layer, and prints the per-layer metrics, including the tracing
overhead.  Either way the full record (environment, every sample, every
span) goes to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
OUT = os.path.join(BENCH_DIR, "out")
SETUP_COPIES = 3
# at least this many warm operations per untraced run, whatever --seconds says
WARM_OPS = 3

# per-layer fields every span carries (see spans.Tracer)
BASE_FIELDS = {
    "wall_s": "s", "jobs": "count", "tasks": "count", "cpu_s": "s", "gc_s": "s",
    "shuffle_bytes": "B", "driver_gap_s": "s",
}
# layer -> extra fields it reports
LAYERS = {
    "scoring.prepare_pages": {"udf_python_s": "s", "udf_bytes_sent": "B", "cache_bytes": "B"},
    "blocking.candidate_pairs": {"candidate_pairs": "count", "block_rows": "count"},
    "scoring.block_score_pipeline": {
        "pairs_scored": "count", "prefilter_pass_frac": "ratio", "match_yield": "ratio",
        "udf_python_s": "s", "udf_bytes_sent": "B", "cache_bytes": "B", "score_only_est_s": "s",
    },
    "cluster.connected_components": {"edges_in": "count", "components": "count"},
    "pipeline.link": {"self_s": "s"},
    "sources.state.write_lineage": {"bytes_written": "B"},
    "reconcile.reconcile": {"input_bytes": "B", "udf_python_s": "s", "cache_bytes": "B"},
    "sources.state.save_run": {"exceptions": "count", "bytes_written": "B"},
    "sources.state.review": {},
    "dedup.minhash_lsh_pairs": {"pairs": "count", "udf_python_s": "s", "dup_pair_recall": "ratio"},
    "dedup.simhash_pairs": {"pairs": "count"},
}
JVM_FIELDS = {
    "jvm.gc_s": "s", "jvm.jit_s": "s", "jvm.cold_gc_s": "s", "jvm.cold_jit_s": "s",
    "trace_overhead_s": "s",
}
# read 0 on every workload at these input sizes (the closure finishes on
# the Spark driver), so not reported
ALWAYS_ZERO = {"cluster.connected_components.shuffle_bytes"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in a fixed order."""
    out = {}
    for layer, extra in LAYERS.items():
        for field, unit in {**BASE_FIELDS, **extra}.items():
            if f"{layer}.{field}" not in ALWAYS_ZERO:
                out[f"{layer}.{field}"] = unit
    out.update(JVM_FIELDS)
    return out


END_TO_END = {
    "setup_s": "s", "cold_s": "s", "run_s": "s", "rows_per_s": "rows/s",
    "cpu_s": "s", "peak_rss_mb": "MB", "pairwise_f1": "ratio", "dup_pair_recall": "ratio",
}


def steal_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals)


def git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def rss_mb(jvm_pid: int) -> float:
    hwm_kb = 0
    try:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    hwm_kb = int(line.split()[1])
    except OSError:
        pass
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def fail_setup(msg: str) -> None:
    print(f"perfbench: set-up failed: {msg}", file=sys.stderr)
    sys.exit(2)


def start_session(work: str, cpus: int):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM spark-submit starts, its launcher included: no hsperfdata
    # file and no temp files outside the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    from data_reconciliation_spark.session import build_session

    spark = build_session(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM has exited: the gateway JVM
    exits when its stdin, a pipe from this process, closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def probe_workers(spark) -> None:
    """One tiny Arrow UDF from the package: the worker must import it."""
    from data_reconciliation_spark.functions.similarity import simhash64_udf
    from pyspark.sql import functions as F

    try:
        spark.range(1).select(simhash64_udf(F.lit("a b")).alias("s")).collect()
    except Exception as e:  # noqa: BLE001 - surfaced as a set-up error
        fail_setup(
            "Python workers cannot run the package's Arrow UDFs "
            f"(is {ROOT} on the workers' PYTHONPATH?): {str(e).splitlines()[0]}"
        )


def warm_page_cache(path: str) -> None:
    for d, _, files in os.walk(path):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                while fh.read(1 << 22):
                    pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (tests use small inputs)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "data_reconciliation_spark", "__init__.py")):
        fail_setup(f"package source data_reconciliation_spark not found under {ROOT}")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, BENCH_DIR)
    from spans import StatusReader, Tracer
    from workloads import workloads

    wls = workloads(args.scale)
    if args.workload not in wls:
        fail_setup(f"unknown workload {args.workload!r}; known: {', '.join(wls)}")
    wl = wls[args.workload]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    run_tag = f"{wl.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(WORK, run_tag)
    steal0 = steal_ticks()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, cpus)
        probe_workers(spark)
        session_s = time.perf_counter() - t0
        reader = StatusReader(spark)
        spark_version = spark.version
        setup_jit0 = reader.jit_s()

        copies = []
        for i in range(SETUP_COPIES):
            data_dir = os.path.join(work, f"data{i}")
            t = time.perf_counter()
            wl.generate(spark, data_dir, args.seed)
            warm_page_cache(data_dir)
            for sub in os.listdir(data_dir):
                spark.read.parquet(os.path.join(data_dir, sub)).count()
            copies.append(time.perf_counter() - t)
        for i in range(1, SETUP_COPIES):
            shutil.rmtree(os.path.join(work, f"data{i}"))
        wl.load(spark, os.path.join(work, "data0"))
        setup_s = session_s + statistics.median(copies)
        setup_jit = reader.jit_s() - setup_jit0

        samples, failures, tracer = [], [], Tracer(reader, f"perfbench:{wl.name}")

        def one_op(k: int, traced: bool) -> None:
            tmp = os.path.join(work, f"op{k}")
            os.makedirs(tmp)
            tag = f"perfbench:{wl.name}:op{k}"
            try:
                if traced:
                    wl.layer_probes(spark, tracer, tmp)
                gc0, jit0 = reader.gc_s(), reader.jit_s()
                t = time.perf_counter()
                with reader.tagged(tag):
                    out = wl.op(spark, tmp, tracer if traced else None)
                wall = time.perf_counter() - t
                rec = {"op": k, "traced": traced, "wall_s": wall,
                       "jvm_gc_s": reader.gc_s() - gc0, "jvm_jit_s": reader.jit_s() - jit0}
                rec.update(wl.check(out, tmp))
                totals = reader.jobs(reader.job_ids(tag))
                rec.update(jobs=totals["jobs"], tasks=totals["tasks"], cpu_s=totals["cpu_s"])
                samples.append(rec)
            except Exception as e:  # noqa: BLE001 - every failure is counted
                failures.append({"op": k, "traced": traced, "error": f"{type(e).__name__}: {e}"[:2000]})
                print(f"perfbench: operation {k} failed: {type(e).__name__}: {e}", file=sys.stderr)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)

        one_op(0, False)
        k = 1
        if args.trace:
            one_op(k, False)
            k += 1
        deadline = time.perf_counter() + args.seconds
        n_loop = 0
        while n_loop < (1 if args.trace else WARM_OPS) or time.perf_counter() < deadline:
            one_op(k, bool(args.trace))
            k += 1
            n_loop += 1
        peak = rss_mb(reader.jvm_pid())
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    steal1 = steal_ticks()
    attempted = k
    env = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "scale": args.scale, "nproc": cpus, "spark_version": spark_version,
        "git_commit": git_commit(), "rows": wl.rows(), "rows_label": wl.rows_label,
        "steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "setup_copies_s": copies, "session_s": session_s, "setup_jit_s": setup_jit,
    }
    cold = [s for s in samples if s["op"] == 0]
    warm = [s for s in samples if s["op"] > 0 and not s["traced"]]
    env["warm_ops"] = len(warm)
    correct = not failures and bool(cold)
    metrics: dict[str, dict] = {}
    traced = [s for s in samples if s["traced"]]
    if args.trace and cold and warm and traced:
        metrics = layer_metrics(tracer.spans, cold, warm, traced)
    elif not args.trace and cold and warm:
        run_s = statistics.median(s["wall_s"] for s in warm)
        values = {
            "setup_s": setup_s,
            "cold_s": cold[0]["wall_s"],
            "run_s": run_s,
            "rows_per_s": wl.rows() / run_s,
            "cpu_s": statistics.mean(s["cpu_s"] for s in cold + warm),
            "peak_rss_mb": peak,
            "pairwise_f1": min(s["pairwise_f1"] for s in samples),
            "dup_pair_recall": min(s["dup_pair_recall"] for s in samples),
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}
    else:
        correct = False

    os.makedirs(OUT, exist_ok=True)
    record = os.path.join(OUT, f"{run_tag}.json")
    with open(record, "w") as f:
        json.dump({"env": env, "samples": samples, "failures": failures,
                   "spans": tracer.spans, "metrics": metrics}, f, indent=1, default=str)
    print(
        f"perfbench: {wl.name} seed={args.seed} nproc={cpus} spark={env['spark_version']} "
        f"commit={env['git_commit'][:12]} steal_frac={env['steal_frac']:.4f} "
        f"attempted={attempted} failed={len(failures)} "
        f"failed_frac={len(failures) / attempted:.4f} record={record}"
    )
    for name, m in metrics.items():
        print(f"perfbench:   {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": len(failures),
                      "metrics": metrics}))
    return 0


def layer_metrics(spans, cold, warm, traced) -> dict:
    """Median over traced operations of every per-layer field; layers a
    workload does not call read 0."""
    by_op: dict[str, list[dict]] = {}
    for s in spans:
        by_op.setdefault(s["layer"], []).append(s)
    values = {}
    for layer, extra in LAYERS.items():
        for field in {**BASE_FIELDS, **extra}:
            if field == "score_only_est_s":
                continue
            vals = [s.get(field, 0.0) for s in by_op.get(layer, [])]
            values[f"{layer}.{field}"] = statistics.median(vals) if vals else 0.0
    # scoring alone is only reachable through the composite call
    values["scoring.block_score_pipeline.score_only_est_s"] = max(
        0.0,
        values["scoring.block_score_pipeline.wall_s"]
        - values["scoring.prepare_pages.wall_s"]
        - values["blocking.candidate_pairs.wall_s"],
    ) if by_op.get("scoring.block_score_pipeline") else 0.0
    values["jvm.gc_s"] = statistics.median(s["jvm_gc_s"] for s in warm)
    values["jvm.jit_s"] = statistics.median(s["jvm_jit_s"] for s in warm)
    values["jvm.cold_gc_s"] = cold[0]["jvm_gc_s"]
    values["jvm.cold_jit_s"] = cold[0]["jvm_jit_s"]
    # the operation traced minus the same operation untraced, same process
    values["trace_overhead_s"] = statistics.median(s["wall_s"] for s in traced) - statistics.median(
        s["wall_s"] for s in warm
    )
    units = per_layer_units()
    return {n: {"value": values[n], "unit": units[n]} for n in units}


if __name__ == "__main__":
    sys.exit(main())
