"""Dump .explain('formatted') for every benched query into plans/r07/.

Usage: python tools/dump_plans.py <suffix> [query ...]
e.g.   python tools/dump_plans.py before
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r07"
    )
    os.makedirs(out_dir, exist_ok=True)

    from data_reconciliation_spark.config import BlockingConfig
    from data_reconciliation_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_pairs,
    )
    from data_reconciliation_spark.plans import driver_queries as dq
    from data_reconciliation_spark.session import build_session

    spark = build_session(
        app_name="dump-plans",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
        extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "50000"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    def bench_minhash_df():
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return minhash_lsh_pairs(
            docs,
            cfg=BlockingConfig(shingle_size=1, num_hashes=32, bands=2),
            verify_threshold=1.0,
        )

    def bench_simhash_df():
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return simhash_pairs(docs, max_hamming=6, n_chunks=8)

    class _Abort(Exception):
        pass

    def capture(set_probe, run, what: str):
        # install a plan probe that records the DataFrame it is handed and
        # aborts the caller before it executes anything; fail clearly if
        # the probe never fired (the hook moved or the path was not taken)
        captured = []

        def probe(df):
            captured.append(df)
            raise _Abort

        set_probe(probe)
        try:
            run()
        except _Abort:
            pass
        finally:
            set_probe(None)
        if not captured:
            raise RuntimeError(f"{what}: plan probe never fired, nothing captured")
        return captured[0]

    def a1_metrics_plan(unique_pk: bool):
        # The a1 query's real plan lives inside reconcile() (the declared
        # DF is a literal of the collected scalars); capture the metrics
        # aggregation via the _metrics_plan_probe hook.  The
        # unique_pk=False call is the pre-r7 plan (full-outer merge +
        # aggregate) — both paths still exist in the operator, so before
        # and after are dumped from the same tree.
        import importlib

        rmod = importlib.import_module(
            "data_reconciliation_spark.operators.reconcile"
        )
        from data_reconciliation_spark.plans.driver_queries import (
            RECON_CFG,
            _snapshots,
        )

        def run():
            old, new = _snapshots(spark, sf_dir)
            rmod.reconcile(
                old,
                new,
                ["o_orderkey"],
                RECON_CFG,
                metrics_only=True,
                unique_pk=unique_pk,
            )

        return capture(
            lambda p: setattr(rmod, "_metrics_plan_probe", p), run, "a1_match_metrics"
        )

    def cluster_entry_plan(assume_distinct: bool):
        # The chain query's r7 change is inside connected_components (the
        # entry distinct() shuffle is skipped when assume_distinct=True);
        # the declared DF's own plan is the post-closure label table and
        # does not show it.  Capture the normalized entry edge set via
        # _entry_plan_probe, which aborts before the closure runs.
        import importlib

        cmod = importlib.import_module(
            "data_reconciliation_spark.operators.cluster"
        )
        from pyspark.sql import functions as F

        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id")
        edges = ev.where(F.col("event_id") % 20 != 0).select(
            F.format_string("n%09d", F.col("event_id")).alias("src"),
            F.format_string("n%09d", F.col("event_id") - 1).alias("dst"),
        )

        return capture(
            lambda p: setattr(cmod, "_entry_plan_probe", p),
            lambda: cmod.connected_components(edges, assume_distinct=assume_distinct),
            "cluster_entry",
        )

    plans = {
        "reconcile_exceptions": lambda: dq.q_reconcile_exceptions(spark, sf_dir),
        "j1_full_outer_merge": lambda: dq.q_j1_full_outer_merge(spark, sf_dir),
        "f3_tolerance": lambda: dq.q_f3_tolerance_with_coercion(spark, sf_dir),
        "a9_dedup_gate_24h": lambda: dq.q_a9_dedup_gate_24h(spark, sf_dir),
        "dedup_exact": lambda: dq.q_dedup_exact(spark, sf_dir),
        "minhash_lsh_pairs": bench_minhash_df,
        "simhash_pairs": bench_simhash_df,
        "ann_cosine_topk": lambda: dq.q_ann_cosine_topk(spark, sf_dir),
        "text_stats": lambda: dq.q_text_stats(spark, sf_dir),
        # suffix-aware: "before" dumps the pre-r7 plan variant that still
        # exists in the operator (a1: unique_pk=False full-outer merge;
        # cluster: entry distinct() not skipped)
        "a1_match_metrics": lambda: a1_metrics_plan(
            unique_pk=(suffix != "before")
        ),
        "cluster_chain_components": lambda: cluster_entry_plan(
            assume_distinct=(suffix != "before")
        ),
    }
    for name, fn in plans.items():
        if only and name not in only:
            continue
        df = fn()
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {name}_{suffix}.txt")
    spark.stop()


if __name__ == "__main__":
    main()
