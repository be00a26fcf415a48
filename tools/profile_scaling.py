"""Decompose the scaling-bench scoring stage to find what stops it
scaling 8 -> 32 cores (round-3 item #1; VERDICT r2 "Next round" #1).

For each variant of the timed stage we report elapsed seconds AND the
process-tree CPU busy fraction (sum of utime+stime deltas over every
descendant process / (elapsed * cores)).  busy ~= 1.0 means the cores
are saturated (work inflated); busy << 1.0 means cores sit idle
(coordination / serialization bound).

Usage: python tools/profile_scaling.py [--pages 50000] [--cores 8,32]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

_CHILD = r"""
import json, os, sys, time
cores = int(sys.argv[1]); n_pages = int(sys.argv[2])

CLK = os.sysconf("SC_CLK_TCK")

def _tree_cpu() -> float:
    # sum utime+stime (+children-reaped cutime/cstime) over every process
    # whose ancestry reaches this pid
    me = os.getpid()
    parent = {}
    ticks = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        # pid (comm) state ppid ... utime=14 stime=15 cutime=16 cstime=17
        rp = s.rindex(")")
        fields = s[rp + 2:].split()
        pid = int(d)
        parent[pid] = int(fields[1])
        ticks[pid] = int(fields[11]) + int(fields[12]) + int(fields[13]) + int(fields[14])
    total = 0
    for pid in ticks:
        p = pid
        seen = 0
        while p > 1 and seen < 64:
            if p == me:
                total += ticks[pid]
                break
            p = parent.get(p, 1)
            seen += 1
    return total / CLK

from pyspark.storagelevel import StorageLevel
from pyspark.sql import functions as F
from data_reconciliation_spark.session import build_session
from data_reconciliation_spark.testgen import generate_pages
from data_reconciliation_spark.operators.blocking import candidate_pairs
from data_reconciliation_spark.operators.scoring import (
    prepare_pages, score_pairs, jw_features_udf)
from data_reconciliation_spark.functions.similarity import hashed_jaccard

spark = build_session(app_name=f"recon-profile-{cores}",
                      master=f"local[{cores}]",
                      shuffle_partitions=128,
                      extra_conf={
                          "spark.driver.extraJavaOptions": "-XX:+UseG1GC",
                          "spark.sql.inMemoryColumnarStorage.compressed": "false",
                          # the scoring UDF ships only short urls/titles,
                          # so large Arrow batches are safe and amortize
                          # the numpy-vectorized kernels: measured 2x on
                          # the 32-core leg vs the 10k default
                          # (tools/profile_udf_decay.py)
                          "spark.sql.execution.arrow.maxRecordsPerBatch": "50000",
                      })
spark.sparkContext.setLogLevel("ERROR")

# n_hosts = pages/32 => ~2 entities (~32 page variants) per host, so
# host blocks stay under the O(n^2) cap and contribute REAL same-host
# cross-entity candidate pairs (hard negatives the prefilter must
# prune), alongside the dense intra-entity true pairs — the realistic
# corpus shape (round-2 verdict: an all-matches pair set cannot show
# the cascade's pruning).  The one hot host (20% of entities) stays
# over-cap and exercises the star-pairing guard.
pages = generate_pages(spark, n_rows=n_pages, n_entities=n_pages // 16,
                       n_hosts=max(50, n_pages // 32),
                       partitions=128).persist()
pages.count()
cp = candidate_pairs(pages).withColumnsRenamed({"id_a": "url_a", "id_b": "url_b"})
prep = prepare_pages(pages)
pa = prep.select(F.col("url").alias("url_a"), F.col("canon_url").alias("canon_url_a"),
                 F.col("title").alias("title_a"), F.col("tok_hashes").alias("tok_hashes_a"),
                 F.col("simhash").alias("simhash_a"))
pb = prep.select(F.col("url").alias("url_b"), F.col("canon_url").alias("canon_url_b"),
                 F.col("title").alias("title_b"), F.col("tok_hashes").alias("tok_hashes_b"),
                 F.col("simhash").alias("simhash_b"))
pairs = (cp.join(pa, "url_a").join(pb, "url_b")
           # 128 partitions (= shuffle partitions): ~7k rows per
           # task at 150k pages so Arrow batches stay near the 50k cap
           # and per-task scheduling overhead is amortized — 512-way
           # splitting measured 2x slower on the UDF stage
           .repartition(128)
           .persist(StorageLevel.MEMORY_AND_DISK))
n_pairs = pairs.count()

def run(name, thunk, passes=3):
    out = []
    for i in range(passes + 1):
        c0 = _tree_cpu(); t0 = time.time()
        thunk()
        dt = time.time() - t0; dc = _tree_cpu() - c0
        if i > 0:
            out.append({"sec": round(dt, 2),
                        "pairs_per_sec": round(n_pairs / dt, 1),
                        "busy": round(dc / (dt * cores), 3)})
    print("VARIANT " + json.dumps({"name": name, "cores": cores,
                                   "pairs": n_pairs, "passes": out}),
          flush=True)

run("scan", lambda: pairs.count())
run("native", lambda: pairs
    .withColumn("tj", hashed_jaccard("tok_hashes_a", "tok_hashes_b"))
    .withColumn("hd", F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))))
    .where("tj >= 0.5 or hd <= 8").count())
# NOTE: consume the udf output through ONE aggregate (count of non-null
# field) — a filter on a struct-field alias would be pushed down, inline
# the udf expression, and double-extract it into two ArrowEvalPython
# nodes (the exact bug score_pairs guards against with Generate
# barriers), making this variant measure 2x the real UDF cost.
run("udf", lambda: pairs
    .select(jw_features_udf(F.col("canon_url_a"), F.col("canon_url_b"),
                            F.col("title_a"), F.col("title_b")).alias("e"))
    .agg(F.count("e.url_jw")).collect())
run("full", lambda: score_pairs(pairs).where("is_match").count())
spark.stop()
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=50_000)
    ap.add_argument("--cores", default="8,32")
    ap.add_argument("--mem", default="48g")
    args = ap.parse_args()

    for cores in [int(c) for c in args.cores.split(",")]:
        env = dict(os.environ)
        env.setdefault("SPARK_DRIVER_MEMORY", args.mem)
        out = subprocess.run(
            ["taskset", "-c", f"0-{cores - 1}",
             sys.executable, "-c", _CHILD, str(cores), str(args.pages)],
            capture_output=True, text=True, env=env, check=True,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
        for line in out.stdout.splitlines():
            if line.startswith("VARIANT "):
                print(line[len("VARIANT "):], flush=True)


if __name__ == "__main__":
    main()
