"""The flagship ER pipeline: blocking -> pair scoring -> transitive
clustering (BASELINE.json north_star stages 1-3).

``link(pages)`` is the engine's generalization of the reference's
``run_compare`` contract (SURVEY.md §3.2): pure DataFrame -> DataFrames.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_reconciliation_spark.config import BlockingConfig, ScoringConfig
from data_reconciliation_spark.operators.cluster import _rebind, connected_components
from data_reconciliation_spark.operators.scoring import block_score_pipeline
from data_reconciliation_spark.session import driver_table
from data_reconciliation_spark.sources.state import CheckpointManager

# Below this input size the pipeline is LATENCY-bound: its ~30 stage
# jobs are each well under a second, and AQE's stage-by-stage execution
# (materialize every shuffle, re-plan, schedule the next stage as a new
# job) dominates wall time over the actual compute — measured 38.5s ->
# 23.9s per 100k-page pass at local[16] with AQE off, steal < 0.002
# (tools/e2e_variant_probe.py).  At warehouse volumes (> ~2M pages) the
# stages run for minutes and AQE's runtime coalescing / skew splitting
# is worth far more than its planning overhead, so the caller's AQE
# setting stays in force — same crossover logic, same threshold order,
# as the closure loop's LATENCY_REGIME_EDGES (operators/cluster.py).
LATENCY_REGIME_PAGES = 2_000_000


@dataclass
class LinkResult:
    scored_pairs: DataFrame   # every candidate pair + features + verdict
    matches: DataFrame        # verdict-positive pairs (url_a, url_b, score)
    clusters: DataFrame       # (url, entity) — every input url labeled

    def release(self) -> None:
        """Unpersist the scored-pair cache and every intermediate the
        blocking/scoring stages registered (lifecycle contract; see
        ``data_reconciliation_spark.lifecycle``).  Call after the result
        DataFrames have been written/consumed.  ``clusters`` stays
        valid afterwards — the closure rounds are localCheckpoint-ed,
        so it does not recompute the scoring stage;
        ``scored_pairs``/``matches`` recompute if re-consumed."""
        from data_reconciliation_spark.lifecycle import release_cached

        release_cached(self.scored_pairs)
        self.scored_pairs.unpersist()


def link(
    pages: DataFrame,
    blocking_cfg: BlockingConfig | None = None,
    scoring_cfg: ScoringConfig | None = None,
    checkpoint: CheckpointManager | None = None,
    max_iter: int = 30,
    latency_regime: bool | None = None,
) -> LinkResult:
    """Resolve a page table into entity clusters.

    The scored-pair table is persisted (storage-level memory+disk) because
    it feeds both the match-edge extraction and downstream metrics; the
    closure loop itself checkpoints per round when a manager is given.

    ``latency_regime``: None (default) auto-detects by row count —
    inputs at or under :data:`LATENCY_REGIME_PAGES` plan the whole
    pipeline with AQE off inside a CLONED session (``newSession`` —
    own SQLConf, shared SparkContext and cache manager), because at
    that size per-stage planning/scheduling dominates wall time; the
    caller's session conf is never touched, and every returned
    DataFrame is re-bound to the caller's session so downstream
    composition plans under the caller's conf (the same isolation
    discipline as the closure loop's regime tuning).  Pass True/False
    to skip the auto-detect count (it is one cheap job on a cached or
    parquet input, but a caller whose ``pages`` is an expensive
    uncached computation should decide explicitly).
    """
    from pyspark.storagelevel import StorageLevel

    caller = pages.sparkSession
    if latency_regime is None:
        latency_regime = pages.count() <= LATENCY_REGIME_PAGES
    caller_aqe = caller.conf.get("spark.sql.adaptive.enabled", "true")
    if latency_regime and caller_aqe == "true":
        iso = caller.newSession()
        # runtime conf.set() values do not propagate through newSession;
        # pin the two planning knobs the pipeline depends on (same keys
        # the closure loop copies)
        iso.conf.set(
            "spark.sql.shuffle.partitions",
            caller.conf.get("spark.sql.shuffle.partitions", "200"),
        )
        iso.conf.set("spark.sql.adaptive.enabled", "false")
        pages = _rebind(pages, iso)
    else:
        iso = caller

    # scored pairs feed (a) the match-edge extraction consumed by every
    # closure round and (b) downstream metrics/consumers — materialize
    # once (at warehouse scale: written as the candidate-pair table).
    # Collision-telemetry observes are built only when a checkpoint
    # manager will persist them to lineage: they are codegen barriers
    # on the pair table, and without a manager nobody reads the metric.
    scored = block_score_pipeline(
        pages, blocking_cfg, scoring_cfg, collect_fanout=checkpoint is not None
    ).persist(StorageLevel.MEMORY_AND_DISK)
    matches = scored.where(F.col("is_match")).select("url_a", "url_b", "score")

    if checkpoint is not None:
        # per-partition row-count lineage for the scoring stage (north
        # rule: lineage + metrics per partition, not just per run).
        metrics = (
            scored.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.count(F.lit(1)).alias("row_count"),
                F.sum(F.col("is_match").cast("long")).alias("match_count"),
            )
            .select("partition_id", "row_count", "match_count")
            .withColumn("iteration", F.lit(0))
            .withColumn("stage", F.lit("scoring"))
            .withColumn("saved_at", F.current_timestamp())
        )
        checkpoint.write_lineage(metrics)
        # the lineage write above materialized the scored cache, so the
        # collision-telemetry observations are now set: record the
        # dictionary-id fan-out (0 unless an xxhash64 id collision
        # touched this corpus) in the same lineage table.
        from data_reconciliation_spark.operators.scoring import pair_fanout

        fanout = pair_fanout(scored)
        if fanout is not None:
            checkpoint.write_lineage(
                driver_table(
                    scored.sparkSession,
                    [(fanout, 0, "pair_fanout")],
                    "row_count long, iteration int, stage string",
                ).withColumn("saved_at", F.current_timestamp())
            )

    # assume_distinct: candidate pairs are grouped by (id_a, id_b) in
    # blocking, so the match edges are already unique — skipping the
    # closure's entry distinct() saves a full shuffle of the edge set.
    components = connected_components(
        matches,
        src="url_a",
        dst="url_b",
        max_iter=max_iter,
        checkpoint=checkpoint,
        assume_distinct=True,
    )

    # every url gets a label; urls in no match pair are their own entity
    clusters = (
        pages.select("url")
        .join(components, pages["url"] == components["node"], "left")
        .select(
            "url",
            F.coalesce(F.col("component"), F.col("url")).alias("entity"),
        )
    )
    if iso is not caller:
        # hand results back bound to the CALLER's session: the cache
        # manager is shared state, so the rebound scored still hits the
        # persisted blocks (and unpersist via release() still frees
        # them); the lifecycle/telemetry attributes live on the object
        # and must be carried over.
        from data_reconciliation_spark.lifecycle import cached_deps, register_cached

        rebound = register_cached(_rebind(scored, caller), *cached_deps(scored))
        if hasattr(scored, "_pair_fanout_obs"):
            rebound._pair_fanout_obs = scored._pair_fanout_obs
        scored = rebound
        matches = _rebind(matches, caller)
        clusters = _rebind(clusters, caller)
    return LinkResult(scored_pairs=scored, matches=matches, clusters=clusters)
