"""The benchmark's workloads: input generators, operations, output checks.

Each workload generates its inputs from the seed with Spark expressions,
writes them to parquet, and then runs one user-level operation against
the library's public API.  ``op`` is the timed operation; ``check``
recomputes the expected output outside the library and raises
``CheckFailed`` on any disagreement.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter
from contextlib import nullcontext

import numpy as np

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

MEMORY_AND_DISK = StorageLevel.MEMORY_AND_DISK


class CheckFailed(AssertionError):
    pass


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def f1_score(tp: int, predicted: int, actual: int) -> float:
    precision = tp / predicted if predicted else 1.0
    recall = tp / actual if actual else 1.0
    return 2 * precision * recall / (precision + recall) if precision + recall else 0.0


def cluster_f1(pred: dict, truth: dict) -> tuple[float, bool]:
    """Pairwise F1 and purity of the clustering ``pred`` (item -> label)
    against ``truth`` (item -> label), from the contingency table,
    without enumerating pairs."""
    c2 = lambda n: n * (n - 1) // 2  # noqa: E731
    joint = Counter((pred[k], truth[k]) for k in truth)
    tp = sum(c2(n) for n in joint.values())
    predicted = sum(c2(n) for n in Counter(pred[k] for k in truth).values())
    actual = sum(c2(n) for n in Counter(truth.values()).values())
    labels_per_cluster = Counter(label for label, _ in joint)
    return f1_score(tp, predicted, actual), all(n == 1 for n in labels_per_cluster.values())


def parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


class Workload:
    name = ""
    rows_label = "rows"
    layers: tuple[str, ...] = ()  # the spans a traced run records

    def generate(self, spark, data_dir: str, seed: int) -> None:
        raise NotImplementedError

    def load(self, spark, data_dir: str) -> None:
        """Read the inputs back and build the expected outputs (untimed)."""
        raise NotImplementedError

    def rows(self) -> int:
        raise NotImplementedError

    def op(self, spark, tmp: str, tracer=None):
        """The timed operation.  With a tracer, each layer call inside
        it is a span."""
        raise NotImplementedError

    def check(self, out, tmp: str) -> dict:
        raise NotImplementedError

    def layer_probes(self, spark, tracer, tmp: str) -> None:
        """Spans for layers the operation reaches only through a
        composite call: each is called on its own, in traced runs only."""


# ---------------------------------------------------------------------------
# Web pages: near-duplicate detection and entity resolution
# ---------------------------------------------------------------------------

# The page table a user hands to link(): the input_hint schema, no truth.
PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]
JACCARD = 0.7
MAX_HAMMING = 3


def simhash_md5(text: str) -> int:
    """64-bit SimHash over space-split tokens: each token's hash is the
    first 8 bytes of its md5; bit j of a token counts +1 if set, -1 if
    not; the signature bit is set where the sum is positive."""
    toks = text.split(" ")
    hashes = np.array(
        [int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big") for t in toks],
        dtype=np.uint64,
    )
    ones = ((hashes[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).sum(axis=0)
    return int(sum(1 << b for b in range(64) if 2 * int(ones[b]) > len(toks)))


def nullspan(_layer):
    return nullcontext({})


class ErLink(Workload):
    """``link()`` over generated pages, optionally with a
    ``CheckpointManager``.

    Traced runs also call the near-duplicate operators over the page text
    (``minhash_lsh_pairs`` with its defaults and
    ``simhash_pairs(max_hamming=3, n_chunks=4)``) and check their pairs.
    They share the MinHash/SimHash kernels with blocking, and a workload
    of their own does not fit the benchmark's time budget."""

    rows_label = "pages"

    def __init__(self, name, pages, pages_per_entity, hot_host_pct, n_hosts, checkpoint,
                 scale=1.0):
        self.name = name
        self.n_pages = max(200, int(pages * scale))
        self.pages_per_entity = pages_per_entity
        self.hot_host_pct = hot_host_pct
        self.n_hosts = n_hosts
        self.checkpoint = checkpoint

    def generate(self, spark, data_dir, seed):
        from data_reconciliation_spark.testgen import generate_pages

        generate_pages(
            spark,
            n_rows=self.n_pages,
            n_entities=max(1, self.n_pages // self.pages_per_entity),
            hot_host_pct=self.hot_host_pct,
            n_hosts=self.n_hosts,
            seed=seed,
        ).select(*PAGE_COLS, "entity_id").write.mode("overwrite").parquet(
            os.path.join(data_dir, "pages")
        )

    def load(self, spark, data_dir):
        self.path = os.path.join(data_dir, "pages")
        rows = spark.read.parquet(self.path).select("url", "text", "entity_id").collect()
        self.truth = {r.url: r.entity_id for r in rows}
        # generated text is already normalized (single spaces, trimmed)
        self.tokens = {r.url: frozenset(r.text.split(" ")) for r in rows}
        self.sig = {r.url: simhash_md5(r.text) for r in rows}
        by_text: dict[str, list[str]] = {}
        for r in rows:
            by_text.setdefault(r.text, []).append(r.url)
        self.identical = {
            (a, b) for urls in by_text.values() for a in urls for b in urls if a < b
        }

    def rows(self):
        return len(self.truth)

    @property
    def layers(self) -> tuple[str, ...]:
        return (
            "scoring.prepare_pages", "blocking.candidate_pairs", "scoring.block_score_pipeline",
            "cluster.connected_components", "pipeline.link",
            *(("sources.state.write_lineage",) if self.checkpoint else ()),
            "dedup.minhash_lsh_pairs", "dedup.simhash_pairs",
        )

    def pages(self, spark):
        return spark.read.parquet(self.path).select(*PAGE_COLS)

    def _manager(self, spark, root, tracer=None):
        if not self.checkpoint:
            return None
        from data_reconciliation_spark.sources.state import CheckpointManager

        if tracer is None:
            return CheckpointManager(spark, root)

        class TracedCheckpointManager(CheckpointManager):
            def write_lineage(self, metrics):
                with tracer.span("sources.state.write_lineage"):
                    super().write_lineage(metrics)

        return TracedCheckpointManager(spark, root)

    def op(self, spark, tmp, tracer=None):
        from data_reconciliation_spark.plans.pipeline import link

        span = tracer.span if tracer else nullspan
        with span("pipeline.link"):
            res = link(self.pages(spark),
                       checkpoint=self._manager(spark, os.path.join(tmp, "checkpoint"), tracer))
            labels = res.clusters.collect()
        res.release()
        return labels

    def check(self, labels, tmp):
        urls = [r.url for r in labels]
        expect(len(urls) == len(self.truth), f"{len(urls)} labels for {len(self.truth)} pages")
        expect(set(urls) == set(self.truth), "labelled urls differ from the input urls")
        entity = {r.url: r.entity for r in labels}
        f1, pure = cluster_f1(entity, self.truth)
        expect(pure, "a cluster mixes pages of two entities")
        expect(f1 >= 0.99, f"pairwise F1 {f1:.4f} < 0.99")
        together = sum(1 for a, b in self.identical if entity[a] == entity[b])
        return {
            "pairwise_f1": f1,
            "dup_pair_recall": together / len(self.identical) if self.identical else 1.0,
        }

    def layer_probes(self, spark, tracer, tmp):
        self._probe_link_stages(spark, tracer, tmp)
        self._probe_dedup(spark, tracer)

    def _probe_link_stages(self, spark, tracer, tmp):
        from data_reconciliation_spark.config import BlockingConfig
        from data_reconciliation_spark.lifecycle import cached_deps, release_cached
        from data_reconciliation_spark.operators.blocking import candidate_pairs
        from data_reconciliation_spark.operators.cluster import connected_components
        from data_reconciliation_spark.operators.scoring import (
            block_score_pipeline,
            prepare_pages,
        )

        # link() plans its stages with AQE off in a cloned session below
        # LATENCY_REGIME_PAGES; the layer calls get the same planning.
        iso = spark.newSession()
        iso.conf.set("spark.sql.adaptive.enabled", "false")
        iso.conf.set("spark.sql.shuffle.partitions", spark.conf.get("spark.sql.shuffle.partitions"))
        pages = self.pages(iso)
        cfg = BlockingConfig()

        with tracer.span("scoring.prepare_pages"):
            prep = prepare_pages(pages).persist(MEMORY_AND_DISK)
            prep.count()
        with tracer.span("blocking.candidate_pairs") as s:
            cand = candidate_pairs(
                prep.select("url", F.col("norm_text").alias("text")),
                cfg,
                id_col="url",
                keep_hashed_ids=cfg.dictionary_ids,
            )
            s["candidate_pairs"] = cand.count()
        s["block_rows"] = sum(b.count() for b in cached_deps(cand))
        release_cached(cand)
        prep.unpersist()

        with tracer.span("scoring.block_score_pipeline") as s:
            scored = block_score_pipeline(pages, collect_fanout=self.checkpoint).persist(
                MEMORY_AND_DISK
            )
            n = s["pairs_scored"] = scored.count()
        row = scored.agg(
            F.count("url_jw").alias("jw"), F.sum(F.col("is_match").cast("long")).alias("m")
        ).first()
        s["prefilter_pass_frac"] = row.jw / n if n else 0.0
        s["match_yield"] = (row.m or 0) / n if n else 0.0

        edges = scored.where(F.col("is_match")).select("url_a", "url_b", "score")
        with tracer.span("cluster.connected_components") as s:
            comps = connected_components(
                edges,
                src="url_a",
                dst="url_b",
                checkpoint=self._manager(iso, os.path.join(tmp, "layer_checkpoint")),
                assume_distinct=True,
            ).collect()
        s["edges_in"] = row.m or 0
        s["components"] = len({r.component for r in comps})
        release_cached(scored)
        scored.unpersist()

    def _probe_dedup(self, spark, tracer):
        """Near-duplicate pairs over the page text; every returned pair's
        Jaccard / Hamming distance is recomputed here."""
        from data_reconciliation_spark.lifecycle import release_cached
        from data_reconciliation_spark.operators.dedup import minhash_lsh_pairs, simhash_pairs

        docs = self.pages(spark).select("url", "text")
        with tracer.span("dedup.minhash_lsh_pairs") as s:
            mp = minhash_lsh_pairs(docs, id_col="url")
            m_rows = mp.collect()
        release_cached(mp)
        m_pairs = set()
        for r in m_rows:
            a, b = self.tokens[r.id_a], self.tokens[r.id_b]
            j = len(a & b) / len(a | b)
            expect(abs(j - r.jaccard) < 1e-9, f"minhash jaccard {r.jaccard} != {j}")
            expect(j >= JACCARD, f"minhash pair below threshold: {j}")
            m_pairs.add((min(r.id_a, r.id_b), max(r.id_a, r.id_b)))
        expect(len(m_pairs) == len(m_rows), "duplicate minhash pairs")
        s["pairs"] = len(m_pairs)
        s["dup_pair_recall"] = (
            len(self.identical & m_pairs) / len(self.identical) if self.identical else 1.0
        )

        with tracer.span("dedup.simhash_pairs") as s:
            sp = simhash_pairs(docs, max_hamming=MAX_HAMMING, n_chunks=4, id_col="url")
            s_rows = sp.collect()
        release_cached(sp)
        s_pairs = set()
        for r in s_rows:
            h = bin(self.sig[r.id_a] ^ self.sig[r.id_b]).count("1")
            expect(h == r.hamming, f"simhash hamming {r.hamming} != {h}")
            expect(h <= MAX_HAMMING, f"simhash pair above max_hamming: {h}")
            s_pairs.add((min(r.id_a, r.id_b), max(r.id_a, r.id_b)))
        expect(len(s_pairs) == len(s_rows), "duplicate simhash pairs")
        expect(self.identical <= s_pairs, "simhash missed an identical-text pair")
        s["pairs"] = len(s_pairs)


# ---------------------------------------------------------------------------
# Snapshot reconciliation: reconcile() + AuditStore review loop
# ---------------------------------------------------------------------------

RECON_CFG = {
    "include_missing_records": True,
    "fields": {
        "name": {"type": "string", "fuzzy_match": 90},
        "amount": {"type": "decimal", "tolerance": 0.05},
        "status": {},
    },
}
N_REJECT = 100


def _h(col, salt: int, mod: int):
    return F.pmod(F.xxhash64(col, F.lit(salt)), F.lit(mod))


class ReconcileAudit(Workload):
    name = "reconcile_audit"
    rows_label = "snapshot rows"
    layers = ("reconcile.reconcile", "sources.state.save_run", "sources.state.review")

    def __init__(self, rows, scale=1.0):
        self.n = max(1000, int(rows * scale))

    def generate(self, spark, data_dir, seed):
        """Old and new snapshots keyed by ``id``.  Perturbation class
        ``c`` (0-99, a hash of the id) decides each new row:

        * c < 5: ``name`` gets one character replaced by ``x`` (not a hex
          digit).  Indel ratio 100*40/42 = 95.2 >= 90: a match.
        * 5 <= c < 8 or 18 <= c < 20: the 16 hex digits of ``name`` are
          mapped into the disjoint alphabet g-v, leaving only the
          ``cust-`` prefix in common.  Ratio 100*10/42 = 23.8: a mismatch.
        * 8 <= c < 12: ``amount`` + 0.02, inside the 0.05 tolerance.
        * 12 <= c < 15: ``amount`` + 1.00, outside it.
        * 15 <= c < 20: ``status`` changes (exact rule).

        So a name is an exception exactly when its Levenshtein distance
        to the old name exceeds 1.  2% of old ids are deleted and n/50
        new ids are added."""
        old = spark.range(self.n).select(
            F.col("id"),
            F.concat(F.lit("cust-"), F.lpad(F.lower(F.hex(F.xxhash64("id", F.lit(seed)))), 16, "0")).alias("name"),
            (_h("id", seed + 1, 10_000_000) / 100).cast("decimal(12,2)").alias("amount"),
            F.element_at(F.array(*[F.lit(s) for s in ("open", "closed", "pending", "hold")]),
                         (_h("id", seed + 2, 4) + 1).cast("int")).alias("status"),
        )
        c = _h("id", seed + 3, 100)
        hexpart = F.substring("name", 6, 16)
        statuses = F.array(*[F.lit(s) for s in ("open", "closed", "pending", "hold")])
        new = old.where(_h("id", seed + 4, 100) >= 2).select(
            "id",
            F.when(c < 5, F.concat(F.lit("cust-x"), F.substring("name", 7, 15)))
            .when(((c >= 5) & (c < 8)) | (c >= 18) & (c < 20),
                  F.concat(F.lit("cust-"), F.translate(hexpart, "0123456789abcdef", "ghijklmnopqrstuv")))
            .otherwise(F.col("name")).alias("name"),
            F.when((c >= 8) & (c < 12), F.col("amount") + F.lit(0.02).cast("decimal(12,2)"))
            .when((c >= 12) & (c < 15), F.col("amount") + F.lit(1).cast("decimal(12,2)"))
            .otherwise(F.col("amount")).cast("decimal(12,2)").alias("amount"),
            F.when((c >= 15) & (c < 20),
                   F.element_at(statuses, (F.array_position(statuses, F.col("status")) % 4 + 1).cast("int")))
            .otherwise(F.col("status")).alias("status"),
        )
        added = spark.range(self.n, self.n + self.n // 50).select(
            "id",
            F.concat(F.lit("cust-"), F.lpad(F.lower(F.hex(F.xxhash64("id", F.lit(seed)))), 16, "0")).alias("name"),
            F.lit(1).cast("decimal(12,2)").alias("amount"),
            F.lit("open").alias("status"),
        )
        old.write.mode("overwrite").parquet(os.path.join(data_dir, "old.parquet"))
        new.unionByName(added).write.mode("overwrite").parquet(os.path.join(data_dir, "new.parquet"))

    def load(self, spark, data_dir):
        import duckdb

        self.data_dir = data_dir
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        old = f"read_parquet('{os.path.join(data_dir, 'old.parquet')}/*.parquet')"
        new = f"read_parquet('{os.path.join(data_dir, 'new.parquet')}/*.parquet')"
        # expected exception cells, one row per (id, field)
        con.execute(f"""
            CREATE TABLE expected AS
            WITH j AS (
              SELECT o.id AS oid, n.id AS nid, o.name AS o_name, n.name AS n_name,
                     o.amount AS o_amount, n.amount AS n_amount,
                     o.status AS o_status, n.status AS n_status
              FROM {old} o FULL OUTER JOIN {new} n ON o.id = n.id)
            SELECT oid AS id, 'name' AS field FROM j
              WHERE oid IS NOT NULL AND nid IS NOT NULL AND levenshtein(o_name, n_name) > 1
            UNION ALL SELECT oid, 'amount' FROM j
              WHERE oid IS NOT NULL AND nid IS NOT NULL AND abs(o_amount - n_amount) > 0.05
            UNION ALL SELECT oid, 'status' FROM j
              WHERE oid IS NOT NULL AND nid IS NOT NULL AND o_status <> n_status
            UNION ALL SELECT coalesce(oid, nid), '_record_status' FROM j
              WHERE oid IS NULL OR nid IS NULL
        """)
        n_old, n_new, n_both = con.execute(
            f"SELECT (SELECT count(*) FROM {old}), (SELECT count(*) FROM {new}),"
            f" (SELECT count(*) FROM {old} o JOIN {new} n USING (id))"
        ).fetchone()
        field_exc, total = con.execute(
            "SELECT count(*) FILTER (WHERE field <> '_record_status'), count(*) FROM expected"
        ).fetchone()
        self.n_rows = n_old + n_new
        self.n_both = n_both
        self.exp_total = total
        self.exp_match_pct = round(100.0 * (3 * n_both - field_exc) / (3 * n_both), 2)
        self.con = con

    def rows(self):
        return self.n_rows

    def _inputs(self, spark):
        from data_reconciliation_spark.sources.readers import read_table

        return read_table(spark, self.data_dir, "old"), read_table(spark, self.data_dir, "new")

    def op(self, spark, tmp, tracer=None):
        from data_reconciliation_spark import reconcile
        from data_reconciliation_spark.sources.state import AuditStore

        span = tracer.span if tracer else nullspan
        old, new = self._inputs(spark)
        with span("reconcile.reconcile"):
            res = reconcile(old, new, ["id"], RECON_CFG)
        store = AuditStore(spark, os.path.join(tmp, "audit"))
        with span("sources.state.save_run") as s:
            run_id = store.save_run("perfbench", res.match_pct, res.exceptions, "id")
        with span("sources.state.review"):
            store.reject_exceptions(run_id, list(range(N_REJECT)))
            review = store.recalculate_match_rate(run_id)
        s["exceptions"] = review["original_exceptions"]
        res.release()
        return {"match_pct": res.match_pct, "run_id": run_id, "review": review}

    def check(self, out, tmp):
        expect(out["run_id"] is not None, "save_run skipped the run")
        expect(out["match_pct"] == self.exp_match_pct,
               f"match_pct {out['match_pct']} != {self.exp_match_pct}")
        audit = os.path.join(tmp, "audit")
        files = parquet_files(os.path.join(audit, "exceptions"))
        expect(bool(files), "no exceptions written")
        con = self.con
        con.execute("CREATE OR REPLACE TEMP TABLE got AS SELECT id, field FROM read_parquet(?)", [files])
        got, tp, flagged_clean = con.execute("""
            SELECT (SELECT count(*) FROM got),
                   (SELECT count(*) FROM got JOIN expected USING (id, field)),
                   (SELECT count(DISTINCT id) FROM got WHERE id NOT IN (SELECT id FROM expected))
        """).fetchone()
        (n_runs_exc,) = con.execute(
            "SELECT num_exceptions FROM read_parquet(?)", [parquet_files(os.path.join(audit, "runs"))]
        ).fetchone()
        expect(got == self.exp_total, f"{got} exceptions written, {self.exp_total} expected")
        expect(tp == got, f"{got - tp} written exceptions are not expected ones")
        expect(n_runs_exc == self.exp_total, f"run records {n_runs_exc} exceptions")
        review = out["review"]
        rejected = min(N_REJECT, self.exp_total)
        expect(review["original_exceptions"] == self.exp_total, "review sees another exception count")
        expect(review["rejected_exceptions"] == rejected, f"{review['rejected_exceptions']} rejected")
        expect(review["remaining_exceptions"] == self.exp_total - rejected, "remaining count wrong")
        expect(review["new_match_rate"] == round(100.0 * rejected / self.exp_total, 2),
               "recalculated match rate wrong")
        (n_changed,) = con.execute(
            "SELECT count(DISTINCT id) FROM expected WHERE field <> '_record_status'"
        ).fetchone()
        unchanged = self.n_both - n_changed
        return {
            "pairwise_f1": f1_score(tp, got, self.exp_total),
            "dup_pair_recall": 1.0 - flagged_clean / unchanged,
        }


def workloads(scale: float = 1.0) -> dict[str, Workload]:
    return {
        w.name: w
        for w in (
            # 100 entities over 400 hosts: few entities share a host, so the
            # amount of work varies little from seed to seed
            ErLink("er_link_dense", 2000, 20, 50, 400, checkpoint=True, scale=scale),
            ReconcileAudit(100_000, scale=scale),
            # not in BENCHMARK.json (time budget); run it by name
            ErLink("er_link", 4000, 4, 20, 50, checkpoint=False, scale=scale),
        )
    }
