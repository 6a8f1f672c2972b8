"""The flagship end-to-end dedup pipeline — graft of the reference's
``dedup.py`` lifecycle (SURVEY.md §3.1) onto Spark stages:

  read pages
    -> usable filter + normalize                (narrow, codegen)
    -> exact-hash family pass                   (shuffle 1: groupBy norm_hash)
    -> MinHash + SimHash fingerprints           (narrow, Arrow pandas UDF,
                                                 one row per *family* — the
                                                 exact pass already collapsed
                                                 identical text)
    -> LSH band explode + substring windows     (narrow)
    -> candidate pairs                          (shuffles 2-3: bucket agg, dedup)
    -> directional edges                        (attr joins)
    -> label-propagation CC fixpoint            (O(log diameter) rounds; one
                                                 shuffle each while the labels
                                                 broadcast)
    -> representative / estimator / survivors   (window + applyInPandas)
    -> map-back join, metrics                   (broadcast-ish join)
    -> write marked corpus + clusters + metrics

Each stage optionally snapshots to a checkpoint table with a manifest;
a rerun resumes from the newest complete snapshot (north-rule requirement;
see tests/test_resume.py). Stage ordering mirrors the reference: the
exact pass (optical analog) runs before the near-dup pass and its
survivors/counts feed the estimator, exactly as
``lib/markdup_sam.py:165-193``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from umi_dedup_spark import io as dio
from umi_dedup_spark.config import DedupConfig
from umi_dedup_spark.functions.hashing import MINHASH_SEED, make_fingerprint_udf
from umi_dedup_spark.operators.cc import propagate_labels
from umi_dedup_spark.operators.directional import build_edges
from umi_dedup_spark.operators.estimators import cluster_survivor_counts, survivor_spec
from umi_dedup_spark.operators.exact import (
    exact_families,
    mark_exact_duplicates,
    prepare_docs,
)
from umi_dedup_spark.operators.lsh import add_band_hashes, candidate_pairs
from umi_dedup_spark.operators.suffix import ANCHOR_STRIDE, WINDOW_TOKENS, window_band_rows
from umi_dedup_spark.operators.representative import (
    attach_rep_url,
    cluster_table,
    mark_survivors,
    mark_survivors_and_rep,
)
from umi_dedup_spark.operators.stats import (
    category_counts,
    count_histogram,
    library_stats,
    partition_lineage,
)


@dataclass
class PipelineResult:
    marked: DataFrame
    clusters: DataFrame
    metrics: dict = field(default_factory=dict)
    stage_times: dict = field(default_factory=dict)


class DedupPipeline:
    def __init__(
        self,
        spark: SparkSession,
        cfg: DedupConfig | None = None,
        checkpoint_dir: str | None = None,
    ):
        self.spark = spark
        self.cfg = cfg or DedupConfig()
        self.checkpoint_dir = checkpoint_dir
        # stage name -> its DataFrame, in run order; lineage() reads it
        self._stage_dfs: dict[str, DataFrame] = {}
        self.stage_rows: dict[str, int] = {}
        # always defined, even on fully-resumed runs (overflow is persisted
        # as its own checkpoint stage, so resume restores it)
        self.metrics_overflow: DataFrame | None = None
        self.cc_iterations: int | None = None

    # -- checkpoint helpers -------------------------------------------
    def _ckpt_path(self, stage: str) -> str | None:
        if not self.checkpoint_dir:
            return None
        return os.path.join(self.checkpoint_dir, stage)

    def _stage(self, stage: str, df_fn, resume: bool, materialize: bool = True) -> DataFrame:
        """Run (or resume) a stage; snapshot when checkpointing.

        Every stage that is materialized records its row count in
        ``stage_rows``: observed on the checkpoint or the durable write,
        or read from the manifest of a resumed snapshot.

        materialize=False: the stage feeds exactly one downstream consumer
        — return it lazily (no checkpoint, no eager count) so Spark fuses it
        into the consumer's job instead of a serial driver barrier. Only
        applies when no durable checkpoint is requested.
        """
        path = self._ckpt_path(stage)
        if path and resume and dio.stage_complete(path, self.cfg):
            self.stage_rows[stage] = dio.read_manifest(path)["rows"]
            self._stage_dfs[stage] = dio.read_table(self.spark, path)
            return self._stage_dfs[stage]
        df = df_fn()
        if path:
            self.stage_rows[stage] = dio.write_table(
                df, path, stage=stage, config=self.cfg
            )
            df = dio.read_table(self.spark, path)
        elif materialize:
            # multi-consumer stage: materialize once so downstream stages
            # (and the CC fixpoint loop) never recompute the fingerprint
            # UDFs / bucket aggregate. The checkpoint hands consumers a
            # LogicalRDD leaf that cuts the lineage (no whole-pipeline
            # Catalyst analysis per consumer) and keeps the stage's size
            # estimate, so joins against a small stage table plan as
            # broadcast hash joins. It does NOT keep the output
            # partitioning: under AQE the leaf reports
            # UnknownPartitioning(0), eager or lazy, and a join on it
            # plans Exchange hashpartitioning over Scan ExistingRDD.
            # Interleaved A/B on skew_naive (10 pairs, 4-CPU host)
            # against persist() plus a stats-less leaf: cpu_s 35.0 ->
            # 25.1 s, wall_s 10.6 -> 8.7 s; the edges stage's 24
            # sort-merge joins became broadcasts.
            # MEMORY_AND_DISK is PySpark's serialized level; the JVM
            # default keeps rows deserialized, several times larger.
            # Broadcast sizing: the leaf carries Catalyst's ESTIMATE, and
            # ArrayType's default size counts one element, so families
            # reports ~1/9 of its real bytes and its (norm_hash, minhash)
            # projection ~1/16-1/20. The 10 MB autoBroadcastJoinThreshold
            # thus lets the edges stage broadcast up to ~200 MB of
            # minhash rows (reached at ~380k families; NOTES "Stage
            # boundary: localCheckpoint" has the per-stage figures).
            # The row count rides the checkpoint's own job as an
            # Observation (counting the checkpoint afterwards cost two
            # more jobs under AQE). It fires on an EAGER checkpoint,
            # empty and zero-partition inputs included; on a lazy one it
            # would silently report 0.
            obs = Observation()
            df = df.observe(obs, F.count(F.lit(1)).alias("rows")).localCheckpoint(
                eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
            )
            self.stage_rows[stage] = obs.get["rows"]
        self._stage_dfs[stage] = df
        return df

    def lineage(self) -> DataFrame:
        """Per-partition row counts of every stage the last run recorded,
        resumed and lazy ones included. Built on demand: each stage's
        plan costs driver round trips, and only the job CLI writes it."""
        return reduce(
            lambda a, b: a.unionByName(b),
            [partition_lineage(df, name) for name, df in self._stage_dfs.items()],
        )

    # -- the plan ------------------------------------------------------
    def run(self, pages: DataFrame, resume: bool = False) -> PipelineResult:
        cfg = self.cfg
        times: dict[str, float] = {}
        self._stage_dfs = {}

        def timed(name, fn, materialize: bool = True):
            t0 = time.time()
            # label the stage's jobs in the UI / REST API (guide §1.5)
            self.spark.sparkContext.setJobDescription(f"dedup-stage:{name}")
            try:
                out = self._stage(name, fn, resume, materialize)
            finally:
                self.spark.sparkContext.setJobDescription(None)
            times[name] = round(time.time() - t0, 3)
            return out

        self._ingest_has_doc_id = "doc_id" in pages.columns
        # docs_full stays LAZY (usable filter + hash/quality projection
        # over the source); the materialized docs table is NARROW — no text.
        # Text is consumed exactly twice, both as lazy source re-scans:
        # the families aggregation (fingerprints need it per family) and
        # the final output join. It never sits in the cache and never
        # rides the survivor/cluster exchanges — payload bytes through
        # shuffles are what does not scale.
        docs_full = prepare_docs(pages)
        # docs stays materialized: an interleaved A/B (r6, 4 pairs, one
        # session) measured the lazy variant LOSING — the marked stage's
        # two docs sub-consumers do not share an exchange in practice,
        # so the recompute (+1s in marked) exceeds the ~0.3s materialize
        # barrier saved (lazy 8.1-8.8s pipeline vs persisted 7.1-8.0s)
        docs = timed("docs", lambda: docs_full.drop("text"))

        def build_families():
            # ONE Arrow pandas UDF computes MinHash + SimHash + winnowing
            # window hashes from a single tokenization of norm_text: the
            # text-sized column is consumed here and never cached or
            # shuffled — the materialized family row is narrow (two hash
            # arrays + scalars).
            fp_udf = make_fingerprint_udf(
                cfg.shingle_k, cfg.num_perm, MINHASH_SEED,
                WINDOW_TOKENS, ANCHOR_STRIDE,
                cfg.fingerprint_max_tokens,
            )
            return (
                exact_families(docs_full)
                .withColumn("fp", fp_udf(F.col("norm_text")))
                .select(
                    "norm_hash",
                    "fam_count",
                    "fam_tb",
                    F.col("fp.minhash").alias("minhash"),
                    F.col("fp.simhash").alias("simhash"),
                    F.col("fp.win_hashes").alias("win_hashes"),
                )
            )

        fams = timed("families", build_families)

        def build_pairs():
            # LSH band rows and substring window rows share one bucket
            # aggregate: union first, then a single candidate_pairs pass
            # (one shuffle on (band_id, band_hash), one pair-dedupe agg).
            # window_band_rows maps the fused UDF's win_hashes into
            # substring bucket rows of the same shape as the LSH bands.
            banded = add_band_hashes(fams, cfg).unionByName(
                window_band_rows(fams)
            )
            pairs, overflow = candidate_pairs(banded, cfg)
            self._overflow_raw = overflow
            return pairs

        # pairs are consumed TWICE by the two-phase edge gate (cheap-gate
        # branch + minhash-residual branch) — materialize, or the bucket
        # aggregate + pair emission executes once per branch (measured:
        # the fused-lazy variant doubled the edges stage wall)
        self._overflow_raw = None
        pairs = timed("pairs", build_pairs)

        # overflow metrics: their own checkpoint stage (so a resumed run
        # restores them even when the pairs stage is skipped); a bucket
        # count over the banded rows that only this stage reads.
        over_path = self._ckpt_path("pairs_overflow")
        if self._overflow_raw is not None or (
            over_path and resume and dio.stage_complete(over_path, cfg)
        ):
            self.metrics_overflow = timed(
                "pairs_overflow", lambda: self._overflow_raw
            )

        edges = timed(
            "edges",
            lambda: build_edges(pairs, fams, cfg),
        )

        def build_labels():
            # fixpoint working set = families touched by >= 1 edge only;
            # untouched families (the vast majority of a web corpus) never
            # enter the loop — cluster_table() self-assigns them (C9
            # single-UMI shortcut, reference lib/sequence_error.py:131-132)
            # the endpoints are deduped map-side before the semi join:
            # 5,819 rows shuffled for skew_naive's 326,666 edges, where
            # the raw src/dst union shuffled 653,332
            touched = edges.select(
                F.explode(F.array("src", "dst")).alias("fam")
            ).distinct()
            nodes = fams.select(
                F.col("norm_hash").alias("fam"), "fam_count", "fam_tb"
            ).join(touched, "fam", "left_semi")
            labels, iters = propagate_labels(nodes, edges)
            self.cc_iterations = iters
            return labels

        # labels are already localCheckpoint'ed inside propagate_labels and
        # feed exactly one consumer — a second checkpoint would just copy them
        labels = timed("labels", build_labels, materialize=False)

        clustered = timed("clusters", lambda: cluster_table(fams, labels))
        # cluster_survivor_counts reads the estimator spec three times:
        # materialize it so the pandas estimator runs once. Its own stage,
        # not nested in "marked": a job carries one stage description.
        if cfg.algorithm != "naive":
            spec = timed(
                "survivor_spec",
                lambda: survivor_spec(
                    clustered, cfg.algorithm, cfg.keyspace_size, cfg.kmax
                ),
            )

        def build_marked():
            # the whole survivor/cluster chain runs on NARROW doc rows;
            # the text payload joins back exactly once at the end
            docs_exact = mark_exact_duplicates(docs)
            doc_clusters = docs_exact.join(
                clustered.select("norm_hash", "cluster_id"), "norm_hash"
            )
            if cfg.algorithm == "naive":
                # fused survivor+representative: one agg+join, not two
                marked = mark_survivors_and_rep(doc_clusters)
            else:
                # the representative comes from the unmarked docs, so its
                # aggregate never re-reads the survivor rank
                n_keep = cluster_survivor_counts(clustered, spec).select(
                    "norm_hash", "n_keep"
                )
                reps = attach_rep_url(doc_clusters)
                marked = mark_survivors(
                    reps.join(n_keep, "norm_hash"),
                    "n_keep",
                    partition_cols=("cluster_id", "norm_hash"),
                )
                # the naive branch's columns, in its order (n_keep drops)
                marked = marked.select(
                    *reps.drop("rep_url").columns, "is_duplicate", "rep_url"
                )
            # text side deduped by doc_key: the same document can appear
            # under one doc_key more than once (re-crawled url in inputs
            # without warc_ts, or a 64-bit key collision) and a raw join
            # would multiply marked rows many-to-many. min(text) is
            # deterministic; the agg output is already partitioned by
            # doc_key so the join adds no extra text exchange. When the
            # ingest carries an explicit doc_id, doc_key IS that id
            # (prepare_docs) and unique by ingest contract — skip the
            # text-sized sort+agg entirely and join the raw projection
            # (the round-3 agg was a suspect in the flagship bench
            # regression: a full-corpus sort of the payload column that
            # buys nothing when keys are unique by construction).
            if self._ingest_has_doc_id:
                texts = docs_full.select("doc_key", "text")
            else:
                texts = docs_full.groupBy("doc_key").agg(F.min("text").alias("text"))
            return marked.join(texts, "doc_key", "left")

        marked = timed("marked", build_marked)

        result = PipelineResult(marked=marked, clusters=clustered, stage_times=times)
        return result

    def assert_no_bucket_overflow(self) -> None:
        """Fail loudly if any LSH/substring bucket exceeded
        ``max_bucket_families`` in the last run.

        The end-to-end DuckDB oracle (``q_flagship_pipeline``) mirrors the
        candidate stage as plain band equi-joins — i.e. ALL pairs per
        bucket; the engine's star+chain fallback for oversized buckets is
        deliberately not mirrored in SQL. The mirror is therefore only a
        valid oracle while overflow == 0. Oracle-scale runs must call this
        so a testdata/config change can never silently turn hash_match
        into a coin flip (VERDICT r3 "What's missing" #2)."""
        if self.metrics_overflow is None:
            return
        hot = self.metrics_overflow.count()
        if hot:
            raise AssertionError(
                f"{hot} candidate bucket(s) overflowed max_bucket_families="
                f"{self.cfg.max_bucket_families}: the engine degraded them to "
                "star+chain pairs, which the SQL oracle's all-pairs band join "
                "does not mirror — oracle comparison is invalid at this "
                "scale/config"
            )

    # -- reports (materialize on demand) --------------------------------
    def summary(self, result: PipelineResult) -> dict:
        cats = {
            r["category"]: r["n"] for r in category_counts(result.marked).collect()
        }
        lib = library_stats(result.marked)
        hist = count_histogram(result.clusters).collect()
        out = {
            "categories": cats,
            "library": lib,
            "count_histogram": [(r["count_value"], r["n_keys"]) for r in hist],
            "cc_iterations": self.cc_iterations,
            "overflow_buckets": (
                self.metrics_overflow.count()
                if self.metrics_overflow is not None
                else None
            ),
            "stage_times": result.stage_times,
        }
        result.metrics = out
        return out
