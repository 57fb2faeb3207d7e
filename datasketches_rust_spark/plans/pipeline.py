"""End-to-end dedup pipeline: signatures → LSH → verify → clusters.

Mirrors the reference's map-then-merge contract at plan level: stage 1 is
the per-partition "update" kernel (map-side only), stages 2-4 are the
commutative merges (shuffle on content_sha / band keys), and every stage
boundary is a serialized compact form (parquet checkpoint ≙ the
CompactThetaSketch exchange path, theta/sketch.rs:443-491).

Checkpoint/resume: each stage writes to ``<dir>/<stage>`` plus a one-row
``_meta`` parquet carrying (stage, fingerprint). The fingerprint chains
cfg_hash with the upstream stage's fingerprint — the pipeline-level analog
of the reference's seed-hash compatibility check (hash/seed.rs:42-55): a
resumed run with a different config or different upstream refuses to reuse
the checkpoint and recomputes. ``_metrics`` accumulates per-stage row
counts (map-then-merge accounting, FIXTURES.md F5). With or without a
checkpoint dir, ``rows`` holds each stage's row count and ``decisions``
each path choice with the numbers behind it.
"""

from __future__ import annotations

import logging
import os

import pyarrow as pa
from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..config import KEY_ROW_BYTES, PAIR_BYTES, PipelineConfig
from ..operators.connected_components import components_on_driver, connected_components
from ..operators.lsh import (
    candidate_pairs,
    candidate_pairs_on_driver,
    exact_pairs,
    exact_rep_keys,
    exact_representatives,
    has_duplicate_id_rows,
    rep_payload,
)
from ..operators.signatures import compute_signatures, file_id_col
from ..operators.substring import containment_pairs
from ..operators.verify import verify_pairs, verify_pairs_on_driver

log = logging.getLogger(__name__)

# Driver-path limits, each where the driver was measured against the Spark
# broadcast path (stage walls, warm local[4] session, generated corpora at
# size_scale 1, rep subsets of a 25,000- and a 200,000-file corpus, 3
# alternating pairs per point):
# - candidates won at every rep count measured: 3,576 reps 0.47-0.83 vs
#   1.48-3.73 s, 22,444 reps 0.50-0.83 vs 2.07-3.04 s, 89,857 reps
#   1.08-1.64 vs 5.91-6.06 s, 179,944 reps 2.90-6.28 vs 15.1-24.9 s (6g
#   driver; with 3g the Spark path's band join failed to build its hash
#   relation). DRIVER_REPS rounds the largest up; past it the driver path
#   is unmeasured. A whole run at 179,944 reps (146,200 candidate pairs,
#   verified by Spark) took 12.3-12.4 s against 19.4-21.3 s warm, with
#   identical clusters.
DRIVER_REPS = 180_000
# - verified runs jaccard_batch on one core, where Spark runs it on all:
#   the driver won at 5,000 candidate pairs (22,444 reps: 0.74-0.92 vs
#   0.95-1.44 s; 179,944 reps: 0.75-0.89 vs 1.01-1.80 s) and lost or tied
#   at 10,000 (1.30-1.48 vs 1.11-1.25 s; 1.40-1.44 vs 1.31-1.70 s).
DRIVER_VERIFY_PAIRS = 5_000


class DedupPipeline:
    def __init__(
        self,
        spark: SparkSession,
        cfg: PipelineConfig | None = None,
        checkpoint_dir: str | None = None,
    ):
        self.spark = spark
        self.cfg = cfg or PipelineConfig()
        self.dir = checkpoint_dir
        self.metrics: list[tuple] = []  # (stage, rows_out, fingerprint, reused)
        # latest row count of each stage, measured without a job of its own
        self.rows: dict[str, int] = {}
        # (stage, path, measured rows, budget in rows; None when pinned)
        self.decisions: list[tuple] = []

    # ------------------------------------------------------------ checkpoints

    def _meta_path(self, name: str) -> str:
        return f"{self.dir}/{name}__meta"

    def _stage(
        self, name: str, upstream_fp: str, compute, materialize: bool = True
    ) -> tuple[DataFrame, str]:
        """Run or resume one stage; returns (df, fingerprint)."""
        fp = f"{self.cfg.cfg_hash()}|{upstream_fp}|{name}"
        if self.dir is None:
            # no durable checkpoint: cut lineage EAGERLY so every downstream
            # consumer — including broadcast-subquery jobs, which Spark runs
            # before the main job and which would otherwise recompute the
            # whole upstream chain — reads this stage's materialized blocks
            # (measured: eager per-stage checkpoints beat the lazy variant
            # by ~35s on the 600k-file bench at 16 cores). Single-consumer
            # stages can opt out (materialize=False) and flow straight into
            # their consumer's aggregation. The stage's row count rides the
            # checkpoint as an observed metric (no count job). A stage
            # computed on the driver is a local relation that already
            # recorded its row count (``_local``): nothing to checkpoint.
            self.rows.pop(name, None)
            df = compute()
            if materialize and name not in self.rows:
                obs = Observation()
                df = df.observe(obs, F.count(F.lit(1)).alias("rows")).localCheckpoint(eager=True)
                self.rows[name] = obs.get["rows"]
            return df, fp
        path = f"{self.dir}/{name}"
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            read = self._meta_path(name)
            try:
                meta = self.spark.read.parquet(read).collect()
                found = meta[0]["fingerprint"] if meta else None
                if found == fp:
                    read = path
                    df = self.spark.read.parquet(path)
                    self.rows[name] = df.count()
                    self.metrics.append((name, self.rows[name], fp, True))
                    return df, fp
                reason = f"fingerprint {found!r}, expected {fp!r}"
            except (AnalysisException, Py4JJavaError, ValueError) as e:
                # missing file: PATH_NOT_FOUND; corrupt file: the job reading
                # its footers fails; no fingerprint column: the Row lookup
                reason = f"unreadable {read} ({type(e).__name__})"
            log.warning("stage %s: recomputing checkpoint, %s", name, reason)
        elif os.path.isdir(path):
            log.warning("stage %s: recomputing checkpoint, no _SUCCESS in %s", name, path)
        df = compute()
        df.write.mode("overwrite").parquet(path)
        self.spark.createDataFrame(
            [(name, fp)], "stage string, fingerprint string"
        ).write.mode("overwrite").parquet(self._meta_path(name))
        out = self.spark.read.parquet(path)
        self.rows[name] = out.count()
        self.metrics.append((name, self.rows[name], fp, False))
        return out, fp

    def flush_metrics(self) -> None:
        if self.dir is None or not self.metrics:
            return
        self.spark.createDataFrame(
            self.metrics, "stage string, rows_out long, input_fingerprint string, reused boolean"
        ).write.mode("append").parquet(f"{self.dir}/_metrics")
        self.metrics = []

    # ------------------------------------------------------------ stages

    def _dedup_stages(self, corpus: DataFrame, input_fp: str):
        """Shared stage chain up to verification.

        Returns (sigs, ids, rep_map, verified, fp4) where rep_map is the
        narrow (content_sha, rep_file_id) relation.

        Only the NARROW rep-key table is materialized; the candidates and
        verified stages re-attach the payload columns they need (bands;
        kmv/theta) from the already-materialized signature table. Three
        paths, picked by ``_rep_payload_path``:

        - driver: one Arrow collect per stage, numpy banding and the same
          Jaccard kernel (``candidate_pairs_on_driver``,
          ``verify_pairs_on_driver``); the stages are local relations.
          Each stage hands its work to the broadcast path's Spark operator
          when it measures more pairs than the driver serves: candidates
          when its buckets emit more pairs than the driver budget holds,
          verified past the measured crossover in candidate pairs
          (DRIVER_VERIFY_PAIRS);
        - broadcast: the key set broadcasts into the signature scan — the
          ~2KB-wide rows are scanned in place and never re-shuffled — and
          the Spark candidate/verify operators run on it;
        - shuffle: the classic materialized wide reps stage, for jobs whose
          key set exceeds broadcast capacity.
        """
        # signatures feed several consumers (rep keys, payload attach, the
        # final file_id→cluster map) — materialize once so the kernel runs
        # once and the cluster stage never re-scans the raw corpus
        sigs, fp1 = self._stage(
            "signatures",
            input_fp,
            lambda: compute_signatures(corpus, self.cfg),
        )
        # narrow (file_id, content_sha) projection materialized ONCE: the
        # rep keys agg, the duplicate probe and the final cluster map are
        # all narrow consumers, and a row-cached wide table gives them no
        # column pruning — this 60B/row table does
        ids, _ = self._stage("ids", fp1, lambda: sigs.select("file_id", "content_sha"))
        keys, fp2 = self._stage("rep_keys", fp1, lambda: exact_rep_keys(ids))
        path = self._rep_payload_path()
        # downstream stages see the RESOLVED decision (verify's cand-sha
        # semi-join pushdown gates on the same broadcast-capacity premise)
        rcfg = self.cfg.with_(broadcast_rep_payload=path != "shuffle")
        # the Spark operators' payload on the key broadcast, after the
        # duplicate-(sha,fid) probe: lazy so checkpoint resume skips it; at
        # most one narrow job
        memo: dict = {}

        def payload(cols: list[str]) -> DataFrame:
            if "p" not in memo:
                memo["p"] = (
                    sigs.dropDuplicates(["content_sha", "file_id"])
                    if has_duplicate_id_rows(ids)
                    else sigs
                )
            return rep_payload(memo["p"], keys, cols)

        if path == "driver":
            max_pairs = self._driver_budget() // PAIR_BYTES
            verify_limit = min(DRIVER_VERIFY_PAIRS, max_pairs)

            def driver_candidates() -> DataFrame:
                # duplicate (sha, fid) rows need no probe here: the driver
                # operators keep one row per sha
                pairs, n_pairs = candidate_pairs_on_driver(
                    rep_payload(sigs, keys, ["bands"]), rcfg, max_pairs
                )
                where = "spark" if pairs is None else "driver"
                if self._decide("candidates", where, n_pairs, max_pairs) == "spark":
                    return candidate_pairs(payload(["bands"]), rcfg)
                if pairs.num_rows <= verify_limit:
                    return self._local("candidates", pairs)
                # verify_pairs reads its candidates three times, and a
                # driver table is decoded from Arrow on every read: the
                # stage's eager checkpoint saved 1.1-5.0 s over 146,200
                # pairs (200,000 files)
                return self.spark.createDataFrame(pairs)

            def driver_verified() -> DataFrame:
                n_cands = self.rows["candidates"]
                where = "driver" if n_cands <= verify_limit else "spark"
                if self._decide("verified", where, n_cands, verify_limit) == "driver":
                    return self._local(
                        "verified",
                        verify_pairs_on_driver(
                            cands, rep_payload(sigs, keys, ["minhash_kmv", "theta64"]), rcfg
                        ),
                    )
                return verify_pairs(
                    cands, payload(["n_shingles", "minhash_kmv", "theta64"]), rcfg
                )

            cands, fp3 = self._stage("candidates", fp2, driver_candidates)
            verified, fp4 = self._stage("verified", fp3, driver_verified)
        elif path == "broadcast":
            cands, fp3 = self._stage(
                "candidates", fp2, lambda: candidate_pairs(payload(["bands"]), rcfg)
            )
            verified, fp4 = self._stage(
                "verified",
                fp3,
                lambda: verify_pairs(
                    cands, payload(["n_shingles", "minhash_kmv", "theta64"]), rcfg
                ),
            )
        else:
            reps, fp2b = self._stage(
                "reps", fp2, lambda: exact_representatives(sigs, ids, broadcast=False)
            )
            cands, fp3 = self._stage(
                "candidates", fp2b, lambda: candidate_pairs(reps, rcfg)
            )
            verified, fp4 = self._stage(
                "verified", fp3, lambda: verify_pairs(cands, reps, rcfg)
            )
        rep_map = keys.select("content_sha", "rep_file_id")
        return sigs, ids, rep_map, verified, fp4

    def _rep_payload_path(self) -> str:
        """'driver', 'broadcast' or 'shuffle', from the measured rep-key
        count unless cfg.broadcast_rep_payload pins broadcast (True) or
        shuffle (False).

        Auto mode takes the driver path up to DRIVER_REPS reps, the largest
        rep set measured to win there, and while the reps' collected
        signatures (sha + bands + kmv + theta, ~2.3 KB at the defaults)
        fit ``_driver_budget``. On the 3,000-file benchmark corpus (2,644
        reps, 759 candidate pairs; local[4], traced, 3 seeds) the driver
        path took candidates from 0.81-1.62 to 0.20-0.26 s and verified
        from 0.78-1.14 to 0.35-0.43 s, with 14 fewer Spark jobs per run
        and no shuffle writes (was 5.4 MB).
        """
        n_keys = self.rows["rep_keys"]
        limit = self.cfg.broadcast_key_limit
        pinned = self.cfg.broadcast_rep_payload
        if pinned is not None:
            path = "broadcast" if pinned else "shuffle"
            return self._decide("rep_payload", path, n_keys, None)
        rep_bytes = 32 + 8 * self.cfg.num_bands + 8 * self.cfg.kmv_k + 8
        driver_keys = min(DRIVER_REPS, self._driver_budget() // rep_bytes)
        if n_keys <= driver_keys:
            return self._decide("rep_payload", "driver", n_keys, driver_keys)
        path = "broadcast" if n_keys <= limit else "shuffle"
        return self._decide("rep_payload", path, n_keys, limit)

    def _driver_budget(self) -> int:
        """Driver bytes the driver-side stages may hold: broadcast_key_limit
        rows of KEY_ROW_BYTES, and no more than spark.driver.maxResultSize,
        past which a collect aborts its job."""
        budget = self.cfg.broadcast_key_limit * KEY_ROW_BYTES
        conf = self.spark.sparkContext._jsc.sc().getConf()
        max_result = conf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
        return min(budget, max_result) if max_result else budget  # 0 = no limit

    def _decide(self, stage: str, path: str, rows: int, budget: int | None) -> str:
        """Record (and log) a path decision with the numbers behind it."""
        self.decisions.append((stage, path, rows, budget))
        why = "pinned by the config" if budget is None else f"budget {budget} rows"
        log.info("stage %s: %s path (%d rows, %s)", stage, path, rows, why)
        return path

    def _local(self, name: str, table: pa.Table) -> DataFrame:
        """A driver-computed stage's Arrow table as a local relation; its
        row count is known without a job."""
        self.rows[name] = table.num_rows
        return self.spark.createDataFrame(table)

    def run(self, corpus: DataFrame, input_fp: str = "corpus") -> DataFrame:
        """corpus(repo,path,commit,lang,content) → clusters(file_id,
        content_sha, cluster_id). cluster_id = min content_sha in component;
        non-duplicated files map to their own content_sha."""
        _, ids, _, verified, fp4 = self._dedup_stages(corpus, input_fp)
        edges = (
            verified.where("accepted")
            .select(F.col("sha_a").alias("src"), F.col("sha_b").alias("dst"))
        )

        def compute_clusters():
            # the verified row count bounds the edge count and is already
            # measured; within the driver's row budget, cluster on the
            # driver. Warm runs at 3,000 files (446 edges, local[4]): the
            # star loop's clusters stage ran 19 Spark jobs in 1.28-1.86 s
            # (0.29 s of task time, the rest driver time between jobs),
            # the driver path 5 jobs in 0.26-0.47 s. The star loop serves
            # graphs beyond the driver's budget.
            limit = self.cfg.broadcast_key_limit
            n_verified = self.rows["verified"]
            path = "driver" if n_verified <= limit else "star"
            if self._decide("clusters", path, n_verified, limit) == "driver":
                assign = components_on_driver(edges)
            else:
                assign = connected_components(edges, checkpoint_dir=self.dir)
            return (
                ids
                .join(
                    assign.withColumnRenamed("node", "content_sha"),
                    "content_sha",
                    "left",
                )
                .select(
                    "file_id",
                    # render the binary keys as the usual lowercase hex at
                    # the output boundary (identical to sha2's text form)
                    F.lower(F.hex("content_sha")).alias("content_sha"),
                    F.lower(
                        F.hex(F.coalesce("component", "content_sha"))
                    ).alias("cluster_id"),
                )
            )

        clusters, _ = self._stage("clusters", fp4, compute_clusters)
        self.flush_metrics()
        return clusters

    def containment(
        self, corpus: DataFrame, input_fp: str = "corpus", prefilter: bool = True
    ) -> DataFrame:
        """Substring-containment pairs (file_id_contained, file_id_container)
        over the corpus — the suffix/substring dedup stage, run alongside
        the MinHash pipeline.

        Exemplar of the ``n_docs`` hint (operators/substring.py): the
        prefilter bloom is sized from the ids stage's measured row count
        (checkpoint ``_metrics`` or observed on its materialization), so NO
        sizing ``count()`` job over the corpus appears in the plan. The
        signature/ids stages are shared with ``run()``/``dup_pairs()`` —
        checkpointed or cached once, reused by every consumer.
        """
        sigs, fp1 = self._stage(
            "signatures", input_fp, lambda: compute_signatures(corpus, self.cfg)
        )
        ids, _ = self._stage("ids", fp1, lambda: sigs.select("file_id", "content_sha"))
        docs = corpus.select(file_id_col().alias("file_id"), F.col("content"))
        return containment_pairs(
            docs,
            id_col="file_id",
            text_col="content",
            window=self.cfg.substr_window,
            prefilter=prefilter,
            n_docs=self.rows["ids"],
        )

    def dup_pairs(self, corpus: DataFrame, input_fp: str = "corpus") -> DataFrame:
        """(file_id-level) exact + verified near-dup pairs — F3 schema."""
        _, ids, rep_map, verified, _ = self._dedup_stages(corpus, input_fp)
        near = (
            verified.where("accepted")
            .join(rep_map.withColumnRenamed("content_sha", "sha_a")
                  .withColumnRenamed("rep_file_id", "file_id_a"), "sha_a")
            .join(rep_map.withColumnRenamed("content_sha", "sha_b")
                  .withColumnRenamed("rep_file_id", "file_id_b"), "sha_b")
            .select(
                F.least("file_id_a", "file_id_b").alias("file_id_a"),
                F.greatest("file_id_a", "file_id_b").alias("file_id_b"),
                "jaccard_est",
                F.lit("near").alias("kind"),
            )
        )
        ex = exact_pairs(ids)
        self.flush_metrics()
        return ex.unionByName(near)
