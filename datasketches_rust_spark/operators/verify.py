"""Stage 3 — Jaccard verification of candidate pairs.

Computes the theta-sketch Jaccard estimate for every candidate pair from
the k-min signatures alone (no second scan of file contents), replicating
``/root/reference/datasketches/src/thetafamily/common/jaccard_similarity.rs
:227-332``: combined theta = min of the pair's thetas, union capacity sized
to |A|+|B| (so it never truncates for k-bounded signatures), estimate =
|A∩B∩U| / |U|; exact whenever both sides are exact-mode sketches.

Acceptance uses the *upper confidence bound* (est + slack·sigma, sigma =
sqrt(J(1-J)/k)) when either side is an estimating sketch — the
no-false-negatives mode of the reference's frequent-items thresholds
(frequencies/sketch.rs:394-430, ErrorType::NoFalseNegatives) applied to
the recall>=0.99 contract. Exact-mode pairs are thresholded exactly.

The kernel is fully vectorized across a batch of pairs: all signature
arrays are concatenated into one value vector with pair ids, one lexsort
finds duplicate (pair, value) entries = per-pair intersection sizes. No
per-pair Python beyond pointer-level ``np.concatenate``.

Two paths run the same kernel and the same rule (``accepted``):
``verify_pairs`` joins the pairs to their signatures in Spark and verifies
in ``mapInPandas`` batches; ``verify_pairs_on_driver`` collects the
candidate shas' signatures once and verifies the pairs in numpy on the
driver, which skips the shuffles and the pandas round trip at the UDF
boundary but runs the kernel on one core. ``DedupPipeline`` pairs it with
``lsh.candidate_pairs_on_driver`` up to the measured crossover in
candidate pairs (``DRIVER_VERIFY_PAIRS``, ``plans/pipeline.py``) and
verifies larger candidate sets with ``verify_pairs``.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..config import MAX_THETA63, PipelineConfig
from .signatures import sha_array, sha_values

VERIFIED_SCHEMA = "sha_a binary, sha_b binary, jaccard_est double, accepted boolean"
# pairs per jaccard_batch call on the driver path
DRIVER_BATCH = 16_384


def jaccard_batch(
    kmv_a: list, theta_a: np.ndarray, kmv_b: list, theta_b: np.ndarray
) -> np.ndarray:
    """Vectorized pairwise theta-Jaccard for a batch of pairs.

    ``kmv_a``/``kmv_b`` are binary blobs of little-endian uint64 sorted
    hashes (the signature column's packed form): one bytes-join +
    frombuffer decodes the whole batch.
    """
    n = len(theta_a)
    la = np.fromiter((len(x) // 8 for x in kmv_a), dtype=np.int64, count=n)
    lb = np.fromiter((len(x) // 8 for x in kmv_b), dtype=np.int64, count=n)
    theta = np.minimum(theta_a, theta_b).astype(np.int64)

    if n == 0:
        return np.empty(0, dtype=np.float64)

    vals = np.frombuffer(
        b"".join(kmv_a) + b"".join(kmv_b), dtype="<u8"
    ).astype(np.int64)
    pid = np.concatenate([np.repeat(np.arange(n), la), np.repeat(np.arange(n), lb)])

    keep = vals < np.concatenate([np.repeat(theta, la), np.repeat(theta, lb)])
    vals, pid = vals[keep], pid[keep]

    order = np.lexsort((vals, pid))
    vals, pid = vals[order], pid[order]
    dup = np.zeros(len(vals), dtype=bool)
    if len(vals) > 1:
        dup[1:] = (pid[1:] == pid[:-1]) & (vals[1:] == vals[:-1])

    inter = np.bincount(pid[dup], minlength=n).astype(np.float64)
    total = np.bincount(pid, minlength=n).astype(np.float64)
    union = total - inter
    # both sides empty below theta → identical-empty shortcut: J = 1
    # (jaccard_similarity.rs:323-332)
    j = np.where(union > 0, inter / np.maximum(union, 1.0), 1.0)
    return j


def accepted(
    j: np.ndarray, theta_a: np.ndarray, theta_b: np.ndarray, cfg: PipelineConfig
) -> np.ndarray:
    """The acceptance rule: exact-mode pairs (both thetas at MAX_THETA63)
    are thresholded on the estimate itself; a pair with an estimating side
    is accepted on its upper confidence bound est + 2·sigma, sigma =
    sqrt(J(1-J)/k)."""
    estimating = (theta_a < MAX_THETA63) | (theta_b < MAX_THETA63)
    sigma = np.sqrt(np.clip(j * (1.0 - j), 0.0, None) / cfg.kmv_k)
    # NUM_STD_DEVS = 2.0, jaccard_similarity.rs:36
    return np.where(estimating, j + 2.0 * sigma, j) >= cfg.jaccard_threshold


def verify_pairs(
    candidates: DataFrame, reps: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """candidates(sha_a, sha_b) → (sha_a, sha_b, jaccard_est, accepted).

    ``candidates`` is consumed three times when the semi-join pushdown is
    on (the cand-sha set plus both pair joins) — pass a materialized
    relation (the pipeline checkpoints its candidates stage); an
    unmaterialized band-join chain would be replayed per consumer.
    """
    sigs = reps.select("content_sha", "minhash_kmv", "theta64", "n_shingles")
    # semi-join pushdown: the pair joins shuffle the kmv payload on BOTH
    # sides, but only shas that actually occur in a candidate pair are
    # needed — broadcast the (small) candidate-sha set into the payload
    # scan so the wide exchange carries just those rows (candidates are a
    # small corpus fraction by construction: they passed LSH banding).
    # Gated by the same knob as the rep-key broadcast: jobs whose
    # candidate set exceeds broadcast capacity skip it and shuffle the
    # full payload as before. The tri-state config is RESOLVED here, not
    # re-tested raw: the pipeline passes a bool (rcfg); a direct caller
    # leaving the auto default (None) pays one narrow count over the
    # candidate relation so the broadcast decision reflects the actual
    # cardinality instead of silently inheriting the broadcast path.
    broadcast = getattr(cfg, "broadcast_rep_payload", True)
    if broadcast is None:
        limit = getattr(cfg, "broadcast_key_limit", 15_000_000)
        # each candidate pair contributes <= 2 shas to the broadcast set
        broadcast = candidates.count() * 2 <= limit
    if broadcast:
        cand_shas = (
            candidates.select(F.col("sha_a").alias("content_sha"))
            .unionByName(candidates.select(F.col("sha_b").alias("content_sha")))
            .distinct()
        )
        # materialize the pruned payload ONCE: it feeds both pair joins,
        # and without the cut the (sigs scan + semi-join) subplan runs
        # twice. Bounded by the candidate-sha set — the same small
        # fraction the broadcast gate already assumes — so the cached
        # relation is executor-resident and spillable; the no-pushdown
        # branch below deliberately stays lazy (materializing the FULL
        # wide payload would re-create the round-3 reps exchange).
        sigs = sigs.join(
            F.broadcast(cand_shas), "content_sha", "left_semi"
        ).localCheckpoint(eager=True)
    # Join 1: SHUFFLE_HASH with the BUILD side on the narrow pair relation
    # — the 2KB-wide signature rows stream through unsorted and are never
    # held in a hash map (a wide build side cannot spill and OOMs).
    # Join 2's left side is already wide (it carries kmv_a), so no hint:
    # AQE picks by runtime stats there.
    joined = (
        candidates.hint("shuffle_hash")
        .join(
            sigs.select(
                F.col("content_sha").alias("sha_a"),
                F.col("minhash_kmv").alias("kmv_a"),
                F.col("theta64").alias("theta_a"),
                F.col("n_shingles").alias("n_a"),
            ),
            "sha_a",
        )
        .join(
            sigs.select(
                F.col("content_sha").alias("sha_b"),
                F.col("minhash_kmv").alias("kmv_b"),
                F.col("theta64").alias("theta_b"),
                F.col("n_shingles").alias("n_b"),
            ),
            "sha_b",
        )
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            ta = pdf["theta_a"].to_numpy()
            tb = pdf["theta_b"].to_numpy()
            j = jaccard_batch(pdf["kmv_a"].tolist(), ta, pdf["kmv_b"].tolist(), tb)
            yield pd.DataFrame(
                {
                    "sha_a": pdf["sha_a"],
                    "sha_b": pdf["sha_b"],
                    "jaccard_est": j,
                    "accepted": accepted(j, ta, tb, cfg),
                }
            )

    return joined.mapInPandas(run, schema=VERIFIED_SCHEMA)


def verify_pairs_on_driver(
    candidates: DataFrame, reps: DataFrame, cfg: PipelineConfig
) -> pa.Table:
    """``verify_pairs`` for a candidate set whose signatures fit on the
    driver: one ``toArrow`` collect of the candidate pairs, one of the
    (content_sha, minhash_kmv, theta64) rows of the candidate shas only
    (the Spark path's broadcast semi-join), then the same ``jaccard_batch``
    (DRIVER_BATCH pairs per call) and ``accepted`` rule. Returns the
    verified table (VERIFIED_SCHEMA) as Arrow; ``jaccard_est`` is bit-equal
    to the Spark path's.

    Every candidate sha must have a row in ``reps``, as the pipeline's
    candidates (drawn from the same reps) do. Duplicate rows of one sha —
    duplicate (content_sha, file_id) corpus rows — carry identical
    signatures, so the first one serves.
    """
    pairs = candidates.select("sha_a", "sha_b").toArrow()
    sha_a, sha_b = sha_values(pairs.column("sha_a")), sha_values(pairs.column("sha_b"))
    wanted = reps.sparkSession.createDataFrame(
        pa.table({"content_sha": sha_array(np.unique(np.concatenate([sha_a, sha_b])))})
    )
    sigs = (
        reps.join(F.broadcast(wanted), "content_sha", "left_semi")
        .select("content_sha", "minhash_kmv", "theta64")
        .toArrow()
    )
    shas, first = np.unique(sha_values(sigs.column("content_sha")), return_index=True)
    row_a = first[np.searchsorted(shas, sha_a)]
    row_b = first[np.searchsorted(shas, sha_b)]
    kmv = sigs.column("minhash_kmv").to_pylist()
    theta = sigs.column("theta64").to_numpy()
    ta, tb = theta[row_a], theta[row_b]
    # batches bound the kernel's working set (~2 KB per kmv per pair side)
    j = np.empty(len(ta))
    for lo in range(0, len(ta), DRIVER_BATCH):
        hi = lo + DRIVER_BATCH
        j[lo:hi] = jaccard_batch(
            [kmv[r] for r in row_a[lo:hi]], ta[lo:hi], [kmv[r] for r in row_b[lo:hi]], tb[lo:hi]
        )
    return pa.table(
        {
            "sha_a": pairs.column("sha_a"),
            "sha_b": pairs.column("sha_b"),
            "jaccard_est": j,
            "accepted": accepted(j, ta, tb, cfg),
        }
    )
