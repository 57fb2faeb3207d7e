"""Layer probes that need no workload plumbing: the numpy kernels timed on a
fixed 384-document batch, the xxh64 bandwidth sentinel and the Arrow
boundary decomposition of the signatures stage."""

from __future__ import annotations

import time

import numpy as np

from harness import CPUS, job_group, median

KERNEL_DOCS = 384
KERNEL_SIZE_SCALE = 8
KERNEL_SEED = 42  # one fixed batch, so kernel numbers compare across runs
KERNEL_REPEATS = 7
SENTINEL_BYTES = 384 << 20  # larger than the 300 MiB last-level cache
SENTINEL_CHUNK = 1 << 19  # 4 MiB of uint64 per hashing step


def _timed_ms(fn, repeats: int = KERNEL_REPEATS) -> float:
    walls = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        walls.append((time.perf_counter() - t0) * 1000.0)
    return median(walls)


def kernel_metrics() -> dict[str, float]:
    """ms per 384-doc batch for each public sigkit kernel, the whole
    Arrow-native signature kernel, verify's ``jaccard_batch`` and the
    substring rolling hash. The batch is ``gen_batch`` at size_scale 8."""
    import pyarrow as pa

    from datasketches_rust_spark.config import PipelineConfig
    from datasketches_rust_spark.corpus.generator import gen_batch
    from datasketches_rust_spark.operators.signatures import signature_record_batch
    from datasketches_rust_spark.operators.substring import rolling_window_hashes_buf
    from datasketches_rust_spark.operators.verify import jaccard_batch
    from datasketches_rust_spark.sigkit.kmv import kmv_signatures
    from datasketches_rust_spark.sigkit.oph import band_hashes, oph_minhashes
    from datasketches_rust_spark.sigkit.simhash import simhash64
    from datasketches_rust_spark.sigkit.tokenize import concat_docs, shingle_hashes_buf

    cfg = PipelineConfig()
    pdf = gen_batch(np.arange(KERNEL_DOCS), KERNEL_SEED, size_scale=KERNEL_SIZE_SCALE)
    buf, offs = concat_docs(pdf["content"].tolist())
    vals, voffs = shingle_hashes_buf(buf, offs, cfg.shingle_width, cfg.seed)
    sig_vals, sig_offs, theta, _ = kmv_signatures(vals, voffs, cfg.kmv_k)
    mh = oph_minhashes(vals, voffs, cfg.num_perm, cfg.seed)
    rb = pa.RecordBatch.from_pydict(
        {
            "file_id": [f"{i:064x}" for i in range(KERNEL_DOCS)],
            "content_sha": [bytes(32)] * KERNEL_DOCS,
            "content": pdf["content"].tolist(),
        }
    )
    # jaccard_batch over every doc paired with its neighbour: the verify
    # stage's per-pair work on real signatures
    blobs = [
        sig_vals[sig_offs[i] : sig_offs[i + 1]].astype("<u8").tobytes()
        for i in range(KERNEL_DOCS)
    ]
    a, b = blobs[:-1], blobs[1:]
    ta, tb = theta[:-1], theta[1:]
    return {
        "kernel.tokenize_ms": _timed_ms(
            lambda: shingle_hashes_buf(buf, offs, cfg.shingle_width, cfg.seed)
        ),
        "kernel.kmv_ms": _timed_ms(lambda: kmv_signatures(vals, voffs, cfg.kmv_k)),
        "kernel.simhash_ms": _timed_ms(lambda: simhash64(vals, voffs)),
        "kernel.oph_ms": _timed_ms(lambda: oph_minhashes(vals, voffs, cfg.num_perm, cfg.seed)),
        "kernel.bands_ms": _timed_ms(
            lambda: band_hashes(mh, cfg.num_bands, cfg.band_rows, cfg.seed)
        ),
        "kernel.signature_batch_ms": _timed_ms(lambda: signature_record_batch(rb, cfg)),
        "kernel.jaccard_batch_ms": _timed_ms(lambda: jaccard_batch(a, ta, b, tb)),
        "kernel.rolling_hash_ms": _timed_ms(
            lambda: rolling_window_hashes_buf(buf, offs, cfg.substr_window)
        ),
        "kernel.batch_bytes": float(len(buf)),
    }


class Sentinel:
    """Fixed xxh64 stream over a buffer larger than the last-level cache:
    its GB/s falls when co-tenants contend for memory bandwidth, which
    flags a measurement window as noisy."""

    def __init__(self):
        from datasketches_rust_spark.sigkit.xxhash import xxh64_u64

        self.buf = np.arange(SENTINEL_BYTES // 8, dtype=np.uint64)
        self.readings: list[float] = []
        # untimed first chunks: the allocator settles on reusing the
        # chunk-sized temporaries instead of mapping fresh pages for each
        for i in range(4):
            xxh64_u64(self.buf[i * SENTINEL_CHUNK : (i + 1) * SENTINEL_CHUNK])

    def read(self) -> float:
        from datasketches_rust_spark.sigkit.xxhash import xxh64_u64

        t0 = time.perf_counter()
        acc = np.uint64(0)
        for i in range(0, len(self.buf), SENTINEL_CHUNK):
            acc ^= np.bitwise_xor.reduce(xxh64_u64(self.buf[i : i + SENTINEL_CHUNK]))
        gbps = SENTINEL_BYTES / (time.perf_counter() - t0) / 1e9
        self.readings.append(gbps)
        return gbps


def boundary_metrics(spark, corpus, signature_batch_ms: float, batch_bytes: float,
                     repeats: int = 2) -> dict[str, float]:
    """Split the signatures stage into scan + sha2 projection, the numpy
    kernel and the Arrow boundary between them.

    ``scan_s`` is a noop write of the projection alone and ``noop_s`` one of
    ``compute_signatures``; the kernel share is the per-byte cost of the
    kernel probe spread over the corpus's text bytes and ``CPUS`` workers,
    and ``boundary_s`` = ``noop_s`` - ``scan_s`` - kernel share.
    """
    from pyspark.sql import functions as F

    from datasketches_rust_spark.config import PipelineConfig
    from datasketches_rust_spark.operators.signatures import compute_signatures

    cfg = PipelineConfig()
    projected = corpus.select(
        F.sha2(F.concat_ws("\x00", "repo", "path", "commit"), 256).alias("file_id"),
        F.unhex(F.sha2(F.col("content"), 256)).alias("content_sha"),
        "content",
    )
    sigs = compute_signatures(corpus, cfg)

    def noop(df, tag: str) -> float:
        walls = []
        for _ in range(repeats):
            with job_group(spark, tag):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                walls.append(time.perf_counter() - t0)
        return median(walls)

    scan_s = noop(projected, "boundary.scan")
    noop_s = noop(sigs, "boundary.signatures")
    with job_group(spark, "bench"):
        (in_bytes, text_bytes) = projected.agg(
            F.sum(
                F.octet_length("file_id") + F.octet_length("content_sha")
                + F.octet_length("content")
            ),
            F.sum(F.octet_length("content")),
        ).first()
        (out_bytes,) = sigs.agg(
            F.sum(
                F.octet_length("file_id") + F.octet_length("content_sha")
                + F.octet_length("minhash_kmv") + 8 * F.size("bands") + 8 * 4
            )
        ).first()
    kernel_s = signature_batch_ms / 1000.0 * (text_bytes / batch_bytes) / CPUS
    return {
        "signatures.scan_s": scan_s,
        "signatures.noop_s": noop_s,
        "signatures.boundary_s": noop_s - scan_s - kernel_s,
        "signatures.arrow_in_bytes": float(in_bytes),
        "signatures.arrow_out_bytes": float(out_bytes),
    }
