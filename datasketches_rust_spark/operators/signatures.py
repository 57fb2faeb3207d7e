"""Stage 1 — per-file signatures, map-side only (no shuffle).

The reference's build path (`/root/reference/datasketches/src/thetafamily/
theta/sketch.rs:128-130`: update → hash → theta-screen → k-min table) runs
here as one ``mapInArrow`` pass: each Arrow batch of files is tokenized,
shingled, hashed and reduced to

- ``minhash_kmv``: sorted k smallest distinct 63-bit shingle hashes — the
  ordered CompactThetaSketch form (theta/sketch.rs:321-332);
- ``theta64``: (k+1)-th smallest hash or i64::MAX in exact mode
  (common/hash_table.rs:388-401);
- ``simhash64`` + ``bands``: SimHash fingerprint and OPH/LSH band hashes
  from the *same* shingle hash stream (hashing paid once, hll/mod.rs:170-175);
- ``cfg_hash``: the seed-compatibility fingerprint (hash/seed.rs:30-55).

``file_id``/``content_sha`` are computed JVM-side with ``F.sha2`` (stays in
whole-stage codegen); only the numeric kernel crosses into Arrow.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F

from ..config import PipelineConfig
from ..sigkit.kmv import kmv_signatures
from ..sigkit.oph import band_hashes, oph_minhashes
from ..sigkit.simhash import simhash64
from ..sigkit.tokenize import shingle_hashes_buf

# content_sha is BINARY(32), not the 64-char hex string: it is the join /
# shuffle / group key of every downstream stage, and halving the key bytes
# halves the dominant shuffle payloads; byte-wise binary ordering equals
# hex-string ordering, so min-representative semantics are unchanged
# (render with lower(hex(...)) at output boundaries).
#
# minhash_kmv is a BINARY blob (k sorted uint64 little-endian hashes), not
# array<long>: shuffling 256-element arrays pays per-element UnsafeRow
# ser/deser on every exchange, while a blob is one memcpy — this is the
# column-form of the reference's CompactThetaSketch byte layout
# (theta/sketch.rs:321-332). Decode with np.frombuffer(b, '<u8').
SIGNATURE_SCHEMA = (
    "file_id string, content_sha binary, "
    "n_shingles long, minhash_kmv binary, theta64 long, "
    "simhash64 long, bands array<long>, cfg_hash long"
)


def _arrow_string_to_buf(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(uint8 buffer, (n+1,) int64 offsets) view of an Arrow string column.

    Zero-copy except the int32→int64 offset upcast: the UTF-8 bytes are
    numpy views of the Arrow data buffer — no per-doc Python objects.
    """
    if pa.types.is_string(arr.type):
        arr = arr.cast(pa.large_string())
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=np.int64)[arr.offset : arr.offset + len(arr) + 1]
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.empty(0, dtype=np.uint8)
    )
    lo, hi = int(offs[0]), int(offs[-1])
    return data[lo:hi], offs - lo


def _list_array(values: np.ndarray, offsets: np.ndarray) -> pa.ListArray:
    return pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32)), pa.array(values.astype(np.int64))
    )


def _binary_array(values: np.ndarray, elem_offsets: np.ndarray) -> pa.BinaryArray:
    """Zero-copy binary column: element i = values[off[i]:off[i+1]] bytes."""
    byte_offs = (elem_offsets * values.dtype.itemsize).astype(np.int32)
    return pa.BinaryArray.from_buffers(
        pa.binary(),
        len(elem_offsets) - 1,
        [None, pa.py_buffer(byte_offs), pa.py_buffer(np.ascontiguousarray(values))],
    )


def sha_values(col: pa.ChunkedArray) -> np.ndarray:
    """A binary column of 32-byte ids (content_sha) as a fixed-width ``S32``
    numpy array over the Arrow buffer (the cast rejects any other width).
    ``S32`` order is Spark's unsigned byte-wise binary order, so
    ``np.unique`` numbers the ids in the order Spark compares them."""
    arr = col.cast(pa.binary(32)).combine_chunks()
    # an empty column may carry no data buffer at all
    buf = arr.buffers()[1] or b""
    return np.frombuffer(buf, "S32", count=len(arr), offset=32 * arr.offset)


def sha_array(values: np.ndarray) -> pa.Array:
    """``S32`` values back to an Arrow binary column, without per-value
    Python objects."""
    fixed = pa.FixedSizeBinaryArray.from_buffers(
        pa.binary(32), len(values), [None, pa.py_buffer(values)]
    )
    return fixed.cast(pa.binary())


def signature_record_batch(rb: pa.RecordBatch, cfg: PipelineConfig) -> pa.RecordBatch:
    """Arrow-native signature kernel: UTF-8 bytes never become Python strs."""
    n = rb.num_rows
    content = rb.column(rb.schema.get_field_index("content"))
    buf, doc_offs = _arrow_string_to_buf(content)
    vals, offs = shingle_hashes_buf(buf, doc_offs, cfg.shingle_width, cfg.seed)
    sig_vals, sig_offs, theta, n_distinct = kmv_signatures(vals, offs, cfg.kmv_k)
    sim = simhash64(vals, offs)
    mh = oph_minhashes(vals, offs, cfg.num_perm, cfg.seed)
    bh = band_hashes(mh, cfg.num_bands, cfg.band_rows, cfg.seed)

    nonempty = n_distinct > 0
    band_offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.where(nonempty, cfg.num_bands, 0), out=band_offs[1:])
    band_vals = bh[nonempty].reshape(-1)

    return pa.RecordBatch.from_arrays(
        [
            rb.column(rb.schema.get_field_index("file_id")),
            rb.column(rb.schema.get_field_index("content_sha")),
            pa.array(n_distinct),
            _binary_array(sig_vals.astype("<u8"), sig_offs),
            pa.array(theta),
            pa.array(sim),
            _list_array(band_vals, band_offs),
            pa.array(np.full(n, cfg.cfg_hash(), dtype=np.int64)),
        ],
        names=[
            "file_id",
            "content_sha",
            "n_shingles",
            "minhash_kmv",
            "theta64",
            "simhash64",
            "bands",
            "cfg_hash",
        ],
    )


def file_id_col() -> Column:
    """The engine's file id: hex sha256 of (repo, path, commit), NUL-joined."""
    return F.sha2(F.concat_ws("\x00", "repo", "path", "commit"), 256)


def compute_signatures(corpus: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """corpus(repo, path, commit, lang, content) → signature table.

    Map-side only: the plan is Scan → Project(sha2, codegen) →
    MapInArrow — zero exchanges, so it scales linearly with input splits;
    the kernel reads document bytes directly from Arrow buffers (no
    pandas/str materialization).
    """
    with_ids = corpus.select(
        file_id_col().alias("file_id"),
        F.unhex(F.sha2(F.col("content"), 256)).alias("content_sha"),
        "content",
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if rb.num_rows:
                yield signature_record_batch(rb, cfg)

    return with_ids.mapInArrow(run, schema=SIGNATURE_SCHEMA)
