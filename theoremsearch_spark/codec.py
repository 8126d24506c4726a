"""Delta + varbyte posting-block codec.

Pure-numpy (vectorized, no per-element Python loops) encoder/decoder for
posting blocks: sorted doc_id runs are delta-encoded (gap list) and the
gaps + term frequencies are varbyte-compressed (7 data bits per byte,
high bit = continuation).

The reference keeps a byte-range offset index over immutable bundles
(`/root/reference/ec2/locate_arxiv_in_s3/__main__.py:86-121`) so that a
single document can be fetched with a ranged GET; our analog is the
posting *block*: a fixed-size (default 128-doc) slice of a term's posting
list, independently decodable, carrying per-block metadata
(`n_docs`, `max_tf_norm`) so block-max WAND can skip it without decoding.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128  # docs per posting block


def varbyte_encode_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Varbyte-encode a uint64 array; also return per-value byte counts
    so callers can slice the buffer into sub-ranges without re-encoding
    (the vectorized block writer encodes a whole partition batch in one
    call and splits it into posting blocks by offset)."""
    values = np.asarray(values, dtype=np.uint64)
    if values.size == 0:
        return b"", np.empty(0, dtype=np.int64)
    # number of 7-bit groups needed per value (at least 1)
    nbits = np.zeros_like(values)
    v = values.copy()
    # bit_length via log2 on nonzero values
    nz = v > 0
    nbits[nz] = np.floor(np.log2(v[nz].astype(np.float64))).astype(np.uint64) + 1
    nbytes = np.maximum((nbits + 6) // 7, 1).astype(np.int64)
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    # output position of each value's first byte
    starts = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    # for each output byte, which value does it belong to and which group index
    owner = np.repeat(np.arange(values.size), nbytes)
    group = np.arange(total) - starts[owner]
    shifted = values[owner] >> (group.astype(np.uint64) * np.uint64(7))
    out[:] = (shifted & np.uint64(0x7F)).astype(np.uint8)
    # continuation bit: set on all but the last byte of each value
    is_last = np.zeros(total, dtype=bool)
    is_last[np.cumsum(nbytes) - 1] = True
    out[~is_last] |= 0x80
    return out.tobytes(), nbytes


def varbyte_encode(values: np.ndarray) -> bytes:
    """Varbyte-encode a uint64 array (vectorized).

    Each value is split into 7-bit groups, little-endian; every byte has
    its high bit set except the last byte of each value.
    """
    return varbyte_encode_with_lengths(values)[0]


def varbyte_decode(buf: bytes) -> np.ndarray:
    """Decode a varbyte buffer back to a uint64 array (vectorized)."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    if raw.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (raw & 0x80) == 0
    n_values = int(is_last.sum())
    # group index of each byte within its value: position - start of value
    value_id = np.zeros(raw.size, dtype=np.int64)
    value_id[1:] = np.cumsum(is_last)[:-1]
    # position of first byte of each value
    ends = np.flatnonzero(is_last)
    starts = np.concatenate(([0], ends[:-1] + 1))
    group = np.arange(raw.size) - starts[value_id]
    contrib = (raw & 0x7F).astype(np.uint64) << (group.astype(np.uint64) * np.uint64(7))
    out = np.zeros(n_values, dtype=np.uint64)
    np.add.at(out, value_id, contrib)
    return out


def encode_block(doc_ids: np.ndarray, tfs: np.ndarray) -> tuple[bytes, bytes]:
    """Encode one posting block: sorted doc_ids → delta+varbyte, tfs → varbyte."""
    doc_ids = np.asarray(doc_ids, dtype=np.uint64)
    gaps = np.empty_like(doc_ids)
    if doc_ids.size:
        gaps[0] = doc_ids[0]
        np.subtract(doc_ids[1:], doc_ids[:-1], out=gaps[1:])
    return varbyte_encode(gaps), varbyte_encode(np.asarray(tfs, dtype=np.uint64))


def decode_block(doc_bytes: bytes, tf_bytes: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Decode one posting block → (doc_ids ascending, tfs)."""
    gaps = varbyte_decode(doc_bytes)
    return np.cumsum(gaps, dtype=np.uint64), varbyte_decode(tf_bytes)


class PackedDocIdSet:
    """A sorted doc_id set as delta+varbyte chunks — the broadcastable
    tombstone-mask artifact for upsert/delete serving.

    Built EXECUTOR-side (query._tombstone_artifact):
    each task packs its sorted ids into one chunk, so the driver only
    ever receives ~1.2 compressed bytes per id (no Row-per-id collect —
    at 10^8 tombstones that is ~120 MB of blobs vs ~800 MB of int64
    Rows plus object overhead). Workers decode ONCE per executor
    process: `decode()` memoizes, and Spark's broadcast machinery
    caches the unpickled object per process, so repeated scorer groups
    share the same array. At even larger churn the next step is a Bloom
    filter with an exactness fallback — but the honest fix at that
    point is compaction, which this mask's size pressure signals.
    """

    def __init__(self, chunks: list[bytes], n: int):
        self.chunks = chunks
        self.n = int(n)
        self._arr: np.ndarray | None = None

    def __getstate__(self):  # never ship a decoded array with the pickle
        return {"chunks": self.chunks, "n": self.n}

    def __setstate__(self, state):
        self.chunks = state["chunks"]
        self.n = state["n"]
        self._arr = None

    @property
    def nbytes(self) -> int:
        return sum(len(c) for c in self.chunks)

    @staticmethod
    def pack_sorted(ids: np.ndarray) -> bytes:
        """One chunk from an ASCENDING non-negative id array."""
        ids = np.asarray(ids, dtype=np.int64)
        gaps = np.diff(ids, prepend=ids.dtype.type(0))  # gaps[0] = abs id
        return varbyte_encode(gaps.astype(np.uint64))

    def decode(self) -> np.ndarray:
        """Sorted unique int64 ids; memoized per process."""
        if self._arr is None:
            parts = [
                np.cumsum(varbyte_decode(c).astype(np.int64)) for c in self.chunks
            ]
            arr = (
                np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)
            )
            # chunk ranges may interleave (hash-partitioned build) —
            # unique() sorts and drops cross-chunk duplicates
            self._arr = np.unique(arr)
        return self._arr
