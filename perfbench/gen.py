"""Seeded src/dst KV snapshot generator with a ground-truth record.

Data model (the reference's RawKV shape): every key is ``r\\0\\0\\0`` plus an
8-byte big-endian id, every value is 32-160 random bytes.  Source ids are
the even numbers ``0, 2, 4, ...``; a key inserted into dst takes the odd id
right after a source key, so it sorts between two source keys and never
collides with one.

dst is src with planted drift, one of four kinds per drifted key:

- ``value``:  same length, different bytes       -> status ``changed``
- ``length``: different length and bytes         -> status ``changed``
- ``delete``: key missing from dst               -> status ``only_src``
- ``insert``: odd id present only in dst         -> status ``only_dst``

The ground truth keeps both sides' sorted ids and value lengths, so any key
range's row count and byte total can be answered without Spark, plus the
drifted ids with their expected status.

Everything is vectorized with numpy except the splice that builds dst's
value buffer, which loops once per drifted key (at most a few percent of
the keys).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEY_PREFIX = b"r\x00\x00\x00"
KEY_LEN = len(KEY_PREFIX) + 8
VAL_MIN, VAL_MAX = 32, 160

STATUSES = ("changed", "only_src", "only_dst")
_KIND_STATUS = np.array([0, 0, 1, 2], dtype=np.int8)  # value, length, delete, insert

#: parquet row group size: small enough that a narrow key range prunes
#: most of a side's row groups from their footer min/max stats
ROW_GROUP_ROWS = 32_768

#: generated datasets kept on disk; the oldest beyond this are evicted
CACHE_KEEP = 4


def key_bytes(ids) -> bytes:
    """Concatenated fixed-width keys for a sequence of ids."""
    ids = np.asarray(ids, dtype=np.uint64)
    out = np.empty((len(ids), KEY_LEN), dtype=np.uint8)
    out[:, : len(KEY_PREFIX)] = np.frombuffer(KEY_PREFIX, dtype=np.uint8)
    out[:, len(KEY_PREFIX) :] = ids.astype(">u8").view(np.uint8).reshape(-1, 8)
    return out.tobytes()


def key_of(i: int) -> bytes:
    return KEY_PREFIX + int(i).to_bytes(8, "big")


def id_of(key: bytes) -> int:
    return int.from_bytes(key[len(KEY_PREFIX) :], "big")


@dataclass
class Truth:
    """What a correct compare of the generated pair must report."""

    src_ids: np.ndarray  # sorted uint64
    src_len: np.ndarray  # value length per src row
    dst_ids: np.ndarray
    dst_len: np.ndarray
    drift_ids: np.ndarray  # sorted uint64, the key each finding reports
    drift_status: np.ndarray  # int8 index into STATUSES

    def side(self, name: str) -> tuple[np.ndarray, np.ndarray]:
        return (self.src_ids, self.src_len) if name == "src" else (self.dst_ids, self.dst_len)

    def range_totals(self, name: str, lo: int | None = None, hi: int | None = None) -> tuple[int, int]:
        """(rows, bytes) of one side in the id range ``[lo, hi)``; bytes
        count key plus value, the checksum triple's ``total_bytes``."""
        ids, lens = self.side(name)
        a = 0 if lo is None else int(np.searchsorted(ids, np.uint64(lo)))
        b = len(ids) if hi is None else int(np.searchsorted(ids, np.uint64(hi)))
        return b - a, (b - a) * KEY_LEN + int(lens[a:b].sum(dtype=np.int64))

    def findings(self, lo: int | None = None, hi: int | None = None) -> dict[int, str]:
        """Expected ``{id: status}`` for the id range ``[lo, hi)``."""
        a = 0 if lo is None else int(np.searchsorted(self.drift_ids, np.uint64(lo)))
        b = len(self.drift_ids) if hi is None else int(np.searchsorted(self.drift_ids, np.uint64(hi)))
        return {
            int(i): STATUSES[s]
            for i, s in zip(self.drift_ids[a:b].tolist(), self.drift_status[a:b].tolist())
        }

    def save(self, path: str) -> None:
        np.savez(path, **{k: getattr(self, k) for k in self.__dataclass_fields__})

    @staticmethod
    def load(path: str) -> "Truth":
        with np.load(path) as z:
            return Truth(**{k: z[k] for k in Truth.__dataclass_fields__})


def status_counts(found: dict[int, str]) -> dict[str, int]:
    """Number of findings per status, every status present."""
    counts = dict.fromkeys(STATUSES, 0)
    for s in found.values():
        counts[s] += 1
    return counts


def drift_positions(rng: np.random.Generator, n: int, layout: str, count: int) -> np.ndarray:
    """Sorted src row positions to drift.

    ``clustered``: ``count`` positions inside one random contiguous 1% of
    the key space (one region drifted).  ``uniform``: ``count`` positions
    anywhere."""
    if layout == "clustered":
        width = max(count, n // 100)
        start = int(rng.integers(0, n - width + 1))
        pos = start + rng.choice(width, size=count, replace=False)
    elif layout == "uniform":
        pos = rng.choice(n, size=count, replace=False)
    else:
        raise ValueError(f"unknown drift layout {layout!r}")
    return np.sort(pos)


def build(seed: int, n: int, layout: str, drift: int) -> tuple[pa.Table, pa.Table, Truth]:
    """Generate (src, dst, truth) in memory; same arguments, same bytes."""
    rng = np.random.default_rng([seed, n, drift, 0 if layout == "clustered" else 1])
    src_ids = np.arange(n, dtype=np.uint64) * 2
    src_len = rng.integers(VAL_MIN, VAL_MAX + 1, size=n, dtype=np.int64)
    src_off = _offsets(src_len)
    src_data = rng.bytes(int(src_off[-1]))

    pos = drift_positions(rng, n, layout, drift)
    kind = rng.integers(0, 4, size=len(pos))

    # splice dst's value buffer: untouched src runs are sliced, drifted rows
    # are replaced, dropped or followed by an inserted row
    view = memoryview(src_data)
    chunks: list = []
    dst_len_parts: list[np.ndarray] = []
    dst_id_parts: list[np.ndarray] = []
    prev = 0
    for p, k in zip(pos.tolist(), kind.tolist()):
        chunks.append(view[src_off[prev] : src_off[p]])
        dst_len_parts.append(src_len[prev:p])
        dst_id_parts.append(src_ids[prev:p])
        old_len = int(src_len[p])
        if k == 0:  # value: same length, first byte guaranteed to differ
            new = bytearray(rng.bytes(old_len))
            new[0] = view[src_off[p]] ^ 0x5A
            rows = [(src_ids[p], bytes(new))]
        elif k == 1:  # length: any other length in [VAL_MIN, VAL_MAX]
            span = VAL_MAX - VAL_MIN + 1
            new_len = VAL_MIN + (old_len - VAL_MIN + int(rng.integers(1, span))) % span
            rows = [(src_ids[p], rng.bytes(new_len))]
        elif k == 2:  # delete
            rows = []
        else:  # insert after the (unchanged) src row
            ins_len = int(rng.integers(VAL_MIN, VAL_MAX + 1))
            rows = [(src_ids[p], bytes(view[src_off[p] : src_off[p + 1]])), (src_ids[p] + 1, rng.bytes(ins_len))]
        for rid, val in rows:
            chunks.append(val)
            dst_len_parts.append(np.array([len(val)], dtype=np.int64))
            dst_id_parts.append(np.array([rid], dtype=np.uint64))
        prev = p + 1
    chunks.append(view[src_off[prev] :])
    dst_len_parts.append(src_len[prev:])
    dst_id_parts.append(src_ids[prev:])
    dst_data = b"".join(chunks)
    dst_len = np.concatenate(dst_len_parts)
    dst_ids = np.concatenate(dst_id_parts)

    drift_ids = src_ids[pos] + (kind == 3).astype(np.uint64)
    truth = Truth(
        src_ids=src_ids,
        src_len=src_len.astype(np.int16),
        dst_ids=dst_ids,
        dst_len=dst_len.astype(np.int16),
        drift_ids=drift_ids,
        drift_status=_KIND_STATUS[kind],
    )
    return _kv_table(src_ids, src_off, src_data), _kv_table(dst_ids, _offsets(dst_len), dst_data), truth


def _offsets(lengths: np.ndarray) -> np.ndarray:
    off = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=off[1:])
    return off


def _kv_table(ids: np.ndarray, val_off: np.ndarray, val_data: bytes) -> pa.Table:
    n = len(ids)
    key_off = np.arange(n + 1, dtype=np.int32) * KEY_LEN
    keys = pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(key_off), pa.py_buffer(key_bytes(ids))]
    )
    values = pa.Array.from_buffers(
        pa.large_binary(), n, [None, pa.py_buffer(val_off), pa.py_buffer(val_data)]
    ).cast(pa.binary())
    return pa.table({"key": keys, "value": values})


def dataset(root: str, seed: int, n: int, layout: str, drift: int) -> tuple[str, str, Truth, float]:
    """Cached on-disk (src_path, dst_path, truth, gen_s) for one seed.

    ``gen_s`` is the time this call spent generating; 0.0 on a cache hit.
    A dataset directory is complete only once its ``truth.npz`` exists
    (written last), so an interrupted generation is redone, not reused."""
    d = os.path.join(root, f"{layout}-n{n}-d{drift}-s{seed}")
    src, dst, truth_path = (os.path.join(d, f) for f in ("src.parquet", "dst.parquet", "truth.npz"))
    if os.path.exists(truth_path):
        os.utime(d)  # recency for eviction
        return src, dst, Truth.load(truth_path), 0.0
    t0 = time.perf_counter()
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    s_tab, d_tab, truth = build(seed, n, layout, drift)
    pq.write_table(s_tab, src, row_group_size=ROW_GROUP_ROWS)
    pq.write_table(d_tab, dst, row_group_size=ROW_GROUP_ROWS)
    truth.save(truth_path)
    gen_s = time.perf_counter() - t0
    _evict(root, keep=CACHE_KEEP)
    return src, dst, truth, gen_s


def _evict(root: str, keep: int) -> None:
    dirs = [os.path.join(root, e) for e in os.listdir(root)]
    dirs = [p for p in dirs if os.path.exists(os.path.join(p, "truth.npz"))]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for p in dirs[keep:]:
        shutil.rmtree(p, ignore_errors=True)
