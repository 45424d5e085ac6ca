"""Scan-dump source — reads the reference's ``{NAME}_scan.log.<ts>`` files.

The reference's ``scan`` subcommand streams a RawKV cluster to a text dump,
one line per pair: ``key:<HEX>, value:<HEX>, cnt:<N>.`` (scan/scan.go:35-61;
the format string is scan/scan.go:52).  That dump is the reference's only
durable export — a real user migrating off the reference starts from either
a live cluster or one of these files.  This module opens such dumps as a
Spark DataFrame ``(key binary, value binary, cnt bigint)`` via the Python
DataSource API, with:

- **per-chunk partitions**: each file is split into ~``chunk_bytes`` byte
  ranges at line boundaries (the same recipe Spark's own text source uses),
  so one multi-GB dump fans out across the cluster instead of pinning one
  task per file;
- **key-range pushdown**: ``key >= X`` / ``key < Y`` predicates (what
  ``Keyed.in_range`` builds) are evaluated inside the reader while
  parsing — rows outside the range never reach Spark, the Python analogue
  of the reference shipping the range inside the Scan RPC (scan/scan.go:45).

Usage::

    spark.dataSource.register(ScanDumpDataSource)
    df = (spark.read.format("tikv_scandump")
          .option("path", "/dumps/SRC_scan.log.2024-01-01T00.00.00Z")
          .load())
    df.filter(df.key >= lo).filter(df.key < hi)   # pushed into the reader

``export_hex`` (operators/scan.py) writes this exact line format, so a dump
produced by this engine round-trips through this source bit-for-bit.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from typing import Iterable, Iterator, List

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    Not,
)

# scan/scan.go:52 — fmt.Sprintf("key:%s, value:%s, cnt:%d.\n", HEX, HEX, n)
_LINE = re.compile(rb"^key:([0-9A-Fa-f]*), value:([0-9A-Fa-f]*), cnt:(\d+)\.\s*$")

_DEFAULT_CHUNK = 64 * 1024 * 1024


@dataclass
class _Chunk(InputPartition):
    file: str
    start: int
    end: int  # exclusive byte offset; lines *starting* in [start, end) belong here


def _list_files(path: str) -> list[str]:
    """Expand a file, directory, or glob into a sorted file list."""
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if not f.startswith((".", "_"))
        )
    if os.path.isfile(path):
        return [path]
    import glob as _glob

    hits = sorted(f for f in _glob.glob(path) if os.path.isfile(f))
    if not hits:
        raise FileNotFoundError(f"scan dump not found: {path}")
    return hits


def _chunks(files: list[str], chunk_bytes: int) -> list[_Chunk]:
    out = []
    for f in files:
        size = os.path.getsize(f)
        if size == 0:
            continue
        off = 0
        while off < size:
            out.append(_Chunk(f, off, min(off + chunk_bytes, size)))
            off += chunk_bytes
    return out


class ScanDumpReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("tikv_scandump requires .option('path', ...) or load(path)")
        self.chunk_bytes = int(options.get("chunk_bytes", _DEFAULT_CHUNK))
        self.start_key: bytes | None = None  # [start, end) set by pushFilters
        self.end_key: bytes | None = None

    # -- range pushdown -----------------------------------------------------
    def pushFilters(self, filters: List[Filter]) -> Iterable[Filter]:
        """Absorb key-range comparisons; everything else stays in Spark.

        Catalyst hands each comparison as (column-path, literal).  We accept
        ``key >(=) lo`` and ``key <(=) hi`` with bytes-like literals, tighten
        the reader's [start, end) window, and *don't* yield them back — the
        plan's post-scan Filter drops them, which is the observable pushdown.
        """
        remaining = []
        for f in filters:
            b = self._as_key_bound(f)
            if b is None:
                remaining.append(f)
                continue
            kind, val = b
            if kind == "ge":
                if self.start_key is None or val > self.start_key:
                    self.start_key = val
            elif kind == "gt":  # key > v  ≡  key >= v ++ 0x00 (bytewise order)
                nxt = val + b"\x00"
                if self.start_key is None or nxt > self.start_key:
                    self.start_key = nxt
            elif kind == "lt":
                if self.end_key is None or val < self.end_key:
                    self.end_key = val
            elif kind == "le":
                nxt = val + b"\x00"
                if self.end_key is None or nxt < self.end_key:
                    self.end_key = nxt
        return remaining

    @staticmethod
    def _as_key_bound(f: Filter):
        if isinstance(f, Not):
            return None
        kind = {
            GreaterThanOrEqual: "ge",
            GreaterThan: "gt",
            LessThan: "lt",
            LessThanOrEqual: "le",
        }.get(type(f))
        if kind is None:
            return None
        if tuple(f.attribute) != ("key",):
            return None
        v = f.value
        if isinstance(v, (bytes, bytearray)):
            return kind, bytes(v)
        return None

    # -- planning -----------------------------------------------------------
    def partitions(self):
        return _chunks(_list_files(self.path), self.chunk_bytes)

    # -- execution ----------------------------------------------------------
    def read(self, part: _Chunk) -> Iterator[tuple]:
        lo, hi = self.start_key, self.end_key
        with open(part.file, "rb") as fh:
            if part.start > 0:
                # a line that *spans* the chunk start belongs to the previous
                # chunk; skip to the first full line (text-split convention)
                fh.seek(part.start - 1)
                fh.readline()
            while fh.tell() < part.end:
                line = fh.readline()
                if not line:
                    break
                m = _LINE.match(line)
                if not m:
                    if line.strip():
                        raise ValueError(
                            f"{part.file}: malformed scan-dump line: {line[:80]!r}"
                        )
                    continue
                key = bytes.fromhex(m.group(1).decode("ascii"))
                if lo is not None and key < lo:
                    continue
                if hi is not None and key >= hi:
                    continue
                yield (key, bytes.fromhex(m.group(2).decode("ascii")), int(m.group(3)))


class ScanDumpDataSource(DataSource):
    """``spark.read.format("tikv_scandump")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "tikv_scandump"

    def schema(self) -> str:
        return "key binary, value binary, cnt bigint"

    def reader(self, schema) -> ScanDumpReader:
        return ScanDumpReader(self.options)


def register(spark) -> None:
    """Idempotently register the source on a session.

    The class is shipped to Python workers by *value* (this module depends
    only on stdlib + pyspark), so the package need not be installed on
    executors — same self-contained convention as the engine's UDF closures.
    """
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    spark.dataSource.register(ScanDumpDataSource)


def load_scan_dump(spark, path: str, chunk_bytes: int | None = None):
    """Open a reference scan dump as a KV DataFrame (convenience over the
    raw format API); key-range filters on it are pushed into the reader."""
    register(spark)
    r = spark.read.format("tikv_scandump").option("path", path)
    if chunk_bytes:
        r = r.option("chunk_bytes", str(chunk_bytes))
    return r.load()
