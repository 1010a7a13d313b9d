"""Cassandra 2.0-era SSTable on-disk format: pure-Python writer/reader.

Public-knowledge reconstruction of the Apache Cassandra "jb" storage
format the reference scanned (SURVEY.md §2 A1-A4; reference checkout
empty — SURVEY.md §0). One SSTable = component files sharing the
prefix ``{keyspace}-{table}-jb-{generation}-``:

``Data.db``   — partitions sorted by raw key bytes. Per partition::

    u16 key_len | key bytes
    u32 local_deletion_time | i64 marked_for_delete_at   (row tombstone;
        live rows carry 0x7FFFFFFF / i64 MIN like Cassandra)
    cells until a 0-length name:
        u16 name_len | name bytes
        u8  flags            (0x01 = tombstone, 0x02 = expiring)
        [u32 ttl | u32 local_expiration]   when expiring
        i64 timestamp        (writer-supplied, µs convention)
        i32 value_len | value bytes        (tombstones: empty value)
    u16 0x0000  — end-of-partition marker

``Index.db``  — ``u16 key_len | key | u64 position`` per partition,
position = offset in the *uncompressed* data stream (Cassandra's
Index.db, minus the promoted-index blob). REAL jb entries (binary
Statistics.db snapshots) append ``u32 size | promoted-index blob``,
which the reader skips — slices are served from our ColumnIndex.db
component instead.

``CompressionInfo.db`` — present iff compressed: ``u16 len | algo
name``, ``u32 chunk_len``, ``u64 uncompressed_total``, ``u32 n_chunks``,
then ``u64`` file offset per chunk. Each chunk in Data.db is framed
as its compressor's ``CHUNK_CODECS`` entry says — ``deflate(chunk)``,
Cassandra's LZ4 layout (4 LE bytes decompressed length + one raw LZ4
block) or, read-only, one raw Snappy block; pyarrow's bundled liblz4
and libsnappy do the block coding — followed by a ``u32`` adler32 of
the compressed bytes (Cassandra 2.0's own per-chunk checksum). The real
``CompressionMetadata`` serialization — with its parameter block
between the compressor name and the chunk metadata — is accepted too
(``_parse_compression_info`` validates both candidates).

``Filter.db`` — bloom filter over partition keys: ``u32 n_hashes |
u64 n_bits | bit bytes`` (double hashing over two md5 halves, the
standard Kirsch-Mitzenmacher construction Cassandra also uses). The
real murmur3-128 OpenBitSet layout (``u32 hashCount | u32 words |
big-endian i64 words``) is accepted via ``Murmur3BloomFilter`` with
Cassandra's exact index derivation, so point-lookup pruning works on
genuine snapshots instead of failing open.

Snapshots whose ``Statistics.db`` is Cassandra's binary jb metadata
are treated as REAL-layout throughout: ``scan_offsets`` parses their
cells with ``_parse_cells_real``, which decodes Cassandra's
ColumnSerializer masks (DELETION 0x01 / EXPIRATION 0x02 / COUNTER 0x04
with CounterContext values / COUNTER_UPDATE 0x08 / RANGE_TOMBSTONE
0x10) onto the internal Cell flags, so merge, tombstone and TTL
semantics downstream are identical (tests/test_sstable_real.py drives
full real-layout snapshot dirs).

The merge (``merge_versions`` + ``reconcile``) and the generation write
(``collapse_keys`` + ``write_generation``) live here too.

``Statistics.db`` — the writer emits JSON metadata (row count, min/max
key hex, min/max cell timestamp, and the schema — key alias +
validator, ordered column validators — so snapshots are
self-describing the way a CF definition made cassowary tables). The
READER also accepts the real binary layout of Cassandra 2.0's
``SSTableMetadata`` serializer (format "jb"), reconstructed from the
public Cassandra 2.0 source: two EstimatedHistograms (row sizes,
column counts), ReplayPosition, min/max cell timestamp, max local
deletion time, bloom FP chance, compression ratio, partitioner class
(writeUTF), ancestor generations, a StreamingHistogram of tombstone
drop times, the sstable level, and min/max column-name bounds. Real
Statistics.db files carry NO schema, so reading a genuine ``nodetool
snapshot`` directory additionally requires the ``schema`` option on
the DataSource (see ``parse_statistics``).

``TOC.txt`` — component list, as in Cassandra.
"""

from __future__ import annotations

import hashlib
import heapq
import io
import json
import math
import os
import struct
import zlib
from bisect import bisect_left, bisect_right
from dataclasses import dataclass, field
from functools import partial
from itertools import starmap
from typing import Callable, NamedTuple

import pyarrow as pa

FORMAT_VERSION = "jb"
LIVE_LDT = 0x7FFFFFFF  # local_deletion_time of a live row
LIVE_MFDA = -(2**63)  # marked_for_delete_at of a live row
NO_EXPIRY = 0x7FFFFFFF

FLAG_TOMBSTONE = 0x01
FLAG_EXPIRING = 0x02
# Counter cell (CounterColumnType): the value is an int64 BE *delta*;
# merge SUMS live deltas instead of last-write-wins (Cassandra's
# commutative counter semantics, minus the per-replica shard lists a
# single-writer snapshot doesn't need).
FLAG_COUNTER = 0x04
# Range tombstone (Cassandra's third delete kind, COLUMN_MASK_RANGE
# in the jb format): deletes every cell whose name falls in
# [start, end] at or before its timestamp. Reuses the ordinary cell
# layout — name = start bound, value = end bound (both inclusive,
# compared in raw cell-name byte order), timestamp = deletion time —
# so the on-disk format is unchanged. For CQL3 tables the bounds are
# composite prefixes (see convert.composite_slice_bounds), matching
# Cassandra's clustering-slice DELETEs.
FLAG_RANGE = 0x08
# internal-only marker (never written to disk): the cell VALUE is a
# raw Cassandra CounterContext, not an i64 delta — merge shard-wise
FLAG_CTX = 0x20

# CQL3-style row marker: a zero-byte-named cell asserting the row
# exists even when every regular column is null. Sorts before any real
# (UTF-8) column name and takes part in LWW/tombstone reconciliation.
ROW_MARKER = b"\x00"

DEFAULT_CHUNK_LEN = 65536

# ColumnIndex.db directory-footer marker: 16-byte fixed-width
# (part_off, record_pos) entries + (count, dir_start) + magic.
# Files without it (legacy) are walked in full.
CINDEX_MAGIC = b"CIX1"

# Parsed-Index.db cache keyed by (path, mtime_ns, size): sstables are
# immutable, so each process (driver during planning; a reused Python
# worker across tasks) parses a generation's index once. The package
# reaches workers by reference, so these dicts are never pickled.
_INDEX_CACHE: dict[tuple, list] = {}
_CINDEX_CACHE: dict[tuple, dict] = {}


# ---------------------------------------------------------------- model


@dataclass(slots=True)
class Cell:
    """One (name, value, timestamp) column, Cassandra's cell triple."""

    name: bytes
    value: bytes = b""
    timestamp: int = 0
    flags: int = 0
    ttl: int = 0
    local_expiration: int = NO_EXPIRY

    @property
    def is_tombstone(self) -> bool:
        return bool(self.flags & FLAG_TOMBSTONE)

    def live_at(self, read_ts: int) -> bool:
        f = self.flags
        if f & FLAG_TOMBSTONE:
            return False
        if f & FLAG_EXPIRING and self.local_expiration <= read_ts:
            return False
        return True


@dataclass(slots=True)
class Partition:
    """One partition: key, row-level tombstone, cells sorted by name."""

    key: bytes
    local_deletion_time: int = LIVE_LDT
    marked_for_delete_at: int = LIVE_MFDA
    cells: list[Cell] = field(default_factory=list)


def counter_context_shards(ctx: bytes) -> list[tuple[bytes, int, int]]:
    """Shards of a Cassandra CounterContext: (counter_id, clock,
    count) triples. Contexts are CUMULATIVE per shard — merging two
    contexts takes the higher clock per counter_id, never the sum
    (summing totals across sstable generations double-counts every
    shard present in both)."""
    if len(ctx) < 2:
        return []
    (hc,) = struct.unpack_from(">h", ctx, 0)
    off = 2 + 2 * abs(hc)
    out = []
    while off + 32 <= len(ctx):
        clock, count = struct.unpack_from(">qq", ctx, off + 16)
        out.append((ctx[off : off + 16], clock, count))
        off += 32
    return out


def counter_context_total(ctx: bytes) -> int:
    """Sum of shard counts in a Cassandra CounterContext (public 2.0
    layout: i16 header element count, that many i16 indexes, then
    32-byte shards of 16-byte CounterId + i64 clock + i64 count). The
    sum over all shards IS the counter's value; header flags only mark
    shard ownership for write-path reconciliation."""
    if len(ctx) < 2:
        return 0
    (hc,) = struct.unpack_from(">h", ctx, 0)
    off = 2 + 2 * abs(hc)
    total = 0
    while off + 32 <= len(ctx):
        (count,) = struct.unpack_from(">q", ctx, off + 24)
        total += count
        off += 32
    return total


def range_tombstone(start: bytes, end: bytes, timestamp: int) -> Cell:
    """A range-tombstone cell deleting names in [start, end] (inclusive)."""
    if not start or start > end:
        raise ValueError("range tombstone needs non-empty start <= end")
    return Cell(start, end, timestamp, FLAG_TOMBSTONE | FLAG_RANGE)


def rt_floor(rts: list[tuple[bytes, bytes, int]], name: bytes) -> int:
    """Newest range-tombstone timestamp covering ``name`` (LIVE_MFDA if none).

    Linear in the partition's range-tombstone count — Cassandra keeps
    the same per-partition DeletionInfo list; partitions carry at most
    a handful of slice deletes, and the list never leaves one task.
    """
    floor = LIVE_MFDA
    for s, e, ts in rts:
        if s <= name <= e and ts > floor:
            floor = ts
    return floor


def live_unmerged(part: Partition, read_ts: int) -> dict[bytes, Cell]:
    """One partition version's live cells by name (no cross-sstable merge).

    Drops cell tombstones, TTL-expired cells, and cells covered by a
    same-partition range tombstone — the filtering a single-sstable
    reader (unmerged mode, the generation-delta stream source) applies.
    """
    rts = [(c.name, c.value, c.timestamp) for c in part.cells if c.flags & FLAG_RANGE]
    out = {}
    for c in part.cells:
        if (
            c.flags & FLAG_RANGE
            or not c.live_at(read_ts)
            or (rts and c.timestamp <= rt_floor(rts, c.name))
        ):
            continue
        if c.flags & FLAG_CTX:
            # single-version view: the context's shard sum IS the value
            c = Cell(
                c.name,
                struct.pack(">q", counter_context_total(c.value)),
                c.timestamp,
                FLAG_COUNTER,
            )
        out[c.name] = c
    return out


def reconcile(versions: list[tuple[int, Partition]], read_ts: int) -> dict[bytes, Cell] | None:
    """Merge one key's partitions from N sstables → live cells by name.

    Cassandra's reconcile: highest timestamp wins; on a timestamp tie a
    tombstone beats a live cell, then greater value bytes, then newer
    generation. Row tombstones suppress cells written at or before
    ``marked_for_delete_at``; range tombstones (DeletionInfo slices,
    pooled across all versions) suppress covered cells the same way.
    Returns None when nothing survives.
    """
    if len(versions) == 1:
        # Single-version fast path — the overwhelmingly common shape
        # (one generation holds the key, or post-compaction snapshots).
        # No cross-file LWW to rank: a live cell survives iff it beats
        # the row tombstone and its own TTL. Counter / range-tombstone
        # cells (rare kinds) drop to the general path below.
        _, part = versions[0]
        m = part.marked_for_delete_at
        live_fast: dict[bytes, Cell | None] = {}
        ncells = 0
        ok = True
        for c in part.cells:
            f = c.flags
            if f & 0x0C:  # FLAG_COUNTER | FLAG_RANGE
                ok = False
                break
            ncells += 1
            if (
                f & 0x01
                or (f & FLAG_EXPIRING and c.local_expiration <= read_ts)
                or c.timestamp <= m
            ):
                live_fast[c.name] = None  # dead — kept so dup detection sees it
            else:
                live_fast[c.name] = c
        # duplicate cell names within one sstable (no real memtable
        # flush produces them, but the format tolerates them) need the
        # full LWW rank — detected as a count mismatch, fall through
        if ok and len(live_fast) == ncells:
            live = {n: c for n, c in live_fast.items() if c is not None}
            return live or None

    mfda = max(p.marked_for_delete_at for _, p in versions)
    rts: list[tuple[bytes, bytes, int]] = []
    best: dict[bytes, tuple[tuple, Cell]] = {}
    counters: dict[bytes, list[Cell]] = {}
    get = best.get
    for gen, part in versions:
        for cell in part.cells:
            flags = cell.flags
            if flags & 0x0C:  # FLAG_COUNTER | FLAG_RANGE — the rare kinds
                if flags & FLAG_RANGE:
                    if cell.timestamp > mfda:  # row delete supersedes slices
                        rts.append((cell.name, cell.value, cell.timestamp))
                    continue
                if not flags & 0x01:
                    counters.setdefault(cell.name, []).append(cell)
                    continue
            # hot path: LWW rank (flags & 0x01 is the tombstone bit —
            # 0/1 compares identically to the old bool)
            name = cell.name
            rank = (cell.timestamp, flags & 0x01, cell.value, gen)
            cur = get(name)
            if cur is None or rank > cur[0]:
                best[name] = (rank, cell)
    live = {
        name: cell
        for name, (_, cell) in best.items()
        if cell.timestamp > mfda
        and (not rts or cell.timestamp > rt_floor(rts, name))
        and cell.live_at(read_ts)
    }
    # Counter columns: SUM live deltas newer than any delete of the
    # column (cell tombstone resets the counter; row/range delete too).
    # Real-snapshot cells (FLAG_CTX) carry whole CounterContexts whose
    # shards are CUMULATIVE — merge per counter_id by max clock
    # (Cassandra's context merge) and only then sum distinct shards;
    # summing per-file totals would double-count shards present in
    # more than one generation. Plain i64 deltas (our writer,
    # COUNTER_UPDATE cells) still add on top.
    for name, deltas in counters.items():
        floor_ts = mfda if not rts else max(mfda, rt_floor(rts, name))
        tomb = best.get(name)
        if tomb is not None and tomb[1].is_tombstone:
            floor_ts = max(floor_ts, tomb[1].timestamp)
            live.pop(name, None)
        alive = [c for c in deltas if c.timestamp > floor_ts]
        if alive:
            shards: dict[bytes, tuple[int, int]] = {}
            total = 0
            for c in alive:
                if c.flags & FLAG_CTX:
                    for cid, clock, count in counter_context_shards(c.value):
                        cur = shards.get(cid)
                        # Cassandra's context merge: higher clock wins;
                        # equal clocks resolve to the LARGER count, so
                        # iteration order can't pick the smaller side
                        # of an anomalous equal-clock conflict
                        if cur is None or clock > cur[0] or (
                            clock == cur[0] and count > cur[1]
                        ):
                            shards[cid] = (clock, count)
                else:
                    total += struct.unpack(">q", c.value)[0]
            total += sum(count for _, count in shards.values())
            live[name] = Cell(
                name, struct.pack(">q", total),
                max(c.timestamp for c in alive), FLAG_COUNTER,
            )
    return live or None


def merge_versions(sources, read_ts: int):
    """K-way merge of ``(generation, partitions)`` streams, each sorted
    by key → ``(key, live cells)`` for every key with live cells at
    ``read_ts``. Each stream's generation is bound here, by argument:
    reconcile's last LWW tiebreak reads it."""

    def stream(gen: int, parts):
        for part in parts:
            yield (part.key, gen, part)

    merged = heapq.merge(*starmap(stream, sources), key=lambda t: (t[0], t[1]))
    group_key: bytes | None = None
    group: list[tuple[int, Partition]] = []
    for key, gen, part in merged:
        if key != group_key and group:
            cells = reconcile(group, read_ts)
            if cells:
                yield group_key, cells
            group = []
        group_key = key
        group.append((gen, part))
    if group:
        cells = reconcile(group, read_ts)
        if cells:
            yield group_key, cells


# ---------------------------------------------------------------- bloom


class BloomFilter:
    """Double-hashing bloom over raw partition-key bytes."""

    def __init__(self, n_hashes: int, n_bits: int, bits: bytearray) -> None:
        self.n_hashes = n_hashes
        self.n_bits = n_bits
        self.bits = bits

    @classmethod
    def sized(cls, n_keys: int, fp_rate: float = 0.01) -> "BloomFilter":
        n_keys = max(n_keys, 1)
        n_bits = max(64, int(-n_keys * math.log(fp_rate) / (math.log(2) ** 2)))
        n_hashes = max(1, round(n_bits / n_keys * math.log(2)))
        return cls(n_hashes, n_bits, bytearray((n_bits + 7) // 8))

    def _indexes(self, key: bytes):
        digest = hashlib.md5(key).digest()
        h1 = int.from_bytes(digest[:8], "big")
        h2 = int.from_bytes(digest[8:], "big")
        for i in range(self.n_hashes):
            yield (h1 + i * h2) % self.n_bits

    def add(self, key: bytes) -> None:
        for idx in self._indexes(key):
            self.bits[idx >> 3] |= 1 << (idx & 7)

    def might_contain(self, key: bytes) -> bool:
        return all(self.bits[i >> 3] & (1 << (i & 7)) for i in self._indexes(key))

    def dump(self) -> bytes:
        return struct.pack(">IQ", self.n_hashes, self.n_bits) + bytes(self.bits)

    @classmethod
    def load(cls, raw: bytes) -> "BloomFilter":
        n_hashes, n_bits = struct.unpack(">IQ", raw[:12])
        if len(raw) - 12 != (n_bits + 7) // 8 or not 1 <= n_hashes <= 32:
            # a foreign Filter.db (e.g. Cassandra's murmur3 OpenBitSet
            # layout) must raise, not silently misfilter — callers
            # fail open on error
            raise ValueError("not this writer's Filter.db layout")
        return cls(n_hashes, n_bits, bytearray(raw[12:]))


class Murmur3BloomFilter:
    """Cassandra 2.0's real ``Filter.db``: murmur3-128 double hashing
    over an OffHeapBitSet (public ``FilterFactory`` / ``BloomFilter``
    serialization).

    Layout: u32 hashCount, u32 word count, then words as big-endian
    i64 — each word was assembled little-endian from the byte-addressed
    bitset, so bit n of the filter lives at byte (n >> 3), bit (n & 7)
    of the reassembled byte array (same addressing as our stand-in).

    Index derivation mirrors the Java exactly: signed-64 wraparound of
    h1 + i*h2, Java's truncated %, then abs.
    """

    def __init__(self, n_hashes: int, bits: bytearray) -> None:
        self.n_hashes = n_hashes
        self.bits = bytearray(bits)
        self.n_bits = len(bits) * 8

    @classmethod
    def load(cls, raw: bytes) -> "Murmur3BloomFilter":
        n_hashes, n_words = struct.unpack(">II", raw[:8])
        if not 1 <= n_hashes <= 32 or len(raw) - 8 != 8 * n_words:
            raise ValueError("not a murmur3 OpenBitSet Filter.db layout")
        out = bytearray()
        for w in range(n_words):
            (word,) = struct.unpack_from(">Q", raw, 8 + 8 * w)
            out += word.to_bytes(8, "little")
        return cls(n_hashes, out)

    def might_contain(self, key: bytes) -> bool:
        from cassowary_spark.sources.murmur3 import hash3_x64_128

        h1, h2 = hash3_x64_128(key)
        nbits = self.n_bits
        bits = self.bits
        for i in range(self.n_hashes):
            v = (h1 + i * h2) & 0xFFFFFFFFFFFFFFFF
            if v & (1 << 63):
                v -= 1 << 64  # Java signed wraparound
            idx = abs(v) % nbits  # == abs(java `v % nbits`)
            if not bits[idx >> 3] & (1 << (idx & 7)):
                return False
        return True

    def dump(self) -> bytes:
        out = bytearray(struct.pack(">II", self.n_hashes, len(self.bits) // 8))
        for w in range(0, len(self.bits), 8):
            out += struct.pack(
                ">Q", int.from_bytes(self.bits[w : w + 8], "little")
            )
        return bytes(out)

    @classmethod
    def sized(cls, n_keys: int, fp_rate: float = 0.01) -> "Murmur3BloomFilter":
        proto = BloomFilter.sized(n_keys, fp_rate)
        n_bytes = (proto.n_bits + 7) // 8
        n_bytes += (-n_bytes) % 8  # whole words
        return cls(proto.n_hashes, bytearray(n_bytes))

    def add(self, key: bytes) -> None:
        from cassowary_spark.sources.murmur3 import hash3_x64_128

        bits = self.bits  # mutated in place — adds are O(hashes)
        h1, h2 = hash3_x64_128(key)
        for i in range(self.n_hashes):
            v = (h1 + i * h2) & 0xFFFFFFFFFFFFFFFF
            if v & (1 << 63):
                v -= 1 << 64
            idx = abs(v) % self.n_bits
            bits[idx >> 3] |= 1 << (idx & 7)


# ---------------------------------------------------------- chunk codecs

_LZ4 = pa.Codec("lz4_raw")
_SNAPPY = pa.Codec("snappy")


def _decode_exact(codec: pa.Codec, block: bytes, size: int) -> bytes:
    # pyarrow drops the decoded length liblz4/libsnappy report and pads a
    # short block with whatever its buffer held, so first show that the
    # block does not fit in one byte less
    if size:
        try:
            codec.decompress(block, decompressed_size=size - 1)
        except (OSError, ValueError):
            pass
        else:
            raise IOError(f"block decodes to fewer than {size} bytes")
    return codec.decompress(block, decompressed_size=size, asbytes=True)


def _deflate_unpack(chunk: bytes, size: int) -> bytes:
    piece = zlib.decompress(chunk)
    if len(piece) != size:
        raise IOError(f"deflate chunk holds {len(piece)} bytes, expected {size}")
    return piece


def _lz4_pack(piece: bytes) -> bytes:
    return struct.pack("<I", len(piece)) + _LZ4.compress(piece, asbytes=True)


def _lz4_unpack(chunk: bytes, size: int) -> bytes:
    (n,) = struct.unpack_from("<I", chunk)
    if n != size:
        raise IOError(f"LZ4 length prefix {n}, expected {size}")
    return _decode_exact(_LZ4, chunk[4:], size)


class ChunkCodec(NamedTuple):
    pack: Callable[[bytes], bytes] | None  # None: read-only
    # (chunk, decoded size) -> exactly that many bytes, or raises
    unpack: Callable[[bytes, int], bytes]


# Data.db chunk framing per Cassandra compressor class, the name
# CompressionInfo.db records. LZ4Compressor: the decoded length as 4
# LE bytes, then one raw LZ4 block. SnappyCompressor (Cassandra 1.x's
# default): one raw Snappy block. DeflateCompressor: one zlib stream.
CHUNK_CODECS = {
    "LZ4Compressor": ChunkCodec(_lz4_pack, _lz4_unpack),
    "SnappyCompressor": ChunkCodec(None, partial(_decode_exact, _SNAPPY)),
    "DeflateCompressor": ChunkCodec(partial(zlib.compress, level=6), _deflate_unpack),
}
# the writer's `compression` values
_WRITE_COMPRESSORS = {"deflate": "DeflateCompressor", "lz4": "LZ4Compressor"}


# ---------------------------------------------------------------- writer


class SSTableWriter:
    """Append-sorted writer producing one SSTable's component files.

    Cassandra writes SSTables from flushed memtables already sorted by
    token; we require callers to append in raw-key-byte order (assert)
    — the same invariant every reader-side merge relies on.
    """

    COMPONENTS = (
        "Data.db",
        "Index.db",
        "ColumnIndex.db",
        "Filter.db",
        "Statistics.db",
        "TOC.txt",
    )

    def __init__(
        self,
        directory: str,
        keyspace: str,
        table: str,
        generation: int,
        schema: dict,
        compression: str | None = "deflate",
        chunk_len: int = DEFAULT_CHUNK_LEN,
        bloom_fp: float = 0.01,
        expected_keys: int = 1024,
        column_index_len: int = 4096,
        layout: str = "standin",
    ) -> None:
        if compression is not None and compression not in _WRITE_COMPRESSORS:
            raise ValueError(f"unsupported compression {compression!r}")
        if layout not in ("standin", "real"):
            raise ValueError(f"unsupported layout {layout!r}")
        # layout="real": EVERY component serializes in Cassandra 2.0's
        # own jb formats (binary Statistics.db, murmur3 OpenBitSet
        # Filter.db, promoted-size Index.db entries, param-block
        # CompressionInfo.db, ColumnSerializer cell masks) — the
        # export direction of the real-snapshot READ support. Partitions
        # stay in raw-key order although Statistics.db names the
        # Murmur3Partitioner, which orders them by token, so a genuine
        # node would not find its keys in these files.
        # No ColumnIndex.db is emitted (not a real component).
        self.layout = layout
        self.directory = directory
        self.prefix = f"{keyspace}-{table}-{FORMAT_VERSION}-{generation}-"
        self.schema = schema
        self.compression = compression
        self.chunk_len = chunk_len
        self.column_index_len = column_index_len
        self._data = io.BytesIO()
        self._index: list[tuple[bytes, int]] = []
        # promoted per-partition column index (Cassandra's ColumnIndex,
        # here a separate component): per partition, the uncompressed
        # offset + first cell name of each ~column_index_len-byte block
        # of the cell stream, plus whether the partition carries range
        # tombstones (which force full-partition reads — an RT's start
        # bound can sort before a slice it covers).
        self._cindex: list[tuple[int, int, bool, list[tuple[int, bytes]]]] = []
        self._bloom = (
            Murmur3BloomFilter.sized(expected_keys, bloom_fp)
            if layout == "real"
            else BloomFilter.sized(expected_keys, bloom_fp)
        )
        self._last_key: bytes | None = None
        self._min_ts: int | None = None
        self._max_ts: int | None = None
        # Clustered schemas: cells sort in the typed comparator order
        # (Cassandra's on-disk order), keyed via composite_cmp_key so
        # readers may bisect the promoted index with range bounds.
        self._cluster_vnames: tuple[str, ...] | None = None
        if isinstance(schema, dict) and schema.get("clustering"):
            self._cluster_vnames = tuple(v for _, v in schema["clustering"])
        os.makedirs(directory, exist_ok=True)

    def append(self, part: Partition) -> None:
        if self._last_key is not None and part.key <= self._last_key:
            raise ValueError("partitions must be appended in ascending key order")
        self._last_key = part.key
        self._index.append((part.key, self._data.tell()))
        self._bloom.add(part.key)

        part_off = self._data.tell()
        w = self._data.write
        w(struct.pack(">H", len(part.key)))
        w(part.key)
        w(struct.pack(">Iq", part.local_deletion_time, part.marked_for_delete_at))
        blocks: list[tuple[int, bytes]] = []
        block_start = -1
        has_rt = False
        if self._cluster_vnames is not None:
            vn = self._cluster_vnames
            cell_sort_key = lambda c: composite_cmp_key(c.name, vn)  # noqa: E731
        else:
            cell_sort_key = lambda c: c.name  # noqa: E731
        real = self.layout == "real"
        for cell in sorted(part.cells, key=cell_sort_key):
            if not cell.name:
                raise ValueError("cell names must be non-empty")
            cell_off = self._data.tell()
            if block_start < 0 or cell_off - block_start >= self.column_index_len:
                blocks.append((cell_off, cell.name))
                block_start = cell_off
            if cell.flags & FLAG_RANGE:
                has_rt = True
            w(struct.pack(">H", len(cell.name)))
            w(cell.name)
            if real:
                self._write_cell_real(w, cell)
            else:
                w(struct.pack(">B", cell.flags))
                if cell.flags & FLAG_EXPIRING:
                    w(struct.pack(">II", cell.ttl, cell.local_expiration))
                w(struct.pack(">q", cell.timestamp))
                w(struct.pack(">i", len(cell.value)))
                w(cell.value)
            if self._min_ts is None or cell.timestamp < self._min_ts:
                self._min_ts = cell.timestamp
            if self._max_ts is None or cell.timestamp > self._max_ts:
                self._max_ts = cell.timestamp
        if part.marked_for_delete_at != LIVE_MFDA:
            ts = part.marked_for_delete_at
            self._min_ts = ts if self._min_ts is None else min(self._min_ts, ts)
            self._max_ts = ts if self._max_ts is None else max(self._max_ts, ts)
        w(b"\x00\x00")  # end-of-partition
        self._cindex.append((part_off, self._data.tell(), has_rt, blocks))

    @staticmethod
    def _deletion_secs(ts_micros: int) -> int:
        """localDeletionTime (epoch seconds) derived from the cell's
        write timestamp. Integer.MAX_VALUE here would make the
        tombstone un-purgeable on a real node (it never passes the
        gcBefore check); a real time keeps purge semantics intact."""
        return max(0, min(2**31 - 2, ts_micros // 1_000_000))

    def _write_cell_real(self, w, cell: Cell) -> None:
        """One cell body (after the name) in Cassandra 2.0's
        ColumnSerializer layout — the inverse of _parse_cells_real."""
        if cell.flags & FLAG_RANGE:
            # RANGE_TOMBSTONE_MASK: max bound, localDeletionTime,
            # markedForDeleteAt (internal: name=min bound, value=max)
            w(struct.pack(">B", 0x10))
            w(struct.pack(">H", len(cell.value)))
            w(cell.value)
            w(struct.pack(">Iq", self._deletion_secs(cell.timestamp), cell.timestamp))
            return
        if cell.flags & FLAG_COUNTER:
            w(struct.pack(">B", 0x04))
            w(struct.pack(">q", -(2**63)))  # timestampOfLastDelete: none
            w(struct.pack(">q", cell.timestamp))
            if cell.flags & FLAG_CTX:
                # raw CounterContext read from a real snapshot: already
                # a valid shard list — re-export verbatim (synthesizing
                # would re-shard cumulative counts and double them on
                # the next merge)
                w(struct.pack(">i", len(cell.value)))
                w(cell.value)
                return
            # internal i64 delta: synthesize a one-shard context whose
            # CounterId is unique to this generation, so contexts from
            # different generations merge as DISTINCT shards and sum —
            # exactly the delta semantics the internal i64 cells carry
            # (same id + same clock across files would max, not add)
            cid = self.prefix.encode("utf-8")[-16:].rjust(16, b"\x00")
            (delta,) = struct.unpack(">q", cell.value)
            ctx = struct.pack(">h", 0) + cid + struct.pack(
                ">qq", cell.timestamp, delta
            )
            w(struct.pack(">i", len(ctx)))
            w(ctx)
            return
        if cell.flags & FLAG_TOMBSTONE:
            # DELETION_MASK: value is the 4-byte localDeletionTime
            w(struct.pack(">B", 0x01))
            w(struct.pack(">q", cell.timestamp))
            w(struct.pack(">i", 4))
            w(struct.pack(">I", self._deletion_secs(cell.timestamp)))
            return
        if cell.flags & FLAG_EXPIRING:
            w(struct.pack(">B", 0x02))
            w(struct.pack(">II", cell.ttl, cell.local_expiration))
        else:
            w(struct.pack(">B", 0))
        w(struct.pack(">q", cell.timestamp))
        w(struct.pack(">i", len(cell.value)))
        w(cell.value)

    def _component(self, name: str) -> str:
        return os.path.join(self.directory, self.prefix + name)

    def close(self) -> str:
        """Flush all components; returns the sstable prefix path."""
        raw = self._data.getvalue()
        components = list(self.COMPONENTS)
        if self.compression:
            algo = _WRITE_COMPRESSORS[self.compression]
            pack_chunk = CHUNK_CODECS[algo].pack
            offsets: list[int] = []
            with open(self._component("Data.db"), "wb") as f:
                for off in range(0, len(raw), self.chunk_len) or (0,):
                    offsets.append(f.tell())
                    chunk = pack_chunk(raw[off : off + self.chunk_len])
                    f.write(chunk)
                    f.write(struct.pack(">I", zlib.adler32(chunk) & 0xFFFFFFFF))
            with open(self._component("CompressionInfo.db"), "wb") as f:
                f.write(struct.pack(">H", len(algo)) + algo.encode())
                if self.layout == "real":
                    f.write(struct.pack(">I", 0))  # empty parameter block
                f.write(struct.pack(">IQI", self.chunk_len, len(raw), len(offsets)))
                for off in offsets:
                    f.write(struct.pack(">Q", off))
            components.insert(1, "CompressionInfo.db")
        else:
            with open(self._component("Data.db"), "wb") as f:
                f.write(raw)

        with open(self._component("Index.db"), "wb") as f:
            for key, pos in self._index:
                f.write(struct.pack(">H", len(key)) + key + struct.pack(">Q", pos))
                if self.layout == "real":
                    f.write(struct.pack(">I", 0))  # no promoted-index blob

        if self.layout == "real":
            # ColumnIndex.db is this engine's component, not Cassandra's
            components.remove("ColumnIndex.db")
        else:
            with open(self._component("ColumnIndex.db"), "wb") as f:
                # fixed-width directory footer (part_off, record_pos) so a
                # reader serving one key-range parses ONLY its records —
                # per-task full parses of a multi-MB promoted index were
                # the dominant cost of small slice reads
                directory: list[tuple[int, int]] = []
                for part_off, part_end, has_rt, blocks in self._cindex:
                    directory.append((part_off, f.tell()))
                    f.write(
                        struct.pack(
                            ">QQBI", part_off, part_end, int(has_rt), len(blocks)
                        )
                    )
                    for off, name in blocks:
                        f.write(struct.pack(">QH", off, len(name)) + name)
                dir_start = f.tell()
                for po, pos in directory:
                    f.write(struct.pack(">QQ", po, pos))
                f.write(struct.pack(">QQ", len(directory), dir_start))
                f.write(CINDEX_MAGIC)

        with open(self._component("Filter.db"), "wb") as f:
            f.write(self._bloom.dump())

        if self.layout == "real":
            with open(self._component("Statistics.db"), "wb") as f:
                f.write(
                    write_statistics_jb(
                        len(self._index),
                        self._min_ts if self._min_ts is not None else 0,
                        self._max_ts if self._max_ts is not None else 0,
                    )
                )
            with open(self._component("TOC.txt"), "w") as f:
                f.write("\n".join(components) + "\n")
            return os.path.join(self.directory, self.prefix[:-1])

        stats = {
            "format": FORMAT_VERSION,
            "rows": len(self._index),
            "min_key": self._index[0][0].hex() if self._index else None,
            "max_key": self._index[-1][0].hex() if self._index else None,
            "min_timestamp": self._min_ts,
            "max_timestamp": self._max_ts,
            "compression": self.compression,
            "schema": self.schema,
        }
        if self._cluster_vnames is not None:
            # cells are in typed comparator order — readers may push
            # range (not just eq) clustering-slice bounds through the
            # promoted index via composite_cmp_key
            stats["cell_order"] = "typed"
        with open(self._component("Statistics.db"), "w") as f:
            json.dump(stats, f, indent=1)

        with open(self._component("TOC.txt"), "w") as f:
            f.write("\n".join(components) + "\n")
        return os.path.join(self.directory, self.prefix[:-1])


def collapse_keys(parts: list[Partition]) -> list[Partition]:
    """Sort ``parts`` by key (in place) and merge partitions sharing a
    key: later cells append, and reconcile ranks duplicate names on
    read (SSTableWriter.append rejects a repeated key)."""
    parts.sort(key=lambda p: p.key)
    out: list[Partition] = []
    for p in parts:
        if out and out[-1].key == p.key:
            out[-1].cells.extend(p.cells)
        else:
            out.append(p)
    return out


def write_generation(
    directory: str, keyspace: str, table: str, generation: int, schema: dict,
    parts: list[Partition], **writer_options,
) -> str:
    """Write key-sorted, key-unique ``parts`` as one sstable generation
    (bloom sized to the partition count); returns the sstable prefix."""
    w = SSTableWriter(
        directory, keyspace, table, generation, schema,
        expected_keys=len(parts), **writer_options,
    )
    for p in parts:
        w.append(p)
    return w.close()


# ------------------------------------------------- Statistics.db codecs


def write_statistics_jb(
    row_count: int,
    min_timestamp: int,
    max_timestamp: int,
    *,
    partitioner: str = "org.apache.cassandra.dht.Murmur3Partitioner",
    bloom_fp_chance: float = 0.01,
    compression_ratio: float = -1.0,
    max_local_deletion_time: int = 2**31 - 1,
    ancestors: tuple[int, ...] = (),
    tombstone_histogram: tuple[tuple[float, int], ...] = (),
    sstable_level: int = 0,
    min_column_names: tuple[bytes, ...] = (),
    max_column_names: tuple[bytes, ...] = (),
) -> bytes:
    """Serialize Cassandra 2.0 ``SSTableMetadata`` (format "jb"),
    per the public serializer layout (reconstruction — see module
    docstring). Histograms are emitted single-bucket carrying the row
    count; real files have ~90 buckets, which ``parse_statistics_jb``
    handles identically (rows = sum of bucket values)."""
    out = io.BytesIO()

    def hist(pairs: list[tuple[int, int]]) -> None:  # EstimatedHistogram
        out.write(struct.pack(">i", len(pairs)))
        for off, count in pairs:
            out.write(struct.pack(">qq", off, count))

    hist([(1, row_count)])  # row-size histogram
    hist([(1, row_count)])  # column-count histogram
    out.write(struct.pack(">qi", 0, 0))  # ReplayPosition(segment, pos)
    out.write(struct.pack(">qq", min_timestamp, max_timestamp))
    out.write(struct.pack(">i", max_local_deletion_time))
    out.write(struct.pack(">dd", bloom_fp_chance, compression_ratio))
    p = partitioner.encode("utf-8")
    out.write(struct.pack(">H", len(p)) + p)  # writeUTF
    out.write(struct.pack(">i", len(ancestors)))
    for a in ancestors:
        out.write(struct.pack(">i", a))
    # StreamingHistogram: maxBinSize, then (point, count) bins
    out.write(struct.pack(">ii", 100, len(tombstone_histogram)))
    for point, count in tombstone_histogram:
        out.write(struct.pack(">dq", point, count))
    out.write(struct.pack(">i", sstable_level))
    for names in (min_column_names, max_column_names):
        out.write(struct.pack(">i", len(names)))
        for nm in names:
            out.write(struct.pack(">H", len(nm)) + nm)
    return out.getvalue()


def parse_statistics_jb(raw: bytes) -> dict:
    """Parse the binary jb ``SSTableMetadata`` layout → a stats dict in
    this reader's shape. Real files carry no schema and no key bounds:
    ``schema``/``min_key``/``max_key`` come back None and the caller
    must supply a schema (DataSource ``schema`` option)."""
    pos = 0

    def take(fmt: str):
        nonlocal pos
        vals = struct.unpack_from(fmt, raw, pos)
        pos += struct.calcsize(fmt)
        return vals

    def hist() -> int:  # sum of EstimatedHistogram bucket values
        (n,) = take(">i")
        if n < 0 or n > 10_000:
            raise ValueError(f"implausible histogram bucket count {n}")
        total = 0
        for _ in range(n):
            _off, count = take(">qq")
            total += count
        return total

    rows = hist()  # row-size histogram: one entry per partition
    hist()  # column-count histogram
    take(">qi")  # ReplayPosition
    min_ts, max_ts = take(">qq")
    take(">i")  # maxLocalDeletionTime
    bloom_fp, compression_ratio = take(">dd")
    (plen,) = take(">H")
    partitioner = raw[pos : pos + plen].decode("utf-8")
    pos += plen
    (n_anc,) = take(">i")
    ancestors = [take(">i")[0] for _ in range(n_anc)]
    _max_bin, n_bins = take(">ii")
    for _ in range(n_bins):
        take(">dq")
    (level,) = take(">i")
    for _ in range(2):  # min/max column names
        (n_names,) = take(">i")
        for _ in range(n_names):
            (nlen,) = take(">H")
            pos += nlen
    return {
        "format": FORMAT_VERSION,
        "binary_stats": True,
        "rows": rows,
        "min_key": None,
        "max_key": None,
        "min_timestamp": min_ts,
        "max_timestamp": max_ts,
        "bloom_fp_chance": bloom_fp,
        "compression_ratio": compression_ratio,
        "partitioner": partitioner,
        "ancestors": ancestors,
        "sstable_level": level,
        "schema": None,
    }


def parse_statistics(raw: bytes) -> dict:
    """Dispatch Statistics.db bytes: this writer's JSON (starts with
    '{') or Cassandra's binary jb metadata. Raises a message that names
    both accepted layouts when neither parses."""
    head = raw.lstrip()[:1]
    if head == b"{":
        return json.loads(raw.decode("utf-8"))
    try:
        return parse_statistics_jb(raw)
    except (struct.error, ValueError, UnicodeDecodeError) as exc:
        raise ValueError(
            "unrecognized Statistics.db: neither this writer's JSON stats "
            "nor Cassandra 2.0's binary jb SSTableMetadata layout "
            f"({exc}); other sstable format versions (ic/ka/la/...) are "
            "not supported"
        ) from exc


# ---------------------------------------------------------------- reader


def _parse_compression_info(raw: bytes) -> tuple[str, int, int, list[int]]:
    """CompressionInfo.db: this writer's layout OR Cassandra 2.0's real
    ``CompressionMetadata`` serialization.

    Both start with writeUTF(compressor simple name). Ours continues
    ``u32 chunk_len | u64 data_len | u32 count | offsets``; the real
    layout inserts a parameter block first: ``u32 paramCount |
    paramCount × (writeUTF key, writeUTF value) | u32 chunkLength |
    u64 dataLength | u32 chunkCount | offsets``. Each candidate is
    validated by requiring the offset array to consume the file
    exactly, which disambiguates deterministically.
    """
    (algo_len,) = struct.unpack_from(">H", raw, 0)
    algo = raw[2 : 2 + algo_len].decode()
    body = memoryview(raw)[2 + algo_len :]

    def try_ours():
        chunk_len, total, n = struct.unpack_from(">IQI", body, 0)
        if len(body) - 16 != 8 * n or chunk_len <= 0:
            raise ValueError
        return chunk_len, total, list(struct.unpack_from(f">{n}Q", body, 16))

    def try_real():
        pos = 0
        (n_params,) = struct.unpack_from(">I", body, pos)
        pos += 4
        if n_params > 64:
            raise ValueError
        for _ in range(n_params * 2):  # key + value, both writeUTF
            (slen,) = struct.unpack_from(">H", body, pos)
            pos += 2 + slen
        chunk_len, total, n = struct.unpack_from(">IQI", body, pos)
        pos += 16
        if len(body) - pos != 8 * n or chunk_len <= 0:
            raise ValueError
        return chunk_len, total, list(struct.unpack_from(f">{n}Q", body, pos))

    for attempt in (try_ours, try_real):
        try:
            chunk_len, total, offsets = attempt()
            return algo, chunk_len, total, offsets
        except (ValueError, struct.error):
            continue
    raise ValueError(
        "unrecognized CompressionInfo.db layout (neither this writer's "
        "nor Cassandra 2.0's CompressionMetadata serialization)"
    )


class _ChunkedData:
    """Random access over (possibly chunk-compressed) Data.db bytes.

    Decompresses only the chunks covering the requested range — the
    same chunk-granular access CompressionInfo.db gives Cassandra, so
    a key-range scan of a 100 GB sstable touches only its chunks.
    """

    def __init__(self, data_path: str, info_path: str | None) -> None:
        self.data_path = data_path
        if info_path and os.path.exists(info_path):
            with open(info_path, "rb") as f:
                raw = f.read()
            self.algo, self.chunk_len, self.total, self.offsets = (
                _parse_compression_info(raw)
            )
        else:
            self.algo = None
            self.total = os.path.getsize(data_path)
            self.chunk_len = self.total
            self.offsets = []

    def read_range(self, start: int, end: int) -> bytes:
        """Uncompressed bytes [start, end) of the logical data stream."""
        end = min(end, self.total)
        if start >= end:
            return b""
        with open(self.data_path, "rb") as f:
            if self.algo is None:
                f.seek(start)
                return f.read(end - start)
            codec = CHUNK_CODECS.get(self.algo.rsplit(".", 1)[-1])
            if codec is None:
                raise IOError(
                    f"unsupported compressor {self.algo!r} in {self.data_path} "
                    f"(supported: {', '.join(CHUNK_CODECS)})"
                )
            first = start // self.chunk_len
            last = (end - 1) // self.chunk_len
            out = bytearray()
            file_size = os.path.getsize(self.data_path)
            for ci in range(first, last + 1):
                f.seek(self.offsets[ci])
                next_off = (
                    self.offsets[ci + 1] if ci + 1 < len(self.offsets) else file_size
                )
                blob = f.read(next_off - self.offsets[ci])
                payload, crc = blob[:-4], struct.unpack(">I", blob[-4:])[0]
                if zlib.adler32(payload) & 0xFFFFFFFF != crc:
                    raise IOError(f"corrupt chunk {ci} in {self.data_path}")
                size = min(self.chunk_len, self.total - ci * self.chunk_len)
                try:
                    out += codec.unpack(payload, size)
                except (OSError, ValueError, struct.error, zlib.error) as e:
                    raise IOError(f"corrupt chunk {ci} in {self.data_path}: {e}") from e
            base = first * self.chunk_len
            return bytes(out[start - base : end - base])


class SSTableReader:
    """Reader for one SSTable (a ``…-jb-N-`` component prefix)."""

    def __init__(self, prefix: str) -> None:
        self.prefix = prefix
        self.generation = int(prefix.rsplit("-", 1)[-1])
        with open(prefix + "-Statistics.db", "rb") as f:
            self.stats = parse_statistics(f.read())
        # None for real (binary-stats) snapshots — they don't describe
        # their schema; the DataSource requires a `schema` option then
        self.schema = self.stats.get("schema")
        self._data = _ChunkedData(
            prefix + "-Data.db", prefix + "-CompressionInfo.db"
        )
        self._index: list[tuple[bytes, int]] | None = None
        self._index_keys: list[bytes] | None = None
        self._bloom: BloomFilter | None = None

    @property
    def data_length(self) -> int:
        """Uncompressed Data.db length (split-sizing heuristic input)."""
        return self._data.total

    # -- metadata ------------------------------------------------------

    @property
    def min_key(self) -> bytes | None:
        """None = unknown (binary stats) or empty; check stats["rows"]
        to distinguish — pruning must treat unknown as unbounded."""
        return bytes.fromhex(self.stats["min_key"]) if self.stats.get("min_key") else None

    @property
    def max_key(self) -> bytes | None:
        return bytes.fromhex(self.stats["max_key"]) if self.stats.get("max_key") else None

    def index(self) -> list[tuple[bytes, int]]:
        if self._index is None:
            path = self.prefix + "-Index.db"
            st = os.stat(path)
            cache_key = (path, st.st_mtime_ns, st.st_size)
            entries = _INDEX_CACHE.get(cache_key)
            if entries is None:
                entries = []
                with open(path, "rb") as f:
                    raw = f.read()
                pos = 0
                unpack = struct.unpack_from
                append = entries.append
                n = len(raw)
                real = bool(self.stats.get("binary_stats"))
                while pos < n:
                    (klen,) = unpack(">H", raw, pos)
                    key = raw[pos + 2 : pos + 2 + klen]
                    (off,) = unpack(">Q", raw, pos + 2 + klen)
                    append((key, off))
                    pos += 2 + klen + 8
                    if real:
                        # real jb entries carry the promoted index inline:
                        # u32 size + blob (we serve slices from our own
                        # ColumnIndex.db component instead — skip it)
                        (psize,) = unpack(">I", raw, pos)
                        pos += 4 + psize
                # generations are immutable; cache per (path, mtime, size)
                # so repeated queries in one process parse the index once
                if len(_INDEX_CACHE) > 64:
                    _INDEX_CACHE.clear()
                _INDEX_CACHE[cache_key] = entries
            # a Data.db cut at a partition boundary still parses as
            # whole partitions — only the index shows rows are missing
            if entries and entries[-1][1] >= self._data.total:
                raise IOError(
                    f"{self._data.data_path} is truncated: Index.db places a "
                    f"partition at offset {entries[-1][1]} of {self._data.total}"
                )
            self._index = entries
        return self._index

    def column_index(
        self, start: int | None = None, end: int | None = None
    ) -> dict[int, tuple[int, bool, list[int], list[bytes]]] | None:
        """Promoted per-partition column index, or None for snapshots
        written before the component existed.

        Maps partition data offset → (part_end, has_rt, block_offsets,
        block_first_names); block lists are parallel arrays so the
        reader can bisect first names directly.

        With ``start``/``end`` and a directory footer (CINDEX_MAGIC),
        only records whose partition offset falls in [start, end) are
        parsed — a task serving one key-range of a large snapshot
        never walks the whole multi-MB component. Legacy files (no
        footer) parse in full.
        """
        path = self.prefix + "-ColumnIndex.db"
        if not os.path.exists(path):
            return None
        st = os.stat(path)
        cache_key = (path, st.st_mtime_ns, st.st_size, start, end)
        cached = _CINDEX_CACHE.get(cache_key)
        if cached is not None:
            return cached
        with open(path, "rb") as f:
            raw = f.read()
        unpack = struct.unpack_from
        pos, n = 0, len(raw)
        if raw[-4:] == CINDEX_MAGIC:
            n_dir, dir_start = unpack(">QQ", raw, n - 20)
            n = dir_start  # records end where the directory begins
            if (start is not None or end is not None) and n_dir:
                flat = struct.unpack_from(f">{2 * n_dir}Q", raw, dir_start)
                part_offs = flat[0::2]
                i0 = 0 if start is None else bisect_right(part_offs, start - 1)
                i1 = n_dir if end is None else bisect_right(part_offs, end - 1)
                pos = flat[2 * i0 + 1] if i0 < n_dir else n
                n = flat[2 * i1 + 1] if i1 < n_dir else n
        elif start is not None or end is not None:
            # legacy footer-less file: a ranged request would re-parse
            # (and re-cache) the whole component once per distinct
            # range. Parse once under the unranged key and serve the
            # full dict — scan_slices filters offsets itself.
            full = self.column_index()
            _CINDEX_CACHE[cache_key] = full
            return full
        out: dict[int, tuple[int, bool, list[int], list[bytes]]] = {}
        while pos < n:
            part_off, part_end, has_rt, n_blocks = unpack(">QQBI", raw, pos)
            pos += 21
            offs: list[int] = []
            names: list[bytes] = []
            for _ in range(n_blocks):
                off, nlen = unpack(">QH", raw, pos)
                pos += 10
                names.append(raw[pos : pos + nlen])
                offs.append(off)
                pos += nlen
            out[part_off] = (part_end, bool(has_rt), offs, names)
        if len(_CINDEX_CACHE) > 64:
            _CINDEX_CACHE.clear()
        _CINDEX_CACHE[cache_key] = out
        return out

    def bloom(self):
        if self._bloom is None:
            with open(self.prefix + "-Filter.db", "rb") as f:
                raw = f.read()
            try:
                self._bloom = BloomFilter.load(raw)
            except ValueError:
                # real snapshot: murmur3-128 over an OpenBitSet
                self._bloom = Murmur3BloomFilter.load(raw)
        return self._bloom

    def might_contain(self, key: bytes) -> bool:
        mn, mx = self.min_key, self.max_key
        if mn is not None:
            if key < mn or key > mx:
                return False
        elif not self.stats.get("rows"):
            return False  # genuinely empty sstable
        # unknown bounds (binary stats): only the bloom can prune
        try:
            return self.bloom().might_contain(key)
        except Exception:
            # foreign/unreadable Filter.db (real snapshots use the
            # murmur3 OpenBitSet layout) — fail OPEN, never drop keys
            return True

    # -- scanning ------------------------------------------------------

    def index_keys(self) -> list[bytes]:
        if self._index_keys is None:
            self._index_keys = [k for k, _ in self.index()]
        return self._index_keys

    def data_range_for_keys(
        self, start_key: bytes | None, end_key: bytes | None
    ) -> tuple[int, int]:
        """Uncompressed [start, end) covering keys in [start_key, end_key)."""
        idx = self.index()
        keys = self.index_keys()
        lo = 0 if start_key is None else bisect_left(keys, start_key)
        hi = len(idx) if end_key is None else bisect_left(keys, end_key)
        start = idx[lo][1] if lo < len(idx) else self._data.total
        end = idx[hi][1] if hi < len(idx) else self._data.total
        return start, end

    def scan(
        self, start_key: bytes | None = None, end_key: bytes | None = None
    ):
        """Yield Partitions with keys in [start_key, end_key)."""
        start, end = self.data_range_for_keys(start_key, end_key)
        yield from self.scan_offsets(start, end)

    def scan_offsets(self, start: int, end: int):
        """Yield Partitions from uncompressed byte range [start, end).

        Offsets come from Index.db (driver-side planning ships them in
        the InputPartition, so executors never parse the index). One
        row-header loop for both on-disk layouts, with a cell parser per
        layout; a stream cut inside a partition raises IOError.
        """
        parse = _parse_cells_real if self.stats.get("binary_stats") else _parse_cells
        pos = 0
        try:
            buf = self._data.read_range(start, end)
            n = len(buf)
            unpack_from = struct.unpack_from
            while pos < n:
                klen = (buf[pos] << 8) | buf[pos + 1]
                pos += 2
                key = buf[pos : pos + klen]
                pos += klen
                ldt, mfda = unpack_from(">Iq", buf, pos)
                cells, pos = parse(buf, pos + 12)
                yield Partition(key, ldt, mfda, cells)
        except (IndexError, struct.error) as exc:
            raise IOError(
                f"truncated or corrupt {self._data.data_path}: partition at "
                f"or after uncompressed offset {start + pos} does not parse"
            ) from exc

    def scan_rows_fast(self, start: int, end: int, read_ts: int):
        """Fused single-version row scan: yield ``(0, key, raw)`` where
        ``raw`` is {cell_name: value_bytes} of the cells LIVE at
        ``read_ts`` (cell tombstones, expired TTLs, and cells at or
        below the row tombstone already dropped) — no Cell/Partition
        objects, no separate reconcile pass. This is the decode hot
        path for the common shape (a key lives in exactly one sstable);
        partitions carrying rare cell kinds (counters, range
        tombstones) yield ``(1, key, Partition)`` re-parsed through the
        general path so their merge semantics stay in one place.

        Callers must only use this when the byte range is the ONLY
        source for its keys (single-sstable slice): cross-file LWW
        needs the general merge.
        """
        buf = self._data.read_range(start, end)
        pos = 0
        n = len(buf)
        unpack_from = struct.unpack_from
        expiring = FLAG_EXPIRING
        while pos < n:
            part_off = pos
            klen = (buf[pos] << 8) | buf[pos + 1]
            pos += 2
            key = buf[pos : pos + klen]
            pos += klen
            mfda = unpack_from(">q", buf, pos + 4)[0]
            pos += 12
            raw: dict[bytes, bytes | None] = {}
            ncells = 0
            bail = False
            while True:
                nlen = (buf[pos] << 8) | buf[pos + 1]
                pos += 2
                if nlen == 0:
                    break
                name = buf[pos : pos + nlen]
                pos += nlen
                flags = buf[pos]
                pos += 1
                lexp = NO_EXPIRY
                if flags & expiring:
                    lexp = unpack_from(">I", buf, pos + 4)[0]
                    pos += 8
                ts, vlen = unpack_from(">qi", buf, pos)
                pos += 12
                value = buf[pos : pos + vlen]
                pos += vlen
                if bail:
                    continue
                if flags & 0x0C:  # counter / range tombstone → general path
                    bail = True
                    continue
                ncells += 1
                if flags & 0x01 or (flags & expiring and lexp <= read_ts) or ts <= mfda:
                    raw[name] = None  # dead — kept so dup detection sees it
                else:
                    raw[name] = value
            # duplicate cell names in one sstable need the full LWW
            # rank (tie on ts breaks by tombstone bit then value) —
            # detected as a count mismatch, re-parsed generally
            if bail or len(raw) != ncells:
                for part in self.scan_offsets(start + part_off, start + pos):
                    yield (1, part.key, part)
            else:
                yield (0, key, raw)

    # Partitions smaller than this read sequentially even under a name
    # slice — per-partition random reads would re-decompress chunks for
    # no byte savings. Only genuinely large partitions block-skip.
    SLICE_MIN_PARTITION_BYTES = 65536

    def scan_slices(
        self,
        start: int,
        end: int,
        name_lo: bytes | None,
        name_hi: bytes | None,
        name_key=None,
    ):
        """Like scan_offsets, but for large partitions use the promoted
        column index to read only the cell blocks that can contain
        names in [name_lo, name_hi] — Cassandra's clustering-slice read
        served from its per-partition index (I/O-level pushdown; the
        decode-time exact filter still applies downstream, so sloppy
        bounds are safe, dropped cells are never needed).

        Conservative fallbacks: no ColumnIndex.db component → full
        scan; partition carries range tombstones → full partition (an
        RT's start bound can sort before the slice it covers); small
        partitions → sequential scan of the contiguous run (no byte
        savings to be had).
        """
        # Bounds check FIRST: an unbounded scan must never pay the
        # promoted-index parse. Each Python worker parses a
        # generation's multi-MB ColumnIndex.db at least once (its
        # _CINDEX_CACHE starts empty), and parsing it here put
        # ~0.5s/generation of fixed cost on every clustered/collections
        # task that never used it — the dominant term in the r3
        # clustered-path regression.
        if name_lo is None and name_hi is None:
            yield from self.scan_offsets(start, end)
            return
        ci = self.column_index(start, end)
        if ci is None:
            yield from self.scan_offsets(start, end)
            return
        # every partition has a promoted-index record, so the (ranged)
        # record keys double as the partition offset list — no Index.db
        # walk needed here
        offs = sorted(o for o in ci if start <= o < end)
        run_start: int | None = None  # pending sequential run of small partitions
        for off in offs:
            ent = ci.get(off)
            big = ent is not None and ent[0] - off >= self.SLICE_MIN_PARTITION_BYTES
            if not big:
                if run_start is None:
                    run_start = off
                continue
            if run_start is not None:
                yield from self.scan_offsets(run_start, off)
                run_start = None
            part_end, has_rt, boffs, bnames = ent
            cells_start = boffs[0] if boffs else part_end - 2
            hdr = self._data.read_range(off, cells_start)
            klen = (hdr[0] << 8) | hdr[1]
            key = hdr[2 : 2 + klen]
            ldt, mfda = struct.unpack_from(">Iq", hdr, 2 + klen)
            if has_rt or not boffs:
                lo_i, hi_i = 0, len(boffs) - 1
            else:
                # name_key set: cells (hence block first-names) are in
                # typed comparator order and the bounds live in the
                # composite_cmp_key space — translate first-names into
                # that space before bisecting (a handful per partition)
                if name_key is not None:
                    bnames = [name_key(nm) for nm in bnames]
                lo_i = 0 if name_lo is None else max(bisect_right(bnames, name_lo) - 1, 0)
                hi_i = len(bnames) - 1 if name_hi is None else bisect_right(bnames, name_hi) - 1
            if hi_i < lo_i or not boffs:
                # no candidate cells; the header still matters (a row
                # tombstone here must reconcile against other files)
                yield Partition(key, ldt, mfda, [])
                continue
            region_start = boffs[lo_i]
            region_end = boffs[hi_i + 1] if hi_i + 1 < len(boffs) else part_end - 2
            # the region ends at a cell boundary; the appended
            # end-of-partition marker lets the one cell parser run it
            buf = self._data.read_range(region_start, region_end) + b"\x00\x00"
            cells, _ = _parse_cells(buf, 0)
            yield Partition(key, ldt, mfda, cells)
        if run_start is not None:
            yield from self.scan_offsets(run_start, end)


def _parse_cells(buf: bytes, pos: int) -> tuple[list[Cell], int]:
    """Stand-in layout cells from ``pos`` through the end-of-partition
    marker → (cells, offset past the marker). Stops only at the marker:
    a cut buffer raises IndexError or struct.error.

    Hot loop (per-cell work × every scanned cell): header fields come
    from direct byte indexing / one fused unpack per cell — measured
    ~2× over naive per-field unpack_from at 1M+ cells.
    """
    cells: list[Cell] = []
    append = cells.append
    unpack_from = struct.unpack_from
    expiring = FLAG_EXPIRING
    no_expiry = NO_EXPIRY
    while True:
        nlen = (buf[pos] << 8) | buf[pos + 1]
        pos += 2
        if nlen == 0:
            return cells, pos
        name = buf[pos : pos + nlen]
        pos += nlen
        flags = buf[pos]
        pos += 1
        ttl, lexp = 0, no_expiry
        if flags & expiring:
            ttl, lexp = unpack_from(">II", buf, pos)
            pos += 8
        ts, vlen = unpack_from(">qi", buf, pos)
        pos += 12
        value = buf[pos : pos + vlen]
        pos += vlen
        append(Cell(name, value, ts, flags, ttl, lexp))


def _parse_cells_real(buf: bytes, pos: int) -> tuple[list[Cell], int]:
    """Real jb cells (Cassandra 2.0's ``ColumnSerializer``, public
    source), same contract as ``_parse_cells``: real serialization
    masks — DELETION 0x01, EXPIRATION 0x02, COUNTER 0x04 (extra i64
    timestampOfLastDelete and a CounterContext value), COUNTER_UPDATE
    0x08 (plain i64 delta), RANGE_TOMBSTONE 0x10 (u16-prefixed max
    bound + u32 ldt + i64 markedAt). Everything maps onto the internal
    Cell flags, so merge / reconcile / tombstone semantics downstream
    are unchanged.
    """
    cells: list[Cell] = []
    append = cells.append
    unpack_from = struct.unpack_from
    while True:
        nlen = (buf[pos] << 8) | buf[pos + 1]
        pos += 2
        if nlen == 0:
            return cells, pos
        name = buf[pos : pos + nlen]
        pos += nlen
        mask = buf[pos]
        pos += 1
        if mask & 0x10:  # range tombstone column
            (blen,) = unpack_from(">H", buf, pos)
            pos += 2
            bound = buf[pos : pos + blen]
            pos += blen
            _rt_ldt, marked = unpack_from(">Iq", buf, pos)
            pos += 12
            append(Cell(name, bound, marked, FLAG_TOMBSTONE | FLAG_RANGE))
            continue
        if mask & 0x04:  # counter column (context value)
            pos += 8  # timestampOfLastDelete
            ts, vlen = unpack_from(">qi", buf, pos)
            pos += 12
            # keep the RAW context: shards are cumulative, so
            # cross-generation merge must be per-shard max-clock
            # (FLAG_CTX), not a sum of per-file totals
            append(Cell(name, buf[pos : pos + vlen], ts, FLAG_COUNTER | FLAG_CTX))
            pos += vlen
            continue
        ttl, lexp = 0, NO_EXPIRY
        flags = 0
        if mask & 0x02:
            ttl, lexp = unpack_from(">II", buf, pos)
            pos += 8
            flags = FLAG_EXPIRING
        ts, vlen = unpack_from(">qi", buf, pos)
        pos += 12
        value = buf[pos : pos + vlen]
        pos += vlen
        if mask & 0x01:
            # cell tombstone: value is the 4-byte local deletion
            # time, irrelevant to merge semantics
            append(Cell(name, b"", ts, FLAG_TOMBSTONE))
        elif mask & 0x08:
            append(Cell(name, value, ts, FLAG_COUNTER))
        else:
            append(Cell(name, value, ts, flags, ttl, lexp))


def discover_sstables(directory: str) -> list[SSTableReader]:
    """All sstables in a snapshot dir, oldest generation first.

    A generation only counts once its TOC.txt exists — the writer's
    last component, i.e. the commit marker. Streaming readers poll the
    directory while writers flush, and keying on Data.db alone races a
    half-written generation (Statistics.db not yet on disk → reader
    crash; seen as a flaky micro-batch test under load)."""
    prefixes = sorted(
        os.path.join(directory, f[: -len("-Data.db")])
        for f in os.listdir(directory)
        if f.endswith("-Data.db")
        and os.path.exists(os.path.join(directory, f[: -len("-Data.db")] + "-TOC.txt"))
    )
    readers = [SSTableReader(p) for p in prefixes]
    readers.sort(key=lambda r: r.generation)
    return readers


# ------------------------------------------------------------ composites
# CQL3 CompositeType cell names (public Cassandra encoding): each
# component is `u16 length | bytes | 0x00 end-of-component`. A CQL3
# row's cells are named composite(clustering values..., field name);
# the row marker is the composite with an empty field component.


def encode_composite(components: list[bytes]) -> bytes:
    out = bytearray()
    for c in components:
        out += struct.pack(">H", len(c))
        out += c
        out += b"\x00"
    return bytes(out)


def decode_composite(name: bytes) -> list[bytes]:
    # hot path (called per cell in clustered reads): direct byte
    # indexing for the u16 length beats unpack_from ~2×
    parts = []
    pos = 0
    n = len(name)
    while pos < n:
        ln = (name[pos] << 8) | name[pos + 1]
        pos += 2
        parts.append(name[pos : pos + ln])
        pos += ln + 1  # skip end-of-component byte
    return parts


# ----------------------------------------- byte-comparable name keys
#
# The length-prefixed composite encoding does NOT sort like its
# values: enc('b') = 00 01 62 00 sorts below enc('ab') = 00 02 61 62
# 00 although 'b' > 'ab' — the u16 length compares before the data.
# Cassandra's comparator therefore compares composites component-wise
# by TYPE, never by raw name bytes. ``composite_cmp_key`` maps a name
# into a byte string whose raw order equals that typed order (the
# same public trick as Cassandra 4's ByteComparable translation):
#
# - each component's bytes are escaped (00 -> 00 FF) and terminated
#   with 00 00, so shorter components sort before their extensions
#   and component boundaries can never be confused with data;
# - signed big-endian integers flip their sign bit (two's complement
#   puts negatives above positives in raw bytes);
# - IEEE floats use the total-order transform (negative -> invert all
#   bits, positive -> flip sign bit).
#
# Writers sort clustered cells by this key (matching Cassandra's
# on-disk comparator order) and flag it in Statistics.db as
# ``cell_order: typed``; readers can then translate clustering-slice
# bounds (eq AND gt/ge/lt/le) into the same space and bisect the
# promoted index safely — restoring range-slice I/O pushdown.

_CMP_SIGNED_BE = frozenset({"LongType", "Int32Type", "TimestampType", "DateType"})
_CMP_FLOATS = frozenset({"FloatType", "DoubleType"})


def cmp_component(comp: bytes, validator_name: str | None) -> bytes:
    """Byte-comparable encoding of ONE composite component."""
    if comp:
        if validator_name in _CMP_SIGNED_BE:
            comp = bytes([comp[0] ^ 0x80]) + comp[1:]
        elif validator_name in _CMP_FLOATS:
            if comp[0] & 0x80:
                comp = bytes(b ^ 0xFF for b in comp)
            else:
                comp = bytes([comp[0] ^ 0x80]) + comp[1:]
    return comp.replace(b"\x00", b"\x00\xff") + b"\x00\x00"


def composite_cmp_key(name: bytes, validator_names: tuple[str, ...] = ()) -> bytes:
    """Sort key for a composite cell name: raw-byte order of the keys
    == typed comparator order of the names. Components beyond
    ``validator_names`` compare as raw bytes (UTF-8 field names are
    order-preserving already)."""
    out = bytearray()
    for i, comp in enumerate(decode_composite(name)):
        out += cmp_component(
            comp, validator_names[i] if i < len(validator_names) else None
        )
    return bytes(out)
