"""End-to-end reads of REAL-layout Cassandra 2.0 jb snapshots.

The fixtures here are generated by a test-local writer that emits
every component in Cassandra's own serialization (public 2.0 source
layouts — see SURVEY.md §0 provenance): binary ``Statistics.db``,
``Index.db`` entries with inline promoted-index blobs, murmur3-128
``Filter.db`` over an OpenBitSet, real ``CompressionInfo.db`` with
the parameter block, and ``Data.db`` rows using Cassandra's
ColumnSerializer masks (DELETION 0x01 / EXPIRATION 0x02 / COUNTER
0x04 / COUNTER_UPDATE 0x08 / RANGE_TOMBSTONE 0x10), LZ4- or
deflate-chunked. If `read_sstable` handles these, it handles a
genuine ``nodetool snapshot`` directory of that era.
"""

from __future__ import annotations

import struct
import zlib

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from cassowary_spark.sources.sstable_datasource import read_sstable
from cassowary_spark.sources.sstable_format import (
    CHUNK_CODECS,
    Murmur3BloomFilter,
    counter_context_total,
    discover_sstables,
    write_statistics_jb,
)
from cassowary_spark.sources.validators import get_validator

SCHEMA_JSON = (
    '{"key": ["id", "LongType"], '
    '"columns": [["name", "UTF8Type"], ["score", "DoubleType"]]}'
)


def _real_column(name: bytes, value: bytes, ts: int, mask: int = 0, **kw) -> bytes:
    """One column in Cassandra 2.0 ColumnSerializer layout."""
    out = bytearray()
    out += struct.pack(">H", len(name)) + name
    out += struct.pack(">B", mask)
    if mask & 0x10:  # range tombstone: max bound + ldt + markedAt
        bound = kw["bound"]
        out += struct.pack(">H", len(bound)) + bound
        out += struct.pack(">Iq", kw.get("ldt", 1_000), ts)
        return bytes(out)
    if mask & 0x04:  # counter: timestampOfLastDelete first
        out += struct.pack(">q", kw.get("ts_of_last_delete", -(2**63)))
    if mask & 0x02:  # expiring: ttl + localExpiration
        out += struct.pack(">II", kw.get("ttl", 60), kw.get("lexp", 2**31 - 1))
    out += struct.pack(">q", ts)
    out += struct.pack(">i", len(value)) + value
    return bytes(out)


def _counter_context(shards: list[tuple[bytes, int, int]]) -> bytes:
    """CounterContext: i16 header count (0), then 32-byte shards."""
    out = bytearray(struct.pack(">h", 0))
    for cid, clock, count in shards:
        assert len(cid) == 16
        out += cid + struct.pack(">qq", clock, count)
    return bytes(out)


def _write_real_snapshot(
    d: str,
    rows: list[tuple[bytes, bytes]],
    compressor: str,
    generation: int = 1,
    chunk_len: int = 4096,
) -> None:
    """rows = [(key_bytes, serialized_columns_bytes)] sorted by key."""
    import os

    os.makedirs(d, exist_ok=True)
    prefix = f"{d}/ks-real-jb-{generation}-"

    data = bytearray()
    index = bytearray()
    bloom = Murmur3BloomFilter.sized(max(len(rows), 1), 0.01)
    for key, cols in rows:
        # real Index.db entry: key, position, promoted-index blob
        index += struct.pack(">H", len(key)) + key
        index += struct.pack(">Q", len(data))
        promoted = b"\xde\xad\xbe\xef"  # opaque blob the reader must skip
        index += struct.pack(">I", len(promoted)) + promoted
        bloom.add(key)
        data += struct.pack(">H", len(key)) + key
        data += struct.pack(">Iq", 2**31 - 1, -(2**63))  # live row
        data += cols
        data += b"\x00\x00"  # end-of-row marker

    raw = bytes(data)
    offsets = []
    blob = bytearray()
    for off in range(0, len(raw), chunk_len) or (0,):
        offsets.append(len(blob))
        piece = raw[off : off + chunk_len]
        if compressor == "LZ4Compressor":
            chunk = struct.pack("<I", len(piece)) + pa.Codec("lz4_raw").compress(
                piece, asbytes=True
            )
        else:
            chunk = zlib.compress(piece, 6)
        blob += chunk
        blob += struct.pack(">I", zlib.adler32(chunk) & 0xFFFFFFFF)
    with open(prefix + "Data.db", "wb") as f:
        f.write(blob)

    # real CompressionInfo.db: writeUTF name, param block, chunk meta
    with open(prefix + "CompressionInfo.db", "wb") as f:
        name = compressor.encode()
        f.write(struct.pack(">H", len(name)) + name)
        f.write(struct.pack(">I", 1))  # paramCount
        for s in (b"crc_check_chance", b"1.0"):  # one real-world param
            f.write(struct.pack(">H", len(s)) + s)
        f.write(struct.pack(">IQI", chunk_len, len(raw), len(offsets)))
        for off in offsets:
            f.write(struct.pack(">Q", off))

    with open(prefix + "Index.db", "wb") as f:
        f.write(bytes(index))
    with open(prefix + "Filter.db", "wb") as f:
        f.write(bloom.dump())
    with open(prefix + "Statistics.db", "wb") as f:
        f.write(write_statistics_jb(len(rows), 1, 100))
    with open(prefix + "TOC.txt", "w") as f:
        f.write(
            "Data.db\nCompressionInfo.db\nIndex.db\nFilter.db\n"
            "Statistics.db\nTOC.txt\n"
        )


def _std_rows(n: int) -> list[tuple[bytes, bytes]]:
    enc_k = get_validator("LongType").encode
    enc_s = get_validator("UTF8Type").encode
    enc_d = get_validator("DoubleType").encode
    rows = []
    for i in range(n):
        cols = _real_column(b"name", enc_s(f"row{i}"), 10) + _real_column(
            b"score", enc_d(i * 1.5), 10
        )
        rows.append((enc_k(i), cols))
    return rows


@pytest.mark.parametrize("compressor", ["LZ4Compressor", "DeflateCompressor"])
def test_real_jb_snapshot_reads_end_to_end(spark, tmp_path, compressor):
    d = str(tmp_path / "real")
    _write_real_snapshot(d, _std_rows(60), compressor)
    df = read_sstable(spark, d, schema=SCHEMA_JSON)
    got = {(r.id, r.name, r.score) for r in df.collect()}
    assert got == {(i, f"row{i}", i * 1.5) for i in range(60)}
    # point lookup goes through the murmur3 bloom + real index
    hit = df.filter(F.col("id") == 41).collect()
    assert [(r.id, r.name) for r in hit] == [(41, "row41")]


def test_real_jb_masks_tombstone_expiring_counter(spark, tmp_path):
    """Cell tombstones, TTL'd cells, counter contexts, counter-update
    deltas and range tombstones all decode through the real masks."""
    d = str(tmp_path / "realmasks")
    enc_k = get_validator("LongType").encode
    enc_s = get_validator("UTF8Type").encode
    enc_d = get_validator("DoubleType").encode

    ctx = _counter_context([(bytes(16), 1, 7), (bytes([1] * 16), 2, 5)])
    assert counter_context_total(ctx) == 12

    rows = [
        # key 1: live name, deleted score (cell tombstone, ldt value)
        (
            enc_k(1),
            _real_column(b"name", enc_s("alive"), 10)
            + _real_column(b"score", struct.pack(">i", 99), 20, mask=0x01),
        ),
        # key 2: expired name (localExpiration in the past), live score
        (
            enc_k(2),
            _real_column(b"name", enc_s("gone"), 10, mask=0x02, ttl=1, lexp=100)
            + _real_column(b"score", enc_d(2.5), 10),
        ),
        # key 3: unexpired TTL name
        (
            enc_k(3),
            _real_column(
                b"name", enc_s("ttl-live"), 10, mask=0x02, ttl=60, lexp=2**31 - 1
            ),
        ),
    ]
    _write_real_snapshot(d, rows, "DeflateCompressor")
    got = {
        (r.id, r.name, r.score)
        for r in read_sstable(spark, d, schema=SCHEMA_JSON, read_ts=1_000).collect()
    }
    assert got == {
        (1, "alive", None),
        (2, None, 2.5),
        (3, "ttl-live", None),
    }


def test_real_jb_counter_and_range_tombstone(spark, tmp_path):
    d = str(tmp_path / "realctr")
    enc_k = get_validator("LongType").encode

    ctx = _counter_context([(bytes(16), 5, 30), (bytes([2] * 16), 1, 12)])
    rows = [
        # counter context cell (mask 0x04) decodes to the shard sum
        (enc_k(1), _real_column(b"ctr", ctx, 10, mask=0x04)),
        # counter-update delta (mask 0x08) is a plain i64
        (enc_k(2), _real_column(b"ctr", struct.pack(">q", 9), 10, mask=0x08)),
        # range tombstone [a, c] at ts 50 kills the covered cell
        (
            enc_k(3),
            _real_column(b"a", b"", 50, mask=0x10, bound=b"c")
            + _real_column(b"b", struct.pack(">q", 1), 40, mask=0x08)
            + _real_column(b"zz", struct.pack(">q", 4), 40, mask=0x08),
        ),
    ]
    _write_real_snapshot(d, rows, "LZ4Compressor")
    schema = (
        '{"key": ["id", "LongType"], "columns": [["ctr", "LongType"], '
        '["b", "LongType"], ["zz", "LongType"]]}'
    )
    rows_out = {r.id: r for r in read_sstable(spark, d, schema=schema).collect()}
    assert rows_out[1].ctr == 42  # 30 + 12 shard counts
    assert rows_out[2].ctr == 9
    assert rows_out[3].b is None  # covered by the range tombstone
    assert rows_out[3].zz == 4


def test_real_jb_multi_generation_merge(spark, tmp_path):
    """Two real generations LWW-merge exactly like stand-in ones."""
    d = str(tmp_path / "realmerge")
    enc_k = get_validator("LongType").encode
    enc_s = get_validator("UTF8Type").encode
    g1 = [(enc_k(i), _real_column(b"name", enc_s(f"old{i}"), 10)) for i in range(10)]
    g2 = [
        (enc_k(i), _real_column(b"name", enc_s(f"new{i}"), 20))
        for i in range(0, 10, 2)
    ]
    _write_real_snapshot(d, g1, "LZ4Compressor", generation=1)
    _write_real_snapshot(d, g2, "DeflateCompressor", generation=2)
    assert len(discover_sstables(d)) == 2
    got = {
        (r.id, r.name)
        for r in read_sstable(
            spark,
            d,
            schema='{"key": ["id", "LongType"], "columns": [["name", "UTF8Type"]]}',
        ).collect()
    }
    want = {(i, f"new{i}" if i % 2 == 0 else f"old{i}") for i in range(10)}
    assert got == want


def test_murmur3_bloom_roundtrip_and_no_false_negatives():
    bf = Murmur3BloomFilter.sized(500, 0.01)
    keys = [f"key-{i}".encode() for i in range(500)]
    for k in keys:
        bf.add(k)
    loaded = Murmur3BloomFilter.load(bf.dump())
    assert all(loaded.might_contain(k) for k in keys)
    fp = sum(loaded.might_contain(f"miss-{i}".encode()) for i in range(2000))
    assert fp / 2000 < 0.1


def test_snappy_chunk_decoder_vectors():
    """Raw Snappy block decode (Cassandra 1.x default compressor)."""
    import os as _os
    import random

    snappy = CHUNK_CODECS["SnappyCompressor"]
    assert snappy.pack is None  # decode only

    # hand-built per the public spec: varint len 12, literal 'abc',
    # then a kind-1 copy: len 9, offset 3 -> 'abc' * 4
    blk = bytes([12]) + bytes([(3 - 1) << 2]) + b"abc" + bytes(
        [(1) | ((9 - 4) << 2) | ((3 >> 8) << 5), 3 & 0xFF]
    )
    assert snappy.unpack(blk, 12) == b"abcabcabcabc"
    # kind-2 copy: literal 'xy', copy len 6 offset 2
    blk2 = bytes([8]) + bytes([(2 - 1) << 2]) + b"xy" + bytes(
        [2 | ((6 - 1) << 2)]
    ) + (2).to_bytes(2, "little")
    assert snappy.unpack(blk2, 8) == b"xyxyxyxy"
    # the varint length must match the chunk's expected size
    for size in (7, 9):
        with pytest.raises((IOError, ValueError)):
            snappy.unpack(blk2, size)

    random.seed(11)
    for src in [b"", b"z", _os.urandom(3000),
                bytes(random.choice(b"ab") for _ in range(70_000))]:
        blk = pa.Codec("snappy").compress(src, asbytes=True)
        assert snappy.unpack(blk, len(src)) == src


def test_real_jb_snappy_snapshot_reads(spark, tmp_path):
    """A SnappyCompressor real-layout snapshot reads end-to-end."""
    import os
    import zlib as _z

    d = str(tmp_path / "realsnappy")
    rows = _std_rows(40)
    os.makedirs(d, exist_ok=True)
    prefix = f"{d}/ks-real-jb-1-"
    data = bytearray()
    index = bytearray()
    bloom = Murmur3BloomFilter.sized(len(rows), 0.01)
    for key, cols in rows:
        index += struct.pack(">H", len(key)) + key + struct.pack(">Q", len(data))
        index += struct.pack(">I", 0)  # empty promoted blob
        bloom.add(key)
        data += struct.pack(">H", len(key)) + key
        data += struct.pack(">Iq", 2**31 - 1, -(2**63))
        data += cols + b"\x00\x00"
    raw = bytes(data)
    chunk_len = 4096
    offsets, blob = [], bytearray()
    for off in range(0, len(raw), chunk_len):
        offsets.append(len(blob))
        chunk = pa.Codec("snappy").compress(raw[off : off + chunk_len], asbytes=True)
        blob += chunk + struct.pack(">I", _z.adler32(chunk) & 0xFFFFFFFF)
    open(prefix + "Data.db", "wb").write(blob)
    with open(prefix + "CompressionInfo.db", "wb") as f:
        name = b"SnappyCompressor"
        f.write(struct.pack(">H", len(name)) + name)
        f.write(struct.pack(">I", 0))  # real layout, no params
        f.write(struct.pack(">IQI", chunk_len, len(raw), len(offsets)))
        for off in offsets:
            f.write(struct.pack(">Q", off))
    open(prefix + "Index.db", "wb").write(bytes(index))
    open(prefix + "Filter.db", "wb").write(bloom.dump())
    open(prefix + "Statistics.db", "wb").write(write_statistics_jb(len(rows), 1, 100))
    open(prefix + "TOC.txt", "w").write("Data.db\nTOC.txt\n")

    df = read_sstable(spark, d, schema=SCHEMA_JSON)
    got = {(r.id, r.name, r.score) for r in df.collect()}
    assert got == {(i, f"row{i}", i * 1.5) for i in range(40)}


def test_real_jb_counter_shards_merge_across_generations(spark, tmp_path):
    """Counter contexts are CUMULATIVE per shard: a shard present in
    two generations must contribute its max-clock count once, never
    the sum of both files' copies."""
    d = str(tmp_path / "realctrmerge")
    enc_k = get_validator("LongType").encode
    A, B = bytes([7] * 16), bytes([9] * 16)

    # gen1: shard A at clock 1 -> 10
    g1 = [(enc_k(1), _real_column(b"ctr", _counter_context([(A, 1, 10)]), 10, mask=0x04))]
    # gen2: shard A advanced to clock 2 -> 25, new shard B -> 5
    g2 = [
        (
            enc_k(1),
            _real_column(
                b"ctr", _counter_context([(A, 2, 25), (B, 1, 5)]), 20, mask=0x04
            ),
        )
    ]
    _write_real_snapshot(d, g1, "DeflateCompressor", generation=1)
    _write_real_snapshot(d, g2, "DeflateCompressor", generation=2)
    schema = '{"key": ["id", "LongType"], "columns": [["ctr", "LongType"]]}'
    rows = {r.id: r.ctr for r in read_sstable(spark, d, schema=schema).collect()}
    assert rows == {1: 30}  # A@clock2 (25) + B (5); NOT 10+25+5
    # unmerged view still surfaces each generation's own total
    um = sorted(
        r.ctr
        for r in read_sstable(spark, d, schema=schema, merge="false").collect()
    )
    assert um == [10, 30]


def test_murmur3_matches_cassandra_tokens():
    """Cassandra's murmur3 sign-extends TAIL bytes (no & 0xff in the
    Java tail switch), diverging from canonical murmur3 for any tail
    byte >= 0x80. These vectors are Murmur3Partitioner tokens (h1 of
    the 128-bit hash) from the public DataStax python-driver test
    suite — the high-byte cases fail on a canonical implementation."""
    from cassowary_spark.sources.murmur3 import hash3_x64_128

    assert hash3_x64_128(b"123")[0] == -7468325962851647638
    assert hash3_x64_128(b"\x00\xff\x10\xfa\x99" * 10)[0] == 5837342703291459765
    assert hash3_x64_128(b"\xfe" * 8)[0] == -8927430733708461935
    assert hash3_x64_128(b"\x10" * 8)[0] == 1446172840243228796


def test_murmur3_bloom_high_byte_keys(spark, tmp_path):
    """Point lookups on keys with high bytes (negative longs, non-ASCII
    text) must survive the murmur3 bloom — the exact shape the signed
    tail bug silently dropped."""
    d = str(tmp_path / "realhigh")
    enc_k = get_validator("LongType").encode
    enc_s = get_validator("UTF8Type").encode
    rows = [
        (enc_k(k), _real_column(b"name", enc_s(f"v{k}"), 10))
        for k in sorted([-5, -1, 0, 3], key=enc_k)
    ]
    _write_real_snapshot(d, rows, "DeflateCompressor")
    schema = '{"key": ["id", "LongType"], "columns": [["name", "UTF8Type"]]}'
    df = read_sstable(spark, d, schema=schema)
    assert {(r.id, r.name) for r in df.collect()} == {
        (-5, "v-5"), (-1, "v-1"), (0, "v0"), (3, "v3")
    }
    hit = df.filter(F.col("id") == -5).collect()  # negative key: FF-lead bytes
    assert [(r.id, r.name) for r in hit] == [(-5, "v-5")]


def test_codec_property_roundtrips():
    """Hypothesis-driven round-trips through the LZ4 and Snappy chunk
    framings: arbitrary byte strings, including low-entropy/repetitive
    shapes the match finders exercise hardest."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    lz4, snappy = CHUNK_CODECS["LZ4Compressor"], CHUNK_CODECS["SnappyCompressor"]

    @given(
        src=st.one_of(
            st.binary(max_size=2000),
            st.builds(
                lambda pat, n: (pat * n)[:5000],
                st.binary(min_size=1, max_size=8),
                st.integers(min_value=1, max_value=2000),
            ),
        )
    )
    @settings(max_examples=300, deadline=None)
    def check(src):
        assert lz4.unpack(lz4.pack(src), len(src)) == src
        assert snappy.unpack(pa.Codec("snappy").compress(src, asbytes=True), len(src)) == src

    check()


@pytest.mark.parametrize("compression", ["lz4", "deflate"])
def test_export_real_layout_roundtrip(spark, tmp_path, compression):
    """layout='real' writes EVERY component in Cassandra's own
    serialization (the export direction): reading the result back
    through the real-format paths — binary stats, promoted-size index
    entries, murmur3 bloom, real cell masks — must reproduce exactly
    what the stand-in layout holds, including tombstones, TTL and
    multi-generation counter deltas."""
    import json
    import struct as _s

    from cassowary_spark.sources.sstable_format import (
        FLAG_COUNTER,
        FLAG_EXPIRING,
        FLAG_TOMBSTONE,
        Cell,
        Partition,
        SSTableWriter,
        parse_statistics,
    )

    schema = {
        "key": ["id", "LongType"],
        "columns": [["name", "UTF8Type"], ["ctr", "LongType"]],
    }
    enc_k = get_validator("LongType").encode
    enc_s = get_validator("UTF8Type").encode
    d = str(tmp_path / "export")
    for gen, delta in ((1, 5), (2, 7)):
        w = SSTableWriter(
            d, "ks", "exp", gen, schema, layout="real", compression=compression
        )
        for i in range(20):
            cells = [Cell(b"name", enc_s(f"g{gen}r{i}"), gen * 10)]
            cells.append(Cell(b"ctr", _s.pack(">q", delta), gen * 10, FLAG_COUNTER))
            if i == 3 and gen == 2:
                cells = [Cell(b"name", b"", 100, FLAG_TOMBSTONE)]
            if i == 4 and gen == 2:
                cells = [Cell(b"name", enc_s("expired"), 50, FLAG_EXPIRING, 1, 100)]
            w.append(Partition(enc_k(i), cells=cells))
        w.close()

    # components really are the real layouts
    stats = parse_statistics(open(f"{d}/ks-exp-jb-1-Statistics.db", "rb").read())
    assert stats["binary_stats"] and stats["schema"] is None

    rows = {
        r.id: (r.name, r.ctr)
        for r in read_sstable(
            spark, d, schema=json.dumps(schema), read_ts=1_000
        ).collect()
    }
    assert rows[0] == ("g2r0", 12)  # LWW name + summed counter deltas
    assert rows[3] == (None, 5)  # gen2 tombstone kills name, gen1 ctr lives
    assert rows[4] == (None, 5)  # gen2 TTL'd name expired at read_ts
    assert len(rows) == 20
    # murmur3-bloom-pruned point lookup
    import pyspark.sql.functions as SF

    hit = (
        read_sstable(spark, d, schema=json.dumps(schema))
        .filter(SF.col("id") == 7)
        .collect()
    )
    assert [(r.id, r.name) for r in hit] == [(7, "g2r7")]


def _golden_cell(name: bytes, mask: int, body: bytes) -> bytes:
    """Cell bytes with NO shared helpers: u16 name len, name, u8 mask,
    then the caller-packed mask-specific body."""
    return struct.pack(">H", len(name)) + name + struct.pack(">B", mask) + body


def test_golden_handpacked_jb_snapshot(spark, tmp_path):
    """A golden snapshot whose every byte is struct.pack'd INLINE in
    this test — nothing comes from sources/sstable_format.py (no
    writer, no bloom class, no stats serializer, no validators), so a
    reader bug cannot be cancelled by a matching writer bug. Layouts
    follow the public Cassandra 2.0 jb serializations documented in
    the module docstring; expected rows are asserted byte-exactly.

    Covers: two generations with LWW column override, a cell
    tombstone shadowing an older value, deflate chunked Data.db with
    adler32 trailers, real CompressionInfo.db with a parameter block,
    promoted-index entries the reader must skip, an all-ones murmur3
    OpenBitSet Filter.db (structurally valid, never prunes), and the
    binary Statistics.db metadata layout."""
    import json
    import os
    import zlib as _z

    d = str(tmp_path / "golden")
    os.makedirs(d)

    def be_long(v: int) -> bytes:
        return struct.pack(">q", v)

    def be_double(v: float) -> bytes:
        return struct.pack(">d", v)

    def partition(key: bytes, cells: bytes) -> bytes:
        # u16 key len | key | u32 localDeletionTime | i64 markedForDeleteAt
        return (
            struct.pack(">H", len(key)) + key
            + struct.pack(">Iq", 0x7FFFFFFF, -(2**63))  # live row
            + cells
            + b"\x00\x00"  # end-of-partition
        )

    def plain(name: bytes, value: bytes, ts: int) -> bytes:
        return _golden_cell(
            name, 0x00, struct.pack(">q", ts) + struct.pack(">i", len(value)) + value
        )

    def deletion(name: bytes, ts: int, ldt: int) -> bytes:
        # DELETION_MASK: value is the 4-byte localDeletionTime
        return _golden_cell(
            name, 0x01, struct.pack(">q", ts) + struct.pack(">i", 4) + struct.pack(">I", ldt)
        )

    gens = {
        1: [
            (be_long(1), plain(b"name", "alpha".encode(), 10) + plain(b"score", be_double(1.5), 10)),
            (be_long(2), plain(b"name", "beta".encode(), 10) + plain(b"score", be_double(2.5), 10)),
            (be_long(3), plain(b"name", "gamma".encode(), 10) + plain(b"score", be_double(3.5), 10)),
        ],
        2: [
            (be_long(2), plain(b"name", "beta2".encode(), 20)),
            (be_long(3), deletion(b"score", 20, 100)),
        ],
    }

    CHUNK = 4096
    for gen, rows in gens.items():
        prefix = f"{d}/ks-golden-jb-{gen}-"
        data = bytearray()
        index = bytearray()
        for key, cells in rows:
            index += struct.pack(">H", len(key)) + key
            index += struct.pack(">Q", len(data))
            promoted = b"\x01\x02\x03\x04\x05"  # opaque, must be skipped
            index += struct.pack(">I", len(promoted)) + promoted
            data += partition(key, cells)
        raw = bytes(data)

        blob = bytearray()
        offsets = []
        for off in range(0, len(raw), CHUNK) or (0,):
            offsets.append(len(blob))
            chunk = _z.compress(raw[off : off + CHUNK], 6)
            blob += chunk + struct.pack(">I", _z.adler32(chunk) & 0xFFFFFFFF)
        open(prefix + "Data.db", "wb").write(bytes(blob))

        ci = bytearray()
        name = b"DeflateCompressor"
        ci += struct.pack(">H", len(name)) + name  # writeUTF
        ci += struct.pack(">I", 0)  # paramCount
        ci += struct.pack(">IQI", CHUNK, len(raw), len(offsets))
        for off in offsets:
            ci += struct.pack(">Q", off)
        open(prefix + "CompressionInfo.db", "wb").write(bytes(ci))

        open(prefix + "Index.db", "wb").write(bytes(index))

        # all-ones murmur3 OpenBitSet: u32 hashCount, u32 words, BE i64
        open(prefix + "Filter.db", "wb").write(
            struct.pack(">II", 3, 4) + b"\xff" * 32
        )

        # binary SSTableMetadata: two single-bucket EstimatedHistograms,
        # ReplayPosition, min/max ts, maxLDT, fp chance + ratio,
        # partitioner writeUTF, ancestors, StreamingHistogram, level,
        # min/max column names
        st = bytearray()
        st += struct.pack(">i", 1) + struct.pack(">qq", 1, len(rows))
        st += struct.pack(">i", 1) + struct.pack(">qq", 1, 2 * len(rows))
        st += struct.pack(">qi", 0, 0)
        st += struct.pack(">qq", 10, 20)
        st += struct.pack(">i", 2**31 - 1)
        st += struct.pack(">dd", 0.01, -1.0)
        part_name = b"org.apache.cassandra.dht.Murmur3Partitioner"
        st += struct.pack(">H", len(part_name)) + part_name
        st += struct.pack(">i", 0)
        st += struct.pack(">ii", 100, 0)
        st += struct.pack(">i", 0)
        st += struct.pack(">i", 0) + struct.pack(">i", 0)
        open(prefix + "Statistics.db", "wb").write(bytes(st))

        open(prefix + "TOC.txt", "w").write(
            "Data.db\nCompressionInfo.db\nIndex.db\nFilter.db\n"
            "Statistics.db\nTOC.txt\n"
        )

    schema = json.dumps(
        {
            "key": ["id", "LongType"],
            "columns": [["name", "UTF8Type"], ["score", "DoubleType"]],
        }
    )
    df = read_sstable(spark, d, schema=schema)
    got = {(r.id, r.name, r.score) for r in df.collect()}
    assert got == {
        (1, "alpha", 1.5),   # untouched gen-1 row
        (2, "beta2", 2.5),   # gen-2 LWW name override, gen-1 score kept
        (3, "gamma", None),  # gen-2 tombstone shadows the gen-1 score
    }
    # point lookup through the (never-pruning) hand-packed bloom + index
    hit = df.filter(F.col("id") == 2).collect()
    assert [(r.id, r.name, r.score) for r in hit] == [(2, "beta2", 2.5)]
    # unmerged view surfaces each generation's own row for key 2
    um = read_sstable(spark, d, schema=schema, merge="false")
    k2 = sorted(
        (r.name, r.score) for r in um.filter(F.col("id") == 2).collect()
    )
    assert k2 == [("beta", 2.5), ("beta2", None)]


def test_export_real_layout_ctx_passthrough(spark, tmp_path):
    """A raw CounterContext cell (FLAG_CTX, as read from a genuine
    snapshot) re-exported through SSTableWriter(layout='real') must
    pass the context bytes through verbatim — synthesizing a fresh
    one-shard context would re-shard cumulative counts (and the
    previous code simply raised struct.error on the 50-byte value)."""
    import json
    import struct as _s

    from cassowary_spark.sources.sstable_format import (
        FLAG_COUNTER,
        FLAG_CTX,
        Cell,
        Partition,
        SSTableWriter,
        counter_context_total,
    )

    schema = {"key": ["id", "LongType"], "columns": [["ctr", "LongType"]]}
    enc_k = get_validator("LongType").encode
    A, B = bytes([3] * 16), bytes([8] * 16)
    ctx = _counter_context([(A, 4, 11), (B, 2, 6)])
    assert counter_context_total(ctx) == 17

    d = str(tmp_path / "ctxexport")
    w = SSTableWriter(d, "ks", "ctx", 1, schema, layout="real")
    w.append(
        Partition(enc_k(1), cells=[Cell(b"ctr", ctx, 10, FLAG_COUNTER | FLAG_CTX)])
    )
    # plain delta alongside, to prove both kinds coexist in one file
    w.append(
        Partition(enc_k(2), cells=[Cell(b"ctr", _s.pack(">q", 9), 10, FLAG_COUNTER)])
    )
    w.close()

    rows = {
        r.id: r.ctr
        for r in read_sstable(spark, d, schema=json.dumps(schema)).collect()
    }
    assert rows == {1: 17, 2: 9}


def test_real_jb_counter_equal_clock_takes_larger_count(spark, tmp_path):
    """Cassandra's context merge resolves equal-clock shard conflicts
    by the LARGER count; file iteration order must not decide."""
    d = str(tmp_path / "realctrtie")
    enc_k = get_validator("LongType").encode
    A = bytes([7] * 16)
    g1 = [(enc_k(1), _real_column(b"ctr", _counter_context([(A, 3, 21)]), 10, mask=0x04))]
    g2 = [(enc_k(1), _real_column(b"ctr", _counter_context([(A, 3, 14)]), 20, mask=0x04))]
    _write_real_snapshot(d, g1, "DeflateCompressor", generation=1)
    _write_real_snapshot(d, g2, "DeflateCompressor", generation=2)
    schema = '{"key": ["id", "LongType"], "columns": [["ctr", "LongType"]]}'
    rows = {r.id: r.ctr for r in read_sstable(spark, d, schema=schema).collect()}
    assert rows == {1: 21}  # larger count at the tied clock, not last-seen


def test_distributed_sink_real_layout(spark, tmp_path):
    """df.write.format('sstable').option('layout', 'real') exports a
    snapshot in Cassandra's own component serialization from Spark
    tasks, and it reads back through the real-format paths."""
    import json

    from cassowary_spark.sources.sstable_datasource import write_sstable
    from cassowary_spark.sources.sstable_format import parse_statistics

    d = str(tmp_path / "sinkreal")
    df = spark.range(0, 200).selectExpr(
        "id", "concat('n', id) AS name", "CAST(id * 1.5 AS DOUBLE) AS score"
    )
    write_sstable(
        df.repartition(3, "id"), d, key="id", layout="real", compression="lz4"
    )
    import os

    stats_files = [f for f in os.listdir(d) if f.endswith("Statistics.db")]
    assert stats_files
    st = parse_statistics(open(os.path.join(d, stats_files[0]), "rb").read())
    assert st["binary_stats"]  # really the binary jb metadata
    assert not any(f.endswith("ColumnIndex.db") for f in os.listdir(d))

    schema = json.dumps(
        {
            "key": ["id", "LongType"],
            "columns": [["name", "UTF8Type"], ["score", "DoubleType"]],
        }
    )
    got = {
        (r.id, r.name, r.score)
        for r in read_sstable(spark, d, schema=schema).collect()
    }
    assert got == {(i, f"n{i}", i * 1.5) for i in range(200)}


def test_golden_handpacked_clustered_jb_snapshot(spark, tmp_path):
    """Golden #2: a CLUSTERED real-layout snapshot whose every byte is
    struct.pack'd inline — composite cell names, a clustering-slice
    range tombstone, an expired and a live TTL cell, two generations —
    nothing from sources/sstable_format.py touches the input, so the
    clustered decode path (composite parsing, slice-delete pooling,
    TTL expiry, LWW) is checked against independently packed bytes.

    Table: pk bigint PRIMARY KEY component, ck int clustering, columns
    note text / val double. Gen 2 slice-deletes ck=20 in pk=1, expires
    pk=1/ck=30's note (TTL in the past at read_ts), and live-updates
    pk=2/ck=10's note under an unexpired TTL."""
    import json
    import os
    import zlib as _z

    d = str(tmp_path / "golden_clustered")
    os.makedirs(d)

    def comp(*parts: bytes) -> bytes:
        # CompositeType: per component u16 len | bytes | end byte
        out = b""
        for p in parts:
            out += struct.pack(">H", len(p)) + p + b"\x00"
        return out

    def ck(v: int) -> bytes:
        return struct.pack(">i", v)

    def name(ck_v: int, field: bytes) -> bytes:
        return comp(ck(ck_v), field)

    def cell(nm: bytes, body: bytes) -> bytes:
        return struct.pack(">H", len(nm)) + nm + body

    def plain(nm: bytes, value: bytes, ts: int) -> bytes:
        return cell(nm, struct.pack(">Bqi", 0x00, ts, len(value)) + value)

    def expiring(nm: bytes, value: bytes, ts: int, ttl: int, lexp: int) -> bytes:
        return cell(
            nm,
            struct.pack(">BIIqi", 0x02, ttl, lexp, ts, len(value)) + value,
        )

    def range_ts(lo: bytes, hi: bytes, ts: int) -> bytes:
        # RANGE_TOMBSTONE_MASK: name = min bound; u16 max-bound len,
        # max bound, u32 localDeletionTime, i64 markedForDeleteAt
        return cell(
            lo, struct.pack(">BH", 0x10, len(hi)) + hi + struct.pack(">Iq", 50, ts)
        )

    def partition(key: bytes, cells: bytes) -> bytes:
        return (
            struct.pack(">H", len(key)) + key
            + struct.pack(">Iq", 0x7FFFFFFF, -(2**63))
            + cells
            + b"\x00\x00"
        )

    def pk(v: int) -> bytes:
        return struct.pack(">q", v)

    def dbl(v: float) -> bytes:
        return struct.pack(">d", v)

    FUTURE = 2**31 - 2
    gens = {
        1: [
            (
                pk(1),
                plain(name(10, b"note"), b"a", 10)
                + plain(name(10, b"val"), dbl(1.5), 10)
                + plain(name(20, b"note"), b"b", 10)
                + plain(name(20, b"val"), dbl(2.5), 10)
                + plain(name(30, b"note"), b"c", 10)
                + plain(name(30, b"val"), dbl(3.5), 10),
            ),
            (
                pk(2),
                plain(name(10, b"note"), b"x", 10)
                + plain(name(10, b"val"), dbl(9.0), 10),
            ),
        ],
        2: [
            (
                pk(1),
                # slice-delete the whole ck=20 row (bounds as
                # composite_slice_bounds produces: hi prefix + 0xff)
                range_ts(comp(ck(20)), comp(ck(20)) + b"\xff", 25)
                # TTL'd note already expired at read_ts=1000
                + expiring(name(30, b"note"), b"zzz", 30, 1, 1),
            ),
            (
                pk(2),
                # unexpired TTL note: live LWW override of gen 1
                expiring(name(10, b"note"), b"y", 30, 60, FUTURE),
            ),
        ],
    }

    CHUNK = 4096
    for gen, rows in gens.items():
        prefix = f"{d}/ks-goldclust-jb-{gen}-"
        data = bytearray()
        index = bytearray()
        for key, cells in rows:
            index += struct.pack(">H", len(key)) + key
            index += struct.pack(">Q", len(data))
            promoted = b"\x09\x08\x07"  # opaque, must be skipped
            index += struct.pack(">I", len(promoted)) + promoted
            data += partition(key, cells)
        raw = bytes(data)

        blob = bytearray()
        offsets = []
        for off in range(0, len(raw), CHUNK) or (0,):
            offsets.append(len(blob))
            chunk = _z.compress(raw[off : off + CHUNK], 6)
            blob += chunk + struct.pack(">I", _z.adler32(chunk) & 0xFFFFFFFF)
        open(prefix + "Data.db", "wb").write(bytes(blob))

        ci = bytearray()
        cname = b"DeflateCompressor"
        ci += struct.pack(">H", len(cname)) + cname
        ci += struct.pack(">I", 0)
        ci += struct.pack(">IQI", CHUNK, len(raw), len(offsets))
        for off in offsets:
            ci += struct.pack(">Q", off)
        open(prefix + "CompressionInfo.db", "wb").write(bytes(ci))
        open(prefix + "Index.db", "wb").write(bytes(index))
        open(prefix + "Filter.db", "wb").write(
            struct.pack(">II", 3, 4) + b"\xff" * 32
        )
        st = bytearray()
        st += struct.pack(">i", 1) + struct.pack(">qq", 1, len(rows))
        st += struct.pack(">i", 1) + struct.pack(">qq", 1, 4 * len(rows))
        st += struct.pack(">qi", 0, 0)
        st += struct.pack(">qq", 10, 30)
        st += struct.pack(">i", 2**31 - 1)
        st += struct.pack(">dd", 0.01, -1.0)
        part_name = b"org.apache.cassandra.dht.Murmur3Partitioner"
        st += struct.pack(">H", len(part_name)) + part_name
        st += struct.pack(">i", 0)
        st += struct.pack(">ii", 100, 0)
        st += struct.pack(">i", 0)
        st += struct.pack(">i", 0) + struct.pack(">i", 0)
        open(prefix + "Statistics.db", "wb").write(bytes(st))
        open(prefix + "TOC.txt", "w").write(
            "Data.db\nCompressionInfo.db\nIndex.db\nFilter.db\n"
            "Statistics.db\nTOC.txt\n"
        )

    schema = json.dumps(
        {
            "key": ["pk", "LongType"],
            "columns": [["note", "UTF8Type"], ["val", "DoubleType"]],
            "clustering": [["ck", "Int32Type"]],
        }
    )
    df = read_sstable(spark, d, schema=schema, read_ts=1_000)
    got = {(r.pk, r.ck, r.note, r.val) for r in df.collect()}
    assert got == {
        (1, 10, "a", 1.5),    # untouched
        (1, 30, None, 3.5),   # gen-2 expired TTL note shadows gen-1 'c'
        (2, 10, "y", 9.0),    # live-TTL LWW note override, val kept
    }  # (1, 20) slice-deleted entirely by the gen-2 range tombstone
    # clustering predicate on the hand-packed composites
    assert {(r.pk, r.ck) for r in df.filter(F.col("ck") == 10).collect()} == {
        (1, 10),
        (2, 10),
    }


# Cassandra 2.0's default Murmur3Partitioner stores partitions in token
# order (h1 of the key's murmur3-128), not raw-key order. The reader
# bisects Index.db and merges generations in raw-key order, so a
# genuine token-ordered snapshot misreads. Each test below turns into a
# failure once that is fixed, and must then lose its mark.
_TOKEN_ORDER = pytest.mark.xfail(
    strict=True,
    reason="reader bisects Index.db and merges generations in raw-key "
    "order; Murmur3Partitioner snapshots are in token order",
)


def _token_ordered(rows: list[tuple[bytes, bytes]]) -> list[tuple[bytes, bytes]]:
    from cassowary_spark.sources.murmur3 import hash3_x64_128

    return sorted(rows, key=lambda row: hash3_x64_128(row[0])[0])


def _read_in_process(d: str, filters=()) -> list[tuple]:
    """The DataSource reader's rows, every split in turn, without Spark."""
    from cassowary_spark.sources.sstable_datasource import SSTableDataSourceReader

    reader = SSTableDataSourceReader({"path": d, "schema": SCHEMA_JSON}, None)
    assert list(reader.pushFilters(list(filters))) == []
    rows: list[tuple] = []
    for part in reader.partitions():
        for batch in reader.read(part):
            rows.extend(zip(*(c.to_pylist() for c in batch.columns)))
    return rows


@_TOKEN_ORDER
def test_token_ordered_snapshot_point_lookups(tmp_path):
    from pyspark.sql.datasource import EqualTo

    d = str(tmp_path / "token")
    _write_real_snapshot(d, _token_ordered(_std_rows(200)), "DeflateCompressor")
    found = [i for i in range(200) if _read_in_process(d, [EqualTo(("id",), i)])]
    assert len(found) == 200


@_TOKEN_ORDER
def test_token_ordered_generations_merge(tmp_path):
    enc_k = get_validator("LongType").encode
    enc_s = get_validator("UTF8Type").encode
    d = str(tmp_path / "tokenmerge")
    _write_real_snapshot(d, _token_ordered(_std_rows(200)), "DeflateCompressor")
    updated = [
        (enc_k(i), _real_column(b"name", enc_s(f"new{i}"), 20))
        for i in range(0, 200, 2)
    ]
    _write_real_snapshot(d, _token_ordered(updated), "DeflateCompressor", generation=2)
    got = sorted(_read_in_process(d))
    assert got == [
        (i, f"new{i}" if i % 2 == 0 else f"row{i}", i * 1.5) for i in range(200)
    ]
