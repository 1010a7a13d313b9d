"""SSTable format + DataSource tests (SURVEY.md §2 A1-A5, §7 M5).

Covers the cassowary-native scan path: validator codecs, writer/reader
round-trip (compressed and plain), multi-generation last-write-wins
merge, cell/row tombstones, TTL expiry, bloom + key-range pruning, and
the Spark integration including pushed-filter plans.
"""

from __future__ import annotations

import decimal
import struct
import uuid
import zlib
from datetime import datetime

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, In, LessThan

from cassowary_spark.sources.convert import (
    infer_schema,
    write_snapshot,
    write_tombstone_generation,
)
from cassowary_spark.sources.sstable_datasource import (
    SSTableDataSourceReader,
    read_sstable,
    reconcile,
)
from cassowary_spark.sources.sstable_format import (
    CHUNK_CODECS,
    FLAG_EXPIRING,
    FLAG_TOMBSTONE,
    BloomFilter,
    Cell,
    Partition,
    SSTableReader,
    SSTableWriter,
    discover_sstables,
)
from cassowary_spark.sources.validators import VALIDATORS, get_validator

SCHEMA = {
    "key": ["id", "LongType"],
    "columns": [["name", "UTF8Type"], ["score", "DoubleType"]],
}


def _collect(reader: SSTableDataSourceReader) -> list[tuple]:
    out: list[tuple] = []
    for p in reader.partitions():
        for item in reader.read(p):
            if isinstance(item, pa.RecordBatch):
                out.extend(tuple(d.values()) for d in item.to_pylist())
            else:
                out.append(tuple(item))
    return sorted(out)


def _write(directory, gen, parts, compression="deflate"):
    w = SSTableWriter(directory, "ks", "cf", gen, SCHEMA, compression=compression)
    for p in parts:
        w.append(p)
    w.close()


def _part(key_int, name=None, score=None, ts=1, **kw):
    enc = get_validator("LongType").encode
    cells = []
    if name is not None:
        cells.append(Cell(b"name", name.encode(), ts))
    if score is not None:
        cells.append(Cell(b"score", get_validator("DoubleType").encode(score), ts))
    return Partition(enc(key_int), cells=cells, **kw)


# ------------------------------------------------------------ validators


@pytest.mark.parametrize(
    "vname,value",
    [
        ("UTF8Type", "héllo"),
        ("AsciiType", "ascii"),
        ("BytesType", b"\x00\xff"),
        ("LongType", -(2**40)),
        ("Int32Type", -42),
        ("BooleanType", True),
        ("FloatType", 1.5),
        ("DoubleType", 3.25),
        ("DecimalType", decimal.Decimal("123.450000000000000000")),
        ("IntegerType", decimal.Decimal(10**30)),
        ("TimestampType", datetime(2020, 5, 4, 12, 30, 15)),
        ("UUIDType", str(uuid.UUID(int=7))),
        ("InetAddressType", "10.1.2.3"),
    ],
)
def test_validator_roundtrip(vname, value):
    v = VALIDATORS[vname]
    assert v.decode(v.encode(value)) == value


def test_bloom_filter():
    bf = BloomFilter.sized(100, 0.01)
    keys = [f"k{i}".encode() for i in range(100)]
    for k in keys:
        bf.add(k)
    assert all(bf.might_contain(k) for k in keys)
    misses = sum(bf.might_contain(f"x{i}".encode()) for i in range(1000))
    assert misses < 50  # ~1% fp target
    bf2 = BloomFilter.load(bf.dump())
    assert all(bf2.might_contain(k) for k in keys)


# ------------------------------------------------------- format roundtrip


@pytest.mark.parametrize("compression", ["deflate", "lz4", None])
def test_write_read_roundtrip(tmp_path, compression):
    parts = [_part(i, f"row{i}", float(i)) for i in range(50)]
    _write(str(tmp_path), 1, parts, compression)
    r = discover_sstables(str(tmp_path))[0]
    got = list(r.scan())
    assert len(got) == 50
    assert got[0].cells[0].name == b"name"
    assert got[0].cells[0].value == b"row0"
    # key-range slicing via the index
    enc = get_validator("LongType").encode
    sliced = list(r.scan(enc(10), enc(20)))
    assert [get_validator("LongType").decode(p.key) for p in sliced] == list(range(10, 20))


def test_writer_rejects_unsorted(tmp_path):
    w = SSTableWriter(str(tmp_path), "ks", "cf", 1, SCHEMA)
    w.append(_part(5, "a"))
    with pytest.raises(ValueError, match="ascending"):
        w.append(_part(4, "b"))


def test_compression_is_chunked(tmp_path):
    # >1 chunk forces the chunk-offset map + checksum path
    parts = [_part(i, "x" * 100, float(i)) for i in range(500)]
    w = SSTableWriter(str(tmp_path), "ks", "cf", 1, SCHEMA, chunk_len=4096)
    for p in parts:
        w.append(p)
    w.close()
    r = discover_sstables(str(tmp_path))[0]
    assert r._data.algo == "DeflateCompressor"
    assert len(r._data.offsets) > 10
    assert len(list(r.scan())) == 500
    # mid-stream range read crosses chunk boundaries correctly
    enc = get_validator("LongType").encode
    assert len(list(r.scan(enc(250), enc(260)))) == 10


def test_lz4_chunk_codec_roundtrip():
    """Cassandra's LZ4Compressor chunk framing (its default compressor):
    a 4-byte LE length, then one raw LZ4 block."""
    import os as _os
    import random

    lz4 = CHUNK_CODECS["LZ4Compressor"]
    random.seed(7)
    cases = [
        b"",
        b"a",
        b"abcabcabcabcabcabcabcabc",  # short period (overlapping match)
        b"x" * 100_000,  # long run
        _os.urandom(5_000),  # incompressible
        bytes(random.choice(b"abcd") for _ in range(20_000)),  # matchy
        (b"the quick brown fox " * 700)[:13_000],
    ]
    for src in cases:
        chunk = lz4.pack(src)
        assert struct.unpack_from("<I", chunk) == (len(src),)
        assert lz4.unpack(chunk, len(src)) == src
    # compressible input actually compresses
    assert len(lz4.pack(b"y" * 10_000)) < 200


def test_lz4_chunk_decoder_vectors():
    """Hand-built block per the public spec: literals 'abc', a 9-byte
    overlapping match at offset 3, then the 5 literals the spec
    requires at the end of a block -> 'abc' * 5 + 'ab'."""
    lz4 = CHUNK_CODECS["LZ4Compressor"]

    blk = bytes([0x35]) + b"abc" + bytes([0x03, 0x00]) + bytes([0x50]) + b"abcab"
    assert lz4.unpack(struct.pack("<I", 17) + blk, 17) == b"abcabcabcabcabcab"
    # ending in a match breaks the spec's end rule; liblz4 rejects it
    bad = bytes([0x35]) + b"abc" + bytes([0x03, 0x00]) + bytes([0x00])
    with pytest.raises(IOError):
        lz4.unpack(struct.pack("<I", 12) + bad, 12)
    # a block from another encoder (a greedy hash-table matcher):
    # extended literal length, overlapping matches, a long run
    src = (
        b"the quick brown fox " * 4 + b"a" * 81 + b" jumps over the lazy dog."
    )
    greedy = (
        b"\xff\x05the quick brown fox \x14\x00)\x1fa\x01\x00=\xb1 jumps "
        b"over\x99\x00\x90lazy dog."
    )
    assert lz4.unpack(struct.pack("<I", len(src)) + greedy, len(src)) == src
    # the length prefix must match the chunk's expected size, and a
    # block must decode to all of it
    with pytest.raises(IOError):
        lz4.unpack(struct.pack("<I", len(src)) + greedy, len(src) + 1)
    with pytest.raises(IOError):
        lz4.unpack(struct.pack("<I", len(src) + 1) + greedy, len(src) + 1)


def test_lz4_chunked_sstable_reads(tmp_path):
    """LZ4-compressed snapshot (the real-world default config) reads
    identically to deflate, across chunk boundaries."""
    parts = [_part(i, "x" * 100, float(i)) for i in range(500)]
    w = SSTableWriter(
        str(tmp_path), "ks", "cf", 1, SCHEMA, compression="lz4", chunk_len=4096
    )
    for p in parts:
        w.append(p)
    w.close()
    r = discover_sstables(str(tmp_path))[0]
    assert r._data.algo == "LZ4Compressor"
    assert len(r._data.offsets) > 10
    assert len(list(r.scan())) == 500
    enc = get_validator("LongType").encode
    assert len(list(r.scan(enc(250), enc(260)))) == 10


def test_chunk_decode_error_names_file_and_chunk(tmp_path):
    """A chunk whose checksum holds but whose LZ4 length prefix
    disagrees with CompressionInfo.db raises IOError naming both."""
    w = SSTableWriter(
        str(tmp_path), "ks", "cf", 1, SCHEMA, compression="lz4", chunk_len=4096
    )
    for i in range(500):
        w.append(_part(i, "x" * 100, float(i)))
    w.close()
    r = discover_sstables(str(tmp_path))[0]
    path = r._data.data_path
    raw = bytearray(open(path, "rb").read())
    start, end = r._data.offsets[1], r._data.offsets[2]
    raw[start : start + 4] = struct.pack("<I", 4095)
    raw[end - 4 : end] = struct.pack(">I", zlib.adler32(raw[start : end - 4]))
    open(path, "wb").write(raw)
    r = discover_sstables(str(tmp_path))[0]
    with pytest.raises(IOError, match=rf"chunk 1 in {path}"):
        list(r.scan())


# ------------------------------------------------------------- reconcile


def test_reconcile_last_write_wins():
    old = _part(1, "old", 1.0, ts=10)
    new = _part(1, "new", None, ts=20)
    cells = reconcile([(1, old), (2, new)], read_ts=10**9)
    assert cells[b"name"].value == b"new"  # newer ts wins
    assert b"score" in cells  # untouched cell survives from gen 1


def test_reconcile_tie_breaks():
    # equal ts: tombstone beats live; live/live tie → greater value bytes
    a = Partition(b"k", cells=[Cell(b"c", b"aaa", 5)])
    b = Partition(b"k", cells=[Cell(b"c", b"bbb", 5)])
    assert reconcile([(1, a), (2, b)], 0)[b"c"].value == b"bbb"
    t = Partition(b"k", cells=[Cell(b"c", b"", 5, FLAG_TOMBSTONE)])
    assert reconcile([(1, a), (2, t)], 0) is None


def test_row_tombstone_suppresses_older_cells():
    data = _part(1, "alive", 2.0, ts=100)
    tomb = Partition(data.key, marked_for_delete_at=150)
    assert reconcile([(1, data), (2, tomb)], 0) is None
    # a cell written AFTER the row delete survives
    newer = _part(1, "revived", ts=200)
    cells = reconcile([(1, data), (2, tomb), (3, newer)], 0)
    assert list(cells) == [b"name"]
    assert cells[b"name"].value == b"revived"


def test_ttl_expiry():
    c = Cell(b"c", b"v", 100, FLAG_EXPIRING, ttl=60, local_expiration=1_000)
    p = Partition(b"k", cells=[c])
    assert reconcile([(1, p)], read_ts=999) is not None
    assert reconcile([(1, p)], read_ts=1_000) is None  # expired at its LET


# ------------------------------------------------- reader planning/pruning


def _snapshot_dir(tmp_path) -> str:
    t = pa.table(
        {
            "id": pa.array(range(100), pa.int64()),
            "name": pa.array([f"row{i}" for i in range(100)]),
            "score": pa.array([float(i) for i in range(100)]),
        }
    )
    write_snapshot(t, str(tmp_path), "id", generations=3)
    write_tombstone_generation(
        str(tmp_path), infer_schema(t, "id"), [7, 8], generation=4
    )
    return str(tmp_path)


def test_merged_read_with_tombstones(tmp_path):
    d = _snapshot_dir(tmp_path)
    r = SSTableDataSourceReader({"path": d}, None)
    rows = _collect(r)
    assert len(rows) == 98
    assert [x[0] for x in rows] == [i for i in range(100) if i not in (7, 8)]
    assert rows[0] == (0, "row0", 0.0)


def test_unmerged_read_reference_parity(tmp_path):
    d = _snapshot_dir(tmp_path)
    r = SSTableDataSourceReader({"path": d, "merge": "false"}, None)
    rows = _collect(r)
    # overlapping generations → duplicates surface, tombstones don't delete
    assert len(rows) > 100
    assert len({x[0] for x in rows}) == 100


def test_point_lookup_pruning(tmp_path):
    d = _snapshot_dir(tmp_path)
    r = SSTableDataSourceReader({"path": d}, None)
    residual = list(r.pushFilters([EqualTo(("id",), 5)]))
    assert residual == []  # fully consumed
    parts = r.partitions()
    assert len(parts) == 1
    # bloom pruning: key 5 lives only in generation 1 of 4 sstables
    (key, ranges), = parts[0].exact
    assert len({p for p, _, _ in ranges}) < 4
    assert _collect(r) == [(5, "row5", 5.0)]
    # tombstoned key → empty
    r2 = SSTableDataSourceReader({"path": d}, None)
    list(r2.pushFilters([EqualTo(("id",), 7)]))
    assert _collect(r2) == []
    # In-list
    r3 = SSTableDataSourceReader({"path": d}, None)
    list(r3.pushFilters([In(("id",), (3, 98))]))
    assert [x[0] for x in _collect(r3)] == [3, 98]


def test_range_pruning_order_preserving_key(tmp_path):
    # UTF8 keys → byte order == logical order → range pruning applies
    t = pa.table(
        {
            "k": pa.array([f"key{i:03d}" for i in range(100)]),
            "v": pa.array(range(100), pa.int64()),
        }
    )
    write_snapshot(t, str(tmp_path), "k", generations=2)
    r = SSTableDataSourceReader({"path": str(tmp_path)}, None)
    residual = list(
        r.pushFilters([GreaterThanOrEqual(("k",), "key090"), LessThan(("k",), "key095")])
    )
    assert residual == []
    rows = _collect(r)
    assert [x[0] for x in rows] == [f"key{i:03d}" for i in range(90, 95)]
    # the scan touches only the pruned byte ranges, not the whole table
    scanned = sum(eo - so for p in r.partitions() for _, so, eo in p.ranges)
    full = sum(rd._data.total for rd in discover_sstables(str(tmp_path)))
    assert scanned < full / 4


def test_signed_long_key_range_not_byte_pruned(tmp_path):
    # LongType keys are not order-preserving across sign: range filters
    # must NOT be consumed for byte pruning (they stay with Spark).
    parts = [_part(i, f"r{i}") for i in range(10)]
    _write(str(tmp_path), 1, parts)
    r = SSTableDataSourceReader({"path": str(tmp_path)}, None)
    residual = list(r.pushFilters([GreaterThanOrEqual(("id",), 5)]))
    assert len(residual) == 1  # returned to Spark untouched


def test_column_projection_option(tmp_path):
    d = _snapshot_dir(tmp_path)
    r = SSTableDataSourceReader({"path": d, "columns": "id,score"}, None)
    assert r.schema.ddl() == "id long, score double"
    rows = _collect(r)
    assert rows[0] == (0, 0.0)


# -------------------------------------------------------- Spark integration


def test_spark_end_to_end(spark, tmp_path):
    d = _snapshot_dir(tmp_path)
    df = read_sstable(spark, d)
    assert df.count() == 98
    assert df.schema.simpleString() == "struct<id:bigint,name:string,score:double>"
    got = df.filter("id = 42").collect()
    assert [(row.id, row.name, row.score) for row in got] == [(42, "row42", 42.0)]
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.filter("id = 42").explain("formatted")
    assert "EqualTo(id,42)" in buf.getvalue()  # pushdown reached the BatchScan


def test_spark_write_roundtrip(spark, tmp_path):
    from cassowary_spark.sources.sstable_datasource import write_sstable
    from cassowary_spark.tables import load_table

    sup = load_table(spark, "/root/testdata/sf0.001", "supplier")
    d = str(tmp_path / "snap")
    write_sstable(sup.repartitionByRange(3, "s_suppkey"), d, key="s_suppkey", table="supplier")
    back = read_sstable(spark, d)
    assert back.columns == sup.columns
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, sup.collect()))
    # range partitioning → key-disjoint generations
    readers = discover_sstables(d)
    assert len(readers) == 3
    spans = sorted((r.min_key, r.max_key) for r in readers)
    assert all(spans[i][1] < spans[i + 1][0] for i in range(len(spans) - 1))


def test_spark_write_append_and_overwrite(spark, tmp_path):
    from cassowary_spark.sources.sstable_datasource import write_sstable
    from cassowary_spark.tables import load_table

    sup = load_table(spark, "/root/testdata/sf0.001", "supplier")
    d = str(tmp_path / "snap")
    write_sstable(sup, d, key="s_suppkey", write_ts=10)
    # append a newer generation updating one supplier's name
    upd = sup.limit(1).withColumn("s_name", F.lit("UPDATED"))
    write_sstable(upd, d, key="s_suppkey", mode="append", write_ts=20)
    back = read_sstable(spark, d)
    assert back.count() == sup.count()  # LWW merge, no duplicates
    key = upd.collect()[0].s_suppkey
    assert back.filter(F.col("s_suppkey") == key).collect()[0].s_name == "UPDATED"
    # overwrite replaces all generations
    write_sstable(sup.limit(3), d, key="s_suppkey", mode="overwrite")
    assert read_sstable(spark, d).count() == 3


def test_spark_write_nulls(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, None, None), (3, "c", 3.0)], "id long, name string, score double"
    )
    from cassowary_spark.sources.sstable_datasource import write_sstable

    d = str(tmp_path / "snap")
    write_sstable(df, d, key="id")
    got = sorted(map(tuple, read_sstable(spark, d).collect()))
    assert got == [(1, "a", 1.0), (2, None, None), (3, "c", 3.0)]


def test_spark_write_timestamp_ntz_roundtrip(spark, sf_dir, tmp_path):
    """A frame read straight from the fixture parquet writes with no
    cast: o_orderdate loads as TIMESTAMP_NTZ, is stored as a
    TimestampType cell, and reads back as the parquet's wall-clock
    values."""
    import pyarrow.parquet as pq

    from cassowary_spark.sources.sstable_datasource import write_sstable
    from cassowary_spark.tables import load_table, table_path
    from perfbench.workloads import read_in_process

    orders = load_table(spark, sf_dir, "orders")
    assert dict(orders.dtypes)["o_orderdate"] == "timestamp_ntz"
    d = str(tmp_path / "snap")
    write_sstable(orders, d, key="o_orderkey")
    names, rows = read_in_process(d)
    want = pq.read_table(table_path(sf_dir, "orders"))
    assert names == want.column_names
    assert sorted(rows) == sorted(zip(*(c.to_pylist() for c in want.columns)))


def test_sink_and_fixture_writer_agree_byte_for_byte(tmp_path):
    """The DataSource sink and convert.write_snapshot write a
    generation the same way: the same rows, with a repeated key and
    NULLs, give byte-identical component files, Filter.db included."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from cassowary_spark.sources.sstable_datasource import SSTableDataSourceWriter

    rows = [(3, "c", 3.0), (1, "a", None), (2, None, 2.5), (1, "b", 1.5), (3, None, None)]
    ids, names, scores = (list(col) for col in zip(*rows))
    table = pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "name": pa.array(names, pa.string()),
            "score": pa.array(scores, pa.float64()),
        }
    )
    fixture, sink = tmp_path / "fixture", tmp_path / "sink"
    write_snapshot(table, str(fixture), "id", generations=1, base_timestamp=1000)
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("score", DoubleType()),
        ]
    )
    w = SSTableDataSourceWriter(
        {"path": str(sink), "key": "id", "write_ts": "1000"}, schema, overwrite=True
    )
    w.commit([w.write(iter(rows))])  # in process: no TaskContext
    components = sorted(p.name for p in fixture.iterdir())
    assert components == sorted(p.name for p in sink.iterdir())
    assert "ks-cf-jb-1-Filter.db" in components
    for name in components:
        assert (fixture / name).read_bytes() == (sink / name).read_bytes(), name


def test_q_sstable_scan_matches_parquet(spark, sf_dir):
    from cassowary_spark.registry import QUERIES, load_all
    from cassowary_spark.tables import load_table

    load_all()
    got = QUERIES["q_sstable_scan"](spark, sf_dir)
    exp = load_table(spark, sf_dir, "supplier").filter("s_nationkey < 20")
    assert got.schema == exp.schema
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


# ------------------------------------------------------------- wide rows


def test_wide_row_merge_and_cell_updates(tmp_path):
    from cassowary_spark.sources.validators import get_validator as gv

    enc_k = gv("LongType").encode
    enc_v = gv("DoubleType").encode
    schema = {"key": ["uid", "LongType"], "columns": [],
              "wide": True, "wide_validator": "DoubleType"}
    # gen1: user 1 has cells a=1.0, b=2.0; gen2 updates b=9.0 (newer
    # ts) and tombstones a
    w1 = SSTableWriter(str(tmp_path), "ks", "w", 1, schema)
    w1.append(Partition(enc_k(1), cells=[
        Cell(b"a", enc_v(1.0), 100), Cell(b"b", enc_v(2.0), 100)]))
    w1.close()
    w2 = SSTableWriter(str(tmp_path), "ks", "w", 2, schema)
    w2.append(Partition(enc_k(1), cells=[
        Cell(b"a", b"", 200, FLAG_TOMBSTONE), Cell(b"b", enc_v(9.0), 200)]))
    w2.close()

    r = SSTableDataSourceReader({"path": str(tmp_path)}, None)
    assert r.wide and r.output_ddl().startswith("uid long, column_name string, value double")
    rows = _collect(r)
    assert rows == [(1, "b", 9.0, 200)]  # a deleted, b updated LWW


def test_timestamp_tables_read_as_decoded_row_tuples(tmp_path):
    """TimestampType tables leave read() as row tuples, not Arrow: the
    batch read, the stream reader and a per-value validator decode
    agree, with NULL for missing and empty cells (flat and wide)."""
    from cassowary_spark.sources.sstable_datasource import SSTableStreamReader

    ts_v, utf8, dbl, lng = (
        get_validator(n) for n in ("TimestampType", "UTF8Type", "DoubleType", "LongType")
    )
    flat_cols = ((b"ts", ts_v), (b"name", utf8), (b"score", dbl))
    flat_cells = {
        0: {b"ts": ts_v.encode(1_600_000_000_000), b"name": b"a", b"score": dbl.encode(1.5)},
        1: {b"ts": b"", b"name": b"b"},  # empty ts, missing score
        2: {b"name": b"", b"score": dbl.encode(-2.0)},  # missing ts, empty name
        3: {b"ts": ts_v.encode(0)},
        4: {b"score": b""},  # a live row of NULLs
    }
    wide_cells = {
        7: {b"c1": ts_v.encode(1_500_000_000_123), b"c2": b""},
        8: {b"c0": b"", b"c3": ts_v.encode(86_400_000)},
    }

    def dec(v, raw):
        return v.decode(raw) if raw else None

    cases = [
        (
            {"key": ["id", "LongType"],
             "columns": [["ts", "TimestampType"], ["name", "UTF8Type"], ["score", "DoubleType"]]},
            flat_cells,
            [(k,) + tuple(dec(v, cells.get(n)) for n, v in flat_cols)
             for k, cells in flat_cells.items()],
        ),
        (
            {"key": ["uid", "LongType"], "columns": [],
             "wide": True, "wide_validator": "TimestampType"},
            wide_cells,
            [(k, n.decode(), dec(ts_v, raw), 5)
             for k, cells in wide_cells.items() for n, raw in cells.items()],
        ),
    ]
    for i, (schema, parts, expected) in enumerate(cases):
        d = str(tmp_path / f"snap{i}")
        w = SSTableWriter(d, "ks", "cf", 1, schema)
        for k, cells in parts.items():
            w.append(Partition(lng.encode(k), cells=[
                Cell(n, raw, 5) for n, raw in sorted(cells.items())]))
        w.close()
        assert any(None in row for row in expected)

        r = SSTableDataSourceReader({"path": d}, None)
        items = [item for p in r.partitions() for item in r.read(p)]
        assert all(isinstance(item, tuple) for item in items)
        assert sorted(items) == sorted(expected)
        stream = SSTableStreamReader({"path": d})
        assert sorted(stream.readBetweenOffsets({"gen": 0}, {"gen": 1})) == sorted(expected)


def test_wide_snapshot_roundtrip(spark, tmp_path):
    import pyarrow.parquet as pq

    from cassowary_spark.sources.convert import write_wide_snapshot

    t = pq.read_table(
        "/root/testdata/sf0.001/events.parquet",
        columns=["user_id", "event_id", "ts", "value"],
    )
    d = str(tmp_path / "wide")
    write_wide_snapshot(
        t, d, key_col="user_id", name_col="event_id", value_col="value",
        ts_col="ts", generations=3,
    )
    df = read_sstable(spark, d)
    assert df.columns == ["user_id", "column_name", "value", "cell_ts"]
    assert df.count() == t.num_rows  # every event = one cell
    # per-user cell counts match the parquet
    from cassowary_spark.tables import load_table

    got = {r.user_id: r.n for r in df.groupBy("user_id").count().withColumnRenamed("count", "n").collect()}
    ev = load_table(spark, "/root/testdata/sf0.001", "events").groupBy("user_id").count().collect()
    assert got == {r.user_id: r["count"] for r in ev}


def test_sql_ddl_registration(spark, tmp_path):
    """A5: the CREATE EXTERNAL TABLE analog — SQL DDL over the source."""
    from cassowary_spark.sources.sstable_datasource import register_sstable_source

    d = _snapshot_dir(tmp_path)
    register_sstable_source(spark)
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW sstable_cf USING sstable OPTIONS (path '{d}')"
    )
    assert spark.sql("SELECT count(*) AS n FROM sstable_cf").collect()[0].n == 98
    assert spark.sql("SELECT name FROM sstable_cf WHERE id = 42").collect()[0].name == "row42"


# ------------------------------------------------------------- streaming


def test_stream_generations_as_microbatches(spark, tmp_path):
    """readStream over a snapshot dir: each new generation is a delta
    micro-batch (unmerged; reconcile stays in the query layer)."""
    from cassowary_spark.sources.sstable_datasource import register_sstable_source

    d = str(tmp_path / "snap")
    w1 = SSTableWriter(d, "ks", "cf", 1, SCHEMA)
    for i in range(3):
        w1.append(_part(i, f"v1-{i}", float(i), ts=100))
    w1.close()

    register_sstable_source(spark)
    stream = spark.readStream.format("sstable").option("path", d).load()
    q = (
        stream.writeStream.format("memory")
        .queryName("sst_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT count(*) AS n FROM sst_stream").collect()[0].n == 3
        # second generation arrives: 2 rows, one updating key 1
        w2 = SSTableWriter(d, "ks", "cf", 2, SCHEMA)
        w2.append(_part(1, "v2-1", 11.0, ts=200))
        w2.append(_part(9, "v2-9", 9.0, ts=200))
        w2.close()
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM sst_stream").collect()
        assert len(rows) == 5  # deltas, unmerged
        # downstream reconcile (the query-layer pattern): latest per key
        from cassowary_spark.operators.versions import latest_version

        latest = {
            r.id: r.name
            for r in latest_version(
                spark.table("sst_stream"), ["id"], "score", tiebreakers=["name"]
            ).collect()
        }
        assert latest[1] == "v2-1" and latest[0] == "v1-0" and latest[9] == "v2-9"
    finally:
        q.stop()


# -------------------------------------------------------------- counters


def test_counter_cells_sum_across_generations(tmp_path):
    import struct

    from cassowary_spark.sources.sstable_format import FLAG_COUNTER

    enc_k = get_validator("LongType").encode
    delta = lambda v: struct.pack(">q", v)
    schema = {"key": ["id", "LongType"], "columns": [["hits", "LongType"]]}

    w1 = SSTableWriter(str(tmp_path), "ks", "ctr", 1, schema)
    w1.append(Partition(enc_k(1), cells=[Cell(b"hits", delta(5), 10, FLAG_COUNTER)]))
    w1.append(Partition(enc_k(2), cells=[Cell(b"hits", delta(1), 10, FLAG_COUNTER)]))
    w1.close()
    w2 = SSTableWriter(str(tmp_path), "ks", "ctr", 2, schema)
    w2.append(Partition(enc_k(1), cells=[Cell(b"hits", delta(7), 20, FLAG_COUNTER)]))
    # key 2: counter reset (cell tombstone) then a newer increment
    w2.append(Partition(enc_k(2), cells=[
        Cell(b"hits", b"", 15, FLAG_TOMBSTONE),
        Cell(b"hits", delta(100), 20, FLAG_COUNTER),
    ]))
    w2.close()

    r = SSTableDataSourceReader({"path": str(tmp_path)}, None)
    rows = dict((k, v) for k, v in _collect(r))
    assert rows[1] == 12  # 5 + 7: increments SUM, not last-write-wins
    assert rows[2] == 100  # tombstone at ts=15 resets earlier +1


# ------------------------------------------------------------- clustering


def test_clustered_rows_update_across_generations(spark, tmp_path):
    from cassowary_spark.sources.convert import write_clustered_snapshot
    from cassowary_spark.sources.sstable_format import encode_composite

    t = pa.table(
        {
            "pk": pa.array([1, 1, 2], pa.int64()),
            "ck": pa.array([10, 20, 10], pa.int32()),
            "val": pa.array([1.0, 2.0, 3.0]),
        }
    )
    d = str(tmp_path / "cql3")
    write_clustered_snapshot(t, d, key_col="pk", clustering_cols=["ck"], generations=1)
    # gen 2: update (1, 20).val with a newer timestamp
    enc_k = get_validator("LongType").encode
    enc_ck = get_validator("Int32Type").encode
    enc_v = get_validator("DoubleType").encode
    schema = {
        "key": ["pk", "LongType"],
        "columns": [["val", "DoubleType"]],
        "clustering": [["ck", "Int32Type"]],
    }
    w = SSTableWriter(d, "ks", "cql3", 2, schema)
    w.append(
        Partition(
            enc_k(1),
            cells=[Cell(encode_composite([enc_ck(20), b"val"]), enc_v(99.0), 2_000)],
        )
    )
    w.close()

    df = read_sstable(spark, d)
    assert df.columns == ["pk", "ck", "val"]
    got = {(r.pk, r.ck): r.val for r in df.collect()}
    assert got == {(1, 10): 1.0, (1, 20): 99.0, (2, 10): 3.0}
    # partition-key pushdown still applies to clustered tables
    assert {r.ck for r in df.filter("pk = 1").collect()} == {10, 20}


def test_clustering_slice_pushdown(spark, tmp_path):
    from cassowary_spark.sources.convert import write_clustered_snapshot
    from pyspark.sql.datasource import LessThanOrEqual

    t = pa.table(
        {
            "pk": pa.array([1, 1, 1, 2], pa.int64()),
            "ck": pa.array([10, 20, 30, 10], pa.int32()),
            "val": pa.array([1.0, 2.0, 3.0, 4.0]),
        }
    )
    d = str(tmp_path / "cql3")
    write_clustered_snapshot(t, d, key_col="pk", clustering_cols=["ck"], generations=1)
    r = SSTableDataSourceReader({"path": d}, None)
    residual = list(r.pushFilters([LessThanOrEqual(("ck",), 10)]))
    assert residual == []  # clustering predicate fully consumed
    rows = _collect(r)
    assert rows == [(1, 10, 1.0), (2, 10, 4.0)]
    # through Spark: the filter disappears from the post-scan plan
    df = read_sstable(spark, d).filter("ck <= 10")
    assert {(x.pk, x.ck) for x in df.collect()} == {(1, 10), (2, 10)}


# ------------------------------------------------------- range tombstones


def test_range_tombstone_reconcile():
    """Slice delete suppresses covered cells; newer writes survive."""
    from cassowary_spark.sources.sstable_format import range_tombstone

    old = Partition(b"k", cells=[
        Cell(b"a", b"1", 10), Cell(b"c", b"3", 10), Cell(b"f", b"6", 10),
    ])
    # delete names [b, e] at ts 20, then rewrite "c" at ts 30
    newer = Partition(b"k", cells=[
        range_tombstone(b"b", b"e", 20), Cell(b"c", b"33", 30),
    ])
    live = reconcile([(1, old), (2, newer)], read_ts=10**9)
    assert {n: c.value for n, c in live.items()} == {b"a": b"1", b"c": b"33", b"f": b"6"}


def test_range_tombstone_same_sstable_unmerged(tmp_path):
    """Unmerged reads apply same-partition range tombstones too."""
    from cassowary_spark.sources.sstable_format import range_tombstone

    enc = get_validator("LongType").encode
    part = Partition(enc(1), cells=[
        Cell(b"name", b"gone", 10),
        Cell(b"score", get_validator("DoubleType").encode(2.0), 30),
        range_tombstone(b"name", b"name", 20),
    ])
    _write(str(tmp_path), 1, [part])
    r = SSTableDataSourceReader({"path": str(tmp_path), "merge": "false"}, None)
    assert _collect(r) == [(1, None, 2.0)]


def test_range_tombstone_clustered_slice(spark, tmp_path):
    """CQL3 DELETE ... WHERE pk=? AND ck BETWEEN lo AND hi."""
    from cassowary_spark.sources.convert import (
        composite_slice_bounds,
        write_clustered_snapshot,
        write_range_tombstone_generation,
    )

    t = pa.table(
        {
            "pk": pa.array([1, 1, 1, 1, 2, 2], pa.int64()),
            "ck": pa.array([10, 20, 30, 40, 20, 50], pa.int32()),
            "val": pa.array([1.0, 2.0, 3.0, 4.0, 5.0, 6.0]),
        }
    )
    d = str(tmp_path / "cql3")
    write_clustered_snapshot(
        t, d, key_col="pk", clustering_cols=["ck"], generations=1,
        base_timestamp=1_000,
    )
    schema = {
        "key": ["pk", "LongType"],
        "columns": [["val", "DoubleType"]],
        "clustering": [["ck", "Int32Type"]],
    }
    lo, hi = composite_slice_bounds(schema, [20], [30])
    write_range_tombstone_generation(
        d, schema, [(1, lo, hi)], generation=2, timestamp=5_000,
    )
    df = read_sstable(spark, d)
    got = {(r.pk, r.ck) for r in df.collect()}
    # pk=1 loses ck 20 and 30; pk=2 untouched (per-partition delete)
    assert got == {(1, 10), (1, 40), (2, 20), (2, 50)}


def test_range_tombstone_resets_counter(tmp_path):
    from cassowary_spark.sources.sstable_format import FLAG_COUNTER, range_tombstone
    import struct

    delta = lambda n: struct.pack(">q", n)
    enc = get_validator("LongType").encode
    w1 = SSTableWriter(str(tmp_path), "ks", "cf", 1, {
        "key": ["id", "LongType"], "columns": [["hits", "LongType"]],
    })
    w1.append(Partition(enc(1), cells=[Cell(b"hits", delta(5), 10, FLAG_COUNTER)]))
    w1.close()
    w2 = SSTableWriter(str(tmp_path), "ks", "cf", 2, {
        "key": ["id", "LongType"], "columns": [["hits", "LongType"]],
    })
    w2.append(Partition(enc(1), cells=[
        range_tombstone(b"a", b"z", 20),          # covers "hits"
        Cell(b"hits", delta(3), 30, FLAG_COUNTER),  # post-delete increment
    ]))
    w2.close()
    r = SSTableDataSourceReader({"path": str(tmp_path)}, None)
    assert _collect(r) == [(1, 3)]


def test_wide_mode_does_not_consume_clustering_predicates(tmp_path):
    """Regression: a snapshot whose stats declare clustering columns,
    read with wide=true, must NOT consume clustering-column filters in
    pushFilters — the wide emit path never applies _cluster_preds, so
    consuming one would silently drop the predicate (wrong rows, not
    just missed pruning). The filter has to come back to Spark."""
    from cassowary_spark.sources.convert import write_clustered_snapshot
    from cassowary_spark.sources.sstable_datasource import SSTableDataSourceReader

    t = pa.table(
        {
            "pk": pa.array([1, 2], pa.int64()),
            "ck": pa.array([10, 20], pa.int32()),
            "val": pa.array([1.0, 2.0]),
        }
    )
    d = str(tmp_path / "cql3w")
    write_clustered_snapshot(t, d, key_col="pk", clustering_cols=["ck"], generations=1)

    wide = SSTableDataSourceReader({"path": d, "wide": "true"}, None)
    residual = list(wide.pushFilters([EqualTo(("ck",), 10)]))
    assert len(residual) == 1 and isinstance(residual[0], EqualTo)
    assert wide._cluster_preds == []

    clustered = SSTableDataSourceReader({"path": d}, None)
    assert list(clustered.pushFilters([EqualTo(("ck",), 10)])) == []
    assert clustered._cluster_preds == [("eq", 10)]


def test_collections_roundtrip_spark(spark, tmp_path):
    """End-to-end: list/set/map columns decode through the Spark read
    path (arrow batches with nested types) with cross-generation
    element merge."""
    from cassowary_spark.sources.convert import write_collections_snapshot

    t = pa.table(
        {
            "pk": pa.array([1, 2], pa.int64()),
            "ck": pa.array([0, 0], pa.int32()),
            "lst": pa.array([["a", "b", "c"], []], pa.list_(pa.string())),
            "st_": pa.array([[3, 1, 2], [7]], pa.list_(pa.int64())),
            "mk": pa.array([[1, 2], [9]], pa.list_(pa.int32())),
            "mv": pa.array([[1.5, 2.5], [9.5]], pa.list_(pa.float64())),
        }
    )
    d = str(tmp_path / "coll")
    write_collections_snapshot(
        t, d, key_col="pk", clustering_cols=["ck"],
        list_cols={"lst": "UTF8Type"},
        set_cols={"st_": "LongType"},
        map_cols={"mp": ("mk", "mv", "Int32Type", "DoubleType")},
        generations=2,
    )
    df = read_sstable(spark, d)
    assert df.columns == ["pk", "ck", "lst", "st_", "mp"]
    rows = {r.pk: r for r in df.collect()}
    assert rows[1].lst == ["a", "b", "c"]  # position order survives the split
    assert rows[1].st_ == [1, 2, 3]  # comparator (numeric) order
    assert rows[1].mp == {1: 1.5, 2: 2.5}
    assert rows[2].lst is None  # empty list was never written → NULL
    assert rows[2].st_ == [7]
    assert rows[2].mp == {9: 9.5}


def test_clustering_slice_promoted_index_io(spark, tmp_path, monkeypatch):
    """End-to-end: a pushed clustering slice on partitions larger than
    ``SLICE_MIN_PARTITION_BYTES`` reads through the promoted column
    index (the block-skip path, taken by size alone, so a worker takes
    it too) and returns exactly the rows the full scan would after
    filtering."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    from cassowary_spark.sources.convert import write_clustered_snapshot
    from cassowary_spark.sources.sstable_datasource import SSTableDataSourceReader
    from cassowary_spark.sources.sstable_format import SSTableReader, discover_sstables

    n = 4000
    t = pa.table(
        {
            "pk": pa.array([1] * n + [2] * n, pa.int64()),
            "ck": pa.array([f"k{i:04d}" for i in range(n)] * 2, pa.string()),
            "val": pa.array([float(i) for i in range(n)] * 2),
        }
    )
    d = str(tmp_path / "cql3slice")
    write_clustered_snapshot(
        t, d, key_col="pk", clustering_cols=["ck"], generations=2
    )

    # In process: every stored partition is big enough to block-skip,
    # and the pushed bounds read fewer of its cells than it holds.
    held = {}
    for r in discover_sstables(d):
        ci = r.column_index(0, r._data.total)
        assert ci and all(
            ent[0] - off >= SSTableReader.SLICE_MIN_PARTITION_BYTES for off, ent in ci.items()
        )
        for p in r.scan_offsets(0, r._data.total):
            held[(r.generation, p.key)] = len(p.cells)
    sliced = {}
    real_scan_slices = SSTableReader.scan_slices

    def spy(self, *args):
        for p in real_scan_slices(self, *args):
            sliced[(self.generation, p.key)] = len(p.cells)
            yield p

    monkeypatch.setattr(SSTableReader, "scan_slices", spy)
    reader = SSTableDataSourceReader({"path": d}, None)
    pushed = [GreaterThanOrEqual(("ck",), "k0100"), LessThan(("ck",), "k0200")]
    assert list(reader.pushFilters(pushed)) == []
    for part in reader.partitions():
        for _ in reader.read(part):
            pass
    monkeypatch.undo()
    assert sliced.keys() == held.keys()
    assert all(sliced[k] < held[k] for k in held), (sliced, held)

    df = read_sstable(spark, d)
    got = df.filter((F.col("ck") >= "k0100") & (F.col("ck") < "k0200")).collect()
    assert len(got) == 200
    assert {r.ck for r in got} == {f"k{i:04d}" for i in range(100, 200)}
    assert all(r.val == float(int(r.ck[1:])) for r in got)


def test_compaction_preserves_merged_reads(spark, tmp_path):
    """Major compaction: N generations (updates + cell/row tombstones +
    TTL + counter deltas) collapse into one sstable whose reads equal
    the pre-compaction merged reads, with tombstones GC'd."""
    from cassowary_spark.sources.convert import compact_snapshot
    from cassowary_spark.sources.sstable_format import (
        FLAG_COUNTER,
        FLAG_TOMBSTONE,
        discover_sstables,
    )

    d = str(tmp_path / "compact")
    enc_k = get_validator("LongType").encode
    enc_s = get_validator("UTF8Type").encode
    schema = {
        "key": ["id", "LongType"],
        "columns": [["name", "UTF8Type"], ["ctr", "LongType"]],
    }
    import struct as _s

    w1 = SSTableWriter(d, "ks", "cf", 1, schema)
    w1.append(Partition(enc_k(1), cells=[
        Cell(b"name", enc_s("v1"), 100),
        Cell(b"ctr", _s.pack(">q", 5), 100, FLAG_COUNTER),
    ]))
    w1.append(Partition(enc_k(2), cells=[Cell(b"name", enc_s("gone"), 100)]))
    w1.append(Partition(enc_k(3), cells=[Cell(b"name", enc_s("keep"), 100)]))
    w1.close()
    w2 = SSTableWriter(d, "ks", "cf", 2, schema)
    w2.append(Partition(enc_k(1), cells=[
        Cell(b"name", enc_s("v2"), 200),  # update wins
        Cell(b"ctr", _s.pack(">q", 7), 200, FLAG_COUNTER),  # delta sums
    ]))
    w2.append(Partition(enc_k(2), cells=[Cell(b"name", b"", 300, FLAG_TOMBSTONE)]))
    w2.close()

    before = {(r.id, r.name, r.ctr) for r in read_sstable(spark, d).collect()}
    compact_snapshot(d)
    assert len(discover_sstables(d)) == 1  # one surviving generation
    after = {(r.id, r.name, r.ctr) for r in read_sstable(spark, d).collect()}
    assert after == before
    assert (1, "v2", 12) in after  # LWW + counter sum survived
    assert not any(t[0] == 2 and t[1] is not None for t in after)


def test_compaction_keep_inputs_writes_fresh_dir(spark, tmp_path):
    """delete_inputs=False must land the compacted generation in a
    FRESH directory: the summed counter cell beside the original delta
    cells would double-count in a merged read of one directory."""
    import struct as _s

    from cassowary_spark.sources.convert import compact_snapshot
    from cassowary_spark.sources.sstable_format import FLAG_COUNTER, discover_sstables

    d = str(tmp_path / "keep")
    enc_k = get_validator("LongType").encode
    schema = {"key": ["id", "LongType"], "columns": [["ctr", "LongType"]]}
    for g, delta in ((1, 5), (2, 7)):
        w = SSTableWriter(d, "ks", "cf", g, schema)
        w.append(Partition(enc_k(1), cells=[Cell(b"ctr", _s.pack(">q", delta), g * 100, FLAG_COUNTER)]))
        w.close()

    before = {(r.id, r.ctr) for r in read_sstable(spark, d).collect()}
    assert before == {(1, 12)}
    out = compact_snapshot(d, delete_inputs=False)
    assert out != d
    assert len(discover_sstables(d)) == 2  # inputs untouched
    assert len(discover_sstables(out)) == 1
    assert {(r.id, r.ctr) for r in read_sstable(spark, out).collect()} == before
    assert {(r.id, r.ctr) for r in read_sstable(spark, d).collect()} == before

    # explicitly pointing out_dir back at the inputs must fail loudly —
    # the summed counter cell would double-count on the next merged read
    import pytest

    with pytest.raises(ValueError, match="fresh directory"):
        compact_snapshot(d, delete_inputs=False, out_dir=d)
    with pytest.raises(ValueError, match="fresh directory"):
        compact_snapshot(d, delete_inputs=False, out_dir=d + "/../keep")
    assert {(r.id, r.ctr) for r in read_sstable(spark, d).collect()} == before


def test_compaction_applies_range_tombstones(spark, tmp_path):
    """Compacting a clustered snapshot with slice deletes drops the
    covered CQL3 rows and GCs the range tombstones; reads unchanged."""
    from cassowary_spark.sources.convert import (
        compact_snapshot,
        composite_slice_bounds,
        write_clustered_snapshot,
        write_range_tombstone_generation,
    )
    from cassowary_spark.sources.sstable_format import discover_sstables

    t = pa.table(
        {
            "pk": pa.array([1] * 6 + [2] * 6, pa.int64()),
            "ck": pa.array(list(range(6)) * 2, pa.int32()),
            "val": pa.array([float(i) for i in range(12)]),
        }
    )
    d = str(tmp_path / "rtcompact")
    write_clustered_snapshot(t, d, key_col="pk", clustering_cols=["ck"], generations=2)
    schema = {
        "key": ["pk", "LongType"],
        "columns": [["val", "DoubleType"]],
        "clustering": [["ck", "Int32Type"]],
    }
    lo, hi = composite_slice_bounds(schema, [2], [4])
    write_range_tombstone_generation(
        d, schema, [(1, lo, hi)], generation=3, timestamp=10_000
    )
    before = {(r.pk, r.ck): r.val for r in read_sstable(spark, d).collect()}
    assert all(not (pk == 1 and 2 <= ck <= 4) for pk, ck in before)
    compact_snapshot(d)
    assert len(discover_sstables(d)) == 1
    after = {(r.pk, r.ck): r.val for r in read_sstable(spark, d).collect()}
    assert after == before


def test_sink_roundtrip_mixed_types_and_nulls(spark, tmp_path):
    """df.write sstable → read back, across the validator type map
    (string/long/int/boolean/float/double/binary) with NULLs: None
    columns are simply absent cells and must come back as NULL; all
    non-null values must round-trip exactly (incl. float32 identity)."""
    import math

    from cassowary_spark.sources.sstable_datasource import write_sstable

    rows = [
        (1, "alpha", 7, True, 1.5, 2.25, bytearray(b"\x00\xff")),
        (2, None, None, False, None, -0.0, None),
        (3, "", -2**31, None, float("inf"), 1e-300, bytearray(b"")),
        (4, "unicode-é中", 2**31 - 1, True, -3.5, math.pi, bytearray(b"xyz")),
    ]
    df = spark.createDataFrame(
        rows,
        "id long, s string, i int, b boolean, f float, d double, raw binary",
    )
    d = str(tmp_path / "sinkmix")
    write_sstable(df.repartition(2, "id"), d, key="id")
    got = {r.id: r for r in read_sstable(spark, d).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert (got[1].s, got[1].i, got[1].b, got[1].f, got[1].d, bytes(got[1].raw)) == (
        "alpha", 7, True, 1.5, 2.25, b"\x00\xff")
    assert got[2].s is None and got[2].i is None and got[2].f is None and got[2].raw is None
    assert got[2].b is False and got[2].d == 0.0
    # empty string and empty bytes encode to empty cell values, which
    # Cassandra/Hive convention decodes as NULL — document, not data loss
    assert got[3].s is None and got[3].raw is None
    assert got[3].i == -2**31 and got[3].f == float("inf")
    assert got[4].s == "unicode-é中" and got[4].i == 2**31 - 1
    assert abs(got[4].d - math.pi) < 1e-15 and got[4].f == -3.5


def test_parse_statistics_jb_byte_for_byte():
    """A binary jb SSTableMetadata blob hand-rolled field-by-field per
    the public Cassandra 2.0 layout (independently of the repo's own
    serializer) must parse."""
    import struct as s

    from cassowary_spark.sources.sstable_format import parse_statistics

    blob = b""
    # EstimatedHistogram rowSizes: 3 buckets, values sum to 42 rows
    blob += s.pack(">i", 3) + s.pack(">qq", 1, 40) + s.pack(">qq", 2, 2) + s.pack(">qq", 3, 0)
    # EstimatedHistogram columnCounts: 1 bucket
    blob += s.pack(">i", 1) + s.pack(">qq", 4, 42)
    blob += s.pack(">qi", 123456, 789)  # ReplayPosition
    blob += s.pack(">qq", 1000, 2000)  # min/max timestamp
    blob += s.pack(">i", 2**31 - 1)  # maxLocalDeletionTime
    blob += s.pack(">dd", 0.01, 0.66)  # bloom fp, compression ratio
    part = b"org.apache.cassandra.dht.Murmur3Partitioner"
    blob += s.pack(">H", len(part)) + part  # writeUTF partitioner
    blob += s.pack(">i", 2) + s.pack(">i", 5) + s.pack(">i", 6)  # ancestors
    blob += s.pack(">ii", 100, 2)  # StreamingHistogram: maxBinSize, 2 bins
    blob += s.pack(">dq", 1700000000.0, 3) + s.pack(">dq", 1700000100.0, 4)
    blob += s.pack(">i", 1)  # sstable level
    blob += s.pack(">i", 1) + s.pack(">H", 2) + b"aa"  # minColumnNames
    blob += s.pack(">i", 1) + s.pack(">H", 2) + b"zz"  # maxColumnNames

    st = parse_statistics(blob)
    assert st["binary_stats"] and st["rows"] == 42
    assert (st["min_timestamp"], st["max_timestamp"]) == (1000, 2000)
    assert st["partitioner"].endswith("Murmur3Partitioner")
    assert st["ancestors"] == [5, 6] and st["sstable_level"] == 1
    assert st["schema"] is None and st["min_key"] is None


def test_binary_stats_requires_schema_option(spark, tmp_path):
    """A snapshot whose Statistics.db is the REAL binary jb layout
    carries no schema, so reading without the ``schema`` option must
    fail with an error that names the option. (End-to-end reads of
    fully-real-layout snapshots live in tests/test_sstable_real.py —
    binary stats now implies every component uses Cassandra's own
    serialization, so a stand-in-layout dir with swapped-in binary
    stats is not a meaningful hybrid.)"""
    from cassowary_spark.sources.sstable_format import (
        parse_statistics,
        write_statistics_jb,
    )

    d = str(tmp_path / "binstats")
    enc_k = get_validator("LongType").encode
    enc_s = get_validator("UTF8Type").encode
    schema = {
        "key": ["id", "LongType"],
        "columns": [["name", "UTF8Type"], ["score", "DoubleType"]],
    }
    w = SSTableWriter(d, "ks", "cf", 1, schema)
    for i in range(50):
        w.append(Partition(enc_k(i), cells=[
            Cell(b"name", enc_s(f"row{i}"), 10),
            Cell(b"score", get_validator("DoubleType").encode(i * 1.5), 10),
        ]))
    w.close()

    stats_path = f"{d}/ks-cf-jb-1-Statistics.db"
    blob = write_statistics_jb(50, 10, 10)
    assert parse_statistics(blob)["rows"] == 50
    with open(stats_path, "wb") as f:
        f.write(blob)

    with pytest.raises(Exception, match="schema"):
        read_sstable(spark, d).collect()


# ------------------------------------------------------------ A11 gen diff


def test_snapshot_diff_insert_update_delete(spark, tmp_path):
    """snapshot_diff classifies all three change kinds across planted
    generations: gen 2 updates one row and inserts one, gen 3
    tombstones one — each adjacent-generation diff shows exactly its
    delta and nothing else."""
    from cassowary_spark.operators.versions import snapshot_diff

    d = str(tmp_path)
    _write(d, 1, [_part(k, name=f"row{k}", score=float(k), ts=1) for k in range(1, 6)])
    _write(d, 2, [_part(3, score=99.0, ts=2), _part(6, name="row6", score=6.0, ts=2)])
    write_tombstone_generation(
        d,
        {"key": ["id", "LongType"],
         "columns": [["name", "UTF8Type"], ["score", "DoubleType"]]},
        [5],
        generation=3,
    )

    def view(max_gen):
        return read_sstable(spark, d, max_gen=str(max_gen))

    d12 = snapshot_diff(view(1), view(2), ["id"], ["name", "score"])
    got = {(r["id"], r["change"]) for r in d12.collect()}
    assert got == {(3, "update"), (6, "insert")}
    upd = {r["id"]: (r["name"], r["score"]) for r in d12.collect()}
    assert upd[3] == ("row3", 99.0)  # update carries merged NEW values
    assert upd[6] == ("row6", 6.0)

    d23 = snapshot_diff(view(2), view(3), ["id"], ["name", "score"])
    got = {(r["id"], r["change"], r["name"], r["score"]) for r in d23.collect()}
    assert got == {(5, "delete", "row5", 5.0)}  # delete carries OLD values

    d13 = snapshot_diff(view(1), view(3), ["id"], ["name", "score"])
    got = {(r["id"], r["change"]) for r in d13.collect()}
    assert got == {(3, "update"), (6, "insert"), (5, "delete")}


def test_snapshot_diff_phantom_deletes(spark, sf_dir):
    """On the supplier fixture, the gen-4 delta is exactly the five
    phantom-row tombstones."""
    from cassowary_spark.operators.versions import snapshot_diff
    from cassowary_spark.queries.scan import build_sstable_snapshot

    snap = build_sstable_snapshot(sf_dir)
    old = read_sstable(spark, snap, max_gen="3")
    new = read_sstable(spark, snap, max_gen="4")
    rows = snapshot_diff(
        old, new, ["s_suppkey"], ["s_name", "s_nationkey", "s_acctbal"]
    ).collect()
    assert {(r["s_suppkey"], r["change"]) for r in rows} == {
        (10_000_001 + i, "delete") for i in range(5)
    }


def test_snapshot_diff_reconstructs_new_view(spark, sf_dir):
    """CDC soundness: applying the diff to the old view — drop deleted
    keys, upsert inserts/updates — must reproduce the new view exactly
    (the invariant a downstream materialized view relies on)."""
    from pyspark.sql import functions as F

    from cassowary_spark.operators.versions import snapshot_diff
    from cassowary_spark.queries.scan import build_sstable_snapshot

    snap = build_sstable_snapshot(sf_dir)
    cols = ["s_name", "s_nationkey", "s_acctbal"]
    old = read_sstable(spark, snap, max_gen="2")
    new = read_sstable(spark, snap, max_gen="4")
    diff = snapshot_diff(old, new, ["s_suppkey"], cols)

    deletes = diff.filter(F.col("change") == "delete").select("s_suppkey")
    upserts = diff.filter(F.col("change") != "delete").select("s_suppkey", *cols)
    rebuilt = (
        old.join(diff.select("s_suppkey"), "s_suppkey", "left_anti")
        .select("s_suppkey", *cols)
        .unionByName(upserts)
    )
    assert deletes.count() == 0  # phantoms never visible at gen 2
    assert sorted(map(tuple, rebuilt.collect())) == sorted(
        map(tuple, new.select("s_suppkey", *cols).collect())
    )
