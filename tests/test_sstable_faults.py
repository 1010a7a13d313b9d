"""Fault-injection tests for the SSTable read path.

A corrupt or truncated snapshot component must fail LOUDLY with a
descriptive error — never decode garbage rows or silently misfilter.
(The chunk checksum is Cassandra 2.0's own per-chunk adler32; the
bloom/statistics parsers already refuse foreign layouts — these tests
pin that behavior against regressions.)
"""

from __future__ import annotations

import glob
import os

import pytest

from cassowary_spark.sources.sstable_format import (
    Cell,
    Partition,
    SSTableReader,
    SSTableWriter,
)
from cassowary_spark.sources.validators import get_validator

SCHEMA = {
    "key": ["id", "LongType"],
    "columns": [["name", "UTF8Type"], ["score", "DoubleType"]],
}

_LONG = get_validator("LongType").encode


def _write_snapshot(tmp_path, n=200, compression="deflate") -> str:
    w = SSTableWriter(
        str(tmp_path), "ks", "cf", 1, SCHEMA, chunk_len=4096, compression=compression
    )
    for i in range(n):
        w.append(
            Partition(
                _LONG(i),
                cells=[
                    Cell(b"name", f"row{i}".encode(), 1),
                    Cell(b"score", get_validator("DoubleType").encode(i / 2), 1),
                ],
            )
        )
    w.close()
    return glob.glob(str(tmp_path / "*-Data.db"))[0][: -len("-Data.db")]


def _scan_all(prefix: str) -> list:
    r = SSTableReader(prefix)
    return list(r.scan())


def test_clean_snapshot_reads(tmp_path):
    assert len(_scan_all(_write_snapshot(tmp_path))) == 200


def test_corrupt_chunk_payload_raises(tmp_path):
    prefix = _write_snapshot(tmp_path)
    path = prefix + "-Data.db"
    size = os.path.getsize(path)
    with open(path, "r+b") as f:
        f.seek(size // 2)
        b = f.read(1)
        f.seek(size // 2)
        f.write(bytes([b[0] ^ 0xFF]))
    with pytest.raises((IOError, ValueError), match="corrupt|chunk"):
        _scan_all(prefix)


@pytest.mark.parametrize("cut", ["half", "last-partition"])
@pytest.mark.parametrize("compression", ["deflate", None], ids=["deflate", "none"])
def test_truncated_data_file_raises(tmp_path, compression, cut):
    """A Data.db cut mid-file or exactly where the last partition
    starts (for deflate: where the chunk holding it starts, so no
    checksum sees a partial chunk) must raise, never scan short."""
    prefix = _write_snapshot(tmp_path, compression=compression)
    path = prefix + "-Data.db"
    size = os.path.getsize(path)
    if cut == "half":
        size //= 2
    else:
        r = SSTableReader(prefix)
        last = r.index()[-1][1]
        size = r._data.offsets[last // r._data.chunk_len] if compression else last
    with open(path, "r+b") as f:
        f.truncate(size)
    with pytest.raises((IOError, ValueError)):
        _scan_all(prefix)


def test_corrupt_bloom_filter_fails_open(tmp_path):
    """A garbage Filter.db must fail OPEN: the bloom is a pruning
    optimization, so an unreadable one must never produce a false
    negative (dropping matching rows) — might_contain says True and a
    full scan still returns every row."""
    prefix = _write_snapshot(tmp_path)
    with open(prefix + "-Filter.db", "wb") as f:
        f.write(b"\x00\x01garbage-not-a-filter")
    r = SSTableReader(prefix)
    assert r.might_contain(_LONG(5)) is True
    assert len(list(r.scan())) == 200


def test_truncated_statistics_raises_descriptive(tmp_path):
    prefix = _write_snapshot(tmp_path)
    with open(prefix + "-Statistics.db", "r+b") as f:
        f.truncate(7)
    with pytest.raises(ValueError):
        SSTableReader(prefix)


def test_corrupt_compression_info_raises(tmp_path):
    prefix = _write_snapshot(tmp_path)
    with open(prefix + "-CompressionInfo.db", "r+b") as f:
        f.seek(0)
        f.write(b"\xff" * 8)
    with pytest.raises((IOError, ValueError, KeyError)):
        _scan_all(prefix)


class TestRound6ReviewFixes:
    """Regression tests for the round-6 storage review findings."""

    def test_decimal_38_digits_round_trips(self):
        """decimal(38,18) values with >28 significant digits must not
        be context-rounded by encode OR decode."""
        import decimal

        from cassowary_spark.sources.validators import (
            _dec_decimal,
            _enc_decimal,
        )

        for s in (
            "12345678901234567890.123456789012345678",
            "-99999999999999999999.999999999999999999",
            "0.000000000000000001",
        ):
            d = decimal.Decimal(s)
            assert _dec_decimal(_enc_decimal(d)) == d

    def test_appended_generation_schema_evolves(self, spark, tmp_path):
        """A column added by a later appended generation must surface
        (older generations emit NULL), matching compact_snapshot's
        newest-generation schema choice."""
        from cassowary_spark.sources.sstable_datasource import (
            read_sstable,
            write_sstable,
        )

        d = str(tmp_path / "snap")
        df1 = spark.range(5).selectExpr("id as k", "cast(id as double) as v")
        df2 = spark.range(5, 8).selectExpr(
            "id as k", "cast(id as double) as v", "cast(id as string) as extra"
        )
        write_sstable(df1, d, key="k")
        write_sstable(df2, d, key="k", mode="append")
        out = read_sstable(spark, d)
        assert "extra" in out.columns
        rows = {r.k: r.extra for r in out.collect()}
        assert rows[6] == "6" and rows[1] is None

    def test_overwrite_with_empty_leaves_readable_snapshot(self, spark, tmp_path):
        """Overwriting with an empty DataFrame must leave an empty but
        READABLE snapshot, not a bare dir the reader refuses."""
        from cassowary_spark.sources.sstable_datasource import (
            read_sstable,
            write_sstable,
        )

        d = str(tmp_path / "snap")
        df = spark.range(10).selectExpr("id as k", "cast(id as double) as v")
        write_sstable(df, d, key="k")
        write_sstable(df.filter("k < 0"), d, key="k", mode="overwrite")
        out = read_sstable(spark, d)
        assert out.count() == 0
        assert out.columns == ["k", "v"]

    def test_fixture_writer_merges_duplicate_keys(self):
        """write_snapshot fed duplicate key values must merge their
        cells (matching the distributed sink) instead of crashing on
        the writer's ascending-key invariant."""
        import pyarrow as pa

        from cassowary_spark.sources.convert import (
            infer_schema,
            rows_to_partitions,
        )

        t = pa.table(
            {
                "k": pa.array([1, 1, 2], pa.int64()),
                "v": pa.array(["a", "b", "c"], pa.string()),
            }
        )
        parts = rows_to_partitions(t, "k", infer_schema(t, "k"), 1_000)
        assert len(parts) == 2  # duplicates merged, keys ascending
        assert parts[0].key < parts[1].key

    def test_empty_dir_with_schema_reads_zero_rows(self, spark, tmp_path):
        """An explicit-schema read of a not-yet-populated snapshot dir
        must serve an empty table (stream consumers start before the
        producer's first flush)."""
        import json

        from cassowary_spark.sources.sstable_datasource import read_sstable

        d = str(tmp_path / "empty")
        import os

        os.makedirs(d)
        schema = json.dumps(
            {"key": ["k", "LongType"], "columns": [["v", "DoubleType"]]}
        )
        out = read_sstable(spark, d, schema=schema)
        assert out.count() == 0
        assert out.columns == ["k", "v"]

    def test_in_list_lookup_fans_out(self, spark, tmp_path):
        """A many-key IN list must split across multiple input
        partitions (not serialize onto one task) and stay exact."""
        from cassowary_spark.sources.sstable_datasource import (
            SSTableDataSourceReader,
            read_sstable,
            write_sstable,
        )

        d = str(tmp_path / "snap")
        df = spark.range(200).selectExpr("id as k", "cast(id as double) as v")
        write_sstable(df, d, key="k")
        keys = list(range(0, 200, 5))
        got = sorted(
            r.k
            for r in read_sstable(spark, d)
            .where(f"k in ({','.join(map(str, keys))})")
            .collect()
        )
        assert got == keys
        # plan-level: the reader splits the exact-key set
        reader = SSTableDataSourceReader({"path": d, "splits": "8"}, None)
        from pyspark.sql.datasource import EqualTo  # noqa: F401

        enc = reader.schema.key_validator.encode
        reader._eq_keys = {enc(k) for k in keys}
        parts = reader.partitions()
        assert len(parts) > 1, "IN-list lookups must fan out"
        total = sum(len(p.exact) for p in parts)
        assert total == len(keys)
