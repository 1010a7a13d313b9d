"""Fixture tooling: materialize a pyarrow table as SSTable snapshots.

The reference ingested data as Cassandra snapshot directories
(``nodetool snapshot`` → SSTable files on a shared path — SURVEY.md
§3.1 entry point 3 [P?]). No SSTable fixtures ship with the driver's
testdata, so this module converts the parquet fixtures into snapshot
dirs — including multi-generation overlap and tombstones — to exercise
the scan/merge/reconcile path end-to-end (SURVEY.md §7 M5).
"""

from __future__ import annotations

import os
import struct
from datetime import datetime
from decimal import Decimal

import pyarrow as pa

from cassowary_spark.sources.sstable_format import (
    LIVE_LDT,
    ROW_MARKER,
    Cell,
    Partition,
    SSTableWriter,
    collapse_keys,
    discover_sstables,
    encode_composite,
    merge_versions,
    range_tombstone,
    write_generation,
)
from cassowary_spark.sources.validators import get_validator

_ARROW_VALIDATORS = {
    pa.types.is_string: "UTF8Type",
    pa.types.is_large_string: "UTF8Type",
    pa.types.is_int64: "LongType",
    pa.types.is_int32: "Int32Type",
    pa.types.is_boolean: "BooleanType",
    pa.types.is_float32: "FloatType",
    pa.types.is_float64: "DoubleType",
    pa.types.is_timestamp: "TimestampType",
    pa.types.is_binary: "BytesType",
    pa.types.is_decimal: "DecimalType",
}


def validator_for_arrow(dt: pa.DataType) -> str:
    for pred, name in _ARROW_VALIDATORS.items():
        if pred(dt):
            return name
    raise ValueError(f"no validator mapping for arrow type {dt}")


def infer_schema(table: pa.Table, key_col: str) -> dict:
    cols = [
        [f.name, validator_for_arrow(f.type)]
        for f in table.schema
        if f.name != key_col
    ]
    key_validator = validator_for_arrow(table.schema.field(key_col).type)
    return {"key": [key_col, key_validator], "columns": cols}


def _to_python(v):
    if isinstance(v, (datetime, Decimal, bytes, str, int, float, bool)) or v is None:
        return v
    return v.as_py() if hasattr(v, "as_py") else v


def rows_to_partitions(
    table: pa.Table, key_col: str, schema: dict, timestamp: int
) -> list[Partition]:
    """Arrow rows → Partitions sorted by encoded key (writer invariant)."""
    key_enc = get_validator(schema["key"][1]).encode
    col_enc = {name: get_validator(vname).encode for name, vname in schema["columns"]}
    data = table.to_pydict()
    names = [n for n, _ in schema["columns"]]
    parts: list[Partition] = []
    for i in range(table.num_rows):
        key = key_enc(_to_python(data[key_col][i]))
        cells = [Cell(ROW_MARKER, b"", timestamp)]
        for name in names:
            v = _to_python(data[name][i])
            if v is None:
                continue
            cells.append(Cell(name.encode(), col_enc[name](v), timestamp))
        parts.append(Partition(key, cells=cells))
    # same-key rows merge into one partition, exactly as in the
    # distributed sink
    return collapse_keys(parts)


def write_snapshot(
    table: pa.Table,
    out_dir: str,
    key_col: str,
    keyspace: str = "ks",
    name: str = "cf",
    generations: int = 1,
    base_timestamp: int = 1_000,
    compression: str | None = "deflate",
) -> str:
    """Write ``table`` as ``generations`` overlapping sstables.

    With N>1 generations the rows are dealt into N overlapping slices
    (each row appears in ≥1, consecutive slices share ~1/3 of rows with
    identical values at increasing write timestamps), so a merged read
    must reconcile multi-version rows to reproduce the input exactly.
    """
    schema = infer_schema(table, key_col)
    parts = rows_to_partitions(table, key_col, schema, base_timestamp)
    n = len(parts)
    slices: list[tuple[int, list[Partition]]] = []
    if generations <= 1 or n < generations * 2:
        slices.append((1, parts))
    else:
        width = n // generations
        overlap = max(1, width // 3)
        for g in range(generations):
            lo = max(0, g * width - overlap)
            hi = n if g == generations - 1 else (g + 1) * width
            ts = base_timestamp + g
            sl = [
                Partition(
                    p.key,
                    cells=[
                        Cell(c.name, c.value, ts, c.flags, c.ttl, c.local_expiration)
                        for c in p.cells
                    ],
                )
                for p in parts[lo:hi]
            ]
            slices.append((g + 1, sl))

    for gen, sl in slices:
        write_generation(
            out_dir, keyspace, name, gen, schema, sl, compression=compression
        )
    return out_dir


def write_tombstone_generation(
    out_dir: str,
    schema: dict,
    keys: list,
    generation: int,
    keyspace: str = "ks",
    name: str = "cf",
    marked_for_delete_at: int = 10_000,
    compression: str | None = "deflate",
) -> None:
    """Append a generation containing only row tombstones for ``keys``."""
    key_enc = get_validator(schema["key"][1]).encode
    parts = [
        Partition(
            key_enc(k),
            local_deletion_time=LIVE_LDT - 1,
            marked_for_delete_at=marked_for_delete_at,
        )
        for k in keys
    ]
    write_generation(
        out_dir, keyspace, name, generation, schema, collapse_keys(parts),
        compression=compression,
    )


def composite_slice_bounds(
    schema: dict, lo_values: list, hi_values: list
) -> tuple[bytes, bytes]:
    """[start, end] cell-name bounds covering a CQL3 clustering slice.

    ``lo_values``/``hi_values`` are inclusive prefixes of the table's
    clustering columns (typed values, encoded via the schema's
    clustering validators). A composite prefix is byte-wise <= every
    cell name it prefixes, so the start bound is the encoded lo prefix;
    the end bound appends 0xFF, which sorts after any continuation of
    the hi prefix (component length prefixes start 0x00) — the role
    Cassandra's end-of-component byte plays in its slice bounds.
    """
    cluster_vs = [get_validator(v) for _, v in schema["clustering"]]
    lo = [v.encode(x) for v, x in zip(cluster_vs, lo_values)]
    hi = [v.encode(x) for v, x in zip(cluster_vs, hi_values)]
    return encode_composite(lo), encode_composite(hi) + b"\xff"


def write_range_tombstone_generation(
    out_dir: str,
    schema: dict,
    deletes: list[tuple],
    generation: int,
    keyspace: str = "ks",
    name: str = "cf",
    timestamp: int = 10_000,
    compression: str | None = "deflate",
) -> None:
    """Append a generation of range tombstones (clustering-slice deletes).

    ``deletes``: (partition_key_value, start_name, end_name) triples —
    bounds are raw cell-name bytes, inclusive (build clustered-table
    bounds with ``composite_slice_bounds``). The generation contains
    only DeletionInfo, like the sstable a flushed memtable of DELETEs
    produces; merged reads suppress covered cells in older generations.
    """
    key_enc = get_validator(schema["key"][1]).encode
    parts = [
        Partition(key_enc(key_val), cells=[range_tombstone(start, end, timestamp)])
        for key_val, start, end in deletes
    ]
    write_generation(
        out_dir, keyspace, name, generation, schema, collapse_keys(parts),
        compression=compression,
    )


def write_wide_snapshot(
    table: pa.Table,
    out_dir: str,
    key_col: str,
    name_col: str,
    value_col: str,
    ts_col: str | None = None,
    value_validator: str = "DoubleType",
    keyspace: str = "ks",
    name: str = "wide",
    generations: int = 2,
    compression: str | None = "deflate",
) -> str:
    """Write (key, dynamic-column, value[, ts]) triples as wide rows.

    Cassandra's native shape: one partition per key, one cell per
    (name, value) with the cell timestamp taken from ``ts_col`` (µs)
    — the reference's wide-row tables (SURVEY.md §1.1) land in Hive as
    exactly this long format. Rows are dealt round-robin into
    ``generations`` sstables so a merged read must union cells of the
    same key across files.
    """
    key_v = get_validator(validator_for_arrow(table.schema.field(key_col).type))
    val_v = get_validator(value_validator)
    data = table.to_pydict()
    n = table.num_rows

    schema = {
        "key": [key_col, key_v.name],
        "columns": [],  # dynamic — no fixed column set
        "wide": True,
        "wide_validator": value_validator,
    }
    for g in range(generations):
        parts: list[Partition] = []
        for i in range(g, n, generations):
            key = key_v.encode(_to_python(data[key_col][i]))
            ts = 1
            if ts_col is not None:
                tsv = _to_python(data[ts_col][i])
                if isinstance(tsv, datetime):
                    # naive datetimes are UTC wall-clock; integer math
                    # avoids both datetime.timestamp()'s local-tz
                    # dependence and float µs rounding
                    td = tsv.replace(tzinfo=None) - datetime(1970, 1, 1)
                    ts = (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds
                else:
                    ts = int(tsv)
            cname = str(_to_python(data[name_col][i])).encode("utf-8")
            v = _to_python(data[value_col][i])
            cell = Cell(cname, b"" if v is None else val_v.encode(v), ts)
            parts.append(Partition(key, cells=[cell]))
        write_generation(
            out_dir, keyspace, name, g + 1, schema, collapse_keys(parts),
            compression=compression,
        )
    return out_dir


def write_clustered_snapshot(
    table: pa.Table,
    out_dir: str,
    key_col: str,
    clustering_cols: list[str],
    keyspace: str = "ks",
    name: str = "cql3",
    generations: int = 2,
    base_timestamp: int = 1_000,
    ts_per_generation: bool = True,
    compression: str | None = "deflate",
) -> str:
    """Write a CQL3-style table: clustering keys in composite cell names.

    Each input row becomes one CQL3 row inside its partition: cells
    named ``composite(clustering values..., field)`` plus the row
    marker ``composite(clustering values..., "")`` — the on-disk shape
    CQL3 tables take over wide rows (SURVEY.md §1.1). Input rows are
    dealt round-robin into ``generations`` sstables, so partitions
    (and even individual CQL3 rows' cells) must merge across files.

    ``ts_per_generation=False`` writes every cell at one timestamp:
    duplicate primary keys then resolve by Cassandra's same-timestamp
    tiebreak (greater value bytes per cell — numeric max for positive
    BE-encoded numerics), which an aggregate oracle can reproduce.
    """
    key_v = get_validator(validator_for_arrow(table.schema.field(key_col).type))
    cluster_vs = [
        (c, get_validator(validator_for_arrow(table.schema.field(c).type)))
        for c in clustering_cols
    ]
    field_cols = [
        f.name for f in table.schema if f.name != key_col and f.name not in clustering_cols
    ]
    field_vs = {
        c: get_validator(validator_for_arrow(table.schema.field(c).type)) for c in field_cols
    }
    schema = {
        "key": [key_col, key_v.name],
        "columns": [[c, field_vs[c].name] for c in field_cols],
        "clustering": [[c, v.name] for c, v in cluster_vs],
    }
    data = table.to_pydict()
    n = table.num_rows
    for g in range(generations):
        parts: list[Partition] = []
        ts = base_timestamp + g if ts_per_generation else base_timestamp
        for i in range(g, n, generations):
            key = key_v.encode(_to_python(data[key_col][i]))
            prefix = [v.encode(_to_python(data[c][i])) for c, v in cluster_vs]
            cells = [Cell(encode_composite(prefix + [b""]), b"", ts)]
            for c in field_cols:
                v = _to_python(data[c][i])
                if v is None:
                    continue
                cells.append(
                    Cell(
                        encode_composite(prefix + [c.encode("utf-8")]),
                        field_vs[c].encode(v),
                        ts,
                    )
                )
            parts.append(Partition(key, cells=cells))
        write_generation(
            out_dir, keyspace, name, g + 1, schema, collapse_keys(parts),
            compression=compression,
        )
    return out_dir


def write_collections_snapshot(
    table: pa.Table,
    out_dir: str,
    key_col: str,
    clustering_cols: list[str],
    list_cols: dict[str, str] | None = None,
    set_cols: dict[str, str] | None = None,
    map_cols: dict[str, tuple[str, str, str, str]] | None = None,
    keyspace: str = "ks",
    name: str = "coll",
    generations: int = 2,
    base_timestamp: int = 1_000,
    compression: str | None = "deflate",
) -> str:
    """Write a CQL3 table with collection columns (list/set/map).

    Cassandra's public on-disk layout for CQL3 collections: every
    element is one cell whose composite name appends a *collection
    key* component after the field-name component —

    - ``list<T>``: key = 16-byte position uuid (here a deterministic
      BE counter — byte order == insertion order, as timeuuids are
      time-ordered), cell value = the T-encoded element;
    - ``set<T>``: key = the T-encoded element itself, value empty;
    - ``map<K,V>``: key = K-encoded map key, value = V-encoded value.

    Inputs: ``list_cols``/``set_cols`` map an arrow list-typed column
    to its element validator; ``map_cols`` maps an output column name
    to (keys_col, values_col, key_validator, value_validator) built
    from two parallel arrow list columns. Element cells are dealt
    round-robin across ``generations``, so reading a single logical
    collection requires merging cells across sstable files — the
    cross-file reconcile path, exercised per element.
    """
    list_cols = list_cols or {}
    set_cols = set_cols or {}
    map_cols = map_cols or {}
    key_v = get_validator(validator_for_arrow(table.schema.field(key_col).type))
    cluster_vs = [
        (c, get_validator(validator_for_arrow(table.schema.field(c).type)))
        for c in clustering_cols
    ]
    consumed = (
        {key_col}
        | set(clustering_cols)
        | set(list_cols)
        | set(set_cols)
        | {src for spec in map_cols.values() for src in spec[:2]}
    )
    field_cols = [f.name for f in table.schema if f.name not in consumed]
    field_vs = {
        c: get_validator(validator_for_arrow(table.schema.field(c).type)) for c in field_cols
    }
    collections_schema = (
        [[c, "list", v] for c, v in list_cols.items()]
        + [[c, "set", v] for c, v in set_cols.items()]
        + [[c, "map", kv, vv] for c, (_, _, kv, vv) in map_cols.items()]
    )
    schema = {
        "key": [key_col, key_v.name],
        "columns": [[c, field_vs[c].name] for c in field_cols],
        "clustering": [[c, v.name] for c, v in cluster_vs],
        "collections": collections_schema,
    }
    data = table.to_pydict()
    n = table.num_rows
    ts = base_timestamp

    def row_cells(i: int) -> list[Cell]:
        prefix = [v.encode(_to_python(data[c][i])) for c, v in cluster_vs]
        cells = []
        for c in field_cols:
            v = _to_python(data[c][i])
            if v is not None:
                cells.append(
                    Cell(encode_composite(prefix + [c.encode("utf-8")]), field_vs[c].encode(v), ts)
                )
        for c, vname in list_cols.items():
            vv = get_validator(vname)
            for pos, elem in enumerate(data[c][i] or []):
                pos_key = struct.pack(">QQ", 0, pos)  # BE counter ~ timeuuid order
                cells.append(
                    Cell(
                        encode_composite(prefix + [c.encode("utf-8"), pos_key]),
                        vv.encode(_to_python(elem)),
                        ts,
                    )
                )
        for c, vname in set_cols.items():
            ev = get_validator(vname)
            for elem in data[c][i] or []:
                cells.append(
                    Cell(
                        encode_composite(prefix + [c.encode("utf-8"), ev.encode(_to_python(elem))]),
                        b"",
                        ts,
                    )
                )
        for c, (ks_col, vs_col, kvn, vvn) in map_cols.items():
            kv, vv = get_validator(kvn), get_validator(vvn)
            for mk, mv in zip(data[ks_col][i] or [], data[vs_col][i] or []):
                cells.append(
                    Cell(
                        encode_composite(prefix + [c.encode("utf-8"), kv.encode(_to_python(mk))]),
                        vv.encode(_to_python(mv)),
                        ts,
                    )
                )
        return cells

    for g in range(generations):
        parts: list[Partition] = []
        for i in range(n):
            key = key_v.encode(_to_python(data[key_col][i]))
            prefix = [v.encode(_to_python(data[c][i])) for c, v in cluster_vs]
            # row marker in every generation (idempotent under merge)
            cells = [Cell(encode_composite(prefix + [b""]), b"", ts)]
            # deal element cells round-robin: each generation holds an
            # interleaved slice of every collection
            cells.extend(
                c for j, c in enumerate(row_cells(i)) if j % generations == g
            )
            parts.append(Partition(key, cells=cells))
        write_generation(
            out_dir, keyspace, name, g + 1, schema, collapse_keys(parts),
            compression=compression,
        )
    return out_dir


def compact_snapshot(
    path: str, delete_inputs: bool = True, out_dir: str | None = None
) -> str:
    """Full (major) compaction: merge every generation in ``path`` into
    one new sstable and (optionally) delete the inputs. Returns the
    directory holding the compacted snapshot.

    When ``delete_inputs=False`` the compacted generation is written to
    a FRESH directory (``out_dir``, default ``path + "-compacted"``):
    counter deltas collapse into one summed cell at the max input
    timestamp, so leaving that cell beside the original delta cells in
    the same directory would make a merged read feed both into
    reconcile's counter sum and double-count.

    Semantics are Cassandra's major compaction with gc_grace elapsed:
    cells shadowed by newer writes, cell/row/range tombstones are
    dropped AND the tombstones themselves are garbage-collected — safe
    precisely because no older sstable survives for them to cover.
    TTL'd cells are kept with their expiry metadata (expiry is decided
    at read time); counter deltas collapse into one summed delta cell.
    Reads at any read_ts give identical results before and after
    (asserted in tests).

    This is the single-node in-place tool (one writer, sorted k-way
    heap merge — memory is one partition's cells at a time plus the
    output buffer). The distributed form of the same operation is
    ``read_sstable(spark, path)`` → ``write_sstable(df, new_path)``
    with a range repartition. Don't compact a directory a streaming
    reader is tailing — the new generation would re-emit as a delta.
    """
    readers = discover_sstables(path)
    if len(readers) <= 1:
        return path
    base = os.path.basename(readers[-1].prefix)
    ks, tbl, _fmt, last_gen = base.rsplit("-", 3)
    schema = readers[-1].schema
    out_gen = int(last_gen) + 1
    if delete_inputs:
        dest = path
    else:
        dest = out_dir or (path.rstrip("/") + "-compacted")
        if os.path.realpath(dest) == os.path.realpath(path):
            # The compacted generation holds one SUMMED counter cell
            # per counter column; beside the surviving delta cells in
            # the same directory, a merged read would feed both into
            # reconcile's counter sum and double-count.
            raise ValueError(
                "compact_snapshot(delete_inputs=False) must write to a "
                f"fresh directory, not the input snapshot ({path!r}); "
                "pass a different out_dir or delete_inputs=True"
            )

    w = SSTableWriter(
        dest, ks, tbl, out_gen, schema,
        expected_keys=max(1, sum(r.stats["rows"] for r in readers)),
    )
    # read_ts=0: TTL cells stay live (expiry is decided at read time)
    for key, cells in merge_versions([(r.generation, r.scan()) for r in readers], 0):
        w.append(Partition(key, cells=list(cells.values())))
    w.close()
    if delete_inputs:
        for r in readers:
            for f in os.listdir(path):
                full = os.path.join(path, f)
                if full.startswith(r.prefix + "-"):
                    os.remove(full)
    return dest
