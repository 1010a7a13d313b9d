"""``spark.read.format("sstable")`` — PySpark DataSource over SSTable snapshots.

The reference exposed Cassandra snapshots to Hive/Shark via a Hadoop
InputFormat + RecordReader + SerDe (SURVEY.md §2 A1-A5, reconstruction
[P]); the idiomatic Spark equivalent is this Python DataSource
(PySpark 4.x ``pyspark.sql.datasource``):

- **Splits** (A1): ``partitions()`` carves the table into partition-key
  ranges using Index.db boundaries of the largest sstable — each
  ``InputPartition`` scans only the chunk-aligned byte ranges covering
  its key range in every overlapping sstable (CompressionInfo-granular
  I/O, so 1000 executors each touch ~1/1000th of a 100 TB snapshot).
- **Merge + reconcile** (A2): within a partition, a k-way heap merge
  over the per-sstable sorted scans groups rows by key; cells reconcile
  last-write-wins (timestamp, then tombstone-beats-live, then value
  bytes, then generation — Cassandra's reconcile order). Both live in
  ``sstable_format`` (``merge_versions``, ``reconcile``), shared with
  ``convert.compact_snapshot``. The reference
  actually surfaced each sstable's rows unmerged and left
  reconciliation to the query layer; ``merge=false`` reproduces that,
  ``merge=true`` (default) does it at scan time.
- **Tombstones / TTL** (A3): row tombstones suppress cells with
  ``timestamp <= marked_for_delete_at``; cell tombstones and
  TTL-expired cells (``local_expiration <= read_ts``) are dropped.
  Rows with no live cells disappear.
- **SerDe decode** (A4): validators from Statistics.db map cell bytes
  to Spark-typed values (sources/validators.py). One rule: the raw
  fields of the reader's field table (flat columns, wide
  ``column_name``/``value``) leave the scan as wire bytes and are
  decoded a column at a time for Arrow and a value at a time for tuple
  consumers; every other field is decoded as its row is built.
- **Pushdown** (§4): ``pushFilters`` consumes partition-key predicates.
  EqualTo/In prune sstables via min/max key + bloom filter and scan
  only the matching index slots; range predicates narrow the scanned
  key range when the key validator is byte-order-preserving. Consumed
  filters are re-applied exactly on decoded keys, so pruning is never
  a correctness risk. Column pruning: pass ``columns=a,b,c`` (the
  Python DataSource API has no pruneColumns hook yet).

Options: ``path`` (snapshot dir), ``merge`` (default true),
``read_ts`` (epoch seconds for TTL evaluation; default: far future so
results are deterministic), ``splits`` (target input partitions;
default: one per ``MIN_ROWS_PER_SPLIT`` index rows or per
``SPLIT_BYTES`` of data, at most 16 from the byte floor, capped at
64), ``columns`` (projection).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Any, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from cassowary_spark.session import ship_package
from cassowary_spark.sources.sstable_format import (
    FORMAT_VERSION,
    ROW_MARKER,
    Cell,
    Partition,
    SSTableReader,
    cmp_component,
    collapse_keys,
    composite_cmp_key,
    decode_composite,
    discover_sstables,
    encode_composite,
    live_unmerged,
    merge_versions,
    reconcile,
    write_generation,
)
from cassowary_spark.sources.validators import Validator, get_validator

# Default read_ts: far enough in the future that every TTL'd cell is
# treated as already expired — deterministic reads regardless of wall
# clock (a TTL'd cell's visibility never depends on when the query
# runs). Pass an explicit read_ts option to see live-TTL snapshots.
FAR_FUTURE_TS = 0x7FFFFFF0

_REGISTERED_SESSIONS: set[int] = set()


def _successor(key: bytes) -> bytes:
    """Smallest byte string strictly greater than ``key``."""
    return key + b"\x00"


def _preds_ok(preds: list[tuple[str, Any]], val: Any) -> bool:
    """Evaluate consumed (op, value) predicates exactly on a decoded value."""
    for op, v in preds:
        if op == "eq" and val != v:
            return False
        if op == "in" and val not in v:
            return False
        if op == "gt" and not val > v:
            return False
        if op == "ge" and not val >= v:
            return False
        if op == "lt" and not val < v:
            return False
        if op == "le" and not val <= v:
            return False
    return True


# -------------------------------------------------------------- schema


class TableSchema:
    """Key + ordered column validators, as stored in Statistics.db."""

    def __init__(self, key_name: str, key_validator: str, columns: list[tuple[str, str]]):
        self.key_name = key_name
        self.key_validator: Validator = get_validator(key_validator)
        self.columns = [(n, get_validator(v)) for n, v in columns]

    @classmethod
    def from_stats(cls, stats_schema: dict) -> "TableSchema":
        key_name, key_validator = stats_schema["key"]
        return cls(key_name, key_validator, [tuple(c) for c in stats_schema["columns"]])

    def project(self, names: list[str]) -> "TableSchema":
        keep = set(names)
        cols = [(n, v.name) for n, v in self.columns if n in keep]
        ts = TableSchema(self.key_name, self.key_validator.name, cols)
        ts.key_in_output = self.key_name in keep
        return ts

    key_in_output: bool = True

    def field_names(self) -> list[str]:
        names = [self.key_name] if self.key_in_output else []
        return names + [n for n, _ in self.columns]

    def ddl(self) -> str:
        parts = []
        if self.key_in_output:
            parts.append(f"{self.key_name} {self.key_validator.spark_type}")
        parts += [f"{n} {v.spark_type}" for n, v in self.columns]
        return ", ".join(parts)


# ----------------------------------------------------------- partitions


@dataclass
class SSTablePartition(InputPartition):
    """One key-range (or exact-key-set) slice of the snapshot.

    ``ranges`` carries per-sstable uncompressed byte offsets computed
    from Index.db at planning time (indexes are parsed once on the
    driver, cached per immutable generation) — executors seek straight
    to their chunk-aligned slices and never read Index.db.
    """

    # range scan: ((prefix, start_off, end_off), ...)
    ranges: tuple[tuple[str, int, int], ...] = ()
    # point lookups: ((key, ((prefix, start_off, end_off), ...)), ...)
    exact: tuple[tuple[bytes, tuple[tuple[str, int, int], ...]], ...] | None = None
    # cell-name bounds from pushed clustering-slice predicates: large
    # partitions are read through the promoted column index and only
    # blocks overlapping [name_lo, name_hi] hit the decompressor
    name_lo: bytes | None = None
    name_hi: bytes | None = None


class SSTableDataSourceReader(DataSourceReader):
    # ~10k rows of per-split decode work amortizes the Python-worker
    # round trip without starving parallelism (measured optimum on
    # local[32] at sf0.1; at cluster scale `splits` pins it instead).
    # Most of that round trip was the per-task pyspark.zip directory
    # re-read that session._stat_gate_zip_invalidation now skips; split
    # sizing and lookup chunking were deliberately left as tuned before it.
    MIN_ROWS_PER_SPLIT = 10_000
    SPLIT_BYTES = 1 << 20  # uncompressed bytes per split floor
    ARROW_BATCH_ROWS = 4_096

    def __init__(self, options: dict, user_schema: StructType | None) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("sstable source requires a path (snapshot directory)")
        self.merge = str(options.get("merge", "true")).lower() != "false"
        self.read_ts = int(options.get("read_ts", FAR_FUTURE_TS))
        readers = discover_sstables(self.path)
        # Generation-range reads (incremental / stream-replay twin):
        # restrict the merge to generations in [min_gen, max_gen] —
        # the batch equivalent of the stream reader's offset range.
        min_gen = int(options.get("min_gen", 0))
        max_gen = int(options["max_gen"]) if options.get("max_gen") else None
        if min_gen or max_gen is not None:
            readers = [
                r
                for r in readers
                if r.generation >= min_gen
                and (max_gen is None or r.generation <= max_gen)
            ]
        if not readers and not options.get("schema"):
            # With an explicit schema the source can serve an EMPTY
            # table instead — required by streaming consumers that
            # start before the producer flushes its first generation.
            raise ValueError(f"no sstables (*-Data.db) found under {self.path}")
        # Every generation written in typed comparator order → range
        # clustering-slice bounds can push into the promoted index;
        # every generation legacy raw-byte-sorted → eq-only raw
        # bounds. A MIXED dir (legacy snapshot appended to by the new
        # writer) gets NO bounds: either bound space would bisect the
        # other order's blocks incorrectly and silently drop rows
        # (decode-time predicates still apply exactly — mixed dirs
        # just read whole partitions). See _name_bounds.
        orders = {r.stats.get("cell_order") for r in readers}
        self._typed_order = orders == {"typed"}
        self._legacy_order = "typed" not in orders
        if options.get("schema"):
            # explicit schema (JSON, same shape as the writer's stats
            # schema block) — REQUIRED for real `nodetool snapshot`
            # dirs whose binary Statistics.db carries no schema
            import json as _json

            stats_schema = _json.loads(options["schema"])
        else:
            # NEWEST generation wins (matches compact_snapshot): the
            # schema evolves forward, so a column added in a later
            # append must surface (older generations emit it as NULL)
            # — taking readers[0] silently dropped evolved columns.
            stats_schema = readers[-1].schema
            if stats_schema is None:
                raise ValueError(
                    "this snapshot's Statistics.db is Cassandra's binary "
                    "metadata, which does not describe the table schema; "
                    'pass .option("schema", \'{"key": ["name", "Validator"], '
                    '"columns": [["col", "Validator"], ...]}\') to read it'
                )
        # Wide-row mode (Cassandra's native shape: a partition is a
        # sorted map of dynamic columns): emit the long format
        # (key, column_name, value, cell_ts) instead of pivoting cell
        # names into fixed fields. Dynamic column *values* share one
        # validator. Both default from Statistics.db (self-describing
        # snapshots) and are overridable via options.
        wide_default = "true" if stats_schema.get("wide") else "false"
        self.wide = str(options.get("wide", wide_default)).lower() == "true"
        self.wide_validator = get_validator(
            options.get("wide_validator")
            or stats_schema.get("wide_validator", "BytesType")
        )
        # CQL3 clustering keys: cell names are CompositeType-encoded
        # (clustering values..., field name); one output row per
        # distinct clustering prefix within a partition. Declared in
        # Statistics.db by the clustered writer.
        self.clustering: list[tuple[str, Validator]] = [
            (n, get_validator(v)) for n, v in stats_schema.get("clustering", [])
        ]
        # CQL3 collection columns (list<T> / set<T> / map<K,V>): each
        # element is its own cell whose composite name carries ONE
        # extra component after the field name — the "collection key"
        # (list: 16-byte position uuid; set: the element itself, value
        # empty; map: the map key, value = map value). Declared in
        # Statistics.db as [name, kind, elem_or_key_validator,
        # value_validator] (last entry only for map). Clustered tables
        # only — CQL3 collections always live in composite cells.
        self.collections: list[tuple[str, str, Validator, Validator | None]] = [
            (
                spec[0],
                spec[1],
                get_validator(spec[2]),
                get_validator(spec[3]) if len(spec) > 3 and spec[3] else None,
            )
            for spec in stats_schema.get("collections", [])
        ]
        # Split count adapts to snapshot size unless pinned: one split
        # per ~MIN_ROWS_PER_SPLIT index rows OR ~SPLIT_BYTES of
        # uncompressed data, whichever fans out wider. The byte floor
        # matters for wide/clustered tables, where "rows" counts
        # partition KEYS — a few thousand fat partitions can carry
        # millions of cells, and key-count alone leaves the whole scan
        # on one core. A 100 TB snapshot still fans out (operators cap
        # via the ``splits`` option; the 64 default cap keeps local
        # task overhead bounded and is overridable at scale).
        total_rows = sum(r.stats["rows"] for r in readers)
        total_bytes = sum(r.data_length for r in readers)
        if "splits" in options:
            self.n_splits = int(options["splits"])
        else:
            self.n_splits = max(
                1,
                min(
                    64,
                    max(
                        total_rows // self.MIN_ROWS_PER_SPLIT,
                        # byte floor capped: it exists to rescue
                        # few-keys/fat-partitions tables from a single
                        # task, not to out-fan the row heuristic (more
                        # splits than ~16 here just adds per-task
                        # Python-worker overhead, measured)
                        min(16, total_bytes // self.SPLIT_BYTES),
                    ),
                ),
            )
        self.schema = TableSchema.from_stats(stats_schema)
        if options.get("columns") and not self.wide:
            cols = [c.strip() for c in str(options["columns"]).split(",") if c.strip()]
            self.schema = self.schema.project(cols)
            self.collections = [c for c in self.collections if c[0] in set(cols)]
        # Driver-side planning state: only prefixes + small metadata are
        # shipped to executors; Index.db is re-read per partition there.
        self._prefixes = [r.prefix for r in readers]
        # Pushed key predicates, as (op, encoded/decoded value) pairs.
        self._eq_keys: set[bytes] | None = None
        self._lo: tuple[bytes, bool] | None = None  # (bound, inclusive)
        self._hi: tuple[bytes, bool] | None = None
        self._key_preds: list[tuple[str, Any]] = []  # exact re-check on decoded key
        # Clustering-column slice predicates (first clustering column):
        # applied on the decoded clustering value before any field
        # decode — Cassandra's column-slice read, evaluated cell-side.
        self._cluster_preds: list[tuple[str, Any]] = []
        # flat-schema cell names, encoded ONCE (the old per-row
        # name.encode() was 6 calls/row on a 6-column table)
        self._flat_cols: list[bytes] = [n.encode("utf-8") for n, _ in self.schema.columns]

    # -- pushdown ------------------------------------------------------

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        kname = self.schema.key_name
        kv = self.schema.key_validator
        cluster_col = self.clustering[0][0] if self.clustering else None
        _OPS = {
            EqualTo: "eq",
            GreaterThan: "gt",
            GreaterThanOrEqual: "ge",
            LessThan: "lt",
            LessThanOrEqual: "le",
        }
        for f in filters:
            attr = getattr(f, "attribute", None)
            col = attr[0] if attr and len(attr) == 1 else None
            if col == cluster_col and type(f) in _OPS and not self.wide:
                # column-slice predicate: evaluated on the decoded
                # clustering value before any field decode (exact, so
                # the filter is fully consumed). NOT consumed in wide
                # mode — the wide branch of _emit never applies
                # _cluster_preds, so consuming there would silently
                # drop the predicate and return wrong rows; wide reads
                # yield it back for Spark to evaluate.
                self._cluster_preds.append((_OPS[type(f)], f.value))
                continue
            if col != kname:
                yield f
                continue
            try:
                if isinstance(f, EqualTo):
                    enc = {kv.encode(f.value)}
                    self._eq_keys = enc if self._eq_keys is None else (self._eq_keys & enc)
                    self._key_preds.append(("eq", f.value))
                elif isinstance(f, In):
                    enc = {kv.encode(v) for v in f.value}
                    self._eq_keys = enc if self._eq_keys is None else (self._eq_keys & enc)
                    self._key_preds.append(("in", set(f.value)))
                elif isinstance(f, (GreaterThan, GreaterThanOrEqual)) and kv.order_preserving:
                    incl = isinstance(f, GreaterThanOrEqual)
                    b = (kv.encode(f.value), incl)
                    if self._lo is None or b[0] > self._lo[0] or (b[0] == self._lo[0] and not incl):
                        self._lo = b
                    self._key_preds.append(("ge" if incl else "gt", f.value))
                elif isinstance(f, (LessThan, LessThanOrEqual)) and kv.order_preserving:
                    incl = isinstance(f, LessThanOrEqual)
                    b = (kv.encode(f.value), incl)
                    if self._hi is None or b[0] < self._hi[0] or (b[0] == self._hi[0] and not incl):
                        self._hi = b
                    self._key_preds.append(("le" if incl else "lt", f.value))
                elif isinstance(f, IsNotNull):
                    pass  # partition keys are never null — trivially true
                else:
                    yield f
            except Exception:
                yield f  # un-encodable value → let Spark evaluate it

    # -- planning ------------------------------------------------------

    def _name_bounds(self) -> tuple[bytes | None, bytes | None]:
        """Composite cell-name bounds for pushed clustering-slice preds
        (I/O-level pushdown via the promoted column index).

        Typed-order snapshots (``cell_order: typed`` in Statistics.db
        — cells sorted by the comparator, as Cassandra writes them):
        bounds for eq AND gt/ge/lt/le are built in the
        ``composite_cmp_key`` space, whose raw-byte order equals the
        typed order, and scan_slices bisects block first-names through
        the same translation. Bounds are deliberately sloppy-inclusive
        (gt uses the ge bound); the decode-time exact filter drops the
        extras, so no matching row can be lost.

        Legacy raw-byte-sorted snapshots: only EQ predicates
        contribute bounds. The composite encoding length-prefixes
        every component (``>H len | bytes | eoc``), so raw-byte order
        diverges from value order across lengths — e.g. enc('b') =
        00 01 62 00 sorts BELOW enc('ab') = 00 02 61 62 00 although
        'b' > 'ab' — and range byte bounds would drop matching rows.
        EQ is safe: names sharing a first component share its exact
        length-prefixed byte prefix, so [p, p+0xff] is byte-contiguous
        and complete. Range predicates still apply exactly at decode
        time via ``_cluster_preds`` — they just read more blocks.
        """
        if not self._cluster_preds or not self.clustering:
            return None, None
        if not self._typed_order and not self._legacy_order:
            return None, None  # mixed cell orders: no safe bound space
        cv = self.clustering[0][1]
        lo = hi = None
        for op, v in self._cluster_preds:
            try:
                enc = cv.encode(v)
            except Exception:
                continue
            if self._typed_order:
                p = cmp_component(enc, cv.name)
                # all names whose first component == v share prefix p;
                # p[:-1]+\x01 sorts just above every p-prefixed key
                # (p ends with the 00 00 terminator)
                cand_lo, cand_hi = p, p[:-1] + b"\x01"
                use_lo = op in ("eq", "ge", "gt")
                use_hi = op in ("eq", "le", "lt")
            else:
                if op != "eq":
                    continue
                p = encode_composite([enc])
                cand_lo, cand_hi = p, p + b"\xff"
                use_lo = use_hi = True
            if use_lo and (lo is None or cand_lo > lo):
                lo = cand_lo
            if use_hi and (hi is None or cand_hi < hi):
                hi = cand_hi
        return lo, hi

    def partitions(self) -> list[InputPartition]:
        if not self._prefixes:
            # explicit-schema read of a not-yet-populated snapshot
            # (streaming consumer started before the producer): one
            # no-op partition serving zero rows with the right schema
            return [SSTablePartition(exact=(), name_lo=None, name_hi=None)]
        readers = {p: SSTableReader(p) for p in self._prefixes}
        name_lo, name_hi = self._name_bounds()

        if self._eq_keys is not None:  # point lookups: bloom-pruned
            exact = []
            for k in sorted(self._eq_keys):
                ranges = tuple(
                    (p, s, e)
                    for p, r in readers.items()
                    if r.might_contain(k)
                    for s, e in [r.data_range_for_keys(k, _successor(k))]
                    if e > s
                )
                if ranges:
                    exact.append((k, ranges))
            if not exact:
                return [
                    SSTablePartition(
                        exact=(), name_lo=name_lo, name_hi=name_hi
                    )
                ]
            # Chunk the point lookups across tasks: a 1000-key IN list
            # on one InputPartition serializes 1000 random reads onto
            # a single worker while the cluster idles. Keys are sorted,
            # so contiguous chunks also keep each task's reads
            # index-local.
            n_chunks = max(1, min(self.n_splits, len(exact)))
            step = (len(exact) + n_chunks - 1) // n_chunks
            return [
                SSTablePartition(
                    exact=tuple(exact[i : i + step]),
                    name_lo=name_lo,
                    name_hi=name_hi,
                )
                for i in range(0, len(exact), step)
            ]

        lo = self._lo[0] if self._lo else None
        if self._lo and not self._lo[1]:
            lo = _successor(lo)
        hi = None
        if self._hi:
            hi = _successor(self._hi[0]) if self._hi[1] else self._hi[0]

        # Split boundaries: sample the largest sstable's index (the
        # Summary-style sampling Cassandra uses); all indexes are
        # parsed once driver-side (cached per immutable generation)
        # and only byte offsets ship to executors.
        largest = max(readers.values(), key=lambda r: r.stats["rows"])
        keys = [k for k, _ in largest.index()]
        if lo is not None:
            keys = [k for k in keys if k >= lo]
        if hi is not None:
            keys = [k for k in keys if k < hi]
        n = max(1, min(self.n_splits, len(keys) or 1))
        step = max(1, len(keys) // n)
        bounds = [keys[i] for i in range(step, len(keys), step)][: n - 1]
        edges = [lo] + bounds + [hi]

        parts: list[InputPartition] = []
        for s, e in zip(edges, edges[1:]):
            ranges = tuple(
                (p, so, eo)
                for p, r in sorted(readers.items())
                # unknown bounds (binary stats, min_key None but rows
                # present) can't be range-pruned — always considered
                if (
                    (r.min_key is None and r.stats.get("rows"))
                    or (
                        r.min_key is not None
                        and (e is None or r.min_key < e)
                        and (s is None or r.max_key >= s)
                    )
                )
                for so, eo in [r.data_range_for_keys(s, e)]
                if eo > so
            )
            parts.append(SSTablePartition(ranges=ranges, name_lo=name_lo, name_hi=name_hi))
        return [p for p in parts if p.ranges] or [SSTablePartition()]

    # -- execution -----------------------------------------------------

    def _key_ok(self, key_val: Any) -> bool:
        return _preds_ok(self._key_preds, key_val)

    def output_ddl(self) -> str:
        if self.wide:
            return (
                f"{self.schema.key_name} {self.schema.key_validator.spark_type}, "
                f"column_name string, value {self.wide_validator.spark_type}, "
                "cell_ts long"
            )
        if self.clustering:
            parts = [f"{self.schema.key_name} {self.schema.key_validator.spark_type}"]
            parts += [f"{n} {v.spark_type}" for n, v in self.clustering]
            parts += [f"{n} {v.spark_type}" for n, v in self.schema.columns]
            for cname, kind, v1, v2 in self.collections:
                if kind == "map":
                    parts.append(f"{cname} map<{v1.spark_type},{v2.spark_type}>")
                else:  # list / set → array of the element type
                    parts.append(f"{cname} array<{v1.spark_type}>")
            return ", ".join(parts)
        return self.schema.ddl()

    def _emit(self, key: bytes, cells: dict[bytes, Cell]) -> Iterator[tuple]:
        """One reconciled partition → output row(s) in ``_fields()``
        order: raw fields as wire bytes (None = missing or empty cell =
        NULL), every other field decoded."""
        key_val = self.schema.key_validator.decode(key)
        if not self._key_ok(key_val):
            return
        if self.wide:
            for name in sorted(cells):
                if name == ROW_MARKER:
                    continue
                cell = cells[name]
                yield (key_val, name, cell.value or None, cell.timestamp)
            return
        if self.clustering:
            # Group cells by clustering prefix → one row per CQL3 row.
            # The group key is the RAW composite-prefix bytes (equality
            # and sort-stable), so the component decode runs once per
            # CQL3 row, not once per cell — the hot loop below only
            # scans the composite to find the final (field) component
            # (and, for collection cells, the one before it).
            ndepth = len(self.clustering)
            groups: dict[bytes, dict[str, Cell]] = {}
            # collection cells: prefix → column → {collection_key: cell}
            coll_groups: dict[bytes, dict[str, dict[bytes, Cell]]] = {}
            have_colls = bool(self.collections)
            for name, cell in cells.items():
                pos = 0
                end = len(name)
                count = 0
                fstart = 0
                flen = 0
                pstart = 0
                plen = 0
                while pos + 2 <= end:
                    ln = (name[pos] << 8) | name[pos + 1]
                    if pos + 2 + ln + 1 > end:
                        count = -1  # malformed / non-CQL3 cell
                        break
                    count += 1
                    pstart = fstart
                    plen = flen
                    fstart = pos + 2
                    flen = ln
                    pos += 3 + ln
                if pos != end:
                    continue
                if count == ndepth + 1:
                    pkey = name[: fstart - 2]
                    grp = groups.get(pkey)
                    if grp is None:
                        grp = groups[pkey] = {}
                    grp[name[fstart : fstart + flen].decode("utf-8")] = cell
                elif have_colls and count == ndepth + 2:
                    # collection element cell: second-to-last component
                    # is the column name, last is the collection key
                    pkey = name[: pstart - 2]
                    cname = name[pstart : pstart + plen].decode("utf-8")
                    cg = coll_groups.get(pkey)
                    if cg is None:
                        cg = coll_groups[pkey] = {}
                    entries = cg.get(cname)
                    if entries is None:
                        entries = cg[cname] = {}
                    entries[name[fstart : fstart + flen]] = cell
            first_cv = self.clustering[0][1]
            cpreds = self._cluster_preds
            prefixes = (
                sorted(groups.keys() | coll_groups.keys()) if have_colls else sorted(groups)
            )
            for prefix in prefixes:
                comps = decode_composite(prefix)
                # column-slice pushdown: drop the CQL3 row before any
                # field decode if its clustering head fails the pushed
                # slice predicates
                if cpreds and not _preds_ok(cpreds, first_cv.decode(comps[0])):
                    continue
                fields = groups.get(prefix, {})
                row: list[Any] = [key_val]
                row += [v.decode(raw) for (_, v), raw in zip(self.clustering, comps)]
                for cname, cv in self.schema.columns:
                    cell = fields.get(cname)
                    row.append(cv.decode(cell.value) if cell and cell.value else None)
                if have_colls:
                    coll = coll_groups.get(prefix, {})
                    for cname, kind, v1, v2 in self.collections:
                        entries = coll.get(cname)
                        if not entries:
                            row.append(None)  # absent collection = NULL
                        elif kind == "list":
                            # list order = collection-key (position
                            # uuid) byte order, Cassandra's semantics.
                            # Cells here are live (tombstones dropped
                            # in reconcile/live_unmerged), so an empty
                            # value is a real element ('' is legal) —
                            # no truthiness filter.
                            row.append(
                                [v1.decode(entries[k].value) for k in sorted(entries)]
                            )
                        elif kind == "set":
                            # elements live in the cell NAME; the
                            # comparator's byte order is the set order
                            row.append([v1.decode(k) for k in sorted(entries)])
                        else:  # map: key in name, value in cell value
                            row.append(
                                {
                                    v1.decode(k): v2.decode(entries[k].value)
                                    for k in sorted(entries)
                                }
                            )
                yield tuple(row)
            return
        out: list[Any] = [key_val] if self.schema.key_in_output else []
        for ename in self._flat_cols:
            cell = cells.get(ename)
            out.append(cell.value if cell is not None and cell.value else None)
        yield tuple(out)

    def _scan_ranges(
        self,
        slices: list[tuple[SSTableReader, int, int]],
        name_lo: bytes | None = None,
        name_hi: bytes | None = None,
    ) -> Iterator[tuple]:
        """Merge-scan [(reader, start_off, end_off), ...] byte slices.

        When clustering-slice name bounds are set, each reader serves
        the range through its promoted column index (scan_slices):
        large partitions decompress only the covering cell blocks.
        Typed-order snapshots bisect in the composite_cmp_key space
        (bounds were built there by _name_bounds).
        """
        name_key = None
        if (name_lo is not None or name_hi is not None) and self._typed_order:
            vnames = tuple(v.name for _, v in self.clustering)
            name_key = lambda nm: composite_cmp_key(nm, vnames)  # noqa: E731
        if (
            not self.wide
            and not self.clustering
            and self.merge
            and len(slices) == 1
            and name_lo is None
            and name_hi is None
            # real snapshots use Cassandra's serialization masks —
            # only scan_offsets' real cell parser decodes them
            and not slices[0][0].stats.get("binary_stats")
        ):
            # Fused flat fast path: a single-sstable slice is the only
            # source for its keys, so the per-cell Cell/reconcile/_emit
            # pipeline collapses into one raw scan (scan_rows_fast) +
            # one dict lookup per column. Rare cell kinds re-enter the
            # general reconcile per-partition.
            r, so, eo = slices[0]
            gen = r.generation
            kdec = self.schema.key_validator.decode
            key_in = self.schema.key_in_output
            flat_cols = self._flat_cols
            check_keys = bool(self._key_preds)
            for kind, key, payload in r.scan_rows_fast(so, eo, self.read_ts):
                if kind == 0:
                    # dead cells ride along as None sentinels (for dup
                    # detection) — the row exists only if something is
                    # actually live
                    if not payload or not any(
                        v is not None for v in payload.values()
                    ):
                        continue
                    key_val = kdec(key)
                    if check_keys and not self._key_ok(key_val):
                        continue
                    out = [key_val] if key_in else []
                    for ename in flat_cols:
                        v = payload.get(ename)
                        out.append(v if v else None)
                    yield tuple(out)
                else:
                    cells = reconcile([(gen, payload)], self.read_ts)
                    if cells:
                        yield from self._emit(key, cells)
            return
        if self.merge:
            sources = (
                (r.generation, r.scan_slices(so, eo, name_lo, name_hi, name_key))
                for r, so, eo in slices
            )
            for key, cells in merge_versions(sources, self.read_ts):
                yield from self._emit(key, cells)
        else:
            # Reference parity: one row per sstable version, unmerged
            # (cassowary's InputFormat emitted per-sstable rows and left
            # reconciliation to the query layer — cf. q_latest_version).
            for r, so, eo in slices:
                for part in r.scan_slices(so, eo, name_lo, name_hi, name_key):
                    live = live_unmerged(part, self.read_ts)
                    if live:
                        yield from self._emit(part.key, live)

    def _slices(self, ranges) -> list[tuple[SSTableReader, int, int]]:
        opened: dict[str, SSTableReader] = {}
        out = []
        for p, so, eo in ranges:
            r = opened.get(p)
            if r is None:
                r = opened[p] = SSTableReader(p)
            out.append((r, so, eo))
        return out

    def _rows(self, partition: SSTablePartition) -> Iterator[tuple]:
        lo, hi = partition.name_lo, partition.name_hi
        if partition.exact is not None:
            for _key, ranges in partition.exact:
                yield from self._scan_ranges(self._slices(ranges), lo, hi)
        elif partition.ranges:
            yield from self._scan_ranges(self._slices(partition.ranges), lo, hi)

    def _fields(self) -> list[tuple[str, Any, bool]]:
        """The output fields in row order, as ``(name, validator, raw)``.

        Raw fields (flat columns, wide ``column_name``/``value``) leave
        ``_emit`` as wire bytes; keys, ``cell_ts``, clustered and
        collection fields arrive already decoded. A collection field's
        "validator" only carries the nested Arrow type and its element
        validator names.
        """
        key = (self.schema.key_name, self.schema.key_validator, False)
        if self.wide:
            return [
                key,
                ("column_name", get_validator("UTF8Type"), True),
                ("value", self.wide_validator, True),
                ("cell_ts", get_validator("LongType"), False),
            ]
        if self.clustering:
            import types

            import pyarrow as pa

            fields = [key] + [(n, v, False) for n, v in self.clustering + self.schema.columns]
            for cname, kind, v1, v2 in self.collections:
                if kind == "map":
                    coll = types.SimpleNamespace(
                        name=f"{v1.name},{v2.name}",
                        arrow_type=pa.map_(v1.arrow_type, v2.arrow_type),
                    )
                else:
                    coll = types.SimpleNamespace(name=v1.name, arrow_type=pa.list_(v1.arrow_type))
                fields.append((cname, coll, False))
            return fields
        fields = [key] if self.schema.key_in_output else []
        return fields + [(n, v, True) for n, v in self.schema.columns]

    def _decode_rows(self, rows: Iterator[tuple]) -> Iterator[tuple]:
        """``_emit``'s rows for tuple consumers: each raw field decoded a
        value at a time by its validator (None stays NULL)."""
        raw = [(i, v.decode) for i, (_, v, is_raw) in enumerate(self._fields()) if is_raw]
        for row in rows:
            out = list(row)
            for i, decode in raw:
                if out[i] is not None:
                    out[i] = decode(out[i])
            yield tuple(out)

    def read(self, partition: SSTablePartition) -> Iterator:
        """Emit pyarrow RecordBatches (vectorized Python→JVM transfer).

        Raw fields are decoded a column at a time: fixed-width
        validators as one numpy frombuffer per batch, strings and binary
        straight into Arrow (``_raw_column_array``); decoded fields build
        through ``_array_nopandas``.

        Row-tuple fallback when the schema holds timestamps: Arrow
        tz-naive timestamps are interpreted in the session time zone,
        so tuple conversion (which goes through Spark's own
        datetime handling) is the semantics-safe path there. Its raw
        fields are decoded a value at a time (``_decode_rows``).
        """
        import pyarrow as pa

        fields = self._fields()
        rows = self._rows(partition)
        if any("TimestampType" in v.name for _, v, _ in fields):
            yield from self._decode_rows(rows)
            return
        arrow_schema = pa.schema([(n, v.arrow_type) for n, v, _ in fields])

        def flush(buf):
            cols = list(zip(*buf)) if buf else [() for _ in fields]
            return pa.RecordBatch.from_arrays(
                [
                    _raw_column_array(c, v) if raw else _array_nopandas(list(c), v.arrow_type)
                    for c, (_, v, raw) in zip(cols, fields)
                ],
                schema=arrow_schema,
            )

        buf: list[tuple] = []
        any_out = False
        for row in rows:
            buf.append(row)
            if len(buf) >= self.ARROW_BATCH_ROWS:
                any_out = True
                yield flush(buf)
                buf.clear()
        if buf or not any_out:
            yield flush(buf)


def _validity_buffer(mask):
    """Arrow validity bitmap (1 = valid) from a numpy bool null-mask."""
    import numpy as np
    import pyarrow as pa

    return pa.py_buffer(np.packbits(~mask, bitorder="little").tobytes())


def _raw_column_array(col, v):
    """One Arrow array from RAW wire-bytes cells: fixed-width validators
    decode as a single numpy frombuffer over the joined batch (one call
    per column per batch, not one struct.unpack per cell); strings and
    binary pass straight to Arrow; everything else decodes per value
    within the batch."""
    import numpy as np
    import pyarrow as pa

    fmt = v.np_dtype
    if fmt is not None:
        dt = np.dtype(fmt)
        w = dt.itemsize
        z = b"\x00" * w
        n = len(col)
        # ONE Python pass over the cells (r15): lengths with a -1
        # null sentinel give the null mask AND the per-cell width
        # check — the previous shape walked the batch three times
        # (mask generator, check loop, join generator).
        lens = np.fromiter(
            ((-1 if c is None else len(c)) for c in col), np.int64, count=n
        )
        mask = lens < 0
        # A present cell with the wrong width is corruption or a
        # mislabeled user schema — raise like the row-tuple decode
        # path does; masking it to NULL (the old behavior) turned
        # schema mistakes into silent data loss on exactly one of the
        # two decode paths.
        if bool(((lens >= 0) & (lens != w)).any()):
            bad = int(lens[(lens >= 0) & (lens != w)][0])
            raise ValueError(
                f"{v.name}: fixed-width cell of {bad} bytes where "
                f"{w} expected — wrong validator in the supplied "
                "schema, or a corrupt cell"
            )
        null_count = int(mask.sum())
        if null_count:
            joined = b"".join(c if c is not None else z for c in col)
        else:
            joined = b"".join(col)
        arr = np.frombuffer(joined, dtype=dt)
        if v.name == "BooleanType":
            bits = arr.astype(np.bool_)
            return pa.Array.from_buffers(
                pa.bool_(),
                len(col),
                [
                    _validity_buffer(mask) if null_count else None,
                    pa.py_buffer(np.packbits(bits, bitorder="little").tobytes()),
                ],
                null_count=null_count,
            )
        arr = arr.astype(dt.newbyteorder("="))
        return pa.Array.from_buffers(
            v.arrow_type,
            len(col),
            [
                _validity_buffer(mask) if null_count else None,
                pa.py_buffer(arr.tobytes()),
            ],
            null_count=null_count,
        )
    if v.name in ("UTF8Type", "AsciiType"):
        return _array_nopandas(list(col), pa.binary()).cast(pa.string())
    if v.name == "BytesType":
        return _array_nopandas(list(col), pa.binary())
    return _array_nopandas(
        [None if c is None else v.decode(c) for c in col], v.arrow_type
    )


_NOPANDAS_NUMERIC = {
    "int64": "int64",
    "int32": "int32",
    "float": "float32",
    "double": "float64",
}


def _array_nopandas(col, atype):
    """Build a pa.Array from decoded Python values WITHOUT ``pa.array``.

    pyarrow's ``pa.array`` entry point lazily imports pandas (~0.6s)
    on its first call, a fixed tax on the first sstable read of every
    Python worker. Fixed-width numerics, booleans, strings and binary
    build straight from buffers; anything else (decimal, uuid-as-string is
    covered by the string path; nested lists/maps) falls back to
    ``pa.array`` and pays the import only for those schemas.
    """
    import numpy as np
    import pyarrow as pa

    n = len(col)
    name = str(atype)
    np_name = _NOPANDAS_NUMERIC.get(name)
    if np_name is not None:
        # list.count(None) is a C-speed scan; the no-null batch (the
        # overwhelmingly common one) then builds via np.array on the
        # list — several times faster than a Python-generator
        # fromiter (r15; the generator paths remain for null batches)
        null_count = col.count(None)
        if null_count == 0:
            vals = np.asarray(col, dtype=np.dtype(np_name))
            return pa.Array.from_buffers(
                atype, n, [None, pa.py_buffer(vals.tobytes())], null_count=0
            )
        mask = np.fromiter((v is None for v in col), np.bool_, count=n)
        vals = np.fromiter(
            (0 if v is None else v for v in col), np.dtype(np_name), count=n
        )
        return pa.Array.from_buffers(
            atype,
            n,
            [
                _validity_buffer(mask),
                pa.py_buffer(vals.tobytes()),
            ],
            null_count=null_count,
        )
    if name == "bool":
        mask = np.fromiter((v is None for v in col), np.bool_, count=n)
        null_count = int(mask.sum())
        bits = np.fromiter((bool(v) for v in col), np.bool_, count=n)
        return pa.Array.from_buffers(
            atype,
            n,
            [
                _validity_buffer(mask) if null_count else None,
                pa.py_buffer(np.packbits(bits, bitorder="little").tobytes()),
            ],
            null_count=null_count,
        )
    if name in ("string", "binary"):
        enc = [
            b"" if v is None else (v.encode("utf-8") if isinstance(v, str) else v)
            for v in col
        ]
        null_count = col.count(None)
        mask = (
            np.fromiter((v is None for v in col), np.bool_, count=n)
            if null_count
            else None
        )
        offsets64 = np.zeros(n + 1, dtype=np.int64)
        if n:
            np.cumsum(
                np.fromiter((len(b) for b in enc), np.int64, count=n),
                out=offsets64[1:],
            )
        if n and offsets64[-1] > 2**31 - 1:
            # >2 GiB of value bytes in one batch: int32 offsets would
            # silently wrap. Let pa.array raise ArrowCapacityError (the
            # caller's fix is a smaller ARROW_BATCH_ROWS).
            return pa.array(col, type=atype)
        offsets = offsets64.astype(np.int32)
        return pa.Array.from_buffers(
            atype,
            n,
            [
                _validity_buffer(mask) if null_count else None,
                pa.py_buffer(offsets.tobytes()),
                pa.py_buffer(b"".join(enc)),
            ],
            null_count=null_count,
        )
    return pa.array(col, type=atype)


# --------------------------------------------------------------- writer


_SPARK_TO_VALIDATOR = {
    "string": "UTF8Type",
    "binary": "BytesType",
    "bigint": "LongType",
    "long": "LongType",
    "int": "Int32Type",
    "integer": "Int32Type",
    "boolean": "BooleanType",
    "float": "FloatType",
    "double": "DoubleType",
    "timestamp": "TimestampType",
    # a naive wall-clock datetime, which _enc_timestamp reads as UTC
    "timestamp_ntz": "TimestampType",
}


@dataclass
class SSTableCommitMessage(WriterCommitMessage):
    staged_prefix: str | None  # None for empty tasks
    rows: int
    partition_id: int = 0  # final-generation precedence (ts-tie LWW)


class SSTableDataSourceWriter(DataSourceWriter):
    """Distributed sink: each task flushes its partition as one SSTable.

    The memtable-flush analogy: a task buffers and key-sorts its rows
    (bounded by the task's partition, as any file sink is), writes one
    generation into a staging dir, and the driver commit renames the
    staged generations into the snapshot atomically-enough for a
    file-based sink (abort deletes the staging dir). At scale, pair
    with ``repartitionByRange(key)`` so generations are key-disjoint
    and merged reads never reconcile across them.
    """

    def __init__(self, options: dict, schema: StructType, overwrite: bool) -> None:
        import uuid

        self.path = options.get("path")
        if not self.path:
            raise ValueError("sstable sink requires a path")
        self.keyspace = options.get("keyspace", "ks")
        self.table = options.get("table", "cf")
        comp = options.get("compression", "deflate")
        self.compression = None if comp == "none" else comp
        # layout="real": tasks emit generations in Cassandra's own jb
        # component serialization (the export sink; partitions stay in
        # raw-key order, see SSTableWriter); default is the stand-in layout
        self.layout = options.get("layout", "standin")
        self.write_ts = int(options.get("write_ts", 1))
        self.overwrite = overwrite
        key = options.get("key") or schema.fields[0].name
        names = [f.name for f in schema.fields]
        if key not in names:
            raise ValueError(f"key column {key!r} not in schema {names}")
        self.key_col = key
        self.key_idx = names.index(key)
        try:
            self.fields = [
                (f.name, _SPARK_TO_VALIDATOR[f.dataType.simpleString()]) for f in schema.fields
            ]
        except KeyError as e:
            raise ValueError(f"no validator mapping for Spark type {e}") from None
        self.staging = os.path.join(self.path, f".staging-{uuid.uuid4().hex}")
        self.table_schema = {
            "key": [key, dict(self.fields)[key]],
            "columns": [[n, v] for n, v in self.fields if n != key],
        }

    def write(self, iterator) -> SSTableCommitMessage:
        # Worker-side method: this package reaches the worker as the
        # zip that register_sstable_source shipped, so a lazy import of
        # any cassowary_spark module would resolve here too.
        from pyspark import TaskContext

        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx else 0
        # Staged-file uniqueness must be per task ATTEMPT, not per
        # partition: under speculation/zombie retries two attempts of
        # the same partition run concurrently, and partition-derived
        # names would interleave writes into the same staging files.
        # taskAttemptId is unique app-wide; the FINAL generation is
        # assigned at commit (ordered by partition_id), so the staged
        # number is just a collision-free name.
        gen = (ctx.taskAttemptId() if ctx else 0) + 1
        key_enc = get_validator(self.table_schema["key"][1]).encode
        col_enc = {n: get_validator(v).encode for n, v in self.table_schema["columns"]}

        parts: list = []
        for row in iterator:
            vals = tuple(row)
            key = key_enc(vals[self.key_idx])
            cells = [Cell(ROW_MARKER, b"", self.write_ts)]
            cells += [
                Cell(n.encode(), col_enc[n](v), self.write_ts)
                for n, v in zip(
                    [f for f, _ in self.fields], vals
                )
                if n in col_enc and v is not None
            ]
            parts.append(Partition(key, cells=cells))
        if not parts:
            return SSTableCommitMessage(None, 0, part_id)
        parts = collapse_keys(parts)
        prefix = write_generation(
            self.staging, self.keyspace, self.table, gen, self.table_schema,
            parts, compression=self.compression, layout=self.layout,
        )
        return SSTableCommitMessage(prefix, len(parts), part_id)

    def commit(self, messages) -> None:
        import glob
        import shutil

        # Order final generations by partition id: deterministic
        # timestamp-tie LWW precedence regardless of which task
        # attempt won or how staged names sort as strings.
        staged = [
            m.staged_prefix
            for m in sorted(
                (m for m in messages if m is not None and m.staged_prefix),
                key=lambda m: m.partition_id,
            )
        ]
        if self.overwrite:
            for f in glob.glob(os.path.join(self.path, f"{self.keyspace}-{self.table}-*")):
                os.remove(f)
            base = 0
        else:
            existing = [
                int(p.rsplit("-", 2)[-2])
                for p in glob.glob(
                    os.path.join(self.path, f"{self.keyspace}-{self.table}-*-Data.db")
                )
            ]
            base = max(existing, default=0)
        if not staged and self.overwrite:
            # Overwrite-with-empty must leave a READABLE empty
            # snapshot (schema-bearing components, zero rows) — not a
            # bare directory that read_sstable refuses to open.
            write_generation(
                self.path, self.keyspace, self.table, 1, self.table_schema,
                [], compression=self.compression, layout=self.layout,
            )
        for i, prefix in enumerate(staged):
            final_gen = base + i + 1
            for comp in glob.glob(prefix + "-*"):
                fname = os.path.basename(comp)
                suffix = fname.rsplit("-", 1)[-1]  # component name (no '-' in any)
                os.replace(
                    comp,
                    os.path.join(
                        self.path,
                        f"{self.keyspace}-{self.table}-{FORMAT_VERSION}-{final_gen}-{suffix}",
                    ),
                )
        shutil.rmtree(self.staging, ignore_errors=True)

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(self.staging, ignore_errors=True)


# ------------------------------------------------------------- streaming


class SSTableStreamReader(SimpleDataSourceStreamReader):
    """``spark.readStream.format("sstable")`` — generations as batches.

    The Cassandra ingest pattern: flushes/incremental backups drop new
    numbered generations into the snapshot dir; each micro-batch emits
    the rows of generations that arrived since the last offset
    (``{"gen": N}``), *unmerged* — a generation is a delta, and
    reconciliation stays in the query layer (`latest_version` /
    stateful dedup), exactly where the reference left it. Offsets are
    generation numbers, so recovery replay (`readBetweenOffsets`) is
    deterministic. The simple (driver-side) reader fits the
    generation-grained, low-frequency arrival rate; a partitioned
    `DataSourceStreamReader` would reuse the batch splitter as-is.
    """

    def __init__(self, options: dict) -> None:
        self.options = dict(options)
        self._batch = SSTableDataSourceReader(self.options, None)

    def initialOffset(self) -> dict:
        return {"gen": 0}

    def _readers_between(self, lo: int, hi: int | None):
        readers = discover_sstables(self.options["path"])
        return [
            r for r in readers if r.generation > lo and (hi is None or r.generation <= hi)
        ]

    def _rows(self, readers) -> Iterator[tuple]:
        def emitted():
            for r in readers:
                for part in r.scan():
                    live = live_unmerged(part, self._batch.read_ts)
                    if live:
                        yield from self._batch._emit(part.key, live)

        return self._batch._decode_rows(emitted())

    def read(self, start: dict):
        # a picklable iterator (list_iterator, not a generator): the
        # batch's rows are serialized by the simple-stream machinery
        readers = self._readers_between(int(start.get("gen", 0)), None)
        if not readers:
            return iter([]), start
        end = {"gen": max(r.generation for r in readers)}
        return iter(list(self._rows(readers))), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        readers = self._readers_between(int(start.get("gen", 0)), int(end.get("gen", 0)))
        return iter(list(self._rows(readers)))

    def commit(self, end: dict) -> None:
        pass  # generations are immutable; nothing to clean up


class SSTableDataSource(DataSource):
    """``spark.read.format("sstable").load(snapshot_dir)`` and
    ``df.write.format("sstable").save(snapshot_dir)``."""

    @classmethod
    def name(cls) -> str:
        return "sstable"

    def schema(self) -> str:
        reader = SSTableDataSourceReader(dict(self.options), None)
        return reader.output_ddl()

    def reader(self, schema: StructType) -> DataSourceReader:
        return SSTableDataSourceReader(dict(self.options), schema)

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return SSTableDataSourceWriter(dict(self.options), schema, overwrite)

    def simpleStreamReader(self, schema: StructType) -> SimpleDataSourceStreamReader:
        return SSTableStreamReader(dict(self.options))


def register_sstable_source(spark) -> None:
    """Idempotently register the sstable format on a SparkSession.

    Works on a *vanilla* session (the driver builds its own): the
    package is shipped to the session's workers first
    (``session.ship_package``), because registration wraps the source
    with the context's Python includes of the moment; the source then
    pickles by reference, so a planner call moves a class name, not
    the source's module graph. The Python-datasource pushdown conf (off
    by default, checked at plan time because this reader implements
    ``pushFilters``) is enabled at runtime.
    """
    if id(spark) in _REGISTERED_SESSIONS:
        return
    ship_package(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SSTableDataSource)
    _REGISTERED_SESSIONS.add(id(spark))


def read_sstable(spark, path: str, columns: Any = None, **options: Any):
    """Read an SSTable snapshot as a DataFrame.

    COLUMN PRUNING IS MANUAL on this source: the PySpark Python
    DataSource API has no pruneColumns hook, so a downstream
    ``.select("a", "b")`` does NOT narrow what the source decodes —
    pass ``columns=["a", "b"]`` (list/tuple or comma string) here
    instead. With it, non-selected cells are dropped before decode and
    the emitted Arrow batches carry only the named fields (+ the key);
    on a wide-media table that is the difference between decoding 2
    columns and decoding all of them at 100 TB. Verified by
    tests/test_plans.py::test_sstable_column_pruning.
    """
    register_sstable_source(spark)
    reader = spark.read.format("sstable").option("path", path)
    if columns is not None:
        if not isinstance(columns, str):
            columns = ",".join(columns)
        reader = reader.option("columns", columns)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def write_sstable(df, path: str, key: str, mode: str = "overwrite", **options: Any):
    """Write a DataFrame as an SSTable snapshot (one generation/task).

    For key-disjoint generations at scale, range-partition first:
    ``df.repartitionByRange(n, key)`` — each task then owns a
    contiguous key range, so merged reads never reconcile across
    generations and key pruning skips whole files.
    """
    register_sstable_source(df.sparkSession)
    writer = df.write.format("sstable").mode(mode).option("key", key)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save(path)


__all__ = [
    "SSTableDataSource",
    "SSTableDataSourceReader",
    "SSTableDataSourceWriter",
    "register_sstable_source",
    "read_sstable",
    "write_sstable",
    "reconcile",
]
