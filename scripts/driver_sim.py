#!/usr/bin/env python
"""Vanilla-session driver simulation over the registry (or a slice).

The driver's correctness gate imports ``__spark_entry__`` from ITS
OWN process — a plain SparkSession (no repo conf), a foreign cwd —
and compares each key against its DuckDB oracle. This script
reproduces that exactly; it has caught classes of failure pytest
cannot (worker-shipped closures resolving ``cassowary_spark`` only
via the repo cwd, conf-dependent timestamp reads — see
.claude/skills/verify/SKILL.md).

Usage (run from ANYWHERE — the script pins no cwd):
    python scripts/driver_sim.py [lo] [hi] [sf_dir]

    lo/hi     slice of the registry in registration order
              (default: the whole registry)
    sf_dir    fixture dir (default /root/testdata/sf0.01 — the
              driver's compare scale)

Prints FAIL lines as they happen plus a one-line summary; exits
non-zero on any divergence. Keys without an oracle run rows-only,
exactly like the driver.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    lo = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    hi = int(sys.argv[2]) if len(sys.argv) > 2 else None
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"
    import __spark_entry__ as e
    from pyspark.sql import SparkSession

    from cassowary_spark.oracle import compare, duck_connection

    # deliberately NOT cassowary_spark.session.get_spark — the whole
    # point is the driver's vanilla builder
    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    q, o = e.queries(), e.oracle_sql()
    keys = list(q)[lo:hi]
    con = duck_connection(sf_dir)
    fails: list[str] = []
    rows_only: list[tuple[str, int]] = []
    t0 = time.time()
    for i, k in enumerate(keys):
        try:
            if k in o:
                compare(q[k](spark, sf_dir), o[k], con, k)
            else:
                rows_only.append((k, q[k](spark, sf_dir).count()))
        except Exception as ex:
            fails.append(k)
            print(f"FAIL {k} {ex!r}"[:400], flush=True)
        if (i + 1) % 25 == 0:
            print(
                f"...{i + 1}/{len(keys)} done {round(time.time() - t0)}s",
                flush=True,
            )
    print(
        f"SLICE {lo}:{lo + len(keys)} n={len(keys)} ROWS_ONLY:",
        rows_only,
        "FAILS:",
        fails,
        flush=True,
    )
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
