#!/usr/bin/env python
"""Full-registry oracle-parity sweep at an arbitrary scale factor.

The driver's correctness gate compares at sf0.01; this sweep runs the
SAME compare (row count + schema + order-insensitive value hash via
cassowary_spark.oracle.compare) at any fixture scale — its purpose is
hunting MAGNITUDE-DEPENDENT divergence the sf0.01 gate can't see:
DECIMAL overflows on bigger sums, float summation-order ulps flipping
an srnd boundary (q_kl_divergence, caught by this sweep at sf0.1 in
round 7), hash-distribution edge cases that need more rows to occur.

Usage (the whole registry takes ~10 min at sf0.1 on local[16]):
    python scripts/parity_sweep.py [sf_dir [q_a,q_b,...]]

sf_dir defaults to /root/testdata/sf0.1. The optional comma-separated
key list limits the sweep to those keys (a named key that is not
registered or has no oracle prints a SKIP line). Prints FAIL lines as
they happen and a final TOTAL/FAILS summary; exits non-zero if any key
diverges.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    import __spark_entry__ as e
    from cassowary_spark.oracle import compare, duck_connection
    from cassowary_spark.session import get_spark

    spark = get_spark("parity_sweep", cpus=16)
    spark.sparkContext.setLogLevel("ERROR")
    q, o = e.queries(), e.oracle_sql()
    # duck_connection registers every table in tables.TABLES — the one
    # source of truth, so a future fixture table can't silently be
    # missing from the sweep's views
    con = duck_connection(sf_dir)
    keys = [k for k in q if k in o]
    if len(sys.argv) > 2:
        named = sys.argv[2].split(",")
        for k in named:
            if k not in q:
                print(f"SKIP {k}: not registered")
            elif k not in o:
                print(f"SKIP {k}: rows-only (no oracle)")
        keys = [k for k in named if k in q and k in o]
    fails: list[str] = []
    t0 = time.time()
    for i, k in enumerate(keys):
        try:
            compare(q[k](spark, sf_dir), o[k], con, k)
        except Exception as ex:
            fails.append(k)
            print(f"FAIL {k} {ex!r}"[:500], flush=True)
        if (i + 1) % 25 == 0:
            print(
                f"...{i + 1}/{len(keys)} done {round(time.time() - t0)}s",
                flush=True,
            )
    print("TOTAL", len(keys), "FAILS:", fails, flush=True)
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
