#!/usr/bin/env python
"""DuckDB parity check of registry entries at one or more SFs.

Usage: ``python tools_paritycheck.py [NAME ...] [--sf=sf0.001,sf0.01]``

With names, checks those entries (an entry without an oracle reports
its row count only) — the fast inner loop while authoring an operator.
Without names, checks every oracle-backed entry in sorted order: the
deep pass that catches scale-dependent divergence (rounding
half-boundaries, overflow, join-order-sensitive floats) the driver's
sf0.01 gate can't see; the sf0.1 run found t61's ROUND half-boundary
bug (3 of 5000 docs). Expect the heavy dedup/component oracles (d47,
d49, d51, q94) to dominate wall time at sf0.1 — DuckDB-side recursive
CTE / quadratic-oracle cost, not engine cost.

Prints one line per check and a summary; exit code 1 on any mismatch.
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pinot_pulsar_plugin_spark import registry
from pinot_pulsar_plugin_spark.session import get_spark
from tests.oracle_harness import compare, duck_connection

DRIVER_MEMORY = "8g"
DEFAULT_SFS = ("sf0.001", "sf0.01")


def check(names, sfs=DEFAULT_SFS) -> dict[tuple[str, str], str]:
    """Compare each of ``names`` (every oracle entry when empty) with its
    DuckDB oracle at each scale factor of ``sfs``. Prints a line per
    check and returns ``{(sf, name): "OK" | "rows-only" | "MISMATCH …"}``."""
    spark = get_spark("paritycheck", driver_memory=DRIVER_MEMORY)
    qs, osql = registry.all_queries(), registry.all_oracle_sql()
    names = list(names) or sorted(osql)
    out = {}
    for sf in sfs:
        sf_dir = f"/root/testdata/{sf}"
        con = duck_connection(sf_dir)
        t0 = time.time()
        for name in names:
            t1 = time.time()
            if name not in osql:
                n = qs[name](spark, sf_dir).count()
                out[sf, name] = "rows-only"
                print(f"{sf} {name}: rows-only, {n} rows ({time.time()-t1:.1f}s)")
                continue
            try:
                problems = compare(
                    name,
                    qs[name](spark, sf_dir),
                    con.sql(osql[name]).arrow().to_pandas(date_as_object=True),
                )
            except Exception as exc:
                problems = [f"EXC {type(exc).__name__}: {str(exc)[:300]}"]
            out[sf, name] = f"MISMATCH {problems[:2]}" if problems else "OK"
            dt = time.time() - t1
            print(f"{sf} {name}: {out[sf, name]} ({dt:.1f}s)", flush=True)
            if dt > 30:
                print(f"slow (oracle-side at this SF): {name} {dt:.0f}s", flush=True)
        con.close()
        bad = sum(out[sf, n].startswith("MISMATCH") for n in names)
        print(
            f"checked {len(names)} entries at {sf} in {time.time() - t0:.0f}s; "
            f"mismatches: {bad}",
            flush=True,
        )
    return out


def main() -> int:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    sfs = DEFAULT_SFS
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sfs = a[5:].split(",")
    results = check(names, sfs)
    return 1 if any(r.startswith("MISMATCH") for r in results.values()) else 0


if __name__ == "__main__":
    sys.exit(main())
