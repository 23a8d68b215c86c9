#!/usr/bin/env python3
"""Full-catalog Spark-vs-DuckDB parity sweep at an arbitrary scale —
the out-of-band heavier twin of tests/test_oracle_parity.py (which
runs at sf0.01, the driver's scale). Used for the per-round sf0.1
final-tree sweep recorded in README, and the quick check of a few
named entries while working on them.

Usage: python tools/parity_sweep.py [sf_dir [name ...]]
Checks every catalog entry, or only the named ones, and prints one line
per entry and a final summary JSON line.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb

from tests.test_oracle_parity import _normalize  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from las_vpe_platform_spark.operators.staging import unpersist_all
    from las_vpe_platform_spark.queries import CATALOG
    from las_vpe_platform_spark.session import get_spark

    spark = get_spark("parity_sweep")
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    ok, fail, skip = [], [], []
    for name in sys.argv[2:] or CATALOG:
        fn, sql = CATALOG[name]
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
            unpersist_all()
            if sql is None:
                skip.append(name)
                print(f"{name}: SKIP (rows-only, {len(srows)} rows)", flush=True)
                continue
            res = con.execute(sql)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            good = (
                sorted(scols) == sorted(dcols)
                and len(srows) == len(drows)
                and _normalize(srows, scols) == _normalize(drows, dcols)
            )
            (ok if good else fail).append(name)
            print(
                f"{name}: {'OK' if good else 'FAIL'} {len(srows)}/{len(drows)} "
                f"({time.time() - t0:.1f}s)",
                flush=True,
            )
        except Exception as e:  # noqa: BLE001 — a sweep must finish
            fail.append(name)
            print(f"{name}: ERROR {type(e).__name__}: {e}", flush=True)
    print(
        json.dumps(
            {"sf_dir": sf_dir, "ok": len(ok), "fail": len(fail),
             "skipped": len(skip), "failures": fail}
        )
    )


if __name__ == "__main__":
    main()
