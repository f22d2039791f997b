"""Local replica of the driver's correctness pass.

Usage: python tools/verify_local.py [name ...]
       python tools/verify_local.py --unverified   # every query with no STANDING
                                                   # green verdict for its current
                                                   # plan shape (never-verified,
                                                   # broken-latest, post-swap)
       python tools/verify_local.py --all

Runs each registered query at sf0.01 and compares it against its
DuckDB oracle with tests.oracle_harness.compare (harsher than the
driver's value hash). Prints one line per query plus a summary.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from etl_upc_syllabus_spark.plans.registry import _verified_names, all_specs  # noqa: E402
from etl_upc_syllabus_spark.session import get_spark  # noqa: E402
from tests.oracle_harness import compare, duckdb_run  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> int:
    specs = all_specs()
    args = sys.argv[1:]
    if args == ["--unverified"]:
        verified = _verified_names()
        names = [n for n in specs if n not in verified]
    elif args == ["--all"]:
        names = list(specs)
    else:
        names = args
    spark = get_spark("verify_local")
    failures: list[str] = []
    for name in names:
        spec = specs[name]
        t0 = time.perf_counter()
        try:
            sdf = spec.fn(spark, SF_DIR)
            if spec.oracle is None:
                n = sdf.count()
                status = f"rows-only ({n} rows)"
            else:
                compare(sdf, duckdb_run(spec.oracle, SF_DIR), name)
                status = "ok"
        except Exception as e:  # noqa: BLE001
            status = f"FAIL {type(e).__name__}"
            failures.append(name)
            traceback.print_exc(limit=4)
        print(f"{name:35s} {status:24s} {time.perf_counter() - t0:6.2f}s", flush=True)
    print(f"\n{len(names) - len(failures)}/{len(names)} passed; failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
