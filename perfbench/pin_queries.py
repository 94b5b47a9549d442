#!/usr/bin/env python3
"""Re-pin the ``query_headline`` result digests from the current engine.

    python3 perfbench/pin_queries.py

Generates the workload's tables, runs each headline row twice, refuses
to pin a row whose two digests differ, and writes ``pins.json``.  Run it
only on a commit whose query results are known to be right: the pins are
the workload's correctness reference.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run


def main() -> int:
    work = os.path.join(run.ROOT, ".perfbench_work", f"pin-{os.getpid()}")
    run._pin_environment(work)
    sys.path.insert(0, run.ROOT)
    import harness
    import querydata
    import wl_query
    from crypto_data_ingestion_module_spark.plans.queries import QUERY_SPECS

    spark, _ = harness.start_session(work, traced=False)
    try:
        data = os.path.join(work, "qdata")
        querydata.generate(data)
        pins = {}
        for name in wl_query.ROWS:
            a, b = (wl_query.result_digest(QUERY_SPECS[name].spark(spark, data))
                    for _ in range(2))
            if a != b:
                print(f"{name}: digest is not repeatable ({a} vs {b})", file=sys.stderr)
                return 1
            pins[name] = list(a)
            print(name, a)
    finally:
        harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    with open(wl_query.PINS, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
