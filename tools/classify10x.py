"""Re-run every registry oracle against the 10x dataset and classify it.

Writes /tmp/classify10x_results.json (query -> "OK <s>" | "TIMEOUT <s>"
| "MISMATCH ..." | "ERR ...") -- the artifact CLASSIFY10X_r*.json
snapshots and tests/test_invariants_10x.py::test_every_excluded_query_has_a_law
cross-checks against its exclusion list.  A DuckDB interrupt timer
bounds each oracle at TIMEOUT_S; the Spark side is expected to finish
(a Spark-side hang IS a scale bug, not an oracle limitation).

Usage:
    python tools/classify10x.py               # every oracle-backed query
    python tools/classify10x.py name1 name2   # just those queries
    python tools/classify10x.py --resume      # skip names already OK in
                                              # the results file (restart
                                              # a long sweep where it died)
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

RESULTS = "/tmp/classify10x_results.json"
TIMEOUT_S = 75


def main(argv: list[str]) -> None:
    resume = "--resume" in argv
    names = [a for a in argv if not a.startswith("--")]
    # Dual-form queries must serve their exact (oracle-pinned) form in
    # this harness; crossing a dispatch threshold raises loudly instead
    # of silently mismatching (functions/dispatch.py).
    os.environ["SPARK_GRAFT_ORACLE_VERIFY"] = "1"
    from rippled_historical_database_spark.functions.localrel import local_df
    from rippled_historical_database_spark.plans.registry import all_queries
    from rippled_historical_database_spark.session import get_spark
    from tests.oracle import compare, duckdb_connection
    from tools.scale10x import ensure_10x

    spark = get_spark("classify10x")
    spark.sparkContext.setLogLevel("ERROR")
    sf1x = ensure_10x(spark)
    qs = all_queries()
    results: dict[str, str] = {}
    if os.path.exists(RESULTS):
        with open(RESULTS) as f:
            results = json.load(f)
    targets = names or [n for n in qs if qs[n].oracle is not None]
    if resume:
        targets = [n for n in targets if not results.get(n, "").startswith("OK")]
    for n in targets:
        q = qs[n]
        if q.oracle is None:
            results[n] = "NO_ORACLE"
            continue
        con = duckdb_connection(sf1x)
        timer = threading.Timer(TIMEOUT_S, con.interrupt)
        t0 = time.time()
        try:
            # Materialize the Spark side BEFORE the oracle timer starts:
            # the timer exists to bound the DUCKDB oracle (see module
            # docstring), but compare() collects Spark first, so a slow
            # Spark query used to eat the oracle's budget and misfile
            # the row as an oracle TIMEOUT.  The local snapshot makes
            # compare()'s internal collect a no-op re-serialization.
            live = q.spark(spark, sf1x)
            snap = local_df(spark, live.collect(), live.schema)
            spark_s = time.time() - t0
            timer.start()
            t0 = time.time()
            errs = compare(snap, con, q.oracle)
            dt = time.time() - t0
            results[n] = (
                f"OK {dt:.1f}s (spark {spark_s:.1f}s)"
                if not errs
                else f"MISMATCH {errs[0][:100]}"
            )
        except Exception as e:  # noqa: BLE001 - classification, not control flow
            dt = time.time() - t0
            msg = str(e)[:120]
            interrupted = "INTERRUPT" in msg.upper() or "interrupted" in msg
            results[n] = f"TIMEOUT {dt:.0f}s" if interrupted else f"ERR {msg}"
        finally:
            timer.cancel()
            con.close()
        print(n, "->", results[n], flush=True)
        with open(RESULTS, "w") as f:
            json.dump(results, f, indent=1)


if __name__ == "__main__":
    main(sys.argv[1:])
