"""One-off low-load A/B timer for a single catalog query.

Usage: python tools/ab_query.py <query_name> [reps] [sf_dir]

Runs the query end-to-end through the noop sink in a fresh session
(warmup rep at sf0.001 first), prints per-rep wall times + min, and
the 1-minute host load so the measurement is interpretable.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"

    from tools.benchlib import timed_noop
    from traits_data_spark import catalog
    from traits_data_spark.session import get_spark

    spark = get_spark("ab-query")
    spark.sparkContext.setLogLevel("ERROR")
    fn = catalog.QUERIES[name]

    # warmup (JIT/codegen) at smallest sf; every rep sweeps storage
    # afterwards, untimed (same discipline as bench.py)
    timed_noop(spark, fn, "/root/testdata/sf0.001")
    times = [round(timed_noop(spark, fn, sf_dir)[1], 3) for _ in range(reps)]
    print(
        {
            "query": name,
            "times": times,
            "min": min(times),
            "load_1m": round(os.getloadavg()[0], 2),
        }
    )
    spark.stop()


if __name__ == "__main__":
    main()
