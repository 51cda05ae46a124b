"""Per-query profile: builder (driver-eager) time vs noop-sink time,
and the number of Spark jobs each phase launches.

Usage: python tools/profile_query.py <query> [query ...]

A query whose BUILDER launches many jobs is doing eager driver work
(collects / localCheckpoints) while it constructs the DataFrame; a
high job count there usually means a shared lineage is being
recomputed per collect (guide section 5: the driver should do almost
no data work).
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from outboxx_spark.session import get_spark

    spark = get_spark("profile_query")
    sc = spark.sparkContext
    import __spark_entry__ as E

    qs = E.queries()

    # warm the session the same way bench.py does
    spark.range(1000).selectExpr("sum(id)").collect()
    from outboxx_spark.schemas import TPCH_TABLES
    from outboxx_spark.sources.tables import read_table

    for t in TPCH_TABLES:
        try:
            read_table(spark, sf_dir, t).count()
        except Exception:
            pass

    tracker = sc.statusTracker()

    def njobs() -> int:
        return len(tracker.getJobIdsForGroup(None) or [])

    print(f"{'query':<28} {'build_s':>8} {'bjobs':>5} {'sink_s':>8} {'sjobs':>5}")
    for name in names:
        fn = qs[name]
        sc.setJobDescription(f"profile:{name}:build")
        j0, t0 = njobs(), time.perf_counter()
        df = fn(spark, sf_dir)
        t1, j1 = time.perf_counter(), njobs()
        sc.setJobDescription(f"profile:{name}:sink")
        df.write.format("noop").mode("overwrite").save()
        t2, j2 = time.perf_counter(), njobs()
        sc.setJobDescription(None)
        print(
            f"{name:<28} {t1 - t0:8.3f} {j1 - j0:5d} {t2 - t1:8.3f} {j2 - j1:5d}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
