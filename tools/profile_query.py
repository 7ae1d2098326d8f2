"""Per-query profiler for the optimization rounds (guide §1).

For each named query: split the wall into CONSTRUCTION (the registry fn —
driver-side collects, localCheckpoints, fixture writes land here) and
EXECUTION (the noop materialization), and count the Spark jobs each phase
launched (statusTracker + job groups).  Median of N repeats, interleaved.

Usage:
    python tools/profile_query.py [q_name ...]          # default: all batch
    PROFILE_PASSES=3 python tools/profile_query.py q_ann_family
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python workers (UDF / pandas stages) import the package too: they are
# separate processes, so they need the checkout on PYTHONPATH, set before
# the session starts them
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from datawarehouse_etl_using_hyperjoin_spark.queries import load_registry
from datawarehouse_etl_using_hyperjoin_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    passes = int(os.environ.get("PROFILE_PASSES", "3"))
    registry = load_registry()
    names = sys.argv[1:] or [n for n in registry]
    unknown = [n for n in names if n not in registry]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = get_spark("hyperjoin-profile", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    tracker = spark.sparkContext.statusTracker()

    def jobs_in(group: str) -> int:
        return len(tracker.getJobIdsForGroup(group))

    def run_once(name: str, tag: str) -> tuple[float, float, int, int]:
        sc = spark.sparkContext
        gc = f"prof_c_{name}_{tag}"
        sc.setJobGroup(gc, f"construct {name}")
        t0 = time.perf_counter()
        df = registry[name].fn(spark, sf_dir)
        t1 = time.perf_counter()
        ge = f"prof_e_{name}_{tag}"
        sc.setJobGroup(ge, f"execute {name}")
        df.write.mode("overwrite").format("noop").save()
        t2 = time.perf_counter()
        sc.setJobGroup(None, None)
        return t1 - t0, t2 - t1, jobs_in(gc), jobs_in(ge)

    # warm pass
    for n in names:
        run_once(n, "warm")
    results: dict[str, list[tuple[float, float, int, int]]] = {n: [] for n in names}
    for p in range(passes):
        for n in names:
            results[n].append(run_once(n, f"p{p}"))

    print(f"{'query':28s} {'constr':>7s} {'exec':>7s} {'total':>7s} "
          f"{'cjobs':>5s} {'ejobs':>5s}")
    rows = []
    for n in names:
        rs = sorted(results[n], key=lambda r: r[0] + r[1])
        med = rs[len(rs) // 2]
        rows.append((n, med))
    for n, (c, e, cj, ej) in sorted(rows, key=lambda r: -(r[1][0] + r[1][1])):
        print(f"{n:28s} {c:7.3f} {e:7.3f} {c + e:7.3f} {cj:5d} {ej:5d}")
    total = sum(c + e for _, (c, e, _, _) in rows)
    print(f"{'TOTAL':28s} {total:23.3f}")
    spark.stop()


if __name__ == "__main__":
    main()
