"""Isolate and time one catalog entry: cold pass, N steady passes.

Usage: python scripts/profile_entry.py entry [entry ...] [--n 3] [--cprofile]

Methodology mirrors bench.py (noop sink, same session settings; the
cold pass runs ``q.fn``, the steady passes ``q.query``, which skips a
declared fixture stage and reads what the cold pass wrote); adds
optional driver-side cProfile of the steady pass so pure-Python codec
entries show their hot loops. Job descriptions are set so any UI or
event-log inspection maps timings to entries.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _execute(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    # positional parse: pop each flag and (for --n) exactly the token
    # after it, so an entry name that happens to equal str(n) is never
    # stripped from the entry list (round-15 review finding)
    argv = sys.argv[1:]
    n = 3
    do_prof = False
    args = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--n":
            if i + 1 >= len(argv):  # ADVICE r15: trailing --n
                sys.exit("usage: profile_entry.py entry [...] [--n N] [--cprofile]")
            n = int(argv[i + 1])
            i += 2
        elif a == "--cprofile":
            do_prof = True
            i += 1
        else:
            args.append(a)
            i += 1

    from simple_data_engineering_project_spark.plans import catalog
    from simple_data_engineering_project_spark.session import get_spark

    spark = get_spark(app_name="sdep-profile", cpus=CPUS)
    # same warmup shape as bench.py so steady numbers are comparable
    spark.range(10_000_000).selectExpr("sum(id)").collect()
    from simple_data_engineering_project_spark.schemas import TABLE_NAMES
    from simple_data_engineering_project_spark.sources import read_table

    for t in TABLE_NAMES:
        read_table(spark, SF_DIR, t).count()

    cat = catalog()
    for name in args:
        q = cat[name]
        spark.catalog.clearCache()
        spark._jvm.System.gc()
        spark.sparkContext.setJobDescription(f"{name}: cold")
        t0 = time.perf_counter()
        _execute(q.fn(spark, SF_DIR))
        cold = time.perf_counter() - t0
        steady = []
        for i in range(n):
            spark.sparkContext.setJobDescription(f"{name}: steady {i}")
            t0 = time.perf_counter()
            _execute(q.query(spark, SF_DIR))
            steady.append(round(time.perf_counter() - t0, 3))
        if do_prof:
            import cProfile
            import pstats

            pr = cProfile.Profile()
            pr.enable()
            _execute(q.query(spark, SF_DIR))
            pr.disable()
            st = pstats.Stats(pr)
            st.sort_stats("cumulative").print_stats(25)
        print(f"{name}: cold={cold:.3f} steady={steady}")


if __name__ == "__main__":
    main()
