"""Codegen residency check: every registry query, twice, at sf0.001
(the test suite's smoke data) on one resident session (the serving
policy), into the noop sink. The second sweep must compile no
class: every generated class of the registry has to fit in the codegen
cache that ``session.get_spark`` sizes (``CODEGEN_CACHE_ENTRIES``).
Once the registry outgrows it, the cache thrashes and warm plans
recompile on every run; this exits 1 instead.

Prints, per sweep, the classes compiled, their compile ms and the
sweep's wall seconds, plus the cold sweep's new classes per query
(median, p90, max) and the JVM's metaspace growth.

    python tools/codegen_residency.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from procoggraph_spark.queries import registry
from procoggraph_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    apply_adaptive_policy,
    codegen_compiles,
    get_spark,
)
from tests.conftest import SF_SMOKE as SF_DIR


def metaspace_mb(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getName() == "Metaspace":
            return pool.getUsage().getUsed() / 2**20
    return float("nan")


def main() -> int:
    spark = get_spark("codegen_residency")
    apply_adaptive_policy(spark, SF_DIR)
    qs, _ = registry()
    errors: dict[str, str] = {}
    per_query: list[int] = []
    warm_misses: dict[str, int] = {}
    meta0 = metaspace_mb(spark)
    for sweep in range(2):
        c0, ms0 = codegen_compiles(spark)
        t0 = time.perf_counter()
        for name in sorted(qs):
            if name in errors:
                continue
            before = codegen_compiles(spark)[0]
            try:
                df = qs[name](spark, SF_DIR)
                for frame in df if isinstance(df, tuple) else (df,):
                    frame.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 — reported, fails the check
                errors[name] = f"{type(e).__name__}: {str(e)[:200]}"
                continue
            n = codegen_compiles(spark)[0] - before
            if sweep == 0:
                per_query.append(n)
            elif n:
                warm_misses[name] = n
        c1, ms1 = codegen_compiles(spark)
        print(f"sweep {sweep + 1}: {c1 - c0} classes compiled, {ms1 - ms0:.0f} ms "
              f"compiling, {time.perf_counter() - t0:.1f} s wall", flush=True)
    per_query.sort()
    if per_query:
        p90 = per_query[min(len(per_query) - 1, int(0.9 * len(per_query)))]
        print(f"cold sweep, new classes per query over {len(per_query)} queries: "
              f"median {per_query[len(per_query) // 2]}, p90 {p90}, max {per_query[-1]}")
    print(f"metaspace {meta0:.0f} -> {metaspace_mb(spark):.0f} MB; "
          f"codegen cache holds {CODEGEN_CACHE_ENTRIES} classes")
    for name, n in sorted(warm_misses.items()):
        print(f"RECOMPILED {name}: {n} classes")
    for name, msg in errors.items():
        print(f"ERR {name}: {msg}")
    spark.stop()
    recompiled = sum(warm_misses.values())
    if recompiled or errors:
        print(f"FAIL: warm sweep recompiled {recompiled} classes, {len(errors)} query errors")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
