"""Interactive optimization probe: time individual registry queries the
way bench.py does (clear caches, build, noop sink), without paying a
fresh JVM per experiment.

Usage (from a REPL or driven by exec):
    from tools.opt_probe import Probe
    p = Probe()                  # bench's scale and core count
    p.time("release_gate")       # best-of-1 wall seconds
    p.time("release_gate", n=3)  # min of 3
    p.plan("release_gate")       # formatted explain to stdout
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.soak10x import SF_DIR  # noqa: E402


class Probe:
    def __init__(self, sf_dir: str = SF_DIR, extra_conf: dict | None = None):
        os.environ.setdefault("DATABUS_CACHE_CHANGELOGS", "1")
        from databus_spark.session import build_session

        self.spark = build_session("opt_probe", extra_conf=extra_conf)
        self.sf_dir = sf_dir
        import __spark_entry__ as entry_mod

        self.queries = entry_mod.queries()

    def clear(self) -> None:
        self.spark.catalog.clearCache()
        try:
            jmap = self.spark.sparkContext._jsc.getPersistentRDDs()
            for rdd in list(jmap.values()):
                rdd.unpersist(True)
            self.spark._jvm.System.gc()
        except Exception:
            pass

    def time(self, name: str, n: int = 1, df_fn=None) -> float:
        fn = df_fn or (lambda: self.queries[name](self.spark, self.sf_dir))
        best = float("inf")
        self.spark.sparkContext.setJobDescription(f"opt_probe:{name}")
        for _ in range(n):
            self.clear()
            t0 = time.time()
            fn().write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = min(best, dt)
            print(f"  {name}: {dt:.3f}s", flush=True)
        self.spark.sparkContext.setJobDescription(None)
        return best

    def plan(self, name: str, path: str | None = None) -> str:
        df = self.queries[name](self.spark, self.sf_dir)
        plan = df._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        if path:
            with open(path, "w") as f:
                f.write(plan)
        return plan
