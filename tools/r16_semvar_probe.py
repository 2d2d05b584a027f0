#!/usr/bin/env python
"""Round-16 probe: pin the dedup_semantic_embedding variance source
(r15 verdict task #2 — the row's isolated readings spanned ±25% on
calibration-identical hosts, which makes any optimization of it
unverifiable).

What it measures, per repeat of the full judged row (bench protocol:
builder + noop materialize):

- wall seconds;
- JVM GC time delta (all collectors, via the management beans) — a GC-
  pressure signature;
- storage memory: how many RDDs are persisted and their total cached
  size after the run (cache/localCheckpoint ACCUMULATION across repeats
  is the prime suspect: every repeat builds new frames whose caches and
  eager checkpoints stay referenced until Python GC drops them, so
  storage fills monotonically and LRU eviction starts thrashing);
- stage attribution: the three checkpoint-bounded sub-stages timed
  separately on a final repeat (words+vec fill, banding+verify,
  components loop).

Usage: python tools/r16_semvar_probe.py [--runs 6]
                                        [--sf /root/testdata/sf0.1]
                                        [--gc-each] [--unpersist-each]

--gc-each       : force Python+JVM GC between repeats (tests the
                  accumulation hypothesis: if variance collapses, the
                  leak IS the stale cache/checkpoint pool)
--unpersist-each: spark.catalog.clearCache() + unpersist all RDDs
                  between repeats (stronger form of the same test)
"""

from __future__ import annotations

import argparse
import gc
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from fictional_guacamole_spark.plans import REGISTRY  # noqa: E402
from fictional_guacamole_spark.session import get_spark  # noqa: E402


def _gc_ms(spark) -> int:
    beans = (spark.sparkContext._jvm.java.lang.management
             .ManagementFactory.getGarbageCollectorMXBeans())
    return sum(beans.get(i).getCollectionTime()
               for i in range(beans.size()))


def _storage(spark):
    jsc = spark.sparkContext._jsc.sc()
    infos = jsc.getRDDStorageInfo()
    n = len(infos)
    mem = sum(infos[i].memSize() for i in range(n))
    disk = sum(infos[i].diskSize() for i in range(n))
    return n, mem, disk


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=6)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--gc-each", action="store_true")
    ap.add_argument("--unpersist-each", action="store_true")
    args = ap.parse_args()

    spark = get_spark("fg-r16-semvar-probe")
    q = REGISTRY["dedup_semantic_embedding"]

    walls = []
    for i in range(args.runs):
        if args.unpersist_each:
            spark.catalog.clearCache()
            # JavaSparkContext's java.util.Map (py4j iterates it; the
            # Scala map SparkContext.getPersistentRDDs returns it cannot)
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist(True)
        if args.gc_each or args.unpersist_each:
            gc.collect()
            spark.sparkContext._jvm.System.gc()
        g0 = _gc_ms(spark)
        t0 = time.perf_counter()
        (q.builder(spark, args.sf)
         .write.format("noop").mode("overwrite").save())
        wall = time.perf_counter() - t0
        g1 = _gc_ms(spark)
        n, mem, disk = _storage(spark)
        walls.append(wall)
        print(f"run {i}: wall={wall:.3f}s gc+={g1 - g0}ms "
              f"persisted_rdds={n} cached_mem={mem / 1e6:.1f}MB "
              f"cached_disk={disk / 1e6:.1f}MB", flush=True)

    lo, hi = min(walls), max(walls)
    med = sorted(walls)[len(walls) // 2]
    print(f"\nband: min={lo:.3f} med={med:.3f} max={hi:.3f} "
          f"spread={(hi - lo) / med * 100:.1f}%")
    spark.stop()


if __name__ == "__main__":
    main()
