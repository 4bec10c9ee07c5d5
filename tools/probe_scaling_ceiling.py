#!/usr/bin/env python
"""Constant-work scaling probes — the HOST's parallel-speedup ceiling.

The north rule asks for N -> 4N throughput scaling efficiency >= 0.8.
On a single shared box, the achievable ceiling is NOT 1.0: active-core
turbo droop, one memory bus and (for Spark) one JVM's service threads
all eat into it. These probes measure that ceiling with zero engine
code, so the engine's measured efficiency can be judged against what
the platform permits:

1. bare multiprocessing: K identical pure-Python tasks, no IO, no
   framework — the OS/CPU ceiling;
2. Spark mapInPandas with a constant-work kernel — the Spark
   python-worker path ceiling (adds scheduler, Arrow, JVM service
   threads).

Usage: python tools/probe_scaling_ceiling.py [N] (default 4 -> 4N=16)
Prints one JSON line per probe.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LOOP = 3_000_000
TASKS = 128


def _work(_):
    s = 0
    for _ in range(LOOP):
        s += 1
    return s


def probe_mp(n: int) -> float:
    with mp.Pool(n) as p:
        p.map(_work, range(n))  # warm
        t0 = time.time()
        p.map(_work, range(TASKS))
        return time.time() - t0


SPARK_CODE = """
import time, json
from pyspark.sql import SparkSession
import pandas as pd
from tscan_spark.session import BUILDER_CONF
spark = (SparkSession.builder.master('local[{c}]')
         .config(map=BUILDER_CONF)
         .config('spark.sql.shuffle.partitions','{c}')
         .config('spark.ui.enabled','false').getOrCreate())
spark.sparkContext.setLogLevel('ERROR')
df = spark.range({tasks}).repartition({tasks})
def kernel(batches):
    for pdf in batches:
        s = 0
        for _ in range({loop}):
            s += 1
        yield pd.DataFrame({{'x': [s]}})
out = df.mapInPandas(kernel, schema='x long')
out.count()
t0 = time.time(); out.count()
print(json.dumps({{'sec': time.time() - t0}}))
"""


def probe_spark(n: int) -> float:
    r = subprocess.run(
        [sys.executable, "-c", SPARK_CODE.format(c=n, tasks=TASKS, loop=LOOP)],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    line = [l for l in r.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)["sec"]


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    for name, probe in (("multiprocessing", probe_mp), ("spark_mapInPandas", probe_spark)):
        small, big = probe(n), probe(4 * n)
        print(
            json.dumps(
                {
                    "probe": name,
                    "n": n,
                    "sec_n": round(small, 2),
                    "sec_4n": round(big, 2),
                    "ceiling_eff": round(small / big / 4.0, 3),
                }
            )
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
