"""Per-stage 8->32-core scaling profile of the headline PIP+tile job —
separates where the 8->32 efficiency goes: parquet scan (JVM I/O),
WKT parsing (geom span select + the Arrow parser, via extract_geom),
the fused Arrow PIP UDF, and the tile-assignment column math. Fresh JVM per (level, stage); 1 warm-up,
best of 2. Usage: python tools/profile_scaling.py [n_docs]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUNNER = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from gdal_spark import synth, tiling
from gdal_spark.index import zone_index
from gdal_spark.joins import extract_geom, pip_join
from gdal_spark.session import get_spark

cpus = int(sys.argv[1]); stage = sys.argv[2]; which = sys.argv[3]
batch = sys.argv[4] if len(sys.argv) > 4 else None
extra = {{"spark.sql.execution.arrow.maxRecordsPerBatch": batch}} if batch else None
spark = get_spark(f"prof_{{cpus}}_{{which}}", cpus=cpus, extra_conf=extra)
docs = spark.read.parquet(stage)
zidx = zone_index(spark, synth.zones_np(10000))

def scan():
    return docs.select(F.count("*"), F.sum(F.size("spans"))).collect()

def parse():
    d = extract_geom(docs)
    return d.select(F.count("*"), F.sum("lon"), F.sum("lat")).collect()

def pip():
    j = pip_join(docs, zidx, "first")
    return j.select(F.count("*"), F.sum(F.coalesce("zone_id", F.lit(0)))).collect()

def full():
    j = tiling.assign_tiles(pip_join(docs, zidx, "first"), 12)
    return j.select(F.count("*"), F.sum(F.coalesce("zone_id", F.lit(0))),
                    F.sum("tile_x"), F.sum(F.length("quadkey"))).collect()

fn = {{"scan": scan, "parse": parse, "pip": pip, "full": full}}[which]
fn(); fn()  # warm-ups
best = None
for _ in range(2):
    t0 = time.time(); fn(); dt = time.time() - t0
    best = dt if best is None or dt < best else best
print(json.dumps({{"cpus": cpus, "which": which, "seconds": best}}))
spark.stop()
"""


def run(cpus, stage_dir, which, batch=None):
    code = RUNNER.format(repo=REPO)
    args = [sys.executable, "-c", code, str(cpus), stage_dir, which]
    if batch:
        args.append(batch)
    out = subprocess.run(args, capture_output=True, text=True, timeout=1800,
                         env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "16g"})
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(out.stderr[-2000:])
    return json.loads(lines[-1])["seconds"]


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    stage_dir = f"/tmp/gdal_spark_bench/docs_{n_docs}"
    rows = []
    for which in ("scan", "parse", "pip", "full"):
        t8 = run(8, stage_dir, which)
        t32 = run(32, stage_dir, which)
        rows.append((which, t8, t32, t8 / (4 * t32)))
        print(f"{which:6s}  8c={t8:6.2f}s  32c={t32:6.2f}s  E(8->32)={t8/(4*t32):.3f}",
              flush=True)
    for batch in ("100000", "200000"):
        t32b = run(32, stage_dir, "full", batch)
        print(f"full @32c arrow batch {batch}: {t32b:.2f}s", flush=True)
    print(json.dumps({"stages": rows}))


if __name__ == "__main__":
    main()
