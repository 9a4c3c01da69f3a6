"""Two-parallelism scaling run — the sandbox protocol for the north_rule's
N-vs-4N-executor criterion (BASELINE.md): run the IDENTICAL flagship job on
the IDENTICAL input at local[N] and local[4N], report image-rows/sec at both
and the scaling efficiency (T_N / T_4N) / 4.

The measured job is the full north_star dataflow: read the image-state
table (binary payloads pruned at the parquet reader by column pruning),
compute windowed state features, as-of join every feature request to its
latest state (zero leakage), assemble dense vectors, and run the scoring
aggregation (per-class per-feature moments + F-statistic).

Each measurement runs in its OWN subprocess: a fresh JVM per parallelism
level (same heap, cold JIT for both — no cross-contamination from the
shared py4j gateway).

Single-box caveat (recorded in BENCH/BASELINE.md): both "clusters" share
one memory subsystem, so the high-parallelism run is bandwidth-capped in a
way a real 4N-executor cluster (with 4x the sockets) is not. The default
pair is therefore local[2] vs local[8] — low enough that neither run
saturates the socket — with the local[8]/local[32] pair reported alongside.

Usage: python scripts/scaling_run.py [n_entities] [low_cpus] [high_cpus]
Writes BENCH/BASELINE.md and BENCH/scaling.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORK = "/tmp/modlyn_bench"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def generate_input(n_entities: int) -> tuple[str, str]:
    """One-time distributed generation of the shared input tables."""
    from pyspark.sql import functions as F

    from modlyn_spark.session import get_spark
    from modlyn_spark.sources.images import generate_images_df

    img_path = f"{WORK}/images_{n_entities}"
    req_path = f"{WORK}/requests_{n_entities}"
    if os.path.exists(f"{img_path}/_SUCCESS") and os.path.exists(
        f"{req_path}/_SUCCESS"
    ):
        return img_path, req_path

    spark = get_spark("scaling-gen", master="local[32]", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    images = generate_images_df(
        spark, n_entities, hot_every=max(n_entities // 20, 1), hot_factor=30,
        num_partitions=128,
    )
    images.write.mode("overwrite").parquet(img_path)

    # distributed, deterministic request generation: one probe 500ms after
    # every state row + one probe exactly at it; label = hash-derived class
    img = spark.read.parquet(img_path)
    req = img.select(
        "image_id",
        F.explode(
            F.array(
                F.col("ts") + F.expr("INTERVAL 500 MILLISECONDS"), F.col("ts")
            )
        ).alias("feature_ts"),
        F.concat(
            F.lit("class_"), F.pmod(F.xxhash64("image_id"), F.lit(3))
        ).alias("label"),
    )
    req.repartition(128).write.mode("overwrite").parquet(req_path)
    spark.stop()
    return img_path, req_path


_MEASURE_SNIPPET = """
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from modlyn_spark.session import get_spark
from modlyn_spark.plans.pipeline import image_feature_pipeline, score_features

cpus = {cpus}
steady = {steady}
# shuffle partitioning is sized to the DATA (~64MB targets via AQE from a
# high initial count), NOT to the core count — the two parallelism levels
# run the identical plan with identical partitioning, like two cluster
# sizes consuming the same task graph. Core-proportional partitioning
# would give the low-parallelism run multi-GB sort partitions and spill.
spark = get_spark("scaling-%d" % cpus, master="local[%d]" % cpus,
                  shuffle_partitions=256,
                  extra={{"spark.sql.files.maxPartitionBytes": "16m",
                         "spark.sql.files.openCostInBytes": "1m"}})
spark.sparkContext.setLogLevel("ERROR")
spark.range(1_000_000).selectExpr("sum(id)").collect()  # JIT warmup

images = spark.read.parquet({img_path!r})
requests = spark.read.parquet({req_path!r})
n_state = images.count()
n_req = requests.count()

if steady:
    # STEADY-STATE protocol: run the IDENTICAL pipeline on a ~4%
    # hash-slice first, so every codegen stage / Arrow path / shuffle
    # codepath is JIT-compiled before timing starts. A production
    # cluster job runs warm; the single-shot cold protocol charges
    # ~8-10 s of one-time JVM compilation against the run, which
    # distorts the RATIO when the high-parallelism wall time is ~85 s
    # (it costs the 4-core run ~10% and the 1-core run ~3%).
    si = images.where(F.pmod(F.xxhash64("image_id"), F.lit(25)) == 0)
    sr = requests.where(F.pmod(F.xxhash64("image_id"), F.lit(25)) == 0)
    score_features(image_feature_pipeline(si, sr)).collect()

t0 = time.perf_counter()
feats = image_feature_pipeline(images, requests)
ranked = score_features(feats)
ranked.collect()
dt = time.perf_counter() - t0
spark.stop()
print("RESULT " + json.dumps({{
    "cpus": cpus, "seconds": round(dt, 3),
    "state_rows": n_state, "request_rows": n_req,
    "rows_per_sec": round((n_state + n_req) / dt, 1)}}))
"""


def run_once(cpus: int, img_path: str, req_path: str, steady: bool = False) -> dict:
    """Measure in a fresh subprocess (own JVM)."""
    code = _MEASURE_SNIPPET.format(
        repo=REPO, cpus=cpus, img_path=img_path, req_path=req_path,
        steady=steady,
    )
    env = dict(os.environ, SPARK_DRIVER_MEMORY="48g")
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, env=env,
        timeout=3600,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"measurement failed:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--steady-state"]
    steady = "--steady-state" in sys.argv[1:]
    n_entities = int(args[0]) if len(args) > 0 else 3_000_000
    low = int(args[1]) if len(args) > 1 else 2
    high = int(args[2]) if len(args) > 2 else 8

    img_path, req_path = generate_input(n_entities)
    r_low = run_once(low, img_path, req_path, steady=steady)
    r_high = run_once(high, img_path, req_path, steady=steady)
    speedup = r_low["seconds"] / r_high["seconds"]
    eff = speedup / (high / low)
    result = {
        "n_entities": n_entities,
        "low": r_low,
        "high": r_high,
        "speedup": round(speedup, 3),
        "scaling_efficiency": round(eff, 3),
        "protocol": (
            f"same job, same input, local[{low}] vs local[{high}], fresh JVM "
            f"each{', steady-state (JIT pre-warmed on a 4% slice)' if steady else ''}"
        ),
    }
    os.makedirs(f"{REPO}/BENCH", exist_ok=True)
    with open(f"{REPO}/BENCH/scaling.json", "w") as fh:
        json.dump(result, fh, indent=2)

    md = f"""# BENCH — measured engine numbers

## Two-parallelism scaling run (north_rule N vs 4N protocol, sandbox form)

The identical flagship job — image-state scan (binary payloads pruned at
the parquet reader), windowed state features (one shuffle), point-in-time
as-of join (one shuffle), dense feature assembly, per-class moment
aggregation + F-statistic — on the identical pre-generated input, at two
local parallelism levels, one fresh JVM per measurement.

| parallelism | wall sec | input rows (state+requests) | rows/sec |
| --- | --- | --- | --- |
| local[{low}] | {r_low['seconds']} | {r_low['state_rows']:,} + {r_low['request_rows']:,} | {r_low['rows_per_sec']:,} |
| local[{high}] | {r_high['seconds']} | {r_high['state_rows']:,} + {r_high['request_rows']:,} | {r_high['rows_per_sec']:,} |

- speedup {low}->{high} cores: **{speedup:.2f}x**
- scaling efficiency (speedup / {high // low}): **{eff:.2f}** (target >= 0.8)

Single-box caveat: both parallelism levels share ONE memory subsystem, so
high core counts are bandwidth-capped in a way a real 4N-executor cluster
(4x sockets, 4x memory channels) is not — the N={low} vs 4N={high} pair keeps
both runs below socket-bandwidth saturation, which is the honest analogue
of two right-sized clusters. Input: {n_entities:,} entities with hot-entity
skew (1/{max(n_entities // 20, 1)} of entities at 30x versions), seed-deterministic.
Reproduce: `python scripts/scaling_run.py {n_entities} {low} {high}`.
"""
    # don't clobber a curated BENCH/BASELINE.md; full run details land in
    # a per-pair file + scaling.json either way
    with open(f"{REPO}/BENCH/scaling_{low}v{high}.md", "w") as fh:
        fh.write(md)
    if not os.path.exists(f"{REPO}/BENCH/BASELINE.md"):
        with open(f"{REPO}/BENCH/BASELINE.md", "w") as fh:
            fh.write(md)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
