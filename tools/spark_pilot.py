"""Short real-Spark pilot leg — the only reliable host-cleanliness probe.

The sandbox VM's JVM-specific multi-core throttle is invisible to ALU
probes (single- AND 16-process pure-Python reads clean while Spark legs
crawl 2-3x — measured round 4); the one observable that co-varies with it
is a short Spark run of the SAME workload class.  This script runs the
validation pipeline twice over a cached 600k-conv synthetic input at
local[16] and prints one JSON line::

    {"n_turns": N, "walls": [w1, w2], "tps": best_warm_throughput}

Calibration (r4, clean window): ~1.0M tps; PILOT_MIN_TPS=850000 is the
accept bar used by bench.py.

Run standalone (fresh JVM per probe — never inside a session being
measured):  python tools/spark_pilot.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PILOT_MIN_TPS_DEFAULT = 850_000.0


def min_tps() -> float:
    """The clean-window accept bar (env-overridable) — the ONE place the
    850k calibration lives; every gate imports this instead of hand-syncing
    a literal."""
    return float(os.environ.get("PILOT_MIN_TPS", PILOT_MIN_TPS_DEFAULT))


def run_subprocess_pilot(timeout: float = 600) -> dict:
    """Run the pilot in a fresh interpreter (own JVM — never probe from a
    session being measured) and parse its one JSON line.  Raises on timeout
    or unparsable output; callers decide how to treat a failed probe."""
    import subprocess

    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        capture_output=True, text=True, timeout=timeout)
    line = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    from anomaly_detector_spark.data import synth_registry, synth_transcripts
    from anomaly_detector_spark.engine.runner import run_validation
    from anomaly_detector_spark.session import get_spark

    spark = get_spark(app_name="pilot", master="local[16]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    path = "/tmp/scaling_transcripts_600000.parquet"
    if not os.path.isdir(path):
        synth_transcripts(spark, n_convs=600000, seed=42).write.mode(
            "overwrite").parquet(path)
    t = spark.read.parquet(path)
    reg = synth_registry(spark, n_convs=600000, seed=42)
    n = t.count()
    walls = []
    for _ in range(2):
        spark.catalog.clearCache()
        t0 = time.time()
        res = run_validation(spark, t, reg, cache_input=False)
        res.verdicts.count()
        res.violations.count()
        walls.append(time.time() - t0)
        res.release()
    print(json.dumps({"n_turns": n, "walls": [round(w, 1) for w in walls],
                      "tps": round(n / min(walls[1:] or walls), 1)}))


if __name__ == "__main__":
    main()
