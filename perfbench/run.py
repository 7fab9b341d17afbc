"""Linkage benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload dedupe-web --seed 1 --seconds 10 --trace 0

Run it from the repository root.  It builds its inputs from ``--seed``,
drives the public entry points (``DedupePipeline.run``, its resume
path, ``streaming.cluster_maint.incremental_cluster_stream``), checks
their outputs, and prints as the last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run also decomposes the work into per-layer spans and
reads Spark's event log, and the metrics are the per-layer ones.  See
perfbench/README.md for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("dedupe-web", "incremental")

# Pinned measurement environment (also listed in perfbench/README.md):
# one task slot per visible core, a fixed shuffle-partition count, the
# AQE settings jobs/dedupe_webpages.py uses, and a heap that fits a
# small host (get_spark's own default is 48g).
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "1g"


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(work: Path) -> dict:
    """Environment for the Spark JVM and its Python workers.  Must run
    before the first session starts: the JVM and workers inherit it."""
    for sub in ("local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # UDF workers start outside the repo root's sys.path; without this
    # they fail to import mismo_spark
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # SPARK_LOCAL_DIRS overrides spark.local.dir, so set the variable
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    # the JVMs would otherwise write perf data under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    cores = len(os.sched_getaffinity(0))
    return {
        "master": f"local[{cores}]",
        "cores": cores,
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "driver_memory": DRIVER_MEMORY,
        "conf": {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(work)
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    bench = None
    try:
        import workloads  # needs the pinned environment and mismo_spark

        bench = workloads.Bench(args, env, work)
        result = bench.run()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
