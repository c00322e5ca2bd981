"""``build_session`` defaults."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DRIVER = """
from ocr_api_spark.plans.session import build_session

spark = build_session()
conf = spark.sparkContext.getConf()
print(conf.get("spark.master"), conf.get("spark.sql.shuffle.partitions"))
spark.stop()
"""


def test_default_cores_are_the_process_affinity():
    """Without SPARK_GRAFT_CPUS a session runs one task slot per core
    this process may use, not a fixed count that oversubscribes a small
    machine."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    proc = subprocess.run(
        [sys.executable, "-c", _DRIVER], cwd=REPO, env=env, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    cpus = len(os.sched_getaffinity(0))
    assert proc.stdout.split()[-2:] == [f"local[{cpus}]", str(max(cpus, 8))]
