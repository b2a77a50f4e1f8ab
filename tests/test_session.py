"""The driver JVM policy ``build_session`` sets: C1-only JIT, with a
user's ``--driver-java-options`` still applied on top.

Each case launches its own interpreter, because ``getOrCreate`` in this
process would reuse the ``spark`` fixture's JVM instead of starting one
with the builder's options.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]

PROBE = """
from engine.spark.job import build_session
spark = build_session("local[1]", shuffle_partitions=1, driver_memory="512m")
jvm = spark.sparkContext._jvm
bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
print("TieredStopAtLevel=" + bean.getVMOption("TieredStopAtLevel").getValue())
spark.stop()
"""


def _tiered_stop_level(submit_args: str | None) -> str:
    env = dict(os.environ)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    if submit_args is not None:
        env["PYSPARK_SUBMIT_ARGS"] = submit_args
    proc = subprocess.run([sys.executable, "-c", PROBE], cwd=REPO, env=env,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    [line] = [ln for ln in proc.stdout.splitlines()
              if ln.startswith("TieredStopAtLevel=")]
    return line.split("=", 1)[1]


@pytest.mark.parametrize("submit_args, level", [
    # the builder's policy: C1 only on the driver
    (None, "1"),
    # --driver-java-options neither drops the policy's conf nor is dropped
    # by it: the user's later flag wins
    ("--driver-java-options -XX:TieredStopAtLevel=4 pyspark-shell", "4"),
])
def test_driver_jit_policy(submit_args, level):
    assert _tiered_stop_level(submit_args) == level
