"""Session factory: the default driver heap follows the host, and the JIT
policy reaches the driver JVM."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from pii_redactor_spark import session


@pytest.mark.parametrize("limit, heap", [
    (16 * 2**30, "8192m"),     # half of a 16 GiB host
    (64 * 2**30, "24576m"),    # capped at 24g
    (None, "24576m"),          # limit unreadable: the 24g cap
])
def test_default_driver_memory_is_half_the_limit_capped_at_24g(
        monkeypatch, limit, heap):
    monkeypatch.setattr(session, "_memory_limit_bytes", lambda: limit)
    assert session.default_driver_memory() == heap


def test_memory_limit_reads_this_host():
    limit = session._memory_limit_bytes()
    assert limit is not None and limit > 0


# Starts a fresh session the way perfbench/unit.py does (its own
# extraJavaOptions replace the factory's) and prints the effective value of
# each named HotSpot flag. The argument list is not enough: Spark adds
# -XX:+IgnoreUnrecognizedVMOptions, so a misspelled flag is dropped silently.
_READ_FLAGS = """
import json, sys
from pii_redactor_spark.session import get_spark
extra_java, names = sys.argv[1], json.loads(sys.argv[2])
spark = get_spark(master="local[1]", extra_confs={
    "spark.driver.extraJavaOptions": extra_java})
jvm = spark._jvm
bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName(
        "com.sun.management.HotSpotDiagnosticMXBean"))
print(json.dumps({n: bean.getVMOption(n).getValue() for n in names}))
spark.stop()
"""


def _effective_flags(extra_java: str, names: list[str]) -> dict[str, str]:
    repo = Path(__file__).resolve().parent.parent
    env = dict(os.environ, SPARK_DRIVER_MEMORY="512m")
    out = subprocess.run(
        [sys.executable, "-c", _READ_FLAGS, extra_java, json.dumps(names)],
        cwd=repo, env=env, capture_output=True, text=True, timeout=300,
        check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


@pytest.mark.parametrize("extra_java, override", [
    # perfbench/unit.py's shape: the caller's own collector and heap
    ("-XX:+UseParallelGC -Xms256m", {}),
    # a later -XX flag wins, so a caller can still change one policy flag
    ("-XX:+UseParallelGC -XX:MaxInlineLevel=12", {"MaxInlineLevel": "12"}),
], ids=["replaced", "overridden"])
def test_jit_policy_reaches_a_jvm_whose_caller_replaces_extra_options(
        extra_java, override):
    policy = dict(f.removeprefix("-XX:").split("=")
                  for f in session.JIT_OPTIONS.split())
    assert len(policy) == 6
    got = _effective_flags(extra_java, [*policy, "UseParallelGC"])
    assert got == {**policy, **override, "UseParallelGC": "true"}
