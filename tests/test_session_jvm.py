"""The default JVM options must let the driver and executors start on any
JDK, including ones that no longer know a tuning flag."""

from __future__ import annotations

import shutil
import subprocess

import pytest

from inclusionreferenceskg_spark.session import JAVA_OPTS


@pytest.mark.skipif(shutil.which("java") is None, reason="java not on PATH")
def test_default_java_opts_start_with_unknown_flag():
    r = subprocess.run(
        ["java", *JAVA_OPTS.split(), "-XX:+IrkgNoSuchFlag",
         "-XX:+PrintFlagsFinal", "-version"],
        capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stderr
    # where the JDK still has the GCLocker retry flag, it keeps its value
    for line in r.stdout.splitlines():
        if " GCLockerRetryAllocationCount " in line:
            assert line.split("=")[1].split()[0] == "64", line
