"""scripts/capture_plans.py argument handling: a bad command line prints the
usage line and exits 2 before any Spark session starts."""

import os
import subprocess
import sys

import pytest

SCRIPT = os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "capture_plans.py")


@pytest.mark.parametrize("args", [[], ["before"], ["middle", "q1"]])
def test_bad_arguments_print_usage(args):
    r = subprocess.run([sys.executable, SCRIPT, *args], capture_output=True, text=True, timeout=60)
    assert r.returncode == 2
    assert r.stderr.startswith("usage:")
