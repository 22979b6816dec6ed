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


def test_mask_ids_makes_reruns_of_one_plan_identical():
    import importlib.util

    spec = importlib.util.spec_from_file_location("capture_plans", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    first = (
        "Output [2]: [vec_id#174L, embedding#175 AS cv#177]\n"
        "Arguments: HashedRelationBroadcastMode(List(input[2, bigint, true]),false), [plan_id=801]\n"
        "transform(embedding#145, lambdafunction(cast(lambda x_27#148 as double), lambda x_27#148, false))\n"
    )
    rerun = (
        "Output [2]: [vec_id#9L, embedding#10 AS cv#12]\n"
        "Arguments: HashedRelationBroadcastMode(List(input[2, bigint, true]),false), [plan_id=3]\n"
        "transform(embedding#1, lambdafunction(cast(lambda x_0#2 as double), lambda x_0#2, false))\n"
    )
    assert mod.mask_ids(first) == mod.mask_ids(rerun)
    assert mod.mask_ids(first).splitlines()[0] == "Output [2]: [vec_id#NL, embedding#N AS cv#N]"
    # a real plan difference survives the mask: column names, literals and
    # operator numbers are not ids
    assert mod.mask_ids("Project (2) [bucket#5]") != mod.mask_ids("Project (3) [cell#5]")
    assert "input[2, bigint, true]" in mod.mask_ids(first)
