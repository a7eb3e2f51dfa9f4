"""Pins for the round-13 fixes: per-process scratch run dirs, the
session's call-site capture setting and the LSH band schedule.

The λ/spool tests of this round now live in tests/test_lambda.py.
"""

from __future__ import annotations

import os

from pyarrowspace_spark.operators import knn as K


def test_scratch_run_dir_reaps_dead_only(tmp_path):
    """Per-process scratch subdirs: a dead pid's run dir is reaped, a
    live one's (ours) and foreign names are left alone — the r13 fix
    for cross-process scratch cleanup killing live shuffle files."""
    from pyarrowspace_spark.session import scratch_run_dir

    root = str(tmp_path)
    dead = tmp_path / "run-999999999"  # pid far above pid_max
    dead.mkdir()
    foreign = tmp_path / "blockmgr-someone-elses"
    foreign.mkdir()
    mine = scratch_run_dir(root)
    assert os.path.isdir(mine)
    assert mine == os.path.join(root, f"run-{os.getpid()}")
    assert not dead.exists()
    assert foreign.exists()
    # idempotent for the same process
    assert scratch_run_dir(root) == mine


def test_get_spark_turns_off_call_site_capture(spark):
    """Pin: `get_spark` sessions run without PySpark's DataFrame
    call-site capture, which walks the stack and pays py4j round trips
    on every Column call and imports IPython on the first."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_auto_lsh_bands_default_schedule():
    """Pin: the band count per bit width at the constant 3.0 miss
    budget, the schedule the measured anchors ran (31 bands at 12 bits,
    the 800k anchor), and the arithmetic behind the per-build margin
    knob: 37 bands, what `build(lsh_bands=37)` passes, is the schedule
    at a 3.5 budget for 12 bits."""
    import math

    assert K.LSH_MISS_BUDGET == 3.0
    assert {b: K.auto_lsh_bands(b) for b in range(6, 21)} == {
        6: 16, 7: 16, 8: 16, 9: 17, 10: 21, 11: 26, 12: 31, 13: 39,
        14: 47, 15: 58, 16: 71, 17: 87, 18: 106, 19: 129, 20: 158}
    p = K.LSH_DESIGN_COLLISION ** 12
    assert math.ceil(3.5 / -math.log(1.0 - p)) == 37
