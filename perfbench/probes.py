"""Host probes recorded beside every run, so that a slow run can be told
apart from a slow host: memory-write bandwidth, BLAS GFLOPS on a fixed
gemm, and buffered disk-write bandwidth into the run's scratch dir."""

from __future__ import annotations

import os
import tempfile
import time

import numpy as np


def host_probes(scratch_dir: str) -> dict:
    out = {}
    buf = np.random.default_rng(0).standard_normal(64 * 2**20 // 8)
    t0 = time.perf_counter()
    buf2 = buf.copy()  # cold: includes first-touch page faults
    out["host_memcpy_gbps"] = 0.0625 / (time.perf_counter() - t0)
    t0 = time.perf_counter()
    buf2[:] = buf
    out["host_memcpy_warm_gbps"] = 0.0625 / (time.perf_counter() - t0)
    del buf, buf2

    a = np.random.default_rng(1).standard_normal((1024, 1024))
    a @ a  # thread-pool spin-up outside the timing
    t0 = time.perf_counter()
    for _ in range(4):
        a @ a
    out["host_gemm_gflops"] = 4 * 2 * 1024**3 / 1e9 / (time.perf_counter() - t0)

    blk = b"\0" * (8 << 20)
    t0 = time.perf_counter()
    with tempfile.NamedTemporaryFile(dir=scratch_dir, buffering=0) as fh:
        for _ in range(8):
            fh.write(blk)
        os.fdatasync(fh.fileno())
    out["host_diskwrite_mbps"] = 64 / (time.perf_counter() - t0)
    return out
