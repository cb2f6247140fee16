"""Paths and scales shared by the benchmark's modules."""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)  # the checkout: the package lives here
WORK = os.path.join(ROOT, ".perfbench_work")  # everything a run writes

# ``default`` is the benchmark proper; ``tiny`` is the self-check's scale.
SCALES = {
    "default": {"sf": "sf0.01", "lake_sf": "sf0.1", "lake_files": 2000},
    "tiny": {"sf": "sf0.001", "lake_sf": "sf0.001", "lake_files": 120},
}


def testdata_dir(sf: str) -> str:
    """The engine's read-only test tables at scale ``sf``, located through
    the driver contract's own smoke-test path (see TESTDATA.md)."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import __spark_entry__

    return os.path.join(os.path.dirname(__spark_entry__.SMOKE_SF_DIR), sf)


def warm_passes(one_pass, opts, first: int) -> list[dict]:
    """Passes ``first, first + 1, ...`` until ``opts.seconds`` have passed.
    A traced run alternates traced and untraced passes, starting traced,
    and runs at least one of each."""
    passes, n, t = [], first, time.perf_counter()
    while True:
        passes.append(one_pass(n, bool(opts.trace) and (n - first) % 2 == 0))
        n += 1
        enough = not opts.trace or len(passes) >= 2
        if time.perf_counter() - t >= opts.seconds and enough:
            return passes
