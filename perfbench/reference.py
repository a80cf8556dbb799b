"""A fixed reference kernel that measures how fast the host runs now.

On a virtual machine shared with other tenants the same work can take
70% more CPU time in one stretch of minutes than in the next, because the
neighbours' load slows the cores and the memory the guest shares with
them. The CPU time a pass needs moves with it, whatever the program does.
The benchmark therefore times this kernel, which never changes and runs
none of the package's code, beside its passes, and reports the passes'
CPU time rescaled to a host on which the kernel takes ``NOMINAL_S``.

The kernel sorts and sums a fixed array of a few tens of megabytes, so
it leans on the caches and the memory bus as the engine's scans,
shuffles and numpy kernels do, and not on the arithmetic units alone.
"""

from __future__ import annotations

import functools
import time

import numpy as np

NOMINAL_S = 0.1    # the kernel's CPU time on the host the metric is scaled to
SETTLE_S = 0.1     # idle time before each sample, so the pass before it has wound down
ROUNDS = 5


@functools.cache
def _data() -> np.ndarray:
    # made on first use, so that importing this module adds nothing to
    # the process age that setup_s measures
    return np.random.default_rng(20201).random(4_000_000)


def kernel() -> float:
    """One run of the kernel; returns a checksum of its work."""
    data = _data()
    total = 0.0
    for _ in range(ROUNDS):
        total += float(np.sort(data[::3])[-1])
        total += float((data * 1.0001).sum())
    return total


def sample() -> float:
    """CPU time, in seconds, of one run of the kernel on this thread,
    after SETTLE_S of idling."""
    _data()  # made outside the timing
    time.sleep(SETTLE_S)
    t0 = time.thread_time()
    kernel()
    return time.thread_time() - t0


def rescale(cpu_s: float, reference_s: float) -> float:
    """``cpu_s``, measured while the kernel took ``reference_s``, as it
    would read on a host on which the kernel takes NOMINAL_S."""
    if reference_s <= 0:
        raise ValueError("reference time must be positive")
    return cpu_s * NOMINAL_S / reference_s
