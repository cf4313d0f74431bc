"""LSH banding parameter search.

Parity target: /root/reference/src/selection.cpp:258-267 — smallest
divisor b of m with P_r = 1 - (1 - tau^(m/b))^b >= 0.95. Quirk kept
(SURVEY.md §2 O4): n_bands/n_rows are updated on EVERY divisor tried, so
when no divisor reaches 0.95 the loop falls back to b=m, r=1 (the CPU
oracle binary's behavior; the CUDA/experiment variants differ — we
follow the oracle).

The float32 arithmetic of the C++ (``float P_r``, ``pow`` args cast to
float) is reproduced so band counts match on boundary cases.
"""

from __future__ import annotations

import numpy as np


def lsh_params(m: int, tau: float, target: float = 0.95) -> tuple[int, int]:
    """Return (n_bands, n_rows) for signature length m at threshold tau."""
    n_rows, n_bands = 1, 1
    for band in range(1, m + 1):
        if m % band != 0:
            continue
        n_bands = band
        n_rows = m // n_bands
        p_r = np.float32(1.0) - np.float32(
            np.power(
                np.float32(1.0) - np.float32(np.power(np.float32(tau), np.float32(m) / np.float32(band))),
                np.float32(band),
            )
        )
        if p_r >= np.float32(target):
            break
    return n_bands, n_rows

