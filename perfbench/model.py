"""Pure-Python model of the dedup contract (SURVEY §2.1) over the
generator's own content ids, and the check of a run's output against it.

Contract: a content is forwarded on its first occurrence and dropped on
every later occurrence within the TTL; contents seeded by the warm-up (valid
``origin`` digests published inside the cache window) count as already seen;
out-of-window and malformed prior-output rows seed nothing. The benchmark's
runs are far shorter than the TTL, so nothing expires inside a run.
"""

from __future__ import annotations

from collections import Counter

import numpy as np


def expected_forwarded(cids: np.ndarray, seeded: set[int]) -> set[int]:
    """Content ids the model forwards exactly once."""
    return set(np.unique(cids).tolist()) - seeded


def check(
    cids: np.ndarray,
    id_base: int,
    forwarded_ids: list[str],
    seeded: set[int],
    n_input: int,
    n_dropped: int,
) -> tuple[int, dict]:
    """Failed-message count and a summary for one run.

    ``cids[i]`` is the content of message id ``id_base + i``;
    ``forwarded_ids`` are the message ids the sink holds; ``n_input`` is the
    row count the service reports having consumed and ``n_dropped`` its
    dropped count. A forwarded message fails if its content is seeded, was
    already forwarded, or is unknown; a content the model forwards but the
    sink lacks fails once; and any gap in forwarded + dropped = input fails
    by its size.
    """
    seen: Counter[int] = Counter()
    bad = 0
    for mid in forwarded_ids:
        i = int(mid) - id_base
        if not 0 <= i < len(cids):
            bad += 1
            continue
        seen[int(cids[i])] += 1
    want = expected_forwarded(cids, seeded)
    got = set(seen)
    extra_seeded = sum(seen[c] for c in got & seeded)
    repeats = sum(n - 1 for c, n in seen.items() if c not in seeded)
    missing = len(want - got)
    balance = abs(len(forwarded_ids) + n_dropped - len(cids)) + abs(n_input - len(cids))
    failed = bad + extra_seeded + repeats + missing + balance
    return failed, {
        "input": len(cids),
        "forwarded": len(forwarded_ids),
        "dropped": n_dropped,
        "expected_forwarded": len(want),
        "unknown_ids": bad,
        "seeded_forwarded": extra_seeded,
        "repeat_forwards": repeats,
        "missing_forwards": missing,
        "balance_gap": balance,
    }
