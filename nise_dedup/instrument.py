"""Driver-barrier attribution (VERDICT r4 next #1).

The scaling-efficiency contract (BASELINE.json: eff >= 0.8 at N -> 4N) is
capped by the fixed per-run serial term — wall time spent in sequential
driver actions that does not shrink with executor count. The Amdahl fit in
BENCH/BASELINE.md put it at ~25.7 s/run in round 4; this module makes the
term *attributable* instead of inferred: every known driver barrier in the
pipeline wraps itself in :func:`barrier`, and an instrumented bench run
(``NISE_BARRIERS=1``) emits the ordered (name, start-offset, duration)
log so each sequential wait is a named line item, comparable across
parallelism levels (a barrier whose duration is flat from local[2] to
local[8] is serial; one that shrinks 4x is parallel work misfiled as a
barrier).

Off by default: one ``LOG is None`` check per barrier — zero cost on the
hot path, no timestamps taken (wall-clock calls themselves are cheap, but
the discipline keeps production behavior bit-identical to uninstrumented).
"""

from __future__ import annotations

import time
from contextlib import contextmanager

# None = disabled (default). enable() swaps in a list; every barrier()
# appends {"name", "t0" (offset from enable), "s" (duration)}.
LOG: list | None = None
_T_ENABLE = 0.0


def enable() -> None:
    global LOG, _T_ENABLE
    LOG = []
    _T_ENABLE = time.time()


def disable() -> list:
    """Return the collected log and turn instrumentation off."""
    global LOG
    out = LOG or []
    LOG = None
    return out


def note(name: str, value) -> None:
    """Attach a scalar fact (a count, a chosen branch) to the log — shows
    up as a zero-duration row so run comparisons can see WHY a plan
    diverged (e.g. the deep-residue count behind the deep-stage width)."""
    if LOG is None:
        return
    LOG.append({"name": name, "t0": round(time.time() - _T_ENABLE, 3),
                "s": 0.0, "value": value})


@contextmanager
def barrier(name: str):
    """Wrap ONE sequential driver action (an eager collect/count/first/
    checkpoint). Nesting is fine — inner barriers appear as their own rows
    and the outer row's duration includes them (the log is ordered, so
    double counting is visible, not hidden)."""
    if LOG is None:
        yield
        return
    t0 = time.time()
    try:
        yield
    finally:
        LOG.append({"name": name, "t0": round(t0 - _T_ENABLE, 3),
                    "s": round(time.time() - t0, 4)})
