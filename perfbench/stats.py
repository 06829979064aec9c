"""Summary statistics shared by the workloads (pure Python)."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> dict:
    """The highest percentile with at least ``TAIL_BEYOND`` samples beyond
    it, by nearest rank: with ``n`` sorted samples that is the sample at
    rank ``n - TAIL_BEYOND`` (1-based), percentile ``100 (n - 10) / n``.
    With ``n <= TAIL_BEYOND`` no percentile qualifies; the maximum is
    reported with ``supported = False`` so the gap shows in the artifact."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of an empty sample")
    if n <= TAIL_BEYOND:
        return {"value": float(s[-1]), "percentile": 100.0, "n": n,
                "beyond": 0, "supported": False}
    rank = n - TAIL_BEYOND
    return {"value": float(s[rank - 1]), "percentile": 100.0 * rank / n, "n": n,
            "beyond": TAIL_BEYOND, "supported": True}


class OpLedger:
    """Counts operations attempted and failed; a wrong output is a
    failure even when the call itself returned."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if what:
                self.errors.append(what)

    def fail_last(self, n: int, what: str) -> None:
        """Re-mark the last ``n`` successful-looking operations as failed
        (a gate that only runs after them found a wrong output)."""
        n = min(n, self.attempted - self.failed)
        self.failed += n
        self.errors.append(what)

    @property
    def ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
