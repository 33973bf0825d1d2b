"""Lifecycle/observability counters (O20).

Parity with the reference's codahale registry ``MvSyncJobMetrics``
(/root/reference/src/main/java/mvsync/output/MvSyncJobMetrics.java:6-23):
the same 16 counter names, driver-side.  Per-record counters
(ProcessRecord, MissingBaseTable, …) are fed from the ``df.observe``
results of the runner's one full pass over the data, exactly-once per
action (better than accumulators' at-least-once under task retries) —
never from a second aggregation job.
"""

from __future__ import annotations

import logging
from collections import Counter
from typing import Callable, Mapping

_LOG = logging.getLogger("mvrepair.metrics")

# MvSyncJobMetrics.java:8-23 — counter registry names.
COUNTER_NAMES = [
    "JobStarted",
    "JobCompleted",
    "JobError",
    "KeyspaceMetadataError",
    "MVDoesNotExist",
    "ProcessRecord",
    "MissingBaseTable",
    "MissingMV",
    "InconsistentRecord",
    "ConsistentRecord",
    "RecordRepairOn",
    "RecordRepairOff",
    "DeleteRecord",
    "UpsertRecord",
    "RecordNotInScope",
    "ReadRows",
]

# JobStats observe-metric name → lifecycle counter(s) it feeds
# (increment sites: MvSync.java:250 readRows; :315 processRecord;
# :350-378 classification; :384-412 repair).  ``readRows`` is the per-side
# present-row sum observed by ``reconcile.read_rows_exprs`` — one read per
# scanned row per side, matching the reference's pre-join bump
# (MvSync.java:250) except for duplicate keys dropped pre-join (the
# reference reads those too; we count each key once per side, so ReadRows
# UNDERCOUNTS by exactly the number of dropped duplicate-key rows).  When
# ``readRows`` is absent from the stats mapping (older callers), ReadRows
# falls back to ``totRecords`` — a further ~2× undercount since one key
# then counts once, not once per present side.
_FROM_JOB_STATS = {
    "readRows": "ReadRows",
    "totRecords": "ProcessRecord",
    "skippedRecords": "RecordNotInScope",
    "consistentRecords": "ConsistentRecord",
    "inConsistentRecords": "InconsistentRecord",
    "missingBaseTableRecords": "MissingBaseTable",
    "missingMvRecords": "MissingMV",
    "repairRecords": "RecordRepairOn",
    "notRepairRecords": "RecordRepairOff",
    "delAttemptedRecords": "DeleteRecord",
    "upsertAttemptedRecords": "UpsertRecord",
}


class JobMetrics:
    """A plain counter registry; one instance per job run (the reference
    uses process-global statics — an instance is the testable shape)."""

    def __init__(self) -> None:
        self._counters: Counter[str] = Counter({n: 0 for n in COUNTER_NAMES})

    def inc(self, name: str, n: int = 1) -> None:
        if name not in self._counters:
            raise KeyError(f"unknown counter {name!r}")
        self._counters[name] += n

    def count(self, name: str) -> int:
        return self._counters[name]

    def absorb_job_stats(self, stats: Mapping[str, int]) -> None:
        """Feed the JobStats counters (from ``df.observe``) into the
        lifecycle registry.  ``readRows`` (per-side present sums, see
        ``reconcile.read_rows_exprs``) feeds ReadRows when present;
        otherwise ReadRows falls back to totRecords (documented ~2×
        undercount — see _FROM_JOB_STATS)."""
        for src, dsts in _FROM_JOB_STATS.items():
            if src in stats:
                targets = dsts if isinstance(dsts, tuple) else (dsts,)
                for dst in targets:
                    self._counters[dst] += int(stats[src])
        if "readRows" not in stats and "totRecords" in stats:
            self._counters["ReadRows"] += int(stats["totRecords"])

    def as_dict(self) -> dict[str, int]:
        return dict(self._counters)

    def render(self) -> str:
        """One deterministic log line, the scraper surface standing in for
        the reference's codahale registry (MvSyncJobMetrics.java:6-23):
        every counter in registry order as ``Name=value`` pairs."""
        return "mvsync.metrics " + " ".join(
            f"{n}={self._counters[n]}" for n in COUNTER_NAMES
        )

    def publish(self, sink: Callable[[str], None] | None = None) -> str:
        """Render and push the registry to a sink (default: the module
        logger at INFO — the log-scraper equivalent of a metrics reporter
        attached to the codahale registry).  Returns the rendered line."""
        line = self.render()
        (sink or _LOG.info)(line)
        return line


# Module-level default registry, mirroring the reference's static usage.
GLOBAL_METRICS = JobMetrics()
