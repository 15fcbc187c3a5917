"""Spark event-log reader: executor accounting per span label.

Spark 4.1 writes a zstd-compressed rolling log
(``eventlog_v2_<app>/events_<n>_<app>.zstd``); ``pyarrow`` decompresses it,
so reading it needs no extra dependency.  Every job carries the span label
the benchmark set on the submitting thread (local property
``perfbench.span``); jobs without one form the ``unlabelled`` bucket.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

import pyarrow as pa

SPAN_PROP = "perfbench.span"
UNLABELLED = "unlabelled"

_WANTED = (b"SparkListenerJobStart", b"SparkListenerTaskEnd")


def _log_files(log_dir: str) -> list[str]:
    """Event-log files of the single application under ``log_dir``, in
    rolling order (``events_1_…``, ``events_2_…``)."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*.zstd"))

    def order(path: str) -> int:
        return int(re.match(r"events_(\d+)_", os.path.basename(path))[1])

    return sorted(files, key=order)


def _read_lines(path: str) -> list[bytes]:
    with pa.OSFile(path) as raw, pa.CompressedInputStream(raw, "zstd") as s:
        return s.read().splitlines()


def read_events(log_dir: str) -> list[dict]:
    """The job-start and task-end events of the log, in order."""
    out = []
    for path in _log_files(log_dir):
        for line in _read_lines(path):
            if any(w in line[:64] for w in _WANTED):
                out.append(json.loads(line))
    if not out:
        raise RuntimeError(f"no Spark events found under {log_dir}")
    return out


@dataclass
class WindowStats:
    """Executor accounting for the jobs submitted inside one time window."""

    jobs: int = 0
    unlabelled_jobs: int = 0
    tasks: int = 0
    busy_ms: dict = field(default_factory=lambda: defaultdict(float))
    cpu_ms: dict = field(default_factory=lambda: defaultdict(float))
    gc_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    idle_ms: float = 0.0


class EventLog:
    def __init__(self, events: list[dict]):
        self.job_label: dict[int, str] = {}
        self.job_submit: dict[int, int] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        for ev in events:
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                self.job_label[jid] = props.get(SPAN_PROP) or UNLABELLED
                self.job_submit[jid] = ev["Submission Time"]
                for sid in ev["Stage IDs"]:
                    # a stage listed by several jobs runs in the first
                    # one; later jobs skip it
                    self.stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerTaskEnd":
                self.tasks.append(ev)

    @classmethod
    def load(cls, log_dir: str) -> "EventLog":
        return cls(read_events(log_dir))

    def window(self, t0_ms: float, t1_ms: float) -> WindowStats:
        """Accounting for jobs submitted in [t0_ms, t1_ms] (epoch ms).

        Per-label task time is attributed through job → stage → task; the
        window total is summed independently over every task launched in
        the window.  The two must agree, or some task ran for a job the
        attribution does not see."""
        st = WindowStats()
        jobs = {
            j for j, t in self.job_submit.items() if t0_ms <= t <= t1_ms
        }
        st.jobs = len(jobs)
        st.unlabelled_jobs = sum(
            1 for j in jobs if self.job_label[j] == UNLABELLED
        )
        window_busy = 0.0
        intervals = []
        for ev in self.tasks:
            info = ev["Task Info"]
            launch, finish = info["Launch Time"], info["Finish Time"]
            busy = finish - launch
            if t0_ms <= launch <= t1_ms:
                window_busy += busy
                intervals.append((launch, min(finish, t1_ms)))
            job = self.stage_job.get(ev["Stage ID"])
            if job not in jobs:
                continue
            m = ev.get("Task Metrics") or {}
            label = self.job_label[job]
            st.tasks += 1
            st.busy_ms[label] += busy
            st.cpu_ms[label] += (
                m.get("Executor CPU Time", 0)
                + m.get("Executor Deserialize CPU Time", 0)
            ) / 1e6
            st.gc_ms += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            st.spill_bytes += m.get("Disk Bytes Spilled", 0)
        attributed = sum(st.busy_ms.values())
        if abs(attributed - window_busy) > 0.5:
            raise AssertionError(
                f"per-label task ms {attributed:.0f} != window total "
                f"{window_busy:.0f}: tasks ran outside the attributed jobs"
            )
        st.idle_ms = (t1_ms - t0_ms) - _covered(intervals)
        return st


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
