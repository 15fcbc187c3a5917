"""Crawl-engine benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload extract_pages --seed 1 --seconds 25 --trace 0

Runs from the repository root.  The engine runs at ``local[<cores>]`` in
this process.  Set-up (session start, input landing, one warm-up run) is
timed as ``setup_s``; then the workload runs repeatedly for ``--seconds``
and every run's output is checked against an expectation computed without
the engine.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
alternates untraced and traced runs with the Spark event log on and
reports the per-layer metrics.  Human-readable lines come first; the last
line of standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from contextlib import contextmanager

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path[:0] = [HERE, ROOT]

from no_fasel_scrapers_spark.functions.extract import extract_page  # noqa: E402
from no_fasel_scrapers_spark.session import get_spark  # noqa: E402

from eventlog import UNLABELLED, EventLog  # noqa: E402
from spans import CRAWL_LAYERS, Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SETUP_REPS = 3
CATALOG_TABLES = ("extracted", "seen", "frontier", "lineage", "blobs")
SPAN_LABELS = (
    "extract", "plans.crawl",
    *(f"catalog.write.{t}" for t in CATALOG_TABLES), "catalog.read",
    *CRAWL_LAYERS, UNLABELLED,
)
END_TO_END = (
    "setup_s", "pages_per_s", "wave_s_p50", "wave_s_p90", "peak_rss_mb",
)


class PeakRss:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled only inside ``measure()`` blocks,
    so the harness's own set-up and output checks stay out of it.  Memory
    is counted as PSS, so pages the forked Python workers share with their
    daemon count once."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._active.set()  # wake the sampler so it sees the stop
        self._thread.join(timeout=5)

    @contextmanager
    def measure(self):
        self._sample()
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()
            self._sample()

    @staticmethod
    def _tree(pid: int) -> list[int]:
        out, todo = [], [pid]
        while todo:
            p = todo.pop()
            out.append(p)
            try:
                for tid in os.listdir(f"/proc/{p}/task"):
                    with open(f"/proc/{p}/task/{tid}/children") as fp:
                        todo.extend(int(c) for c in fp.read().split())
            except OSError:  # the process ended while being walked
                continue
        return out

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fp:
                for line in fp:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _sample(self) -> None:
        total = sum(self._rss_kb(p) for p in self._tree(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._active.wait()
            if self._stop.is_set():
                return
            self._sample()
            self._stop.wait(self.interval)


def start_session(workload, cpus: int, trace: bool):
    """SparkSession whose files all stay under ``WORK``."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the engine; the JVM keeps temp files in WORK
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    conf = {
        # Half the engine's 8g default.  At 8g the JVM grows its heap as
        # GC timing dictates, and crawl_fixture's peak_rss_mb ranged
        # 3.2-6.3 GB over 20 runs on a 4-vCPU, 16 GB host.  At 2g the
        # crawl spent ~9% of task time in GC (8g: ~2%); at 4g ~3.5%, with
        # no spill on either workload.
        "spark.driver.memory": "4g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        **workload.spark_conf(),
    }
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.rolling.enabled": "true",
            "spark.eventLog.compress": "true",
            "spark.eventLog.compression.codec": "zstd",
        })
    spark = get_spark(
        app_name=f"perfbench-{workload.name}", master=f"local[{cpus}]",
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def page_us(sample) -> float:
    """``extract_page`` in a plain loop, no Spark: µs per page, median of
    three passes over the workload's fixed sample."""
    passes = []
    for _ in range(3):
        t0 = time.perf_counter()
        for url, role, html in sample:
            extract_page(url, role, html)
        passes.append((time.perf_counter() - t0) / len(sample) * 1e6)
    return statistics.median(passes)


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile, interpolated between samples."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Runs:
    """Timed runs, each checked; a raise or a failed check is a failure."""

    def __init__(self, workload, spark, rss: PeakRss):
        self.workload = workload
        self.spark = spark
        self.rss = rss
        self.attempted = 0
        self.failed = 0

    def once(self, tracer=None):
        self.attempted += 1
        try:
            with self.rss.measure():
                r = self.workload.run(self.spark, tracer)
            self.workload.check(r)
            r.output = None
            r.tracer = tracer
            return r
        except Exception:  # counted and reported; the run loop goes on
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            release_memory()


def release_memory() -> None:
    """Hand the memory of checked outputs and expectations back to the
    system, so the harness's leftovers do not sit in the next run's
    peak_rss_mb."""
    gc.collect()
    pa.default_memory_pool().release_unused()


def end_to_end(setup_s: float, ok: list, peak_kb: int) -> dict:
    waves = [w for r in ok for w in r.wave_s]
    return {
        "setup_s": setup_s,
        "pages_per_s": statistics.median(r.pages / r.wall_s for r in ok),
        "wave_s_p50": statistics.median(waves),
        "wave_s_p90": quantile(waves, 90),
        "peak_rss_mb": peak_kb / 1024,
    }


def per_layer(seq: list, log: EventLog, session_s: float,
              calib_us: float) -> dict:
    """Per-layer metrics, each the median over the traced runs of ``seq``
    (untraced, traced, untraced, …; all checked and passed)."""
    rows = []
    for r in seq[1::2]:
        tr = r.tracer
        st = log.window(r.t0 * 1000, r.t1 * 1000)
        n_waves = max(len(r.wave_s), 1)
        m = {
            "session.start_s": session_s,
            "catalog.read_s": tr.ms["catalog.read"] / 1000,
            "catalog.writes_per_wave": sum(
                tr.calls[f"catalog.write.{t}"] for t in CATALOG_TABLES
            ) / n_waves,
            "spark.jobs_per_wave": st.jobs / n_waves,
            "spark.tasks_per_wave": st.tasks / n_waves,
            "spark.driver_idle_s": st.idle_ms / 1000,
            "spark.unlabelled_jobs": st.unlabelled_jobs,
            "spark.gc_s": st.gc_ms / 1000,
            "spark.shuffle_read_bytes": st.shuffle_read_bytes,
            "spark.shuffle_write_bytes": st.shuffle_write_bytes,
            "spark.spill_bytes": st.spill_bytes,
            "extract.page_us": calib_us,
        }
        for t in CATALOG_TABLES:
            m[f"catalog.write_s.{t}"] = tr.ms[f"catalog.write.{t}"] / 1000
        nbytes, nfiles = _parquet_files(r.catalog_root)
        m["catalog.bytes_written"] = nbytes
        m["catalog.files_written"] = nfiles
        for label in SPAN_LABELS:
            m[f"spark.task_busy_s.{label}"] = st.busy_ms[label] / 1000
            m[f"spark.cpu_s.{label}"] = st.cpu_ms[label] / 1000
        for layer in CRAWL_LAYERS:
            m[f"{layer}.plan_ms"] = tr.ms[layer]
        # the extract job's executor time: the whole job on extract_pages,
        # the fetch+extract+write of each wave in a crawl
        busy_ms = st.busy_ms["extract"] + st.busy_ms["catalog.write.extracted"]
        m["extract.task_us_per_page"] = busy_ms * 1000 / max(r.pages, 1)
        m["extract.boundary_share"] = (
            1 - calib_us * r.pages / (busy_ms * 1000) if busy_ms else 0.0
        )
        m.update(_work_counts(r.lineage))
        rows.append(m)
    out = {k: statistics.median(row[k] for row in rows) for k in rows[0]}
    # each traced run against the mean of its untraced neighbours, which
    # cancels most of the warm-up trend across a process's first runs
    pps = [r.pages / r.wall_s for r in seq]
    out["trace.overhead_ratio"] = statistics.median(
        pps[i] / ((pps[i - 1] + pps[i + 1]) / 2)
        for i in range(1, len(seq) - 1, 2)
    )
    return out


def _parquet_files(root: str | None) -> tuple[int, int]:
    nbytes = nfiles = 0
    for d, _, files in os.walk(root) if root else ():
        for f in files:
            if f.endswith(".parquet"):
                nbytes += os.path.getsize(os.path.join(d, f))
                nfiles += 1
    return nbytes, nfiles


def _work_counts(lineage: list[dict]) -> dict:
    """What the crawl did, from the public ``CrawlResult.lineage``."""
    total = lambda k: sum(w[k] for w in lineage)  # noqa: E731
    frontier, blocked = total("frontier_size"), total("robots_blocked")
    attempted = total("attempted")
    top_host = sum(w["hosts"][0]["n_urls"] for w in lineage if w["hosts"])
    ratio = lambda a, b: a / b if b else 0.0  # noqa: E731
    return {
        "frontier.rows": frontier,
        "robots.blocked_ratio": ratio(blocked, frontier),
        "seen_filter.dropped_ratio": ratio(
            total("dedup_dropped"), frontier - blocked
        ),
        "fetch.hit_ratio": ratio(total("fetched"), attempted),
        "politeness.top_host_share": ratio(top_host, attempted),
    }


def load_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fp:
        spec = json.load(fp)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    units = load_units()
    trace = bool(args.trace)
    cpus = len(os.sched_getaffinity(0))

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    workload = WORKLOADS[args.workload](args.seed, WORK, cpus)
    with PeakRss() as rss:
        t0 = time.perf_counter()
        spark = start_session(workload, cpus, trace)
        session_s = time.perf_counter() - t0
        try:
            landing = []
            for rep in range(SETUP_REPS):
                t = time.perf_counter()
                workload.land(spark, rep)
                landing.append(time.perf_counter() - t)
            workload.expect()
            release_memory()
            t = time.perf_counter()
            # a traced run is compared with its untraced neighbours, so in
            # trace mode no compared run may be a process's cold first run
            for _ in range(max(workload.warm_up_runs, int(trace))):
                workload.run(spark)
            warm_s = time.perf_counter() - t
            setup_s = session_s + statistics.median(landing) + warm_s
            calib_us = page_us(workload.sample)

            # trace mode: untraced and traced runs alternate, starting and
            # ending untraced, so each traced run has a neighbour each side.
            runs = Runs(workload, spark, rss)
            deadline = time.monotonic() + args.seconds

            def more() -> bool:
                n = workload.timed_runs
                if n:  # a fixed count: the host's speed cannot change it
                    return len(seq) < (2 * n + 1 if trace else n)
                return time.monotonic() < deadline or (trace and len(seq) < 3)

            seq = [runs.once()]
            while more():
                if trace:
                    seq.append(runs.once(Tracer(spark.sparkContext)))
                seq.append(runs.once())
        finally:
            stop_session(spark)
        peak_kb = rss.peak_kb

    ok = runs.failed == 0
    print(f"workload {workload.name}  seed {args.seed}  local[{cpus}]  "
          f"runs {runs.attempted}  failed {runs.failed}")
    print(f"set-up: session {session_s:.2f} s, landing "
          f"{' / '.join(f'{x:.2f}' for x in landing)} s, warm-up {warm_s:.2f} s")
    print(f"{'error_rate':<44}{runs.failed / runs.attempted:>16.6g} ratio")
    print(f"{'extract_page loop (no Spark)':<44}{calib_us:>16.6g} us/page")
    if trace:
        metrics = per_layer(
            seq, EventLog.load(os.path.join(WORK, "eventlog")),
            session_s, calib_us,
        ) if ok else {}
        names = [n for n in units if n not in END_TO_END]
    else:
        metrics = end_to_end(setup_s, seq, peak_kb) if ok else {}
        names = list(END_TO_END)
        print(f"{'pages_per_s samples':<44}{len(seq):>16d} runs")
    result = {}
    for name in names:
        value = float(metrics.get(name, 0.0))
        result[name] = {"value": value, "unit": units[name]}
        print(f"{name:<44}{value:>16.6g} {units[name]}")
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({
        "correct": ok, "attempted": runs.attempted, "failed": runs.failed,
        "metrics": result,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
