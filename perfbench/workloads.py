"""The benchmark's workloads: seeded inputs, one timed run, an output check.

Each workload generates its inputs from the seed with the repository's own
generators (``sources.pagegen``, ``sources.fixture``), lands them as parquet
tables the engine reads, and computes the expected output without the
engine.  ``run`` times one pass of the engine; ``check`` compares its
output with the expectation and raises ``CheckFailed`` on any difference.
"""

from __future__ import annotations

import glob
import hashlib
import os
import random
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from no_fasel_scrapers_spark.functions.canonical import with_url_keys
from no_fasel_scrapers_spark.functions.cleanups import (
    clean_iframe_source,
    py_capitalize,
)
from no_fasel_scrapers_spark.functions.extract import (
    EXTRACT_SCHEMA,
    extract_map_in_pandas,
)
from no_fasel_scrapers_spark.plans.crawl import run_crawl
from no_fasel_scrapers_spark.plans.oracle_crawler import crawl_oracle
from no_fasel_scrapers_spark.sources.catalog import Catalog
from no_fasel_scrapers_spark.sources.fixture import Fixture
from no_fasel_scrapers_spark.sources.pagegen import gen_pages

from spans import TracingCatalog


class CheckFailed(Exception):
    """A run's output differs from the expectation."""


@dataclass
class RunResult:
    t0: float                 # epoch seconds at run start
    t1: float                 # epoch seconds at run end
    pages: int                # pages extracted with non-null text
    wave_s: list[float]       # intervals between publishes of the output
    lineage: list[dict] = field(default_factory=list)
    catalog_root: str | None = None
    output: object = None     # what ``check`` inspects
    tracer: object = None     # the Tracer of a traced run

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0


def text_digest(pairs) -> str:
    """Order-independent digest of (url, text) pairs."""
    h = hashlib.sha256()
    for url, text in sorted(pairs, key=lambda p: p[0]):
        h.update(url.encode())
        h.update(b"\x00" if text is None else b"\x01" + text.encode())
        h.update(b"\n")
    return h.hexdigest()


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class ExtractPages:
    """Parquet pages table → URL keys → Arrow extraction UDF → columnar
    record assembly, the pipeline of ``bench.py``'s extract job, published
    as one parquet output per run.  The seed picks the item-id window
    (``base_index``) of the generated fasel detail pages."""

    name = "extract_pages"
    n_pages = 30_000
    warm_up_runs = 1
    timed_runs = None         # as many as fit in --seconds
    sample_pages = 1_000

    def __init__(self, seed: int, work: str, cpus: int):
        self.seed = seed
        self.work = work
        self.cpus = cpus
        self.pages_path = ""
        self.expected = ""
        self.sample: list[tuple[str, str, bytes]] = []
        self._runs = 0

    def spark_conf(self) -> dict[str, str]:
        return {
            "spark.sql.shuffle.partitions": str(max(self.cpus, 8)),
            # the generated HTML compresses ~40x; small splits keep the
            # decompressed work per task balanced (as in bench.py)
            "spark.sql.files.maxPartitionBytes": "262144",
            "spark.sql.files.openCostInBytes": "65536",
        }

    def land(self, spark, rep: int) -> None:
        path = _fresh_dir(os.path.join(self.work, f"pages_{rep}"))
        gen_pages(
            spark, self.n_pages, partitions=4 * self.cpus,
            base_index=self.seed * self.n_pages,
        ).write.mode("overwrite").parquet(path)
        if self.pages_path:
            shutil.rmtree(self.pages_path, ignore_errors=True)
        self.pages_path = path

    def expect(self) -> None:
        """Expected digest from the generator's own ``text`` column."""
        t = pq.read_table(self.pages_path, columns=["url", "text", "html"])
        self.expected = text_digest(
            zip(t["url"].to_pylist(), t["text"].to_pylist())
        )
        order = pc.sort_indices(t, [("url", "ascending")])
        first = t.take(order.slice(0, self.sample_pages))
        self.sample = [
            (u, "detail", h) for u, h in zip(
                first["url"].to_pylist(), first["html"].to_pylist()
            )
        ]

    def records(self, spark):
        pages = spark.read.parquet(self.pages_path)
        keyed = with_url_keys(pages).select(
            "url", "url_hash", "host_salt", "html"
        )
        extracted = (
            keyed.withColumn("role", F.lit("detail"))
            .select("url", "role", "html")
            .mapInPandas(extract_map_in_pandas, schema=EXTRACT_SCHEMA)
        )
        return extracted.select(
            "url",
            F.col("fields.item_id").alias("item_id"),
            F.coalesce(F.col("fields.fmt"), F.lit("N/A")).alias("fmt"),
            clean_iframe_source(F.col("fields.iframe_src")).alias("source"),
            F.transform(F.col("fields.genres"), py_capitalize).alias("genres"),
            F.length("text").alias("text_len"),
            "text",
        )

    def run(self, spark, tracer=None) -> RunResult:
        self._runs += 1
        out = os.path.join(self.work, f"out_{self._runs % 2}")
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.time()
        with nullcontext() if tracer is None else tracer.span("extract"):
            self.records(spark).write.mode("overwrite").parquet(out)
        t1 = time.time()
        t = pq.read_table(out, columns=["url", "text"])
        pages = len(t) - t["text"].null_count
        # one output publish per run: the run is a single wave
        return RunResult(t0, t1, pages, [t1 - t0], output=t)

    def check(self, r: RunResult) -> None:
        t = r.output
        got = text_digest(zip(t["url"].to_pylist(), t["text"].to_pylist()))
        if r.pages != self.n_pages or got != self.expected:
            raise CheckFailed(
                f"{r.pages}/{self.n_pages} pages with text; digest "
                f"{got[:12]} != expected {self.expected[:12]}"
            )


class CrawlFixture:
    """``run_crawl`` (audit mode) over the 8-site fixture mini-web: 332
    pages, robots disallows, many hosts, five waves.  The seed shuffles the
    row order of the pages and seeds tables and how they split into parquet
    files, which the crawl contract says must not change the result."""

    name = "crawl_fixture"
    # A crawl process runs one crawl, so users pay the JVM's warm-up on
    # every run: the timed crawl is the first one after session start, and
    # it is the only one, however long --seconds is (later crawls in the
    # same JVM run faster and would change what is measured).
    warm_up_runs = 0
    timed_runs = 1

    def __init__(self, seed: int, work: str, cpus: int):
        self.seed = seed
        self.work = work
        self.cpus = cpus
        self.fx = Fixture()
        self.oracle = None
        self.expected_orders: list = []
        self.expected = ""
        self.sample: list[tuple[str, str, bytes | None]] = []
        self.tables: dict = {}
        self._runs = 0

    def spark_conf(self) -> dict[str, str]:
        return {"spark.sql.shuffle.partitions": str(max(self.cpus, 8))}

    def _write_shuffled(self, rows: list[dict], schema: pa.Schema,
                        path: str, rng: random.Random) -> None:
        rows = list(rows)
        rng.shuffle(rows)
        n_files = rng.randint(1, min(8, len(rows)))
        _fresh_dir(path)
        for i in range(n_files):
            chunk = rows[i::n_files]
            pq.write_table(
                pa.Table.from_pylist(chunk, schema=schema),
                os.path.join(path, f"part-{i:05d}.parquet"),
            )

    def land(self, spark, rep: int) -> None:
        rng = random.Random(self.seed)
        base = _fresh_dir(os.path.join(self.work, f"inputs_{rep}"))
        self._write_shuffled(
            self.fx.pages,
            pa.schema([("url", pa.string()), ("html", pa.binary()),
                       ("text", pa.string()), ("lang", pa.string())]),
            os.path.join(base, "pages"), rng,
        )
        self._write_shuffled(
            self.fx.seeds,
            pa.schema([("url", pa.string()), ("site", pa.string()),
                       ("category", pa.string()), ("priority", pa.int32()),
                       ("depth", pa.int32()), ("role", pa.string()),
                       ("url_template", pa.string())]),
            os.path.join(base, "seeds"), rng,
        )
        self._write_shuffled(
            self.fx.robots,
            pa.schema([("host", pa.string()),
                       ("disallow_prefixes", pa.list_(pa.string())),
                       ("crawl_delay_ms", pa.int32())]),
            os.path.join(base, "robots"), rng,
        )
        self.tables = {
            t: spark.read.parquet(os.path.join(base, t))
            for t in ("pages", "seeds", "robots")
        }
        for df in self.tables.values():
            df.count()
        if rep > 0:
            shutil.rmtree(
                os.path.join(self.work, f"inputs_{rep - 1}"),
                ignore_errors=True,
            )

    def expect(self) -> None:
        """The single-threaded crawl oracle over the same fixture rows."""
        fx = self.fx
        pages = {p["url"]: p["html"] for p in fx.pages}
        self.oracle = crawl_oracle(pages, fx.seeds, fx.robots)
        self.expected_orders = sorted(self.oracle.orders)
        self.expected = text_digest(
            (e["url"], e["text"]) for e in self.oracle.extracted
        )
        self.sample = [
            (e["url"], e["role"], pages.get(e["url"]))
            for e in self.oracle.extracted
        ]

    def run(self, spark, tracer=None) -> RunResult:
        self._runs += 1
        root = _fresh_dir(os.path.join(self.work, f"catalog_{self._runs}"))
        t = self.tables
        args = (spark, t["pages"], t["seeds"], t["robots"])
        t0 = time.time()
        if tracer is None:
            res = run_crawl(*args, Catalog(root), audit=True)
        else:
            with tracer.crawl_layers(), tracer.span("plans.crawl"):
                res = run_crawl(
                    *args, TracingCatalog(root, tracer), audit=True
                )
        t1 = time.time()
        return RunResult(
            t0, t1,
            pages=sum(w["fetched"] for w in res.lineage),
            wave_s=_publish_intervals(root, "extracted", t0),
            lineage=res.lineage,
            catalog_root=root,
            output=res,
        )

    def check(self, r: RunResult) -> None:
        res = r.output
        seen = res.seen.select("wave", "rank", "url").collect()
        orders = sorted(
            (s["wave"], s["rank"], s["url"]) for s in seen if s["wave"] >= 0
        )
        ex = res.extracted.select("url", "text").collect()
        problems = []
        if orders != self.expected_orders:
            problems.append("(wave, rank, url) order differs from the oracle")
        if {s["url"] for s in seen} != self.oracle.seen:
            problems.append("seen set differs from the oracle")
        if text_digest((e["url"], e["text"]) for e in ex) != self.expected:
            problems.append("extracted (url, text) digest differs")
        if r.pages != sum(e["text"] is not None for e in ex):
            problems.append("lineage fetched count != pages with text")
        if problems:
            raise CheckFailed("; ".join(problems))


def _publish_intervals(root: str, table: str, t0: float) -> list[float]:
    """Seconds between successive publishes of ``table``'s snapshots, the
    first measured from ``t0``.  A publish is the atomic rename of the
    snapshot manifest, so its mtime is the publish time."""
    manifests = glob.glob(os.path.join(root, table, "_snapshots", "v*.json"))
    times = sorted(os.stat(m).st_mtime_ns / 1e9 for m in manifests)
    return [b - a for a, b in zip([t0] + times[:-1], times)]


WORKLOADS = {w.name: w for w in (ExtractPages, CrawlFixture)}
