"""Every call the benchmark makes into crawler_spark lives in this module,
so a change to the program's API touches one file of the benchmark.

One batch of the drain is composed from the product's public functions:

    frontier read -> robots_filter -> prefilter probe over SeenState.blobs()
    -> SeenState.anti_join on the maybe-seen slice -> schedule_batch (top-K,
    quota, salt only) -> drain_ordered -> fetch_parse_digest (fresh_parse)
    -> SeenState.commit_batch -> delete_urls / apply_deletes / compact /
    expire on the workload's cadence.

The untraced and traced runs execute the same composition. The tracer's
``materialise`` is a no-op when untraced; traced, it persists and counts
a layer's output under the layer's span, so each layer's work lands in
its own span instead of in whichever later action first pulls it.
"""

from __future__ import annotations

import os
import time

from pyspark import StorageLevel
from pyspark.sql import functions as F

from crawler_spark.operators.bloom import bloom_prefilter
from crawler_spark.operators.politeness import broadcast_robots, host_quotas, robots_filter
from crawler_spark.operators.scheduler import drain_ordered, fetch_parse_digest, schedule_batch
from crawler_spark.operators.seen_state import SeenState
from crawler_spark.session import get_spark

import pages
from workloads import DEFAULT_K, SALT_SPAN, Workload, compacts

N_PARTS = 4  # prefilter partitions
BUCKETS = 16  # url_seen hash buckets (a multiple of N_PARTS)


def start_session(cores: int, work_dir: str, trace: bool):
    """Start the session with every scratch path inside ``work_dir``.
    The traced run turns the UI on: its REST API is where per-stage
    shuffle bytes come from."""
    conf = {
        # a 1 GB heap cap instead of the product's 8 GB default keeps the
        # run small on a shared host; -XX:-UsePerfData keeps the JVM's
        # perf file out of /tmp
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={work_dir}",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    # same for the short-lived JVM that spark-submit runs to build the command
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    if trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    # the product ships only its own package; the fetcher is ours
    spark.sparkContext.addPyFile(pages.__file__)
    return spark


def shutdown(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


class Drain:
    """The drain loop's state and per-batch composition for one workload."""

    def __init__(self, spark, state_root: str, w: Workload, robots: list):
        self.spark = spark
        self.w = w
        rules = spark.createDataFrame(
            robots, "host string, disallow_prefixes array<string>, crawl_delay_ms int"
        )
        self.robots = broadcast_robots(spark, rules)
        self.quotas = host_quotas(spark, self.robots, default_k=DEFAULT_K)
        self.tasks = spark.sparkContext.defaultParallelism * 4
        self.st = SeenState(
            spark, state_root, n_parts=N_PARTS, expected_keys=w.capacity,
            bucketed_parts=BUCKETS, write_tasks=spark.sparkContext.defaultParallelism,
        )
        self.store_root = state_root

    def run_batch(self, i: int, frontier_path: str, delete_path: str | None, t) -> "Batch":
        """Drain batch ``i`` through commit and maintenance. ``t`` is the
        tracer: ``t.span(name)`` wraps each call into a layer."""
        spark, st, w = self.spark, self.st, self.w
        b = Batch()
        with t.span("frontier.read"):
            frontier = t.materialise(b, spark.read.parquet(frontier_path), "frontier.rows")
        with t.span("politeness"):
            allowed = robots_filter(frontier, self.robots, host_col="host")
            allowed = t.materialise(b, allowed, "politeness.rows_out")
        with t.span("prefilter"):
            tagged = b.keep(bloom_prefilter(allowed, st.blobs(), n_parts=N_PARTS).persist())
            tagged = t.materialise(b, tagged, "prefilter.tagged_rows")
            maybe = tagged.filter(F.col("maybe_seen")).drop("maybe_seen")
            definitely_new = tagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
            maybe = t.materialise(b, maybe, "prefilter.maybe_rows")
        with t.span("exact"):
            confirmed = t.materialise(b, st.anti_join(maybe), "exact.rows_out")
        with t.span("scheduler.topk"):
            scheduled, _ = schedule_batch(
                definitely_new.unionByName(confirmed), quotas=self.quotas,
                default_k=DEFAULT_K, salt_span=SALT_SPAN, max_quota=DEFAULT_K,
            )
            scheduled = t.materialise(b, scheduled, "scheduler.rows_out")
        with t.span("scheduler.drain"):
            drained = drain_ordered(scheduled, n_buckets=self.tasks)
            b.drained = b.keep(drained.persist(StorageLevel.DISK_ONLY))
            b.counts["scheduled"] = b.drained.count()
        if w.parse:
            with t.span("parse"):
                agg = fetch_parse_digest(b.drained, pages.fetch, n_tasks=self.tasks).agg(
                    F.count("*").alias("docs"),
                    F.sum(F.col("n_internal") + F.col("n_external") + F.col("n_file")).alias("links"),
                    F.sum("n_spans").alias("spans"),
                ).first()
                b.parse = {k: int(agg[k] or 0) for k in ("docs", "links", "spans")}
        with t.span("commit"):
            st.commit_batch(b.drained.select("url"), batch_id=i + 1)
            b.counts["commit.rows"] = b.counts["scheduled"]
        b.committed_at = time.perf_counter()
        if delete_path is not None:
            with t.span("delete"):
                st.delete_urls(spark.read.parquet(delete_path))
        if compacts(i):
            if delete_path is not None:
                with t.span("apply_deletes"):
                    st.apply_deletes()
            with t.span("maint.compact"):
                st.compact()
        with t.span("maint.expire"):
            st.expire(keep_last=2)
        return b

    def seen_count(self) -> tuple[int, int]:
        """(distinct URLs, rows) of ``SeenState.seen()``. A deleted URL that
        is crawled again is appended a second time, so rows can exceed
        the distinct count."""
        row = self.st.seen().agg(F.countDistinct("url"), F.count("*")).first()
        return row[0], row[1]

    def history_events(self) -> list[tuple[int, str | None]]:
        """(snapshot id, event) of every kept manifest."""
        return [(m.snapshot_id, (m.metrics or {}).get("event")) for m in self.st.store.history()]


class Batch:
    """Handles one batch keeps cached, plus what the checks read."""

    def __init__(self):
        self.cached: list = []
        self.counts: dict[str, int] = {}
        self.drained = None
        self.committed_at: float | None = None  # perf_counter when commit_batch returned
        self.parse: dict[str, int] | None = None
        self.digest: dict | None = None

    def keep(self, df):
        self.cached.append(df)
        return df

    def scheduled_rows(self):
        """(url, salt, fetch_order) of every scheduled URL, as pandas."""
        return self.drained.select("url", "salt", "fetch_order").toPandas()

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached.clear()
