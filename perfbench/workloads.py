"""The benchmark workloads.

Each workload owns one checkpoint store and drives it in a closed loop:
one round at a time, the next round's inputs built from the last
round's outputs between rounds (outside every timed region). Inputs are
pure functions of ``(seed, round)`` built from Spark expressions and
written as parquet before the round that reads them, so the program only
ever sees files.

Interface used by ``bench_loop``:

- ``setup(root)``: fresh store + engine (timed as ``setup_s``);
- ``prepare(k)``: untimed inputs for round ``k``;
- ``run_round(k)``: the round itself, returns the number scheduled;
- ``view(k)``: the consumer read after round ``k``;
- ``checks()``: ``[(name, ok, detail)]`` over the final store;
- ``counts()``: per-round count tuples for the determinism check.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawlingathome_server_spark import datagen
from crawlingathome_server_spark.functions.urls import host_of
from crawlingathome_server_spark.operators import aggregates as agg
from crawlingathome_server_spark.plans.rounds import (
    CrawlEngine,
    RoundEngine,
    dashboard_snapshot,
)
from crawlingathome_server_spark.sources.checkpoint import CheckpointStore


def noop(df: DataFrame) -> None:
    """Materialize every row and column of ``df`` and discard them."""
    df.write.format("noop").mode("overwrite").save()


def _u(col, seed: int) -> F.Column:
    """Deterministic uniform [0, 1) from ``col`` and ``seed``."""
    return F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(1_000_000)) / 1_000_000.0


def _dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
    ) / 2**20


class Workload:
    """Shared store plumbing: parquet inputs, snapshot sizes, counters."""

    name = ""
    #: set-ups per run (the first also warms the JVM); the median is reported
    setup_reps = 3
    #: consumer reads after each round; the median is reported
    view_reads = 1

    def __init__(self, spark: SparkSession, work: str, seed: int, size: dict):
        self.spark = spark
        self.seed = seed
        self.size = size
        self.inputs = os.path.join(work, "inputs")
        self.store: CheckpointStore | None = None

    # -- inputs ------------------------------------------------------------

    def _write_input(self, name: str, df: DataFrame) -> DataFrame:
        path = os.path.join(self.inputs, name)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    # -- store figures -----------------------------------------------------

    def manifest(self, snap: int | None = None) -> dict:
        snap = snap if snap is not None else self.store.latest_snapshot_id()
        return self.store.read_manifest(snap)

    def snapshot_write_mb(self, snap: int) -> float:
        """Bytes the commit of ``snap`` wrote: its snapshot directory."""
        return _dir_mb(os.path.join(self.store.root, f"s{snap:06d}"))

    def live_mb(self) -> float:
        """On-disk bytes the latest snapshot references (base + layers)."""
        paths = set()
        for meta in self.manifest()["tables"].values():
            bl = meta.get("bucket_layout")
            if bl and bl.get("path"):
                paths.add(bl["path"])
            for p in (meta.get("partitions") or {}).values():
                if p.get("path"):
                    paths.add(p["path"])
            for ly in meta.get("delta_layers") or []:
                for k in ("rows_path", "remove_path"):
                    if ly.get(k):
                        paths.add(ly[k])
        return sum(_dir_mb(p) for p in paths if os.path.isdir(p))

    def live_layers(self) -> int:
        return sum(
            len(meta.get("delta_layers") or [])
            for meta in self.manifest()["tables"].values()
        )

    def new_store(self, root: str) -> CheckpointStore:
        shutil.rmtree(root, ignore_errors=True)
        return CheckpointStore(root, n_partitions=self.size["buckets"])


# =========================================================================
# crawl workload
# =========================================================================


def _url(host: F.Column, path: F.Column, trap: F.Column) -> F.Column:
    """Page url with the canonicalizer's traps: mixed-case scheme/host +
    shuffled query + fragment, an explicit default port, or plain."""
    return (
        F.when(
            trap == 1,
            F.concat(F.lit("HTTP://"), F.upper(host), path, F.lit("?b=2&a=1#frag")),
        )
        .when(trap == 2, F.concat(F.lit("http://"), host, F.lit(":80"), path, F.lit("?b=2&a=1")))
        .otherwise(F.concat(F.lit("http://"), host, path, F.lit("?a=1&b=2")))
    )


class CrawlDiscovery(Workload):
    """Discovery crawl with a budgeted politeness claim over Zipf hosts.

    Round k's pages: ids [k·n/2, k·n/2 + n), so half of them were in
    round k-1's batch; ~2% sit on hosts no earlier round has seen. Round
    0 is fed robots.txt bodies for every known host; round k > 0 the
    bodies for round k-1's robots worklist. The consumer then reads the
    round's fetch list.
    """

    name = "crawl_discovery"

    def epoch(self, k: int) -> int:
        return k + 1

    def setup(self, root: str) -> None:
        self.store = self.new_store(root)
        self.engine = CrawlEngine(
            self.spark, self.store, seed=self.seed, discovery=True,
            default_budget=self.size["default_budget"],
        )
        self.engine.bootstrap(round_epoch=0)
        self.parents: dict[int, int] = {}

    def prepare(self, k: int) -> None:
        n, hosts = self.size["pages"], self.size["hosts"]
        seed = self.seed
        ids = self.spark.range(k * n // 2, k * n // 2 + n)
        new_hosts = max(1, n // 500)  # ~10 pages per brand-new host
        is_new = F.pmod(F.xxhash64("id", F.lit(seed + 1)), F.lit(1000)) < 20
        host = F.when(
            is_new,
            F.concat(
                F.lit(f"r{k}-"), F.pmod("id", F.lit(new_hosts)), F.lit(".example.org")
            ),
        ).otherwise(
            F.concat(
                F.lit("host"),
                F.floor(F.pow(_u("id", seed), 3.0) * hosts).cast("string"),
                F.lit(".example.com"),
            )
        )
        path = F.concat(
            F.when(F.pmod("id", F.lit(20)) == 0, F.lit("/private")).otherwise(F.lit("")),
            F.lit("/p/"),
            F.col("id").cast("string"),
        )
        pages = ids.select(
            _url(host, path, F.pmod(F.xxhash64("id", F.lit(seed + 3)), F.lit(3))).alias("url"),
            F.timestamp_seconds(
                F.lit(1_600_000_000) + F.pmod(F.xxhash64("id", F.lit(seed + 2)), F.lit(86_400))
            ).alias("warc_ts"),
        )
        self.pages = self._write_input(f"pages_{k}", pages)
        # round 0 fetches robots.txt for the whole known host universe up
        # front, so round 1 on is steady: only brand-new hosts get queued
        hosts_df = (
            self.engine.robots_worklist()
            if k > 0
            else self.spark.range(hosts).select(
                F.concat(F.lit("host"), F.col("id").cast("string"), F.lit(".example.com")).alias("host")
            )
        )
        delays = F.element_at(
            F.array(*[F.lit(d) for d in ("0.5", "1", "2", "5")]),
            (F.pmod(F.xxhash64("host", F.lit(seed)), F.lit(4)) + 1).cast("int"),
        )
        bodies = hosts_df.select(
            "host",
            F.concat(
                F.lit("User-agent: *\nDisallow: /private\nAllow: /private/pub\n"
                      "Crawl-delay: "),
                delays,
                F.lit("\nSitemap: http://"),
                F.col("host"),
                F.lit("/sitemap.xml\n"),
            ).alias("robots_txt"),
        )
        self.bodies = self._write_input(f"robots_{k}", bodies)

    def run_round(self, k: int) -> int:
        self.parents[k] = self.store.latest_snapshot_id()
        self.fetch_list = self.engine.run_round(
            self.pages, round_epoch=self.epoch(k), robots_fetched=self.bodies
        )
        return self.manifest()["counters"]["n_claimed"]

    def view(self, k: int) -> None:
        noop(self.fetch_list)

    def counts(self) -> list[list]:
        out = []
        for k in sorted(self.parents):
            c = self.manifest(self.parents[k] + 1)["counters"]
            out.append([c["n_claimed"], c["n_seen"]])
        return out

    def _claimed(self, snap: int) -> DataFrame:
        """The urls round ``snap`` claimed: seen rows stamped with its epoch."""
        e = self.manifest(snap)["round_epoch"]
        return self.store.read(self.spark, "seen_urls", snap).filter(
            F.col("seen_epoch") == F.lit(e)
        )

    def checks(self) -> list[tuple[str, bool, str]]:
        out = []
        snap = self.store.latest_snapshot_id()
        c = self.manifest(snap)["counters"]
        n_seen = self.store.read(self.spark, "seen_urls", snap).count()
        out.append(("n_seen_recount", n_seen == c["n_seen"], f"{n_seen} vs {c['n_seen']}"))
        # the last round: claimed ∩ previously seen = ∅, per-host budget
        claimed = self._claimed(snap).select("canon_url").cache()
        n_claimed = claimed.count()
        prev = self.store.read(self.spark, "seen_urls", snap - 1)
        overlap = claimed.join(prev, on="canon_url", how="left_semi").count()
        out.append(("claimed_count", n_claimed == c["n_claimed"],
                    f"{n_claimed} vs {c['n_claimed']}"))
        out.append(("claimed_disjoint_seen", overlap == 0, f"overlap={overlap}"))
        dim = self.store.read(self.spark, CrawlEngine.ROBOTS_DIM, snap).select(
            "host", "max_claims_per_round"
        )
        over = (
            claimed.select(host_of(F.col("canon_url")).alias("host"))
            .groupBy("host")
            .agg(F.count(F.lit(1)).alias("n"))
            .join(dim, on="host", how="left")
            .filter(F.col("n") > F.coalesce(
                "max_claims_per_round", F.lit(self.size["default_budget"])
            ))
            .count()
        )
        out.append(("host_budget", over == 0, f"hosts over budget={over}"))
        claimed.unpersist()
        return out


# =========================================================================
# tracker workload
# =========================================================================


class TrackerDashboard(Workload):
    """The reference server's own traffic over a :class:`RoundEngine`.

    Round k applies completions for 80% of round k-1's claims (half are
    CPU-stage completions that promote the job to the GPU stage, half
    close it), heartbeats from every worker still alive, the reaper
    (2% of the workers stop heart-beating each round and are reaped two
    rounds later) and a CPU-stage claim from the open sidecar. After each
    round the dashboard plus ETA is read several times.

    The bootstrap frontier already holds one round of claims (2% of the
    unclosed jobs, pending since ``EPOCH0``), so round 0 has completions
    to apply and round 1 on is steady. Worker cohort ``c`` (``id % 50 ==
    c``) heart-beats until round ``c - 1`` and is reaped in round ``c``.
    """

    name = "tracker_dashboard"
    EPOCH0 = 1_700_000_000
    STEP_S = 7200  # the reaper's idle timeout: one silent round reaps
    view_reads = 2

    def epoch(self, k: int) -> int:
        return self.EPOCH0 + (k + 1) * self.STEP_S

    def setup(self, root: str) -> None:
        self.store = self.new_store(root)
        self.engine = RoundEngine(
            self.spark, self.store, seed=self.seed,
            host_default_budget=self.size["budget"],
        )
        n_w = self.size["workers"]
        frontier = datagen.synth_frontier_expr(
            self.spark, self.size["jobs"], n_hosts=self.size["hosts"],
            seed=self.seed, open_frac=self.size["open_frac"],
        )
        pre = ~F.col("closed") & (F.pmod(F.xxhash64("number", F.lit(self.seed + 4)), F.lit(100)) < 2)
        frontier = frontier.withColumns({
            "pending": pre,
            "completor": F.when(pre, F.concat(
                F.lit("w-"), F.pmod(F.xxhash64("number"), F.lit(n_w)).cast("string")
            )),
            "claim_epoch": F.when(pre, F.lit(self.EPOCH0).cast("long")),
        })
        workers = self.spark.range(n_w).select(
            F.concat(F.lit("w-"), F.col("id").cast("string")).alias("uuid"),
            F.concat(F.lit("name-"), F.col("id").cast("string")).alias("display_name"),
            F.when(F.pmod("id", F.lit(5)) == 0, F.lit("GPU")).otherwise(F.lit("CPU")).alias("type"),
            F.concat(F.lit("nick"), F.pmod("id", F.lit(17)).cast("string")).alias("user_nickname"),
            F.lit(None).cast("long").alias("shard_number"),
            F.lit("working").alias("progress"),
            F.lit(0).cast("long").alias("jobs_completed"),
            F.lit(self.EPOCH0 - 100_000).cast("long").alias("first_seen"),
            F.lit(self.EPOCH0 - 60).cast("long").alias("last_seen"),
        )
        self.engine.bootstrap(frontier, workers, round_epoch=self.EPOCH0)
        self.parents: dict[int, int] = {}

    def prepare(self, k: int) -> None:
        seed, e = self.seed, self.epoch(k)
        last = self.store.read(self.spark, "frontier").filter(
            (F.col("claim_epoch") == F.lit(self.epoch(k - 1))) & F.col("pending")
        )
        pick = F.pmod(F.xxhash64("number", F.lit(seed + k)), F.lit(10))
        is_cpu = pick < 4  # 4 of the 8 completing tenths
        comps = last.filter(pick < 8).select(
            "number",
            F.col("completor").alias("worker_uuid"),
            F.concat(F.lit("nick"), F.pmod("number", F.lit(17)).cast("string")).alias("nickname"),
            F.when(is_cpu, F.lit("cpu")).otherwise(F.lit("hybrid")).alias("kind"),
            (F.lit(1000) + F.pmod(F.xxhash64("number"), F.lit(4000))).alias("count"),
            F.when(
                is_cpu,
                F.concat(F.lit("https://artifacts.example.org/rsync/"), F.col("number").cast("string")),
            ).alias("gpu_url"),
            F.lit(e - 60).cast("long").alias("epoch"),
        )
        self.completions = self._write_input(f"completions_{k}", comps)
        beats = self.spark.range(self.size["workers"]).filter(
            F.pmod("id", F.lit(50)) > F.lit(k)
        ).select(
            F.concat(F.lit("w-"), F.col("id").cast("string")).alias("uuid"),
            F.lit("working").alias("progress"),
            F.lit(e - 30).cast("long").alias("epoch"),
        )
        self.beats = self._write_input(f"beats_{k}", beats)

    def run_round(self, k: int) -> int:
        self.parents[k] = self.store.latest_snapshot_id()
        self.result = self.engine.run_round(
            round_epoch=self.epoch(k),
            completions=self.completions,
            heartbeats=self.beats,
        )
        return self.result.n_claims

    def _intervals(self) -> DataFrame:
        rows = []
        for s in range(1, self.store.latest_snapshot_id() + 1):
            m = self.manifest(s)
            c = m["counters"]
            rows.append(
                (m["round_epoch"], c["completed_jobs"], c["total_jobs"] - c["completed_jobs"])
            )
        return self.spark.createDataFrame(
            rows, "epoch long, closed_cumulative long, remaining long"
        )

    def dashboard(self) -> None:
        dash = dashboard_snapshot(
            self.store.read(self.spark, "frontier"),
            self.store.read(self.spark, "workers"),
            self.store.read(self.spark, "leaderboard"),
        )
        for df in dash.values():
            df.collect()

    def eta(self) -> None:
        agg.eta_estimate(self._intervals()).collect()

    def view(self, k: int) -> None:
        self.dashboard()
        self.eta()

    def counts(self) -> list[list]:
        out = []
        for k in sorted(self.parents):
            c = self.manifest(self.parents[k] + 1)["counters"]
            out.append([c["n_claims"], c["n_completed"], c["n_reaped"], c["open_cpu_jobs"]])
        return out

    def checks(self) -> list[tuple[str, bool, str]]:
        out = []
        spark, store = self.spark, self.store
        snap = store.latest_snapshot_id()
        c = self.manifest(snap)["counters"]
        frontier = store.read(spark, "frontier").cache()
        stats = agg.frontier_stats(frontier).collect()[0].asDict()
        bad = {k: (stats[k], c[k]) for k in RoundEngine._STATS_COUNT_KEYS if stats[k] != c[k]}
        out.append(("stats_recount", not bad, str(bad)))
        open_set = frontier.filter(~F.col("pending") & ~F.col("closed")).select("number")
        sidecar = store.read(spark, RoundEngine.OPEN_SIDECAR).select("number")
        d1 = open_set.exceptAll(sidecar).count()
        d2 = sidecar.exceptAll(open_set).count()
        out.append(("sidecar_is_open_set", d1 == 0 and d2 == 0, f"missing={d1} extra={d2}"))
        e = self.manifest(snap)["round_epoch"]
        claimed = frontier.filter(
            (F.col("claim_epoch") == F.lit(e)) & F.col("pending")
        ).select("number", "host").cache()
        n_claimed = claimed.count()
        out.append(("claimed_count", n_claimed == c["n_claims"], f"{n_claimed} vs {c['n_claims']}"))
        # claimed ∩ jobs that were already taken in the parent = ∅: parent
        # closed jobs, and parent pending jobs neither completed this round
        # nor released by the reaper
        parent = store.read(spark, "frontier", snap - 1)
        released = (
            store.read(spark, "workers", snap - 1)
            .join(store.read(spark, "workers", snap), on="uuid", how="left_anti")
            .filter(F.col("shard_number").isNotNull())
            .select(F.col("shard_number").alias("number"))
        )
        taken = (
            parent.filter(F.col("closed") | F.col("pending")).select("number")
            .join(self.completions.select("number"), on="number", how="left_anti")
            .join(released, on="number", how="left_anti")
        )
        overlap = claimed.join(taken, on="number", how="left_semi").count()
        out.append(("claimed_disjoint_taken", overlap == 0, f"overlap={overlap}"))
        over = (
            claimed.groupBy("host").agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > F.lit(self.size["budget"])).count()
        )
        out.append(("host_budget", over == 0, f"hosts over budget={over}"))
        claimed.unpersist()
        frontier.unpersist()
        return out


WORKLOADS = {w.name: w for w in (CrawlDiscovery, TrackerDashboard)}
