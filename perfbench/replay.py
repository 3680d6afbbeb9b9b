"""Per-layer replays for the traced run.

Lazy Spark builders do their work when a later action runs, so a span
around, say, ``urlseen.probe_seen_filter`` inside a round would time
plan construction only. Instead, after the timed rounds, each layer's
public function is called again on cached copies of the last round's
inputs (and that round's parent snapshot) and its output is written to
Spark's ``noop`` sink inside a span. Preparation (caching the inputs)
is outside the spans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crawlingathome_server_spark.functions import robots as rb
from crawlingathome_server_spark.functions import text as tx
from crawlingathome_server_spark.functions.urls import (
    canonicalize_url_expr,
    host_of,
    seeded_hash64,
)
from crawlingathome_server_spark.operators import aggregates as agg
from crawlingathome_server_spark.operators import claim as claim_op
from crawlingathome_server_spark.operators import transitions as tr
from crawlingathome_server_spark.operators import urlseen
from crawlingathome_server_spark.plans.rounds import CrawlEngine, RoundEngine
from workloads import CrawlDiscovery, noop

#: every per-layer metric and its unit (the ``--trace 1`` output)
LAYER_UNITS = {
    "rounds.self_s": "s",
    "rounds.jobs": "count",
    "rounds.stages": "count",
    "rounds.executor_cpu_s": "s",
    "rounds.py_cpu_s": "s",
    "rounds.gc_s": "s",
    "checkpoint.commit_s": "s",
    "checkpoint.commit_jobs": "count",
    "checkpoint.slowest_table_s": "s",
    "checkpoint.write_mb": "MB",
    "checkpoint.read_buckets_s": "s",
    "checkpoint.fold_s": "s",
    "checkpoint.live_layers": "count",
    "urls.canon_s": "s",
    "urlseen.probe_s": "s",
    "urlseen.py_cpu_s": "s",
    "urlseen.positive_frac": "ratio",
    "urlseen.insert_s": "s",
    "urlseen.rebuild_s": "s",
    "urlseen.delete_s": "s",
    "claim.rank_s": "s",
    "claim.shuffle_mb": "MB",
    "claim.claimed_frac": "ratio",
    "robots.parse_s": "s",
    "robots.fold_s": "s",
    "text.extract_s": "s",
    "text.gates_s": "s",
    "text.kept_frac": "ratio",
    "transitions.complete_s": "s",
    "transitions.heartbeat_s": "s",
    "transitions.reap_s": "s",
    "aggregates.stats_s": "s",
    "aggregates.dashboard_s": "s",
    "aggregates.eta_s": "s",
    "rounds.cpu_s": "s",
    "trace.overhead_cpu_s": "s",
}

#: the text replays run on this share of the round's pages (the Gopher
#: top-bigram feature is quadratic in document length)
TEXT_SHARE_PCT = 20


class Replayer:
    def __init__(self, wl, tracer):
        self.wl, self.tracer = wl, tracer
        self.spark, self.store = wl.spark, wl.store
        self.out: dict[str, float] = {}
        self.spans: dict[str, object] = {}

    def time(self, name: str, fn) -> None:
        """Run ``fn`` in a span named ``name``; its duration is the metric."""
        with self.tracer.span(name) as sp:
            fn()
        self.spans[name] = sp
        self.out[name] = sp.dur

    def cached(self, df: DataFrame) -> DataFrame:
        df = df.cache()
        df.count()
        return df


def replay(wl, tracer) -> dict[str, float]:
    r = Replayer(wl, tracer)
    try:
        if isinstance(wl, CrawlDiscovery):
            _crawl(r)
        else:
            _tracker(r)
        tracer.collect_jobs()
        probe = r.spans.get("urlseen.probe_s")
        if probe is not None:
            r.out["urlseen.py_cpu_s"] = probe.py_cpu1 - probe.py_cpu0
        rank = r.spans["claim.rank_s"]
        r.out["claim.shuffle_mb"] = sum(j.shuffle_write_mb for j in tracer.jobs_in(rank))
    finally:
        r.spark.catalog.clearCache()
    return r.out


# -- crawl -------------------------------------------------------------------


def _crawl(r: Replayer) -> None:
    """Replays against the last round's output snapshot S: its own
    inputs for canonicalization, robots parsing and text, and the next
    round's pages (prepared here, never run) for the seen-filter probe,
    insert and claim, which is what the next round would do with S."""
    wl, spark, store = r.wl, r.spark, r.store
    snap = wl.parents[max(wl.parents)] + 1
    e = wl.manifest(snap)["round_epoch"] + 1
    params = wl.manifest(snap)["counters"]["urlseen_params"]
    pages, bodies = r.cached(wl.pages), r.cached(wl.bodies)
    wl.prepare(max(wl.parents) + 1)
    nxt = r.cached(wl.pages)

    def canon_of(df):
        return (
            df.withColumn("canon_url", canonicalize_url_expr(F.col("url")))
            .withColumn("host", host_of(F.col("canon_url")))
            .withColumn("url_hash", seeded_hash64(F.col("canon_url"), seed=0))
        )

    r.time("urls.canon_s", lambda: noop(canon_of(pages.select("url", "warc_ts"))))
    canon = r.cached(canon_of(nxt.select("url", "warc_ts")))

    flt = store.read(spark, urlseen.FILTER_TABLE, snap)
    pos = []
    r.time("urlseen.probe_s", lambda: pos.append(
        urlseen.probe_seen_filter(
            canon, flt, n_buckets=params["n_buckets"],
            bits_per_bucket=params["bits_per_bucket"], k=params["k"],
        ).agg(F.avg(F.col("maybe_seen").cast("double"))).collect()[0][0]
    ))
    r.out["urlseen.positive_frac"] = pos[-1] or 0.0
    r.time("urlseen.insert_s", lambda: noop(urlseen.insert_into_bloom(
        flt, canon.select("url_hash"), n_buckets=params["n_buckets"],
        bits_per_bucket=params["bits_per_bucket"], k=params["k"],
    )))

    claimed = r.cached(urlseen.hash_urls(wl._claimed(snap).select("canon_url")))
    seen = r.cached(urlseen.hash_urls(store.read(spark, "seen_urls", snap).select("canon_url")))
    n_seen = wl.manifest(snap)["counters"]["n_seen"]
    bp = urlseen.auto_params(max(2 * n_seen, 1024), wl.engine.fpr)
    r.time("urlseen.rebuild_s", lambda: noop(urlseen.build_seen_filter(
        seen, n_buckets=bp["n_buckets"], bits_per_bucket=bp["bits_per_bucket"], k=bp["k"],
    )))
    # the deletion-capable kind: a cuckoo filter over the same seen set,
    # forgetting the last round's claims (what a TTL expiry does)
    cp = urlseen.auto_cuckoo_params(max(2 * n_seen, 1024))
    cuckoo = r.cached(urlseen.build_cuckoo_filter(
        seen, n_buckets=cp["n_buckets"], n_rows=cp["n_rows"]
    ))
    r.time("urlseen.delete_s", lambda: noop(urlseen.delete_from_cuckoo(
        cuckoo, claimed, n_buckets=cp["n_buckets"], n_rows=cp["n_rows"]
    )))

    # the claim's input: first-wins deduped, not yet seen, in claim shape
    prev = store.read(spark, "seen_urls", snap)
    w = Window.partitionBy("canon_url").orderBy(F.asc("warc_ts"), F.asc("url"))
    cand = r.cached(
        canon.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .join(prev.select("canon_url"), on="canon_url", how="left_anti")
        .select(
            F.col("url_hash").alias("number"),
            "host",
            (F.pmod(F.col("url_hash"), F.lit(1000)) / 1000.0).alias("priority"),
            F.lit(False).alias("pending"),
            F.lit(False).alias("closed"),
            F.lit(False).alias("gpu"),
        )
    )
    dim = store.read(spark, CrawlEngine.ROBOTS_DIM, snap)
    budget = wl.engine.default_budget

    def claim():
        return claim_op.claim_batch(
            cand, dim, seed=wl.seed + e, default_budget=budget
        )

    r.time("claim.rank_s", lambda: noop(claim()))
    n_cand = cand.count()
    r.out["claim.claimed_frac"] = claim().count() / n_cand if n_cand else 0.0

    r.time("checkpoint.read_buckets_s", lambda: noop(
        store.read_buckets(spark, "seen_urls", claimed.select("canon_url"), snap)
    ))
    r.time("checkpoint.fold_s", lambda: noop(store.read(spark, "seen_urls", snap)))

    r.time("robots.parse_s", lambda: noop(rb.robots_table(
        bodies, agent=wl.engine.agent, round_seconds=wl.engine.round_seconds
    )))
    rules = F.broadcast(dim.select("host", "disallow_prefixes", "allow_prefixes"))
    staged = canon.withColumn(
        "__path", F.regexp_replace(F.col("canon_url"), r"^[a-z]+://[^/]+", "")
    ).join(rules, on="host", how="left")
    r.time("robots.fold_s", lambda: noop(staged.filter(~rb.robots_disallowed(
        F.col("__path"), F.col("disallow_prefixes"), F.col("allow_prefixes")
    ))))
    share = F.pmod(F.xxhash64("url", F.lit(wl.seed + 11)), F.lit(100)) < TEXT_SHARE_PCT
    _text(r, r.cached(_html_pages(pages.filter(share), wl.seed)))


#: curation gates at the engine's defaults plus the Gopher repetition
#: thresholds (Rae et al. 2021)
MIN_CHARS, MIN_QUALITY, LANGS = 100, 0.5, ("en",)
MAX_DUP_LINES, MAX_TOP_BIGRAM = 0.3, 0.2
_VOCAB = {
    "en": (
        "the and of to is a in that it was for on are with as his they be at "
        "one have this from crawl page web data model text index search robot "
        "server worker shard corpus token quality filter language document"
    ).split(),
    "de": (
        "der und die nicht ist das mit sich des auf für im dem den ein eine "
        "als auch es an werden aus er hat dass sie nach wird bei"
    ).split(),
}


def _html_pages(pages: DataFrame, seed: int) -> DataFrame:
    """An html body for each crawled page, derived from its url: 10%
    German, 3% a copy of another page's text, 20..120 words."""
    h = F.xxhash64("url", F.lit(seed))
    vocab = F.when(F.pmod(h, F.lit(10)) == 0, F.array(*map(F.lit, _VOCAB["de"]))).otherwise(
        F.array(*map(F.lit, _VOCAB["en"]))
    )
    tid = F.when(F.pmod(h, F.lit(100)) < 3, F.lit(0)).otherwise(h)
    n_words = (F.lit(20) + F.pmod(F.xxhash64("url", F.lit(seed + 1)), F.lit(100))).cast("int")
    body = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.col("__n")),
            lambda j: F.element_at(
                F.col("__vocab"),
                (F.pmod(F.xxhash64(F.col("__tid"), j), F.size(F.col("__vocab"))) + 1).cast("int"),
            ),
        ),
        " ",
    )
    return pages.select(
        "url", tid.alias("__tid"), n_words.alias("__n"), vocab.alias("__vocab")
    ).select(
        "url",
        F.encode(
            F.concat(
                F.lit("<html><head><title>page</title><script>var seen = 1;</script>"
                      "</head><body><p>"),
                body,
                F.lit(".</p></body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
    )


def _text(r: Replayer, pages: DataFrame) -> None:
    r.time("text.extract_s", lambda: noop(
        pages.select(tx.extract_text_jvm(F.col("html")).alias("text"))
    ))
    docs = r.cached(
        pages.filter(F.length("html") >= F.lit(MIN_CHARS)).select(
            tx.extract_text_jvm(F.col("html")).alias("text")
        )
    )
    rep = tx.repetition_features(F.col("text"))

    def gated():
        staged = docs.select(
            "text",
            *[tx.lang_score(F.col("text"), lang).alias(f"__ls_{lang}")
              for lang in tx.LANG_MARKERS],
        ).select(
            "text",
            tx.lang_id_from_scores(
                {lang: F.col(f"__ls_{lang}") for lang in tx.LANG_MARKERS}
            ).alias("lang"),
            tx.quality_score(F.col("text")).alias("quality"),
            rep["dup_line_fraction"].alias("__dup_lines"),
            rep["top_bigram_share"].alias("__top_bigram"),
        )
        return staged.filter(
            F.col("text").isNotNull()
            & (F.length("text") >= F.lit(MIN_CHARS))
            & (F.col("quality") >= F.lit(MIN_QUALITY))
            & (F.col("__dup_lines") <= F.lit(MAX_DUP_LINES))
            & (F.col("__top_bigram") <= F.lit(MAX_TOP_BIGRAM))
            & F.col("lang").isin(*LANGS)
        )

    r.time("text.gates_s", lambda: noop(gated()))
    n_docs = pages.count()
    r.out["text.kept_frac"] = gated().count() / n_docs if n_docs else 0.0


# -- tracker -----------------------------------------------------------------


def _tracker(r: Replayer) -> None:
    wl, spark, store = r.wl, r.spark, r.store
    parent = wl.parents[max(wl.parents)]
    snap = parent + 1
    e = wl.manifest(snap)["round_epoch"]
    pc = wl.manifest(parent)["counters"]

    parts = [
        p.withColumn("pending", F.lit(False)).withColumn("closed", F.lit(False))
        for p in store.read_parts(spark, RoundEngine.OPEN_SIDECAR, parent)
    ]

    def claim():
        return claim_op.claim_batch_union(
            parts, None, seed=wl.seed + e, stage="cpu",
            default_budget=wl.size["budget"],
        )

    r.time("claim.rank_s", lambda: noop(claim()))
    n_open = pc["open_cpu_jobs"]
    r.out["claim.claimed_frac"] = claim().count() / n_open if n_open else 0.0

    claimed = store.read(spark, "frontier", snap).filter(
        (F.col("claim_epoch") == F.lit(e)) & F.col("pending")
    ).select("number")
    touched = r.cached(
        claimed.unionByName(wl.completions.select("number")).dropDuplicates(["number"])
    )
    sub = r.cached(
        store.read_buckets(spark, "frontier", touched, parent)
        .join(F.broadcast(touched), on="number", how="left_semi")
    )
    workers = r.cached(store.read(spark, "workers", parent))
    comps = r.cached(wl.completions)
    r.time("transitions.complete_s", lambda: noop(tr.complete_jobs(sub, comps)))
    beats = r.cached(wl.beats)
    r.time("transitions.heartbeat_s", lambda: noop(tr.heartbeat(workers, beats)))

    def reap():
        f, w = tr.reap_idle(sub, workers, e)
        noop(f)
        noop(w)

    r.time("transitions.reap_s", reap)
    r.time("checkpoint.read_buckets_s", lambda: noop(
        store.read_buckets(spark, "frontier", touched, snap)
    ))
    r.time("checkpoint.fold_s", lambda: noop(store.read(spark, "frontier", snap)))

    r.time("aggregates.stats_s", lambda: agg.frontier_stats(
        store.read(spark, "frontier", snap)
    ).collect())
    r.time("aggregates.dashboard_s", wl.dashboard)
    r.time("aggregates.eta_s", wl.eta)
