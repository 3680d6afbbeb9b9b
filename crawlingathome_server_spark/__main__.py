"""spark-submit entry point (north rule: runs via ``spark-submit
--py-files`` on a multi-executor cluster).

    spark-submit --py-files crawlingathome_server_spark.zip \
        -m crawlingathome_server_spark  (or this file's path) \
        --store /path/to/store --rounds 3 --seed 42

Bootstraps a synthetic frontier (or resumes from an existing store),
runs scheduling rounds, prints per-round counters as JSON lines.
On a cluster the ``--master`` / executor settings come from spark-submit;
standalone invocation falls back to local mode via session.get_spark.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="crawlingathome_server_spark")
    ap.add_argument("--store", required=True, help="checkpoint store root dir")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--frontier-rows", type=int, default=10_000)
    ap.add_argument("--budget", type=int, default=4)
    ap.add_argument("--epoch0", type=int, default=1_600_100_000)
    ap.add_argument(
        "--compact", action="store_true", help="collapse delta chain after the rounds"
    )
    ap.add_argument(
        "--expire-keep",
        type=int,
        default=0,
        help="after rounds, expire snapshots keeping the newest N (0 = keep all)",
    )
    ap.add_argument(
        "--mode",
        choices=["jobs", "crawl"],
        default="jobs",
        help="jobs = shard-scheduling rounds (RoundEngine); "
        "crawl = URL-frontier rounds with persisted seen-set (CrawlEngine)",
    )
    ap.add_argument(
        "--frontier-commit",
        choices=["patch", "rewrite"],
        default="patch",
        help="jobs-mode frontier commit: patch = column-granular "
        "merge-on-read layers (O(delta), default); "
        "rewrite = full-plan (the equivalence oracle)",
    )
    # crawl-mode engine features (r06/r07)
    ap.add_argument(
        "--discovery", action="store_true",
        help="crawl mode: maintain robots/sitemap worklists + politeness dim",
    )
    ap.add_argument(
        "--follow-links", action="store_true",
        help="crawl mode: candidates are crawled pages' outgoing hrefs",
    )
    ap.add_argument(
        "--curate", action="store_true",
        help="crawl mode: run the training-data pipeline each round "
        "(extract → lang/quality/repetition gates → fingerprint dedup → corpus_docs)",
    )
    ap.add_argument("--curate-min-quality", type=float, default=0.5)
    ap.add_argument("--curate-min-chars", type=int, default=100)
    ap.add_argument(
        "--curate-langs", default=None,
        help="comma-separated lang whitelist (e.g. en,de); default: all",
    )
    ap.add_argument("--curate-max-dup-lines", type=float, default=None)
    ap.add_argument("--curate-max-top-bigram", type=float, default=None)
    ap.add_argument(
        "--export-corpus", default=None, metavar="PATH",
        help="after the rounds, export the curated corpus as the sharded "
        "(optionally sequence-packed) training layout",
    )
    ap.add_argument("--export-shards", type=int, default=16)
    ap.add_argument(
        "--export-seq-len", type=int, default=None,
        help="sequence length for concat-and-chunk packing (omit = shards only)",
    )
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:  # under spark-submit
        spark = active
    else:
        from .session import get_spark

        spark = get_spark(app_name="cah-rounds")

    from . import datagen
    from .plans.rounds import CrawlEngine, RoundEngine
    from .sources.checkpoint import CheckpointStore
    from .sources.seed import dedup_by_number

    store = CheckpointStore(args.store)

    if args.mode == "crawl":
        eng = CrawlEngine(
            spark, store, seed=args.seed, default_budget=args.budget,
            discovery=args.discovery, follow_links=args.follow_links,
            curate=args.curate,
            curate_min_quality=args.curate_min_quality,
            curate_min_chars=args.curate_min_chars,
            curate_langs=(
                args.curate_langs.split(",") if args.curate_langs else None
            ),
            curate_max_dup_lines=args.curate_max_dup_lines,
            curate_max_top_bigram=args.curate_max_top_bigram,
        )
        if store.latest_snapshot_id() is None:
            eng.bootstrap(round_epoch=args.epoch0)
            print(json.dumps({"event": "bootstrap", "snapshot": 1, "mode": "crawl"}))
        else:
            print(json.dumps({"event": "resume", "snapshot": store.latest_snapshot_id(),
                              "mode": "crawl"}))
        base = store.read_manifest(store.latest_snapshot_id())["round_epoch"]
        for k in range(args.rounds):
            pages = datagen.pages(
                spark, seed=args.seed + k, n=max(100, args.frontier_rows // 10)
            )
            claimed = eng.run_round(pages, round_epoch=base + (k + 1) * 300)
            m = store.read_manifest(store.latest_snapshot_id())["counters"]
            out = {
                "event": "crawl_round",
                "snapshot": store.latest_snapshot_id(),
                "n_claimed": m["n_claimed"],
                "n_seen": m["n_seen"],
                "filter_buckets": m["urlseen_params"]["n_buckets"],
            }
            if args.curate:
                out["n_curated"] = m["n_curated"]
                out["n_corpus_total"] = m["n_corpus_total"]
            if args.discovery:
                out["n_robots_queued"] = m.get("n_robots_queued", 0)
            print(json.dumps(out))
        if args.export_corpus:
            stats = eng.export_corpus(
                args.export_corpus,
                n_shards=args.export_shards,
                seq_len=args.export_seq_len,
            ).collect()
            print(json.dumps({
                "event": "export",
                "path": args.export_corpus,
                "n_shards": len(stats),
                "n_docs": sum(s["n_docs"] for s in stats),
                "n_tokens": sum(s["n_tokens"] for s in stats),
            }))
        return 0

    engine = RoundEngine(spark, store, seed=args.seed, host_default_budget=args.budget)

    if store.latest_snapshot_id() is None:
        frontier = dedup_by_number(datagen.frontier(spark, n=args.frontier_rows))
        workers = datagen.workers(spark)
        engine.bootstrap(frontier, workers, round_epoch=args.epoch0)
        print(json.dumps({"event": "bootstrap", "snapshot": 1}))
    else:
        print(
            json.dumps(
                {"event": "resume", "snapshot": store.latest_snapshot_id()}
            )
        )

    robots = datagen.robots(spark)
    base = store.read_manifest(store.latest_snapshot_id())["round_epoch"]
    for k in range(args.rounds):
        res = engine.run_round(
            round_epoch=base + (k + 1) * 300,
            robots=robots,
            frontier_commit=args.frontier_commit,
        )
        print(
            json.dumps(
                {
                    "event": "round",
                    "snapshot": res.snapshot_id,
                    "n_claims": res.n_claims,
                    "n_reaped": res.n_reaped,
                    **{k_: v for k_, v in res.stats.items()},
                }
            )
        )
    if args.compact:
        sid = store.compact(spark, seed=args.seed, round_epoch=base)
        print(json.dumps({"event": "compact", "snapshot": sid}))
    if args.expire_keep > 0:
        expired = store.expire_snapshots(keep_last=args.expire_keep)
        print(json.dumps({"event": "expire", "removed": expired}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
