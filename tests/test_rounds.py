"""Round engine + checkpoint tests: snapshot lineage, exact resume,
simulator-oracle equivalence of the claim sequence (SURVEY.md §5)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from crawlingathome_server_spark import datagen, schemas
from crawlingathome_server_spark.operators import claim as claim_op
from crawlingathome_server_spark.plans.rounds import RoundEngine, expand_frontier
from crawlingathome_server_spark.simulator import SimJob, Simulator
from crawlingathome_server_spark.sources.checkpoint import CheckpointStore
from crawlingathome_server_spark.sources.seed import dedup_by_number


def _engine(spark, tmp_path, n=300):
    store = CheckpointStore(str(tmp_path / "store"), n_partitions=4)
    eng = RoundEngine(spark, store, seed=5)
    fr = dedup_by_number(datagen.frontier(spark, n=n))
    wk = datagen.workers(spark)
    eng.bootstrap(fr, wk, round_epoch=0)
    return eng, store


def test_checkpoint_roundtrip(spark, tmp_path):
    store = CheckpointStore(str(tmp_path / "s"), n_partitions=4)
    fr = dedup_by_number(datagen.frontier(spark, n=200))
    sid = store.commit({"frontier": fr}, seed=1, round_epoch=0)
    back = store.read(spark, "frontier", sid)
    assert sorted(back.columns) == sorted(fr.columns)
    assert back.count() == fr.count()
    m = store.read_manifest(sid)
    assert m["tables"]["frontier"]["total_rows"] == fr.count()
    assert (
        sum(p["rows"] for p in m["tables"]["frontier"]["partitions"].values())
        == fr.count()
    )


def test_rounds_progress_and_lineage(spark, tmp_path):
    eng, store = _engine(spark, tmp_path)
    rb = datagen.robots(spark)
    r1 = eng.run_round(round_epoch=1_600_100_000, robots=rb)
    r2 = eng.run_round(round_epoch=1_600_101_000, robots=rb)
    assert r1.n_claims > 0
    lineage = store.lineage()
    assert [m["snapshot_id"] for m in lineage] == [3, 2, 1]
    assert lineage[0]["counters"]["n_claims"] == r2.n_claims
    # pending monotonically grows while nothing completes
    fr = store.read(spark, "frontier")
    assert fr.filter("pending").count() >= r1.n_claims + r2.n_claims


def test_resume_equals_uninterrupted(spark, tmp_path):
    """North rule: resume from checkpoint ≡ uninterrupted run."""
    rb = datagen.robots(spark)

    eng_a, store_a = _engine(spark, tmp_path / "a")
    for ep in (1, 2, 3):
        eng_a.run_round(round_epoch=ep, robots=rb)

    eng_b, store_b = _engine(spark, tmp_path / "b")
    for ep in (1, 2):
        eng_b.run_round(round_epoch=ep, robots=rb)
    # simulate restart: fresh engine over the same store
    eng_b2 = RoundEngine(spark, store_b, seed=5)
    eng_b2.run_round(round_epoch=3, robots=rb)

    def state(store):
        fr = store.read(spark, "frontier")
        return sorted(
            (r["number"], r["pending"], r["closed"], r["gpu"], r["claim_epoch"])
            for r in fr.collect()
        )

    assert state(store_a) == state(store_b)


def test_frontier_patch_commit_equals_rewrite(spark, tmp_path):
    """r04 O(delta) frontier commits: the Patch (merge-on-read) path —
    touched-bucket point-read + subset transition re-apply + incremental
    stats — commits state identical to the full-plan rewrite path,
    round by round, with completions, reaping, and claims all in play."""
    rb = datagen.robots(spark)

    def drive(mode, root):
        store = CheckpointStore(str(tmp_path / root), n_partitions=16)
        eng = RoundEngine(spark, store, seed=5)
        fr = dedup_by_number(datagen.frontier(spark, n=400))
        wk = datagen.workers(spark)
        eng.bootstrap(fr, wk, round_epoch=0)
        stats = []
        for ep in (1, 2, 3):
            pending = store.read(spark, "frontier").filter(
                "pending and not closed"
            )
            done = sorted(r["number"] for r in pending.collect())[::2]
            comps = None
            if done:
                comps = spark.createDataFrame(
                    [
                        (n, f"uuid{n % 7}", f"w{n % 7}",
                         "cpu" if n % 2 else "hybrid", 5,
                         f"http://gpu/{n}" if n % 2 else None, 1000 + ep)
                        for n in done
                    ],
                    schema=schemas.COMPLETIONS,
                )
            res = eng.run_round(
                round_epoch=ep, completions=comps, robots=rb, frontier_commit=mode
            )
            stats.append((res.n_claims, res.n_completed, res.stats))
        fr_rows = sorted(map(tuple, store.read(spark, "frontier").collect()))
        return fr_rows, stats, store

    rows_a, stats_a, store_a = drive("patch", "pt")
    rows_b, stats_b, _ = drive("rewrite", "rw")
    assert rows_a == rows_b
    assert stats_a == stats_b

    # patch commits never rewrite base buckets: every frontier bucket of
    # the last snapshot still carries the bootstrap's written_by, and the
    # three rounds stacked three merge-on-read layers
    last = store_a.latest_snapshot_id()
    meta = store_a.read_manifest(last)["tables"]["frontier"]
    assert all(p["written_by"] == 1 for p in meta["partitions"].values())
    assert len(meta["delta_layers"]) == 3


def test_claim_sequence_matches_simulator(spark, tmp_path):
    """Crawl-ordering oracle: the Spark engine's claim set per round equals
    the pure-Python reference simulator under the same seed list +
    politeness budget (BASELINE.json correctness condition)."""
    n = 400
    fr_df = dedup_by_number(datagen.frontier(spark, n=n))
    budgets_pdf = datagen.gen_robots_pdf()
    budgets = dict(
        zip(budgets_pdf["host"], (int(x) for x in budgets_pdf["max_claims_per_round"]))
    )

    sim = Simulator()
    sim.add_jobs(
        [
            SimJob(
                number=r["number"],
                url=r["url"],
                host=r["host"],
                priority=r["priority"],
                gpu=r["gpu"],
                gpu_url=r["gpu_url"],
                pending=r["pending"],
                closed=r["closed"],
            )
            for r in fr_df.collect()
        ]
    )

    rb = datagen.robots(spark)
    fr = fr_df
    for seed_round, epoch in ((11, 1), (12, 2)):
        spark_claims = claim_op.claim_batch(
            fr, rb, seed=seed_round, use_oracle_hash=True
        )
        got = sorted(r["number"] for r in spark_claims.collect())
        want = sim.claim_round(seed=seed_round, round_epoch=epoch, budgets=budgets)
        assert got == want, f"round {epoch}"
        fr = claim_op.apply_claims(fr, spark_claims, round_epoch=epoch)

        # complete half the claims in both worlds (hybrid path)
        done = got[::2]
        for number in done:
            sim.complete(number, kind="hybrid", nickname="w", count=1)
        comp_pdf = pd.DataFrame(
            {
                "number": done,
                "worker_uuid": ["u"] * len(done),
                "nickname": ["w"] * len(done),
                "kind": ["hybrid"] * len(done),
                "count": [1] * len(done),
                "gpu_url": [None] * len(done),
                "epoch": [epoch] * len(done),
            }
        )
        from crawlingathome_server_spark.operators import transitions as tr

        comps = spark.createDataFrame(comp_pdf, schema=schemas.COMPLETIONS)
        fr = tr.complete_jobs(fr, comps)

    # final states agree job-by-job
    final = {r["number"]: (r["pending"], r["closed"], r["gpu"]) for r in fr.collect()}
    for number, job in sim.jobs.items():
        assert final[number] == (job.pending, job.closed, job.gpu), number

    # URL-seen membership: claimed-or-closed sets agree
    spark_seen = {
        n_
        for n_, (p, c, g) in final.items()
        if p or c
    }
    assert spark_seen == {
        n_ for n_, j in sim.jobs.items() if j.pending or j.closed
    }


def test_expand_frontier_dedups_and_budgets(spark):
    pages = datagen.pages(spark, seed=31, n=1200)
    rb = datagen.robots(spark)
    out = expand_frontier(pages, rb, seed=1)
    assert out.count() == out.select("canon_url").distinct().count()
    per_host = out.groupBy("host", "budget").agg(F.count("*").alias("n")).collect()
    for r in per_host:
        assert r["n"] <= r["budget"]


def test_expand_frontier_excludes_seen(spark):
    pages = datagen.pages(spark, seed=33, n=600)
    seen = pages.limit(300).select(
        F.col("url")
    )
    from crawlingathome_server_spark.functions.urls import canonicalize_url

    seen_canon = seen.select(canonicalize_url(F.col("url")).alias("canon_url"))
    out_exact = expand_frontier(pages, None, seen_urls=seen_canon, seed=1)
    out_bloom = expand_frontier(pages, None, seen_urls=seen_canon, seed=1, use_bloom=True)
    seen_set = {r["canon_url"] for r in seen_canon.collect()}
    assert not seen_set & {r["canon_url"] for r in out_exact.collect()}
    # bloom has no false negatives → its output is a subset of exact
    assert {r["canon_url"] for r in out_bloom.collect()} <= {
        r["canon_url"] for r in out_exact.collect()
    }


def test_two_stage_cpu_gpu_lifecycle(spark, tmp_path):
    """Full reference two-stage pipeline (models.py:6-7): open CPU job →
    claimed → CPU-completed (becomes open GPU job) → GPU-claimed →
    GPU-completed (closed); plus CPU leaderboard vs main leaderboard."""
    store = CheckpointStore(str(tmp_path / "st2"), n_partitions=2)
    eng = RoundEngine(spark, store, seed=5)
    fr = dedup_by_number(datagen.frontier(spark, n=200)).withColumn(
        "gpu", F.lit(False)
    ).withColumn("pending", F.lit(False)).withColumn("closed", F.lit(False))
    eng.bootstrap(fr, datagen.workers(spark), round_epoch=0)

    r1 = eng.run_round(round_epoch=1_600_100_000, stage="cpu", worker_type="CPU")
    assert r1.n_claims > 0
    claimed = store.read(spark, "frontier").filter("pending")
    nums = [r["number"] for r in claimed.limit(6).collect()]

    comps = spark.createDataFrame(
        pd.DataFrame(
            {
                "number": nums,
                "worker_uuid": ["u"] * len(nums),
                "nickname": ["cpu-nick"] * len(nums),
                "kind": ["cpu"] * len(nums),
                "count": [0] * len(nums),
                # one 'postgres' short-circuit in the batch
                "gpu_url": ["postgres://x"] + [f"https://art/{n}" for n in nums[1:]],
                "epoch": [1_600_100_100] * len(nums),
            }
        ),
        schema=schemas.COMPLETIONS,
    )
    eng.run_round(round_epoch=1_600_100_300, completions=comps, stage="gpu",
                  worker_type="GPU")
    fr2 = store.read(spark, "frontier")
    rows = {r["number"]: r for r in fr2.filter(F.col("number").isin(nums)).collect()}
    # short-circuited job closed without GPU stage
    assert rows[nums[0]]["closed"] and not rows[nums[0]]["gpu"]
    # the rest became GPU jobs, were claimable by the GPU round
    for n in nums[1:]:
        assert rows[n]["gpu"] and not rows[n]["closed"]
        assert rows[n]["cpu_completor"] == "cpu-nick"

    # GPU completions close them and feed the MAIN leaderboard
    comps_gpu = spark.createDataFrame(
        pd.DataFrame(
            {
                "number": nums[1:],
                "worker_uuid": ["g"] * (len(nums) - 1),
                "nickname": ["gpu-nick"] * (len(nums) - 1),
                "kind": ["gpu"] * (len(nums) - 1),
                "count": [11] * (len(nums) - 1),
                "gpu_url": [None] * (len(nums) - 1),
                "epoch": [1_600_100_400] * (len(nums) - 1),
            }
        ),
        schema=schemas.COMPLETIONS,
    )
    eng.run_round(round_epoch=1_600_100_600, completions=comps_gpu)
    fr3 = store.read(spark, "frontier")
    assert fr3.filter(F.col("number").isin(nums[1:])).filter("closed").count() == len(nums) - 1

    lb = {r["nickname"]: r for r in store.read(spark, "leaderboard").collect()}
    cpu_lb = {r["nickname"]: r for r in store.read(spark, "cpu_leaderboard").collect()}
    assert lb["gpu-nick"]["jobs_completed"] == len(nums) - 1
    assert lb["gpu-nick"]["pairs_scraped"] == 11 * (len(nums) - 1)
    assert cpu_lb["cpu-nick"]["jobs_completed"] == len(nums)
    assert "cpu-nick" not in lb and "gpu-nick" not in cpu_lb


def test_frontier_commit_mode_switching(spark, tmp_path):
    """r05: switching commit modes mid-crawl must work — a rewrite round
    after patch rounds FOLDS the frontier (bucket-granular deltas cannot
    see live MOR layers), patch rounds stack on the folded base, and the
    resulting state matches an all-rewrite drive of the same round
    sequence. A removed mode name is refused."""
    def drive(modes, root):
        store = CheckpointStore(str(tmp_path / root), n_partitions=8)
        eng = RoundEngine(spark, store, seed=7)
        eng.bootstrap(
            dedup_by_number(datagen.frontier(spark, n=300)),
            datagen.workers(spark),
            round_epoch=0,
        )
        for ep, mode in enumerate(modes, start=1):
            eng.run_round(round_epoch=ep, frontier_commit=mode)
        return store

    seq = ("patch", "rewrite", "patch", "patch")
    store_m = drive(seq, "mixed")
    store_r = drive(("rewrite",) * len(seq), "allrw")
    got = sorted(map(tuple, store_m.read(spark, "frontier").collect()))
    want = sorted(map(tuple, store_r.read(spark, "frontier").collect()))
    assert got == want
    # the fold actually happened: bootstrap=snap1; round k=snap k+1: the
    # patch round stacked a layer, the rewrite round folded it, and the
    # final two patch rounds stacked two on the folded base
    lineage = {m["snapshot_id"]: m for m in store_m.lineage()}
    assert len(lineage[2]["tables"]["frontier"]["delta_layers"]) == 1
    assert lineage[3]["tables"]["frontier"]["delta_layers"] == []
    assert len(lineage[5]["tables"]["frontier"]["delta_layers"]) == 2
    with pytest.raises(ValueError):
        RoundEngine(spark, store_m, seed=7).run_round(
            round_epoch=len(seq) + 1, frontier_commit="append"
        )
    # sidecar stayed consistent throughout
    sc = sorted(map(tuple, store_m.read(spark, RoundEngine.OPEN_SIDECAR).collect()))
    open_want = sorted(
        map(
            tuple,
            store_m.read(spark, "frontier")
            .filter("not pending and not closed")
            .select(*RoundEngine.SIDECAR_COLS)
            .collect(),
        )
    )
    assert sc == open_want


def test_open_sidecar_tracks_open_set_and_claims_match(spark, tmp_path):
    """r05 open-set sidecar (VERDICT r04 #1): across mixed rounds —
    completions (incl. cpu→gpu promotions and postgres short-circuits),
    reaping, cpu AND gpu claim stages — the sidecar stays EXACTLY the
    frontier's open set (content + exact manifest row count), and the
    sidecar-pruned claim output is identical to a full-scan claim over
    the same snapshot."""
    from crawlingathome_server_spark.operators import claim as claim_op
    from crawlingathome_server_spark.operators import transitions as tr

    store = CheckpointStore(str(tmp_path / "osc"), n_partitions=8)
    eng = RoundEngine(spark, store, seed=11)
    fr = dedup_by_number(datagen.frontier(spark, n=500))
    eng.bootstrap(fr, datagen.workers(spark), round_epoch=0)

    def check_invariant():
        frontier = store.read(spark, "frontier")
        want = sorted(
            map(tuple, frontier.filter("not pending and not closed")
                .select(*RoundEngine.SIDECAR_COLS).collect())
        )
        got = sorted(map(tuple, store.read(spark, RoundEngine.OPEN_SIDECAR).collect()))
        assert got == want
        meta = store.read_manifest(store.latest_snapshot_id())["tables"][
            RoundEngine.OPEN_SIDECAR
        ]
        assert meta["total_rows_exact"] is True
        assert meta["total_rows"] == len(want)

    check_invariant()
    for ep, stage, wt in ((1, "cpu", "CPU"), (2, "gpu", "GPU"), (3, "cpu", "CPU")):
        epoch = 1_600_000_000 + ep * 600
        pending = store.read(spark, "frontier").filter("pending and not closed")
        done = sorted(r["number"] for r in pending.collect())[::3]
        comps = None
        if done:
            comps = spark.createDataFrame(
                [(n, f"u{n % 5}", f"w{n % 5}", "cpu" if n % 3 else "hybrid", 2,
                  ("postgres://x" if n % 5 == 0 else f"http://g/{n}")
                  if n % 3 else None, epoch)
                 for n in done],
                schema=schemas.COMPLETIONS,
            )
        # full-scan claim over the SAME post-transition snapshot the
        # engine will claim from, computed independently
        frontier0 = store.read(spark, "frontier")
        if comps is not None:
            frontier0 = tr.complete_jobs(frontier0, comps)
        # (no reaping in this scenario: worker heartbeats never go stale)
        expect = claim_op.claim_batch(
            frontier0, None, seed=11 + epoch, stage=stage,
            default_budget=eng.host_default_budget, with_payload=False,
        )
        expect_rows = sorted(
            (r["number"], r["order_key"]) for r in expect.collect()
        )
        res = eng.run_round(round_epoch=epoch, completions=comps, stage=stage,
                            worker_type=wt)
        claimed = store.read(spark, "frontier").filter(
            F.col("claim_epoch") == epoch
        )
        assert sorted(r["number"] for r in claimed.collect()) == [
            n for n, _ in expect_rows
        ]
        assert res.n_claims == len(expect_rows)
        check_invariant()
    # the sidecar never triggered a full-table rewrite after bootstrap:
    # every base bucket still carries the bootstrap's written_by
    meta = store.read_manifest(store.latest_snapshot_id())["tables"][
        RoundEngine.OPEN_SIDECAR
    ]
    assert all(p["written_by"] == 1 for p in meta["partitions"].values())
    assert len(meta["delta_layers"]) == 3


def test_expand_frontier_respects_robots_disallow(spark):
    pages = datagen.pages(spark, seed=41, n=800)
    rb = datagen.robots(spark)  # hosts 0,5,10,... disallow /private,/admin
    # rewrite some urls onto disallowed paths for host0000
    pages2 = pages.withColumn(
        "url",
        F.when(
            F.col("url").contains("host0000") & (F.pmod(F.xxhash64("url"), F.lit(2)) == 0),
            F.regexp_replace("url", r"/p/", "/private/"),
        ).otherwise(F.col("url")),
    )
    out = expand_frontier(pages2, rb, seed=1)
    assert out.filter(F.col("canon_url").contains("/private/")).count() == 0
    # non-disallowed urls still scheduled
    assert out.count() > 0


def test_expand_frontier_robots_allow_carveout(spark):
    """REP longest-match (r04): `Allow: /private/pub` under
    `Disallow: /private` schedules the carve-out and still drops the
    rest of /private."""
    import datetime as dt

    ts = dt.datetime(2020, 9, 13, tzinfo=dt.timezone.utc)
    mk = lambda p: (f"http://host0000.example.com{p}", ts, b"<p>x</p>", "t", "en")
    pages = spark.createDataFrame(
        [mk("/private/pub/doc1"), mk("/private/secret/doc2"), mk("/p/open")],
        schema=schemas.PAGES,
    )
    rb = datagen.robots(spark)  # host0000: disallow /private,/admin; allow /private/pub
    got = sorted(r["canon_url"] for r in expand_frontier(pages, rb, seed=1).collect())
    assert got == [
        "http://host0000.example.com/p/open",
        "http://host0000.example.com/private/pub/doc1",
    ], got


def test_delta_commit_inherits_unchanged_buckets(spark, tmp_path):
    """A round touching few keys rewrites only their hash buckets; the
    others are inherited by reference from the parent manifest — and the
    assembled table is byte-equal to a full rewrite."""
    from crawlingathome_server_spark.sources.checkpoint import UNCHANGED

    store = CheckpointStore(str(tmp_path / "d"), n_partitions=8)
    fr = dedup_by_number(datagen.frontier(spark, n=400))
    store.commit({"frontier": fr}, seed=1, round_epoch=0)

    # flip 3 rows' pending flag; declare exactly those keys as the delta
    changed_keys = fr.limit(3).select("number")
    from crawlingathome_server_spark.operators import transitions as tr

    fr2 = tr.release_claims(
        claim_op.apply_claims(
            fr,
            changed_keys.withColumn("assigned_worker", F.lit("w")),
            round_epoch=7,
        ),
        spark.createDataFrame([], "number long"),
    )
    sid = store.commit(
        {"frontier": fr2}, seed=1, round_epoch=1, deltas={"frontier": changed_keys}
    )
    meta = store.read_manifest(sid)["tables"]["frontier"]
    written_by = {p["written_by"] for p in meta["partitions"].values()}
    assert 1 in written_by and sid in written_by  # mix of inherited + new
    n_new = sum(1 for p in meta["partitions"].values() if p["written_by"] == sid)
    assert 1 <= n_new <= 3  # at most one bucket per changed key

    back = store.read(spark, "frontier", sid)
    want = sorted(map(tuple, fr2.collect()))
    got = sorted(map(tuple, back.collect()))
    assert got == want

    # UNCHANGED sentinel: zero new files, identical reads
    sid2 = store.commit(
        {"frontier": fr2}, seed=1, round_epoch=2, deltas={"frontier": UNCHANGED}
    )
    meta2 = store.read_manifest(sid2)["tables"]["frontier"]
    assert all(p["written_by"] != sid2 for p in meta2["partitions"].values())
    assert sorted(map(tuple, store.read(spark, "frontier", sid2).collect())) == want


def test_append_delta_commit(spark, tmp_path):
    """Append-delta commit: changed buckets are rebuilt from the PARENT's
    bucket dirs ∓ removals ∪ new rows (never a full-table scan); all
    other buckets are inherited by reference; read-back equals the
    logical parent − removed + appended content exactly."""
    from crawlingathome_server_spark.sources.checkpoint import Append

    store = CheckpointStore(str(tmp_path / "ap"), n_partitions=64)

    def rows(lo, hi, epoch):
        return spark.range(lo, hi).select(
            F.concat(F.lit("u"), F.col("id")).alias("canon_url"),
            F.lit(epoch).cast("long").alias("seen_epoch"),
        )

    base = rows(0, 500, 1)
    store.commit({"t": base}, seed=1, round_epoch=0)
    new = rows(500, 505, 2)
    removed = spark.range(0, 3).select(F.concat(F.lit("u"), F.col("id")).alias("canon_url"))
    expected = sorted(
        map(
            tuple,
            base.join(removed, on="canon_url", how="left_anti")
            .unionByName(new)
            .collect(),
        )
    )
    sid = store.commit(
        {"t": base.join(removed, "canon_url", "left_anti").unionByName(new)},
        seed=1,
        round_epoch=1,
        deltas={"t": Append(new, remove_keys=removed)},
    )
    assert sorted(map(tuple, store.read(spark, "t", sid).collect())) == expected
    parts = store.read_manifest(sid)["tables"]["t"]["partitions"]
    n_new = sum(1 for p in parts.values() if p["written_by"] == sid)
    assert 1 <= n_new <= 8  # ≤ one bucket per touched key
    assert sum(1 for p in parts.values() if p["written_by"] == 1) == 64 - n_new
    # row accounting survives the partial rebuild
    assert store.read_manifest(sid)["tables"]["t"]["total_rows"] == 502

    # append-only (no removals) on top
    sid2 = store.commit(
        {"t": store.read(spark, "t", sid).unionByName(rows(505, 507, 3))},
        seed=1,
        round_epoch=2,
        deltas={"t": Append(rows(505, 507, 3))},
    )
    back2 = sorted(map(tuple, store.read(spark, "t", sid2).collect()))
    assert len(back2) == 504 and ("u505", 3) in back2 and ("u506", 3) in back2


def test_patch_delta_commit(spark, tmp_path):
    """Merge-on-read Patch commits: layers replace rows by key and delete
    by tombstone without touching base buckets; reads reconstruct
    (latest layer wins); the chain folds into a full rewrite at
    patch_layers_max; expired snapshots keep referenced layers alive."""
    from crawlingathome_server_spark.sources.checkpoint import Patch

    store = CheckpointStore(str(tmp_path / "mor"), n_partitions=8, patch_layers_max=3)

    def rows(lo, hi, epoch):
        return spark.range(lo, hi).select(
            F.concat(F.lit("u"), F.col("id")).alias("canon_url"),
            F.lit(epoch).cast("long").alias("seen_epoch"),
        )

    base = rows(0, 300, 1)
    store.commit({"t": base}, seed=1, round_epoch=0)

    # layer 1: replace 40 keys; layer 2: replace 20 (10 overlapping) and
    # delete 5 others — latest layer must win per key
    sid1 = store.commit(
        {"t": base}, seed=1, round_epoch=1, deltas={"t": Patch(rows(0, 40, 2))}
    )
    dead = spark.range(100, 105).select(F.concat(F.lit("u"), F.col("id")).alias("canon_url"))
    sid2 = store.commit(
        {"t": base}, seed=1, round_epoch=2,
        deltas={"t": Patch(rows(30, 50, 3), remove_keys=dead)},
    )
    got = {r["canon_url"]: r["seen_epoch"] for r in store.read(spark, "t", sid2).collect()}
    assert len(got) == 295
    assert got["u0"] == 2 and got["u29"] == 2      # layer 1 only
    assert got["u30"] == 3 and got["u49"] == 3     # layer 2 wins overlap
    assert "u100" not in got and got["u105"] == 1  # tombstoned vs untouched
    m2 = store.read_manifest(sid2)["tables"]["t"]
    assert len(m2["delta_layers"]) == 2
    assert all(p["written_by"] == 1 for p in m2["partitions"].values())
    assert m2["total_rows"] == 295

    # read_buckets reconstructs through layers too
    probe = spark.createDataFrame([("u35",), ("u0",)], "canon_url string")
    sub = {r["canon_url"]: r["seen_epoch"]
           for r in store.read_buckets(spark, "t", probe).collect()}
    assert sub["u35"] == 3 and sub["u0"] == 2

    # bucket-granular deltas on a layered table must be refused
    with pytest.raises(ValueError, match="merge-on-read"):
        store.commit(
            {"t": base}, seed=1, round_epoch=3,
            deltas={"t": probe.select(F.col("canon_url"))},
        )

    # third layer hits patch_layers_max... the NEXT patch folds: content
    # comes from the tables plan, layers clear, buckets rewrite
    want = store.read(spark, "t", sid2)
    sid3 = store.commit(
        {"t": want}, seed=1, round_epoch=3, deltas={"t": Patch(rows(200, 210, 4))}
    )
    assert len(store.read_manifest(sid3)["tables"]["t"]["delta_layers"]) == 3
    new5 = rows(210, 220, 5)
    current = (
        store.read(spark, "t", sid3)
        .join(new5.select("canon_url"), "canon_url", "left_anti")
        .unionByName(new5)
    )  # caller contract: the tables plan IS parent ∓ delta
    sid4 = store.commit(
        {"t": current}, seed=1, round_epoch=4, deltas={"t": Patch(new5)}
    )
    m4 = store.read_manifest(sid4)["tables"]["t"]
    assert m4["delta_layers"] == []  # folded
    assert all(p["written_by"] == sid4 for p in m4["partitions"].values() if p["path"])
    got4 = {r["canon_url"]: r["seen_epoch"] for r in store.read(spark, "t", sid4).collect()}
    assert len(got4) == 295 and got4["u205"] == 4 and got4["u215"] == 5

    # expire: surviving manifests reference sid1/sid2's layers — they live
    want_rows = sorted(map(tuple, store.read(spark, "t", sid3).collect()))
    store.expire_snapshots(keep_last=2)  # keeps sid3, sid4
    assert sorted(map(tuple, store.read(spark, "t", sid3).collect())) == want_rows


def test_patch_column_granular(spark, tmp_path):
    """Column-granular Patch layers: a layer carries (key, state columns)
    only; reconstruction overwrites exactly those columns of the matched
    base rows (latest layer's column-vector wins, NULL state values
    included); payload columns pass through; tombstones drop rows;
    chains of mismatched granularity are refused; and a narrow
    read_buckets prunes the base parquet scan to the requested columns."""
    from crawlingathome_server_spark.sources.checkpoint import Patch

    store = CheckpointStore(str(tmp_path / "colmor"), n_partitions=8)
    base = spark.range(0, 200).select(
        F.col("id").alias("number"),
        F.concat(F.lit("http://payload/"), F.col("id")).alias("url"),
        F.lit(False).alias("pending"),
        F.lit(None).cast("string").alias("completor"),
    )
    store.commit({"t": base}, seed=1, round_epoch=0)

    def patch_rows(lo, hi, worker):
        return spark.range(lo, hi).select(
            F.col("id").alias("number"),
            F.lit(True).alias("pending"),
            F.lit(worker).cast("string").alias("completor"),
        )

    sid1 = store.commit(
        {"t": base}, seed=1, round_epoch=1,
        deltas={"t": Patch(patch_rows(0, 30, "w1"), columns=("pending", "completor"))},
    )
    # layer 2 overlaps 20-29 and releases them (pending back to false,
    # completor to NULL — the null must WIN, not fall back to w1)
    rel = spark.range(20, 40).select(
        F.col("id").alias("number"),
        F.lit(False).alias("pending"),
        F.lit(None).cast("string").alias("completor"),
    )
    sid2 = store.commit(
        {"t": base}, seed=1, round_epoch=2,
        deltas={"t": Patch(rel, columns=("pending", "completor"))},
    )
    got = {r["number"]: r for r in store.read(spark, "t", sid2).collect()}
    assert len(got) == 200
    assert got[5]["pending"] is True and got[5]["completor"] == "w1"
    assert got[25]["pending"] is False and got[25]["completor"] is None
    assert got[35]["pending"] is False and got[50]["pending"] is False
    assert all(got[i]["url"] == f"http://payload/{i}" for i in (5, 25, 100))
    m = store.read_manifest(sid2)["tables"]["t"]
    assert m["delta_layers"][0]["columns"] == ["pending", "completor"]

    # layer bytes: only key+state columns are in the layer parquet
    lp = m["delta_layers"][0]["rows_path"]
    assert sorted(spark.read.parquet(lp).columns) == ["completor", "number", "pending"]

    # granularity mismatch refused (row-granular atop column-granular)
    with pytest.raises(ValueError, match="fold"):
        store.commit(
            {"t": base}, seed=1, round_epoch=3, deltas={"t": Patch(base.limit(3))}
        )

    # narrow read_buckets prunes the BASE parquet scan to the requested
    # columns (the wide url payload never leaves the reader)
    probe = spark.createDataFrame([(5,), (25,)], "number long")
    sub = store.read_buckets(spark, "t", probe, columns=("number", "pending"))
    plan = sub._jdf.queryExecution().executedPlan().toString()
    import re as _re

    scans = _re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert scans and all("url" not in s for s in scans), plan
    got_sub = {r["number"]: r["pending"] for r in sub.collect()}
    assert got_sub[5] is True and got_sub[25] is False


def test_patch_upsert_layer(spark, tmp_path):
    """r05 upsert patches: df rows insert-or-replace, tombstones are
    no-ops for absent keys, a key in both df and remove_keys resolves to
    the df row, and total_rows follows the caller's rows_delta (flagged
    inexact when not declared, exact again after a fold)."""
    from crawlingathome_server_spark.sources.checkpoint import Patch

    store = CheckpointStore(str(tmp_path / "ups"), n_partitions=4, patch_layers_max=4)

    def rows(lo, hi, epoch):
        return spark.range(lo, hi).select(
            F.concat(F.lit("u"), F.col("id")).alias("canon_url"),
            F.lit(epoch).cast("long").alias("seen_epoch"),
        )

    base = rows(0, 100, 1)
    store.commit({"t": base}, seed=1, round_epoch=0)

    # upsert: replace u90-99, INSERT u100-109; tombstone u0-4 (live),
    # u500-504 (absent -> no-op), and u95-99 (also in df -> df wins)
    touched = spark.range(0, 5).union(spark.range(500, 505)).union(
        spark.range(95, 100)
    ).select(F.concat(F.lit("u"), F.col("id")).alias("canon_url"))
    sid1 = store.commit(
        {"t": base}, seed=1, round_epoch=1,
        deltas={"t": Patch(rows(90, 110, 2), remove_keys=touched,
                           upsert=True, rows_delta=10 - 5)},
    )
    got = {r["canon_url"]: r["seen_epoch"] for r in store.read(spark, "t", sid1).collect()}
    assert len(got) == 105
    assert "u0" not in got and "u4" not in got          # tombstoned
    assert got["u95"] == 2 and got["u99"] == 2          # df beats tombstone
    assert got["u100"] == 2 and got["u109"] == 2        # inserted
    assert got["u5"] == 1                               # untouched
    m1 = store.read_manifest(sid1)["tables"]["t"]
    assert m1["total_rows"] == 105 and m1["total_rows_exact"] is True

    # without rows_delta the total carries over flagged inexact...
    sid2 = store.commit(
        {"t": base}, seed=1, round_epoch=2,
        deltas={"t": Patch(rows(200, 203, 3), upsert=True)},
    )
    m2 = store.read_manifest(sid2)["tables"]["t"]
    assert m2["total_rows_exact"] is False
    assert store.read(spark, "t", sid2).count() == 108
    # ...and an UNCHANGED commit propagates the flag
    sid3 = store.commit(
        {"t": base}, seed=1, round_epoch=3, deltas={"t": "__unchanged__"}
    )
    assert (
        store.read_manifest(sid3)["tables"]["t"]["total_rows_exact"] is False
    )

    # fold (full rewrite) restores exact accounting
    current = store.read(spark, "t", sid3)
    sid4 = store.commit({"t": current}, seed=1, round_epoch=4)
    m4 = store.read_manifest(sid4)["tables"]["t"]
    assert m4["total_rows"] == 108 and m4["total_rows_exact"] is True

    # guard rails: upsert is row-granular only; rows_delta needs upsert
    with pytest.raises(ValueError, match="row-granular"):
        Patch(base, columns=("seen_epoch",), upsert=True)
    with pytest.raises(ValueError, match="rows_delta"):
        Patch(base, rows_delta=1)


def test_chain_max_fold_repairs_inexact_upsert_totals(spark, tmp_path):
    """VERDICT r05 #5: an upsert layer committed WITHOUT rows_delta
    leaves total_rows flagged inexact; the AUTOMATIC chain-at-max fold
    (a Patch commit that would exceed patch_layers_max falls back to the
    full rewrite of the caller's tables plan) must recompute the total
    from the written files — exact again and equal to a full count."""
    from crawlingathome_server_spark.sources.checkpoint import Patch

    store = CheckpointStore(str(tmp_path / "fold"), n_partitions=4, patch_layers_max=2)

    def rows(lo, hi, epoch):
        return spark.range(lo, hi).select(
            F.concat(F.lit("u"), F.col("id")).alias("canon_url"),
            F.lit(epoch).cast("long").alias("seen_epoch"),
        )

    store.commit({"t": rows(0, 50, 1)}, seed=1, round_epoch=0)
    # two undeclared upserts: 10 inserts each -> totals stuck at 50, inexact
    for i in (1, 2):
        sid = store.commit(
            {"t": rows(0, 50, 1)}, seed=1, round_epoch=i,
            deltas={"t": Patch(rows(100 * i, 100 * i + 10, i + 1), upsert=True)},
        )
        meta = store.read_manifest(sid)["tables"]["t"]
        assert meta["total_rows"] == 50 and meta["total_rows_exact"] is False
        assert len(meta["delta_layers"]) == i
    # third Patch would make layer 3 > max=2 -> the commit FOLDS: it
    # ignores the delta and full-writes the tables plan (here: the true
    # current content plus the would-be patch rows, like RoundEngine
    # always passes)
    current = store.read(spark, "t").unionByName(rows(300, 305, 4))
    sid = store.commit(
        {"t": current}, seed=1, round_epoch=3,
        deltas={"t": Patch(rows(300, 305, 4), upsert=True)},
    )
    meta = store.read_manifest(sid)["tables"]["t"]
    assert meta["delta_layers"] == []  # chain cleared
    assert meta["total_rows_exact"] is True
    assert meta["total_rows"] == store.read(spark, "t", sid).count() == 75


def test_adaptive_patch_layers_bound(spark, tmp_path):
    """VERDICT r05 #4: patch_layers_max='auto' sizes the merge-on-read
    chain bound per table from the measured trade-off max* =
    sqrt(fold_cost / half_slope) — small tables fold early, big tables
    keep longer (cheaper-per-round) chains — and the live chain actually
    folds at the adaptive bound."""
    import os as _os

    from crawlingathome_server_spark.sources.checkpoint import Patch

    with pytest.raises(ValueError, match="auto"):
        CheckpointStore(str(tmp_path / "bad"), patch_layers_max="sometimes")

    store = CheckpointStore(str(tmp_path / "auto"), n_partitions=4,
                            patch_layers_max="auto")
    # no table yet: fixed-overhead floor -> sqrt(2.0/0.105) ~ 4
    assert store.layers_bound({}) == 4
    # a 420 MB base at the 40 MB/s prior: fold ~12.5 s -> bound 11
    big = tmp_path / "bigpart"
    big.mkdir()
    f = big / "part-0.parquet"
    f.write_bytes(b"")
    _os.truncate(f, 420_000_000)
    meta_big = {"partitions": {"0": {"path": str(big), "rows": 1}}}
    assert store.layers_bound(meta_big) == 11
    # a MEASURED faster fold shortens the chain it justifies
    assert store.layers_bound({**meta_big, "fold_bps": 200_000_000}) == 6
    # monotone in table size
    assert store.layers_bound({}) <= store.layers_bound(meta_big) <= 256

    # end-to-end: a tiny table folds at the adaptive bound (4)
    def rows(epoch):
        return spark.range(0, 200).select(
            F.concat(F.lit("u"), F.col("id")).alias("canon_url"),
            F.lit(epoch).cast("long").alias("seen_epoch"),
        )

    store.commit({"t": rows(0)}, seed=1, round_epoch=0)
    bound = store.adaptive_layers_bound("t")
    assert bound == 4
    for i in range(1, bound + 2):
        store.commit(
            {"t": rows(i)}, seed=1, round_epoch=i,
            deltas={"t": Patch(rows(i).limit(10), upsert=True, rows_delta=0)},
        )
        n_layers = len(
            store.read_manifest(store.latest_snapshot_id())["tables"]["t"][
                "delta_layers"
            ]
        )
        # chain stacks up to the bound, then the next Patch folds it
        assert n_layers == (i if i <= bound else 0)
    assert store.read(spark, "t").count() == 200


def test_patch_duplicate_keys_fail_loud(spark, tmp_path):
    """ADVICE r04: duplicate keys within one Patch layer would resolve
    nondeterministically in the reconstruction window — the commit must
    refuse them before the manifest exists."""
    from crawlingathome_server_spark.sources.checkpoint import Patch

    store = CheckpointStore(str(tmp_path / "dup"), n_partitions=4)
    base = spark.range(0, 50).select(
        F.concat(F.lit("u"), F.col("id")).alias("canon_url"),
        F.lit(1).cast("long").alias("seen_epoch"),
    )
    store.commit({"t": base}, seed=1, round_epoch=0)
    dup = base.limit(10).unionByName(base.limit(3))
    for extra in ({}, {"upsert": True}):
        with pytest.raises(ValueError, match="duplicate keys"):
            store.commit(
                {"t": base}, seed=1, round_epoch=1,
                deltas={"t": Patch(dup, **extra)},
            )
    assert store.latest_snapshot_id() == 1  # no manifest written


def test_delta_key_column_order_mismatch_fails_loud(spark, tmp_path):
    """A delta df that carries the table key BY NAME but not FIRST would
    derive changed buckets over the wrong column while rows partition by
    the real key — rows would land in buckets the manifest never records
    and silently vanish on read (ADVICE r03). The commit must refuse."""
    from crawlingathome_server_spark.sources.checkpoint import Append

    store = CheckpointStore(str(tmp_path / "ko"), n_partitions=16)
    base = spark.range(0, 200).select(
        F.concat(F.lit("u"), F.col("id")).alias("canon_url"),
        F.lit(1).cast("long").alias("seen_epoch"),
    )
    store.commit({"t": base}, seed=1, round_epoch=0)
    # key present by name but NOT first → ambiguous, must raise
    bad = spark.range(200, 205).select(
        F.lit(2).cast("long").alias("seen_epoch"),
        F.concat(F.lit("u"), F.col("id")).alias("canon_url"),
    )
    with pytest.raises(ValueError, match="not first"):
        store.commit(
            {"t": base.unionByName(bad)},
            seed=1,
            round_epoch=1,
            deltas={"t": Append(bad)},
        )
    with pytest.raises(ValueError, match="not first"):
        store.commit(
            {"t": base}, seed=1, round_epoch=1, deltas={"t": bad}
        )
    # a RENAMED first-column key (no shadow of the table key name) is the
    # documented contract and still works
    renamed = spark.range(0, 3).select(
        F.concat(F.lit("u"), F.col("id")).alias("expired_url")
    )
    sid = store.commit(
        {"t": base.join(
            renamed.select(F.col("expired_url").alias("canon_url")),
            "canon_url",
            "left_anti",
        )},
        seed=1,
        round_epoch=1,
        deltas={"t": renamed},
    )
    assert store.read(spark, "t", sid).count() == 197


@pytest.mark.parametrize("fuzz_seed", [11, 20260817])
def test_append_delta_fuzz_vs_model(spark, tmp_path, fuzz_seed):
    """Model-based fuzz: a random sequence of Append commits (appends +
    removals, sometimes re-adding previously removed keys, sometimes
    empty batches) must keep the store read-back equal to a plain Python
    dict model after EVERY commit — including across a mid-sequence
    re-bucketing compaction and snapshot expiry."""
    import random

    from crawlingathome_server_spark.sources.checkpoint import Append

    rng = random.Random(fuzz_seed)
    store = CheckpointStore(str(tmp_path / "fz"), n_partitions=8)
    model: dict[str, int] = {}

    def df_of(items):
        if not items:
            return spark.createDataFrame([], "canon_url string, seen_epoch long")
        return spark.createDataFrame(items, "canon_url string, seen_epoch long")

    # first commit through the Append path too (schema-only tables entry)
    first = [(f"u{i}", 0) for i in range(40)]
    model.update(dict(first))
    store.commit(
        {"t": df_of([])}, seed=1, round_epoch=0, deltas={"t": Append(df_of(first))}
    )
    universe = [f"u{i}" for i in range(120)]
    for ep in range(1, 7):
        removals = [k for k in model if rng.random() < 0.25]
        adds = [
            (k, ep)
            for k in rng.sample(universe, rng.randint(0, 25))
            if k not in model or k in removals
        ]
        for k in removals:
            del model[k]
        model.update(dict(adds))
        store.commit(
            {"t": df_of([])},
            seed=1,
            round_epoch=ep,
            deltas={
                "t": Append(
                    df_of(adds),
                    remove_keys=df_of([(k, 0) for k in removals]).select("canon_url")
                    if removals
                    else None,
                )
            },
        )
        got = {
            r["canon_url"]: r["seen_epoch"] for r in store.read(spark, "t").collect()
        }
        assert got == model, f"epoch {ep}"
        if ep == 3:
            store.compact(spark, seed=1, round_epoch=ep, n_partitions=16)
            got = {
                r["canon_url"]: r["seen_epoch"]
                for r in store.read(spark, "t").collect()
            }
            assert got == model, "post-compact"
        if ep == 5:
            store.expire_snapshots(keep_last=2)
            got = {
                r["canon_url"]: r["seen_epoch"]
                for r in store.read(spark, "t").collect()
            }
            assert got == model, "post-expiry"


def test_compact_and_expire(spark, tmp_path):
    """compact() collapses delta chains; expire_snapshots() removes old
    manifests but never deletes a bucket dir a survivor still references."""
    store = CheckpointStore(str(tmp_path / "gc"), n_partitions=4)
    fr = dedup_by_number(datagen.frontier(spark, n=200))
    store.commit({"frontier": fr}, seed=1, round_epoch=0)
    for ep in (1, 2):
        keys = fr.limit(2).select("number")
        store.commit({"frontier": fr}, seed=1, round_epoch=ep, deltas={"frontier": keys})
    want = sorted(map(tuple, store.read(spark, "frontier").collect()))

    sid = store.compact(spark, seed=1, round_epoch=3)
    got = sorted(map(tuple, store.read(spark, "frontier", sid).collect()))
    assert got == want
    meta = store.read_manifest(sid)["tables"]["frontier"]
    assert all(p["written_by"] == sid for p in meta["partitions"].values())

    # expire everything but the last 2; the delta snapshots referenced s1's
    # buckets, but survivors (3,4) are post-compaction → safe to drop
    expired = store.expire_snapshots(keep_last=2)
    assert expired == [1, 2]
    assert sorted(map(tuple, store.read(spark, "frontier").collect())) == want
    assert [m["snapshot_id"] for m in store.lineage()] == [4, 3]


def test_compact_rebucket(spark, tmp_path):
    """compact(n_partitions=32) re-buckets a store created with 8 buckets;
    later delta commits hash against the NEW count (pinned in the
    manifest), and a reopened store adopts it — read-back stays exact
    through the whole chain (VERDICT r2 'what's missing' #4)."""
    import pytest

    store = CheckpointStore(str(tmp_path / "rb"), n_partitions=8)
    fr = dedup_by_number(datagen.frontier(spark, n=300))
    store.commit({"frontier": fr}, seed=1, round_epoch=0)

    sid = store.compact(spark, seed=1, round_epoch=1, n_partitions=32)
    m = store.read_manifest(sid)
    assert m["n_partitions"] == 32
    assert len(m["tables"]["frontier"]["partitions"]) == 32
    assert store.n_partitions == 32
    want = sorted(map(tuple, fr.collect()))
    assert sorted(map(tuple, store.read(spark, "frontier", sid).collect())) == want

    # delta commit AFTER re-bucketing, through a REOPENED store instance
    # (simulates resume: the ctor arg says 8, the manifest says 32)
    store2 = CheckpointStore(str(tmp_path / "rb"), n_partitions=8)
    assert store2.n_partitions == 32
    changed_keys = fr.limit(3).select("number")
    fr2 = claim_op.apply_claims(
        fr, changed_keys.withColumn("assigned_worker", F.lit("w")), round_epoch=2
    )
    sid2 = store2.commit(
        {"frontier": fr2}, seed=1, round_epoch=2, deltas={"frontier": changed_keys}
    )
    m2 = store2.read_manifest(sid2)
    assert m2["n_partitions"] == 32
    parts = m2["tables"]["frontier"]["partitions"]
    n_new = sum(1 for p in parts.values() if p["written_by"] == sid2)
    assert 1 <= n_new <= 3  # delta hashed with the new 32-bucket fn
    assert sum(1 for p in parts.values() if p["written_by"] == sid) == 32 - n_new
    back = sorted(map(tuple, store2.read(spark, "frontier", sid2).collect()))
    assert back == sorted(map(tuple, fr2.collect()))

    # re-bucketing with a pending delta is an inheritance bug — refused
    with pytest.raises(ValueError, match="full rewrite"):
        store2.commit(
            {"frontier": fr2},
            seed=1,
            round_epoch=3,
            deltas={"frontier": changed_keys},
            n_partitions=64,
        )


def test_expire_keeps_referenced_buckets(spark, tmp_path):
    """A surviving delta snapshot inherits buckets from an expired one —
    those bucket dirs must survive expiration."""
    store = CheckpointStore(str(tmp_path / "gc2"), n_partitions=4)
    fr = dedup_by_number(datagen.frontier(spark, n=200))
    store.commit({"frontier": fr}, seed=1, round_epoch=0)  # s1: full
    keys = fr.limit(2).select("number")
    store.commit({"frontier": fr}, seed=1, round_epoch=1, deltas={"frontier": keys})  # s2
    store.commit({"frontier": fr}, seed=1, round_epoch=2, deltas={"frontier": keys})  # s3
    want = sorted(map(tuple, store.read(spark, "frontier").collect()))
    expired = store.expire_snapshots(keep_last=2)  # drops s1's manifest only
    assert expired == [1]
    # s2/s3 still reference s1's unchanged buckets → read must still work
    assert sorted(map(tuple, store.read(spark, "frontier").collect())) == want


def test_expand_frontier_follow_links(spark):
    """True frontier expansion: candidates come from the pages' outgoing
    hrefs — RELATIVE ones resolved against the page url (r04; previously
    silently dropped), canonicalized, deduped, budgeted."""
    pages = datagen.pages(spark, seed=51, n=300)
    out = expand_frontier(pages, None, seed=1, default_budget=1 << 20, follow_links=True)
    urls = [r["canon_url"] for r in out.collect()]
    assert len(urls) > 0
    assert all(u.startswith("http://") for u in urls)
    # the planted '/relative/skipN' hrefs resolve to absolute urls on the
    # page's own host and get scheduled
    rel = [u for u in urls if "/relative/skip" in u]
    assert rel, urls[:5]
    assert all(".example.com/relative/skip" in u for u in rel)
    # discovered links differ from the fetched page urls
    page_urls = {r["url"] for r in pages.select("url").collect()}
    assert not set(urls) <= page_urls
    # both link families present (same-host nexts and cross-host refs)
    assert any("/p/" in u for u in urls) and any("/x/" in u for u in urls)


def test_expand_frontier_follow_links_resolves_all_shapes(spark):
    """One synthetic page exercising every href shape end-to-end through
    expand_frontier: absolute kept, root-relative and ../-relative
    resolved (dot segments removed), scheme-relative gets the base
    scheme, mailto/javascript/ftp dropped."""
    import datetime as dt

    html = (
        b'<a href="http://other.com/abs">a</a>'
        b'<a href="/root/doc">b</a>'
        b'<a href="sibling">c</a>'
        b'<a href="../up/x?q=1">d</a>'
        b'<a href="//cdn.net/lib">e</a>'
        b'<a href="mailto:x@y.z">f</a>'
        b'<a href="javascript:void(0)">g</a>'
        b'<a href="ftp://files.com/z">h</a>'
    )
    pages = spark.createDataFrame(
        [("http://base.example.com/p/q/doc.html",
          dt.datetime(2020, 9, 13, tzinfo=dt.timezone.utc), html, "t", "en")],
        schema=schemas.PAGES,
    )
    out = expand_frontier(pages, None, seed=1, default_budget=1 << 20, follow_links=True)
    got = sorted(r["canon_url"] for r in out.collect())
    assert got == [
        "http://base.example.com/p/q/sibling",
        "http://base.example.com/p/up/x?q=1",
        "http://base.example.com/root/doc",
        "http://cdn.net/lib",
        "http://other.com/abs",
    ], got


def test_expand_frontier_honors_base_href(spark):
    """r05 (VERDICT r04 missing #3): a page with `<base href>` resolves
    its relative links against the base — absolute and root-relative
    behavior per RFC 3986 against the EFFECTIVE base; a relative base
    first resolves against the page url; pages without a base are
    untouched."""
    import datetime as dt

    links = (
        b'<a href="sibling">s</a>'
        b'<a href="/rooted/doc">r</a>'
        b'<a href="http://abs.com/x">a</a>'
    )
    ts = dt.datetime(2020, 9, 13, tzinfo=dt.timezone.utc)
    pages = spark.createDataFrame(
        [
            # absolute base on ANOTHER host: relative + root-relative
            # links move to base.net
            ("http://page.com/p/doc.html", ts,
             b'<base href="http://base.net/b/dir/">' + links, "t", "en"),
            # relative base: resolves against the page url first
            ("http://page.com/p/q/doc.html", ts,
             b'<base href="../up/">' + links, "t", "en"),
            # no base: page url is the base (control row)
            ("http://ctrl.com/p/doc.html", ts, links, "t", "en"),
        ],
        schema=schemas.PAGES,
    )
    out = expand_frontier(pages, None, seed=1, default_budget=1 << 20, follow_links=True)
    got = sorted(r["canon_url"] for r in out.collect())
    assert got == [
        "http://abs.com/x",
        "http://base.net/b/dir/sibling",
        "http://base.net/rooted/doc",
        "http://ctrl.com/p/sibling",
        "http://ctrl.com/rooted/doc",
        "http://page.com/p/up/sibling",
        "http://page.com/rooted/doc",
    ], got


def test_multi_round_state_machine_invariants(spark, tmp_path):
    """SURVEY §5 property checks over 4 rounds with completions mixed in:
    no job claimed twice while pending; closed is monotone; per-round
    claim sets are disjoint from still-pending prior claims."""
    eng, store = _engine(spark, tmp_path, n=300)
    rb = datagen.robots(spark)
    claimed_prior: set[int] = set()
    closed_prev: set[int] = set()
    for k in range(1, 5):
        fr_before = store.read(spark, "frontier")
        pending_before = {
            r["number"] for r in fr_before.filter("pending and not closed").collect()
        }
        # complete a third of the currently-pending claims
        done = sorted(pending_before)[::3]
        comps = None
        if done:
            comps = spark.createDataFrame(
                pd.DataFrame(
                    {
                        "number": done,
                        "worker_uuid": ["u"] * len(done),
                        "nickname": ["nick"] * len(done),
                        "kind": ["hybrid"] * len(done),
                        "count": [1] * len(done),
                        "gpu_url": [None] * len(done),
                        "epoch": [k] * len(done),
                    }
                ),
                schema=schemas.COMPLETIONS,
            )
        epoch = 1_600_100_000 + k * 300
        # shards the reaper will legitimately release this round (their
        # workers idled out) — those become claimable again by design
        released = {
            r["shard_number"]
            for r in store.read(spark, "workers")
            .filter(F.col("last_seen") <= epoch - 7200)
            .filter(F.col("shard_number").isNotNull())
            .collect()
        }
        eng.run_round(round_epoch=epoch, completions=comps, robots=rb)
        fr = store.read(spark, "frontier")
        rows = fr.collect()
        claimed_now = {r["number"] for r in rows if r["claim_epoch"] == epoch}
        # a job still pending from an earlier round is never re-claimed
        # (unless its claim was released by the reaper)
        assert not (claimed_now & (pending_before - set(done) - released))
        claimed_prior |= claimed_now
        closed_now = {r["number"] for r in rows if r["closed"]}
        assert closed_prev <= closed_now  # monotone
        closed_prev = closed_now
        # pending ∩ closed = ∅ in every snapshot
        assert not any(r["pending"] and r["closed"] for r in rows)


def test_gpu_stage_claims_match_simulator(spark):
    """Claim-ordering oracle for the GPU stage: after CPU completions
    promote jobs to the GPU queue (with 'postgres' short-circuits mixed
    in), the engine's GPU-stage claim set equals the simulator's."""
    from crawlingathome_server_spark.operators import transitions as tr

    fr_df = dedup_by_number(datagen.frontier(spark, n=500))
    budgets_pdf = datagen.gen_robots_pdf()
    budgets = dict(
        zip(budgets_pdf["host"], (int(x) for x in budgets_pdf["max_claims_per_round"]))
    )
    sim = Simulator()
    sim.add_jobs(
        [
            SimJob(
                number=r["number"], url=r["url"], host=r["host"],
                priority=r["priority"], gpu=r["gpu"], gpu_url=r["gpu_url"],
                pending=r["pending"], closed=r["closed"],
            )
            for r in fr_df.collect()
        ]
    )
    rb = datagen.robots(spark)

    # round 1: CPU claims, then CPU-complete them all (every 7th short-circuits)
    claims = claim_op.claim_batch(fr_df, rb, seed=21, use_oracle_hash=True)
    got = sorted(r["number"] for r in claims.collect())
    assert got == sim.claim_round(seed=21, round_epoch=1, budgets=budgets)
    fr = claim_op.apply_claims(fr_df, claims, round_epoch=1)
    gpu_urls = {
        n: ("postgres://x" if i % 7 == 0 else f"https://art/{n}")
        for i, n in enumerate(got)
    }
    for n in got:
        sim.complete(n, kind="cpu", nickname="c", count=0, gpu_url=gpu_urls[n])
    comps = spark.createDataFrame(
        pd.DataFrame(
            {
                "number": got,
                "worker_uuid": ["u"] * len(got),
                "nickname": ["c"] * len(got),
                "kind": ["cpu"] * len(got),
                "count": [0] * len(got),
                "gpu_url": [gpu_urls[n] for n in got],
                "epoch": [1] * len(got),
            }
        ),
        schema=schemas.COMPLETIONS,
    )
    fr = tr.complete_jobs(fr, comps)

    # round 2: GPU-stage claims must match the simulator exactly
    gpu_claims = claim_op.claim_batch(fr, rb, seed=22, stage="gpu", use_oracle_hash=True)
    got_gpu = sorted(r["number"] for r in gpu_claims.collect())
    want_gpu = sim.claim_round(seed=22, round_epoch=2, stage="gpu", budgets=budgets)
    assert got_gpu == want_gpu
    # short-circuited jobs never reached the GPU queue in either world
    shorted = {n for n in got if "postgres" in gpu_urls[n]}
    assert not (shorted & set(got_gpu))


def test_crawl_rounds_with_persisted_filter(spark, tmp_path):
    """Cross-round crawl loop: round 1 expands a frontier and commits the
    claimed URLs' bloom filter through the store; round 2 loads the
    filter (never rebuilding from the raw seen set) and must not
    re-schedule any round-1 URL — the reference's pending/closed
    once-only guarantee, persisted Iceberg-style (models.py:31-32)."""
    from crawlingathome_server_spark.operators import urlseen

    store = CheckpointStore(str(tmp_path / "crawl"), n_partitions=4)
    pages1 = datagen.pages(spark, seed=31, n=400)
    out1 = expand_frontier(pages1, None, seed=5, default_budget=1 << 20)
    claimed1 = out1.select("canon_url")
    flt, params = urlseen.build_seen_filter_auto(urlseen.hash_urls(claimed1))
    store.commit(
        {urlseen.FILTER_TABLE: flt}, seed=5, round_epoch=1,
        counters={"urlseen_params": params},
    )

    # round 2: half old pages, half new — from a fresh store read
    snap = store.latest_snapshot_id()
    params2 = store.read_manifest(snap)["counters"]["urlseen_params"]
    flt2 = store.read(spark, urlseen.FILTER_TABLE, snap)
    pages2 = datagen.pages(spark, seed=31, n=400).unionByName(
        datagen.pages(spark, seed=77, n=200)
    )
    out2 = expand_frontier(
        pages2, None, seed=6, default_budget=1 << 20, seen_filter=(flt2, params2)
    )
    round1 = {r["canon_url"] for r in claimed1.collect()}
    round2 = {r["canon_url"] for r in out2.select("canon_url").collect()}
    assert not round1 & round2  # bloom has no false negatives
    assert round2  # the new pages did get scheduled (modulo rare FPs)


def _crawl_pages(spark, r, n=300):
    # half the urls repeat across every round (seed 40), half are new
    return datagen.pages(spark, seed=40, n=n // 2).unionByName(
        datagen.pages(spark, seed=400 + r, n=n // 2)
    )


def test_crawl_engine_rounds_and_resume(spark, tmp_path):
    """CrawlEngine: (1) a URL claimed in round k is never re-claimed in
    round k+1 (persisted seen-set); (2) a crawl interrupted after round 2
    and resumed by a FRESH engine over the same store schedules round 3
    identically to the uninterrupted crawl — the north rule's 'resumes
    exactly where it stopped'."""
    from crawlingathome_server_spark.plans.rounds import CrawlEngine

    def run(store_dir, rounds, fresh_engine_at=None):
        store = CheckpointStore(str(store_dir), n_partitions=4)
        eng = CrawlEngine(spark, store, seed=7, default_budget=1 << 20)
        eng.bootstrap()
        out = {}
        for r in rounds:
            if fresh_engine_at == r:  # simulate restart: new engine, same store
                eng = CrawlEngine(spark, store, seed=7, default_budget=1 << 20)
            claimed = eng.run_round(_crawl_pages(spark, r), round_epoch=r)
            out[r] = sorted(x["canon_url"] for x in claimed.collect())
        return out, store

    cont, _ = run(tmp_path / "cont", [1, 2, 3])
    resumed, store_b = run(tmp_path / "resume", [1, 2, 3], fresh_engine_at=3)
    assert cont == resumed
    # seen-set exclusion: round 2+ never re-claims round-1 urls
    assert not set(cont[1]) & set(cont[2])
    assert not (set(cont[1]) | set(cont[2])) & set(cont[3])
    # lineage + metrics persisted
    m = store_b.read_manifest(store_b.latest_snapshot_id())
    assert m["counters"]["n_seen"] == len(cont[1]) + len(cont[2]) + len(cont[3])
    assert m["counters"]["urlseen_params"]["k"] >= 1


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_crawl_engine_filter_rebuild_on_capacity(spark, tmp_path, kind):
    """When the seen count outgrows the filter's sizing, the engine
    rebuilds at 2x capacity from the exact set (params change) and the
    rebuilt filter still excludes everything seen — both filter kinds."""
    from crawlingathome_server_spark.plans.rounds import CrawlEngine

    store = CheckpointStore(str(tmp_path / f"cap_{kind}"), n_partitions=4)
    eng = CrawlEngine(spark, store, seed=9, default_budget=1 << 20, filter_kind=kind)
    eng.bootstrap()
    eng.run_round(datagen.pages(spark, seed=50, n=200), round_epoch=1)
    p1 = store.read_manifest(store.latest_snapshot_id())["counters"]["urlseen_params"]
    # a much larger round forces total > capacity → rebuild
    eng.run_round(datagen.pages(spark, seed=51, n=1500), round_epoch=2)
    c2 = store.read_manifest(store.latest_snapshot_id())["counters"]
    assert c2["crawl_capacity"] >= c2["n_seen"]
    # round 3 re-presenting earlier pages claims nothing from them
    claimed3 = eng.run_round(datagen.pages(spark, seed=50, n=200), round_epoch=3)
    assert claimed3.count() == 0
    assert p1 is not None


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_crawl_engine_filter_kinds_rounds_and_resume(spark, tmp_path, kind):
    """Both filter kinds drive the crawl loop identically on the
    monotone path: claimed urls never re-claim, resume from the store
    schedules the next round exactly."""
    from crawlingathome_server_spark.plans.rounds import CrawlEngine

    store = CheckpointStore(str(tmp_path / f"fk_{kind}"), n_partitions=4)
    eng = CrawlEngine(spark, store, seed=7, default_budget=1 << 20, filter_kind=kind)
    eng.bootstrap()
    r1 = sorted(
        x["canon_url"]
        for x in eng.run_round(_crawl_pages(spark, 1), round_epoch=1).collect()
    )
    # resume with a FRESH engine over the same store
    eng2 = CrawlEngine(
        spark,
        CheckpointStore(str(tmp_path / f"fk_{kind}"), n_partitions=4),
        seed=7,
        default_budget=1 << 20,
        filter_kind=kind,
    )
    r1_again = sorted(
        x["canon_url"]
        for x in eng2.run_round(_crawl_pages(spark, 1), round_epoch=2).collect()
    )
    r2 = sorted(
        x["canon_url"]
        for x in eng2.run_round(_crawl_pages(spark, 2), round_epoch=3).collect()
    )
    assert r1_again == []  # persisted filter excludes round-1 urls
    assert not set(r1) & set(r2)
    params = store.read_manifest(store.latest_snapshot_id())["counters"][
        "urlseen_params"
    ]
    assert params["kind"] == kind


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_filter_delta_commit_inherits_buckets(spark, tmp_path, kind):
    """A grow round commits ONLY the filter buckets its new urls touch;
    the rest inherit by manifest reference — and the inherited+updated
    assembly still excludes everything ever seen."""
    from crawlingathome_server_spark.operators.urlseen import FILTER_TABLE
    from crawlingathome_server_spark.plans.rounds import CrawlEngine

    store = CheckpointStore(str(tmp_path / f"fd_{kind}"), n_partitions=64)
    eng = CrawlEngine(spark, store, seed=3, default_budget=1 << 20, filter_kind=kind)
    eng.bootstrap()
    # round 1 builds (full write) with capacity 2×200
    eng.run_round(datagen.pages(spark, seed=70, n=200), round_epoch=1)
    sid1 = store.latest_snapshot_id()
    # round 2: 15 fresh urls → grow path touches ≲15 of 64 filter buckets
    fresh = spark.range(15).select(
        F.concat(F.lit("http://fresh.example.org/q/"), F.col("id")).alias("url"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("warc_ts"),
    )
    n2 = eng.run_round(fresh, round_epoch=2).count()
    assert n2 == 15
    sid2 = store.latest_snapshot_id()
    parts = store.read_manifest(sid2)["tables"][FILTER_TABLE]["partitions"]
    by = {}
    for p in parts.values():
        by[p["written_by"]] = by.get(p["written_by"], 0) + 1
    assert by.get(sid2, 0) >= 1  # some buckets rewritten this round
    assert by.get(sid1, 0) >= 20, by  # most inherited from the build
    # assembled filter still excludes every seen url
    both = (
        datagen.pages(spark, seed=70, n=200).select("url", "warc_ts").unionByName(fresh)
    )
    assert eng.run_round(both, round_epoch=3).count() == 0


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_crawl_engine_ttl_recrawl(spark, tmp_path, kind):
    """ttl_rounds expiry: urls seen ≥ ttl rounds ago become claimable
    again (cuckoo deletes incrementally; bloom rebuilds). Fresh urls
    stay excluded; n_expired is recorded in the manifest counters."""
    from crawlingathome_server_spark.plans.rounds import CrawlEngine

    store = CheckpointStore(str(tmp_path / f"ttl_{kind}"), n_partitions=4)
    eng = CrawlEngine(
        spark,
        store,
        seed=7,
        default_budget=1 << 20,
        filter_kind=kind,
        ttl_rounds=2,
    )
    eng.bootstrap()
    a = sorted(
        x["canon_url"]
        for x in eng.run_round(_crawl_pages(spark, 10), round_epoch=1).collect()
    )
    b = sorted(
        x["canon_url"]
        for x in eng.run_round(_crawl_pages(spark, 11), round_epoch=2).collect()
    )
    # round 3: cutoff = 3-2 = 1 → round-1 urls expire; re-presenting both
    # page sets re-claims (almost exactly — filter FPs may drop a few)
    # the round-1 urls and none of round-2's
    pages_both = _crawl_pages(spark, 10).unionByName(_crawl_pages(spark, 11))
    r3 = sorted(
        x["canon_url"] for x in eng.run_round(pages_both, round_epoch=3).collect()
    )
    assert set(r3) <= set(a)  # never re-claims unexpired (round-2) urls
    assert len(r3) >= 0.97 * len(a)  # re-claims expired ones (minus FPs)
    c = store.read_manifest(store.latest_snapshot_id())["counters"]
    assert c["n_expired"] == len(a)
    # seen set bookkeeping: (a - expired + reclaimed) + b
    assert c["n_seen"] == len(b) + len(r3)
    # round 4: cutoff = 4-2 = 2 → round-2 urls (epoch 2) expire now;
    # round-3 claims (epoch 3) are fresh. Claimable = b plus the few a
    # urls FP-dropped at round 3 (they left the seen set unclaimed).
    r4 = {x["canon_url"] for x in eng.run_round(pages_both, round_epoch=4).collect()}
    assert r4 <= set(b) | (set(a) - set(r3))
    assert len(r4) >= 0.97 * len(b)
    assert store.read_manifest(store.latest_snapshot_id())["counters"][
        "n_expired"
    ] == len(b)


def test_crawl_engine_auto_rebucket(spark, tmp_path):
    """A seen-set that outgrows rows_per_bucket × n_partitions triggers a
    re-bucketing compaction after the round; the crawl continues exactly
    (delta commits hash against the new count, resume adopts it)."""
    from crawlingathome_server_spark.plans.rounds import CrawlEngine

    store = CheckpointStore(str(tmp_path / "arb"), n_partitions=2)
    eng = CrawlEngine(
        spark, store, seed=9, default_budget=1 << 20, rows_per_bucket=60
    )
    eng.bootstrap()
    c1 = eng.run_round(datagen.pages(spark, seed=60, n=150), round_epoch=1)
    n1 = c1.count()
    assert n1 > 120  # sanity: outgrew 60 × 2 buckets
    m = store.read_manifest(store.latest_snapshot_id())
    assert m["counters"].get("compaction") is True
    assert m["n_partitions"] * 60 >= n1
    assert m["n_partitions"] > 2 and store.n_partitions == m["n_partitions"]

    # crawl continues through a RESUMED engine on the re-bucketed store:
    # old urls stay excluded, new ones claim, read-back exact
    eng2 = CrawlEngine(
        spark,
        CheckpointStore(str(tmp_path / "arb"), n_partitions=2),
        seed=9,
        default_budget=1 << 20,
        rows_per_bucket=60,
    )
    assert eng2.store.n_partitions == m["n_partitions"]
    again = eng2.run_round(datagen.pages(spark, seed=60, n=150), round_epoch=2)
    assert again.count() == 0  # everything already seen
    fresh = eng2.run_round(datagen.pages(spark, seed=61, n=40), round_epoch=3)
    assert fresh.count() > 0
    seen = eng2.store.read(spark, "seen_urls")
    assert seen.count() == seen.select("canon_url").distinct().count()


@pytest.mark.parametrize("fuzz_seed", [20260816, 7, 424242])
def test_engine_matches_simulator_under_random_ops(spark, fuzz_seed):
    """Randomized state-machine equivalence: 4 rounds of claims followed
    by RANDOM completions (cpu/hybrid, postgres short-circuits, NULL-url
    invalids, unknown numbers, already-closed no-ops), releases, and
    gpu-invalid reverts — the engine's final per-job state must equal the
    pure-Python reference simulator's, bit for bit, and every claim round
    must match the simulator's ordering. (This fuzz caught the
    closed-job gpu_invalid_download bug.)"""
    import random

    from crawlingathome_server_spark.operators import transitions as tr

    rng = random.Random(fuzz_seed)
    fr = dedup_by_number(datagen.frontier(spark, n=400))
    budgets_pdf = datagen.gen_robots_pdf()
    budgets = dict(
        zip(budgets_pdf["host"], (int(x) for x in budgets_pdf["max_claims_per_round"]))
    )
    rb = datagen.robots(spark)
    sim = Simulator()
    sim.add_jobs(
        [
            SimJob(
                number=r["number"], url=r["url"], host=r["host"],
                priority=r["priority"], gpu=r["gpu"], gpu_url=r["gpu_url"],
                pending=r["pending"], closed=r["closed"],
                completor=r["completor"], cpu_completor=r["cpu_completor"],
            )
            for r in fr.collect()
        ]
    )
    numbers = sorted(sim.jobs)
    for k in range(1, 5):
        claims = claim_op.claim_batch(fr, rb, seed=300 + k, use_oracle_hash=True)
        got = sorted(r["number"] for r in claims.collect())
        want = sim.claim_round(seed=300 + k, round_epoch=k, budgets=budgets)
        assert got == want, f"round {k} claim ordering diverged"
        fr = claim_op.apply_claims(fr, claims, round_epoch=k)

        # random completions: real numbers + unknowns, all kinds of urls
        picks = rng.sample(numbers, 40) + [10**9 + k]
        comps = []
        for n in picks:
            kind = rng.choice(["cpu", "cpu", "hybrid", "gpu"])
            gpu_url = rng.choice(
                [None, "postgres://db/x", f"https://art/{n}", f"https://art2/{n}"]
            )
            nickname = rng.choice(["alice", "bob", "carol"])
            sim.complete(n, kind=kind, nickname=nickname, count=1, gpu_url=gpu_url)
            comps.append((n, "u", nickname, kind, 1, gpu_url, k))
        fr = tr.complete_jobs(
            fr,
            spark.createDataFrame(
                pd.DataFrame(
                    comps,
                    columns=["number", "worker_uuid", "nickname", "kind", "count",
                             "gpu_url", "epoch"],
                ),
                schema=schemas.COMPLETIONS,
            ),
        )
        # random releases + gpu-invalid reverts
        rel = rng.sample(numbers, 12)
        for n in rel:
            sim.release(n)
        fr = tr.release_claims(fr, spark.createDataFrame([(n,) for n in rel], ["number"]))
        inv = rng.sample(numbers, 12)
        for n in inv:
            sim.gpu_invalid_download(n)
        fr = tr.gpu_invalid_download(
            fr, spark.createDataFrame([(n,) for n in inv], ["number"])
        )
        fr = fr.localCheckpoint()  # keep the plan from growing across rounds

    got_state = {
        r["number"]: (r["pending"], r["closed"], r["gpu"], r["gpu_url"],
                      r["completor"], r["cpu_completor"])
        for r in fr.collect()
    }
    want_state = {n: sim.state_tuple(n) for n in numbers}
    diffs = {n: (got_state[n], want_state[n]) for n in numbers
             if got_state[n] != want_state[n]}
    assert not diffs, f"{len(diffs)} diverging jobs, e.g. {list(diffs.items())[:3]}"


def test_reaper_matches_simulator_under_random_heartbeats(spark):
    """Worker-lifecycle fuzz: random heartbeats then a reap at a random
    epoch — surviving worker sets and the released-shard effects on the
    frontier must match the simulator (U6 + U7 + U1 composed)."""
    import random

    from crawlingathome_server_spark.operators import transitions as tr
    from crawlingathome_server_spark.simulator import SimWorker

    rng = random.Random(99)
    fr = dedup_by_number(datagen.frontier(spark, n=300))
    wk = datagen.workers(spark)
    sim = Simulator()
    sim.add_jobs(
        [
            SimJob(
                number=r["number"], url=r["url"], host=r["host"],
                priority=r["priority"], gpu=r["gpu"], gpu_url=r["gpu_url"],
                pending=r["pending"], closed=r["closed"],
                completor=r["completor"], cpu_completor=r["cpu_completor"],
            )
            for r in fr.collect()
        ]
    )
    for r in wk.collect():
        sim.workers[r["uuid"]] = SimWorker(
            uuid=r["uuid"], type=r["type"], shard_number=r["shard_number"],
            first_seen=r["first_seen"], last_seen=r["last_seen"],
        )
    uuids = sorted(sim.workers)
    base = max(w.last_seen for w in sim.workers.values())
    # random heartbeats over a random subset
    beats = [(u, f"{rng.randint(0,100)}%", base + rng.randint(-9000, 3000))
             for u in rng.sample(uuids, len(uuids) // 2)]
    for u, p, e in beats:
        sim.heartbeat(u, e, p)
    wk = tr.heartbeat(
        wk,
        spark.createDataFrame(
            pd.DataFrame(beats, columns=["uuid", "progress", "epoch"])
        ),
    )
    now = base + rng.randint(0, 4000)
    sim.reap_idle(now)
    fr2, wk2 = tr.reap_idle(fr, wk, now)
    assert {r["uuid"] for r in wk2.collect()} == set(sim.workers)
    got = {r["number"]: (r["pending"], r["completor"]) for r in fr2.collect()}
    want = {n: (j.pending, j.completor) for n, j in sim.jobs.items()}
    assert got == want


def test_crawl_engine_survives_snapshot_expiry(spark, tmp_path):
    """expire_snapshots must keep every seen_urls bucket the surviving
    manifests inherit from older snapshots (delta commits reference
    ancestor dirs): after expiry the next crawl round still excludes all
    previously claimed URLs."""
    from crawlingathome_server_spark.plans.rounds import CrawlEngine

    store = CheckpointStore(str(tmp_path / "exp"), n_partitions=4)
    eng = CrawlEngine(spark, store, seed=7, default_budget=1 << 20)
    eng.bootstrap()
    seen_all = set()
    for r in (1, 2, 3):
        claimed = eng.run_round(_crawl_pages(spark, r), round_epoch=r)
        seen_all |= {x["canon_url"] for x in claimed.collect()}
    expired = store.expire_snapshots(keep_last=2)
    assert expired  # something actually got expired
    # the exact seen set is still fully readable (inherited buckets intact)
    left = store.read(spark, "seen_urls")
    assert {r["canon_url"] for r in left.collect()} == seen_all
    # and the next round still excludes everything previously claimed
    claimed4 = eng.run_round(_crawl_pages(spark, 4), round_epoch=4)
    got4 = {x["canon_url"] for x in claimed4.collect()}
    assert not got4 & seen_all


def test_crawl_fetch_list_survives_parent_snapshot_expiry(spark, tmp_path):
    """run_round's return value is the round's materialized claims, not a
    plan over the parent snapshot's seen/filter files: expiring every
    snapshot but the latest must not break the caller's first read, and
    that read must yield exactly the rows the round committed."""
    from crawlingathome_server_spark.plans.rounds import CrawlEngine

    store = CheckpointStore(str(tmp_path / "flx"), n_partitions=4)
    eng = CrawlEngine(spark, store, seed=7)
    eng.bootstrap()
    eng.run_round(_crawl_pages(spark, 1, n=400), round_epoch=1)
    fl = eng.run_round(_crawl_pages(spark, 2, n=400), round_epoch=2)
    assert store.expire_snapshots(keep_last=1)
    m = store.read_manifest(store.latest_snapshot_id())["counters"]
    assert fl.count() == m["n_claimed"] > 0
    stamped = {
        r["canon_url"]
        for r in store.read(spark, "seen_urls")
        .filter(F.col("seen_epoch") == 2)
        .collect()
    }
    assert {r["canon_url"] for r in fl.collect()} == stamped


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def test_crawl_fetch_list_pin_lifecycle(spark, tmp_path, monkeypatch):
    """Each engine pins at most one fetch list: round k's is released
    when round k+1 starts (so a long-lived engine does not pile up
    pinned copies), and a round that fails releases everything it
    cached, the previous pin included."""
    from crawlingathome_server_spark.plans.rounds import CrawlEngine

    store = CheckpointStore(str(tmp_path / "pin"), n_partitions=4)
    eng = CrawlEngine(spark, store, seed=7, default_budget=1 << 20)
    eng.bootstrap()
    lists, rows, pinned = [], [], []
    for r in (1, 2, 3):
        lists.append(eng.run_round(_crawl_pages(spark, r), round_epoch=r))
        pinned.append(len(_persistent_rdd_ids(spark)))
        rows.append(sorted(lists[-1].collect(), key=repr))
        assert lists[-1].is_cached and rows[-1]
        if r > 1:
            assert not lists[-2].is_cached
    assert pinned[2] == pinned[0]
    # a released fetch list is a lazy plan again, over its parent
    # snapshot: re-reading it yields the same rows and pins nothing
    assert sorted(lists[0].collect(), key=repr) == rows[0]
    assert len(_persistent_rdd_ids(spark)) == pinned[2]

    before = _persistent_rdd_ids(spark)

    def boom(*a, **k):
        raise RuntimeError("commit failed")

    monkeypatch.setattr(store, "commit", boom)
    with pytest.raises(RuntimeError, match="commit failed"):
        eng.run_round(_crawl_pages(spark, 5), round_epoch=5)
    assert _persistent_rdd_ids(spark) <= before
    assert not lists[2].is_cached


def test_crawl_engine_discovery_loop(spark, tmp_path):
    """r06 (VERDICT r05 #2): the engine drives the robots→sitemap→seed
    discovery cycle as COMMITTED round steps. Round 1 claims from pages
    and queues the unknown hosts' robots.txt worklist; round 2 ingests
    the fetched bodies (politeness dim grows — its Disallow governs that
    same round's claim — and advertised sitemaps queue, nested
    <sitemapindex> docs re-queue their children); round 4 — run by a
    FRESH engine over the same store (resume-safe) — claims urls seeded
    from the sitemap discovered in earlier rounds, with every step's
    counters in the manifest."""
    import datetime as dt

    from crawlingathome_server_spark.plans.rounds import CrawlEngine

    ts = dt.datetime(2021, 1, 1)

    def _pages(rows):
        return spark.createDataFrame(
            [(u, ts) for u in rows], schema="url string, warc_ts timestamp"
        )

    def _engine(store):
        return CrawlEngine(
            spark, store, seed=7, default_budget=1 << 20,
            discovery=True, agent="ourbot",
        )

    store = CheckpointStore(str(tmp_path / "disc"), n_partitions=4)
    eng = _engine(store)
    eng.bootstrap()

    # round 1: two unknown hosts → both enter the robots worklist
    c1 = eng.run_round(
        _pages(["http://sitea.example.com/p/1", "http://siteb.example.com/p/2"]),
        round_epoch=1,
    )
    assert c1.count() == 2
    wl = {r["host"]: r["robots_url"] for r in eng.robots_worklist().collect()}
    assert wl == {
        "sitea.example.com": "http://sitea.example.com/robots.txt",
        "siteb.example.com": "http://siteb.example.com/robots.txt",
    }
    m1 = store.read_manifest(store.latest_snapshot_id())["counters"]
    assert m1["n_robots_queued"] == 2 and m1["n_robots_fetched"] == 0

    # round 2: the caller fetched both robots bodies (one failed → NULL =
    # allow-all default row). sitea disallows /private and advertises a
    # sitemap INDEX. The round's own claim must honor the new dim rows.
    robots_bodies = spark.createDataFrame(
        [
            (
                "sitea.example.com",
                "User-agent: ourbot\nDisallow: /private\n"
                "User-agent: *\nDisallow: /\n"
                "Sitemap: http://sitea.example.com/sitemap_index.xml\n",
            ),
            ("siteb.example.com", None),
        ],
        schema="host string, robots_txt string",
    )
    c2 = eng.run_round(
        _pages(
            [
                "http://sitea.example.com/private/secret",
                "http://sitea.example.com/p/3",
                "http://sitec.example.com/p/4",
            ]
        ),
        round_epoch=2,
        robots_fetched=robots_bodies,
    )
    got2 = {r["canon_url"] for r in c2.collect()}
    # the specific-agent group (ourbot) governs: /private dropped, /p/3
    # claimable (the * group's Disallow:/ must NOT apply to our agent)
    assert got2 == {"http://sitea.example.com/p/3", "http://sitec.example.com/p/4"}
    m2 = store.read_manifest(store.latest_snapshot_id())["counters"]
    assert m2["n_robots_fetched"] == 2 and m2["n_sitemaps_discovered"] == 1
    # fetched hosts left the queue; the newly-claimed host entered it
    assert {r["host"] for r in eng.robots_worklist().collect()} == {
        "sitec.example.com"
    }
    assert [r["sitemap_url"] for r in eng.sitemap_worklist().collect()] == [
        "http://sitea.example.com/sitemap_index.xml"
    ]

    # round 3: the fetched doc is a <sitemapindex> → child queued, no seeds
    index_xml = (
        "<sitemapindex><sitemap>"
        "<loc>http://sitea.example.com/sitemap_a.xml</loc>"
        "</sitemap></sitemapindex>"
    )
    eng.run_round(
        _pages([]),
        round_epoch=3,
        sitemap_fetched=spark.createDataFrame(
            [("http://sitea.example.com/sitemap_index.xml", "sitea.example.com", index_xml)],
            schema="sitemap_url string, host string, xml string",
        ),
    )
    m3 = store.read_manifest(store.latest_snapshot_id())["counters"]
    assert m3["n_sitemap_seeds"] == 0 and m3["n_sitemaps_discovered"] == 1
    assert [r["sitemap_url"] for r in eng.sitemap_worklist().collect()] == [
        "http://sitea.example.com/sitemap_a.xml"
    ]

    # round 4, FRESH engine over the same store (resume): the leaf
    # <urlset> seeds enter this round's frontier and get claimed —
    # except the robots-disallowed one and the already-seen one
    eng2 = _engine(CheckpointStore(str(tmp_path / "disc")))
    leaf_xml = (
        "<urlset>"
        "<url><loc> http://sitea.example.com/sm/1 </loc></url>"
        "<url><loc>http://sitea.example.com/sm/2</loc></url>"
        "<url><loc>http://sitea.example.com/private/sm3</loc></url>"
        "<url><loc>http://sitea.example.com/p/3</loc></url>"
        "</urlset>"
    )
    c4 = eng2.run_round(
        _pages([]),
        round_epoch=4,
        sitemap_fetched=spark.createDataFrame(
            [("http://sitea.example.com/sitemap_a.xml", "sitea.example.com", leaf_xml)],
            schema="sitemap_url string, host string, xml string",
        ),
    )
    got4 = {r["canon_url"] for r in c4.collect()}
    assert got4 == {
        "http://sitea.example.com/sm/1",
        "http://sitea.example.com/sm/2",
    }
    m4 = store.read_manifest(store.latest_snapshot_id())["counters"]
    assert m4["n_sitemap_seeds"] == 4
    assert eng2.sitemap_worklist().count() == 0
    # dim rows persisted across the restart (2 fetched hosts)
    assert store.read_manifest(store.latest_snapshot_id())["tables"][
        CrawlEngine.ROBOTS_DIM
    ]["total_rows"] == 2


def test_crawl_engine_robots_dedup_is_order_invariant(spark, tmp_path):
    """Several fetched bodies for one host must resolve to the same
    politeness dim row, and so the same claim, whatever the caller's row
    order and partitioning: a body beats a failed fetch (NULL) and two
    bodies keep the smaller one."""
    import datetime as dt

    from crawlingathome_server_spark.plans.rounds import CrawlEngine

    ts = dt.datetime(2021, 1, 1)
    slow = "User-agent: *\nCrawl-delay: 10\n"  # the smaller body: wins
    strict = "User-agent: *\nCrawl-delay: 15\nDisallow: /private\n"
    bodies = [
        ("a.example.com", slow),
        ("a.example.com", strict),
        ("a.example.com", None),
        ("b.example.com", None),
        ("b.example.com", strict),
    ]
    pages = spark.createDataFrame(
        [
            (f"http://{h}.example.com/{d}/{i}", ts)
            for h in ("a", "b")
            for d in ("p", "private")
            for i in range(6)
        ],
        schema="url string, warc_ts timestamp",
    )

    def run(rows, n_parts, name):
        store = CheckpointStore(str(tmp_path / name), n_partitions=4)
        eng = CrawlEngine(spark, store, seed=7, discovery=True)
        eng.bootstrap()
        fetched = spark.createDataFrame(
            spark.sparkContext.parallelize(rows, n_parts),
            schema="host string, robots_txt string",
        )
        claimed = eng.run_round(pages, round_epoch=1, robots_fetched=fetched)
        dim = store.read(spark, CrawlEngine.ROBOTS_DIM).collect()
        return sorted(dim, key=repr), sorted(claimed.collect(), key=repr)

    runs = [
        run(rows, n_parts, f"s{i}")
        for i, (rows, n_parts) in enumerate(
            [(bodies, 1), (bodies[::-1], 1), (bodies, 3), (bodies[::-1], 2)]
        )
    ]
    assert all(r == runs[0] for r in runs[1:]), runs
    dim = {
        r["host"]: (r["crawl_delay_s"], r["max_claims_per_round"])
        for r in runs[0][0]
    }
    assert dim == {"a.example.com": (10.0, 3), "b.example.com": (15.0, 2)}


def test_crawl_engine_follow_links_mode(spark, tmp_path):
    """r06: CrawlEngine(follow_links=True) expands the frontier from the
    crawled pages' OUTGOING hrefs (relative links resolved against the
    page) rather than the page urls, while discovery seeds stay DIRECT
    candidates (a sitemap url is a fetch target, not a document to mine
    for links)."""
    import datetime as dt

    from crawlingathome_server_spark.plans.rounds import CrawlEngine

    ts = dt.datetime(2021, 1, 1)
    schema = "url string, warc_ts timestamp, html string"
    store = CheckpointStore(str(tmp_path / "fl"), n_partitions=4)
    eng = CrawlEngine(
        spark, store, seed=7, default_budget=1 << 20,
        discovery=True, follow_links=True,
    )
    eng.bootstrap()

    pages = spark.createDataFrame(
        [(
            "http://h.example.com/a",
            ts,
            '<html><body><a href="/b">x</a>'
            '<a href="http://other.example.com/c">y</a>'
            '<a href="mailto:z@q">no</a></body></html>',
        )],
        schema=schema,
    )
    c1 = eng.run_round(pages, round_epoch=1)
    got1 = {r["canon_url"] for r in c1.collect()}
    # the hrefs, not the fetched page itself
    assert got1 == {"http://h.example.com/b", "http://other.example.com/c"}

    # seed a sitemap url chain: robots body advertises a leaf sitemap,
    # whose <loc>s must be claimed DIRECTLY (never href-mined)
    eng.run_round(
        spark.createDataFrame([], schema=schema),
        round_epoch=2,
        robots_fetched=spark.createDataFrame(
            [("h.example.com", "Sitemap: http://h.example.com/sm.xml\n")],
            schema="host string, robots_txt string",
        ),
    )
    c3 = eng.run_round(
        spark.createDataFrame([], schema=schema),
        round_epoch=3,
        sitemap_fetched=spark.createDataFrame(
            [(
                "http://h.example.com/sm.xml",
                "h.example.com",
                "<urlset><url><loc>http://h.example.com/from-sitemap</loc>"
                "</url></urlset>",
            )],
            schema="sitemap_url string, host string, xml string",
        ),
    )
    got3 = {r["canon_url"] for r in c3.collect()}
    assert got3 == {"http://h.example.com/from-sitemap"}


def test_crawl_engine_ttl_discovery_follow_links_composite(spark, tmp_path):
    """r07 (VERDICT r06 next #6): the individually-tested modes must
    COMPOSE — discovery=True + follow_links=True + ttl_rounds=2 +
    filter_kind='cuckoo' across 4 rounds with a mid-cycle restart
    (ttl_rounds=3: round-1 urls hit seen_epoch <= 4-3 exactly at round 4).
    Expired urls re-claim through the cuckoo's O(expired) deletion, the
    politeness dim ingested mid-cycle governs post-restart and
    post-expiry claims, and re-claimed hosts re-enter (or stay in) the
    robots worklist without duplication."""
    import datetime as dt

    from crawlingathome_server_spark.plans.rounds import CrawlEngine

    ts = dt.datetime(2021, 1, 1)
    schema = "url string, warc_ts timestamp, html string"

    def _engine(store):
        return CrawlEngine(
            spark, store, seed=11, default_budget=1 << 20,
            discovery=True, follow_links=True,
            filter_kind="cuckoo", ttl_rounds=3, agent="ourbot",
        )

    page = spark.createDataFrame(
        [(
            "http://h.example.com/a",
            ts,
            '<html><body><a href="/b">x</a>'
            '<a href="http://other.example.com/c">y</a></body></html>',
        )],
        schema=schema,
    )
    empty = spark.createDataFrame([], schema=schema)

    store = CheckpointStore(str(tmp_path / "comp"), n_partitions=4)
    eng = _engine(store)
    eng.bootstrap()

    # round 1: hrefs {h/b, other/c} claimed; both hosts → robots worklist
    c1 = eng.run_round(page, round_epoch=1)
    assert {r["canon_url"] for r in c1.collect()} == {
        "http://h.example.com/b",
        "http://other.example.com/c",
    }
    assert {r["host"] for r in eng.robots_worklist().collect()} == {
        "h.example.com",
        "other.example.com",
    }

    # round 2: ingest h's robots (Disallow /private + a sitemap); h
    # leaves the worklist, other.example.com stays (never fetched)
    eng.run_round(
        empty,
        round_epoch=2,
        robots_fetched=spark.createDataFrame(
            [(
                "h.example.com",
                "User-agent: *\nDisallow: /private\n"
                "Sitemap: http://h.example.com/sm.xml\n",
            )],
            schema="host string, robots_txt string",
        ),
    )
    assert {r["host"] for r in eng.robots_worklist().collect()} == {
        "other.example.com"
    }

    # RESTART: round 3 on a fresh engine over the same store — the leaf
    # sitemap seeds claim directly; /private/* blocked by the dim rows
    # ingested before the restart; /b is still seen (epoch 1 > cutoff
    # 3-3=0 — one round short of expiry)
    eng2 = _engine(CheckpointStore(str(tmp_path / "comp")))
    c3 = eng2.run_round(
        empty,
        round_epoch=3,
        sitemap_fetched=spark.createDataFrame(
            [(
                "http://h.example.com/sm.xml",
                "h.example.com",
                "<urlset><url><loc>http://h.example.com/sm1</loc></url>"
                "<url><loc>http://h.example.com/private/sm2</loc></url>"
                "<url><loc>http://h.example.com/b</loc></url></urlset>",
            )],
            schema="sitemap_url string, host string, xml string",
        ),
    )
    assert {r["canon_url"] for r in c3.collect()} == {"http://h.example.com/sm1"}

    # round 4: cutoff = 4-3 = 1 → the round-1 urls {h/b, other/c} expire
    # out of the cuckoo (O(expired) deletion) and re-claim from the same
    # page's hrefs; /sm1 (epoch 3) is still seen; /private/x stays
    # robots-blocked
    page4 = spark.createDataFrame(
        [(
            "http://h.example.com/a",
            ts,
            '<html><body><a href="/b">x</a>'
            '<a href="http://other.example.com/c">y</a>'
            '<a href="/sm1">z</a><a href="/private/x">w</a></body></html>',
        )],
        schema=schema,
    )
    c4 = eng2.run_round(page4, round_epoch=4)
    assert {r["canon_url"] for r in c4.collect()} == {
        "http://h.example.com/b",
        "http://other.example.com/c",
    }
    m4 = store.read_manifest(store.latest_snapshot_id())["counters"]
    assert m4["n_expired"] == 2 and m4["n_claimed"] == 2
    assert m4["urlseen_params"]["kind"] == "cuckoo"
    # re-claimed hosts re-queue robots correctly: h is in the dim (no
    # re-queue), other.example.com is STILL queued exactly once
    wl = [r["host"] for r in eng2.robots_worklist().collect()]
    assert wl == ["other.example.com"]


def test_crawl_engine_curate_mode(spark, tmp_path):
    """r07: curate=True makes the crawl loop the end-to-end corpus
    builder — each round runs JVM text extraction → language gate →
    quality gate → fingerprint dedup over the FETCHED pages and commits
    survivors to corpus_docs as an O(new docs) Append. Asserts the
    gates, within-round + cross-round dedup, restart persistence, and
    the manifest counters."""
    import datetime as dt

    from crawlingathome_server_spark.plans.rounds import CrawlEngine

    ts = dt.datetime(2021, 1, 1)
    schema = "url string, warc_ts timestamp, html string"
    good = (
        "<html><body><p>"
        + "the quick brown fox jumps over the lazy dog and that is fine "
        * 4
        + "</p></body></html>"
    )
    junk = "<html><body><p>%$#@! *** ;;; !!! ??? ,,, ...</p></body></html>"

    def _engine(store):
        return CrawlEngine(
            spark, store, seed=3, default_budget=1 << 20,
            curate=True, curate_min_chars=50,
        )

    store = CheckpointStore(str(tmp_path / "cur"), n_partitions=4)
    eng = _engine(store)
    eng.bootstrap()

    # round 1: one good doc, one punctuation-soup doc (quality gate),
    # one too-short doc (length gate)
    c1 = eng.run_round(
        spark.createDataFrame(
            [
                ("http://a.example.com/good", ts, good),
                ("http://a.example.com/junk", ts, junk),
                ("http://a.example.com/short", ts, "<p>tiny</p>"),
            ],
            schema=schema,
        ),
        round_epoch=1,
    )
    assert c1.count() == 3  # claiming is independent of curation
    m1 = store.read_manifest(store.latest_snapshot_id())["counters"]
    assert m1["n_curated"] == 1 and m1["n_corpus_total"] == 1
    row = eng.corpus().collect()[0]
    assert row["canon_url"] == "http://a.example.com/good"
    assert row["lang"] == "en" and row["quality"] >= 0.5
    assert row["n_tokens"] > 40

    # round 2: the SAME text under two new urls (within-round dup keeps
    # the min canon_url; cross-round dup vs round 1 drops both... the
    # fingerprint already in the corpus wins) plus one genuinely new doc
    good2 = good.replace("fox", "wolf")
    eng.run_round(
        spark.createDataFrame(
            [
                ("http://b.example.com/copy2", ts, good),
                ("http://b.example.com/copy1", ts, good),
                ("http://b.example.com/new", ts, good2),
            ],
            schema=schema,
        ),
        round_epoch=2,
    )
    m2 = store.read_manifest(store.latest_snapshot_id())["counters"]
    assert m2["n_curated"] == 1 and m2["n_corpus_total"] == 2
    urls = {r["canon_url"] for r in eng.corpus().collect()}
    assert urls == {"http://a.example.com/good", "http://b.example.com/new"}

    # RESTART: a fresh engine over the same store still dedups against
    # the persisted corpus and appends only novel fingerprints
    eng2 = _engine(CheckpointStore(str(tmp_path / "cur")))
    good3 = good.replace("fox", "bear")
    eng2.run_round(
        spark.createDataFrame(
            [
                ("http://c.example.com/seen-text", ts, good2),
                ("http://c.example.com/fresh", ts, good3),
            ],
            schema=schema,
        ),
        round_epoch=3,
    )
    m3 = store.read_manifest(store.latest_snapshot_id())["counters"]
    assert m3["n_curated"] == 1 and m3["n_corpus_total"] == 3
    corpus = eng2.corpus()
    assert corpus.count() == 3
    assert corpus.filter(F.col("curated_epoch") == 3).select(
        "canon_url"
    ).first()[0] == "http://c.example.com/fresh"
    # corpus rows are unique per fingerprint (the Append key)
    assert corpus.select("fingerprint").distinct().count() == 3


def test_curate_export_corpus(spark, tmp_path):
    """r07: engine.export_corpus writes the shard=K/ packed layout from
    the persisted corpus and the assignment is stable across re-exports
    after more rounds (pure function of the fingerprint)."""
    import datetime as dt

    from crawlingathome_server_spark.plans.rounds import CrawlEngine

    ts = dt.datetime(2021, 1, 1)
    schema = "url string, warc_ts timestamp, html string"

    def _doc(word):
        return (
            "<html><body><p>"
            + f"the quick brown {word} jumps over the lazy dog and that is fine "
            * 4
            + "</p></body></html>"
        )

    store = CheckpointStore(str(tmp_path / "exp"), n_partitions=4)
    eng = CrawlEngine(
        spark, store, seed=3, default_budget=1 << 20,
        curate=True, curate_min_chars=50,
    )
    eng.bootstrap()
    eng.run_round(
        spark.createDataFrame(
            [(f"http://a.example.com/{w}", ts, _doc(w)) for w in ("fox", "wolf", "lynx")],
            schema=schema,
        ),
        round_epoch=1,
    )
    out1 = str(tmp_path / "export1")
    stats = eng.export_corpus(out1, n_shards=2, seq_len=64).collect()
    assert sum(s["n_docs"] for s in stats) == 3
    exported = spark.read.parquet(out1)
    assert exported.count() == 3
    assert {"shard", "stream_off", "pack_id"} <= set(exported.columns)
    first = {
        r["fingerprint"]: (r["shard"], r["order_key"])
        for r in exported.collect()
    }

    # one more round, re-export: old docs keep their shard + order key
    eng.run_round(
        spark.createDataFrame(
            [("http://a.example.com/bear", ts, _doc("bear"))], schema=schema
        ),
        round_epoch=2,
    )
    out2 = str(tmp_path / "export2")
    stats2 = eng.export_corpus(out2, n_shards=2, seq_len=64).collect()
    assert sum(s["n_docs"] for s in stats2) == 4
    second = {
        r["fingerprint"]: (r["shard"], r["order_key"])
        for r in spark.read.parquet(out2).collect()
    }
    for fp, assign in first.items():
        assert second[fp] == assign


def test_curate_repetition_gates(spark, tmp_path):
    """r07: the Gopher-style repetition gates (curate_max_dup_lines /
    curate_max_top_bigram, functions/text.repetition_features) drop
    boilerplate-repetitive documents inside the engine's curate
    pipeline while diverse text of the same length/quality survives."""
    import datetime as dt

    from crawlingathome_server_spark.plans.rounds import CrawlEngine

    ts = dt.datetime(2021, 1, 1)
    schema = "url string, warc_ts timestamp, html string"
    # diverse: every bigram distinct, still en/quality-passing
    diverse = (
        "<html><body><p>the quick brown fox jumps over one lazy dog and "
        "this is a rather long fine sentence with many varied small words "
        "that keep the stopword ratio high for the scoring gate</p></body></html>"
    )
    # repetitive: one sentence looped — its top bigram dominates
    repetitive = (
        "<html><body><p>"
        + "the cat sat on the mat " * 12
        + "</p></body></html>"
    )

    store = CheckpointStore(str(tmp_path / "repgate"), n_partitions=4)
    eng = CrawlEngine(
        spark, store, seed=3, default_budget=1 << 20,
        curate=True, curate_min_chars=50,
        # the looped 6-word sentence's top bigram ("the cat") takes
        # 12/71 = 0.169 of all bigrams; the diverse doc's top takes
        # 0.032 — the 0.1 gate separates them
        curate_max_dup_lines=0.3, curate_max_top_bigram=0.1,
    )
    eng.bootstrap()
    eng.run_round(
        spark.createDataFrame(
            [
                ("http://a.example.com/diverse", ts, diverse),
                ("http://a.example.com/loop", ts, repetitive),
            ],
            schema=schema,
        ),
        round_epoch=1,
    )
    urls = [r["canon_url"] for r in eng.corpus().collect()]
    assert urls == ["http://a.example.com/diverse"]
    # gates off: the same repetitive doc passes (control — proves the
    # drop above came from the repetition gate, not quality/length)
    store2 = CheckpointStore(str(tmp_path / "repgate_off"), n_partitions=4)
    eng2 = CrawlEngine(
        spark, store2, seed=3, default_budget=1 << 20,
        curate=True, curate_min_chars=50,
    )
    eng2.bootstrap()
    eng2.run_round(
        spark.createDataFrame(
            [("http://a.example.com/loop", ts, repetitive)], schema=schema
        ),
        round_epoch=1,
    )
    assert eng2.corpus().count() == 1


def test_curate_corpus_filter_false_positives_confirmed(spark, tmp_path):
    """The corpus fingerprint filter is an accelerator, not the truth
    (r07): with a deliberately SATURATED (all-ones) bloom every round-2
    fingerprint probes positive, and the exact bucket point-read confirm
    must keep every genuinely-new doc while dropping the one true
    cross-round dup — a false positive may cost a point-read, never a
    document."""
    import datetime as dt

    from crawlingathome_server_spark.plans.rounds import CrawlEngine
    from crawlingathome_server_spark.sources.checkpoint import CheckpointStore

    ts = dt.datetime(2021, 1, 1)
    schema = "url string, warc_ts timestamp, html string"

    def _doc(word):
        return (
            "<html><body><p>"
            + f"the quick brown {word} jumps over the lazy dog and that is fine "
            * 4
            + "</p></body></html>"
        )

    store = CheckpointStore(str(tmp_path / "fp"), n_partitions=4)
    eng = CrawlEngine(
        spark, store, seed=3, default_budget=1 << 20,
        curate=True, curate_min_chars=50,
    )
    eng.bootstrap()
    eng.run_round(
        spark.createDataFrame(
            [
                ("http://a.example.com/fox", ts, _doc("fox")),
                ("http://a.example.com/wolf", ts, _doc("wolf")),
            ],
            schema=schema,
        ),
        round_epoch=1,
    )
    parent_tables = store.read_manifest(store.latest_snapshot_id())["tables"]

    # every bit set → probe answers maybe_seen=True for ANY fingerprint
    params = {"kind": "bloom", "n_buckets": 2, "bits_per_bucket": 64, "k": 2}
    flt = spark.createDataFrame(
        [(0, bytes([255] * 8), 2), (1, bytes([255] * 8), 2)],
        schema="bucket int, bitmap binary, n_items long",
    )
    pages2 = spark.createDataFrame(
        [
            ("http://b.example.com/bear", ts, _doc("bear")),
            ("http://b.example.com/lynx", ts, _doc("lynx")),
            ("http://b.example.com/dup-of-fox", ts, _doc("fox")),
        ],
        schema=schema,
    )
    docs, handles = eng._curate_pages(
        pages2, 2, parent_tables, corpus_filter=(flt, params)
    )
    try:
        got = {r["canon_url"] for r in docs.collect()}
    finally:
        for handle in handles:
            handle.unpersist()
    assert got == {
        "http://b.example.com/bear",
        "http://b.example.com/lynx",
    }


def test_curate_corpus_filter_rebuilds_on_growth(spark, tmp_path):
    """Outgrowing corpus_capacity forces a 2×-headroom rebuild from the
    exact corpus (a mis-sized filter silently blows FPR), and the
    rebuilt filter still dedups every earlier round's fingerprint after
    a store restart."""
    import datetime as dt

    from crawlingathome_server_spark.plans.rounds import CrawlEngine
    from crawlingathome_server_spark.sources.checkpoint import CheckpointStore

    ts = dt.datetime(2021, 1, 1)
    schema = "url string, warc_ts timestamp, html string"

    def _pages(lo, hi):
        return spark.createDataFrame(
            [
                (
                    f"http://h{i % 37}.example.com/p{i}",
                    ts,
                    "<html><body><p>the quick brown fox jumps over the "
                    f"lazy dog and that is fine number {i}</p></body></html>",
                )
                for i in range(lo, hi)
            ],
            schema=schema,
        )

    def _engine(store):
        return CrawlEngine(
            spark, store, seed=3, default_budget=1 << 20,
            curate=True, curate_min_chars=50,
            curate_filter_min_corpus=0,  # force the probe path
        )

    store = CheckpointStore(str(tmp_path / "grow"), n_partitions=4)
    eng = _engine(store)
    eng.bootstrap()
    eng.run_round(_pages(0, 600), round_epoch=1)
    c1 = store.read_manifest(store.latest_snapshot_id())["counters"]
    assert c1["n_corpus_total"] == 600 and c1["corpus_capacity"] == 1200

    # 700 more crosses the 1200 cap → rebuild at 2×1300
    eng.run_round(_pages(600, 1300), round_epoch=2)
    c2 = store.read_manifest(store.latest_snapshot_id())["counters"]
    assert c2["n_corpus_total"] == 1300 and c2["corpus_capacity"] == 2600
    assert eng.corpus().count() == 1300

    # RESTART; re-feed a slice of BOTH earlier rounds + 1 new doc — the
    # rebuilt filter must have no false negatives (no doc re-enters)
    eng2 = _engine(CheckpointStore(str(tmp_path / "grow")))
    eng2.run_round(
        _pages(0, 5).unionByName(_pages(900, 905)).unionByName(
            _pages(5000, 5001)
        ),
        round_epoch=3,
    )
    c3 = store.read_manifest(store.latest_snapshot_id())["counters"]
    assert c3["n_curated"] == 1 and c3["n_corpus_total"] == 1301
    assert eng2.corpus().select("fingerprint").distinct().count() == 1301


def test_curate_counters_survive_noncurate_round(spark, tmp_path):
    """A curate=False engine round over a curate store must carry the
    corpus bookkeeping forward (tables already carry via the r07 commit;
    counters are writer-composed): n_corpus_total keeps accumulating and
    the filter params survive, so the next curate round probes instead
    of rebuilding — and still dedups exactly."""
    import datetime as dt

    from crawlingathome_server_spark.plans.rounds import CrawlEngine
    from crawlingathome_server_spark.sources.checkpoint import CheckpointStore

    ts = dt.datetime(2021, 1, 1)
    schema = "url string, warc_ts timestamp, html string"

    def _doc(word):
        return (
            "<html><body><p>"
            + f"the quick brown {word} jumps over the lazy dog and that is fine "
            * 4
            + "</p></body></html>"
        )

    store = CheckpointStore(str(tmp_path / "nc"), n_partitions=4)
    cur = CrawlEngine(
        spark, store, seed=3, default_budget=1 << 20,
        curate=True, curate_min_chars=50, curate_filter_min_corpus=0,
    )
    cur.bootstrap()
    cur.run_round(
        spark.createDataFrame(
            [
                ("http://a.example.com/fox", ts, _doc("fox")),
                ("http://a.example.com/wolf", ts, _doc("wolf")),
            ],
            schema=schema,
        ),
        round_epoch=1,
    )
    c1 = store.read_manifest(store.latest_snapshot_id())["counters"]
    assert c1["n_corpus_total"] == 2 and c1["corpus_params"] is not None

    plain = CrawlEngine(spark, store, seed=3, default_budget=1 << 20)
    plain.run_round(
        spark.createDataFrame(
            [("http://c.example.com/x", ts, "<p>x</p>")], schema=schema
        ),
        round_epoch=2,
    )
    c2 = store.read_manifest(store.latest_snapshot_id())["counters"]
    assert c2["n_corpus_total"] == 2
    assert c2["corpus_params"] == c1["corpus_params"]
    assert c2["corpus_capacity"] == c1["corpus_capacity"]
    assert "n_curated" not in c2

    cur2 = CrawlEngine(
        spark, store, seed=3, default_budget=1 << 20,
        curate=True, curate_min_chars=50, curate_filter_min_corpus=0,
    )
    cur2.run_round(
        spark.createDataFrame(
            [
                ("http://d.example.com/dup", ts, _doc("fox")),
                ("http://d.example.com/new", ts, _doc("bear")),
            ],
            schema=schema,
        ),
        round_epoch=3,
    )
    c3 = store.read_manifest(store.latest_snapshot_id())["counters"]
    assert c3["n_curated"] == 1 and c3["n_corpus_total"] == 3
    # probes, not rebuilds: params object unchanged from round 1
    assert c3["corpus_params"] == c1["corpus_params"]


def test_expand_candidate_cache_released_after_round(spark, tmp_path):
    """r08 session 2: a budgeted (discovery) round pins its post-probe
    candidate set so the claim's narrow-rank and payload-join consumers
    stop re-running the seen-filter cogroup — and run_round's finally
    must RELEASE that cache (with every other round cache) even though
    it was created inside expand_frontier, or a long-lived engine
    accumulates a pinned copy per round."""
    import datetime as dt

    from crawlingathome_server_spark.plans.rounds import CrawlEngine

    ts = dt.datetime(2021, 1, 1)

    def _pages(rows):
        return spark.createDataFrame(
            [(u, ts) for u in rows], schema="url string, warc_ts timestamp"
        )

    store = CheckpointStore(str(tmp_path / "cachedisc"), n_partitions=4)
    eng = CrawlEngine(
        spark, store, seed=7, default_budget=1 << 20, discovery=True,
        agent="ourbot",
    )
    eng.bootstrap()
    eng.run_round(
        _pages([f"http://h{i % 7}.example.com/p/{i}" for i in range(50)]),
        round_epoch=1,
    )
    bodies = eng.robots_worklist().select(
        "host",
        F.concat(
            F.lit("User-agent: *\nDisallow: /private\nCrawl-delay: 1\n"),
            F.lit(""),
        ).alias("robots_txt"),
    )
    def _n_persistent():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    baseline = _n_persistent()
    eng.run_round(
        _pages([f"http://h{i % 7}.example.com/q/{i}" for i in range(60)]),
        round_epoch=2,
        robots_fetched=bodies,
    )
    after = _n_persistent()
    assert after <= baseline, (baseline, after)
