"""Claim-operator properties (SURVEY.md §2.7): politeness budget, no
double claims, determinism across parallelism, two-phase == one-phase."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from crawlingathome_server_spark import datagen
from crawlingathome_server_spark.operators import claim
from crawlingathome_server_spark.sources.seed import dedup_by_number


def _frontier(spark, n, seed=11):
    # claim_batch's contract: `number` is unique (the reference's PK;
    # guaranteed by dedup_by_number at seed load)
    return dedup_by_number(datagen.frontier(spark, n=n, seed=seed))


def test_budget_respected_per_host(spark):
    fr = _frontier(spark, 800)
    rb = datagen.robots(spark)
    claims = claim.claim_batch(fr, rb, seed=1)
    per_host = claims.groupBy("host", "budget").agg(F.count("*").alias("n")).collect()
    for r in per_host:
        assert r["n"] <= r["budget"], r


def test_only_open_jobs_claimed(spark):
    fr = _frontier(spark, 800)
    claims = claim.claim_batch(fr, None, seed=1)
    bad = claims.filter(F.col("pending") | F.col("closed") | F.col("gpu")).count()
    assert bad == 0


def test_claims_unique(spark):
    fr = datagen.frontier(spark, n=800)
    claims = claim.claim_batch(dedup_by_number(fr), None, seed=1)
    assert claims.count() == claims.select("number").distinct().count()


def test_deterministic_across_parallelism(spark):
    """Same claims whether the frontier arrives in 1 or 13 partitions —
    the scaling-rule reproducibility property."""
    fr = _frontier(spark, 600)
    a = sorted(
        r["number"]
        for r in claim.claim_batch(fr.repartition(1), None, seed=7).collect()
    )
    b = sorted(
        r["number"]
        for r in claim.claim_batch(fr.repartition(13), None, seed=7).collect()
    )
    assert a == b and len(a) > 0


def test_two_phase_equals_global_rank(spark):
    """Salted two-phase claim == naive global per-host window rank."""
    fr = _frontier(spark, 1000)
    rb = datagen.robots(spark)
    got = sorted(
        r["number"] for r in claim.claim_batch(fr, rb, seed=3, salt_buckets=16).collect()
    )
    # naive single-window spec
    cand = fr.filter(claim.open_jobs(fr)).withColumn("order_key", claim.order_key(3))
    cand = cand.join(
        F.broadcast(rb.select("host", "max_claims_per_round")), on="host", how="left"
    ).withColumn("budget", F.coalesce(F.col("max_claims_per_round"), F.lit(4)))
    w = Window.partitionBy("host").orderBy(
        F.desc("priority"), F.asc("order_key"), F.asc("number")
    )
    want = sorted(
        r["number"]
        for r in cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.col("budget"))
        .collect()
    )
    assert got == want


def test_seed_changes_selection(spark):
    # constant priority → order is purely the seeded hash (the ORDER BY
    # RANDOM() analogue, models.py:112); a different seed reshuffles it
    fr = _frontier(spark, 600).withColumn("priority", F.lit(0.0))
    a = sorted(r["number"] for r in claim.claim_batch(fr, None, seed=1, default_budget=2).collect())
    b = sorted(r["number"] for r in claim.claim_batch(fr, None, seed=2, default_budget=2).collect())
    assert a != b


def test_apply_claims_marks_pending(spark):
    fr = _frontier(spark, 400)
    claims = claim.claim_batch(fr, None, seed=1)
    wk = datagen.workers(spark)
    claims = claim.assign_workers(claims, wk, worker_type="CPU", seed=1)
    fr2 = claim.apply_claims(fr, claims, round_epoch=99)
    n_claims = claims.count()
    assert fr2.filter("pending").count() == fr.filter("pending").count() + n_claims
    stamped = fr2.filter(F.col("claim_epoch") == 99)
    assert stamped.count() == n_claims
    assert stamped.filter(F.col("completor").isNull()).count() == 0


def test_skew_phase1_bounds_per_task_rows(spark):
    """Extreme skew: one host owns ~half the frontier. Phase-1 salted rank
    must cap each (host, salt) group at `budget` rows before the per-host
    exchange, so no single task ever sees the whole hot host."""
    fr = _frontier(spark, 1200).withColumn(
        "host",
        F.when(F.pmod(F.col("number"), F.lit(2)) == 0, F.lit("hot.example.com"))
        .otherwise(F.col("host")),
    )
    rb = datagen.robots(spark).union(
        spark.createDataFrame(
            [("hot.example.com", 1.0, 3, [], [])],
            datagen.robots(spark).schema,
        )
    )
    claims = claim.claim_batch(fr, rb, seed=9, salt_buckets=4)
    hot = claims.filter(F.col("host") == "hot.example.com")
    assert hot.count() <= 3  # politeness budget still enforced exactly
    # and the result equals the unsalted spec (no skew-handling drift)
    cand = fr.filter(claim.open_jobs(fr)).withColumn("order_key", claim.order_key(9))
    cand = cand.join(
        F.broadcast(rb.select("host", "max_claims_per_round")), on="host", how="left"
    ).withColumn("budget", F.coalesce(F.col("max_claims_per_round"), F.lit(4)))
    w = Window.partitionBy("host").orderBy(
        F.desc("priority"), F.asc("order_key"), F.asc("number")
    )
    want = sorted(
        r["number"]
        for r in cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.col("budget"))
        .collect()
    )
    assert sorted(r["number"] for r in claims.collect()) == want


def test_assign_workers_balanced_and_deterministic(spark):
    fr = _frontier(spark, 900)
    wk = datagen.workers(spark)
    claims = claim.claim_batch(fr, None, seed=3, default_budget=50)
    a1 = claim.assign_workers(claims, wk, worker_type="CPU", seed=3)
    a2 = claim.assign_workers(claims.repartition(5), wk, worker_type="CPU", seed=3)
    m1 = {r["number"]: r["assigned_worker"] for r in a1.collect()}
    m2 = {r["number"]: r["assigned_worker"] for r in a2.collect()}
    assert m1 == m2  # deterministic across partitioning
    assert all(v is not None for v in m1.values())
    # balance: no CPU worker gets more than 3x the fair share
    from collections import Counter

    counts = Counter(m1.values())
    n_workers = wk.filter("type = 'CPU'").count()
    fair = len(m1) / n_workers
    assert max(counts.values()) < 3 * fair + 2, counts.most_common(3)


def test_assign_workers_minimal_reassignment_on_churn(spark):
    """Rendezvous hashing: removing one worker moves ONLY the claims that
    were assigned to it — everyone else keeps their worker."""
    fr = _frontier(spark, 600)
    wk = datagen.workers(spark)
    claims = claim.claim_batch(fr, None, seed=4, default_budget=40)
    before = {r["number"]: r["assigned_worker"]
              for r in claim.assign_workers(claims, wk, worker_type="CPU", seed=3).collect()}
    victim = sorted(set(before.values()))[0]
    wk2 = wk.filter(F.col("uuid") != victim)
    after = {r["number"]: r["assigned_worker"]
             for r in claim.assign_workers(claims, wk2, worker_type="CPU", seed=3).collect()}
    moved = {n for n in before if before[n] != after[n]}
    assert moved == {n for n, w in before.items() if w == victim}
    assert victim not in set(after.values())


def test_claim_under_pathological_host_skew(spark):
    """90% of a 400k-row frontier on ONE host: the salted two-phase rank
    must (a) complete with bounded per-task work and (b) return exactly
    the per-host top-budget the unsalted spec defines."""
    n = 400_000
    fr = (
        spark.range(n)
        .select(
            F.col("id").alias("number"),
            F.when(F.col("id") % 10 < 9, F.lit("hot.example.com"))
            .otherwise(F.concat(F.lit("h"), F.col("id") % 997))
            .alias("host"),
            (F.pmod(F.col("id") * 37, F.lit(1000)) / 1000.0).alias("priority"),
            F.lit(False).alias("pending"),
            F.lit(False).alias("closed"),
            F.lit(False).alias("gpu"),
        )
    )
    robots = spark.createDataFrame(
        [("hot.example.com", 7)], ["host", "max_claims_per_round"]
    )
    got = claim.claim_batch(
        fr, robots, seed=5, default_budget=3, salt_buckets=16,
        use_oracle_hash=True, with_payload=False,
    )
    # with_payload=False is the narrow decision set (no host string since
    # r06 — it never rides the rank shuffles); join it back for grouping
    rows = got.join(fr.select("number", "host"), on="number").collect()
    per_host = {}
    for r in rows:
        per_host.setdefault(r["host"], []).append(r)
    assert len(per_host["hot.example.com"]) == 7
    assert all(len(v) <= 3 for h, v in per_host.items() if h != "hot.example.com")
    # spec equivalence on the hot host: global rank over all its rows
    hot = fr.filter(F.col("host") == "hot.example.com").select(
        "number",
        "priority",
        ((F.col("number") * 2654435761 + 5) % 4294967296).alias("ok"),
    )
    w = Window.orderBy(F.desc("priority"), F.asc("ok"), F.asc("number"))
    want = {
        r["number"]
        for r in hot.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 7)
        .collect()
    }
    assert {r["number"] for r in per_host["hot.example.com"]} == want


def test_claim_budget_col_equals_robots_join(spark):
    """r07: claim_batch(budget_col=...) — the pre-attached per-host
    budget path expand_frontier uses after folding the budget into its
    single rules broadcast join — must claim EXACTLY what the classic
    robots-join path claims, including hosts missing from the dim
    (NULL budget → default) and the with_payload return contract.

    Input honors claim_batch's documented precondition (unique
    ``number`` — sources/seed.dedup_by_number enforces it at load, and
    expand_frontier's D1 dedup guarantees it for hash-derived numbers):
    under duplicate numbers the two paths may legitimately diverge,
    because the winner→payload join-back fans each dup's payload rows
    out per winner row."""
    from crawlingathome_server_spark import datagen
    from crawlingathome_server_spark.operators.claim import claim_batch
    from crawlingathome_server_spark.sources.seed import dedup_by_number

    fr = dedup_by_number(datagen.frontier(spark, n=400))
    robots = datagen.robots(spark)
    a = claim_batch(fr, robots, seed=11, default_budget=3, with_payload=False)
    pre = fr.join(
        F.broadcast(robots.select("host", "max_claims_per_round")),
        on="host",
        how="left",
    )
    b = claim_batch(
        pre,
        None,
        seed=11,
        default_budget=3,
        with_payload=False,
        budget_col="max_claims_per_round",
    )
    assert sorted(map(tuple, a.collect())) == sorted(
        map(tuple, b.select(*a.columns).collect())
    )
    # payload contract: budget_col returns as the canonical `budget`
    # column and the raw attached column is dropped
    bp = claim_batch(
        pre,
        None,
        seed=11,
        default_budget=3,
        budget_col="max_claims_per_round",
    )
    assert "max_claims_per_round" not in bp.columns
    ap = claim_batch(fr, robots, seed=11, default_budget=3)
    assert sorted(map(tuple, ap.collect())) == sorted(
        map(tuple, bp.select(*ap.columns).collect())
    )


def test_unbounded_budget_equals_ranked_path(spark):
    """r08: a literal budget >= UNBOUNDED_BUDGET skips the rank window and
    the payload join-back — rows AND columns must equal the ranked path's
    (forced here by ranking with the same budget value via budget_col,
    which cannot take the unbounded shortcut)."""
    fr = _frontier(spark, 800)
    big = claim.UNBOUNDED_BUDGET
    fast = claim.claim_batch(fr, None, seed=9, default_budget=big)
    ranked = claim.claim_batch(
        fr.withColumn("__b", F.lit(big)),
        None,
        seed=9,
        default_budget=big,
        budget_col="__b",
    )
    assert fast.columns == ranked.columns
    a = sorted(map(tuple, fast.collect()))
    b = sorted(map(tuple, ranked.collect()))
    assert a == b and len(a) > 0
    # decision-set variant (with_payload=False) must agree too
    fast_n = claim.claim_batch(
        fr, None, seed=9, default_budget=big, with_payload=False
    )
    ranked_n = claim.claim_batch(
        fr.withColumn("__b", F.lit(big)),
        None,
        seed=9,
        default_budget=big,
        budget_col="__b",
        with_payload=False,
    )
    assert fast_n.columns == ranked_n.columns
    assert sorted(map(tuple, fast_n.collect())) == sorted(
        map(tuple, ranked_n.collect())
    )
    # and the fast path's plan really has no Window (over an input whose
    # own plan is window-free — _frontier's dedup_by_number has one)
    fr_expr = datagen.synth_frontier_expr(spark, 1000)
    plan = (
        claim.claim_batch(fr_expr, None, seed=9, default_budget=big)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan, plan


def test_budget_col_claim_hot_cold_mix_equals_spec(spark):
    """The budget_col claim (two-phase salted rank) must equal the plain
    one-phase row_number spec on a mix of: a hot host (count >> budget),
    an exactly-at-budget host, under-budget hosts, a host with a NULL
    budget (-> default), and a host with WITHIN-host-varying budgets
    (each row is kept by rank against its OWN budget, so rows with a
    larger budget than the host minimum must still rank correctly)."""
    rows = []
    # hot: 40 rows, budget 5
    rows += [(i, "hot.example.com", 5) for i in range(40)]
    # at-budget: 6 rows, budget 6 (cold: count == min budget)
    rows += [(100 + i, "edge.example.com", 6) for i in range(6)]
    # under budget: 3 rows, budget 9
    rows += [(200 + i, "cold.example.com", 9) for i in range(3)]
    # NULL budget -> default (4): 7 rows => hot under default
    rows += [(300 + i, "nullb.example.com", None) for i in range(7)]
    # varying within host: budgets 2 and 50 on a 10-row host (min 2 -> hot)
    rows += [(400 + i, "vary.example.com", 2 if i % 2 else 50) for i in range(10)]
    fr = spark.createDataFrame(
        [(n, h, b, 0.0, False, False, False, f"http://{h}/p/{n}") for n, h, b in rows],
        "number long, host string, __b int, priority double, pending boolean, "
        "closed boolean, gpu boolean, url string",
    )
    got = claim.claim_batch(
        fr, None, seed=13, default_budget=4, budget_col="__b"
    )
    assert "__b" not in got.columns
    # one-phase spec: rank per host over (priority desc, order_key, number),
    # keep rows whose rank <= their OWN (coalesced) budget
    ok = claim.order_key(13)
    w = Window.partitionBy("host").orderBy(
        F.desc("priority"), F.asc(ok), F.asc("number")
    )
    want = (
        fr.withColumn("order_key", ok)
        .withColumn("budget", F.coalesce(F.col("__b"), F.lit(4)))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.col("budget"))
        .drop("rn", "__b")
    )
    a = sorted(map(tuple, got.select(*want.columns).collect()))
    b = sorted(map(tuple, want.collect()))
    assert a == b and len(a) > 0
    # per-host claim counts: equal to the spec's, and hand-derived for
    # every host whose budget is uniform
    def per_host(df):
        return {r["host"]: r["count"] for r in df.groupBy("host").count().collect()}

    by_host = per_host(got)
    assert by_host == per_host(want)
    assert {h: n for h, n in by_host.items() if h != "vary.example.com"} == {
        "hot.example.com": 5,
        "edge.example.com": 6,
        "cold.example.com": 3,
        "nullb.example.com": 4,
    }
    # vary: the 5 budget-50 rows always survive, plus the budget-2 rows
    # ranked 1-2
    assert 5 <= by_host["vary.example.com"] <= 7
