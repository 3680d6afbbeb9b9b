"""The claim operator — SURVEY.md §2.7, the heart of the reference server.

Reference semantics (models.py:105-131, main.py:533-598): per HTTP request,
atomically pick ONE random open job under ``FOR UPDATE SKIP LOCKED``,
stamp the worker token, re-fetch by token. ``ORDER BY RANDOM() LIMIT 1``
is a full scan + sort per claim — the known scalability sin
(SURVEY.md §4).

Spark inversion: a *batch claim per scheduling round* under snapshot
isolation. Randomness → seeded hashing (deterministic at any parallelism);
row locks → single-writer round commit (sources/checkpoint.py); politeness
= per-host claim budget from the robots dim table.

Skew story (the part that must survive 100 TB): hot hosts concentrate
frontier rows, so a naive ``Window.partitionBy(host)`` puts a whole hot
host in one task. We rank in two phases:

1. salt: ``bucket = pmod(xxhash64(number, seed), S)`` → rank per
   ``(host, bucket)`` and keep only ``budget`` candidates per bucket —
   bounded work per task regardless of host size;
2. re-rank the surviving ≤ S*budget candidates per host and keep
   ``budget``.

Phase 2's input is tiny (budget*S rows per host), so its per-host window
is safe. The result is exactly the global per-host top-``budget`` by
``(priority DESC, order_key)`` — phase 1 can never drop a phase-2 winner
because each bucket keeps ``budget`` rows and a host's top-``budget`` can
occupy at most ``budget`` slots of any bucket.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.urls import oracle_hash, seeded_hash64

#: literal budgets at or above this are treated as UNBOUNDED: the per-host
#: rank `row_number() <= budget` keeps every row of any host smaller than
#: 2^30 — i.e. every row, at any plausible per-round scale — so the rank
#: window (a full sort-shuffle of the candidate set) and the winner→payload
#: join-back compute nothing. r08 (guide §1.2/§2.4): skip both outright;
#: output rows/columns are identical (pytest-asserted vs the ranked path).
UNBOUNDED_BUDGET = 1 << 30


def claim_is_single_scan(
    robots: DataFrame | None, budget_col: str | None, default_budget: int
) -> bool:
    """True when :func:`claim_batch` takes its unbounded-literal shortcut:
    no per-host budget source and a literal budget >= UNBOUNDED_BUDGET,
    so every open candidate is claimed in one projection over one scan
    — no rank window, no payload join-back. Callers that would pin the
    candidate set for a multi-consumer claim plan gate on this."""
    return robots is None and budget_col is None and default_budget >= UNBOUNDED_BUDGET


def open_jobs(frontier: DataFrame, stage: str = "cpu") -> Column:
    """Boolean filter for claimable jobs (reference: main.py:386,607-609).

    ``stage='cpu'`` ≈ CPU/HYBRID claim (gpu=false); ``'gpu'`` ≈ GPU claim.
    """
    want_gpu = stage == "gpu"
    return (
        (~F.col("pending")) & (~F.col("closed")) & (F.col("gpu") == F.lit(want_gpu))
    )


def order_key(seed: int, use_oracle_hash: bool = False) -> Column:
    """Deterministic stand-in for ORDER BY RANDOM() (models.py:112,127)."""
    if use_oracle_hash:
        return oracle_hash(F.col("number"), seed)
    return seeded_hash64(F.col("number"), seed=seed)


def claim_batch(
    frontier: DataFrame,
    robots: DataFrame | None = None,
    *,
    seed: int = 0,
    stage: str = "cpu",
    default_budget: int = 4,
    salt_buckets: int = 8,
    host_col: str = "host",
    use_oracle_hash: bool = False,
    with_payload: bool = True,
    robots_broadcast: bool = True,
    budget_col: str | None = None,
) -> DataFrame:
    """Select this round's claims: per-host politeness-budgeted top-k.

    ``budget_col`` names a frontier column already carrying the per-host
    budget (NULL → ``default_budget``); see :func:`_ranked_narrow`.

    Returns the claimed subset of ``frontier`` columns plus
    ``order_key`` and ``budget``. Pure transformation — committing the
    claims (pending=true etc.) is :func:`apply_claims`.

    Precondition: ``number`` is unique (it is the reference's PK,
    models.py:14; sources/seed.dedup_by_number enforces it at load).

    Shuffle hygiene: the rank phases run over a FIXED-WIDTH projection
    (number, priority, order_key, host_key [, budget] ≈ 40 B/row) — the
    frontier's wide payload (urls, completor tokens, …) AND the host
    string itself (r06: ~56 B/row of UnsafeRow traffic it used to add)
    never ride the sort-shuffles; the politeness budget attaches via a
    map-side broadcast join BEFORE the exchange, and winners join the
    payload back at the end, where the (budget-bounded, small) winner
    set broadcasts. Fixed-width-only rows keep the window sort runs
    radix-friendly and halve shuffle bytes; at 10^10 rows this is the
    difference between shuffling ~400 GB and ~4 TB per round.

    ``with_payload=False`` therefore returns the pure scheduling
    decision set (number, priority, order_key, budget) WITHOUT
    ``host_col`` — callers that need the host (or any payload column)
    use the default payload join, which recovers every frontier column.

    Note on Spark's own top-k pushdown: with a LITERAL budget Catalyst
    plans a partial WindowGroupLimit before the exchange (map-side
    per-host top-k), which already bounds skew; the explicit salt phase
    is what keeps the bound when the budget is a per-host COLUMN from
    the robots table, where WindowGroupLimit cannot apply.

    Deployment note (r06): with the default ``robots_broadcast=True``
    the rank exchange is this operator's ONLY shuffle (with
    ``robots_broadcast=False`` the budget join itself plans a shuffle
    on ``host_col`` before the rank — ADVICE r06). A frontier that
    persists ``host_key`` and is stored
    BUCKETED on it (an Iceberg ``bucket(N, host_key)`` transform /
    ``bucketBy`` table) already satisfies the window's clustered
    distribution — this operator then plans with ZERO Exchange on the
    rank path (scan → in-bucket sort → rank; asserted END-TO-END
    through claim_batch in tests/test_plans.py::
    test_claim_over_host_bucketed_frontier_is_shuffle_free). At 10^10
    rows that replaces the round's ~400 GB rank shuffle with an
    embarrassingly parallel scan.
    """
    cand = frontier.filter(open_jobs(frontier, stage))

    if claim_is_single_scan(robots, budget_col, default_budget):
        # Unbounded literal budget (the crawl engine's "claim everything
        # polite" sentinel): `rn <= budget` is true for every row, so the
        # rank adds nothing — emit order_key/budget as plain projections.
        # This removes the candidate set's sort-shuffle AND (with payload)
        # the O(winners) broadcast join-back, which at an unbounded budget
        # re-attached EVERY candidate: two shuffles' worth of work whose
        # output equals its input (r08; equality pytest-asserted).
        out = cand.withColumn(
            "order_key", order_key(seed, use_oracle_hash)
        ).withColumn("budget", F.lit(default_budget))
        if not with_payload:
            return out.select("number", "priority", "order_key", "budget")
        return out.select(
            *[c for c in frontier.columns], "order_key", "budget"
        )

    winners = _ranked_narrow(
        cand,
        robots,
        seed=seed,
        default_budget=default_budget,
        salt_buckets=salt_buckets,
        host_col=host_col,
        use_oracle_hash=use_oracle_hash,
        robots_broadcast=robots_broadcast,
        budget_col=budget_col,
    ).drop("host_key")

    # The scheduling decision is the narrow winner set; downstream merges
    # (apply_claims) join on `number` anyway. Re-attach the wide payload
    # (the host string included, since r06) only when the caller emits
    # job specs to workers — winners are politeness-bounded (≤ Σ host
    # budgets), so broadcast them and stream the big side instead of
    # shuffling it.
    payload_cols = [
        c
        for c in frontier.columns
        if c not in ("number", "priority") and c != budget_col
    ]
    if not with_payload or not payload_cols:
        return winners
    # a pre-attached budget_col returns as the canonical "budget" column.
    # No broadcast hint (r08): winner-set size is data-dependent — at
    # politeness-bounded scale it is tiny and AQE broadcasts it from the
    # rank stage's RUNTIME size anyway, but under large/unbounded-ish
    # column budgets (the discovery engine's crawl-delay-derived budgets
    # over 2M candidates) the hint forced a million-row broadcast build;
    # AQE then correctly picks a shuffle join instead.
    out_cols = [c for c in frontier.columns if c != budget_col]
    return winners.join(
        cand.select("number", *payload_cols), on="number", how="inner"
    ).select(*out_cols, "order_key", "budget")


def _ranked_narrow(
    cand: DataFrame,
    robots: DataFrame | None,
    *,
    seed: int,
    default_budget: int,
    salt_buckets: int,
    host_col: str,
    use_oracle_hash: bool,
    robots_broadcast: bool = True,
    budget_col: str | None = None,
) -> DataFrame:
    """Per-host politeness-budgeted top-k over an (already open-filtered)
    candidate set — the rank core of :func:`claim_batch`, kept separate
    so :func:`claim_batch_union` can pre-rank disjoint candidate parts
    independently. Returns the fixed-width winner set WITH ``host_key``
    (columns: number, priority, host_key?, order_key, budget — callers
    drop host_key or re-rank on it).

    ``budget_col`` (r07): the caller already attached the per-host
    budget as a column of ``cand`` (NULL → ``default_budget``) — e.g.
    :func:`~..plans.rounds.expand_frontier` folds it into its single
    robots rules broadcast join, so the dim is built/broadcast ONCE per
    round instead of once for the rules and again for the budget.
    Mutually exclusive with ``robots``."""
    if budget_col is not None and robots is not None:
        raise ValueError("pass either robots or budget_col, not both")
    ok = order_key(seed, use_oracle_hash)
    # Rank over a numeric host key, not the host string: the window
    # sort comparator then touches only fixed-width numerics (Tungsten
    # radix-friendly), and since r06 the string itself never enters the
    # rank shuffles at all. 64-bit hash collisions would merely merge
    # two hosts' budgets (P ≈ n²/2⁶⁵). A frontier that PERSISTS a
    # host_key column (precondition: == seeded_hash64(host); the layout
    # a host-bucketed store maintains) keeps it — ranking then uses the
    # stored column, which is what lets a bucketed-on-host_key table
    # satisfy the window's distribution with no Exchange (Catalyst can
    # never equate a freshly-computed hash with the bucketing column).
    has_stored_host_key = "host_key" in cand.columns
    narrow = cand.select(
        "number",
        host_col,
        "priority",
        *(("host_key",) if has_stored_host_key else ()),
        *((budget_col,) if budget_col is not None else ()),
    ).withColumn("order_key", ok)
    if not has_stored_host_key:
        narrow = narrow.withColumn("host_key", seeded_hash64(F.col(host_col)))

    budget_is_literal = robots is None and budget_col is None
    if budget_col is not None:
        narrow = narrow.withColumn(
            "budget", F.coalesce(F.col(budget_col), F.lit(default_budget))
        )
        if budget_col != "budget":
            narrow = narrow.drop(budget_col)
    elif robots is not None:
        # Politeness dim table is one row per host → broadcast by
        # default so the join runs map-side BEFORE the rank exchange
        # and the host string can drop right after it — only the
        # fixed-width budget rides the shuffles. A deployment whose dim
        # outgrows broadcast (10^7+ hosts × rule arrays) passes
        # robots_broadcast=False: the hint drops and Catalyst/AQE picks
        # the join strategy from stats (SMJ on host at the extreme).
        dim = robots.select(
            F.col("host").alias(host_col), "max_claims_per_round"
        )
        if robots_broadcast:
            dim = F.broadcast(dim)
        narrow = narrow.join(
            dim,
            on=host_col,
            how="left",
        ).withColumn(
            "budget", F.coalesce(F.col("max_claims_per_round"), F.lit(default_budget))
        ).drop("max_claims_per_round")
    narrow = narrow.drop(host_col)

    order = (F.desc("priority"), F.asc("order_key"), F.asc("number"))
    w_host = Window.partitionBy("host_key").orderBy(*order)

    if budget_is_literal:
        # Literal budget → Catalyst plans a partial WindowGroupLimit
        # (map-side per-host top-k BEFORE the exchange), which already
        # bounds hot-host shuffle volume; salting would only add a second
        # sort. One window, skew-safe. The constant budget rides as a
        # filter literal and attaches as a column only on the winner
        # set — the shuffle rows stay at 4 longs (~40 B incl. null set).
        winners = (
            narrow.withColumn("rn", F.row_number().over(w_host))
            .filter(F.col("rn") <= F.lit(default_budget))
            .drop("rn")
            .withColumn("budget", F.lit(default_budget))
        )
    else:
        # Per-host column budget → no WindowGroupLimit pushdown possible;
        # bound hot hosts explicitly with the salted two-phase rank.
        salted = narrow.withColumn(
            "salt",
            F.pmod(seeded_hash64(F.col("number"), seed=seed + 1), F.lit(salt_buckets)),
        )
        w1 = Window.partitionBy("host_key", "salt").orderBy(*order)
        pre = (
            salted.withColumn("rn1", F.row_number().over(w1))
            .filter(F.col("rn1") <= F.col("budget"))
            .drop("rn1", "salt")
        )
        # Phase 2: exact per-host top-budget over the small candidate set.
        winners = (
            pre.withColumn("rn", F.row_number().over(w_host))
            .filter(F.col("rn") <= F.col("budget"))
            .drop("rn")
        )
    return winners


def claim_batch_union(
    parts: list[DataFrame],
    robots: DataFrame | None = None,
    *,
    seed: int = 0,
    stage: str = "cpu",
    default_budget: int = 4,
    salt_buckets: int = 8,
    host_col: str = "host",
    use_oracle_hash: bool = False,
) -> DataFrame:
    """:func:`claim_batch` over ``unionByName(parts)`` (``with_payload=
    False``), computed WITHOUT ever shuffling the union (r07, VERDICT r06
    next #1/#7).

    Exactness: the global per-host top-``budget`` equals the per-host
    top-``budget`` of the union of each part's per-host top-``budget`` —
    a part's ranked survivors contain every global winner that part
    holds, because a host's global winners can occupy at most ``budget``
    slots of any part. So each part is pre-ranked INDEPENDENTLY (the
    huge bucketed-store base part plans its rank with zero Exchange —
    its scan already clusters host_key; the merge-on-read layer parts
    are O(touched)) and only the pre-ranked survivors — O(winners) rows
    — meet in the final re-rank exchange. At 10^10 frontier rows with a
    1%-open sidecar this turns the round's politeness rank from an
    O(open) ~4 GB-per-host-key-column shuffle into an embarrassingly
    parallel scan plus an O(claims) re-rank.

    Each part must carry the claim input columns (number, host,
    priority, gpu, pending, closed [, host_key]).
    """
    ranked = []
    for part in parts:
        cand = part.filter(open_jobs(part, stage))
        ranked.append(
            _ranked_narrow(
                cand,
                robots,
                seed=seed,
                default_budget=default_budget,
                salt_buckets=salt_buckets,
                host_col=host_col,
                use_oracle_hash=use_oracle_hash,
            ).select("number", "priority", "host_key", "order_key", "budget")
        )
    cand_all = ranked[0]
    for r in ranked[1:]:
        cand_all = cand_all.unionByName(r)
    if len(ranked) == 1:
        return cand_all.drop("host_key")
    order = (F.desc("priority"), F.asc("order_key"), F.asc("number"))
    w_host = Window.partitionBy("host_key").orderBy(*order)
    return (
        cand_all.withColumn("rn", F.row_number().over(w_host))
        .filter(F.col("rn") <= F.col("budget"))
        .drop("rn", "host_key")
        .select("number", "priority", "order_key", "budget")
    )


def assign_workers(
    claims: DataFrame,
    workers: DataFrame,
    *,
    worker_type: str = "CPU",
    seed: int = 0,
) -> DataFrame:
    """Deterministic claim→worker assignment via rendezvous (highest-
    random-weight) hashing: worker = argmax over eligible workers of
    ``xxhash64(number, uuid, seed)``.

    Replaces the reference's token-stamping re-fetch trick
    (main.py:554-566). vs the r01 ``pmod(hash, n)`` round-robin: no
    driver-side count, no global window over workers, and when a worker
    joins or leaves only the claims whose argmax WAS that worker move
    (minimal reassignment under churn — the property a long-running
    crawl wants). One pass: the sorted worker list rides along as a
    single broadcast array row; the per-claim argmax is one fold over
    it. Workers are a dim table (one row per live worker) by
    construction; no worker set at any plausible scale outgrows one
    array.
    """
    eligible = workers.filter(F.col("type") == worker_type).select("uuid")
    warr = eligible.agg(F.sort_array(F.collect_list("uuid")).alias("__ws"))

    def _h(u):
        return F.xxhash64(F.col("number"), u, F.lit(seed + 2))

    init = F.struct(
        F.lit(int(-(1 << 63))).cast("long").alias("h"),
        F.lit(None).cast("string").alias("u"),
    )
    pick = F.aggregate(
        F.col("__ws"),
        init,
        lambda acc, u: F.when(
            _h(u) > acc["h"], F.struct(_h(u).alias("h"), u.alias("u"))
        ).otherwise(acc),
    )["u"]
    return (
        claims.join(F.broadcast(warr))
        .withColumn("assigned_worker", pick)
        .drop("__ws")
    )


def apply_claims(
    frontier: DataFrame, claims: DataFrame, *, round_epoch: int
) -> DataFrame:
    """Commit claims into the frontier snapshot: ``pending=true``,
    ``completor=assigned worker``, ``claim_epoch=round`` (reference UPDATE
    in models.py:105-131 re-expressed as a columnar merge)."""
    probe = claims.select(
        F.col("number").alias("c_number"),
        F.coalesce(F.col("assigned_worker"), F.lit("claimed")).alias("c_worker")
        if "assigned_worker" in claims.columns
        else F.lit("claimed").alias("c_worker"),
    )
    hit = F.col("c_number").isNotNull()
    return (
        frontier.join(probe, frontier["number"] == probe["c_number"], "left")
        .select(
            *[c for c in frontier.columns if c not in ("pending", "completor", "claim_epoch")],
            F.when(hit, F.lit(True)).otherwise(F.col("pending")).alias("pending"),
            F.when(hit, F.col("c_worker")).otherwise(F.col("completor")).alias("completor"),
            F.when(hit, F.lit(round_epoch)).otherwise(F.col("claim_epoch")).alias("claim_epoch"),
        )
        .select(*frontier.columns)
    )
