"""Partitioned-Bloom URL-seen tests (D2): zero false negatives, bounded
false-positive rate, exact anti-join as ground truth."""

from pyspark.sql import functions as F

from crawlingathome_server_spark import datagen
from crawlingathome_server_spark.functions.urls import canonicalize_url
from crawlingathome_server_spark.operators import urlseen


def _canon(df):
    return df.select(canonicalize_url(F.col("url")).alias("canon_url")).dropDuplicates(
        ["canon_url"]
    )


def test_no_false_negatives(spark):
    pages = datagen.pages(spark, seed=21, n=1500)
    seen = _canon(pages)
    flt = urlseen.build_seen_filter(urlseen.hash_urls(seen))
    probed = urlseen.probe_seen_filter(urlseen.hash_urls(seen), flt)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_false_positive_rate_bounded(spark):
    seen = _canon(datagen.pages(spark, seed=21, n=1500))
    flt = urlseen.build_seen_filter(urlseen.hash_urls(seen))
    novel = (
        spark.range(5000)
        .select(F.concat(F.lit("http://unseen.example.net/x/"), F.col("id")).alias("canon_url"))
    )
    probed = urlseen.probe_seen_filter(urlseen.hash_urls(novel), flt)
    fp = probed.filter(F.col("maybe_seen")).count()
    assert fp / 5000 < 0.02, f"FPR {fp/5000}"


def test_bloom_agrees_with_exact_oracle(spark):
    """maybe_seen=False ⇒ exact-unseen (the subset property that makes the
    filter safe for crawl dedup)."""
    pages = datagen.pages(spark, seed=23, n=1000)
    seen = _canon(pages.limit(600))
    cand = _canon(pages)
    flt = urlseen.build_seen_filter(urlseen.hash_urls(seen))
    bloom_unseen = set(
        r["canon_url"]
        for r in urlseen.probe_seen_filter(urlseen.hash_urls(cand), flt)
        .filter(~F.col("maybe_seen"))
        .collect()
    )
    exact_unseen = set(
        r["canon_url"] for r in urlseen.unseen_exact(cand, seen).collect()
    )
    assert bloom_unseen <= exact_unseen
    # and the filter is not degenerate: it keeps most truly-unseen urls
    assert len(bloom_unseen) > 0.95 * len(exact_unseen)


def test_filter_deterministic_across_partitioning(spark):
    seen = _canon(datagen.pages(spark, seed=25, n=800))
    f1 = {
        r["bucket"]: r["bitmap"]
        for r in urlseen.build_seen_filter(urlseen.hash_urls(seen).repartition(2)).collect()
    }
    f2 = {
        r["bucket"]: r["bitmap"]
        for r in urlseen.build_seen_filter(urlseen.hash_urls(seen).repartition(11)).collect()
    }
    assert f1 == f2


def test_auto_sized_filter_fpr(spark):
    """Auto-sizing (auto_params from a count estimate) must hold the
    requested FPR — r01 shipped fixed params; a mis-sized filter blows
    FPR silently (verdict item #5)."""
    n = 20_000
    seen = spark.range(n).select(
        F.concat(F.lit("http://s.example.org/p/"), F.col("id")).alias("canon_url")
    )
    flt, params = urlseen.build_seen_filter_auto(urlseen.hash_urls(seen), fpr=0.01)
    assert params["k"] >= 2 and params["bits_per_bucket"] % 8 == 0
    novel = spark.range(n, 2 * n).select(
        F.concat(F.lit("http://s.example.org/p/"), F.col("id")).alias("canon_url")
    )
    probed = urlseen.probe_seen_filter(
        urlseen.hash_urls(novel), flt,
        n_buckets=params["n_buckets"],
        bits_per_bucket=params["bits_per_bucket"],
        k=params["k"],
    )
    fp = probed.filter(F.col("maybe_seen")).count()
    assert fp / n < 0.03, f"FPR {fp/n} vs target 0.01"
    # no false negatives at auto params
    again = urlseen.probe_seen_filter(
        urlseen.hash_urls(seen), flt,
        n_buckets=params["n_buckets"],
        bits_per_bucket=params["bits_per_bucket"],
        k=params["k"],
    )
    assert again.filter(~F.col("maybe_seen")).count() == 0


def test_filter_persists_across_rounds(spark, tmp_path):
    """Round k commits the built filter as FILTER_TABLE with its params
    in the manifest counters (the crawl engine's layout); round k+1
    reads both back and probes WITHOUT rebuilding — the crawl's
    cross-round once-only guarantee."""
    from crawlingathome_server_spark.sources.checkpoint import CheckpointStore

    store = CheckpointStore(str(tmp_path / "st"), n_partitions=4)
    seen_k = spark.range(5000).select(
        F.concat(F.lit("http://r.example.org/p/"), F.col("id")).alias("canon_url")
    )
    flt, params = urlseen.build_seen_filter_auto(urlseen.hash_urls(seen_k))
    store.commit(
        {urlseen.FILTER_TABLE: flt}, seed=1, round_epoch=100,
        counters={"urlseen_params": params},
    )

    # --- next round: fresh read from disk ---
    snap = store.latest_snapshot_id()
    params2 = store.read_manifest(snap)["counters"]["urlseen_params"]
    flt2 = store.read(spark, urlseen.FILTER_TABLE, snap)
    assert params2 == params
    cands = spark.range(2500, 7500).select(
        F.concat(F.lit("http://r.example.org/p/"), F.col("id")).alias("canon_url")
    )
    probed = urlseen.probe_seen_filter(
        urlseen.hash_urls(cands), flt2,
        n_buckets=params2["n_buckets"],
        bits_per_bucket=params2["bits_per_bucket"],
        k=params2["k"],
    )
    # the 2500 already-seen candidates must all flag maybe_seen
    assert probed.filter((F.col("canon_url").isin(
        [f"http://r.example.org/p/{i}" for i in range(2500, 2520)]
    )) & ~F.col("maybe_seen")).count() == 0
    seen_flagged = probed.filter(F.col("maybe_seen")).count()
    assert seen_flagged >= 2500  # all true-seen + few false positives
    assert seen_flagged < 2500 + 0.03 * 2500


# --- partitioned cuckoo filter (deletion-capable URL-seen variant) ---------


def _hashed_urls(spark, prefix: str, lo: int, hi: int):
    return urlseen.hash_urls(
        spark.range(lo, hi).select(
            F.concat(F.lit(prefix), F.col("id")).alias("canon_url")
        )
    )


def test_cuckoo_no_false_negatives_and_fpr(spark):
    seen = _hashed_urls(spark, "http://c.example.com/p/", 0, 20_000)
    params = urlseen.auto_cuckoo_params(20_000)
    flt = urlseen.build_cuckoo_filter(seen, **params)
    probed = urlseen.probe_cuckoo_filter(seen, flt, **params)
    assert probed.filter(~F.col("maybe_seen")).count() == 0
    novel = _hashed_urls(spark, "http://novel.example.net/x/", 0, 20_000)
    fp = (
        urlseen.probe_cuckoo_filter(novel, flt, **params)
        .filter(F.col("maybe_seen"))
        .count()
    )
    # 16-bit fingerprints, 4-slot rows: FPR ≈ 2·4/2^16 ≈ 0.012%
    assert fp / 20_000 < 0.005, f"cuckoo FPR {fp/20_000}"


def test_cuckoo_delete_enables_recrawl(spark):
    """The re-crawl primitive: deleting expired urls makes exactly them
    claimable again; everything still fresh stays excluded."""
    params = urlseen.auto_cuckoo_params(10_000)
    all_seen = _hashed_urls(spark, "http://c.example.com/p/", 0, 10_000)
    flt = urlseen.build_cuckoo_filter(all_seen, **params)
    expired = _hashed_urls(spark, "http://c.example.com/p/", 0, 3_000)
    flt2 = urlseen.delete_from_cuckoo(flt, expired, **params)
    probed = urlseen.probe_cuckoo_filter(all_seen, flt2, **params).collect()
    for r in probed:
        i = int(r["canon_url"].rsplit("/", 1)[1])
        if i < 3_000:
            assert not r["maybe_seen"], r  # expired → claimable again
        else:
            assert r["maybe_seen"], r  # fresh → still excluded
    # n_items bookkeeping survives the delete
    total = sum(r["n_items"] for r in flt2.collect())
    assert total == 7_000


def test_cuckoo_incremental_insert_equals_bulk(spark):
    """insert_into_cuckoo over two rounds ≡ bulk build, membership-wise;
    untouched buckets pass through by reference (no rewrite)."""
    params = urlseen.auto_cuckoo_params(8_000)
    a = _hashed_urls(spark, "http://c.example.com/p/", 0, 6_000)
    b = _hashed_urls(spark, "http://c.example.com/p/", 6_000, 8_000)
    incr = urlseen.insert_into_cuckoo(
        urlseen.build_cuckoo_filter(a, **params), b, **params
    )
    both = a.unionByName(b)
    probed = urlseen.probe_cuckoo_filter(both, incr, **params)
    assert probed.filter(~F.col("maybe_seen")).count() == 0
    novel = _hashed_urls(spark, "http://novel.example.net/x/", 0, 10_000)
    fp = (
        urlseen.probe_cuckoo_filter(novel, incr, **params)
        .filter(F.col("maybe_seen"))
        .count()
    )
    assert fp / 10_000 < 0.005


def test_cuckoo_deterministic_across_partitioning(spark):
    params = urlseen.auto_cuckoo_params(5_000)
    urls = _hashed_urls(spark, "http://c.example.com/p/", 0, 5_000)
    t1 = {
        r["bucket"]: r["table"]
        for r in urlseen.build_cuckoo_filter(urls.repartition(3), **params).collect()
    }
    t64 = {
        r["bucket"]: r["table"]
        for r in urlseen.build_cuckoo_filter(urls.repartition(64), **params).collect()
    }
    assert set(t1) == set(t64)
    # byte-identical: the build sorts by hash inside each bucket, so the
    # eviction chains (and hence the table bytes) are shuffle-order-free
    assert t1 == t64
    probe = _hashed_urls(spark, "http://c.example.com/p/", 0, 6_000)
    f1 = urlseen.build_cuckoo_filter(urls.repartition(3), **params)
    f2 = urlseen.build_cuckoo_filter(urls.repartition(64), **params)
    r1 = {r["canon_url"]: r["maybe_seen"] for r in urlseen.probe_cuckoo_filter(probe, f1, **params).collect()}
    r2 = {r["canon_url"]: r["maybe_seen"] for r in urlseen.probe_cuckoo_filter(probe, f2, **params).collect()}
    assert r1 == r2


def test_cuckoo_over_capacity_raises(spark):
    """Overfilling must raise (resize signal), never silently degrade."""
    import numpy as np
    import pytest

    table = np.zeros((4, 4), dtype=np.uint16)  # 16 slots
    rng = np.random.RandomState(7)
    h = rng.randint(0, 2**63, size=64).astype(np.uint64)
    fp, i1, i2 = urlseen._cuckoo_fp_i1_i2(h, 4)
    with pytest.raises(ValueError, match="over capacity"):
        urlseen._cuckoo_insert(table, fp, i1, i2)


def test_cuckoo_delete_never_inserted_raises(spark):
    """The delete safety contract is enforced at runtime (ADVICE r03):
    deleting urls that were never inserted can evict a colliding victim's
    fingerprint (false negatives → duplicate crawling), so the cogroup
    raises when a batch's removed-count falls short — including the
    degenerate case of a delete aimed at a bucket with no table."""
    import pytest

    params = urlseen.auto_cuckoo_params(5_000)
    seen = _hashed_urls(spark, "http://c.example.com/p/", 0, 5_000)
    flt = urlseen.build_cuckoo_filter(seen, **params)
    never = _hashed_urls(spark, "http://never.example.net/x/", 0, 2_000)
    with pytest.raises(Exception, match="cuckoo delete"):
        urlseen.delete_from_cuckoo(flt, never, **params).collect()
    # legitimate delete of a true subset still passes
    sub = _hashed_urls(spark, "http://c.example.com/p/", 0, 1_000)
    out = urlseen.delete_from_cuckoo(flt, sub, **params)
    assert sum(r["n_items"] for r in out.collect()) == 4_000


def test_auto_cuckoo_params_bucket_size_posture():
    """Buckets honor the documented ~1 MiB posture (ADVICE r03 fixed a
    bits-vs-bytes slip that oversized them ~8×): at any scale the bucket
    table stays ≤ 2 MiB (power-of-two rounding + 1/load headroom over the
    1 MiB bit budget), and bucket count grows with n_items so build/probe
    parallelism isn't floored at 64 for 10^8-key filters."""
    for n_items in (1_000_000, 100_000_000, 10_000_000_000):
        p = urlseen.auto_cuckoo_params(n_items)
        table_bytes = p["n_rows"] * urlseen._CUCKOO_SLOTS_PER_ROW * 2
        assert table_bytes <= 2 << 20, (n_items, p, table_bytes)
        # capacity must cover the expected per-bucket share at 0.8 load
        per = n_items / p["n_buckets"]
        assert p["n_rows"] * urlseen._CUCKOO_SLOTS_PER_ROW * 0.8 >= per, (n_items, p)
    assert urlseen.auto_cuckoo_params(100_000_000)["n_buckets"] > 64
    assert urlseen.auto_cuckoo_params(10_000_000_000)["n_buckets"] >= 10_000


def test_insert_into_bloom_equals_build_plus_merge(spark):
    """The one-cogroup bloom insert equals building the batch and
    OR-merging it into the parent's touched buckets — i.e. (bloom
    bitmaps are unions under OR) a bulk build over parent keys ∪ batch,
    restricted to the touched buckets: bitmap and n_items bit-identical,
    buckets with no parent row included, parent-only (untouched) buckets
    omitted."""
    base_urls = spark.range(0, 3000).select(
        F.concat(F.lit("http://a/"), F.col("id")).alias("canon_url")
    )
    # new urls confined to a hash subset so SOME buckets stay untouched
    new_urls = spark.range(5000, 5400).select(
        F.concat(F.lit("http://b/"), F.col("id")).alias("canon_url")
    ).filter(F.pmod(F.xxhash64(F.concat(F.lit("http://b/"), F.col("id")), F.lit(0)), F.lit(64)) < 20)
    kw = dict(n_buckets=64, bits_per_bucket=1 << 10, k=3)
    flt = urlseen.build_seen_filter(urlseen.hash_urls(base_urls), **kw)
    hashed = urlseen.hash_urls(new_urls)
    got = {
        r["bucket"]: (bytes(r["bitmap"]), r["n_items"])
        for r in urlseen.insert_into_bloom(flt, hashed, **kw).collect()
    }
    touched = {r["bucket"] for r in urlseen.touched_buckets(hashed, n_buckets=64).collect()}
    union = urlseen.build_seen_filter(
        urlseen.hash_urls(base_urls.unionByName(new_urls)), **kw
    )
    want = {
        r["bucket"]: (bytes(r["bitmap"]), r["n_items"])
        for r in union.collect()
        if r["bucket"] in touched
    }
    assert got == want and 0 < len(got) < 64
