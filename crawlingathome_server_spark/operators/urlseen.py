"""Partitioned Bloom-filter URL-seen set (SURVEY.md §2.6 D2).

The reference guarantees once-only processing with ``pending``/``closed``
flags + row locks (models.py:31-32,105-131) — per-row state in Postgres.
At 10^10 URLs the seen-set must be a compact, partitioned, mergeable
structure instead:

- build: ``canonical_url → 64-bit hash → pmod(hash, n_buckets)`` bucket
  (xxhash64 at-scale default; md5-parity family for the oracle-verified
  variant, whose false positives the DuckDB oracle predicts exactly);
  per-bucket bitmap built with ``applyInPandas`` (Arrow batches, numpy
  bit-ops — no per-row Python); sized by ``auto_params`` from a count
  estimate; each crawl round inserts its new urls into only the
  buckets they touch (:func:`insert_into_bloom`);
- probe: candidates join their bucket's bitmap (bucketed equi-join; the
  bitmap table is ``n_buckets`` rows → broadcast at any scale, since
  n_buckets*bytes_per_bucket is the total filter size, sized to executor
  memory), then a vectorized pandas UDF tests k bit positions.

Why not ``DataFrame.stat.bloomFilter``: it collects one monolithic filter
to the driver — a 10^10-key filter at 1% FPR is ~11 GiB, fine spread over
buckets/executors, not fine as one driver object.

Double hashing g_i(x) = h1 + i*h2 (Kirsch–Mitzenmacher) derives k probe
positions from one 64-bit hash, so the whole pipeline hashes each URL
exactly once JVM-side.

Exact-membership fallback (used by tests as ground truth and valid for
small scales): a plain ``left_anti`` join vs the seen table.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.urls import seeded_hash64

_BITMAP_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("bitmap", T.BinaryType(), False),
        T.StructField("n_items", T.LongType(), False),
    ]
)


def optimal_params(n_items: int, fpr: float = 0.01) -> tuple[int, int]:
    """(total bits m, k) for a target false-positive rate."""
    m = max(64, int(-n_items * math.log(fpr) / (math.log(2) ** 2)))
    k = max(1, round(m / max(n_items, 1) * math.log(2)))
    return m, k


#: per-bucket bitmap ceiling: 1 MiB of bits — small enough that one
#: bucket's bitmap is a comfortable applyInPandas group / broadcast row,
#: large enough that a 10^10-key filter needs only ~10^4 buckets.
MAX_BUCKET_BITS = 1 << 23


def auto_params(n_items: int, fpr: float = 0.01) -> dict[str, int]:
    """Size the partitioned filter from an item-count estimate.

    Returns {n_buckets, bits_per_bucket, k}. Total bits come from the
    standard optimum m = -n·ln(p)/ln²2; buckets are capped at
    MAX_BUCKET_BITS each so bucket bitmaps stay executor-friendly at any
    scale (10^10 keys @1% → ~11.6k buckets of 1 MiB). A mis-sized filter
    silently blows the FPR, which is why build-time auto-sizing is the
    default (r01 shipped fixed params — verdict item #5)."""
    m, _ = optimal_params(n_items, fpr)
    n_buckets = max(64, -(-m // MAX_BUCKET_BITS))
    # size each bucket for its EXPECTED load plus 3σ Poisson slack —
    # bucket loads vary, and an overloaded bucket saturates its bitmap
    # (locally blown FPR) even when total bits are optimal. The slack is
    # +0.3% at 10^10 keys and only matters at small scale.
    per = n_items / n_buckets
    per_eff = per + 3 * math.sqrt(per) + 8
    bits = int(-per_eff * math.log(fpr) / (math.log(2) ** 2)) + 1
    bits = max(64, ((bits + 7) // 8) * 8)  # byte-aligned bitmap
    k = max(1, round(bits / per_eff * math.log(2)))
    return {"n_buckets": n_buckets, "bits_per_bucket": bits, "k": k}


def build_seen_filter_auto(
    urls_hashed: DataFrame,
    *,
    fpr: float = 0.01,
    n_items: int | None = None,
    hash_col: str = "url_hash",
) -> tuple[DataFrame, dict[str, int]]:
    """Auto-sized build: (filter_df, params). ``n_items`` may come from a
    maintained counter (checkpoint manifest) to avoid the count job; when
    absent it is counted here (one cheap scan of the hash column)."""
    if n_items is None:
        n_items = urls_hashed.count()
    params = auto_params(n_items, fpr)
    flt = build_seen_filter(
        urls_hashed,
        n_buckets=params["n_buckets"],
        bits_per_bucket=params["bits_per_bucket"],
        k=params["k"],
        hash_col=hash_col,
    )
    return flt, params


def insert_into_bloom(
    seen_filter: DataFrame,
    new_hashed: DataFrame,
    *,
    n_buckets: int = 64,
    bits_per_bucket: int = 1 << 17,
    k: int = 5,
    hash_col: str = "url_hash",
) -> DataFrame:
    """Touched-bucket bloom insert in ONE cogroup pass (r08).

    Each returned bucket equals :func:`build_seen_filter` over the
    bucket's parent keys plus the batch (bloom bitmaps are unions under
    bitwise OR; pytest-asserted). The new urls shuffle to their bucket
    once and meet the parent bitmap in a single cogroup, which sets the
    k bit positions straight into a copy of the parent bytes (zeros
    when the bucket had no row yet). Returns ONLY buckets that
    received >= 1 new url — the Append delta-commit shape, like
    :func:`insert_into_cuckoo` with ``touched_only=True``."""
    m_bits, kk = bits_per_bucket, k

    def _ins(new_pdf: pd.DataFrame, filt_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(new_pdf) == 0:
            # parent-only bucket: untouched, not part of the delta
            return pd.DataFrame(columns=["bucket", "bitmap", "n_items"])
        if len(filt_pdf):
            bits = np.frombuffer(filt_pdf["bitmap"].iloc[0], dtype=np.uint8).copy()
            n_items = int(filt_pdf["n_items"].iloc[0])
        else:
            bits = np.zeros(m_bits // 8, dtype=np.uint8)
            n_items = 0
        pos = _positions(new_pdf[hash_col].to_numpy(), m_bits, kk)
        byte_idx, bit_idx = pos >> 3, pos & 7
        np.bitwise_or.at(
            bits, byte_idx.ravel(), (1 << bit_idx.ravel()).astype(np.uint8)
        )
        return pd.DataFrame(
            {
                "bucket": [int(new_pdf["bucket"].iloc[0])],
                "bitmap": [bits.tobytes()],
                "n_items": [n_items + len(new_pdf)],
            }
        )

    # project to (hash, bucket) BEFORE the group shuffle (r08, guide
    # §2.3): the builder only reads the hash column, and the url string
    # would otherwise ride the exchange AND the Arrow crossing for
    # nothing (~4x the bytes at 1M urls)
    with_bucket = new_hashed.select(
        F.col(hash_col),
        F.pmod(F.col(hash_col), F.lit(n_buckets)).cast("int").alias("bucket"),
    )
    return (
        with_bucket.groupBy("bucket")
        .cogroup(seen_filter.groupBy("bucket"))
        .applyInPandas(lambda lk, rk: _ins(lk, rk), _BITMAP_SCHEMA)
    )


FILTER_TABLE = "urlseen_filter"


def _positions(h: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(len(h), k) probe positions via double hashing on the u64 hash."""
    h = h.astype(np.uint64)
    h1 = h & np.uint64(0xFFFFFFFF)
    h2 = (h >> np.uint64(32)) | np.uint64(1)  # odd → full-period
    i = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m_bits)).astype(np.int64)


def build_seen_filter(
    urls_hashed: DataFrame,
    *,
    n_buckets: int = 64,
    bits_per_bucket: int = 1 << 17,
    k: int = 5,
    hash_col: str = "url_hash",
) -> DataFrame:
    """Build the bucketed Bloom filter from a DF with a 64-bit hash column.

    One shuffle (by bucket), then a grouped-map pandas UDF ORs the bits of
    each bucket with numpy. Output: (bucket, bitmap:binary, n_items).
    """
    m_bits, kk = bits_per_bucket, k

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(pdf["bucket"].iloc[0])
        pos = _positions(pdf[hash_col].to_numpy(), m_bits, kk)
        bits = np.zeros(m_bits // 8, dtype=np.uint8)
        byte_idx, bit_idx = pos >> 3, pos & 7
        np.bitwise_or.at(bits, byte_idx.ravel(), (1 << bit_idx.ravel()).astype(np.uint8))
        return pd.DataFrame(
            {"bucket": [bucket], "bitmap": [bits.tobytes()], "n_items": [len(pdf)]}
        )

    # project to (hash, bucket) BEFORE the group shuffle (r08, guide
    # §2.3): the builder only reads the hash column, and the url string
    # would otherwise ride the exchange AND the Arrow crossing for
    # nothing (~4x the bytes at 1M urls)
    with_bucket = urls_hashed.select(
        F.col(hash_col),
        F.pmod(F.col(hash_col), F.lit(n_buckets)).cast("int").alias("bucket"),
    )
    return with_bucket.groupBy("bucket").applyInPandas(_build, _BITMAP_SCHEMA)


def probe_seen_filter(
    candidates: DataFrame,
    seen_filter: DataFrame,
    *,
    n_buckets: int = 64,
    bits_per_bucket: int = 1 << 17,
    k: int = 5,
    hash_col: str = "url_hash",
) -> DataFrame:
    """Mark candidates with ``maybe_seen`` (no false negatives).

    Probe = **cogroup by bucket**: candidates shuffle to their bucket,
    each bucket's bitmap crosses into Python exactly ONCE per group, and
    the k-position bit test is a single numpy matrix op over the whole
    group. (A broadcast-join formulation would replicate the bitmap
    bytes onto every candidate row through Arrow — at 1 M candidates ×
    8 KiB bitmaps that is ~8 GB of copies; measured 50× slower.) Neither
    the filter nor any bucket ever has to fit on the driver.
    """
    m_bits, kk = bits_per_bucket, k
    out_schema = T.StructType(
        list(candidates.schema.fields) + [T.StructField("maybe_seen", T.BooleanType(), False)]
    )
    cand_cols = candidates.columns

    def _probe(cand_pdf: pd.DataFrame, filt_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(cand_pdf) == 0:
            return pd.DataFrame(columns=[*cand_cols, "maybe_seen"])
        if len(filt_pdf) == 0:
            maybe = np.zeros(len(cand_pdf), dtype=bool)
        else:
            bits = np.frombuffer(filt_pdf["bitmap"].iloc[0], dtype=np.uint8)
            pos = _positions(cand_pdf[hash_col].to_numpy(), m_bits, kk)
            maybe = np.all((bits[pos >> 3] >> (pos & 7)) & 1, axis=1)
        return cand_pdf[cand_cols].assign(maybe_seen=maybe)

    with_bucket = candidates.withColumn(
        "bucket", F.pmod(F.col(hash_col), F.lit(n_buckets)).cast("int")
    )
    return (
        with_bucket.groupBy("bucket")
        .cogroup(seen_filter.groupBy("bucket"))
        .applyInPandas(lambda lk, rk: _probe(lk, rk), out_schema)
    )


def hash_urls(
    df: DataFrame,
    url_col: str = "canon_url",
    out_col: str = "url_hash",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Stamp the 64-bit url hash (JVM-side).

    'xxhash64' is the at-scale default; 'md5' uses the parity family
    (functions/parity.py) so the whole bloom filter — bucket choice, bit
    positions, and therefore even its false positives — reproduces
    bit-identically in the DuckDB oracle (oracles.bloom_probe_sql)."""
    if hash_mode == "md5":
        from ..functions.parity import md5_long

        return df.withColumn(out_col, md5_long(F.col(url_col)))
    return df.withColumn(out_col, seeded_hash64(F.col(url_col), seed=0))


def unseen_exact(candidates: DataFrame, seen: DataFrame, key: str = "canon_url") -> DataFrame:
    """Exact unseen set via left_anti — the test oracle for the filter."""
    return candidates.join(seen.select(key).dropDuplicates([key]), on=key, how="left_anti")


# --- partitioned CUCKOO filter: the deletion-capable URL-seen variant ------
#
# The north rule names "cuckoo-filter/Bloom URL-seen". Bloom bitmaps
# OR-merge (ideal for monotone crawl rounds) but cannot forget; a cuckoo
# filter (Fan et al., "Cuckoo Filter: Practically Better Than Bloom",
# CoNEXT 2014) supports DELETE — the primitive behind URL expiry /
# re-crawl scheduling ("this url was crawled >90 days ago, let it claim
# again"). Same partitioned posture as the bloom: one top-level bucket
# per pmod(url_hash, n_buckets); per bucket a cuckoo table of
# 4-slot rows holding 16-bit fingerprints (0 = empty), serialized as one
# binary blob — so the whole filter is n_buckets rows, builds/probes via
# the same one-Python-crossing-per-bucket cogroup, and never lives on
# the driver. FPR ≈ 2·b/2^16 ≈ 0.012% at b=4 — far below the bloom's 1%
# — at ~20 effective bits/key (16/load).
#
# All hashing derives from the SAME 64-bit url hash column the bloom
# uses: fingerprint = high 16 bits (0 remapped), primary index i1 = low
# bits, alternate i2 = i1 XOR h(fp) — the standard partial-key scheme,
# involutive because n_slots is a power of two.

_CUCKOO_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("table", T.BinaryType(), False),
        T.StructField("n_items", T.LongType(), False),
    ]
)

_CUCKOO_SLOTS_PER_ROW = 4
_FP_MULT = np.uint64(0x5BD1E995)  # odd multiplier for the fp→index hash
_MAX_KICKS = 500


def auto_cuckoo_params(n_items: int, *, load: float = 0.8) -> dict[str, int]:
    """{n_buckets, n_rows} sized so each bucket's table holds its expected
    share (plus Poisson 3σ slack, as for the bloom) at ≤ ``load``
    occupancy — 0.8 is well under the b=4 cuckoo threshold (~0.95), so
    eviction chains stay short and the vectorized build's sequential
    tail stays tiny. n_rows is a power of two (the i2 = i1 ^ h(fp) trick
    requires mask indexing).

    Bucket count honors the same ~1 MiB-per-bucket posture as the bloom:
    at 16 bits of fingerprint payload per key, ``n_items * 16`` filter
    bits spread over MAX_BUCKET_BITS-bit buckets (r03 sized from
    ``n_items * 2``, a bits-vs-bytes slip that made buckets ~8× the
    documented size — ADVICE r03). The power-of-two rounding of n_rows
    plus the 1/load headroom can still double a bucket table to ~2 MiB;
    that stays a comfortable applyInPandas group."""
    n_buckets = max(64, -(-(n_items * 16) // MAX_BUCKET_BITS))  # ~16 bits/key
    per = n_items / n_buckets
    per_eff = per + 3 * math.sqrt(per) + 8
    n_rows = 1
    while n_rows * _CUCKOO_SLOTS_PER_ROW * load < per_eff:
        n_rows <<= 1
    return {"n_buckets": n_buckets, "n_rows": n_rows}


def _cuckoo_fp_i1_i2(h: np.ndarray, n_rows: int):
    """(fingerprint, primary row, alternate row) from the u64 url hash.

    The hash is splitmix64-remixed first: the TOP-level bucket is
    ``pmod(h, n_buckets)``, so h's low bits are constant within a bucket
    — extracting i1 from them directly would collapse every bucket onto
    n_rows/n_buckets table rows (found the hard way: instant
    over-capacity at 0.6 load). The remix decorrelates."""
    z = h.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    z = z ^ (z >> np.uint64(31))
    mask = np.uint64(n_rows - 1)
    fp = ((z >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
    fp = np.where(fp == 0, np.uint16(1), fp)  # 0 is the empty sentinel
    i1 = (z & mask).astype(np.int64)
    i2 = (i1 ^ ((fp.astype(np.uint64) * _FP_MULT) & mask).astype(np.int64)) & int(mask)
    return fp, i1, i2


def _cuckoo_insert(table: np.ndarray, fp: np.ndarray, i1: np.ndarray, i2: np.ndarray) -> None:
    """Insert into ``table`` (n_rows × 4, uint16, 0=empty), mutating it.

    Vectorized fast path: items are ranked within their i1 row
    (argsort + cumcount) and all rank<free-slots placements happen as
    one scatter; the same for i2 on the remainder. Only the (rare at
    load ≤0.8) leftovers walk the classic sequential eviction loop.
    Raises if an eviction chain exceeds _MAX_KICKS — the filter is
    over capacity and must be resized (silent degradation would blow
    the FPR contract, mirroring bloom auto-sizing)."""
    n_rows = table.shape[0]

    def _scatter(idx: np.ndarray, fps: np.ndarray) -> np.ndarray:
        """Place each (idx,fp) into a free slot of its row where space
        allows (vectorized); return the boolean mask of UNPLACED items."""
        if len(idx) == 0:
            return np.zeros(0, dtype=bool)
        free = (table[idx] == 0).sum(axis=1)  # free slots per item's row
        order = np.argsort(idx, kind="stable")
        sidx = idx[order]
        # rank of each item within its row group (cumcount)
        new_grp = np.concatenate(([True], sidx[1:] != sidx[:-1]))
        grp_start = np.maximum.accumulate(np.where(new_grp, np.arange(len(sidx)), 0))
        rank = np.arange(len(sidx)) - grp_start
        fits = rank < free[order]
        rows, ranks = sidx[fits], rank[fits]
        # slot number = (existing occupancy) + rank within this batch
        occ = _CUCKOO_SLOTS_PER_ROW - free[order][fits]
        table[rows, occ + ranks] = fps[order][fits]
        unplaced = np.zeros(len(idx), dtype=bool)
        unplaced[order[~fits]] = True
        return unplaced

    # invariant for the occupancy math: rows are packed left (non-empty
    # slots precede empty ones) — true for fresh tables and preserved by
    # _scatter; _cuckoo_delete repacks on removal.
    rem = _scatter(i1, fp)
    if rem.any():
        rem_idx = np.flatnonzero(rem)
        rem2 = _scatter(i2[rem_idx], fp[rem_idx])
        leftovers = rem_idx[rem2]
    else:
        leftovers = np.array([], dtype=np.int64)

    mask = np.uint64(n_rows - 1)
    for j in leftovers:  # sequential eviction chains (rare)
        cur_fp, row = np.uint16(fp[j]), int(i1[j])
        # victim choice must be (pseudo)random or chains cycle among a
        # few rows forever; an LCG seeded from the item keeps the build
        # deterministic at any parallelism while breaking cycles
        state = (int(fp[j]) << 32) ^ int(i1[j]) ^ 0x9E3779B97F4A7C15
        for _ in range(_MAX_KICKS):
            slots = table[row]
            empty = np.flatnonzero(slots == 0)
            if len(empty):
                table[row, empty[0]] = cur_fp
                break
            state = (state * 6364136223846793005 + 1442695040888963407) & (
                (1 << 64) - 1
            )
            victim_slot = state >> 62  # top 2 bits → 0..3
            cur_fp, table[row, victim_slot] = slots[victim_slot].copy(), cur_fp
            row = int(
                (np.uint64(row) ^ ((np.uint64(cur_fp) * _FP_MULT) & mask)) & mask
            )
        else:
            raise ValueError(
                f"cuckoo filter over capacity (eviction chain > {_MAX_KICKS}); "
                "resize with auto_cuckoo_params at the new item count"
            )


def build_cuckoo_filter(
    urls_hashed: DataFrame,
    *,
    n_buckets: int = 64,
    n_rows: int = 1 << 12,
    hash_col: str = "url_hash",
) -> DataFrame:
    """Build the partitioned cuckoo filter: one shuffle by bucket, one
    grouped-map per bucket (numpy inside). Output (bucket, table, n_items)."""

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        table = np.zeros((n_rows, _CUCKOO_SLOTS_PER_ROW), dtype=np.uint16)
        # insertion order reaches the table layout via eviction chains;
        # sorting by hash makes the built bytes identical at any shuffle
        # arrival order / parallelism
        pdf = pdf.sort_values(hash_col)
        h = pdf[hash_col].to_numpy()
        fp, i1, i2 = _cuckoo_fp_i1_i2(h, n_rows)
        _cuckoo_insert(table, fp, i1, i2)
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "table": [table.tobytes()],
                "n_items": [len(pdf)],
            }
        )

    # project to (hash, bucket) BEFORE the group shuffle (r08, guide
    # §2.3): the builder only reads the hash column, and the url string
    # would otherwise ride the exchange AND the Arrow crossing for
    # nothing (~4x the bytes at 1M urls)
    with_bucket = urls_hashed.select(
        F.col(hash_col),
        F.pmod(F.col(hash_col), F.lit(n_buckets)).cast("int").alias("bucket"),
    )
    return with_bucket.groupBy("bucket").applyInPandas(_build, _CUCKOO_SCHEMA)


def _cuckoo_contains(table: np.ndarray, h: np.ndarray, n_rows: int) -> np.ndarray:
    fp, i1, i2 = _cuckoo_fp_i1_i2(h, n_rows)
    fpc = fp[:, None]
    return ((table[i1] == fpc) | (table[i2] == fpc)).any(axis=1)


def probe_cuckoo_filter(
    candidates: DataFrame,
    cuckoo: DataFrame,
    *,
    n_buckets: int = 64,
    n_rows: int = 1 << 12,
    hash_col: str = "url_hash",
) -> DataFrame:
    """Mark candidates ``maybe_seen`` (no false negatives) — same cogroup
    shape as the bloom probe: each bucket's table crosses into Python
    once per group, the membership test is one numpy gather+compare."""
    out_schema = T.StructType(
        list(candidates.schema.fields)
        + [T.StructField("maybe_seen", T.BooleanType(), False)]
    )
    cand_cols = candidates.columns

    def _probe(cand_pdf: pd.DataFrame, filt_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(cand_pdf) == 0:
            return pd.DataFrame(columns=[*cand_cols, "maybe_seen"])
        if len(filt_pdf) == 0:
            maybe = np.zeros(len(cand_pdf), dtype=bool)
        else:
            table = np.frombuffer(filt_pdf["table"].iloc[0], dtype=np.uint16).reshape(
                n_rows, _CUCKOO_SLOTS_PER_ROW
            )
            maybe = _cuckoo_contains(table, cand_pdf[hash_col].to_numpy(), n_rows)
        return cand_pdf[cand_cols].assign(maybe_seen=maybe)

    with_bucket = candidates.withColumn(
        "bucket", F.pmod(F.col(hash_col), F.lit(n_buckets)).cast("int")
    )
    return (
        with_bucket.groupBy("bucket")
        .cogroup(cuckoo.groupBy("bucket"))
        .applyInPandas(lambda lk, rk: _probe(lk, rk), out_schema)
    )


def _cuckoo_update(
    cuckoo: DataFrame,
    updates_hashed: DataFrame,
    *,
    n_buckets: int,
    n_rows: int,
    hash_col: str,
    delete: bool,
) -> DataFrame:
    """Shared cogroup for insert_into_cuckoo / delete_from_cuckoo."""

    def _apply(upd_pdf: pd.DataFrame, filt_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(filt_pdf):
            table = (
                np.frombuffer(filt_pdf["table"].iloc[0], dtype=np.uint16)
                .reshape(n_rows, _CUCKOO_SLOTS_PER_ROW)
                .copy()
            )
            n_items = int(filt_pdf["n_items"].iloc[0])
            bucket = int(filt_pdf["bucket"].iloc[0])
        else:
            if delete and len(upd_pdf):
                # deleting from a bucket that holds no table means the
                # urls were never inserted — a contract violation (see
                # the removed-count check below), not a silent no-op
                raise ValueError(
                    f"cuckoo delete: bucket {int(upd_pdf['bucket'].iloc[0])} "
                    f"has no filter table for {len(upd_pdf)} deletions — "
                    "only urls actually inserted may be deleted"
                )
            if delete or len(upd_pdf) == 0:
                return pd.DataFrame(columns=["bucket", "table", "n_items"])
            table = np.zeros((n_rows, _CUCKOO_SLOTS_PER_ROW), dtype=np.uint16)
            n_items, bucket = 0, int(upd_pdf["bucket"].iloc[0])
        if len(upd_pdf):
            upd_pdf = upd_pdf.sort_values(hash_col)  # deterministic layout
            h = upd_pdf[hash_col].to_numpy()
            fp, i1, i2 = _cuckoo_fp_i1_i2(h, n_rows)
            if delete:
                removed = _cuckoo_delete(table, fp, i1, i2)
                if removed != len(upd_pdf):
                    # the safety contract surfaced at runtime (ADVICE r03):
                    # every deleted url must have been inserted — deleting
                    # an absent url can evict a colliding victim's
                    # fingerprint, creating false NEGATIVES (duplicate
                    # crawling). In the engine the expired keys are a
                    # subset of the committed seen set, so a mismatch
                    # always means contract violation or filter corruption.
                    raise ValueError(
                        f"cuckoo delete: removed {removed} of {len(upd_pdf)} "
                        f"fingerprints in bucket {bucket} — deletions must "
                        "target urls actually inserted (filter corrupt or "
                        "caller deleting never-seen urls)"
                    )
                n_items -= removed
            else:
                _cuckoo_insert(table, fp, i1, i2)
                n_items += len(upd_pdf)
        return pd.DataFrame(
            {"bucket": [bucket], "table": [table.tobytes()], "n_items": [n_items]}
        )

    # project to (hash, bucket) BEFORE the group shuffle (r08, guide
    # §2.3): the builder only reads the hash column, and the url string
    # would otherwise ride the exchange AND the Arrow crossing for
    # nothing (~4x the bytes at 1M urls)
    with_bucket = updates_hashed.select(
        F.col(hash_col),
        F.pmod(F.col(hash_col), F.lit(n_buckets)).cast("int").alias("bucket"),
    )
    return (
        with_bucket.groupBy("bucket")
        .cogroup(cuckoo.groupBy("bucket"))
        .applyInPandas(lambda lk, rk: _apply(lk, rk), _CUCKOO_SCHEMA)
    )


def touched_buckets(
    updates_hashed: DataFrame, *, n_buckets: int, hash_col: str = "url_hash"
) -> DataFrame:
    """Distinct filter-bucket ids an update batch lands in (tiny df)."""
    return updates_hashed.select(
        F.pmod(F.col(hash_col), F.lit(n_buckets)).cast("int").alias("bucket")
    ).distinct()


def _apply_cuckoo_updates(
    cuckoo: DataFrame,
    updates_hashed: DataFrame,
    *,
    n_buckets: int,
    n_rows: int,
    hash_col: str,
    delete: bool,
    touched_only: bool,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """Shared body of insert_into_cuckoo / delete_from_cuckoo: only the
    touched buckets cross the cogroup; ``touched_only=True`` returns
    JUST the updated bucket rows (the delta-commit shape — the caller
    commits them with an Append delta so untouched buckets are never
    read, recomputed, or rewritten). ``buckets`` accepts a precomputed
    touched_buckets() df so callers already holding it don't pay the
    distinct twice."""
    if buckets is None:
        buckets = touched_buckets(
            updates_hashed, n_buckets=n_buckets, hash_col=hash_col
        )
    touched = cuckoo.join(buckets, on="bucket", how="left_semi")
    updated = _cuckoo_update(
        touched, updates_hashed, n_buckets=n_buckets, n_rows=n_rows,
        hash_col=hash_col, delete=delete,
    )
    if touched_only:
        return updated
    return updated.unionByName(cuckoo.join(buckets, on="bucket", how="left_anti"))


def insert_into_cuckoo(
    cuckoo: DataFrame,
    new_hashed: DataFrame,
    *,
    n_buckets: int = 64,
    n_rows: int = 1 << 12,
    hash_col: str = "url_hash",
    touched_only: bool = False,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """Incremental crawl-round growth (the cuckoo analogue of the bloom's
    OR-merge): untouched buckets pass through (or are omitted entirely
    with ``touched_only=True``, the delta-commit shape); touched ones
    insert their round's new urls into the existing table."""
    return _apply_cuckoo_updates(
        cuckoo, new_hashed, n_buckets=n_buckets, n_rows=n_rows,
        hash_col=hash_col, delete=False, touched_only=touched_only,
        buckets=buckets,
    )


def _cuckoo_delete(table: np.ndarray, fp: np.ndarray, i1: np.ndarray, i2: np.ndarray) -> int:
    """Remove ONE occurrence of each (fp, i1|i2) — sequential per item
    (deletes are the rare maintenance path: url expiry batches), numpy
    row ops inside. Repacks rows left so the insert occupancy math stays
    valid. Returns the number of fingerprints actually removed. Only
    delete urls known to have been inserted (standard cuckoo contract —
    deleting a never-inserted url can evict a colliding victim's fp)."""
    removed = 0
    for j in range(len(fp)):
        f = fp[j]
        for row in (int(i1[j]), int(i2[j])):
            slots = table[row]
            hit = np.flatnonzero(slots == f)
            if len(hit):
                keep = np.concatenate((np.delete(slots, hit[0]), [0])).astype(np.uint16)
                table[row] = keep
                removed += 1
                break
    return removed


def delete_from_cuckoo(
    cuckoo: DataFrame,
    expired_hashed: DataFrame,
    *,
    n_buckets: int = 64,
    n_rows: int = 1 << 12,
    hash_col: str = "url_hash",
    touched_only: bool = False,
) -> DataFrame:
    """URL expiry: remove expired urls so they become claimable again —
    the re-crawl primitive the bloom cannot express. Buckets with no
    expirations pass through untouched (or are omitted with
    ``touched_only=True``, the delta-commit shape)."""
    return _apply_cuckoo_updates(
        cuckoo, expired_hashed, n_buckets=n_buckets, n_rows=n_rows,
        hash_col=hash_col, delete=True, touched_only=touched_only,
    )
