"""Seeded fuzz tests for the Spark⇄DuckDB parity layer: the driver's
correctness gate depends on these hash families matching bit-for-bit,
so we check them on randomized inputs, not just the fixed test corpus
(one batched DataFrame comparison per property — not per-example)."""

import random

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from crawlingathome_server_spark.functions.parity import (
    char_fingerprint,
    char_fingerprint_sql,
    md5_long,
    md5_long_sql,
)


def _random_texts(n: int = 300, seed: int = 123) -> list[str]:
    rng = random.Random(seed)
    alphabets = [
        "abcdefghij KLMNOP 0123456789",
        ".,;:!?()[]{}<>#@%&*-_=+|/\\'\"",
        "äöüßéèêñçàいろは日本語русскийΩθ",  # BMP non-ascii
        " \t",
    ]
    out = [""]
    for _ in range(n - 1):
        k = rng.randint(0, 80)
        chars = [rng.choice(rng.choice(alphabets)) for _ in range(k)]
        out.append("".join(chars))
    return out


def test_char_fingerprint_fuzz_parity(spark):
    texts = _random_texts()
    sdf = spark.createDataFrame(pd.DataFrame({"t": texts}))
    got = {
        r["t"]: r["h"]
        for r in sdf.select("t", char_fingerprint(F.col("t")).alias("h")).collect()
    }
    con = duckdb.connect()
    con.register("texts", pd.DataFrame({"t": texts}))
    want = dict(
        con.execute(f"SELECT t, {char_fingerprint_sql('t')} AS h FROM texts").fetchall()
    )
    assert got == want


def test_md5_long_fuzz_parity(spark):
    texts = [t for t in _random_texts(seed=321) if t]
    sdf = spark.createDataFrame(pd.DataFrame({"t": texts}))
    got = {r["t"]: r["h"] for r in sdf.select("t", md5_long(F.col("t")).alias("h")).collect()}
    con = duckdb.connect()
    con.register("texts", pd.DataFrame({"t": texts}))
    want = dict(con.execute(f"SELECT t, {md5_long_sql('t')} AS h FROM texts").fetchall())
    assert got == want
    assert all(0 <= h < (1 << 60) for h in got.values())


def test_minhash_signature_fuzz_parity(spark):
    """Full signature vector (shingles → md5 → 64 affine mins) matches
    the generated oracle SQL on random word soup."""
    from crawlingathome_server_spark.operators.dedup import (
        _MERSENNE,
        _perm_params,
        minhash_signatures,
    )
    from crawlingathome_server_spark.oracles import shingles_sql

    rng = random.Random(7)
    texts = [
        " ".join(f"w{rng.randint(0, 50)}" for _ in range(rng.randint(1, 60)))
        for _ in range(150)
    ]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    sdf = spark.createDataFrame(pdf)
    got = {
        r["doc_id"]: r["signature"]
        for r in minhash_signatures(sdf, hash_mode="md5").collect()
    }
    a, b = _perm_params(64, 7)
    mins = ", ".join(
        f"list_min(list_transform(hs, x -> (x * {int(a[i])} + {int(b[i])}) % {_MERSENNE}))"
        for i in range(64)
    )
    con = duckdb.connect()
    con.register("docs", pdf)
    sql = f"""
    WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM docs),
    sh AS (SELECT doc_id, {shingles_sql('ws', 3)} AS shingles FROM w),
    hs AS (SELECT doc_id, list_transform(shingles, s -> {md5_long_sql('s')} % {_MERSENNE}) AS hs FROM sh)
    SELECT doc_id, [{mins}] AS sig FROM hs"""
    want = dict(con.execute(sql).fetchall())
    assert got == want


def test_canonicalize_expr_fuzz_vs_pandas(spark):
    """JVM canonicalizer == urllib-based pandas twin over a generated
    URL grammar (scheme://Host[:port]/path[?query][#frag])."""
    from crawlingathome_server_spark.functions.urls import (
        canonicalize_url,
        canonicalize_url_expr,
    )

    rng = random.Random(99)
    urls = []
    for _ in range(250):
        scheme = rng.choice(["http", "HTTP", "https", "Https"])
        host = rng.choice(["Example.COM", "sub.ex-ample.org", "X9.net"])
        port = rng.choice(["", ":80", ":443", ":8080", ":1"])
        path = rng.choice(["", "/", "/a", "/a/b.html", "/p%20q"])
        n_params = rng.randint(0, 4)
        params = [f"{rng.choice('zyxw')}={rng.randint(0, 9)}" for _ in range(n_params)]
        query = "?" + "&".join(params) if params else rng.choice(["", "?"])
        frag = rng.choice(["", "#f", "#a/b?c"])
        urls.append(f"{scheme}://{host}{port}{path}{query}{frag}")
    sdf = spark.createDataFrame(pd.DataFrame({"u": urls}))
    rows = sdf.select(
        "u",
        canonicalize_url(F.col("u")).alias("py"),
        canonicalize_url_expr(F.col("u")).alias("jvm"),
    ).collect()
    for r in rows:
        assert r["py"] == r["jvm"], r["u"]
