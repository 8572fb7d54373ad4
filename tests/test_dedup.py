"""Dedup operators: exact, MinHash+LSH, SimHash — planted-pair recall and
kernel determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from bocadillo_spark.functions import hashing as H
from bocadillo_spark.operators.dedup import (
    NEAR_DUP_STRIDE,
    augment_with_near_dups,
    exact_dedup,
    minhash_dedup_pairs,
    simhash_near_dup_pairs,
    simhash_signatures,
)


def test_minhash_kernel_determinism():
    t = "the quick brown fox jumps over the lazy dog again and again"
    s1, s2 = H.minhash_signature(t), H.minhash_signature(t)
    assert (s1 == s2).all()
    assert H.band_keys(s1) == H.band_keys(s2)
    assert H.simhash64(t) == H.simhash64(t)
    assert H.rolling_fingerprint(t) == H.rolling_fingerprint(t)
    # chunked-Horner path must equal the scalar recurrence
    long_t = t * 200  # > _FP_CHUNK codepoints
    h = 0
    for c in long_t:
        h = (h * H.FP_BASE + ord(c)) % H.MERSENNE31
    assert H.rolling_fingerprint(long_t) == h
    assert H.rolling_fingerprint("") == 0


def test_jaccard_kernel():
    assert H.jaccard("a b c d e", "a b c d e") == 1.0
    assert H.jaccard("a b c", "x y z") == 0.0
    assert 0.0 < H.jaccard("a b c d e f g h", "a b c d e f g zz") < 1.0


def test_exact_dedup_finds_planted_duplicates(spark):
    docs = spark.createDataFrame(
        [(1, "same text here"), (2, "same text here"), (3, "other text")],
        "doc_id long, text string",
    )
    res = {r["fp"]: (r["keep_id"], r["n_dups"]) for r in exact_dedup(docs).collect()}
    assert sorted(v[1] for v in res.values()) == [1, 2]
    assert any(v == (1, 2) for v in res.values())


def test_minhash_finds_planted_near_dups(spark, sf_dir):
    docs = augment_with_near_dups(
        spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    )
    res = minhash_dedup_pairs(docs, threshold=0.8)
    # the plan's only Python is the Arrow-batched signature fold — no
    # row-at-a-time eval, no per-pair Python in band join or verify. (The
    # unexecuted plan inlines the persisted bands subtree into every
    # reference, so the fold may PRINT several times; the persist makes it
    # RUN once — persist_evicting's contract.)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    pairs = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in res.collect()
    }
    planted = [
        r["doc_id"]
        for r in docs.where(F.col("doc_id") < NEAR_DUP_STRIDE)
        .where(F.col("doc_id") % 10 == 0)
        .where(F.size(F.split("text", " ")) >= 40)  # long docs: jaccard ≥ .8 guaranteed
        .collect()
    ]
    found = sum(1 for d in planted if (d, d + NEAR_DUP_STRIDE) in pairs)
    assert planted, "fixture empty"
    assert found / len(planted) >= 0.8, f"recall {found}/{len(planted)}"
    # verified jaccard values are exact (match the pure-Python kernel)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for (a, b), j in list(pairs.items())[:20]:
        assert abs(H.jaccard(texts[a], texts[b]) - j) < 1e-12


def test_xxhash64_kernel_matches_spark(spark):
    from pyspark.sql import functions as F

    strs = ["", "a", "hello world", "x" * 31, "y" * 32, "z" * 100, "中文 tokens"]
    df = spark.createDataFrame([(s,) for s in strs], "t string").select(
        "t", F.xxhash64("t").alias("h")
    )
    for r in df.collect():
        u = H.xxhash64(r["t"].encode("utf-8"))
        assert u - (1 << 64 if u >= 1 << 63 else 0) == r["h"], repr(r["t"])


def test_simhash_native_matches_kernel(spark, sf_dir):
    """simhash_signatures (native token hashes + Arrow-batched majority
    fold) equals the hashing.simhash64 scalar kernel value for value,
    including empty and NULL text (no tokens → 0) and one- and two-word
    texts."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(30)
    extra = spark.createDataFrame(
        [(900001, ""), (900002, "one"), (900003, "two words"), (900004, None)],
        "doc_id long, text string",
    )
    docs = docs.select("doc_id", "text").unionByName(extra)
    got = {r["doc_id"]: r["simhash"] for r in simhash_signatures(docs).collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert len(got) == len(texts) == 34
    for doc_id, text in texts.items():
        u = H.simhash64(text or "")
        want = u - (1 << 64 if u >= 1 << 63 else 0)
        assert got[doc_id] == want, doc_id
    assert got[900001] == got[900004] == 0


def test_word_3gram_col_null_contract(spark):
    """NULL in → NULL out: NULL text gives a NULL shingle array (where ''
    gives ['  ']), a NULL Jaccard, and no explode row."""
    from bocadillo_spark.operators.dedup import jaccard_col, word_3gram_col

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b")], "id long, text string"
    ).select("id", word_3gram_col(F.col("text")).alias("g"))
    rows = {
        r["id"]: (r["g"], r["j"])
        for r in df.select("id", "g", jaccard_col(F.col("g"), F.col("g")).alias("j"))
        .collect()
    }
    assert rows == {1: (None, None), 2: (["  "], 1.0), 3: (["a b "], 1.0)}
    exploded = sorted(
        (r["id"], r["s"]) for r in df.select("id", F.explode("g").alias("s")).collect()
    )
    assert exploded == [(2, "  "), (3, "a b ")]


def test_fast_shingle_kernel_cardinalities_match_native(spark, sf_dir):
    """The fused kernel's per-row DISTINCT shingle count must equal
    size(word_3gram_col) for every row — the two families hash different
    values but must see the SAME shingle set (same tokens-incl-empties
    split, same max(n-2,1) window, same ''-padding); a mismatch means the
    windowing or distinct semantics diverged. Exercises empty text, short
    texts, duplicate shingles, and multi-space runs."""
    import numpy as np
    from bocadillo_spark.operators.dedup import _distinct_shingles, word_3gram_col

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(150)
    texts = [r["text"] for r in docs.collect()]
    texts += ["", "one", "two words", "a b c", "a a a a a a", "x  y   z", None]
    ro, _, n_rows = _distinct_shingles(np.array(texts, dtype=object))
    fast_counts = list(np.bincount(ro, minlength=n_rows))
    native = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    ).select(
        "i", F.size(word_3gram_col(F.coalesce(F.col("text"), F.lit("")))).alias("n")
    )
    native_counts = [r["n"] for r in native.orderBy("i").collect()]
    assert fast_counts == native_counts


def test_fast_jaccard_equals_native_on_planted_pairs(spark, sf_dir):
    """jaccard_pairs_pandas (hash-set Jaccard) must emit EXACTLY the
    values jaccard_col (string-set Jaccard) emits on the planted near-dup
    pairs — identical |∩| and |∪| integers, same int/int double division
    (2^-64 collision probability per shingle pair is the only caveat)."""
    from bocadillo_spark.operators.dedup import (
        jaccard_col,
        jaccard_pairs_pandas,
        word_3gram_col,
    )

    docs = augment_with_near_dups(
        spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    )
    a = docs.where(F.col("doc_id") < NEAR_DUP_STRIDE).select(
        F.col("doc_id").alias("k"), F.col("text").alias("text_a")
    )
    b = docs.where(F.col("doc_id") >= NEAR_DUP_STRIDE).select(
        (F.col("doc_id") - NEAR_DUP_STRIDE).alias("k"), F.col("text").alias("text_b")
    )
    pairs = a.join(b, "k")
    res = pairs.select(
        "k",
        jaccard_pairs_pandas()(F.col("text_a"), F.col("text_b")).alias("jf"),
        jaccard_col(
            word_3gram_col(F.col("text_a")), word_3gram_col(F.col("text_b"))
        ).alias("jn"),
    ).collect()
    assert len(res) > 0
    for r in res:
        assert r["jf"] == r["jn"], (r["k"], r["jf"], r["jn"])


def test_simhash_near_dups(spark, sf_dir):
    docs = augment_with_near_dups(
        spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    )
    sigs = simhash_signatures(docs)
    pairs = simhash_near_dup_pairs(sigs, max_hamming=6).collect()
    got = {(r["doc_id_a"], r["doc_id_b"]) for r in pairs}
    # hamming values agree with the pure-Python kernel
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for r in pairs[:20]:
        a, b = texts[r["doc_id_a"]], texts[r["doc_id_b"]]
        assert H.hamming64(H.simhash64(a), H.simhash64(b)) == r["hamming"]
    # at least some planted pairs surface (perturbation is tiny)
    planted_hits = [p for p in got if p[1] - p[0] == NEAR_DUP_STRIDE]
    assert len(planted_hits) > 0


def test_connected_components_multihop(spark):
    """Chain, triangle, and isolated pair — every node must get the min
    reachable id even across multi-hop paths (pointer jumping must
    actually converge)."""
    from bocadillo_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        # chain 1-2-3-4-5-6-7-8 (diameter 7), triangle 20-21-22, pair 30-31
        [(i, i + 1) for i in range(1, 8)]
        + [(20, 21), (21, 22), (20, 22), (30, 31)],
        "doc_id_a long, doc_id_b long",
    )
    got = {r["doc_id"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {**{i: 1 for i in range(1, 9)},
                   **{i: 20 for i in (20, 21, 22)}, 30: 30, 31: 30}


def test_minhash_pairs_invariant_to_partitioning(spark, sf_dir):
    """LSH output must be a pure function of the DATA — identical pair sets
    regardless of physical partitioning (catches accidental use of
    partition-dependent state in the signature/band path)."""
    base = augment_with_near_dups(
        spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    )
    sets = []
    for nparts in (1, 7):
        pairs = minhash_dedup_pairs(base.repartition(nparts), threshold=0.8)
        sets.append({(r["doc_id_a"], r["doc_id_b"]) for r in pairs.collect()})
    assert sets[0] == sets[1] and len(sets[0]) > 0


def test_minhash_bucket_cap_guards_degenerate_buckets(spark):
    """60 identical docs would make every band bucket quadratic; the cap
    drops them (reported via oversized_buckets) while exact_dedup — which
    callers run first — still catches them."""
    from bocadillo_spark.operators.dedup import minhash_candidates, oversized_buckets

    rows = [(i, "same boilerplate text repeated everywhere again and again") for i in range(60)]
    rows += [(100, "a genuinely unique document about something else entirely"),
             (101, "a genuinely unique document about something else entirely plus change")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = minhash_candidates(docs, max_bucket=50).collect()
    ids = {r["doc_id_a"] for r in pairs} | {r["doc_id_b"] for r in pairs}
    assert not any(i < 60 for i in ids)  # degenerate bucket dropped
    assert (100, 101) in {(r["doc_id_a"], r["doc_id_b"]) for r in pairs}  # real near-dup kept

    dropped = oversized_buckets(docs, max_bucket=50).collect()
    assert len(dropped) > 0 and all(r["bn"] == 60 for r in dropped)

    # exact_dedup catches what the cap dropped
    fp = {r["n_dups"] for r in exact_dedup(docs).collect()}
    assert 60 in fp


def test_chunk_fuzzy_clusters_footer_fixture(spark, sf_dir):
    """Paragraph-MinHash clustering: every planted footer variant of a
    source lands in one cluster; organic chunks never join it; and the
    star-edge construction never enumerates quadratic pairs (structural:
    edges == instances x N_BANDS before distinct, checked by row math)."""
    from pyspark.sql import functions as F

    from bocadillo_spark.operators.dedup import (
        FUZZY_SKIP_MOD,
        augment_with_fuzzy_footers,
        chunk_fuzzy_clusters,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cl = chunk_fuzzy_clusters(augment_with_fuzzy_footers(docs)).cache()
    is_footer = (F.col("doc_id") % FUZZY_SKIP_MOD != 1) & (F.col("pos") == 0)
    footer = cl.where(is_footer).cache()

    per_src = footer.groupBy("block").agg(
        F.count_distinct("cluster").alias("ncl"), F.count(F.lit(1)).alias("n")
    )
    rows = per_src.collect()
    assert len(rows) == 20
    assert all(r["ncl"] == 1 for r in rows), rows
    # every variant present per source -> the cluster spans NEAR dups, not
    # just exact ones
    n_variants = footer.join(
        docs.select("doc_id"), "doc_id"
    ).select((F.col("doc_id") % 7).alias("v")).distinct().count()
    assert n_variants == 7

    organic = cl.where(~is_footer)
    overlap = organic.join(
        footer.select("cluster").distinct(), "cluster", "left_semi"
    ).count()
    assert overlap == 0
    cl.unpersist()
    footer.unpersist()


def test_chunk_fuzzy_short_tail_chunks_stay_singletons(spark):
    """Chunks under 3 words carry no true word 3-gram (the round-4
    advice): they must come back as SINGLETON clusters, never banded on
    padded pseudo-shingles — distinct 1-2 word tails across docs used to
    collapse into one spurious 'near-dup' cluster per block."""
    from pyspark.sql import functions as F

    from bocadillo_spark.operators.dedup import chunk_fuzzy_clusters

    body = " ".join(f"w{i}" for i in range(12))  # exactly one full chunk
    rows = [
        # same block, three DISTINCT 1-word tail chunks + one 2-word tail
        (1, "s0", f"{body} alpha"),
        (2, "s0", f"{body} beta"),
        (3, "s0", f"{body} gamma"),
        (4, "s0", f"{body} two words"),
        # and two IDENTICAL 1-word tails: still no shingle evidence
        (5, "s0", f"{body} same"),
        (6, "s0", f"{body} same"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    cl = chunk_fuzzy_clusters(docs).cache()
    tails = cl.where(F.col("pos") == 1)
    n_tails = tails.count()
    assert n_tails == 6
    # every short tail is its own cluster (6 distinct labels), and none
    # shares a cluster with any pos-0 body chunk
    assert tails.select("cluster").distinct().count() == 6
    body_clusters = {r["cluster"] for r in cl.where(F.col("pos") == 0).collect()}
    tail_clusters = {r["cluster"] for r in tails.collect()}
    assert not (body_clusters & tail_clusters)
    cl.unpersist()
