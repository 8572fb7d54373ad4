"""SemDeDup-style semantic dedup (similarity.py::semantic_dedup).

Contract: k-means (or supplied) clusters -> within-cluster duplicate
groups at cos >= 1 - eps (transitively closed) -> keep exactly one
representative per group, chosen as the group member with the LOWEST
cosine similarity to its cluster centroid (SemDeDup's diversity-keeping
rule, Abbas et al. 2023), ties to min vec_id. Oversized clusters pass
through un-deduped and are reported, never silently cut.

The fixture passes explicit centroids so every assertion is
reproducible with plain numpy (independent of k-means training), and the planted geometry is exact: 4 well-separated
centroid directions, vectors = centroid + small deterministic jitter,
duplicates = tiny rotations of their original (cos > 0.999).
"""

from __future__ import annotations

import numpy as np
import pytest

from bocadillo_spark.operators.similarity import (
    ivf_assign,
    semantic_dedup,
    semantic_oversized_clusters,
)

DIM = 16
N_PER_CLUSTER = 12
# (original, duplicate) planted pairs + one planted triple, ids chosen so
# each group lands inside one geometric cluster by construction
PLANTED_PAIRS = [(3, 103), (17, 117)]
PLANTED_TRIPLE = (25, 125, 225)
EPS = 0.02


def _centroid_dirs():
    rng = np.random.RandomState(11)
    C = rng.randn(4, DIM)
    # Gram-Schmidt: orthogonal centroids => clusters cannot overlap at
    # the eps threshold, so group membership is geometrically forced
    for i in range(4):
        for j in range(i):
            C[i] -= (C[i] @ C[j]) * C[j]
        C[i] /= np.sqrt(C[i] @ C[i])
    return C


def _fixture_vectors():
    C = _centroid_dirs()
    rng = np.random.RandomState(7)
    rows = {}
    # jitter sized so NON-planted same-cluster members stay clearly below
    # the dup threshold: |j| ~ 0.15*sqrt(16) = 0.6 per vector keeps
    # worst-case pairwise 1-cos ~ 0.07 >> eps, while planted dups (scale 0.001) sit
    # at 1-cos ~ 1e-5 << eps; both margins asserted below so the fixture
    # cannot silently drift into threshold-straddling geometry
    for cid in range(4):
        for i in range(N_PER_CLUSTER):
            vid = cid * N_PER_CLUSTER + i
            jitter = rng.randn(DIM) * 0.15
            v = C[cid] + jitter
            rows[vid] = v / np.sqrt(v @ v)

    def near_dup(src_vid, dup_vid, scale):
        v = rows[src_vid] + rng.randn(DIM) * scale
        rows[dup_vid] = v / np.sqrt(v @ v)

    for a, b in PLANTED_PAIRS:
        near_dup(a, b, 0.001)
    a, b, c = PLANTED_TRIPLE
    near_dup(a, b, 0.001)
    near_dup(a, c, 0.001)

    # fixture self-validation (pure numpy): planted pairs far above the
    # threshold, every other same-cluster pair far below it
    planted_groups = [set(p) for p in PLANTED_PAIRS] + [set(PLANTED_TRIPLE)]
    ids = sorted(rows)
    M = np.vstack([rows[v] for v in ids])
    G = M @ M.T
    lid = {v: int(np.argmax(C @ rows[v])) for v in ids}
    for i, a in enumerate(ids):
        for j in range(i + 1, len(ids)):
            b = ids[j]
            if lid[a] != lid[b]:
                continue
            same_group = any(a in g and b in g for g in planted_groups)
            if same_group:
                assert G[i, j] > 1 - EPS + 0.01, (a, b, G[i, j])
            else:
                assert G[i, j] < 1 - EPS - 0.01, (a, b, G[i, j])
    return C, rows


@pytest.fixture(scope="module")
def frames(spark):
    C, rows = _fixture_vectors()
    vecs = spark.createDataFrame(
        [(int(vid), [float(x) for x in v]) for vid, v in sorted(rows.items())],
        "vec_id long, e array<double>",
    )
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in C[i]]) for i in range(4)],
        "centroid_id long, ce array<double>",
    )
    return C, rows, vecs, centroids


def test_planted_groups_and_single_keep(spark, frames):
    C, rows, vecs, centroids = frames
    out = semantic_dedup(vecs, eps=EPS, centroids=centroids).collect()
    by_id = {r["vec_id"]: r for r in out}
    assert len(by_id) == len(rows)  # every vector classified exactly once

    for a, b in PLANTED_PAIRS:
        assert by_id[a]["group_rep"] == by_id[b]["group_rep"] == a
    a, b, c = PLANTED_TRIPLE
    assert by_id[a]["group_rep"] == by_id[b]["group_rep"] == by_id[c]["group_rep"] == a

    # exactly one keep per group, groups partition the corpus
    groups = {}
    for r in out:
        groups.setdefault((r["list_id"], r["group_rep"]), []).append(r)
    for members in groups.values():
        assert sum(1 for m in members if m["keep"]) == 1

    # non-planted vectors are singleton groups and kept
    planted = {x for p in PLANTED_PAIRS for x in p} | set(PLANTED_TRIPLE)
    for vid, r in by_id.items():
        if vid not in planted:
            assert r["group_rep"] == vid and r["keep"]


def test_keep_rule_is_lowest_centroid_similarity(spark, frames):
    C, rows, vecs, centroids = frames
    out = semantic_dedup(vecs, eps=EPS, centroids=centroids).collect()
    by_id = {r["vec_id"]: r for r in out}
    for group in [list(PLANTED_PAIRS[0]), list(PLANTED_PAIRS[1]), list(PLANTED_TRIPLE)]:
        lid = by_id[group[0]]["list_id"]
        sims = {vid: float(rows[vid] @ C[lid]) for vid in group}
        expect = min(group, key=lambda vid: (round(sims[vid], 12), vid))
        kept = [vid for vid in group if by_id[vid]["keep"]]
        assert kept == [expect], (group, sims, kept)


def test_deterministic_across_runs(spark, frames):
    _, _, vecs, centroids = frames
    r1 = sorted(map(tuple, semantic_dedup(vecs, eps=EPS, centroids=centroids).collect()))
    r2 = sorted(map(tuple, semantic_dedup(vecs, eps=EPS, centroids=centroids).collect()))
    assert r1 == r2


def test_oversized_cluster_passes_through_and_is_reported(spark, frames):
    _, rows, vecs, centroids = frames
    out = semantic_dedup(vecs, eps=EPS, centroids=centroids, max_cluster=5).collect()
    # every cluster holds >= N_PER_CLUSTER > 5 vectors: nothing deduped
    assert all(r["keep"] and r["group_rep"] == r["vec_id"] for r in out)
    assigned = ivf_assign(
        vecs.select("vec_id", "e"),
        centroids,
    )
    report = semantic_oversized_clusters(assigned, max_cluster=5).collect()
    assert {r["list_id"] for r in report} == {0, 1, 2, 3}
    assert all(r["n_vectors"] > 5 for r in report)
    # and at the real default cap the report is empty
    assert semantic_oversized_clusters(assigned).count() == 0


def test_kmeans_path_runs_when_available(spark, frames):
    """Without supplied centroids semantic_dedup trains its own k-means
    quantizer — the output must still be a
    partition of the corpus with one keep per group."""
    _, rows, vecs, _ = frames
    out = semantic_dedup(vecs, n_clusters=4, eps=EPS).collect()
    assert {r["vec_id"] for r in out} == set(rows)
    groups = {}
    for r in out:
        groups.setdefault((r["list_id"], r["group_rep"]), 0)
        groups[(r["list_id"], r["group_rep"])] += int(r["keep"])
    assert all(v == 1 for v in groups.values())


def test_carry_across_arrow_batches_matches_default(spark, frames):
    """Tiny Arrow batches force every cluster to span batch boundaries —
    the run-carry path must produce the identical result set, both for
    normal clusters (vectors concatenated across batches) and for
    OVERSIZED clusters (the pass-through flag set mid-carry: the first
    batch's slice is under max_cluster, the continuation pushes it
    over, ids keep accumulating while the vector block is dropped)."""
    _, _, vecs, centroids = frames

    def run(max_cluster=None):
        kw = {} if max_cluster is None else {"max_cluster": max_cluster}
        return sorted(
            map(tuple, semantic_dedup(vecs, eps=EPS, centroids=centroids, **kw).collect())
        )

    want, want_over = run(), run(max_cluster=5)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
    try:
        got, got_over = run(), run(max_cluster=5)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert got == want
    assert got_over == want_over
    # the capped variant really did pass through un-deduped
    assert all(r[3] for r in got_over)
