"""IVF-PQ composed index (similarity.ivfpq_build_index / ivfpq_search):
partition-pruned inverted lists holding residual PQ codes — the two ANN
tiers composed. Pins: determinism, list-level file pruning at the scan,
clustered-corpus behavior (purity raw, recall re-ranked), and argument
contracts.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_job_spark.operators import similarity

from tests.test_ivf import PARTS, STATIC_CID
from tests.test_pq import _clustered
from tools.explain import scan_metrics


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_build_and_search_deterministic(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    similarity.ivfpq_build_index(emb, a, n_centroids=16, m=4, ksub=16, n_iters=2)
    similarity.ivfpq_build_index(
        emb.repartition(7), b, n_centroids=16, m=4, ksub=16, n_iters=2
    )
    ra = similarity.ivfpq_search(spark, a, queries, k=5, n_probe=4).collect()
    rb = similarity.ivfpq_search(spark, b, queries, k=5, n_probe=4).collect()
    assert sorted(map(tuple, ra)) == sorted(map(tuple, rb))
    assert all(r.rk >= 1 and r.adist >= 0 for r in ra)


def test_search_scans_only_probed_lists(spark, sf_dir, tmp_path):
    import contextlib
    import io

    emb = _emb(spark, sf_dir)
    # a single query with few probes: the probed-list filter reaches the
    # codes scan as a static partition filter, and the executed scan
    # read exactly the probed lists (the plan text alone cannot tell a
    # static filter from dynamicpruningexpression(true), which reads all)
    one_q = emb.filter(F.col("vec_id") == 0)
    idx = str(tmp_path / "idx")
    similarity.ivfpq_build_index(emb, idx, n_centroids=16, m=4, ksub=16, n_iters=2)
    res = similarity.ivfpq_search(spark, idx, one_q, k=5, n_probe=2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        res.explain(mode="formatted")
    pf_lines = [ln for ln in buf.getvalue().splitlines() if "PartitionFilters" in ln]
    assert pf_lines and all(STATIC_CID.search(ln) for ln in pf_lines), pf_lines
    res.collect()
    assert [m[PARTS] for _, m in scan_metrics(res) if PARTS in m] == [2]


def test_clustered_corpus_purity_and_reranked_recall(spark, tmp_path):
    emb = _clustered(spark)
    queries = emb.filter(F.col("vec_id") % 25 == 0)  # one per cluster
    idx = str(tmp_path / "cl")
    similarity.ivfpq_build_index(emb, idx, n_centroids=8, m=4, ksub=8, n_iters=3)
    raw = similarity.ivfpq_search(spark, idx, queries, k=5, n_probe=2).collect()
    assert len(raw) == 40
    # every neighbor from the query's own cluster (coarse lists align
    # with the planted clusters; residual codes can tie within a cell)
    assert all(r.n_id // 25 == r.q_id // 25 for r in raw)
    exact = {(r.q_id, r.n_id) for r in similarity.l2_topk(emb, queries, k=5).collect()}
    rr = {
        (r.q_id, r.n_id)
        for r in similarity.ivfpq_search(
            spark, idx, queries, k=5, n_probe=2, rerank=25, rerank_vectors=emb
        ).collect()
    }
    recall = len(exact & rr) / len(exact)
    assert recall >= 0.95, f"clustered re-ranked recall@5 = {recall:.3f}"


def test_argument_contracts(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    idx = str(tmp_path / "idx")
    similarity.ivfpq_build_index(emb, idx, n_centroids=8, m=4, ksub=8, n_iters=2)
    with pytest.raises(ValueError):
        similarity.ivfpq_search(spark, idx, queries, k=5, rerank=10)  # no vectors
    with pytest.raises(ValueError):
        similarity.ivfpq_search(
            spark, idx, queries, k=5, rerank=3, rerank_vectors=emb
        )  # rerank < k


def test_append_serves_new_vectors_and_staleness_enforces(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    base = emb.filter(F.col("vec_id") % 3 != 0)
    extra = emb.filter(F.col("vec_id") % 3 == 0)
    queries = emb.filter(F.col("vec_id") % 200 == 0)
    idx = str(tmp_path / "idx")
    similarity.ivfpq_build_index(base, idx, n_centroids=8, m=4, ksub=8, n_iters=2)
    before = {r.n_id for r in similarity.ivfpq_search(spark, idx, queries, k=5, n_probe=8).collect()}
    assert before and all(v % 3 != 0 for v in before)  # only indexed rows
    # fresh index: guarded search serves
    assert similarity.ivfpq_search(spark, idx, queries, k=5, max_staleness=0.2).count() > 0
    st = similarity.ivfpq_append(spark, idx, extra)
    assert st["appended_fraction"] > 0.2 and st["recommend_retrain"]
    # appended vectors are immediately searchable
    after = {r.n_id for r in similarity.ivfpq_search(spark, idx, queries, k=5, n_probe=8).collect()}
    assert any(v % 3 == 0 for v in after)
    with pytest.raises(similarity.IndexStalenessError, match="max_staleness"):
        similarity.ivfpq_search(spark, idx, queries, k=5, max_staleness=0.2)
    # unguarded keeps advisory-only behavior
    assert similarity.ivfpq_search(spark, idx, queries, k=5).count() > 0


def test_pq_append_and_staleness(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    base = emb.filter(F.col("vec_id") % 3 != 0)
    extra = emb.filter(F.col("vec_id") % 3 == 0)
    queries = emb.filter(F.col("vec_id") % 200 == 0)
    idx = str(tmp_path / "pq")
    similarity.pq_build_index(base, idx, m=4, ksub=8, n_iters=2)
    assert similarity.pq_search(spark, idx, queries, k=5, max_staleness=0.2).count() > 0
    st = similarity.pq_append(spark, idx, extra)
    assert st["appended_fraction"] > 0.2 and st["recommend_retrain"]
    after = {r.n_id for r in similarity.pq_search(spark, idx, queries, k=5).collect()}
    assert any(v % 3 == 0 for v in after)  # appended rows searchable
    with pytest.raises(similarity.IndexStalenessError, match="max_staleness"):
        similarity.pq_search(spark, idx, queries, k=5, max_staleness=0.2)


def test_append_into_legacy_index_keeps_one_schema(spark, sf_dir, tmp_path):
    """Appending to a LEGACY index (codes stored as array<int>) must
    keep writing array<int> files: mixing packed-binary and int-array
    footers in one parquet directory makes a plain read resolve ONE
    schema, silently nulling the other layout's rows out of every
    search. The append sniffs the existing layout and matches it."""
    emb = _emb(spark, sf_dir)
    base = emb.filter(F.col("vec_id") % 3 != 0)
    extra = emb.filter(F.col("vec_id") % 3 == 0)
    queries = emb.filter(F.col("vec_id") % 200 == 0)

    # ---- flat PQ ----
    idx = str(tmp_path / "pq_legacy")
    books = similarity.pq_build_index(base, idx, m=4, ksub=8, n_iters=2)
    # rewrite the codes dir in the legacy int-array layout
    legacy = similarity.pq_encode(base, books)
    legacy.write.mode("overwrite").parquet(f"{idx}/codes")
    similarity.pq_append(spark, idx, extra)
    stored = spark.read.parquet(f"{idx}/codes")
    assert "packed" not in stored.columns and "codes" in stored.columns
    # no NULL rows on either side of the append
    assert stored.filter(F.col("codes").isNull()).count() == 0
    got = {r.n_id for r in similarity.pq_search(spark, idx, queries, k=5).collect()}
    assert any(v % 3 == 0 for v in got)  # appended rows searchable

    # ---- IVF-PQ (cid-partitioned codes) ----
    idx2 = str(tmp_path / "ivfpq_legacy")
    similarity.ivfpq_build_index(base, idx2, n_centroids=8, m=4, ksub=8, n_iters=2)
    books2 = similarity._load_books(spark, idx2)
    legacy2 = similarity._unpacked_codes(spark.read.parquet(f"{idx2}/codes"), books2)
    legacy2.select("n_id", "codes", "cid").write.mode("overwrite").partitionBy(
        "cid"
    ).parquet(f"{idx2}/codes.tmp")
    import shutil

    shutil.rmtree(f"{idx2}/codes")
    shutil.move(f"{idx2}/codes.tmp", f"{idx2}/codes")
    similarity.ivfpq_append(spark, idx2, extra)
    stored2 = spark.read.parquet(f"{idx2}/codes")
    assert "packed" not in stored2.columns and "codes" in stored2.columns
    assert stored2.filter(F.col("codes").isNull()).count() == 0
    got2 = {
        r.n_id
        for r in similarity.ivfpq_search(spark, idx2, queries, k=5, n_probe=8).collect()
    }
    assert any(v % 3 == 0 for v in got2)


def test_plans_stay_jvm_side(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    idx = str(tmp_path / "idx")
    similarity.ivfpq_build_index(emb, idx, n_centroids=8, m=4, ksub=8, n_iters=2)
    df = similarity.ivfpq_search(spark, idx, queries, k=5, n_probe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    assert "BroadcastHashJoin" in plan  # per-(query,list) tables broadcast
