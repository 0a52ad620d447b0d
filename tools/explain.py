"""Print the formatted plan of registered queries, the Spark jobs they
launch, and what their file scans read.

Run:  python tools/explain.py <tag> <query> [<query> ...]
      python tools/explain.py after embed_ivf_search lsh_candidates > plans/x.txt

For each name this prints, under a ``-- <name> (<tag>)`` header:

- the number of Spark jobs launched while BUILDING the frame (eager
  work at plan time: schema inference, collects, checkpoints). The
  frame is built twice and the second, warm build is counted — the
  build a served query pays once its session caches (an index built
  on first use, inferred schemas) are filled;
- ``explain('formatted')``;
- the number of jobs the action itself launches, and for every file
  scan in the executed plan its ``number of partitions read`` and
  ``number of files read`` — the witness that partition pruning
  happened, which the plan text alone is not.

Data comes from ``SPARK_GRAFT_SF_DIR`` (default sf0.1). Besides registry
names, two frames that a query's own plan hides behind a
``localCheckpoint`` can be named:

- ``cc_edges``: the symmetrized edges ``dedup_clusters`` feeds to
  ``connected_components``;
- ``lsh_candidates``: the LSH candidate pairs ``dedup_minhash_lsh``
  verifies.

Queries that commit table versions while their frame is built do that
work here too (scratch-scoped, as in any bench invocation).
"""

from __future__ import annotations

import os
import sys
import uuid


def _lsh_candidates_frame(spark, sf):
    from etl_job_spark.operators import dedup
    from etl_job_spark.plans import llm_ops

    corpus = llm_ops._neardup_corpus(spark, sf)
    sigs = dedup.minhash_signatures(dedup.shingles(corpus), num_hashes=12)
    return dedup.lsh_candidate_pairs(sigs, band_size=3)


def _cc_edges_frame(spark, sf):
    """The edges frame dedup_clusters feeds to connected_components,
    reproduced WITHOUT its localCheckpoint (same expressions as
    ``dedup.connected_components``' symmetrization)."""
    from pyspark.sql import functions as F

    from etl_job_spark.operators import dedup
    from etl_job_spark.plans import llm_ops

    corpus = llm_ops._neardup_corpus(spark, sf)
    sh = dedup.shingles(corpus).persist()
    sigs = dedup.minhash_signatures(sh, num_hashes=12)
    cands = dedup.lsh_candidate_pairs(sigs, band_size=3)
    pairs = dedup.verify_pairs(cands, sh, llm_ops.JACCARD_THRESHOLD)
    both_dirs = F.array(
        F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
        F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
    )
    return pairs.select(F.explode(both_dirs).alias("e")).select("e.src", "e.dst").distinct()


FRAMES = {"cc_edges": _cc_edges_frame, "lsh_candidates": _lsh_candidates_frame}


def _nodes(plan):
    """Every physical node under ``plan``, looking through adaptive
    plans and query stages to the plan that actually ran."""
    kind = plan.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        yield from _nodes(plan.executedPlan())
        return
    if kind.endswith("QueryStageExec"):
        yield from _nodes(plan.plan())
        return
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _nodes(kids.apply(i))


def scan_metrics(df) -> list[tuple[str, dict[str, int]]]:
    """(scan node name, {metric description: value}) for every file
    scan of ``df``'s executed plan. Read it after an action on ``df``
    itself (``collect()``), which fills these metrics."""
    out = []
    for node in _nodes(df._jdf.queryExecution().executedPlan()):
        if node.getClass().getSimpleName() != "FileSourceScanExec":
            continue
        metrics = {}
        it = node.metrics().values().iterator()
        while it.hasNext():
            m = it.next()
            metrics[m.name().get()] = int(m.value())
        out.append((node.nodeName(), metrics))
    return out


def _jobs(spark, fn):
    """(fn's result, Spark jobs launched while it ran)."""
    sc = spark.sparkContext
    group = f"explain-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "tools/explain.py")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    tag, names = sys.argv[1], sys.argv[2:]
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from etl_job_spark.plans.registry import QUERIES
    from etl_job_spark.scratch import reclaim_scratch
    from etl_job_spark.session import get_spark

    spark = get_spark(f"explain-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for name in names:
            build = FRAMES.get(name) or QUERIES[name]
            build(spark, sf)
            df, n_build = _jobs(spark, lambda: build(spark, sf))
            print(f"-- {name} ({tag}) at {sf}")
            print(f"-- jobs while building: {n_build}")
            df.explain(mode="formatted")
            _, n_run = _jobs(spark, lambda: df._jdf.queryExecution().toRdd().count())
            print(f"-- jobs while running: {n_run}")
            for scan, m in scan_metrics(df):
                print(
                    f"-- {scan}: number of partitions read = "
                    f"{m.get('number of partitions read', '-')}, "
                    f"number of files read = {m.get('number of files read', '-')}"
                )
            print(flush=True)
    finally:
        reclaim_scratch(spark.sparkContext.applicationId)
        spark.stop()


if __name__ == "__main__":
    main()
