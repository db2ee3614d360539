"""One materialization per input: the outlink UDF runs once per page in a
graph build, the build leaves no cache behind, a dir-backed superstep reads
its parquet back without a schema-inference job, and streaming ingest plans
the UDF once per scan."""

from __future__ import annotations

from pyspark.sql import functions as F

from pagerank_spark.operators.contraction import host_graph_from_pages
from pagerank_spark.operators.graph import graph_from_pages
from pagerank_spark.plans.checkpoint import SuperstepCheckpointer
from pagerank_spark.sources.synth import synth_pages
from pagerank_spark.streaming.ingest import edges_of_batch


def _udf_output_rows(spark, group: str) -> int:
    """Σ "number of output rows" over every ArrowEvalPython node of the SQL
    executions that ran a job of ``group`` (read from the SQL status store)."""
    sc = spark.sparkContext
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = {int(j) for j in sc.statusTracker().getJobIdsForGroup(group)}
    assert jobs
    store = spark._jsparkSession.sharedState().statusStore()
    total = 0
    for ex in conv.asJava(store.executionsList()):
        if not jobs & {int(j) for j in conv.asJava(ex.jobs()).keySet()}:
            continue
        values = store.executionMetrics(ex.executionId())
        seen = set()
        for node in conv.asJava(store.planGraph(ex.executionId()).allNodes()):
            if not node.name().startswith("ArrowEvalPython"):
                continue
            for m in conv.asJava(node.metrics()):
                aid = m.accumulatorId()
                if m.name() != "number of output rows" or aid in seen:
                    continue
                seen.add(aid)
                v = values.get(aid)
                if v.isDefined():
                    total += int(v.get().replace(",", ""))
    return total


def _persistent_rdds(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def test_graph_from_pages_runs_outlink_udf_once_per_page(spark):
    pages = synth_pages(spark, 150)
    sc = spark.sparkContext
    sc.setJobGroup("extract-once", "graph_from_pages on 150 pages")
    try:
        g = graph_from_pages(spark, pages)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    try:
        assert g.n_vertices == 150
        assert _udf_output_rows(spark, "extract-once") == 150
    finally:
        g.unpersist()


def test_graph_builds_from_pages_leave_no_cache(spark):
    pages = synth_pages(spark, 120).localCheckpoint(eager=True)
    for build in (graph_from_pages, host_graph_from_pages):
        before = _persistent_rdds(spark)
        g = build(spark, pages)
        assert g.n_edges > 0
        g.unpersist()
        assert _persistent_rdds(spark) - before == set(), build.__name__


def test_dir_checkpoint_save_schema_equals_load(spark, tmp_path):
    df = spark.range(6).select(
        "id",                                                 # non-nullable long
        (F.col("id") * 0.5).alias("x"),
        (F.col("id") % 2 == 0).alias("even"),
        F.array(F.col("id").cast("int"), F.lit(7)).alias("a"),
    )
    assert not df.schema["id"].nullable
    ck = SuperstepCheckpointer(spark, str(tmp_path / "ck"))
    saved = ck.save(3, df)
    loaded = ck.load(3)
    assert saved.schema == loaded.schema
    assert sorted(saved.collect()) == sorted(loaded.collect()) == sorted(df.collect())


def test_ingest_batch_plans_outlink_udf_once(spark):
    edges = edges_of_batch(synth_pages(spark, 20))
    plan = edges._jdf.queryExecution().optimizedPlan().toString()
    nodes = [line for line in plan.splitlines() if "ArrowEvalPython " in line]
    # one extraction per side of the in-batch latest-recrawl self-join
    assert len(nodes) <= 2, plan
