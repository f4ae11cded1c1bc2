"""Read Spark's own counters from outside the engine.

Three sources, all reached through py4j after a query has been forced:

- plan-node SQL metrics: the executed (AQE final) plan of the forced
  DataFrame, descending through adaptive plans, query stages and cached
  relations, with each node's `metrics()`; each cached relation also
  appears as an `InMemoryRelation` node carrying its row count and
  size;
- stage metrics: the status store's jobs and stages, selected by the job
  group the benchmark set around the call;
- the CacheManager and the block manager: how many cache entries a
  call left behind, and how many bytes they hold.
"""
from __future__ import annotations

import statistics
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class PlanNode:
    name: str
    metrics: dict[str, int]
    columns: list[str]


def _columns(attrs) -> list[str]:
    return [c.split("#")[0] for c in attrs.mkString("\x1f").split("\x1f") if c]


def plan_nodes(df: DataFrame) -> list[PlanNode]:
    """Every physical node of `df`'s executed plan, each once, plus one
    `InMemoryRelation` node (metrics `rows`, `bytes`) per cached
    relation it reads."""
    out: list[PlanNode] = []
    seen: set[int] = set()
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue  # its metrics belong to the exchange it reuses
        if node.id() in seen:
            continue
        seen.add(node.id())
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = int(kv._2().value())
        out.append(PlanNode(node.nodeName(), metrics, _columns(node.output())))
        if cls == "InMemoryTableScanExec":
            rel = node.relation()
            rdd_cache = rel.cacheBuilder()
            cached = rdd_cache.cachedPlan()
            if cached.id() not in seen:
                out.append(PlanNode("InMemoryRelation",
                                    {"rows": int(rdd_cache.rowCountStats().value()),
                                     "bytes": int(rdd_cache.sizeInBytesStats().value())},
                                    _columns(rel.output())))
                todo.append(cached)
        children = node.children()
        for k in range(children.size()):
            todo.append(children.apply(k))
    return out


def metric_sum(nodes: list[PlanNode], metric: str) -> int:
    return sum(n.metrics.get(metric, 0) for n in nodes)


@dataclass
class StageTotals:
    """Stage metrics summed over every stage that ran in one job group."""
    jobs: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: int = 0
    shuffle_bytes: int = 0
    task_skew: float = 0.0


def stage_totals(spark: SparkSession, group: str) -> StageTotals:
    """Totals for job group `group`; waits for the listener bus first,
    because the status store is filled asynchronously."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(30_000)
    jvm = spark._jvm
    store = sc.statusStore()
    tot = StageTotals()
    stage_ids = set()
    jobs = store.jobsList(jvm.java.util.ArrayList())
    for k in range(jobs.size()):
        job = jobs.apply(k)
        g = job.jobGroup()
        if not (g.isDefined() and g.get() == group):
            continue
        tot.jobs += 1
        ids = job.stageIds()
        stage_ids.update(int(ids.apply(q)) for q in range(ids.size()))
    heaviest = None
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    for sid in sorted(stage_ids):
        attempts = store.stageData(sid, False, jvm.java.util.ArrayList(), False, no_quantiles)
        for a in range(attempts.size()):
            st = attempts.apply(a)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            tot.task_s += st.executorRunTime() / 1e3
            tot.cpu_s += st.executorCpuTime() / 1e9
            tot.gc_s += st.jvmGcTime() / 1e3
            tot.spill_bytes += st.diskBytesSpilled()
            tot.shuffle_bytes += st.shuffleWriteBytes()
            if heaviest is None or st.executorRunTime() > heaviest[0]:
                heaviest = (st.executorRunTime(), sid, st.attemptId())
    if heaviest is not None:
        tasks = store.taskList(heaviest[1], heaviest[2], 1 << 30)
        times = []
        for t in range(tasks.size()):
            m = tasks.apply(t).taskMetrics()
            if m.isDefined():
                times.append(m.get().executorRunTime())
        med = statistics.median(times) if times else 0
        tot.task_skew = max(times) / med if med > 0 else 1.0
    return tot


def _cached_data(spark: SparkSession):
    cm = spark._jsparkSession.sharedState().cacheManager()
    fld = cm.getClass().getDeclaredField("cachedData")
    fld.setAccessible(True)
    return fld.get(cm)


def cache_entries(spark: SparkSession) -> int:
    """CacheManager entries currently registered in the session."""
    return int(_cached_data(spark).size())


def persisted_bytes(spark: SparkSession) -> int:
    """Memory plus disk bytes of every persisted RDD block."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)
