"""Per-op layer trace, taken from outside the engine.

Three sources, all read by the benchmark rather than by the program:

- Spark jobs: every traced op runs under its own job group. After the
  op, the listener bus is drained (job-end events arrive
  asynchronously) and the op's jobs and stages are read from Spark's
  status store at once, because the store keeps only the last 1000
  jobs and a catalog run issues thousands.
- Plan builders: the public builder functions of the engine's modules
  are wrapped in place, recording when each outermost call starts and
  ends. A Spark job submitted while a builder is on the stack is a
  hidden job (a ``collect``/``count`` inside plan construction).
- Cache state: the resident RDD blocks, and the data in CacheManager
  entries, the engine's served tables and its query-embedding LRU.
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# (module, function names) wrapped as plan builders: each returns a lazy
# DataFrame, so time inside them is driver-side plan construction plus
# any job they run before returning.
BUILDERS = {
    "vector_search_application_spark.functions.embedder": (
        "embed_postings", "embed_query_postings", "sparse_cosine_topk"),
    "vector_search_application_spark.operators.bm25": (
        "build_postings", "query_terms", "bm25_score_terms"),
    "vector_search_application_spark.operators.fusion": (
        "rrf_fuse", "max_dedup_fuse"),
    "vector_search_application_spark.operators.exact": ("exact_cascade",),
    "vector_search_application_spark.operators.dedup": (
        "exact_dedup", "minhash_dedup_pairs", "lsh_candidates",
        "connected_components"),
    "vector_search_application_spark.functions.text": (
        "quality_features_expr",),
    "vector_search_application_spark.sources.json_source": (
        "read_json_array",),
}
# wrapped for their own timing; they run jobs by design, so they are
# not plan builders
TIMED = {
    "vector_search_application_spark.sources.json_source": ("load_products",),
}


@dataclass
class Calls:
    """Wrapped-call records since the last ``take()``."""

    builder_spans: list = field(default_factory=list)  # outermost (t0, t1) epoch s
    per_fn: dict = field(default_factory=dict)  # name -> [seconds]
    returned: dict = field(default_factory=dict)  # name -> last DataFrame


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self.calls = Calls()
        self._depth = 0
        self._patched: list = []
        self._n = 0

    # -- builder wrappers ---------------------------------------------------

    def install(self) -> None:
        import importlib

        for table, builder in ((BUILDERS, True), (TIMED, False)):
            for modname, names in table.items():
                mod = importlib.import_module(modname)
                for name in names:
                    orig = getattr(mod, name)
                    setattr(mod, name, self._wrap(name, orig, builder))
                    self._patched.append((mod, name, orig))

    def uninstall(self) -> None:
        for mod, name, orig in reversed(self._patched):
            setattr(mod, name, orig)
        self._patched.clear()

    def _wrap(self, name, fn, builder: bool):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            outer = builder and self._depth == 0
            if builder:
                self._depth += 1
            t0, p0 = time.time(), time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - p0
                if builder:
                    self._depth -= 1
                if outer:
                    self.calls.builder_spans.append((t0, t0 + dt))
                self.calls.per_fn.setdefault(name, []).append(dt)
            self.calls.returned[name] = out
            return out

        return wrapper

    def take(self) -> Calls:
        out, self.calls = self.calls, Calls()
        return out

    # -- job groups -----------------------------------------------------------

    def begin(self) -> str:
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, group)
        self.take()
        return group

    def end(self, group: str, wall_s: float) -> dict:
        """Layer record of the op that ran under ``group``."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        calls = self.take()
        self._jsc.listenerBus().waitUntilEmpty()
        jobs = []
        stages = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = self._store.job(jid)
            t0 = jd.submissionTime().get().getTime() / 1000.0
            t1 = jd.completionTime().get().getTime() / 1000.0
            jobs.append((t0, t1))
            stages.update(self.sc.statusTracker().getJobInfo(jid).stageIds)
        rec = {
            "jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0,
            "executor_run_ms": 0.0, "executor_cpu_ms": 0.0,
            "shuffle_read_kb": 0.0, "shuffle_write_kb": 0.0, "spill_kb": 0.0,
            "shuffle_write_rows": 0,
        }
        for sid in stages:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store
                continue
            if sd.status().toString() not in ("COMPLETE", "FAILED"):
                continue  # skipped: its output was reused
            rec["stages"] += 1
            rec["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            rec["failed_tasks"] += sd.numFailedTasks()
            rec["executor_run_ms"] += sd.executorRunTime()
            rec["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
            rec["shuffle_read_kb"] += sd.shuffleReadBytes() / 1024
            rec["shuffle_write_kb"] += sd.shuffleWriteBytes() / 1024
            rec["shuffle_write_rows"] += sd.shuffleWriteRecords()
            rec["spill_kb"] += (sd.memoryBytesSpilled()
                                + sd.diskBytesSpilled()) / 1024
        in_jobs = union_seconds(jobs)
        hidden = [j for j in jobs
                  if any(b0 <= j[0] <= b1 for b0, b1 in calls.builder_spans)]
        rec.update({
            "wall_ms": wall_s * 1000,
            "in_jobs_ms": min(in_jobs, wall_s) * 1000,
            "outside_jobs_ms": max(wall_s - in_jobs, 0.0) * 1000,
            "build_ms": sum(b1 - b0 for b0, b1 in calls.builder_spans) * 1000,
            "hidden_jobs": len(hidden),
            "hidden_jobs_ms": union_seconds(hidden) * 1000,
            "calls": calls,
        })
        return rec

    # -- cache state ----------------------------------------------------------

    def rdd_storage(self) -> dict[int, int]:
        """Resident RDD id -> bytes held in memory and on disk."""
        return {
            info.id(): info.memSize() + info.diskSize()
            for info in self._jsc.getRDDStorageInfo()
        }

    def cached_tables(self) -> list:
        """Every CacheManager entry, as a DataFrame over its cached data."""
        from pyspark.sql import DataFrame

        jss = self.spark._jsparkSession
        cm = jss.sharedState().cacheManager()
        fld = cm.getClass().getDeclaredField("cachedData")
        fld.setAccessible(True)
        entries = fld.get(cm)
        of_rows = self.spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows
        return [DataFrame(of_rows(jss, entries.apply(i).plan()), self.spark)
                for i in range(entries.size())]

    def is_cached(self, df) -> bool:
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        return cm.lookupCachedData(df._jdf).isDefined()


def union_seconds(spans) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur0, cur1 = 0.0, None, None
    for a, b in sorted(spans):
        if cur1 is None or a > cur1:
            if cur1 is not None:
                total += cur1 - cur0
            cur0, cur1 = a, b
        else:
            cur1 = max(cur1, b)
    if cur1 is not None:
        total += cur1 - cur0
    return total


def data_bytes(df) -> int:
    """Bytes of data in ``df`` as Spark's columnar cache holds it before
    compression: 4 + length per string, the fixed width per other
    atomic value, the element width per array element (+16 per array);
    nulls count nothing. The compressed size depends on the order rows
    arrive in from a shuffle (the dense index alone swung 0.83 <-> 1.14 MB
    between identical builds), so it cannot be compared run to run."""
    from pyspark.sql.types import ArrayType, AtomicType, BinaryType, StringType

    terms = []
    jfields = df._jdf.schema().fields()
    for f, jf in zip(df.schema.fields, jfields):
        c, t = f"`{f.name}`", f.dataType
        if isinstance(t, (StringType, BinaryType)):
            terms.append(f"coalesce(sum(octet_length({c}) + 4), 0)")
        elif isinstance(t, AtomicType):
            terms.append(f"count({c}) * {jf.dataType().defaultSize()}")
        elif isinstance(t, ArrayType) and isinstance(t.elementType, AtomicType) \
                and not isinstance(t.elementType, (StringType, BinaryType)):
            width = jf.dataType().elementType().defaultSize()
            terms.append(f"coalesce(sum(size({c}) * {width} + 16), 0)")
        else:
            terms.append(f"coalesce(sum(octet_length(to_json({c}))), 0)")
    expr = " + ".join(f"CAST({t} AS BIGINT)" for t in terms) or "0"
    return df.selectExpr(f"{expr} AS b").first()[0]


def cached_mb(tracer: Tracer, engine=None) -> float:
    """Data the program keeps on purpose, in MB (see ``data_bytes``):
    every CacheManager entry and, for an engine, its served tables that
    are not cache entries (the corpus is a checkpoint after the first
    write) and its query-embedding LRU. Per-request result checkpoints
    waiting for Spark's ContextCleaner are left out, so the figure does
    not depend on when the JVM collects garbage."""
    tables = tracer.cached_tables()
    if engine is not None:
        tables += [df for df in (engine.products, engine.dense_index,
                                 engine.sparse_postings)
                   if not tracer.is_cached(df)]
        lru = list(engine._query_emb_cache.values())
        if lru:
            tables.append(functools.reduce(lambda a, b: a.unionByName(b), lru))
    return sum(data_bytes(df) for df in tables) / 2**20
