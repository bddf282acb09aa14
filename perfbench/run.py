"""Closed-loop benchmark of the vector search engine.

    python3 perfbench/run.py --workload catalog_upsert --seed 1 \
        --seconds 15 --trace 0

One process, one client thread: each op is sent only after the previous
one returned, because the reference's UI is one user waiting on each
reply. The engine runs at local[N] with N = the CPUs this process may
use and N shuffle partitions. Inputs come from ``--seed`` only
(perfbench/inputs.py); every op's output is checked (perfbench/checks.py)
and the last stdout line is one JSON object:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer split from perfbench/layers.py. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import collections  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("catalog_search", "catalog_upsert", "curate_dedup")
SIZES = {
    # catalog products, upsert batch rows, docs per curation shard
    "full": {"products": 20_000, "batch": 50, "shard_docs": 4_000},
    "tiny": {"products": 2_000, "batch": 5, "shard_docs": 600},
}
COUNT = 10          # rows per read request
# catalog_upsert: every 6th op is a load_data. Each write cycle is then
# the write, a read-back and 4 reads, one of which rebuilds the BM25
# index, so a quarter of the reads p50/p90 describe are rebuild reads:
# p50 sits among plain reads and p90 among rebuild reads, away from the
# boundary between the two.
WRITE_EVERY = 6
WARMUP_OPS = 6      # catalog ops ahead of timing (covers one write cycle)
# The per-op work counts are taken over the first timed ops, the same
# ops in every run of a seed: the count of a catalog read grows with the
# writes before it (each upsert adds files to scan), and curation shards
# differ a little, so a count over however many ops fit in the run would
# follow the host's speed. The timed phase runs at least this long.
COUNTED_OPS = {"catalog_search": 20, "catalog_upsert": 3 * WRITE_EVERY,
               "curate_dedup": 3}
WARMUP_SHARD_DIV = 4  # the warm-up pass reads a shard 1/4 the timed size
ENGINE_BUILDS = 3   # setup_s counts the median of three engine builds
SAMPLE_QUERY = "steel valve"
# catalog ops left out of p50/p90: writes and the read right after each
NOT_PRIMARY = ("write", "search_pn")
JACCARD = 0.5
NEAR_RECALL_FLOOR = 0.85

# Work counts and memory, not times: on a shared host the wall and CPU
# time of the same run swing by 2x between windows of minutes (see
# README.md), so the times are per-layer metrics of the traced run.
END_TO_END = {"setup_s": "s", "jobs_per_op": "count",
              "tasks_per_op": "count", "shuffle_kb_per_op": "KiB",
              "cached_mb": "MB"}
PER_LAYER = {
    "p50_ms": "ms", "p90_ms": "ms", "ops_per_s": "1/s",
    "api.query_dense_ms": "ms", "api.query_sparse_ms": "ms",
    "api.query_hybrid_ms": "ms", "api.search_ms": "ms",
    "api.search_fusion_ms": "ms", "api.load_data_ms": "ms",
    "api.collect_ms": "ms", "api.embed_hit_ratio": "ratio",
    "api.absorb_ms": "ms",
    "embedder.embed_query_calls": "count", "embedder.embed_query_ms": "ms",
    "plan.build_ms": "ms", "plan.hidden_jobs": "count",
    "plan.hidden_jobs_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.in_jobs_ms": "ms", "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms", "spark.shuffle_read_kb": "KiB",
    "spark.shuffle_write_kb": "KiB", "spark.spill_kb": "KiB",
    "spark.failed_tasks": "count", "spark.jobs_read_after_write": "count",
    "driver.outside_jobs_ms": "ms",
    "cache.live_tables": "count", "cache.memo_entries": "count",
    "cache.persisted_mb": "MB", "cache.resident_rdds": "count",
    "sources.load_products_ms": "ms",
    "dedup.lsh_candidate_pairs": "count", "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio", "dedup.planted_recall": "ratio",
    "host.calibration_ms_start": "ms", "host.calibration_ms_end": "ms",
    "write_p50_ms": "ms", "read_after_write_p50_ms": "ms",
    "docs_per_s": "1/s", "error_rate": "ratio",
    "trace.overhead_p50_ms": "ms", "trace.read_ms": "ms",
}


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def p90(xs) -> float:
    if len(xs) < 2:
        return median(xs)
    return float(statistics.quantiles(xs, n=10, method="inclusive")[8])


# -- process and session ------------------------------------------------------

def prepare_workdir() -> str:
    """A fresh scratch directory inside the checkout; Spark's local
    dirs, the JVM's and Python's temp files all go there."""
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return work


def start_spark(work: str):
    ncpu = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")  # ample for these inputs
    # every JVM spark-submit starts (its launcher too) keeps its temp
    # files in the checkout and writes no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell"
    )
    from vector_search_application_spark.session import get_spark

    spark = get_spark(shuffle_partitions=ncpu)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- catalog workloads --------------------------------------------------------

def build_engine(spark, sf_dir: str):
    from vector_search_application_spark.api import Engine

    eng = Engine(spark, sf_dir)
    eng.optimize()
    return eng


def drop_engine(eng) -> None:
    from vector_search_application_spark.functions import cache

    eng.products.unpersist()
    eng.dense_index.unpersist()
    cache.release_all()


def run_catalog_op(eng, op: inputs.Op, batch_paths: dict, table_dir: str):
    """Execute one op; returns (rows or written count, call ms, collect ms)."""
    t0 = time.perf_counter()
    if op.kind == "write":
        n = eng.load_data(batch_paths[op.batch], table_dir)
        return n, (time.perf_counter() - t0) * 1000, 0.0
    if op.kind in ("hybrid", "dense", "sparse"):
        df = eng.query(op.text, op.kind, COUNT)
    elif op.kind == "search":
        field = inputs.FILTER_FIELD if op.filter_value else None
        df = eng.search(op.text, COUNT, field, op.filter_value)
    elif op.kind == "search_pn":
        df = eng.search(op.text, COUNT, use_fusion=True)
    else:
        df = eng.search_fusion(op.text, COUNT)
    t1 = time.perf_counter()
    rows = df.collect()
    t2 = time.perf_counter()
    return rows, (t1 - t0) * 1000, (t2 - t1) * 1000


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_PROCESS:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def warmup_check(err: str | None) -> None:
    """A wrong answer before timing starts ends the run without a result."""
    if err:
        raise SystemExit(f"check failed during warm-up: {err}")


class Paused:
    """Accumulates the time the benchmark spends writing upsert batches,
    which set-up time leaves out."""

    def __init__(self):
        self.s = 0.0

    def __enter__(self):
        self._t = time.perf_counter()

    def __exit__(self, *exc):
        self.s += time.perf_counter() - self._t


def catalog_workload(args, spark, work: str, size: dict):
    t = time.perf_counter()  # input generation is not set-up time
    catalog = inputs.write_catalog(
        random.Random(args.seed), size["products"], os.path.join(work, "sf")
    )
    stream = inputs.CatalogStream(
        args.seed, catalog, repeat=args.workload == "catalog_search",
        write_every=WRITE_EVERY if args.workload == "catalog_upsert" else 0,
        batch_size=size["batch"],
    )
    gen_s = time.perf_counter() - t
    table_dir = os.path.join(work, "upload_table")
    batch_paths: dict[int, str] = {}
    paused = Paused()

    def materialize(op):
        if op.kind == "write":
            with paused:
                path = os.path.join(work, f"batch{op.batch}.json")
                inputs.write_batch(stream.batch(op.batch), path)
                batch_paths[op.batch] = path

    builds, eng = [], None
    for _ in range(ENGINE_BUILDS):
        if eng is not None:
            drop_engine(eng)
        t = time.perf_counter()
        eng = build_engine(spark, catalog.sf_dir)
        builds.append(time.perf_counter() - t)
        log(f"engine built in {builds[-1]:.2f} s")

    digests = []
    for _ in range(WARMUP_OPS):
        op = stream.next()
        materialize(op)
        out, _, _ = run_catalog_op(eng, op, batch_paths, table_dir)
        warmup_check(checks.check_catalog(op, out, COUNT, size["batch"]))
        digests.append(checks.digest(op, out))
    gen_s += paused.s
    paused.s = 0.0
    log("warm-up done")

    tracer, host = start_trace(spark, args.trace)
    # the engine build counts once, at the median of the builds
    setup_s = (time.perf_counter() - T_PROCESS - gen_s - host.get("cost", 0.0)
               - sum(builds) + median(builds))

    ops = []  # dicts: op, ms, call_ms, collect_ms, rec, traced
    errors: list[str] = []
    failed = 0
    deadline = time.perf_counter() + args.seconds
    seen = collections.Counter()
    # with writes, the phase ends on a whole write cycle, so the latency
    # percentiles describe the same mix: a write, its read-back and the
    # reads between
    cycle = WRITE_EVERY if args.workload == "catalog_upsert" else 1
    while (time.perf_counter() < deadline or len(ops) % cycle
           or len(ops) < COUNTED_OPS[args.workload]):
        op = stream.next()
        materialize(op)
        # an untraced run reads every op's jobs, for the work counts. In a
        # traced run writes and the reads right after them are always
        # traced; the other reads alternate within each kind, so the
        # traced and the untraced reads have the same mix and the run
        # measures its own tracing overhead
        primary = op.kind not in NOT_PRIMARY
        traced = not args.trace or not primary or seen[op.kind] % 2 == 0
        seen[op.kind] += primary
        group = tracer.begin() if traced else None
        t0 = time.perf_counter()
        try:
            out, call_ms, collect_ms = run_catalog_op(
                eng, op, batch_paths, table_dir)
        except Exception as e:  # a failed op counts as a missed latency
            failed += 1
            errors.append(f"{op.kind} failed: {e!r}"[:300])
            out, call_ms, collect_ms = None, float("inf"), 0.0
        wall = time.perf_counter() - t0
        rec = None
        if traced:
            tr0 = time.perf_counter()
            rec = tracer.end(group, wall)
            rec["read_ms"] = (time.perf_counter() - tr0) * 1000
        if args.corrupt and op.kind != "write" and out:
            out, args.corrupt = out + out[:1], False  # a duplicated row
        if out is not None:
            err = checks.check_catalog(op, out, COUNT, size["batch"])
            if err:
                errors.append(err)
            digests.append(checks.digest(op, out))
        log(f"op {len(ops) + 1} {op.kind} {wall * 1000:.1f} ms")
        ops.append({
            "op": op, "ms": wall * 1000 if out is not None else float("inf"),
            "call_ms": call_ms, "collect_ms": collect_ms, "rec": rec,
            "traced": traced,
        })
        if len(ops) == COUNTED_OPS[args.workload]:
            # fixed sampling point, after the counted ops: every index the
            # engine builds at query time exists (a hybrid read builds the
            # BM25 statistics after a write), and no result of a request
            # is still referenced by the benchmark
            eng.query(SAMPLE_QUERY, "hybrid", COUNT).collect()
            cached_mb = layers.cached_mb(tracer, eng)

    result = {
        "ops": ops, "setup_s": setup_s, "failed": failed,
        "errors": errors, "digests": digests, "cached_mb": cached_mb,
    }
    if args.trace:
        host["end"] = calibration_ms(spark)
        tracer.uninstall()
        result.update(cache=cache_state(tracer), host=host)
    return result


def cache_state(tracer) -> dict:
    from vector_search_application_spark.functions import cache

    sizes = tracer.rdd_storage()
    return {
        "cache.live_tables": len(cache._LIVE),
        "cache.memo_entries": sum(len(b) for b in cache._PLAN_MEMO.values()),
        "cache.persisted_mb": sum(sizes.values()) / 2**20,
        "cache.resident_rdds": len(sizes),
    }


def calibration_ms(spark) -> float:
    from vector_search_application_spark import calibration

    return median(calibration.calibration_secs(spark, reps=1)) * 1000


def start_trace(spark, full: bool):
    """The tracer, and the start-of-run host probe. Every run reads each
    op's Spark jobs from the status store; a full trace also wraps the
    plan builders and brackets the run with the host probe."""
    tracer = layers.Tracer(spark)
    if not full:
        return tracer, {}
    t = time.perf_counter()
    cal = calibration_ms(spark)
    tracer.install()
    return tracer, {"start": cal, "cost": time.perf_counter() - t}


# -- curation workload --------------------------------------------------------

def curation_pass(spark, shard: inputs.Shard):
    """exact dedup -> MinHash-LSH pairs over the survivors -> connected
    components -> quality features of the kept docs -> kept count and
    tokens. Returns (kept, tokens, removed ids)."""
    from pyspark.sql import functions as F

    from vector_search_application_spark.functions import text as T
    from vector_search_application_spark.operators import dedup

    docs = spark.read.parquet(shard.path)
    verdicts = dedup.exact_dedup(docs, "doc_id", "text")
    survivors = docs.join(
        verdicts.filter(~F.col("is_duplicate")).select(
            F.col("id").alias("doc_id")), "doc_id")
    pairs = dedup.minhash_dedup_pairs(survivors, "doc_id", "text", JACCARD)
    comps = dedup.connected_components(
        pairs.select("id_a", "id_b"),
        survivors.select(F.col("doc_id").alias("id")))
    kept = (comps.filter(F.col("id") == F.col("canonical_id"))
            .select(F.col("id").alias("doc_id")).join(docs, "doc_id"))
    feats = kept.select(F.explode(T.quality_features_expr("text")).alias("qf"))
    row = feats.agg(F.count(F.lit(1)).alias("n"),
                    F.sum("qf.n_tokens").alias("tokens")).collect()[0]
    removed = (verdicts.filter(F.col("is_duplicate")).select("id")
               .unionByName(comps.filter(F.col("id") != F.col("canonical_id"))
                            .select("id")))
    removed_ids = {r[0] for r in removed.collect()}
    return int(row["n"]), int(row["tokens"] or 0), removed_ids


def curate_workload(args, spark, work: str, size: dict):
    from vector_search_application_spark.functions import cache

    n_docs = size["shard_docs"]
    shard_no = [0]

    def next_shard(n: int = n_docs) -> inputs.Shard:
        k = shard_no[0]
        shard_no[0] += 1
        return inputs.write_shard(args.seed, k, n,
                                  os.path.join(work, f"shard{k}.parquet"))

    t = time.perf_counter()  # input generation is not set-up time
    shard = next_shard(n_docs // WARMUP_SHARD_DIV)
    gen_s = time.perf_counter() - t
    out = curation_pass(spark, shard)
    warmup_check(checks.check_curation(shard, *out, NEAR_RECALL_FLOOR)[0])
    digests = [checks.digest_curation(*out)]
    cache.release_all()
    t = time.perf_counter()
    shard = next_shard()
    gen_s += time.perf_counter() - t
    log("warm-up done")

    tracer, host = start_trace(spark, args.trace)
    setup_s = time.perf_counter() - T_PROCESS - gen_s - host.get("cost", 0.0)

    ops, errors, failed, recalls = [], [], 0, []
    cached_mb = None
    cache_sample = {}
    deadline = time.perf_counter() + args.seconds
    i = 0
    while time.perf_counter() < deadline or i < COUNTED_OPS[args.workload]:
        traced = not args.trace or i % 2 == 0
        i += 1
        group = tracer.begin() if traced else None
        t0 = time.perf_counter()
        try:
            out = curation_pass(spark, shard)
        except Exception as e:
            failed += 1
            errors.append(f"curation pass failed: {e!r}"[:300])
            out = None
        wall = time.perf_counter() - t0
        rec = None
        if traced:
            tr0 = time.perf_counter()
            rec = tracer.end(group, wall)
            rec["read_ms"] = (time.perf_counter() - tr0) * 1000
        if traced and args.trace:
            calls = rec["calls"]
            rec["lsh_candidate_pairs"] = calls.returned["lsh_candidates"].count()
            rec["verified_pairs"] = calls.returned["minhash_dedup_pairs"].count()
        if args.corrupt and out is not None:
            # keep one planted exact duplicate
            out = out[:2] + (out[2] - {min(shard.exact_copies)},)
            args.corrupt = False
        if out is not None:
            err, recall = checks.check_curation(
                shard, *out, NEAR_RECALL_FLOOR)
            recalls.append(recall)
            if err:
                errors.append(err)
            digests.append(checks.digest_curation(*out))
        log(f"pass {i} {wall * 1000:.1f} ms")
        ops.append({"ms": wall * 1000 if out else float("inf"), "rec": rec,
                    "traced": traced, "docs": n_docs})
        if cached_mb is None:
            # fixed sampling point: the first timed pass, before release
            cached_mb = layers.cached_mb(tracer)
        if args.trace:
            cache_sample = cache_state(tracer)
        cache.release_all()
        shard = next_shard()
    result = {
        "ops": ops, "setup_s": setup_s, "failed": failed,
        "errors": errors, "digests": digests, "cached_mb": cached_mb or 0.0,
        "recalls": recalls,
    }
    if args.trace:
        host["end"] = calibration_ms(spark)
        tracer.uninstall()
        result.update(cache=cache_sample, host=host)
    return result


# -- metrics ------------------------------------------------------------------

def primary_ops(workload: str, ops: list) -> list:
    """The ops p50/p90 describe: reads, without the first read after a
    write, for the catalog workloads; passes for curation."""
    if workload == "curate_dedup":
        return ops
    return [o for o in ops
            if o["op"].kind not in NOT_PRIMARY]


def per_op(workload: str, ops: list, key: str) -> float:
    """A work count per op over the counted ops: the mean on the catalog
    workloads, whose ops are of different kinds, and the lightest pass
    on curation. Curation passes are alike, but now and then a pass runs
    one more job and writes about 575 KiB more shuffle data, sometimes
    two passes in one run, and a rerun of the same seed does not."""
    xs = [o["rec"][key] for o in ops[:COUNTED_OPS[workload]]]
    if workload == "curate_dedup":
        return min(xs)
    return sum(xs) / len(xs)


def end_to_end(workload: str, res: dict) -> dict:
    ops = res["ops"]
    return {
        "setup_s": res["setup_s"],
        "jobs_per_op": per_op(workload, ops, "jobs"),
        "tasks_per_op": per_op(workload, ops, "tasks"),
        "shuffle_kb_per_op": per_op(workload, ops, "shuffle_write_kb"),
        "cached_mb": res["cached_mb"],
    }


def per_layer(workload: str, res: dict) -> dict:
    m = {k: 0.0 for k in PER_LAYER}
    ops = res["ops"]
    prim = primary_ops(workload, ops)
    traced = [o for o in prim if o["traced"] and o["rec"]]
    untraced = [o for o in prim if not o["traced"]]

    def med(key):
        return median([o["rec"][key] for o in traced])

    for key, name in (("jobs", "spark.jobs"), ("stages", "spark.stages"),
                      ("tasks", "spark.tasks"), ("in_jobs_ms", "spark.in_jobs_ms"),
                      ("executor_run_ms", "spark.executor_run_ms"),
                      ("executor_cpu_ms", "spark.executor_cpu_ms"),
                      ("shuffle_read_kb", "spark.shuffle_read_kb"),
                      ("shuffle_write_kb", "spark.shuffle_write_kb"),
                      ("spill_kb", "spark.spill_kb"),
                      ("failed_tasks", "spark.failed_tasks"),
                      ("outside_jobs_ms", "driver.outside_jobs_ms"),
                      ("build_ms", "plan.build_ms"),
                      ("hidden_jobs", "plan.hidden_jobs"),
                      ("hidden_jobs_ms", "plan.hidden_jobs_ms")):
        m[name] = med(key)
    all_traced = [o for o in ops if o["traced"] and o["rec"]]
    m["trace.read_ms"] = median([o["rec"]["read_ms"] for o in all_traced])
    m["trace.overhead_p50_ms"] = (median([o["ms"] for o in traced])
                                  - median([o["ms"] for o in untraced]))
    lat = [o["ms"] for o in untraced]
    m["p50_ms"] = median(lat)
    m["p90_ms"] = p90(lat)
    m["ops_per_s"] = len(lat) / sum(lat) * 1000 if lat else 0.0
    attempted = len(ops)
    m["error_rate"] = res["failed"] / attempted if attempted else 0.0
    m.update(res.get("cache", {}))
    m["host.calibration_ms_start"] = res["host"]["start"]
    m["host.calibration_ms_end"] = res["host"]["end"]
    if workload == "curate_dedup":
        m["docs_per_s"] = median([o["docs"] / o["ms"] * 1000 for o in ops
                                  if o["ms"] != float("inf")])
        cands = [o["rec"]["lsh_candidate_pairs"] for o in all_traced]
        ver = [o["rec"]["verified_pairs"] for o in all_traced]
        m["dedup.lsh_candidate_pairs"] = median(cands)
        m["dedup.verified_pairs"] = median(ver)
        m["dedup.verify_yield"] = sum(ver) / sum(cands) if sum(cands) else 0.0
        m["dedup.planted_recall"] = min(res["recalls"]) if res["recalls"] else 0.0
        return m

    def kind_ms(kind):
        return median([o["call_ms"] for o in all_traced if o["op"].kind == kind
                       and o["call_ms"] != float("inf")])

    reads = [o for o in all_traced if o["op"].kind != "write"]
    m["api.query_dense_ms"] = kind_ms("dense")
    m["api.query_sparse_ms"] = kind_ms("sparse")
    m["api.query_hybrid_ms"] = kind_ms("hybrid")
    m["api.search_ms"] = kind_ms("search")
    m["api.search_fusion_ms"] = kind_ms("fusion")
    m["api.load_data_ms"] = kind_ms("write")
    m["api.collect_ms"] = median([o["collect_ms"] for o in reads])
    lookups = sum(1 for o in all_traced if o["op"].semantic)
    embeds = [d for o in all_traced
              for d in o["rec"]["calls"].per_fn.get("embed_query_postings", [])]
    m["api.embed_hit_ratio"] = 1 - len(embeds) / lookups if lookups else 0.0
    m["embedder.embed_query_calls"] = len(embeds)
    m["embedder.embed_query_ms"] = median(embeds) * 1000
    writes = [o for o in all_traced if o["op"].kind == "write"]
    loads = [sum(o["rec"]["calls"].per_fn.get("load_products", [])) * 1000
             for o in writes]
    m["sources.load_products_ms"] = median(loads)
    m["api.absorb_ms"] = median([o["call_ms"] - ld for o, ld in zip(writes, loads)])
    probes = [o for o in all_traced if o["op"].kind == "search_pn"]
    m["spark.jobs_read_after_write"] = median([o["rec"]["jobs"] for o in probes])
    all_writes = [o["ms"] for o in ops if o["op"].kind == "write"]
    all_probes = [o["ms"] for o in ops if o["op"].kind == "search_pn"]
    m["write_p50_ms"] = median(all_writes)
    m["read_after_write_p50_ms"] = median(all_probes)
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=tuple(SIZES), default="full",
                    help="input sizes; 'tiny' is for the smoke check")
    ap.add_argument("--corrupt", action="store_true",
                    help="smoke check: tamper with one timed op's result, "
                         "which the output checks must catch")
    args = ap.parse_args(argv)

    work = prepare_workdir()
    try:
        spark = start_spark(work)
        log("session started")
        try:
            workload = (curate_workload if args.workload == "curate_dedup"
                        else catalog_workload)
            res = workload(args, spark, work, SIZES[args.scale])
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = (per_layer if args.trace else end_to_end)(args.workload, res)
    units = PER_LAYER if args.trace else END_TO_END
    for e in res["errors"]:
        print(f"check failed: {e}", file=sys.stderr)
    print("ops_digest: " + " ".join(res["digests"]))
    correct = not res["errors"]
    print(json.dumps({
        "correct": correct,
        "attempted": len(res["ops"]),
        "failed": res["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
