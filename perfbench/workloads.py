"""The benchmark workloads and the per-layer measurement around them.

Load model: one driver process, a closed loop with one operation in
flight (a query execution, or a streaming micro-batch), on
``local[CPUS]``. Each workload reports:

- ``setup_s``: process start to the start of the timed phase (session,
  registry on ``queries``, fixture attach, the warm-up pass or batches),
  without input generation;
- ``op_s_p50``: the median wall time of one operation of the loop (one
  pass over the query set, or one warm micro-batch).

A traced run (``--trace 1``) alternates traced and untraced operations;
per-layer metrics come from the traced ones, and the ratio of the two
medians is ``trace_overhead_frac``. Layers a workload does not exercise
report 0.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

import checks
import gen
import sparkstats
from spans import Tracer, median, slope, tail

CPUS = 4
DRIVER_MEM = "2g"
#: Each loop runs at least this many timed operations: a median robust
#: to one slow operation, and a traced run alternates traced, untraced,
#: traced.
MIN_OPS = 3

OLAP_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "topk_window", "distinct_agg", "wordcount", "tumbling_window",
)
PY_QUERIES = ("mr_wordcount", "pandas_udf_scalar", "knn_selfjoin")
ALL_QUERIES = OLAP_QUERIES + PY_QUERIES

#: Query-workload fixture: scale factor (lineitem = 6M x sf rows),
#: documents and embeddings row counts. The embeddings count bounds the
#: knn_selfjoin oracle, a DuckDB window over all n^2 pairs (about 7 s on
#: 4 cores at 1,000 vectors, 25 s at 2,000).
QUERY_SF = 0.1
QUERY_DOCS = 5_000
QUERY_VECS = 1_000

#: LSH stream: base corpus (batch 0) and warm batch size, in documents.
LSH_BASE_DOCS = 5_000
LSH_BATCH_DOCS = 1_000
#: Set-up batches: batch 0 (the cold index build) and batch 1 (the first
#: append, which pays the append path's first-use costs).
WARM_BATCHES = 2

SPARK_KEYS = tuple(f"spark.{k}" for k in sparkstats.STAGE_KEYS) + (
    "spark.action_s", "spark.task_wait_s", "spark.core_util")
PYTHON_KEYS = tuple(f"python.{k}" for k in sparkstats.PYTHON_KEYS)
STREAM_KEYS = (
    "streaming.add_batch_s", "streaming.commit_s", "streaming.source_s",
    "streaming.planning_s", "streaming.jobs_per_batch", "streaming.batch_s_slope",
    "streaming.index_build_s", "streaming.docs_per_s",
)
DEDUP_KEYS = (
    "dedup.dup_of_corpus_frac", "dedup.dup_within_delta_frac",
    "dedup.planted_exact_recall", "dedup.planted_near_recall",
)
#: Every per-layer metric, in report order.
LAYER_KEYS = (
    ("session.get_spark_s", "registry.load_all_s", "sources.attach_s",
     "operators.plan_s", "operators.py4j_calls")
    + tuple(f"operators.{q}.wall_s" for q in ALL_QUERIES)
    + SPARK_KEYS + PYTHON_KEYS + STREAM_KEYS
    + ("sources.files_written", "sources.bytes_written", "bucketed.index_files")
    + DEDUP_KEYS + ("process.peak_rss_mb", "trace_overhead_frac")
)


class Run:
    """One benchmark run: arguments, clocks, results and the trace."""

    def __init__(self, args, run_dir: str, fixtures: str, t_start: float):
        self.args = args
        self.run_dir = run_dir
        self.fixtures = fixtures
        self.t_start = t_start
        self.gen_s = 0.0
        self.tracer = Tracer(bool(args.trace))
        self.layer: dict[str, float] = dict.fromkeys(LAYER_KEYS, 0.0)
        self.e2e: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.info: dict = {}

    def timed_gen(self, fn, *a):
        t = time.perf_counter()
        try:
            return fn(*a)
        finally:
            self.gen_s += time.perf_counter() - t

    def setup_done(self) -> None:
        self.e2e["setup_s"] = time.perf_counter() - self.t_start - self.gen_s


class Py4JCounter:
    """Counts py4j commands the driver sends to the JVM, not counting the
    reference releases py4j sends when Python drops a Java object."""

    def __init__(self, spark):
        client = spark.sparkContext._gateway._gateway_client
        self.n = 0
        send = client.send_command

        def counting(command, *a, **k):
            if not command.startswith("m\nd\n"):
                self.n += 1
            return send(command, *a, **k)

        client.send_command = counting


def open_session(run: Run):
    """The session, through its public entry point."""
    t = time.perf_counter()
    with run.tracer.span("session.get_spark"):
        from mr_py_spark.session import get_spark

        spark = get_spark("perfbench", cpus=CPUS)
    run.layer["session.get_spark_s"] = time.perf_counter() - t
    return spark


def load_registry(run: Run) -> dict:
    """The query registry, through its public entry point."""
    t = time.perf_counter()
    with run.tracer.span("registry.load_all"):
        from mr_py_spark import registry

        # load_all re-stamps the fingerprint sidecar when the environment
        # changes a fingerprinted constant; keep the checkout's copy intact
        fp = os.path.join(run.run_dir, "fingerprints.json")
        shutil.copyfile(os.path.join(registry._ROOT, ".fingerprints.json"), fp)
        registry._FP_PATH = fp
        reg = registry.load_all()
    run.layer["registry.load_all_s"] = time.perf_counter() - t
    return reg


def _more(done: int, elapsed: float, seconds: float) -> bool:
    """Start another operation while fewer than MIN_OPS are done, or while
    one more of average length still ends within ``seconds``."""
    return done < MIN_OPS or elapsed + elapsed / done <= seconds


# --------------------------------------------------------------------------
# query workload: closed loop over passes of the registered queries


def query_fixture(run: Run) -> str:
    seed = run.args.seed

    def build(d: str) -> None:
        tables = gen.olap_tables(seed, QUERY_SF)
        tables.update(gen.kernel_tables(seed, QUERY_DOCS, QUERY_VECS))
        for name, t in tables.items():
            gen.write_table(t, os.path.join(d, f"{name}.parquet"))

    key = {"w": "queries", "seed": seed, "sf": QUERY_SF, "docs": QUERY_DOCS,
           "vecs": QUERY_VECS, "v": 1}
    run.info["generator"] = key
    return run.timed_gen(gen.ensure_fixture, run.fixtures, key, build)


def run_queries(run: Run) -> None:
    fx = query_fixture(run)
    spark = open_session(run)
    reg = load_registry(run)
    tr = run.tracer
    t = time.perf_counter()
    with tr.span("sources.attach"):
        from mr_py_spark import sources

        sources.load(spark, fx)
    run.layer["sources.attach_s"] = time.perf_counter() - t

    rng = random.Random(run.args.seed)
    results, bad = {}, {}
    with tr.span("warmup"):
        for name in rng.sample(ALL_QUERIES, len(ALL_QUERIES)):
            try:
                df = reg[name].fn(spark, fx)
                results[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as e:  # reported as a failed query, run continues
                bad[name] = f"{type(e).__name__}: {e}"
    run.setup_done()

    stats = sparkstats.SparkStats(spark) if run.args.trace else None
    counter = Py4JCounter(spark) if run.args.trace else None
    sc = spark.sparkContext
    passes: list[dict] = []
    t_loop = time.perf_counter()
    while _more(len(passes), time.perf_counter() - t_loop, run.args.seconds):
        p = len(passes)
        traced = bool(run.args.trace) and p % 2 == 0
        ops = []
        t_pass = time.perf_counter()
        with tr.span("pass", index=p, traced=traced):
            for name in rng.sample(ALL_QUERIES, len(ALL_QUERIES)):
                ops.append(_query_op(run, spark, reg, fx, name, p, traced, stats, counter))
        passes.append({"wall": time.perf_counter() - t_pass, "traced": traced, "ops": ops})
        for op in ops:
            run.attempted += 1
            if op.get("error"):
                bad.setdefault(op["name"], op["error"])
    if run.args.trace:
        sc.setLocalProperty("spark.jobGroup.id", None)

    with tr.span("checks"):
        bad.update(_check_queries(run, fx, results, reg))
    for p in passes:
        run.failed += sum(op["name"] in bad for op in p["ops"])
    run.failures += [f"{k}: {v}" for k, v in sorted(bad.items())]

    walls = [p["wall"] for p in passes]
    run.e2e["op_s_p50"] = median(walls)
    run.info["op_walls_s"] = walls
    run.info["query_walls_s"] = {
        q: [o["wall"] for p in passes for o in p["ops"] if o["name"] == q] for q in ALL_QUERIES}
    if run.args.trace:
        _query_layers(run, passes)
    run.layer["process.peak_rss_mb"] = sparkstats.peak_rss_mb(spark)
    spark.stop()


def _query_op(run, spark, reg, fx, name, p, traced, stats, counter) -> dict:
    op = {"name": name}
    tr = run.tracer
    sc = spark.sparkContext
    if traced:
        group = f"perfbench-p{p}-{name}"
        sc.setJobGroup(group, name, False)
        e0 = stats.sql_execution_count()
        n0 = counter.n
    t0 = time.perf_counter()
    try:
        with tr.span(f"operators.{name}") as sp:
            with tr.span("operators.plan"):
                df = reg[name].fn(spark, fx)
            t1 = time.perf_counter()
            with tr.span("spark.action"):
                df.write.format("noop").mode("overwrite").save()
    except Exception as e:  # counted as a failed operation
        op["error"] = f"{type(e).__name__}: {e}"
        t1 = time.perf_counter()
    t2 = time.perf_counter()
    op.update(wall=t2 - t0, plan_s=t1 - t0, action_s=t2 - t1)
    if traced:
        op["py4j_calls"] = counter.n - n0
        stats.drain()
        op["spark"] = stats.stage_totals(stats.job_ids(group))
        op["python"] = stats.python_totals(e0, stats.sql_execution_count())
        if sp is not None:
            sp.update({f"spark.{k}": v for k, v in op["spark"].items()})
    return op


def _query_layers(run: Run, passes: list[dict]) -> None:
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    per_pass = []
    for p in traced:
        ops = p["ops"]
        agg = {
            "operators.plan_s": sum(o["plan_s"] for o in ops),
            "operators.py4j_calls": sum(o["py4j_calls"] for o in ops),
            "spark.action_s": sum(o["action_s"] for o in ops),
        }
        for k in sparkstats.STAGE_KEYS:
            vals = [o["spark"][k] for o in ops]
            agg[f"spark.{k}"] = max(vals) if k == "peak_exec_mem_bytes" else sum(vals)
        for k in sparkstats.PYTHON_KEYS:
            agg[f"python.{k}"] = sum(o["python"][k] for o in ops)
        _derived(agg)
        per_pass.append(agg)
    for k in per_pass[0]:
        run.layer[k] = median([a[k] for a in per_pass])
    for q in {o["name"] for p in traced for o in p["ops"]}:
        run.layer[f"operators.{q}.wall_s"] = median(
            [o["wall"] for p in traced for o in p["ops"] if o["name"] == q])
    if untraced:
        run.layer["trace_overhead_frac"] = (
            median([p["wall"] for p in traced]) / median([p["wall"] for p in untraced]) - 1.0)


def _derived(agg: dict) -> None:
    agg["spark.task_wait_s"] = agg["spark.task_s"] - agg["spark.cpu_s"]
    act = agg["spark.action_s"]
    agg["spark.core_util"] = agg["spark.task_s"] / (act * CPUS) if act > 0 else 0.0


def _check_queries(run: Run, fx: str, results: dict, reg) -> dict[str, str]:
    from mr_py_spark.sources import TABLES

    bad = {}
    con = checks.duckdb_views(fx, TABLES, os.path.join(run.run_dir, "duckdb"))
    try:
        for name, (cols, rows) in results.items():
            if reg[name].oracle is not None:
                why = checks.oracle_mismatch(con, reg[name].oracle, cols, rows)
            else:
                why = "no output check for this query"
            if why:
                bad[name] = why
    finally:
        con.close()
    return bad


# --------------------------------------------------------------------------
# lsh_stream: the standing LSH index maintenance loop under foreachBatch


def run_lsh_stream(run: Run) -> None:
    seconds = run.args.seconds
    n_batches = MIN_OPS + int(seconds / 2.0) + 1
    stage = os.path.join(run.run_dir, "stage")
    src = os.path.join(run.run_dir, "src")
    os.makedirs(stage)
    os.makedirs(src)

    def build():
        base, batches, plan = gen.lsh_stream(run.args.seed, LSH_BASE_DOCS, n_batches, LSH_BATCH_DOCS)
        files = []
        for i, t in enumerate([base] + batches):
            path = os.path.join(stage, f"batch-{i:05d}.parquet")
            gen.write_table(t, path)
            files.append((path, set(t.column("doc_id").to_pylist())))
        return files, plan

    files, plan = run.timed_gen(build)
    run.info["generator"] = {"w": "lsh_stream", "seed": run.args.seed, "base": LSH_BASE_DOCS,
                             "batch": LSH_BATCH_DOCS, "files": len(files)}

    # the stream drives the step body directly and never looks a query up,
    # so it does not load the registry
    spark = open_session(run)
    from mr_py_spark import streaming

    tr = run.tracer
    table = "perfbench_lsh_idx"
    tables = os.path.join(run.run_dir, "tables")
    out = os.path.join(tables, "out")
    idx = os.path.join(tables, "index")
    spark.sql(f"DROP TABLE IF EXISTS {table}")

    def release(i: int) -> None:
        os.rename(files[i][0], os.path.join(src, os.path.basename(files[i][0])))

    release(0)
    t = time.perf_counter()
    with tr.span("sources.attach"):
        schema = spark.read.parquet(src).schema
        stream = (spark.readStream.schema(schema).format("parquet")
                  .option("maxFilesPerTrigger", 1).load(src))
    run.layer["sources.attach_s"] = time.perf_counter() - t

    step = streaming._lsh_maintenance_step(spark, table, out, idx)
    counter = Py4JCounter(spark) if run.args.trace else None
    log: list[dict] = []
    done = threading.Event()
    t_loop = 0.0

    def on_batch(df, batch_id: int) -> None:
        nonlocal t_loop
        traced = bool(run.args.trace) and batch_id >= WARM_BATCHES and batch_id % 2 == 0
        rec = {"batch": batch_id, "traced": traced}
        if traced:
            n0 = counter.n
            files0, bytes0 = _tree_size(tables)
        a = time.perf_counter()
        step(df, batch_id)
        rec["step_s"] = time.perf_counter() - a
        if traced:
            rec["py4j_calls"] = counter.n - n0
            files1, bytes1 = _tree_size(tables)
            rec["files"], rec["bytes"] = files1 - files0, bytes1 - bytes0
        log.append(rec)
        if batch_id == WARM_BATCHES - 1:
            run.setup_done()
            t_loop = time.perf_counter()
        more = batch_id < WARM_BATCHES - 1 or _more(
            batch_id - WARM_BATCHES + 1, time.perf_counter() - t_loop, seconds)
        if more and batch_id + 1 < len(files):
            release(batch_id + 1)
        else:
            done.set()

    listener = _ProgressLog()
    spark.streams.addListener(listener)
    q = (stream.writeStream.foreachBatch(on_batch)
         .option("checkpointLocation", os.path.join(run.run_dir, "ckpt")).start())
    try:
        while not done.wait(0.5):
            if not q.isActive:
                raise RuntimeError(f"stream stopped: {q.exception()}")
        q.processAllAvailable()
        missing = listener.wait_for([r["batch"] for r in log])
    finally:
        q.stop()
        spark.streams.removeListener(listener)

    # a batch's wall time is its triggerExecution; a batch without a
    # progress event has none, and counts as failed
    if any(b < WARM_BATCHES for b in missing):
        raise RuntimeError(f"no progress event for set-up batches {sorted(missing)}")
    run.failures += [f"batch {b}: no progress event" for b in sorted(missing)]
    timed_recs = [r for r in log if r["batch"] >= WARM_BATCHES]
    run.attempted = len(timed_recs)
    measured = [r for r in log if r["batch"] not in missing]
    for rec in measured:
        p = listener.by_batch[rec["batch"]]
        rec["wall"] = p["triggerExecution"] / 1e3
        rec["durations"] = p
        rec["start_ms"] = p["start_ms"]
        if rec["traced"] or rec["batch"] < WARM_BATCHES:
            _batch_spans(tr, rec)
    walls = [r["wall"] for r in measured if r["batch"] >= WARM_BATCHES]
    if not walls:
        raise RuntimeError("no warm batch has a progress event")
    run.e2e["op_s_p50"] = median(walls)
    run.info["op_walls_s"] = walls
    run.info["index_build_s"] = measured[0]["wall"]
    t = tail(walls)
    run.info["op_s_tail"] = None if t is None else {"percentile": t[0], "value": t[1], "samples": t[2]}

    with tr.span("checks"):
        rows = [tuple(r) for r in spark.read.parquet(out)
                .selectExpr("doc_id", "status", "match_id", "CAST(batch_id AS BIGINT)").collect()]
        index_ids = {r[0] for r in spark.table(table).select("doc_id").distinct().collect()}
        batch_ids = {r["batch"]: files[r["batch"]][1] for r in log}
        bad, index_err = checks.lsh_mismatches(rows, index_ids, batch_ids, plan)
    failed = {b for b in bad if b >= WARM_BATCHES} | missing
    if index_err:
        failed = {r["batch"] for r in timed_recs}
        run.failures.append(f"index: {index_err}")
    run.failures += [f"batch {b}: {why}" for b, why in sorted(bad.items())]
    run.failed = len(failed)

    if run.args.trace:
        _stream_layers(run, spark, q, measured, rows, plan, idx)
    run.layer["process.peak_rss_mb"] = sparkstats.peak_rss_mb(spark)
    spark.stop()


class _ProgressLog(StreamingQueryListener):
    """Collects each micro-batch's progress (phase durations, start time)."""

    def __init__(self):
        self.by_batch: dict[int, dict] = {}
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = {k: float(v) for k, v in p.durationMs.items()}
        ts = dt.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
        d["start_ms"] = ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1e3
        with self._cv:
            self.by_batch[p.batchId] = d
            self._cv.notify_all()

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def wait_for(self, batch_ids: list[int], timeout: float = 10.0) -> set[int]:
        """Wait up to ``timeout`` seconds for the progress of every batch in
        ``batch_ids``; return those whose progress never came."""
        with self._cv:
            self._cv.wait_for(lambda: set(batch_ids) <= set(self.by_batch), timeout)
            return set(batch_ids) - set(self.by_batch)


def _batch_spans(tr: Tracer, rec: dict) -> None:
    """A batch span with Spark's progress phases as children."""
    if not tr.enabled:
        return
    offset = time.time() - tr.now()  # tracer clock = wall clock - offset
    start = rec["start_ms"] / 1e3 - offset
    tr.add(f"streaming.batch.{rec['batch']}", start, start + rec["wall"], None)
    parent = len(tr.spans) - 1
    cur = start
    for phase in ("latestOffset", "getBatch", "walCommit", "queryPlanning",
                  "addBatch", "commitOffsets"):
        ms = rec["durations"].get(phase)
        if ms:
            tr.add(f"streaming.{phase}", cur, cur + ms / 1e3, parent)
            cur += ms / 1e3


def _tree_size(root: str) -> tuple[int, int]:
    """Files and bytes under ``root``."""
    n = b = 0
    for dp, _, fs in os.walk(root):
        for f in fs:
            n += 1
            b += os.path.getsize(os.path.join(dp, f))
    return n, b


def _stream_layers(run: Run, spark, q, log, rows, plan, idx) -> None:
    stats = sparkstats.SparkStats(spark)
    stats.drain()
    jobs = [(stats.job_submitted_ms(j), j) for j in stats.job_ids(str(q.runId))]
    warm = [r for r in log if r["batch"] >= WARM_BATCHES]
    traced = [r for r in warm if r["traced"]]
    untraced = [r for r in warm if not r["traced"]]
    per_batch = []
    for r in traced:
        lo, hi = r["start_ms"], r["start_ms"] + r["wall"] * 1e3
        ids = [j for t, j in jobs if t is not None and lo <= t <= hi]
        agg = {f"spark.{k}": v for k, v in stats.stage_totals(ids).items()}
        d = r["durations"]
        agg.update({
            "spark.action_s": r["step_s"],
            "operators.py4j_calls": r["py4j_calls"],
            "streaming.add_batch_s": d.get("addBatch", 0.0) / 1e3,
            "streaming.commit_s": (d.get("walCommit", 0.0) + d.get("commitOffsets", 0.0)) / 1e3,
            "streaming.source_s": (d.get("latestOffset", 0.0) + d.get("getBatch", 0.0)) / 1e3,
            "streaming.planning_s": d.get("queryPlanning", 0.0) / 1e3,
            "streaming.jobs_per_batch": float(len(ids)),
        })
        _derived(agg)
        per_batch.append(agg)
    for k in per_batch[0] if per_batch else ():
        run.layer[k] = median([a[k] for a in per_batch])
    run.layer["sources.files_written"] = median([r["files"] for r in traced])
    run.layer["sources.bytes_written"] = median([r["bytes"] for r in traced])
    run.layer["bucketed.index_files"] = float(sum(
        1 for dp, _, fs in os.walk(idx) for f in fs if f.endswith(".parquet")))
    walls = [r["wall"] for r in warm]
    run.layer["streaming.batch_s_slope"] = slope(walls)
    run.layer["streaming.index_build_s"] = log[0]["wall"]
    run.layer["streaming.docs_per_s"] = LSH_BATCH_DOCS * len(warm) / sum(walls)
    for k, v in checks.lsh_outcomes(rows, plan, {r["batch"] for r in warm}).items():
        run.layer[f"dedup.{k}"] = v
    if untraced and traced:
        run.layer["trace_overhead_frac"] = (
            median([r["wall"] for r in traced]) / median([r["wall"] for r in untraced]) - 1.0)


WORKLOADS = {
    "queries": run_queries,
    "lsh_stream": run_lsh_stream,
}
