"""The benchmark's workloads. Each is a closed loop with one client.

``serve``         repeated Zipf-skewed ``search_local`` point queries over
                  a single-segment index.
``ingest_serve``  batches appended with ``append_segment`` (the last one
                  followed by ``delete_docs``), the index reopened after
                  each, and fresh, never-repeated ``search_local`` queries.

Both build their base index in set-up with ``build_index`` from a Parquet
table. ``serve`` also computes its reference answers with one
``search_many`` batch (the distributed query path), so every layer on the
ingest and serve paths is traced by at least one workload. See README.md
for why these two.
"""

from __future__ import annotations

import gc
import os
import statistics
import sys
import time
from contextlib import contextmanager, nullcontext

import inputs
import tracing

from kafka_elasticsearch_standalone_consumer_spark.corpus import TRANSCRIPTS_SCHEMA
from kafka_elasticsearch_standalone_consumer_spark.index import codec
from kafka_elasticsearch_standalone_consumer_spark.pipeline import builder, checkpoint, incremental
from kafka_elasticsearch_standalone_consumer_spark.query import engine, kernels
from kafka_elasticsearch_standalone_consumer_spark.tables import Warehouse

K = 10
BASE_CONVS = 1600  # ~17k turns in the base index
POOL = 500  # distinct queries in the serve pool
ORACLE_SAMPLE = (0, POOL // 2)  # pool entries also checked against search_oracle
BATCH_CONVS = 190  # ~2k turns per ingest batch
N_BATCHES = 2  # ingest batches per run; each is followed by seconds / N_BATCHES of queries
DOOMED_BASE_CONVS = 2  # base conversations the delete removes (plus one from the prior batch)
OVERHEAD_QUERIES = 60  # queries replayed with and without tracing


class Run:
    """One invocation: session, scratch, checks, and (traced) counters."""

    def __init__(self, spark, scratch: str, seed: int, seconds: int, trace: bool, t_start: float, sampler):
        self.spark, self.scratch, self.seed, self.seconds = spark, scratch, seed, seconds
        self.t_start, self.sampler = t_start, sampler
        self.cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        self.tracer = tracing.Tracer() if trace else None
        self.counters = tracing.SparkCounters(spark.sparkContext) if trace else None
        self.phases: dict[str, list[dict]] = {}
        self.attempted = 0
        self.failed = 0
        self.queries = 0  # timed queries so far: their trace request ids
        self.asked: list[str] = []  # the timed queries, in order
        self.wall: list[float] = []  # their wall times, s
        self.cpu: list[float] = []  # their driver CPU times, s
        self.visible: list[tuple[float, float]] = []  # (wall, tree CPU) s of each refresh

    def path(self, name: str) -> str:
        return os.path.join(self.scratch, name)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    def request(self, label) -> None:
        if self.tracer is not None:
            self.tracer.request = label

    @contextmanager
    def phase(self, name: str):
        """Traced runs: Spark jobs/stages/tasks and process-tree CPU of
        the block, appended to ``phases[name]``."""
        if self.tracer is None:
            yield
            return
        cpu0, t0 = tracing.tree_cpu_s(os.getpid()), time.perf_counter()
        with self.counters.group() as spark_counts:
            yield
        wall = time.perf_counter() - t0
        cpu = tracing.tree_cpu_s(os.getpid()) - cpu0
        self.phases.setdefault(name, []).append(dict(spark_counts, wall_s=wall, cpu_s=cpu))

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    @contextmanager
    def refresh(self):
        """Time a write-to-searchable interval: wall time, and the CPU time
        of the whole process tree (driver, JVM, Python workers)."""
        c0, t0 = tracing.tree_cpu_s(os.getpid()), time.perf_counter()
        yield
        self.visible.append((time.perf_counter() - t0, tracing.tree_cpu_s(os.getpid()) - c0))

    def visible_cpu_p50_s(self) -> float:
        return statistics.median(c for _, c in self.visible)


def install_tracing(tr: tracing.Tracer) -> None:
    """Wrap the entry point of every traced layer (see README.md)."""

    def postings_counts(sp, pdf, _args, _kwargs):
        if pdf is None:
            return
        sp.counts["rows"] = len(pdf)
        sp.counts["bytes"] = int(sum(pdf[c].map(len).sum() for c in ("docs", "tfs", "dls")))
        sp.counts["blocks"] = int(pdf["block_max_doc"].map(len).sum())

    tr.wrap(builder, "build_index")
    tr.wrap(incremental, "append_segment")
    tr.wrap(incremental, "delete_docs")
    tr.wrap(checkpoint.StepRunner, "step", name=lambda _self, step_id, *a, **k: f"step.{step_id}")
    tr.wrap(builder, "build_postings", "index_build.sort")
    tr.wrap(incremental, "build_postings", "index_build.sort")
    tr.wrap(Warehouse, "write", name=lambda _self, _df, table, *a, **k: f"tables.write.{table}")
    tr.wrap(engine.Index, "__init__", "engine.open")
    tr.wrap(engine.Index, "search_local")
    tr.wrap(engine.Index, "search_many", "engine.batch_plan")
    tr.wrap(engine.Index, "_plan_terms", "engine.plan")
    tr.wrap(engine.Index, "_local_blocked", "engine.tombstones")
    tr.wrap(engine.Index, "_local_postings", "engine.postings_read", after=postings_counts)
    tr.wrap(kernels, "shard_topk_bmw", "kernels.bmw")
    # decode_doc_blocks decodes through decode_value_blocks, so timing the
    # latter covers all three streams once; the former only counts blocks
    tr.count(codec, "decode_doc_blocks", "decode_docs", per_call=lambda a: len(a[2]), timed=False)
    tr.count(codec, "decode_value_blocks", "decode_values")


# -- shared steps --------------------------------------------------------------


def read_input(run: Run, path: str):
    return run.spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(path)


def build(run: Run, src: str, wh: str):
    """``build_index`` over the Parquet table at ``src``; returns the runner."""
    return builder.build_index(run.spark, read_input(run, src), wh)


def same_answer(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    return [d for d, _ in got] == [d for d, _ in want] and all(
        abs(a - b) <= 1e-9 * max(1.0, abs(b)) for (_, a), (_, b) in zip(got, want)
    )


def batch_answers(run: Run, idx, queries: list[str]) -> list[list[tuple[int, float]]]:
    """Top-k of every query through ``search_many`` (one Spark job)."""
    with run.phase("batch"):
        df = idx.search_many(queries, k=K)
        with run.span("engine.batch_exec"):
            rows = df.collect()
    out: list[list] = [[] for _ in queries]
    for r in sorted(rows, key=lambda r: r["rank"]):
        out[int(r["qid"])].append((int(r["doc_id"]), float(r["score"])))
    return out


def ranked(got: list[tuple[int, float]]) -> bool:
    return len(got) <= K and all(got[i][1] >= got[i + 1][1] for i in range(len(got) - 1))


def warehouse_bytes(root: str) -> dict[str, int]:
    """Data bytes per top-level table (checksum and marker files excluded);
    ``sys_*`` tables are summed as ``sys``."""
    out: dict[str, int] = {}
    for name in os.listdir(root):
        total = 0
        for d, _dirs, files in os.walk(os.path.join(root, name)):
            total += sum(
                os.path.getsize(os.path.join(d, f))
                for f in files
                if not f.startswith((".", "_"))
            )
        key = "sys" if name.startswith("sys_") else name
        out[key] = out.get(key, 0) + total
    return out


def p50_p90_ms(xs: list[float]) -> tuple[float, float]:
    return statistics.median(xs) * 1e3, statistics.quantiles(xs, n=10, method="inclusive")[8] * 1e3


def timed_queries(run: Run, idx, queries, check) -> None:
    """Closed loop over ``queries``; ``check(i, result)`` runs after the
    clocks stop. Each query's wall time
    goes to ``run.wall`` and the CPU time of the driver process (all its
    threads) to ``run.cpu``."""
    gc.collect()  # set-up's garbage is not the loop's to collect
    with run.sampler.paused():
        for i, q in queries:
            run.queries += 1
            run.asked.append(q)
            run.request(f"q{run.queries}")
            c0, t0 = time.process_time(), time.perf_counter()
            got = idx.search_local(q, k=K)
            run.wall.append(time.perf_counter() - t0)
            run.cpu.append(time.process_time() - c0)
            run.request(None)
            check(i, got)


def query_metrics(run: Run) -> dict[str, float]:
    p50, p90 = p50_p90_ms(run.cpu)
    return {"query_cpu_p50_ms": p50, "query_cpu_p90_ms": p90}


def trace_overhead(run: Run, idx, queries: list[str]) -> dict[str, float]:
    """Median CPU time of the same queries with and without the wrappers,
    interleaved to cancel drift."""
    on: list[float] = []
    off: list[float] = []
    with run.sampler.paused():
        for _ in range(3):
            for traced in (False, True):
                if traced:
                    install_tracing(run.tracer)
                else:
                    run.tracer.uninstall()
                for q in queries:
                    c0 = time.process_time()
                    idx.search_local(q, k=K)
                    (on if traced else off).append(time.process_time() - c0)
    return {"trace.overhead_ms_per_query": (statistics.median(on) - statistics.median(off)) * 1e3}


# -- workloads -------------------------------------------------------------------


def serve(run: Run) -> tuple[dict, dict]:
    seed = run.seed
    src, wh = run.path("corpus"), run.path("index")
    base = inputs.conversations(seed, 0, BASE_CONVS)
    inputs.write_parquet(base, src)
    pool = inputs.query_pool(seed, POOL)
    run.request("setup")
    # the first build of a fresh session: it includes JIT and Python-worker
    # start-up, which a freshly started engine pays before it can answer
    with run.refresh():
        with run.phase("build"):
            runner = build(run, src, wh)
        idx = engine.Index(run.spark, wh)
        first = idx.search_local(pool[0], k=K)
    ref = batch_answers(run, idx, pool)  # reference answers, distributed path
    run.check(same_answer(first, ref[0]), "first query vs search_many")
    for i in ORACLE_SAMPLE:
        got = [(int(r["doc_id"]), float(r["score"])) for r in idx.search_oracle(pool[i], k=K).collect()]
        got.sort(key=lambda x: (-x[1], x[0]))
        run.check(same_answer(got, ref[i]), f"search_many vs search_oracle: {pool[i]!r}")
    run.request(None)
    setup_s = time.perf_counter() - run.t_start

    stream = inputs.query_stream(seed, POOL, 1_000_000)
    deadline = time.perf_counter() + run.seconds

    def until_deadline():
        for n, qi in enumerate(stream):
            if n and time.perf_counter() >= deadline:
                return
            yield int(qi), pool[qi]

    def check(i, got):
        run.check(same_answer(got, ref[i]), f"search_local vs reference: {pool[i]!r}")

    with run.phase("query"):
        timed_queries(run, idx, until_deadline(), check)

    e2e = dict(
        query_metrics(run),
        visible_cpu_p50_s=run.visible_cpu_p50_s(),
        index_bytes_per_text_byte=sum(warehouse_bytes(wh).values()) / inputs.text_bytes(base),
        setup_s=setup_s,
    )
    layers = {}
    if run.tracer is not None:
        layers = trace_overhead(run, idx, [pool[i] for i in stream[:OVERHEAD_QUERIES]])
        layers.update(layer_metrics(run, wh, runner, segments=[1]))
    return e2e, layers


def ingest_serve(run: Run) -> tuple[dict, dict]:
    seed = run.seed
    src, wh = run.path("corpus"), run.path("index")
    delete_k = N_BATCHES - 1  # the batch followed by delete_docs

    # inputs: base corpus with the delete targets marked, then batches,
    # each with one marker turn; the one before the delete also has one
    # marked conv, so the delete spans the base and an appended segment
    base = inputs.conversations(seed, 0, BASE_CONVS)
    doomed = inputs.pick_convs(base, seed, 10, DOOMED_BASE_CONVS)
    base = inputs.mark_convs(base, doomed, "zzdoomed")
    doomed_turns = int(base["conv_id"].isin(doomed).sum())
    inputs.write_parquet(base, src)
    n_turns, n_text = len(base), inputs.text_bytes(base)
    batches = []
    for k in range(N_BATCHES):
        b = inputs.conversations(seed, BASE_CONVS + k * BATCH_CONVS, BATCH_CONVS)
        b = inputs.mark_turn(b, seed, 100 + k, f"zzbatch{k}")
        if k == delete_k - 1:
            conv = inputs.pick_convs(b, seed, 200 + k, 1)
            b = inputs.mark_convs(b, conv, "zzdoomed")
            doomed += conv
            doomed_turns += int(b["conv_id"].isin(conv).sum())
        inputs.write_parquet(b, run.path(f"batch{k}"))
        batches.append((len(b), inputs.text_bytes(b)))
    fresh = iter(inputs.fresh_queries(seed, 5000, avoid=set(inputs.query_pool(seed, POOL))))

    run.request("setup")
    with run.phase("build"):
        runner = build(run, src, wh)
    idx = engine.Index(run.spark, wh)
    for q in inputs.query_pool(seed, 5):  # warm the serving path
        idx.search_local(q, k=K)
    run.request(None)
    setup_s = time.perf_counter() - run.t_start

    segments: list[int] = []
    tombstoned: set[int] = set()
    n_docs = n_turns
    for k in range(N_BATCHES):
        run.request(f"batch{k}")
        targets = set()
        if k == delete_k:  # find the delete targets while they are live
            targets = {d for d, _ in idx.search_local("zzdoomed", k=10 * doomed_turns)}
            run.check(len(targets) == doomed_turns, "delete targets all indexed")
        df = read_input(run, run.path(f"batch{k}"))
        with run.refresh():
            with run.phase("append"):
                incremental.append_segment(run.spark, df, wh, idempotency_key=f"batch-{k}")
            if targets:
                with run.phase("delete"):
                    in_list = ", ".join(f"'{c}'" for c in doomed)
                    n_del = incremental.delete_docs(run.spark, wh, f"conv_id IN ({in_list})")
                tombstoned |= targets
            idx = engine.Index(run.spark, wh)
            got = idx.search_local(f"zzbatch{k}", k=K)
        run.check(len(got) == 1 and got[0][0] >= n_docs, f"marker of batch {k} visible in its segment")
        n_docs += batches[k][0]
        if targets:
            run.check(n_del == len(targets), f"delete tombstoned {n_del} of {len(targets)}")
            run.check(idx.search_local("zzdoomed", k=K) == [], "deleted docs gone")
        segments.append(idx.stats()["n_segments"])
        run.request(None)

        def check(_i, got):
            run.check(ranked(got) and not tombstoned.intersection(d for d, _ in got), "fresh query result")

        deadline = time.perf_counter() + run.seconds / N_BATCHES
        asked = []

        def until_deadline():
            for q in fresh:
                if asked and time.perf_counter() >= deadline:
                    return
                asked.append(q)
                yield len(asked) - 1, q

        with run.phase("query"):
            timed_queries(run, idx, until_deadline(), check)

    # end state: corpus stats count every appended turn (deletes leave them
    # frozen until compaction), and every marker is still there
    run.check(int(idx.meta["n_docs"]) == n_docs, f"n_docs {idx.meta['n_docs']} == {n_docs}")
    for k in range(N_BATCHES):
        run.check(len(idx.search_local(f"zzbatch{k}", k=K)) == 1, f"marker of batch {k} still visible")

    text = n_text + sum(t for _, t in batches)
    e2e = dict(
        query_metrics(run),
        visible_cpu_p50_s=run.visible_cpu_p50_s(),
        index_bytes_per_text_byte=sum(warehouse_bytes(wh).values()) / text,
        setup_s=setup_s,
    )
    layers = {}
    if run.tracer is not None:
        layers = trace_overhead(run, idx, asked[:OVERHEAD_QUERIES])
        layers.update(layer_metrics(run, wh, runner, segments))
    return e2e, layers


WORKLOADS = {"serve": serve, "ingest_serve": ingest_serve}


# -- per-layer metrics from the trace ------------------------------------------

BUILD_STEPS = ("docs", "tokens", "doc_stats", "term_stats", "meta", "doc_map", "postings")
SEGMENT_STEPS = ("docs", "tokens", "doc_stats", "term_stats", "seg_meta", "postings")
TABLES = ("docs", "tokens", "doc_stats", "term_stats", "doc_map", "postings", "sys", "segments")


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _spark(name: str, phases: list[dict], keys=("jobs", "stages", "tasks", "failed_tasks")) -> dict[str, float]:
    """Mean Spark counters per phase, as ``name.format(key)``."""
    return {name.format(key): _mean(p[key] for p in phases) for key in keys}


def _busy(phases: list[dict], cpus: int) -> float:
    wall = sum(p["wall_s"] for p in phases)
    return sum(p["cpu_s"] for p in phases) / (wall * cpus) if wall else 0.0


def layer_metrics(run: Run, wh: str, runner, segments: list[int]) -> dict[str, float]:
    tr = run.tracer
    kids = tr.children()
    spans = tr.spans
    roots = [i for i, s in enumerate(spans) if s.parent is None]

    def below(i, name):
        return [j for j in tr.under(i, kids) if spans[j].name == name]

    out: dict[str, float] = {}

    # build: the last build_index (the measured one), step spans cross-checked
    # against the program's own sys_checkpoint wall_ms for that run
    b = [i for i in roots if spans[i].name == "build_index"][-1]
    steps = {s: sum(spans[j].dur for j in below(b, f"step.{s}")) for s in BUILD_STEPS}
    for s in BUILD_STEPS:
        out[f"build.step.{s}_s"] = steps[s]
    ckpt = [
        r for r in Warehouse(wh).read_rows(checkpoint.CHECKPOINT_TABLE)
        if r["run_id"] == runner.log.run_id and r["step_id"] in BUILD_STEPS
    ]
    out["build.step_vs_checkpoint"] = sum(steps.values()) / (sum(r["wall_ms"] for r in ckpt) / 1e3)
    out["index_build.sort_s"] = sum(spans[j].dur for j in below(b, "index_build.sort"))
    out["index_build.pack_write_s"] = sum(spans[j].dur for j in below(b, "tables.write.postings"))
    out.update(_spark("build.spark_{}", run.phases["build"]))
    out["build.cpu_busy_frac"] = _busy(run.phases["build"], run.cpus)

    # storage
    sizes = warehouse_bytes(wh)
    for t in TABLES:
        out[f"tables.bytes.{t}"] = sizes.get(t, 0)
    out["codec.postings_bytes_per_posting"] = sizes["postings"] / Warehouse(wh).count_rows("tokens")

    # serving path, per timed query
    qs = [i for i in roots if spans[i].name == "search_local" and str(spans[i].request).startswith("q")]
    n = len(qs)

    def per_query(name, f=lambda j: spans[j].dur):
        return sum(f(j) for i in qs for j in below(i, name)) / n

    out["engine.plan_ms"] = per_query("engine.plan") * 1e3
    out["engine.tombstones_ms"] = per_query("engine.tombstones") * 1e3
    out["engine.postings_read_ms"] = per_query("engine.postings_read") * 1e3
    out["engine.postings_rows"] = per_query("engine.postings_read", lambda j: spans[j].counts.get("rows", 0))
    out["engine.postings_bytes"] = per_query("engine.postings_read", lambda j: spans[j].counts.get("bytes", 0))
    out["engine.local_self_ms"] = sum(tr.self_time(i, kids) for i in qs) / n * 1e3
    out["kernels.bmw_ms"] = per_query("kernels.bmw") * 1e3
    out["kernels.shards"] = per_query("kernels.bmw", lambda j: 1)
    out["codec.decode_ms"] = per_query("kernels.bmw", lambda j: spans[j].counts.get("decode_values_s", 0)) * 1e3
    decoded = per_query("kernels.bmw", lambda j: spans[j].counts.get("decode_docs_items", 0))
    fetched = per_query("engine.postings_read", lambda j: spans[j].counts.get("blocks", 0))
    out["kernels.blocks_decoded"] = decoded
    out["kernels.blocks_decoded_frac"] = decoded / fetched if fetched else 0.0
    q = run.phases["query"]
    out["spark.jobs_per_query"] = sum(p["jobs"] for p in q) / n
    out["query.cpu_busy_frac"] = _busy(q, run.cpus)
    out["engine.segments"] = _mean(segments)
    out["query.repeat_frac"] = 1 - len(set(run.asked)) / len(run.asked)
    out["trace.query_cpu_p50_ms"] = statistics.median(run.cpu) * 1e3
    out["query.wall_p50_ms"], out["query.wall_p90_ms"] = p50_p90_ms(run.wall)

    # incremental path, per appended batch
    apps = [i for i in roots if spans[i].name == "append_segment"]
    for s in SEGMENT_STEPS:
        out[f"incremental.step.{s}_s"] = _mean(sum(spans[j].dur for j in below(i, f"step.{s}")) for i in apps)
    out["incremental.commit_s"] = _mean(tr.self_time(i, kids) for i in apps)
    out["incremental.delete_s"] = _mean(spans[i].dur for i in roots if spans[i].name == "delete_docs")
    out.update(_spark("incremental.spark_{}", run.phases.get("append", [])))
    out["incremental.cpu_busy_frac"] = _busy(run.phases.get("append", []), run.cpus)
    opens = [i for i in roots if spans[i].name == "engine.open"]
    refreshes = [i for i in opens if str(spans[i].request).startswith("batch")]
    out["engine.open_s"] = _mean(spans[i].dur for i in (refreshes or opens[-1:]))
    out["visible.wall_p50_s"] = statistics.median(w for w, _ in run.visible)

    # distributed path, per search_many batch
    plans = [i for i in roots if spans[i].name == "engine.batch_plan"]
    out["engine.batch_plan_ms"] = _mean(spans[i].dur for i in plans) * 1e3
    out["engine.batch_exec_s"] = _mean(spans[i].dur for i in roots if spans[i].name == "engine.batch_exec")
    out.update(_spark("spark.{}_per_batch", run.phases.get("batch", []), keys=("jobs", "stages", "tasks")))
    out["batch.cpu_busy_frac"] = _busy(run.phases.get("batch", []), run.cpus)
    return out
