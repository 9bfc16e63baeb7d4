"""The two benchmark workloads.

Each workload is a closed loop with one client: the harness issues a
request, waits for the answer, records its latency, and only then
issues the next. Every call goes through a layer's public function.
Timings are taken here, outside the program; the answers are checked
after the timed loop, against DuckDB.

A workload returns a ``Run``: the latencies of its timed operations,
its set-up times, its q-errors, its check counts, a record of its
generated inputs, and (when traced) its per-layer metrics.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

import oracle
import speed
import stream

# the lineitem model and the orders-lineitem FK-pair model, which also
# answers orders-only requests
ENSEMBLE = [{"lineitem"}, {"orders", "lineitem"}]
QERROR_SUBSET = 150  # distinct COUNT requests checked against DuckDB
AQP_SUBSET = 30  # distinct AQP requests checked against DuckDB
CI_SUBSET = 20  # distinct requests whose confidence interval is checked
READS_PER_DELTA = 20  # estimate requests sent after each delta
SPIN_EVERY = 10  # measured estimate requests between two interleaved spins
REGISTRY_ORACLES = [
    "x06_minhash_pairs", "x20_dup_clusters", "x30_gopher_flags",
    "x56_bigram_logprob", "x57_curate_corpus",
]
CURATE_STEPS = [
    "filters.gopher_quality_flags", "curation.curate_corpus",
    "dedup.minhash_lsh_pairs", "dedup.duplicate_clusters",
    "dedup.deduplicate_corpus", "filters.bigram_logprob",
    "similarity.hybrid_rrf_topk", "dedup.dedup_against_index",
]
PER_LAYER = {
    "catalog.load_s": "s", "trainer.train_s": "s", "trainer.spark_jobs": "count",
    "ensemble.model_bytes": "bytes", "parser.parse_ms_p50": "ms",
    "ensemble.select_model_ms_p50": "ms", "ensemble.cardinality_ms_p50": "ms",
    "ensemble.aqp_ms_p50": "ms", "ensemble.aqp_ms_p99": "ms", "ensemble.aqp_relerr_p50": "ratio",
    "engine.model_answered_share": "ratio", "engine.fallback_ms_p50": "ms",
    "compiler.compile_ms_p50": "ms",
    "spark.jobs": "count", "spark.actions": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.result_bytes": "bytes", "spark.driver_ms": "ms",
    "incremental.absorb_ms_p50": "ms", "incremental.remove_ms_p50": "ms",
    "incremental.update_ms_p50": "ms", "incremental.jobs_per_delta": "count",
    "incremental.actions_per_delta": "count",
    "incremental.read_ms_p50": "ms", "incremental.qerror_drift": "ratio",
    "exact.query_ms_p50": "ms",
    **{f"{s}_s": "s" for s in CURATE_STEPS},
    "dedup.build_minhash_index_s": "s", "cache.release_ms": "ms",
    "cache.rdds_after_release": "count", "op.cpu_ms_mean": "ms", "op.cpu_ms_p90": "ms",
    "trace.op_ms_p50": "ms", "trace.self_ms_per_op": "ms",
}


@dataclass
class Run:
    op_s: list[float] = field(default_factory=list)  # wall time per timed operation
    op_cpu_s: list[float] = field(default_factory=list)  # CPU time per timed operation
    op_cpu_ms_norm: float = 0.0  # CPU ms per timed operation at the reference speed
    setup_s: list[float] = field(default_factory=list)  # per set-up, at the reference speed
    setup_raw_s: list[float] = field(default_factory=list)  # per set-up, as measured
    slowdown: dict = field(default_factory=dict)  # host slow-down seen by each measurement
    peak_rss_mb: dict = field(default_factory=dict)  # peak RSS in MB, per process
    qerrors: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    inputs: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(what[:300])


@dataclass
class Ctx:
    spark: object
    tracer: object
    data_dir: str
    duck: object
    seed: int
    seconds: float
    scale: dict
    templates: list
    domains: dict
    sampler: speed.Sampler
    peak_rss_mb: object  # () -> dict, read after the program's work and before the checks


# -- helpers ----------------------------------------------------------
def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process it
    started (the JVM and Spark's Python workers), reaped ones included.
    CPU time leaves out the time other tenants of the host take from
    ours, which moves wall times by tens of percent from run to run."""
    me, parent, cpu = os.getpid(), {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we scanned
        parent[int(d)] = int(fields[1])
        cpu[int(d)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [me]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(kids.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def pct(values, q: float) -> float:
    """Percentile by linear interpolation; 0.0 for no samples."""
    return float(np.percentile(values, q)) if len(values) else 0.0


def qerror(est: float, true: float) -> float:
    e, t = max(float(est), 1.0), max(float(true), 1.0)
    return max(e / t, t / e)


def _finite_nonneg(x) -> bool:
    return isinstance(x, (int, float)) and math.isfinite(x) and x >= 0


def _answer_ok(answer) -> bool:
    """A COUNT estimate is one finite non-negative number; an AQP
    answer is a list of rows whose numeric cells all are."""
    if isinstance(answer, list):
        return all(
            _finite_nonneg(v)
            for row in answer
            for v in row.values()
            if isinstance(v, (int, float)) and not isinstance(v, bool)
        )
    return _finite_nonneg(answer)


def _span_ms(tr, name: str) -> list[float]:
    return [(s.end - s.start) * 1e3 for s in tr.spans if s.name == name]


def _spark_per_op(tr, op_name: str) -> dict[str, float]:
    ops = [s for s in tr.spans if s.name == op_name]
    if not ops:
        return {}
    sums: dict[str, float] = {}
    for sp in ops:
        for k, v in tr.spark_counters(sp).items():
            sums[k] = sums.get(k, 0.0) + v
    return {k: v / len(ops) for k, v in sums.items()}


def _common_layers(tr, op_name: str, spark_op: str, n_ops: int) -> dict[str, float]:
    """Layers every workload reports: Spark counters per ``spark_op``
    span, load time, and the timed operation under tracing."""
    out = dict(_spark_per_op(tr, spark_op))
    out["catalog.load_s"] = statistics.median(_span_ms(tr, "catalog.load") or [0.0]) / 1e3
    out["trace.op_ms_p50"] = pct(_span_ms(tr, op_name), 50)
    out["trace.self_ms_per_op"] = tr.self_s * 1e3 / max(n_ops, 1)
    return out


def _load_engine(ctx: Ctx):
    from deepdb_public_spark.engine import Engine

    with ctx.tracer.span("catalog.load"):
        return Engine(ctx.spark, ctx.data_dir)


def _set_up(ctx: Ctx, run: Run, once):
    """Calls ``once`` ``setup_reps`` times and times each call. The wall
    time is normalized by the host's slow-down during the call and by
    the share of CPU time the hypervisor gave to other tenants, which
    lengthens wall time but not the spins' CPU time. Returns the last
    call's result."""
    slow, steal = [], []
    for _ in range(ctx.scale["setup_reps"]):
        with ctx.sampler.window():
            t0, s0 = time.perf_counter(), speed.steal_ticks()
            out = once()
            t1, s1 = time.perf_counter(), speed.steal_ticks()
        slow.append(ctx.sampler.slowdown(t0, t1))
        steal.append(speed.steal_share(s0, s1))
        run.setup_raw_s.append(t1 - t0)
        run.setup_s.append((t1 - t0) * (1 - steal[-1]) / slow[-1])
    run.slowdown["setup"], run.slowdown["setup_steal"] = slow, steal
    return out


# -- estimate ---------------------------------------------------------
def _estimate_request(ctx: Ctx, eng, sql: str, op: str = "request"):
    """One estimate request. Untraced it is exactly Engine.estimate;
    traced, the same steps are issued layer by layer under spans."""
    tr = ctx.tracer
    if not tr.enabled:
        return eng.estimate(sql), True
    from deepdb_public_spark.spn.model import GroupByExplosion, ModelPlaneUnsupported

    ens = eng.ensemble
    with tr.span(op):
        with tr.span("parser.parse"):
            ir = eng.parse(sql)
        with tr.span("ensemble.select_model"):
            try:
                ens.select_model(ir)
            except ValueError:
                pass  # no single model covers it: answered by factorization
        kind = "ensemble.cardinality" if stream.is_count(sql) else "ensemble.aqp"
        try:
            with tr.span(kind):
                return ens.answer(ir), True
        except (GroupByExplosion, ModelPlaneUnsupported):
            with tr.span("engine.fallback"):
                return [r.asDict() for r in eng.query(ir).collect()], False


def _train(ctx: Ctx, eng, table_sets) -> object:
    from deepdb_public_spark.spn.ensemble import SPNEnsemble
    from deepdb_public_spark.spn.trainer import train_spn_model

    ens = SPNEnsemble(eng.schema)
    with ctx.tracer.span("trainer.train"):
        for ts in table_sets:
            ens.add_model(train_spn_model(eng.catalog, eng.schema, set(ts), ctx.scale["sample_budget"]))
    return ens


def _model_answers(eng, queries: list[str]) -> list:
    return [eng.ensemble.answer(eng.parse(q)) for q in queries]


def _aqp_relerrs(duck, queries: list[str], answers: list) -> list[float]:
    """Relative error of every AQP output cell whose group the model
    also returned."""
    errs = []
    for q, est in zip(queries, answers):
        width = oracle.group_width(q)
        ref = {tuple(map(str, r[:width])): r[width:] for r in oracle.reference_rows(duck, q)}
        for row in est:
            vals = list(row.values())
            key = tuple(map(str, vals[:width]))
            if key not in ref:
                continue
            for e, t in zip(vals[width:], ref[key]):
                if t is not None and math.isfinite(float(e)):
                    errs.append(abs(float(e) - float(t)) / max(abs(float(t)), 1e-9))
    return errs


def _check_cis(eng, queries: list[str], run: Run) -> None:
    for q in queries:
        run.attempted += 1
        try:
            ci = eng.ensemble.confidence_interval(eng.parse(q))
        except Exception as e:  # an estimate the model answers must have a CI
            run.fail(f"confidence_interval raised {type(e).__name__}: {q}")
            continue
        for row in ci:
            lo, est, hi = row["lo"], row["est"], row["hi"]
            if not all(math.isfinite(x) for x in (lo, est, hi)) or not lo - 1e-9 * abs(est) <= est <= hi + 1e-9 * abs(est):
                run.fail(f"CI {lo} <= {est} <= {hi} violated: {q}")
                break


def _lineitem_delta(li, rows: dict):
    """One seeded lineitem selection: the rows whose hash with ``salt``
    falls in the first ``frac`` of the hash range."""
    from pyspark.sql import functions as F

    h = F.pmod(F.xxhash64(*li.columns, F.lit(rows["salt"])), F.lit(10_000))
    return li.filter(h < int(rows["frac"] * 10_000))


def run_estimate(ctx: Ctx) -> Run:
    """Set-up trains the 2-model ensemble. The timed loop sends the
    seeded request stream through Engine.estimate. A write phase then
    applies the seeded deltas to the lineitem model, with reads after
    each, and the q-error is measured once the deltas have netted out.
    Last, an exact-plane phase runs seeded requests over the full
    corpus through Engine.query. Every answer is kept, and compared
    with DuckDB only after the peak memory has been read."""
    from deepdb_public_spark.spn.incremental import absorb_delta, remove_delta, update_delta

    tr, run = ctx.tracer, Run()

    def once():
        eng = _load_engine(ctx)
        eng.ensemble = _train(ctx, eng, ENSEMBLE)
        return eng

    eng = _set_up(ctx, run, once)

    covered = set().union(*ENSEMBLE)
    templates = [t for t in ctx.templates if stream.tables_of(t) <= covered]
    reqs = stream.QueryStream(templates, ctx.domains, ctx.seed)
    n = ctx.scale["measured_requests"]
    issued, answers, spins, model_answered = [], [], [], 0
    deadline = time.perf_counter() + ctx.seconds
    while time.perf_counter() < deadline or len(issued) < n:
        q = next(reqs)
        t0, c0 = time.perf_counter(), time.thread_time()
        try:
            ans, by_model = _estimate_request(ctx, eng, q)
        except Exception as e:
            run.fail(f"estimate raised {type(e).__name__}: {e}: {q}")
            ans, by_model = None, False
        run.op_cpu_s.append(time.thread_time() - c0)
        run.op_s.append(time.perf_counter() - t0)
        issued.append(q)
        answers.append(ans)
        model_answered += by_model
        if len(issued) <= n and len(issued) % SPIN_EVERY == 0:
            spins.append(speed.spin())
    # cost over a fixed prefix of the seeded stream: later requests
    # repeat earlier ones more often and hit the models' caches, so a
    # time-bounded sample would get cheaper the faster the host ran
    run.op_s, run.op_cpu_s = run.op_s[:n], run.op_cpu_s[:n]
    run.slowdown["op"] = [speed.slowdown(spins)]
    run.op_cpu_ms_norm = statistics.fmean(run.op_cpu_s) * 1e3 / run.slowdown["op"][0]
    run.attempted += len(issued)
    for q, a in zip(issued, answers):
        if a is not None and not _answer_ok(a):
            run.fail(f"invalid estimate {a!r}: {q}")

    count_qs = stream.distinct_prefix(issued[:n], QERROR_SUBSET, want_count=True)
    est_before = _model_answers(eng, count_qs)

    # write phase: seeded deltas on the single-table lineitem model;
    # join models take deltas only in their joined relation, so they
    # are left as trained (the CLI's update rule)
    li = eng.catalog["lineitem"]
    model = eng.ensemble.select_model(eng.parse("SELECT COUNT(*) FROM lineitem"))
    budget = ctx.scale["sample_budget"]
    apply = {"absorb": absorb_delta, "remove": remove_delta}
    plan = stream.delta_plan(ctx.seed)
    delta_ms, read_ms, delta_rows = [], [], []
    for step in plan:
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span(f"incremental.{step['op']}"):
                if step["op"] == "update":
                    old, new = _lineitem_delta(li, step["old"]), _lineitem_delta(li, step["new"])
                    delta_rows.append(sum(update_delta(model, old, new, sample_budget=budget)))
                else:
                    rows = _lineitem_delta(li, step["rows"])
                    delta_rows.append(apply[step["op"]](model, rows, sample_budget=budget))
        except Exception as e:
            run.fail(f"{step['role']} delta raised {type(e).__name__}: {e}")
            delta_rows.append(0)
        delta_ms.append((time.perf_counter() - t0) * 1e3)
        for _ in range(READS_PER_DELTA):
            q = next(reqs)
            run.attempted += 1
            t0 = time.perf_counter()
            try:
                ans, _m = _estimate_request(ctx, eng, q, op="read_after_delta")
                if not _answer_ok(ans):
                    run.fail(f"invalid estimate after {step['role']}: {ans!r}: {q}")
            except Exception as e:
                run.fail(f"estimate after {step['role']} raised {type(e).__name__}: {e}: {q}")
            read_ms.append((time.perf_counter() - t0) * 1e3)

    est_after = _model_answers(eng, count_qs)
    aqp_qs = stream.distinct_prefix(issued[:n], AQP_SUBSET, want_count=False)
    aqp_answers = _model_answers(eng, aqp_qs)
    _check_cis(eng, count_qs[: CI_SUBSET // 2] + aqp_qs[: CI_SUBSET // 2], run)
    exact_rows, exact = _exact_phase(ctx, eng, run)
    run.peak_rss_mb = ctx.peak_rss_mb()

    # DuckDB from here on
    truth = [oracle.count_truth(ctx.duck, q) for q in count_qs]
    before = [qerror(e, t) for e, t in zip(est_before, truth)]
    run.qerrors = [qerror(e, t) for e, t in zip(est_after, truth)]
    relerrs = _aqp_relerrs(ctx.duck, aqp_qs, aqp_answers)
    for q, rows in exact_rows:
        if not oracle.rows_match(rows, oracle.reference_rows(ctx.duck, q)):
            run.fail(f"exact result differs from DuckDB: {q}")

    run.inputs = {
        "templates": len(templates),
        "stream": stream.describe(issued),
        "qerror_subset": len(count_qs),
        "aqp_subset": len(aqp_qs),
        "deltas": [
            {"role": s["role"], "rows": rows, "ms": round(t, 3)}
            for s, rows, t in zip(plan, delta_rows, delta_ms)
        ],
        "exact": exact,
    }
    if tr.enabled:
        tr.collect()
        lay = _common_layers(tr, "request", "exact.query", len(issued))
        trains = [s for s in tr.spans if s.name == "trainer.train"]
        deltas = [s for s in tr.spans if s.name.startswith("incremental.")]
        lay.update({
            "trainer.train_s": statistics.median((s.end - s.start) for s in trains),
            "trainer.spark_jobs": statistics.median(tr.spark_counters(s)["spark.jobs"] for s in trains),
            "ensemble.model_bytes": float(eng.ensemble.stats()["total_bytes"]),
            "parser.parse_ms_p50": pct(_span_ms(tr, "parser.parse"), 50),
            "ensemble.select_model_ms_p50": pct(_span_ms(tr, "ensemble.select_model"), 50),
            "ensemble.cardinality_ms_p50": pct(_span_ms(tr, "ensemble.cardinality"), 50),
            "ensemble.aqp_ms_p50": pct(_span_ms(tr, "ensemble.aqp"), 50),
            "ensemble.aqp_ms_p99": pct(_span_ms(tr, "ensemble.aqp"), 99),
            "ensemble.aqp_relerr_p50": pct(relerrs, 50),
            "engine.model_answered_share": model_answered / max(len(issued), 1),
            "engine.fallback_ms_p50": pct(_span_ms(tr, "engine.fallback"), 50),
            "incremental.absorb_ms_p50": pct(_span_ms(tr, "incremental.absorb"), 50),
            "incremental.remove_ms_p50": pct(_span_ms(tr, "incremental.remove"), 50),
            "incremental.update_ms_p50": pct(_span_ms(tr, "incremental.update"), 50),
            "incremental.jobs_per_delta": statistics.mean(tr.spark_counters(s)["spark.jobs"] for s in deltas),
            "incremental.actions_per_delta": statistics.mean(tr.spark_counters(s)["spark.actions"] for s in deltas),
            "incremental.read_ms_p50": pct(read_ms, 50),
            "incremental.qerror_drift": pct(run.qerrors, 95) / max(pct(before, 95), 1e-9),
            "exact.query_ms_p50": pct(_span_ms(tr, "exact.query"), 50),
            "compiler.compile_ms_p50": pct(_span_ms(tr, "compiler.compile"), 50),
        })
        run.layers = lay
    return run


# -- exact phase ------------------------------------------------------
def _exact_request(ctx: Ctx, eng, sql: str) -> list[tuple]:
    tr = ctx.tracer
    if not tr.enabled:
        return [tuple(r) for r in eng.query(sql).collect()]
    with tr.span("exact.query"):
        with tr.span("parser.parse"):
            ir = eng.parse(sql)
        with tr.span("compiler.compile"):
            df = eng.query(ir)
        with tr.span("spark.execute"):
            return [tuple(r) for r in df.collect()]


def _exact_phase(ctx: Ctx, eng, run: Run) -> tuple[list, dict]:
    """The exact plane on the full corpus: seeded requests over all
    templates (1- to 5-way joins) through Engine.query(q).collect().
    Returns each request with its rows, for the DuckDB comparison."""
    reqs = stream.QueryStream(ctx.templates, ctx.domains, ctx.seed)
    results, ms = [], []
    for _ in range(ctx.scale["exact_queries"]):
        q = next(reqs)
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            rows = _exact_request(ctx, eng, q)
        except Exception as e:
            run.fail(f"exact query raised {type(e).__name__}: {e}: {q}")
            continue
        ms.append((time.perf_counter() - t0) * 1e3)
        results.append((q, rows))
    record = {"stream": stream.describe([q for q, _r in results]), "query_ms": [round(x, 3) for x in ms]}
    return results, record


# -- curate -----------------------------------------------------------
def _curate_pass(ctx: Ctx, eng, index, inputs: dict) -> dict:
    """One pass of the training-data chain; returns each step's
    collected output for the checks."""
    from pyspark.sql import functions as F

    from deepdb_public_spark.operators import curation, dedup, filters, similarity
    from deepdb_public_spark.operators.partitioning import tiny_literal_frame

    tr, spark = ctx.tracer, ctx.spark
    docs, vecs = eng.catalog["documents"], eng.catalog["embeddings"]
    out: dict = {}

    def step(name, fn):
        with tr.span(name):
            df = fn()
            out[name] = (df.columns, [tuple(r) for r in df.collect()])

    step("filters.gopher_quality_flags", lambda: filters.gopher_quality_flags(docs, "text", "doc_id"))
    # the x57 registry entry's quality predicate, built the way it builds it
    flags, _keep, _n, _m = filters._gopher_exprs("text")
    quality = flags["word_count_ok"] & flags["mean_word_len_ok"] & flags["symbol_ratio_ok"] & flags["alpha_fraction_ok"]
    step("curation.curate_corpus", lambda: curation.curate_corpus(
        docs, "text", "doc_id", "lang", per_stratum=40, quality=quality))
    step("dedup.minhash_lsh_pairs", lambda: dedup.minhash_lsh_pairs(
        docs, "text", "doc_id", threshold=0.8, n_hashes=64, n_bands=16, use_char_ngrams=True, ngram=5))
    pair_rows = [(int(a), int(b)) for a, b, _j in out["dedup.minhash_lsh_pairs"][1]]

    def pairs_frame():
        return tiny_literal_frame(spark, pair_rows, "id_a bigint, id_b bigint")

    step("dedup.duplicate_clusters", lambda: dedup.duplicate_clusters(pairs_frame()))
    step("dedup.deduplicate_corpus", lambda: dedup.deduplicate_corpus(docs, "doc_id", pairs_frame()).select("doc_id"))
    step("filters.bigram_logprob", lambda: filters.bigram_logprob(docs, "text", "doc_id"))
    hq = inputs["hybrid_queries"]

    def hybrid():
        qtext = tiny_literal_frame(spark, [(h["qid"], h["qtext"]) for h in hq], "qid int, qtext string")
        vmap = F.create_map(*[F.lit(x) for h in hq for x in (h["vec_id"], h["qid"])])
        qvec = vecs.filter(F.col("vec_id").isin([h["vec_id"] for h in hq])).select(
            vmap[F.col("vec_id")].alias("qid"), F.col("embedding").alias("qvec"))
        return similarity.hybrid_rrf_topk(docs, qtext, vecs, qvec)

    step("similarity.hybrid_rrf_topk", hybrid)
    new = docs.filter(F.col("doc_id").isin(inputs["held_out"]))
    step("dedup.dedup_against_index", lambda: dedup.dedup_against_index(
        new, "text", "doc_id", index[0], index[1], threshold=0.8, n_hashes=64, n_bands=16,
        use_char_ngrams=True, ngram=5))
    with tr.span("cache.release"):
        dedup.release_cached()
    out["rdds"] = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    return out


def _check_curate(out: dict, oracles: dict, inputs: dict, n_docs: int, run: Run) -> None:
    """Registry oracles where the call is the registry's call; the
    invariants elsewhere."""
    def check(ok: bool, what: str) -> None:
        run.attempted += 1
        if not ok:
            run.fail(what)

    matched = {
        "filters.gopher_quality_flags": "x30_gopher_flags",
        "curation.curate_corpus": "x57_curate_corpus",
        "dedup.minhash_lsh_pairs": "x06_minhash_pairs",
        "dedup.duplicate_clusters": "x20_dup_clusters",
        "filters.bigram_logprob": "x56_bigram_logprob",
    }
    for step, name in matched.items():
        cols, rows = out[step]
        check(oracle.frame_matches(cols, rows, oracles[name]), f"{step} differs from the {name} oracle")

    labels = {int(r[0]): int(r[1]) for r in oracles["x20_dup_clusters"]["rows"]}
    want_kept = {i for i in range(n_docs) if labels.get(i, i) == i}
    got_kept = [int(r[0]) for r in out["dedup.deduplicate_corpus"][1]]
    check(len(got_kept) == len(set(got_kept)) and set(got_kept) == want_kept,
          "deduplicate_corpus kept set is not one representative per cluster")

    held = set(inputs["held_out"])
    want_idx = []
    for a, b, j in oracles["x06_minhash_pairs"]["rows"]:
        if (a in held) != (b in held):
            new_id, idx_id = (a, b) if a in held else (b, a)
            want_idx.append((new_id, idx_id, j))
    cols, rows = out["dedup.dedup_against_index"]
    check(oracle.rows_match([tuple(r[cols.index(c)] for c in ("new_id", "index_id", "jaccard")) for r in rows],
                            want_idx, rel=1e-6),
          "dedup_against_index differs from the cross-split x06 oracle pairs")

    cols, rows = out["similarity.hybrid_rrf_topk"]
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r[cols.index("qid")], []).append(r)
    top = 2 / (60 + 1)
    ok = set(by_q) == {h["qid"] for h in inputs["hybrid_queries"]}
    for rs in by_q.values():
        ranks = sorted(r[cols.index("rnk")] for r in rs)
        ok &= len(rs) <= 5 and ranks == list(range(1, len(rs) + 1))
        ok &= all(0 < r[cols.index("rrf_score")] <= top + 1e-12 and 0 <= r[cols.index("doc_id")] < n_docs for r in rs)
    check(ok, "hybrid_rrf_topk output breaks its invariants")

    # count agreement with the references, as q-errors
    for step, want in (
        ("dedup.minhash_lsh_pairs", len(oracles["x06_minhash_pairs"]["rows"])),
        ("dedup.duplicate_clusters", len(oracles["x20_dup_clusters"]["rows"])),
        ("dedup.deduplicate_corpus", len(want_kept)),
        ("dedup.dedup_against_index", len(want_idx)),
        ("curation.curate_corpus", len(oracles["x57_curate_corpus"]["rows"])),
    ):
        run.qerrors.append(qerror(len(out[step][1]), want))


def run_curate(ctx: Ctx, oracles: dict) -> Run:
    """Set-up loads the tables and builds a MinHash index over a seeded
    80% of the documents. Each timed pass runs the whole chain; the
    held-out 20% is probed against the index at the end of it."""
    from pyspark.sql import functions as F

    from deepdb_public_spark.operators import dedup

    tr, run = ctx.tracer, Run()
    n_docs, n_vecs = ctx.scale["n_docs"], ctx.scale["n_vecs"]
    inputs = stream.curate_inputs(ctx.seed, n_docs, n_vecs)

    def once():
        eng = _load_engine(ctx)
        docs = eng.catalog["documents"]
        with tr.span("dedup.build_minhash_index"):
            bands, sets = dedup.build_minhash_index(
                docs.filter(~F.col("doc_id").isin(inputs["held_out"])), "text", "doc_id",
                n_hashes=64, n_bands=16, use_char_ngrams=True, ngram=5)
            return eng, (bands.localCheckpoint(), sets.localCheckpoint())

    eng, index = _set_up(ctx, run, once)

    outs, norm_cpu_ms = [], []
    deadline = time.perf_counter() + ctx.seconds
    with ctx.sampler.window():
        while time.perf_counter() < deadline or not run.op_s:
            t0, c0 = time.perf_counter(), tree_cpu_s()
            try:
                with tr.span("pass"):
                    outs.append(_curate_pass(ctx, eng, index, inputs))
            except Exception as e:
                run.fail(f"curation pass raised {type(e).__name__}: {e}")
                run.attempted += 1
            cpu, t1 = tree_cpu_s() - c0, time.perf_counter()
            # the sampler's own spins are CPU of this process too
            spun = sum(x for t, x in ctx.sampler.samples if t0 <= t <= t1)
            slow = ctx.sampler.slowdown(t0, t1)
            run.slowdown.setdefault("op", []).append(slow)
            run.op_cpu_s.append(cpu - spun)
            run.op_s.append(t1 - t0)
            norm_cpu_ms.append((cpu - spun) * 1e3 / slow)
    run.op_cpu_ms_norm = statistics.median(norm_cpu_ms)
    run.peak_rss_mb = ctx.peak_rss_mb()
    for out in outs:
        _check_curate(out, oracles, inputs, n_docs, run)

    rdds = [o["rdds"] for o in outs]
    run.inputs = {
        "documents": n_docs,
        "embeddings": n_vecs,
        "held_out": len(inputs["held_out"]),
        "hybrid_queries": len(inputs["hybrid_queries"]),
        "passes": len(run.op_s),
        "rdds_after_release": rdds,
    }
    if tr.enabled:
        tr.collect()
        lay = _common_layers(tr, "pass", "pass", len(run.op_s))
        for s in CURATE_STEPS:
            lay[f"{s}_s"] = pct(_span_ms(tr, s), 50) / 1e3
        lay["dedup.build_minhash_index_s"] = pct(_span_ms(tr, "dedup.build_minhash_index"), 50) / 1e3
        lay["cache.release_ms"] = pct(_span_ms(tr, "cache.release"), 50)
        lay["cache.rdds_after_release"] = float(max(rdds or [0]))
        run.layers = lay
    return run
