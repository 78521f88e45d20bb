"""The three benchmark workloads.

Each workload is a closed loop with one client: the next call starts
when the previous one has finished. A workload
1. generates its inputs from the seed (outside every timed region),
2. sets up: process start to ready to serve (``setup_s``),
3. measures whole passes: a fixed number for the latency percentiles,
   more while the requested seconds have not passed,
4. checks its outputs once, outside the timed region.

This module imports the engine, so the caller must have set the
hermetic environment (see run.py) before importing it.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from contextlib import contextmanager

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench import checks, gen
from perfbench.trace import Tracer, median, tail_percentile
from procoggraph_spark import session
from procoggraph_spark.queries import common, registry

# Dashboard mix: Cypher-surface query shapes (summary counts, report
# card, best-cognate table, top-k, JSON payload) plus bench.py headline
# rows (scan-agg, star join, window top-k, ownership windows, exact and
# MinHash dedup, text quality, Arrow GEMM top-k). stream_session_window
# is left out while its known oracle mismatch stands (see README,
# "Known defect").
INTERACTIVE_MIX = (
    "q1_global_summary_counts", "q4_report_card", "q6_best_mode",
    "q14_topk_by_count", "q16_json_payload",
    "a1_pricing_summary", "j7_star_join_rollup", "w5_topk_per_group",
    "p6_ownership_classify", "dedup_exact", "dedup_minhash_lsh",
    "text_quality_score", "sim_bruteforce_topk",
)
CORPUS_OPS = (
    "dedup_exact", "dedup_minhash_lsh", "dedup_cluster_canonical",
    "text_quality_score", "sim_bruteforce_topk", "training_data_pipeline",
)
# which registry call exercises which operator layer; a CORPUS_ONLY
# layer is reported by corpus_batch alone (no declared workload runs it)
CORPUS_ONLY = ("dedup_cluster_canonical",)
OPERATOR_METRICS = {
    "dedup_minhash_lsh": "dedup.minhash_lsh_s",
    "dedup_cluster_canonical": "dedup.cluster_canonical_s",
    "sim_bruteforce_topk": "similarity.topk_s",
    "text_quality_score": "text.quality_s",
}

INTERACTIVE_SCALE = 0.12  # × sf0.1 rows (2.1 MB; lineitem above the 1 MB staging gate)
CORPUS_SCALE = 1          # × sf0.1 documents and embeddings
GRAPH_ENTRIES = 600       # PDB entries in the graph_build contacts
# Q1-Q16 rounds per graph_build pass: one round is 17 latency samples of
# 17 different queries, and its median flips between neighbouring ones
DASHBOARD_ROUNDS = 2
WARMUP_PASSES = 2
# measured passes whose calls give the latency percentiles: a fixed
# sample count, so latency_p95_ms is read at the same rank on every
# commit (interactive: 3 × 13 = 39 calls, p74.4; graph_build: 1 × 34
# calls, p70.6)
LATENCY_PASSES = {"interactive": 3, "corpus_batch": 1, "graph_build": 1}


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _engine_modules():
    return [m for n, m in list(sys.modules.items())
            if n.startswith("procoggraph_spark") and m is not None]


def rebind(orig, replacement) -> None:
    """Point every engine-module binding of ``orig`` at ``replacement``
    (``from x import f`` copies the reference, so patching the defining
    module alone misses callers)."""
    for mod in _engine_modules():
        for k, v in list(vars(mod).items()):
            if v is orig:
                setattr(mod, k, replacement)


def _plan_memo_size() -> int:
    import procoggraph_spark.queries as q

    return len(getattr(q, "_PLAN_MEMO", ()))


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _dirs, files in os.walk(path) for f in files)


def _vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def reset_python_peak_rss() -> None:
    """Start this process's VmHWM afresh, so the generator's peak (it
    runs in this process before set-up) is not counted."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def peak_memory_mb(spark) -> tuple[dict[str, float], dict[str, float]]:
    """Peak memory of the Python driver and the driver JVM, MB, and the
    peak used bytes of every JVM heap pool.

    The JVM heap is fixed and pre-touched (-Xms = -Xmx,
    -XX:+AlwaysPreTouch), so the JVM's VmHWM is the committed heap plus
    the peak of everything else (Arrow buffers, code cache, metaspace,
    threads). The heap counts by the peak of the pools that hold
    retained objects (old generation, humongous objects included, and
    survivors), so a change in heap demand moves the total. Eden is
    left out: G1 sizes it to fill the free heap, so its peak follows the
    heap limit, not the program."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    jvm_hwm = _vm_hwm_kb(proc.pid) * 1024.0 if proc is not None else 0.0
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    committed = mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted()
    mb = 1024.0 * 1024.0
    pools = {pool.getName(): pool.getPeakUsage().getUsed() / mb
             for pool in mf.getMemoryPoolMXBeans() if pool.getType().name() == "HEAP"}
    parts = {
        "python_rss": _vm_hwm_kb("self") / 1024.0,
        "jvm_non_heap_rss": (jvm_hwm - committed) / mb,
        "jvm_heap_retained_peak": sum(v for k, v in pools.items() if "Eden" not in k),
    }
    return parts, pools


class Harness:
    """State shared by the workloads: tracer, Spark session, samples."""

    def __init__(self, workload: str, seed: int, seconds: float, work: str, tracer: Tracer):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: list[tuple[str, float, str]] = []  # (call, seconds, pass kind)
        self.pass_rows: list[tuple[int, float]] = []      # (input rows, seconds)
        self.setup_s = 0.0
        self.latency_n = 0  # measured calls that give the latency percentiles
        self.detail: dict = {}
        self.layers: dict[str, float] = {}
        self.last_hit = False
        self.last_frames: dict[str, DataFrame] = {}
        self.lsh_candidates: dict[str, DataFrame] = {}
        self.table_reads: list[str] | None = None
        self._rows_done = 0
        self._current = ""
        self._group = 0
        self._cold_keys: set = set()
        self._alternate: int | None = None
        self._pass_calls = 0
        self._install()

    # -- wrappers installed from outside on engine functions -------------
    def _install(self) -> None:
        from procoggraph_spark.graph import algorithms
        from procoggraph_spark.operators import dedup
        from procoggraph_spark.sources.cache import KeyedParquetCache

        orig_t = common.t

        def t(spark, sf_dir, name, **kwargs):
            if self.table_reads is not None:
                self.table_reads.append(name)
            key = (id(spark), sf_dir, name, kwargs.get("widen_on"))
            cold = key not in self._cold_keys
            self._cold_keys.add(key)
            with self.tracer.span("common.t", table=name, cold=cold):
                return orig_t(spark, sf_dir, name, **kwargs)

        orig_cc = algorithms.connected_components

        def connected_components(*args, **kwargs):
            with self.tracer.span("graph.cc") as attrs, self.job_group(attrs):
                return orig_cc(*args, **kwargs)

        orig_lsh = dedup.minhash_lsh_pairs

        def minhash_lsh_pairs(*args, **kwargs):
            out = orig_lsh(*args, **kwargs)
            self.lsh_candidates[self._current] = out
            return out

        rebind(orig_t, t)
        rebind(orig_cc, connected_components)
        rebind(orig_lsh, minhash_lsh_pairs)
        KeyedParquetCache.upsert = self.tracer.wrap("cache.upsert", KeyedParquetCache.upsert)

    @contextmanager
    def job_group(self, attrs: dict):
        """In a traced pass, run the block under its own job group so
        its jobs, stages and tasks can be counted from the status store."""
        if not self.tracer.enabled:
            yield
            return
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        self._group += 1
        attrs["group"] = f"perfbench-{self._group}"
        sc.setJobGroup(attrs["group"], attrs["group"])
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    # -- session ----------------------------------------------------------
    def new_spark(self, data_dir: str) -> None:
        with self.tracer.span("session.get_spark"):
            self.spark = session.get_spark(
                "perfbench",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    # no hsperfdata file under /tmp: every write stays in the
                    # work dir; a fixed, pre-touched heap (-Xms = -Xmx) makes
                    # the heap's share of the JVM's RSS exactly the committed
                    # heap (see peak_memory_mb)
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                        f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch",
                    # keep every traced call's job/stage info readable
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                },
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        with self.tracer.span("session.policy"):
            session.apply_adaptive_policy(self.spark, data_dir)

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- one timed call: build + execute into the noop sink ---------------
    def call(self, name: str, build, *, kind: str, rows: int = 0) -> DataFrame | None:
        self.attempted += 1
        self._current = name
        if self._alternate is not None:
            self._pass_calls += 1
            self.tracer.enabled = self._pass_calls % 2 == self._alternate
            kind = "traced" if self.tracer.enabled else "untraced"
        t0 = time.perf_counter()
        try:
            with self.tracer.span("call", q=name):
                with self.tracer.span("build", q=name) as battrs:
                    before = _plan_memo_size()
                    df = build()
                    self.last_hit = battrs["hit"] = _plan_memo_size() == before
                with self.tracer.span("exec", q=name) as eattrs, self.job_group(eattrs):
                    for frame in df if isinstance(df, tuple) else (df,):
                        noop(frame)
        except Exception as exc:  # a failed operation is counted, not fatal
            self.failures.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            return None
        self.samples.append((name, time.perf_counter() - t0, kind))
        self._rows_done += rows
        self.last_frames[name] = df
        return df

    def check(self, name: str, ok: bool, why: str = "") -> None:
        """A correctness check is an attempted operation; a mismatch is
        a failed one."""
        self.attempted += 1
        if not ok:
            self.failures.append(f"check {name}: {why}")

    @contextmanager
    def timed(self, key: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.detail[key] = round(time.perf_counter() - t0, 3)

    # -- phases -----------------------------------------------------------
    def setup(self, setup_once) -> None:
        reset_python_peak_rss()
        t0 = time.perf_counter()
        with self.tracer.span("setup"):
            setup_once()
        self.setup_s = time.perf_counter() - t0
        self.samples.clear()

    def warm_up(self, one_pass) -> None:
        """A fixed WARMUP_PASSES whole passes of the mix; the pass times
        are recorded as the warm-up curve."""
        curve = []
        for _ in range(WARMUP_PASSES):
            t0 = time.perf_counter()
            one_pass()
            curve.append(time.perf_counter() - t0)
        self.detail["warmup_curve_s"] = [round(x, 3) for x in curve]

    def measure(self, one_pass, overhead_pass=None) -> None:
        """Closed loop of whole passes: at least LATENCY_PASSES of them
        and at least the requested seconds. The latency percentiles come
        from the calls of the first LATENCY_PASSES passes, a fixed
        sample count; throughput counts every measured pass. A traced
        run then adds two ``overhead_pass`` runs (default: ``one_pass``)
        for the tracing overhead, left out of every other metric."""
        start = time.perf_counter()
        p = 0
        while p < LATENCY_PASSES[self.workload] or time.perf_counter() < start + self.seconds:
            t0 = time.perf_counter()
            self._rows_done = 0
            with self.tracer.span("pass", p=p):
                one_pass(kind="measure")
            self.pass_rows.append((self._rows_done, time.perf_counter() - t0))
            p += 1
            if p == LATENCY_PASSES[self.workload]:
                self.latency_n = sum(kind == "measure" for _, _, kind in self.samples)
        self.detail["measured_s"] = round(time.perf_counter() - start, 3)
        self.detail["passes"] = p
        # read before the output checks allocate
        parts, pools = peak_memory_mb(self.spark)
        self.detail["peak_memory_mb"] = {k: round(v, 1) for k, v in parts.items()}
        self.detail["heap_pool_peak_mb"] = {k: round(v, 1) for k, v in pools.items()}
        if self.tracer.enabled:
            # two more passes, tracing every other call, with the parity
            # flipped in the second: each call is timed once each way in
            # adjacent passes, so warm-up drift falls on both sides
            for parity in (0, 1):
                self.tracer.enabled = True
                self._alternate, self._pass_calls = parity, 0
                with self.tracer.span("overhead_pass"):
                    (overhead_pass or one_pass)(kind="overhead")
            self._alternate = None
            self.tracer.enabled = True

    def resolve_job_counts(self) -> None:
        """Fill jobs / stages / tasks on every span that ran under a job
        group, from the status store once the listener bus has drained."""
        if not self.tracer.enabled:
            return
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = sc.statusTracker()
        for s in self.tracer.spans:
            group = s.attrs.get("group")
            if group is None:
                continue
            jobs = st.getJobIdsForGroup(group)
            stage_ids = [sid for j in jobs if (info := st.getJobInfo(j)) for sid in info.stageIds]
            tasks = sum(info.numTasks for sid in stage_ids if (info := st.getStageInfo(sid)))
            s.attrs.update(jobs=len(jobs), stages=len(stage_ids), tasks=tasks)

    # -- results ----------------------------------------------------------
    def end_to_end(self) -> dict:
        measured = [x for _, x, kind in self.samples if kind == "measure"]
        lat = measured[:self.latency_n]
        pct, tail = tail_percentile(lat) if lat else (0.0, 0.0)
        rows = sum(r for r, _ in self.pass_rows)
        wall = sum(w for _, w in self.pass_rows)
        self.detail.update(latency_samples=len(lat), latency_tail_percentile=round(pct, 1))
        return {
            "setup_s": (self.setup_s, "s"),
            "latency_p50_ms": (1000 * median(lat), "ms"),
            "latency_p95_ms": (1000 * tail, "ms"),
            "queries_per_s": (len(measured) / wall if wall else 0.0, "1/s"),
            "rows_per_s": (rows / wall if wall else 0.0, "rows/s"),
            "peak_rss_mb": (sum(self.detail["peak_memory_mb"].values()), "MB"),
        }

    def per_layer(self) -> dict:
        """Per-layer metrics from the traced passes, and from the traced
        set-up for the session and ingest layers. A layer the workload
        does not exercise reports 0."""
        spans = self.tracer.spans
        selfs = self.tracer.self_times()

        def phase(i):
            while spans[i].parent is not None:
                i = spans[i].parent
            return spans[i].name

        def pick(name, where=None, **attrs):
            return [i for i, s in enumerate(spans) if s.name == name
                    and (where is None or phase(i) == where)
                    and all(s.attrs.get(k) == v for k, v in attrs.items())]

        def dur(ix, scale=1.0):
            return scale * median(spans[i].duration for i in ix)

        def self_t(ix, scale=1.0):
            return scale * median(selfs[i] for i in ix)

        def attr(ix, key):
            return float(median(spans[i].attrs.get(key, 0) for i in ix))

        builds, execs = pick("build", "pass"), pick("exec", "pass")
        passes, cc = pick("pass"), pick("graph.cc")
        traced = [x for _, x, k in self.samples if k == "traced"]
        untraced = [x for _, x, k in self.samples if k == "untraced"]
        out = {
            "session.get_spark_s": (dur(pick("session.get_spark")), "s"),
            "session.policy_ms": (dur(pick("session.policy"), 1e3), "ms"),
            "common.load_cold_s": (self_t(pick("common.t", "setup", cold=True)), "s"),
            "common.staged_bytes": (float(self.detail.get("staged_bytes", 0)), "bytes"),
            "registry.build_ms": (self_t(builds, 1e3), "ms"),
            "registry.plan_hit_ratio": (
                sum(bool(spans[i].attrs.get("hit")) for i in builds) / len(builds)
                if builds else 0.0, "ratio"),
            "exec.ms": (dur(execs, 1e3), "ms"),
            "exec.jobs": (attr(execs, "jobs"), "count"),
            "exec.stages": (attr(execs, "stages"), "count"),
            "exec.tasks": (attr(execs, "tasks"), "count"),
        }
        for q, metric in OPERATOR_METRICS.items():
            if q in CORPUS_ONLY and self.workload != "corpus_batch":
                continue
            out[metric] = (dur(pick("call", "pass", q=q)), "s")
        out["dedup.lsh_pair_precision"] = (self.layers.get("lsh_pair_precision", 0.0), "ratio")
        out["graph.cc_s"] = (self_t(cc), "s")
        out["graph.cc_jobs"] = (attr(cc, "jobs"), "count")
        for step in ("combined_contacts", "ownership", "parity", "build_graph"):
            out[f"pipeline.{step}_s"] = (self_t(pick(f"pipeline.{step}", "pass")), "s")
        out["pipeline.parity_cache_hit_ratio"] = (
            self.layers.get("parity_cache_hit_ratio", 0.0), "ratio")
        out["sinks.neo4j_tsv_s"] = (self_t(pick("sinks.neo4j_tsv", "pass")), "s")
        out["sinks.bytes_per_row"] = (self.layers.get("tsv_bytes_per_row", 0.0), "bytes/row")
        out["cache.upsert_s"] = (self_t(pick("cache.upsert", "pass")), "s")
        gq = pick("call", "pass") if self.workload == "graph_build" else []
        out["graph.query_ms"] = (dur(gq, 1e3), "ms")
        pass_wall = sum(spans[i].duration for i in passes)
        out["trace.overhead_pct"] = (
            100.0 * (median(traced) / median(untraced) - 1.0) if traced and untraced else 0.0,
            "%")
        out["trace.unattributed_pct"] = (
            100.0 * sum(selfs[i] for i in passes) / pass_wall if pass_wall else 0.0, "%")
        out["trace.spans"] = (float(len(spans)), "count")
        for part, mb in self.detail["peak_memory_mb"].items():
            out[f"memory.{part}_mb"] = (mb, "MB")
        return out


def lsh_pair_precision(h: Harness, frames: dict) -> None:
    """Traced runs: rows dedup_minhash_lsh emits ÷ its LSH candidates."""
    if h.tracer.enabled and "dedup_minhash_lsh" in h.lsh_candidates:
        out = frames["dedup_minhash_lsh"].count()
        h.layers["lsh_pair_precision"] = out / max(1, h.lsh_candidates["dedup_minhash_lsh"].count())


# ---------------------------------------------------------------------------
# interactive: the dashboard mix on a resident session
# ---------------------------------------------------------------------------

def interactive(h: Harness) -> None:
    data = gen.star_schema(os.path.join(h.work, "data"), h.seed, INTERACTIVE_SCALE)
    h.detail.update(input_rows=data.total_rows, input_bytes=_du(data.path))
    qs, _ = registry()
    rows: dict[str, int] = {}

    def one_pass(order=INTERACTIVE_MIX, kind="warmup"):
        for name in order:
            h.call(name, lambda n=name: qs[n](h.spark, data.path), kind=kind, rows=rows[name])

    def setup_once():
        h.new_spark(data.path)
        for name in INTERACTIVE_MIX:  # cold ingest + every plan built once
            h._current, h.table_reads = name, []
            with h.tracer.span("build", q=name):
                qs[name](h.spark, data.path)
            rows[name] = sum(data.rows[t] for t in set(h.table_reads))
        h.table_reads = None
        h.warm_up(one_pass)

    h.setup(setup_once)
    h.detail["staged_bytes"] = _du(os.environ["SPARK_GRAFT_STAGE_DIR"]) + _du(
        os.environ["SPARK_GRAFT_WAREHOUSE"])
    order = list(INTERACTIVE_MIX)
    h.rng.shuffle(order)
    h.measure(lambda kind: one_pass(order, kind))
    h.resolve_job_counts()
    frames = {n: qs[n](h.spark, data.path) for n in INTERACTIVE_MIX}
    lsh_pair_precision(h, frames)
    with h.timed("check_s"):
        checks.oracle(h, frames, data.path)
        checks.minhash_pairs(h, frames["dedup_minhash_lsh"], data.truth)


# ---------------------------------------------------------------------------
# corpus_batch: LLM-curation operators, every pass pays its builds
# ---------------------------------------------------------------------------

def corpus_batch(h: Harness) -> None:
    data = gen.corpus(os.path.join(h.work, "data"), h.seed, CORPUS_SCALE)
    h.detail.update(input_rows=data.total_rows, input_bytes=_du(data.path))
    qs, _ = registry()
    order = list(CORPUS_OPS)
    h.rng.shuffle(order)

    def one_pass(kind):
        # a new session per pass: the plan memo is keyed on the session,
        # so every call in the pass builds its plan again
        base, h.spark = h.spark, h.spark.newSession()
        session.apply_adaptive_policy(h.spark, data.path)
        try:
            for name in order:
                h.table_reads = []
                df = h.call(name, lambda n=name: qs[n](h.spark, data.path), kind=kind)
                h._rows_done += sum(data.rows[t] for t in set(h.table_reads))
                if df is not None and h.last_hit:
                    h.check(name, False, "served from the plan memo inside a batch pass")
        finally:
            h.table_reads = None
            h.spark = base

    def setup_once():
        h.new_spark(data.path)
        for name in data.rows:
            common.t(h.spark, data.path, name)

    h.setup(setup_once)
    h.detail["staged_bytes"] = _du(os.environ["SPARK_GRAFT_STAGE_DIR"])
    h.measure(one_pass)
    h.resolve_job_counts()
    frames = h.last_frames
    lsh_pair_precision(h, frames)
    with h.timed("check_s"):
        checks.oracle(h, frames, data.path)
        checks.minhash_pairs(h, frames["dedup_minhash_lsh"], data.truth)
        checks.clusters(h, frames["dedup_cluster_canonical"], data.truth)


# ---------------------------------------------------------------------------
# graph_build: the paper's pipeline, contacts -> graph -> dashboard queries
# ---------------------------------------------------------------------------

def graph_build(h: Harness) -> None:
    from procoggraph_spark.functions.chem import stable_id_from_string
    from procoggraph_spark.graph import queries as Q
    from procoggraph_spark.graph.algorithms import connected_components
    from procoggraph_spark.graph.model import ProCogGraph
    from procoggraph_spark.operators.ownership import assign_ownership
    from procoggraph_spark.pipeline.build_graph import build_graph
    from procoggraph_spark.pipeline.contacts import combined_contacts
    from procoggraph_spark.pipeline.parity import candidate_pairs, score_with_cache
    from procoggraph_spark.sources.sinks import write_neo4j_tsv

    data = gen.contacts(os.path.join(h.work, "data"), h.seed, GRAPH_ENTRIES)
    truth = data.truth
    h.detail.update(input_rows=data.rows["atom_contacts"], input_bytes=_du(data.path))
    inputs = {name: os.path.join(data.path, f"{name}.parquet") for name in data.rows}
    pick = np.random.default_rng(h.seed)
    pdb = truth["pdb_ids"][int(pick.integers(0, len(truth["pdb_ids"])))]
    ec = truth["ecs"][int(pick.integers(0, len(truth["ecs"])))]
    cognate_id = 1000 + int(pick.integers(0, truth["cognate_ligands"]))
    state: dict = {"pass": 0}

    def read(path):
        return h.spark.read.parquet(path)

    def dashboard(g):
        if "params" not in state:  # parameters read once from the first graph
            state["params"] = (
                g.nodes["boundDescriptor"].agg(F.min("ligandEntityID")).first()[0],
                [r[0] for r in g.nodes["domain"].filter(F.col("type") == "CATH")
                 .select("groupAccession").distinct().orderBy("groupAccession")
                 .limit(2).collect()],
            )
        lid, groups = state["params"]
        qs = {
            "q1": lambda: Q.q1_summary_counts(g),
            "q2": lambda: Q.q2_similarity_counts(g),
            "q3": lambda: Q.q3_search(g, "L1"),
            "q4": lambda: Q.q4_report_card(g, cognate_mode="Best"),
            "q5": lambda: Q.q5_domain_interactions(g, pdb),
            "q6": lambda: Q.q6_ligand_table(g, pdb, cognate_mode="All"),
            "q7": lambda: Q.q7_group_rollup(g, domain_kind="CATH"),
            "q8": lambda: Q.q8_group_binding_pct(g, domain_kind="CATH"),
            "q9": lambda: Q.q9_combinatorial(g),
            "q10": lambda: Q.q10_cognate_to_pdbs(g, cognate_id),
            "q11": lambda: Q.q11_ec_walk(g),
            "q11b": lambda: Q.q11_domain_hierarchy_walk(g, domain_kind="CATH"),
            "q12": lambda: Q.q12_chains_for_ec(g, ec),
            "q13": lambda: Q.q13_compare_domain_groups(
                g, groups[0], groups[-1], domain_kind="CATH"),
            "q14": lambda: Q.q14_descriptor_page(g, lid),
            "q15": lambda: Q.q15_neighborhood(g, pdb),
            "q16": lambda: Q.q16_viewer_payload(g, pdb),
        }
        return list(qs.items())

    def one_pass(kind):
        state["pass"] += 1
        out = os.path.join(h.work, f"pass{state['pass']}")
        cache = os.path.join(out, "parity_cache")
        shutil.copytree(os.path.join(data.path, "parity_cache_seed"), cache)
        with h.tracer.span("pipeline.combined_contacts"):
            combined_contacts(read(inputs["atom_contacts"])).write.parquet(
                os.path.join(out, "cc"))
        with h.tracer.span("pipeline.ownership"):
            cc = (
                read(os.path.join(out, "cc")).join(read(inputs["entities"]), "uniqueID")
                .withColumn("xref_db_acc", F.element_at(F.split("domain_accession", ":"), 3))
                .withColumn("pdb_descriptor", F.concat(F.lit("structure "), "pdb_id"))
                .withColumn("pdb_title", F.concat(F.lit("title "), "pdb_id"))
                .withColumn("pdb_keywords", F.lit("SYNTHETIC"))
            )
            assign_ownership(cc).write.parquet(os.path.join(out, "owned"))
        with h.tracer.span("pipeline.parity"):
            owned = read(os.path.join(out, "owned"))
            cognate = read(inputs["cognate"])
            bound = (
                owned.select(
                    stable_id_from_string(
                        F.concat_ws("", "hetCode", "description", "descriptor")
                    ).alias("ligand_entity_id"),
                    "descriptor", "ecList")
                .groupBy("ligand_entity_id", "descriptor")
                .agg(F.array_distinct(F.flatten(F.collect_list("ecList"))).alias("ec_list"))
            )
            scored = score_with_cache(h.spark, candidate_pairs(bound, cognate), cache)
            scored.select(
                "ec", F.col("ligand_entity_id").alias("pdb_ligand"), "cognate_ligand",
                "score", "pdbl_subparity", "parity_smarts", "error",
            ).write.parquet(os.path.join(out, "parity"))
        with h.tracer.span("pipeline.build_graph"):
            g = build_graph(owned, read(os.path.join(out, "parity")), cognate,
                            read(inputs["ec_records"]))
            g.save(os.path.join(out, "graph"))
        with h.tracer.span("graph.load"):
            g = ProCogGraph.load(h.spark, os.path.join(out, "graph"))
        with h.tracer.span("sinks.neo4j_tsv"):
            for name, frame, id_col in (
                ("boundEntity", g.nodes["boundEntity"], "uniqueID"),
                ("INTERACTS_WITH_LIGAND", g.edges["INTERACTS_WITH_LIGAND"], None),
                ("HAS_SIMILARITY", g.edges["HAS_SIMILARITY"], None),
            ):
                write_neo4j_tsv(frame, os.path.join(out, "tsv", name), id_col=id_col)
        with h.tracer.span("pipeline.clusters"):
            # interaction clusters: connected components of the
            # domain-ligand graph, on the engine's iteration primitive
            edges = g.edges["INTERACTS_WITH_LIGAND"].select(
                F.col("domain").alias("src"), F.col("uniqueID").alias("dst"))
            connected_components(edges).write.parquet(os.path.join(out, "clusters"))
        h._rows_done += data.rows["atom_contacts"]
        state["last"] = (out, g)
        for _ in range(DASHBOARD_ROUNDS):
            dashboard_round(kind)

    def dashboard_round(kind):
        for name, q in dashboard(state["last"][1]):
            h.call(name, q, kind=kind)

    h.setup(lambda: h.new_spark(data.path))
    # tracing overhead from the dashboard calls alone: re-running the
    # whole pipeline twice more would double a traced run
    h.measure(one_pass, overhead_pass=dashboard_round)
    h.resolve_job_counts()
    out, g = state["last"]
    cached = checks.parquet_rows(os.path.join(out, "parity_cache"))
    h.layers["parity_cache_hit_ratio"] = 1.0 - (cached - truth["cached_pairs"]) / max(1, cached)
    if h.tracer.enabled:
        rows = sum(df.count() for df in (g.nodes["boundEntity"],
                                         g.edges["INTERACTS_WITH_LIGAND"],
                                         g.edges["HAS_SIMILARITY"]))
        h.layers["tsv_bytes_per_row"] = _du(os.path.join(out, "tsv")) / max(1, rows)
    with h.timed("check_s"):
        checks.graph(h, out, g, truth)
