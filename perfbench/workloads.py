"""The workloads: set-up, closed-loop timed runs through the product
entry points, output checks, and the per-layer report of a traced run.

Every run is closed loop: the next pipeline run or micro-batch starts
only after the previous one has committed.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time
import traceback
import zlib
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import metrics as M
from perfbench import sparkmetrics as sm
from perfbench import truth as T
from perfbench.stats import median, summarize
from perfbench.tracing import ROOT, Tracer, install

PIPE = "deduplicator_spark.plans.pipeline"
STREAM = "deduplicator_spark.streaming.incremental"

#: Import sites wrapped in a traced run: (module, attribute, layer).
PIPELINE_SITES = [
    (PIPE, "DedupPipeline.run", "plans.pipeline"),
    (PIPE, "make_fingerprint_udf", "functions.fingerprints"),
    (PIPE, "encode_ids", "plans.chain"),
    (PIPE, "encode_fp", "plans.chain"),
    (PIPE, "decode_pairs", "plans.chain"),
    (PIPE, "decode_clusters", "plans.chain"),
    (PIPE, "band_explode", "operators.lsh"),
    (PIPE, "candidate_pairs", "operators.lsh"),
    (PIPE, "verify_pairs_two_stage", "operators.lsh"),
    (PIPE, "verify_pairs_two_stage_recompute", "operators.lsh"),
    (PIPE, "clusters_from_pairs", "operators.components"),
    (PIPE, "substring_pairs", "operators.substring"),
    (PIPE, "with_canonical", "operators.ranking"),
    (PIPE, "actions_from_ranking", "operators.ranking"),
    (PIPE, "undo_script", "operators.ranking"),
    # imported by DedupPipeline.run at call time
    ("deduplicator_spark.sources.extract", "extract_text", "sources.extract"),
]
STREAM_SITES = [
    (STREAM, "IncrementalDedup.process_batch", "streaming.incremental"),
    (STREAM, "IncrementalDedup.clusters", "streaming.incremental"),
    (STREAM, "make_fingerprint_udf", "functions.fingerprints"),
    (STREAM, "band_explode", "operators.lsh"),
    (STREAM, "candidate_pairs", "operators.lsh"),
    (STREAM, "verify_pairs", "operators.lsh"),
    (STREAM, "clusters_from_pairs", "operators.components"),
]
#: Result recorders without a span: substring_pairs imports bucket_pairs
#: at call time, so this sees its anchor buckets (LSH bound its own
#: reference at import and is not affected).
PROBES = [("deduplicator_spark.operators.buckets", "bucket_pairs")]

#: Workload sizes, chosen so one run of the benchmark fits its time budget
#: on a 4-core box (see perfbench/README.md).
SIZES = {
    "web_html_substring": {"docs": 400, "tok_scale": 4},
    "incremental_ingest": {"docs": 1800, "tok_scale": 1, "batches": 3, "batch_docs": 200},
}
#: Untimed warm-up sessions of incremental_ingest before its timed ones.
WARM_SESSIONS = 2
#: Driver JVM heap, initial and maximum.
DRIVER_MEM = "2g"
UDF_BATCH = 2048


class CheckFailed(RuntimeError):
    """The program's output failed a correctness check."""


@dataclass
class Corpus:
    path: str
    table: pa.Table
    urls: list[str]
    set_of: dict[str, frozenset[int]]
    truth: set[tuple[str, str]]


@dataclass
class Run:
    k: int
    traced: bool
    wall_s: float = 0.0
    cpu_s: float = 0.0
    cpu_parts: tuple[float, ...] = ()
    rss_mb: float = 0.0
    rss_parts: tuple[float, ...] = ()
    shuffle_mb: float = 0.0
    recall: float = 0.0
    false_pos: int = 0
    digest: str = ""
    batch_walls: list[float] = field(default_factory=list)
    error: str | None = None


class Bench:
    """One Spark session and the counters read around its runs."""

    def __init__(self, spark, work: str, cores: int):
        from deduplicator_spark.config import DEFAULT_CONFIG

        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.cores = cores
        self.cfg = DEFAULT_CONFIG
        self.jvm_pid = self.sc._gateway.proc.pid
        self.rest = sm.SparkRest(self.sc.uiWebUrl, self.sc.applicationId)

    def group(self, g: str) -> None:
        self.sc.setJobGroup(g, g)

    def counters(self, groups: list[str]) -> dict[str, dict]:
        """Per-group Spark counters once the status listener has caught up."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception as exc:  # py4j surfaces JVM errors as several types
            raise sm.MeasurementError(f"status listener did not drain: {exc}") from exc
        expect = sum(len(self.sc.statusTracker().getJobIdsForGroup(g)) for g in groups)
        return sm.group_counters(self.rest, groups, expect)

    def count(self, df) -> int:
        self.group("pb-post")
        return df.count()

    def fresh_dir(self, name: str) -> str:
        p = os.path.join(self.work, name)
        shutil.rmtree(p, ignore_errors=True)
        return p


def start_session(work: str, cores: int):
    """The product session (``session.build_session``) at local[cores],
    with its UI on for the REST counters and every file it writes kept
    under ``work``.

    The driver JVM's heap starts at its maximum size: G1 otherwise grows the
    heap when its own timing says so, and the JVM's resident memory over
    the same ingest work then ranged from 1.4 to 2.1 GB between runs."""
    dirs = {d: os.path.join(work, d) for d in ("local", "ckpt", "tmp", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=dirs["local"],
        DEDUP_CKPT_DIR=dirs["ckpt"],
        TMPDIR=dirs["tmp"],
        SPARK_DRIVER_MEM=DRIVER_MEM,
    )
    from deduplicator_spark.session import build_session

    spark = build_session(
        app_name="perfbench",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.local.dir": dirs["local"],
            "spark.sql.warehouse.dir": dirs["warehouse"],
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={dirs['tmp']}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns) to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
    finally:
        # the JVM exits when its stdin closes, even if stop() failed
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# set-up
# ---------------------------------------------------------------------------


def prepare(bench: Bench, name: str, seed: int, docs: int, tok_scale: int) -> Corpus:
    """Generate the corpus and its truth pairs.

    The rows come from the generator behind ``sources.pages.synth_pages``,
    called in this process on the same ids and seed, which gives the same
    rows without a Spark job.  They are written as one file per core, so
    Spark reads them in as many partitions as ``synth_pages`` makes."""
    from deduplicator_spark.sources.pages import PAGES_SCHEMA, _gen_batch

    path = bench.fresh_dir(name)
    os.makedirs(path)
    pdf = _gen_batch(np.arange(docs), docs, seed, tok_scale)[PAGES_SCHEMA.fieldNames()]
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    # Spark reads microsecond UTC timestamps as its TIMESTAMP type
    ts = table.schema.get_field_index("warc_ts")
    table = table.set_column(ts, "warc_ts", table.column(ts).cast(pa.timestamp("us", tz="UTC")))
    for i, ids in enumerate(np.array_split(np.arange(docs), bench.cores)):
        pq.write_table(table.slice(int(ids[0]), len(ids)), os.path.join(path, f"part-{i}.parquet"))
    urls = table.column("url").to_pylist()
    if len(set(urls)) != len(urls):
        raise CheckFailed("generated corpus has repeated urls")
    sets = T.shingle_sets(table.column("text").to_pylist(), bench.cfg.shingle_k)
    truth = T.truth_pairs(urls, sets, bench.cfg.verify_jaccard)
    return Corpus(path, table, urls, dict(zip(urls, sets)), truth)


# ---------------------------------------------------------------------------
# measured runs
# ---------------------------------------------------------------------------


def measured(bench: Bench, run: Run, call: Callable[[], object], tracer: Tracer | None):
    """Time ``call`` with process-tree CPU and peak RSS around it, then
    read its Spark counters.  Returns ``call``'s result."""
    group = f"pb-r{run.k}"
    with sm.TreeCpu(bench.jvm_pid) as cpu, sm.PeakRss(bench.jvm_pid) as rss:
        if tracer is None:
            bench.group(group)
            t0 = time.perf_counter()
            out = call()
            run.wall_s = time.perf_counter() - t0
        else:
            with tracer.span(ROOT) as root:
                out = call()
            run.wall_s = root.duration
    bench.group("pb-post")
    run.rss_mb, run.rss_parts = rss.result(), rss.peak_parts
    groups = [group] if tracer is None else [s.group for s in tracer.spans]
    counters = bench.counters(groups)
    run.shuffle_mb = sum(c["shuffle_mb"] for c in counters.values())
    # (JVM, Python workers, JVM task CPU from the job groups)
    run.cpu_parts = (*cpu.result(), sum(c["cpu_s"] for c in counters.values()))
    run.cpu_s = run.cpu_parts[0] + run.cpu_parts[1]
    return out, counters


def closed_loop(seconds: float, trace: bool, once: Callable[[int, bool], Run]) -> list[Run]:
    """Run ``once`` back to back while the next run is predicted to end
    within ``seconds``; at least one run, and with ``trace`` at least
    one untraced and one traced run, alternating."""
    runs: list[Run] = []
    t_start = time.perf_counter()
    lap: list[float] = []
    while True:
        k = len(runs)
        t0 = time.perf_counter()
        runs.append(once(k, trace and k % 2 == 1))
        lap.append(time.perf_counter() - t0)
        done = len(runs) >= (2 if trace else 1)
        if done and time.perf_counter() - t_start + median(lap) > seconds:
            return runs


def guarded(run: Run, body: Callable[[Run], None]) -> Run:
    """A run that raises is a failed run, never a missing or zero value."""
    try:
        body(run)
    except Exception as exc:  # the boundary that must keep the set going
        run.error = f"{type(exc).__name__}: {exc}"
        traceback.print_exc(file=sys.stderr)
    return run


def check_gate(corpus: Corpus, cluster_rows: list, emitted: list, cfg) -> tuple[float, int]:
    cluster_of = {r[0]: r[1] for r in cluster_rows}
    rec = T.recall(corpus.truth, cluster_of)
    fp = T.false_positives(emitted, corpus.set_of, cfg.verify_jaccard)
    if rec < 0.99 or fp:
        raise CheckFailed(f"dup_pair_recall={rec:.4f} false_pos_pairs={fp}")
    return rec, fp


# ---------------------------------------------------------------------------
# web_html_substring: DedupPipeline.run with extraction and substring pass
# ---------------------------------------------------------------------------

WEB_RUN_ARGS = {"extract_text_from_html": True, "store_shingles": False, "include_substring": True}


def web_html_substring(bench: Bench, seed: int, seconds: float, trace: bool) -> dict:
    from deduplicator_spark.plans import pipeline as P

    size = SIZES["web_html_substring"]
    t0 = time.perf_counter()
    corpus = prepare(bench, "corpus", seed, **size)
    pages = bench.spark.read.parquet(corpus.path)
    prep_s = time.perf_counter() - t0

    def pipeline_run(k: int) -> tuple[Callable[[], object], list]:
        wd = bench.fresh_dir(f"wd{k}")
        holder: list = []

        def call():
            pl = P.DedupPipeline(bench.spark, bench.cfg, work_dir=wd)
            holder.append(pl)
            return pl.run(pages, **WEB_RUN_ARGS)

        return call, holder

    def check(run: Run, out: dict) -> None:
        bench.group("pb-post")
        clusters = [tuple(r) for r in out["clusters"].collect()]
        actions = [tuple(r) for r in out["actions"].collect()]
        subs = [tuple(r) for r in out["substring_pairs"].select("url_a", "url_b", "matched_len").collect()]
        near = [tuple(r) for r in out["near_pairs"].select("url_a", "url_b").collect()]
        run.recall, run.false_pos = check_gate(corpus, clusters, near, bench.cfg)
        run.digest = T.digest([T.digest(clusters), T.digest(actions), T.digest(subs)])

    # warm-up: the same call on the same corpus; its digest is the reference
    t0 = time.perf_counter()
    warm = Run(k=-1, traced=False)

    def warm_body(run: Run) -> None:
        bench.group("pb-warm")
        call, _ = pipeline_run(-1)
        check(run, call())

    guarded(warm, warm_body)
    warm_s = time.perf_counter() - t0

    traces: list[tuple[Run, Tracer, list]] = []

    def once(k: int, traced: bool) -> Run:
        def body(run: Run) -> None:
            call, holder = pipeline_run(k)
            if traced:
                tracer = Tracer(f"pb-t{k}", bench.group)
                patches = install(tracer, PIPELINE_SITES, PROBES)
                try:
                    out, counters = measured(bench, run, call, tracer)
                finally:
                    patches.restore()
                traces.append((run, tracer, [out, counters, holder[0]]))
            else:
                out, _ = measured(bench, run, call, None)
            check(run, out)
            if run.digest != warm.digest:
                raise CheckFailed(f"run {k} output digest differs from the warm-up run's")

        return guarded(Run(k=k, traced=traced), body)

    runs = closed_loop(seconds, trace, once)
    result = summarize_runs([warm] + runs, len(corpus.urls), prep_s + warm_s)
    result["setup_parts"] = {"prepare_s": prep_s, "warmup_s": warm_s}
    if trace:
        texts = corpus.table.column("text").to_pandas()
        html = corpus.table.column("html").to_pandas()
        result["layers"] = pipeline_layers(bench, runs, traces, texts, html)
    return result


# ---------------------------------------------------------------------------
# incremental_ingest: IncrementalDedup.process_batch over a restored state
# ---------------------------------------------------------------------------


def split_by_url_hash(urls: list[str], base_docs: int, batches: int) -> tuple[list[int], list[list[int]]]:
    """Row indices of the base state and of each micro-batch, by
    crc32(url): rows are ordered by hash and cut into the base and
    ``batches`` equal batches."""
    order = sorted(range(len(urls)), key=lambda i: (zlib.crc32(urls[i].encode()), urls[i]))
    base, rest = order[:base_docs], order[base_docs:]
    step = len(rest) / batches
    return base, [rest[round(b * step) : round((b + 1) * step)] for b in range(batches)]


def incremental_ingest(bench: Bench, seed: int, seconds: float, trace: bool) -> dict:
    from deduplicator_spark.streaming import incremental as I

    size = SIZES["incremental_ingest"]
    n_batches, batch_docs = size["batches"], size["batch_docs"]
    t0 = time.perf_counter()
    corpus = prepare(bench, "corpus", seed, docs=size["docs"], tok_scale=size["tok_scale"])
    base_idx, batch_idx = split_by_url_hash(
        corpus.urls, size["docs"] - n_batches * batch_docs, n_batches
    )

    def write(name: str, idx: list[int]):
        p = bench.fresh_dir(name)
        os.makedirs(p)
        pq.write_table(corpus.table.take(pa.array(idx)), os.path.join(p, "part-0.parquet"))
        return bench.spark.read.parquet(p)

    base = write("base", base_idx)
    batch_frames = [write(f"batch{b}", idx) for b, idx in enumerate(batch_idx)]
    state0 = bench.fresh_dir("state-base")
    bench.group("pb-setup")
    I.IncrementalDedup(bench.spark, bench.cfg, state0).process_batch(base)
    prep_s = time.perf_counter() - t0
    new_docs = sum(len(i) for i in batch_idx)

    def restored(k: int):
        p = bench.fresh_dir(f"state{k}")
        shutil.copytree(state0, p)
        return I.IncrementalDedup(bench.spark, bench.cfg, p)

    def session(inc, run: Run) -> Callable[[], list]:
        def call():
            for b, frame in enumerate(batch_frames):
                tb = time.perf_counter()
                inc.process_batch(frame, epoch_id=b)
                run.batch_walls.append(time.perf_counter() - tb)
            return inc.clusters().collect()

        return call

    def check(run: Run, inc, cluster_rows: list) -> None:
        """Gate the clusters the session returned and the edges it committed."""
        bench.group("pb-post")
        clusters = [tuple(r) for r in cluster_rows]
        edges = [tuple(r) for r in bench.spark.read.parquet(os.path.join(inc.state_dir, "edges")).collect()]
        run.recall, run.false_pos = check_gate(corpus, clusters, edges, bench.cfg)
        run.digest = T.digest(clusters)

    # warm-up: whole sessions on throwaway copies of the base state, so the
    # timed session runs past the steepest part of the JVM's JIT warm-up
    # (see perfbench/README.md); the first one's cluster digest is the
    # reference for every later session
    t0 = time.perf_counter()
    warm = [Run(k=-1 - w, traced=False) for w in range(WARM_SESSIONS)]

    def warm_body(run: Run) -> None:
        bench.group("pb-warm")
        inc = restored(run.k)
        check(run, inc, session(inc, run)())
        if run.digest != warm[0].digest:
            raise CheckFailed(f"warm-up session {run.k} cluster digest differs from the first one's")

    for run in warm:
        guarded(run, warm_body)
    warm_s = time.perf_counter() - t0

    traces: list[tuple[Run, Tracer, list]] = []

    def once(k: int, traced: bool) -> Run:
        def body(run: Run) -> None:
            inc = restored(k)
            if traced:
                tracer = Tracer(f"pb-t{k}", bench.group)
                patches = install(tracer, STREAM_SITES, [])
                try:
                    rows, counters = measured(bench, run, session(inc, run), tracer)
                finally:
                    patches.restore()
                traces.append((run, tracer, [counters, inc]))
            else:
                rows, _ = measured(bench, run, session(inc, run), None)
            check(run, inc, rows)
            if run.digest != warm[0].digest:
                raise CheckFailed(f"session {k} cluster digest differs from the warm-up session's")

        return guarded(Run(k=k, traced=traced), body)

    runs = closed_loop(seconds, trace, once)
    result = summarize_runs(warm + runs, new_docs, prep_s + warm_s)
    ok = [r for r in runs if r.error is None and not r.traced]
    if ok:
        result["metrics"]["batch_p50_s"] = median([w for r in ok for w in r.batch_walls])
        result["batch_latency"] = summarize([w for r in ok for w in r.batch_walls])
    result["setup_parts"] = {"prepare_s": prep_s, "warmup_s": warm_s}
    if trace:
        texts = corpus.table.column("text").to_pandas()
        result["layers"] = stream_layers(bench, runs, traces, texts)
    return result


# ---------------------------------------------------------------------------
# reports
# ---------------------------------------------------------------------------


def summarize_runs(runs: list[Run], docs: int, setup_s: float) -> dict:
    """End-to-end metrics from the untraced timed runs (k >= 0)."""
    attempted = len(runs)
    failed = sum(r.error is not None for r in runs)
    timed = [r for r in runs if r.k >= 0 and not r.traced and r.error is None]
    checked = [r for r in runs if r.error is None]
    out = {
        "attempted": attempted,
        "failed": failed,
        "errors": [f"run {r.k}: {r.error}" for r in runs if r.error],
        "gate": {
            "false_pos_pairs": sum(r.false_pos for r in runs),
            "fail_ratio": failed / attempted,
        },
        "metrics": {},
        "runs": [
            {"k": r.k, "traced": r.traced, "wall_s": r.wall_s, "cpu_s": r.cpu_s,
             "cpu_parts": r.cpu_parts, "rss_mb": r.rss_mb, "rss_parts": r.rss_parts, "shuffle_mb": r.shuffle_mb, "recall": r.recall,
             "batch_walls": r.batch_walls, "ok": r.error is None}
            for r in runs
        ],
    }
    if not timed:
        return out
    kdocs = docs / 1000.0
    wall = median([r.wall_s for r in timed])
    out["metrics"] = {
        "docs_per_s": docs / wall,
        "batch_p50_s": wall,
        "peak_rss_mb": median([r.rss_mb for r in timed]),
        "cpu_s_per_kdoc": median([r.cpu_s for r in timed]) / kdocs,
        "shuffle_mb_per_kdoc": median([r.shuffle_mb for r in timed]) / kdocs,
        "dup_pair_recall": min(r.recall for r in checked),
        "setup_s": setup_s,
    }
    out["wall"] = summarize([r.wall_s for r in timed])
    return out


def _span_layers(bench: Bench, tracer: Tracer, counters: dict[str, dict]) -> dict[str, float]:
    """The per-span metrics of every layer from one traced run."""
    self_t = tracer.layer_self_times()
    groups = tracer.groups_by_layer()
    out: dict[str, float] = {}
    for layer in M.LAYERS:
        agg = {"cpu_s": 0.0, "run_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0, "jobs": 0, "failed_tasks": 0}
        durations: list[float] = []
        for g in groups.get(layer, []):
            c = counters[g]
            for key in agg:
                agg[key] += c[key]
            for stage in c["stages"]:
                durations += bench.rest.task_durations_ms(stage)
        wall = self_t.get(layer, 0.0)
        out[f"{layer}.wall_s"] = wall
        out[f"{layer}.cpu_s"] = agg["cpu_s"]
        out[f"{layer}.shuffle_mb"] = agg["shuffle_mb"]
        out[f"{layer}.spill_mb"] = agg["spill_mb"]
        out[f"{layer}.jobs"] = agg["jobs"]
        out[f"{layer}.task_skew"] = sm.task_skew(durations)
        out[f"{layer}.core_util"] = agg["run_s"] / (wall * bench.cores) if wall > 0 else 0.0
        out[f"{layer}.failed_tasks"] = agg["failed_tasks"]
    return out


def udf_s_per_kdoc(fn: Callable, series, reps: int = 3) -> tuple[float, list]:
    """Median over ``reps`` passes of the UDF body on UDF_BATCH-row
    batches, per 1k rows; also the last pass's outputs."""
    times, outs = [], []
    for _ in range(reps):
        outs = []
        t0 = time.perf_counter()
        for lo in range(0, len(series), UDF_BATCH):
            outs.append(fn(series.iloc[lo : lo + UDF_BATCH].reset_index(drop=True)))
        times.append(time.perf_counter() - t0)
    return median(times) / (len(series) / 1000.0), outs


def fingerprint_udf_metrics(bench: Bench, texts, include_shingles: bool) -> dict[str, float]:
    from deduplicator_spark.functions.fingerprints import make_fingerprint_udf

    fn = make_fingerprint_udf(bench.cfg, include_shingles=include_shingles).func
    s_per_kdoc, outs = udf_s_per_kdoc(fn, texts)
    return {
        "functions.fingerprints.udf_s_per_kdoc": s_per_kdoc,
        "functions.fingerprints.quarantined_docs": int(sum((o["n_shingles"] == 0).sum() for o in outs)),
    }


def _median_layers(per_run: list[dict[str, float]]) -> dict[str, float]:
    return {k: median([d[k] for d in per_run]) for k in per_run[0]}


def _overhead(runs: list[Run]) -> float:
    plain = [r.wall_s for r in runs if not r.traced and r.error is None]
    traced = [r.wall_s for r in runs if r.traced and r.error is None]
    if not plain or not traced:
        raise CheckFailed("tracing overhead needs an untraced and a traced run that passed")
    return median(traced) - median(plain)


def _check_sum(layers: dict[str, float], traced_wall: float) -> None:
    total = sum(layers[f"{l}.wall_s"] for l in M.LAYERS) + layers["plans.pipeline.unattributed_s"]
    if abs(total - traced_wall) > 1e-6 * max(1.0, traced_wall):
        raise CheckFailed(f"layer walls sum to {total:.6f}s, traced wall is {traced_wall:.6f}s")


def _lsh_and_components(bench: Bench, tracer: Tracer, verify_names: list[str]) -> dict[str, float]:
    """Row counts of the candidate, verified and clustered frames."""
    cand_calls = tracer.results("candidate_pairs")
    cand = sum(bench.count(r.result[0]) for r in cand_calls)
    verified = sum(bench.count(r.result) for n in verify_names for r in tracer.results(n))
    cc = tracer.results("clusters_from_pairs")
    return {
        "operators.lsh.candidate_pairs": cand,
        "operators.lsh.overflow_buckets": sum(bench.count(r.result[1]) for r in cand_calls),
        "operators.lsh.verified_pairs": verified,
        "operators.lsh.verify_yield": verified / cand if cand else 0.0,
        "operators.components.edges_in": sum(bench.count(r.args[0]) for r in cc),
        "operators.components.clustered_docs": sum(bench.count(r.result) for r in cc),
    }


def pipeline_layers(bench: Bench, runs: list[Run], traces: list, texts, html) -> dict[str, float]:
    """Per-layer metrics of the traced DedupPipeline runs.  Row counts of
    the frames the wrapped calls returned are taken after the run, with
    timing stopped."""
    from deduplicator_spark.sources.extract import extract_text

    per_run = []
    for run, tracer, (out, counters, pl) in traces:
        if run.error is not None:
            continue
        d = _span_layers(bench, tracer, counters)
        root_self = tracer.self_times()[0]
        ckpt = sum(m.wall_s for m in pl.metrics)
        d["plans.pipeline.checkpoint_s"] = ckpt
        d["plans.pipeline.unattributed_s"] = root_self + d["plans.pipeline.wall_s"] - ckpt
        d["plans.pipeline.wall_s"] = ckpt
        _check_sum(d, run.wall_s)

        d.update(_lsh_and_components(bench, tracer, ["verify_pairs_two_stage", "verify_pairs_two_stage_recompute"]))
        # the two-stage verify broadcasts when the candidate count fits
        # the config's bound; the recompute shape never broadcasts
        d["operators.lsh.verify_broadcast"] = float(
            any(bench.count(r.args[0]) <= bench.cfg.broadcast_pairs_rows
                for r in tracer.results("verify_pairs_two_stage"))
        )
        anchors = [r for r in tracer.results("bucket_pairs") if r.layer == "operators.substring"]
        a_pairs = sum(bench.count(r.result[0]) for r in anchors)
        s_verified = sum(bench.count(r.result[0]) for r in tracer.results("substring_pairs"))
        d["operators.substring.anchor_pairs"] = a_pairs
        d["operators.substring.overflow_anchors"] = sum(bench.count(r.result[1]) for r in anchors)
        d["operators.substring.verified_pairs"] = s_verified
        d["operators.substring.verify_yield"] = s_verified / a_pairs if a_pairs else 0.0
        d["operators.ranking.actions_rows"] = sum(bench.count(r.result) for r in tracer.results("actions_from_ranking"))
        d["plans.chain.hash_ok"] = float(all(r.result[1] for r in tracer.results("encode_ids")))
        per_run.append(d)
    if not per_run:
        raise CheckFailed("no traced run passed")
    layers = _median_layers(per_run)
    layers.update(fingerprint_udf_metrics(bench, texts, WEB_RUN_ARGS["store_shingles"]))
    layers["sources.extract.udf_s_per_kdoc"], _ = udf_s_per_kdoc(extract_text.func, html)
    layers["plans.pipeline.tracing_overhead_s"] = _overhead(runs)
    for name in ("streaming.incremental.latency_growth", "streaming.incremental.state_files",
                 "streaming.incremental.fresh_pairs"):
        layers[name] = 0.0  # not on this workload's path
    return layers


def stream_layers(bench: Bench, runs: list[Run], traces: list, texts) -> dict[str, float]:
    """Per-layer metrics of the traced ingest sessions."""
    per_run = []
    for run, tracer, (counters, inc) in traces:
        if run.error is not None:
            continue
        d = _span_layers(bench, tracer, counters)
        d["plans.pipeline.checkpoint_s"] = 0.0
        d["plans.pipeline.unattributed_s"] = tracer.self_times()[0]
        _check_sum(d, run.wall_s)
        d.update(_lsh_and_components(bench, tracer, ["verify_pairs"]))
        d["operators.lsh.verify_broadcast"] = float(
            any(r.kwargs.get("broadcast_pairs", False) for r in tracer.results("verify_pairs"))
        )
        d["streaming.incremental.fresh_pairs"] = d["operators.lsh.verified_pairs"]
        d["streaming.incremental.state_files"] = sum(
            f.endswith(".parquet") for _, _, files in os.walk(inc.state_dir) for f in files
        )
        for name in ("operators.substring.anchor_pairs", "operators.substring.overflow_anchors",
                     "operators.substring.verified_pairs", "operators.substring.verify_yield",
                     "operators.ranking.actions_rows", "plans.chain.hash_ok"):
            d[name] = 0.0  # not on this workload's path
        per_run.append(d)
    if not per_run:
        raise CheckFailed("no traced run passed")
    layers = _median_layers(per_run)
    layers.update(fingerprint_udf_metrics(bench, texts, include_shingles=True))
    layers["sources.extract.udf_s_per_kdoc"] = 0.0  # not on this workload's path
    layers["plans.pipeline.tracing_overhead_s"] = _overhead(runs)
    growth = [r.batch_walls[-1] / r.batch_walls[0] for r in runs if not r.traced and r.error is None]
    if not growth:
        raise CheckFailed("latency growth needs an untraced session that passed")
    layers["streaming.incremental.latency_growth"] = median(growth)
    return layers


WORKLOADS = {
    "web_html_substring": web_html_substring,
    "incremental_ingest": incremental_ingest,
}
