"""The benchmark's workloads: what each runs, checks and measures.

Both workloads are a closed loop with one client: one pipeline run at a
time, the next started when the previous one has finished. A run sets up
(session start + dictionary build) several times and reports the median,
runs one untimed warm-up pipeline on part of the input, then times a fixed
number of pipelines over the whole input (see NOMINAL_PIPELINE_S). Every
pipeline's output is checked outside the clock.

Traced runs add layer probes that the timed runs leave out: the tagvec
kernel alone on the driver and the tagger alone; for chain_dense the
tools/run_job.py shape (lineage + catalog layers) and an open-loop stream
of raw turns through the scalar charclass tagger route (streaming layer);
for chain_bigdict canonical_entities over one mention per core surface,
which is past the connected-components driver threshold and so runs the
distributed large-star/small-star path (canonicalize.star layer).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from autoner_spark import oracle, tagger, tagvec
from autoner_spark.catalog import TableCatalog
from autoner_spark.dictionary import build_trie
from autoner_spark.lineage import bucketize_transcripts, metrics_df, tag_resumable
from autoner_spark.session import get_spark
from autoner_spark.streaming.stream_tagger import (
    mention_rate,
    read_transcripts_stream,
)
from autoner_spark.tagger import tag_transcripts
from autoner_spark.textutil import simple_tokenize_non_sep, tokenize_turn
from autoner_spark.triples import (
    assemble_triples,
    canonical_entities,
    dict_surfaces_df,
    link_mentions,
    surface_norm_col,
)
from pyspark.sql import functions as F

from gen import Inputs, Shape, generate
from tracer import Tracer

SETUP_REPS = 3          # set-ups per run (at least); setup_s is their median
SETUP_WARM_S = 1.0
SETUP_MAX_REPS = 12
SAMPLE_TURNS = 64       # turns per run checked against the oracle
# A run times a fixed number of pipelines: --seconds over the workload's
# nominal pipeline seconds (measured on a 4-core 2 GHz host), at least
# MIN_PIPELINES. The JIT keeps warming over the first pipelines, so a count
# that followed the host's speed would time different points of that curve
# from run to run; a fixed count times the same ones on both commits.
MIN_PIPELINES = 2
NOMINAL_PIPELINE_S = {"chain_dense": 6.0, "chain_bigdict": 9.0}
KERNEL_TURNS = 20_000   # driver-side tagvec probe: the first turns of a corpus
JOB_BUCKETS = 4
# stream probe: files dropped one per STREAM_INTERVAL_S, each consumed by
# one trigger. A trigger over one 200-turn file took ~1.0 s on a 4-core
# 2 GHz host (mostly per-batch overhead: one tagging task, four state-store
# tasks, offset and commit logs), so the offered 133 turns/s keeps the query
# busy about two thirds of the time and latency is not queueing.
STREAM_WARM_FILES = 3
STREAM_INTERVAL_S = 1.5
STREAM_FILE_TURNS = 200
STREAM_MAX_FILES = 48
STREAM_DRAIN_S = 60.0

SHAPES = {
    "chain_dense": Shape("dense", 24_000, 16),
    "chain_bigdict": Shape("bigdict", 6_000, 16),
    "stream": Shape("dense", STREAM_FILE_TURNS * STREAM_MAX_FILES,
                    STREAM_MAX_FILES, raw_text=True),
}


@dataclass
class Run:
    """One benchmark run: its settings, tracer and what it observed."""

    workload: str
    seed: int
    seconds: float
    work: str
    cores: int
    heap: str
    tracer: Tracer
    attempted: int = 0
    failed: int = 0
    facts: dict = field(default_factory=dict)
    layer_extra: dict = field(default_factory=dict)
    t0: float = field(default_factory=time.perf_counter)

    def mark(self, phase: str) -> None:
        """Record when a phase of the run ended (seconds since start)."""
        self.facts.setdefault("phase_end_s", {})[phase] = round(
            time.perf_counter() - self.t0, 3)

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it. Below 20 samples that percentile would not exceed
    the median, so the maximum is reported instead."""
    s = sorted(samples)
    if len(s) < 20:
        return s[-1], 100.0
    return s[len(s) - 11], 100.0 * (len(s) - 10) / len(s)


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# ---------------------------------------------------------------------------
# set-up
# ---------------------------------------------------------------------------

def start_session(run: Run):
    return get_spark(
        "perfbench",
        cores=run.cores,
        shuffle_partitions=run.cores,
        extra_conf={
            "spark.driver.memory": run.heap,
            # the whole heap is committed and touched at launch, so the
            # driver JVM's share of peak_pss_mb does not depend on when its
            # collector happened to grow the heap during a run
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(run.work, 'tmp')} "
                f"-Xms{run.heap} -XX:+AlwaysPreTouch",
            "spark.local.dir": os.path.join(run.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the corpora are a few MB in 16 files: 1 MB splits (with the
            # default 4 MB open cost) give one task per file, four per slot
            "spark.sql.files.maxPartitionBytes": str(1024 * 1024),
        },
    )


def setup(run: Run, inputs: Inputs):
    """Start the session and build the trie repeatedly: the first start
    launches the JVM, later ones restart the context inside it. Repeats at
    least SETUP_REPS times and until SETUP_WARM_S of restarts are collected,
    so a cheap set-up still gets a steady median. Returns (spark, trie,
    median set-up seconds)."""
    tr = run.tracer
    spark, times = None, []
    while len(times) < SETUP_REPS or (sum(times[1:]) < SETUP_WARM_S
                                       and len(times) < SETUP_MAX_REPS):
        tr.round = len(times)
        if spark is not None:
            tr.bind(None)
            spark.stop()
        t0 = time.perf_counter()
        with tr.span("session"):
            spark = start_session(run)
        tr.bind(spark)
        with tr.span("dictionary") as s:
            trie = build_trie(inputs.spec)
            s.counts["rows_out"] = trie.num_nodes()
        times.append(time.perf_counter() - t0)
    spark.sparkContext.setLogLevel("ERROR")
    run.mark("setup")
    run.facts["setup_s_each"] = times
    run.layer_extra["session.start_s"] = tr.per_call_s("session")
    run.layer_extra["dictionary.surfaces"] = (
        len(inputs.spec.core) + len(inputs.spec.full))
    run.layer_extra["dictionary.trie_nodes"] = trie.num_nodes()
    return spark, trie, statistics.median(times)


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------

class OutputCheck:
    """Mention span sets of a seeded sample of turns against
    ``oracle.tag_turn``, and triple counts against the mentions."""

    def __init__(self, run: Run, inputs: Inputs, trie, tokenize) -> None:
        table = pa.concat_tables(
            pq.read_table(f, columns=["conv_id", "turn_idx", "text", "ts"])
            for f in inputs.files)
        rng = np.random.default_rng([run.seed, 7])
        idx = np.sort(rng.choice(table.num_rows, size=SAMPLE_TURNS,
                                 replace=False))
        self.sample = table.take(pa.array(idx))
        self.expected = {}
        for c, t, x in zip(*(self.sample.column(k).to_pylist()
                             for k in ("conv_id", "turn_idx", "text"))):
            self.expected[f"{c}#{t}"] = sorted(
                (m.begin_tok, m.end_tok, m.surface, m.entity_type)
                for m in oracle.tag_turn(tokenize(x), trie))
        self.first_counts = None

    def mentions_ok(self, mentions) -> bool:
        key = F.concat_ws("#", "conv_id", "turn_idx")
        rows = (mentions.filter(key.isin(list(self.expected)))
                .select(key.alias("k"), "begin_tok", "end_tok", "surface",
                        "entity_type").collect())
        got = defaultdict(list)
        for r in rows:
            got[r.k].append((r.begin_tok, r.end_tok, r.surface, r.entity_type))
        return all(sorted(got.get(k, [])) == v
                   for k, v in self.expected.items())

    def same_counts(self, n_mentions: int, n_triples: int) -> bool:
        """Every pipeline run over the same input gives the same counts."""
        if self.first_counts is None:
            self.first_counts = (n_mentions, n_triples)
        return (n_mentions, n_triples) == self.first_counts

    def full_ok(self, linked, n_triples: int) -> bool:
        """triples = sum over mentions of (types + 1), and the sampled
        turns' mention spans equal the oracle's."""
        want = linked.agg(F.sum(F.size(F.split("entity_type", ",")) + 1)
                          ).first()[0] or 0
        return want == n_triples and self.mentions_ok(linked)


def distinct_cc_edges(linked) -> int:
    """The symmetric distinct edge count that canonical_entities compares
    with the connected-components driver threshold."""
    e = linked.select(
        F.col("surface_norm").alias("src"),
        F.coalesce(surface_norm_col(F.col("dict_surface")),
                   F.col("surface_norm")).alias("dst"))
    sym = e.union(e.select(F.col("dst").alias("src"),
                           F.col("src").alias("dst")))
    return sym.filter(F.col("src").isNotNull() & F.col("dst").isNotNull()
                      ).distinct().count()


# ---------------------------------------------------------------------------
# layer probes (traced runs only)
# ---------------------------------------------------------------------------

def kernel_probe(run: Run, inputs: Inputs, trie) -> None:
    """tagvec.tag_record_batch single-threaded on the driver over the
    corpus's first KERNEL_TURNS turns (Spark's 10k-row Arrow batches)."""
    table = pa.concat_tables(
        pq.read_table(f, columns=["conv_id", "turn_idx", "text"])
        for f in inputs.files[:4]).slice(0, KERNEL_TURNS)
    batches = table.to_batches(max_chunksize=10_000)
    vec = tagvec.compile_vec(tagger.compile_trie(trie))
    with run.tracer.span("tagvec") as s:
        outs = [tagvec.tag_record_batch(b, vec) for b in batches]
        s.counts["rows_out"] = sum(o.num_rows for o in outs)
    wall = s.wall_s
    tokens = pc.sum(pc.list_value_length(pc.split_pattern(
        pc.utf8_trim_whitespace(table.column("text")), " "))).as_py()
    mentions = pa.Table.from_batches(outs)
    matched = len(set(zip(mentions.column("conv_id").to_pylist(),
                          mentions.column("turn_idx").to_pylist())))
    run.layer_extra.update({
        "tagvec.kernel_turns_per_s": table.num_rows / wall,
        "tagvec.kernel_tokens_per_s": tokens / wall,
        "tagvec.matched_turn_share": matched / table.num_rows,
        "tagvec.mentions_per_turn": mentions.num_rows / table.num_rows,
    })


@contextmanager
def observe_compile(run: Run):
    """Record the compiled trie's path facts on every run; in traced runs
    also time each compile call, including the ones tag_transcripts makes
    internally."""
    def vec_facts(vec) -> None:
        run.facts["tagvec.dense_table"] = int(vec["trans_dense"] is not None)
        run.facts["tagvec.states"] = int(len(vec["kind"]))
        run.facts["tagvec.vocab"] = int(vec["V"])

    tr = run.tracer
    with tr.patched(tagger, "compile_trie", "tagger.compile"), \
            tr.patched(tagvec, "compile_vec", "tagvec.compile", vec_facts):
        yield


# ---------------------------------------------------------------------------
# batch workloads
# ---------------------------------------------------------------------------

def chain_once(run: Run, df, trie, dict_df):
    """tag -> link (+persist) -> canonicalize -> assemble into a count."""
    tr = run.tracer
    t0 = time.perf_counter()
    with tr.span("chain"):
        with tr.span("triples.link") as s:
            linked = link_mentions(tag_transcripts(df, trie), dict_df).persist()
            n_mentions = s.counts["rows_out"] = linked.count()
        with tr.span("canonicalize") as s:
            entities = canonical_entities(linked).persist()
            s.counts["rows_out"] = entities.count()
        with tr.span("triples.assemble") as s:
            n_triples = s.counts["rows_out"] = assemble_triples(
                linked, entities).count()
    return time.perf_counter() - t0, linked, entities, n_mentions, n_triples


def cc_star_probe(run: Run, spark, inputs: Inputs, dict_df) -> None:
    """canonical_entities over one mention per core surface. Every edge is
    a self-loop, so the check is one component per distinct surface."""
    core = inputs.spec.core
    mentions = spark.createDataFrame(
        [("probe", i, 0, len(s.split()), s, t)
         for i, (t, s) in enumerate(core)], tagger.MENTIONS_SCHEMA)
    linked = link_mentions(mentions, dict_df).persist()
    nodes = linked.select("surface_norm").distinct().count()
    run.layer_extra["canonicalize.star_edges"] = distinct_cc_edges(linked)
    with run.tracer.span("canonicalize.star") as s:
        s.counts["rows_out"] = canonical_entities(linked).count()
    run.record(s.counts["rows_out"] == nodes)
    run.layer_extra["canonicalize.star_jobs"] = run.tracer.jobs(
        "canonicalize.star")
    linked.unpersist()


def job_once(run: Run, spark, df, trie, dict_df, out: str):
    """The tools/run_job.py shape: bucketize -> per-bucket tag jobs with
    lineage -> link -> canonicalize -> catalog write -> read back."""
    tr = run.tracer
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    with tr.span("job"):
        with tr.span("lineage"):
            bucketize_transcripts(df, out, JOB_BUCKETS)
        with tr.span("lineage"):
            mentions = tag_resumable(spark, trie, out, JOB_BUCKETS)
        # link and canonicalize spans here are named apart from the
        # chain's, so they do not mix into those layers' metrics
        with tr.span("job.link") as s:
            linked = link_mentions(mentions, dict_df).persist()
            n_mentions = s.counts["rows_out"] = linked.count()
        with tr.span("job.canonicalize") as s:
            entities = canonical_entities(linked).persist()
            s.counts["rows_out"] = entities.count()
        catalog = TableCatalog(spark, os.path.join(out, "warehouse"))
        with tr.span("catalog"):
            catalog.create_or_replace(assemble_triples(linked, entities),
                                      "triples")
        with tr.span("catalog") as s:
            n_triples = s.counts["rows_out"] = catalog.read("triples").count()
        with tr.span("lineage") as s:
            lineage = metrics_df(spark, out).collect()
            s.counts["rows_out"] = len(lineage)
    wall = time.perf_counter() - t0
    run.layer_extra.update({
        "lineage.buckets": len(lineage),
        "lineage.bucket_wall_ms_p50":
            statistics.median(r.wall_ms for r in lineage),
        "lineage.bytes_written": _du(os.path.join(out, "transcripts"))
            + _du(os.path.join(out, "mentions")),
        "catalog.bytes_written": _du(os.path.join(out, "warehouse",
                                                  "triples")),
        "catalog.backend_iceberg": int(catalog.use_iceberg),
    })
    return wall, linked, entities, n_mentions, n_triples


def run_batch(run: Run, inputs: Inputs, cache_dir: str) -> dict:
    spark, trie, setup_s = setup(run, inputs)
    tr = run.tracer
    traced = tr.enabled
    df = spark.read.parquet(*inputs.files)
    dict_df = dict_surfaces_df(spark, inputs.spec)
    check = OutputCheck(run, inputs, trie, tokenize_turn)

    def run_pipeline(pipeline) -> tuple | None:
        """(wall seconds, linked, entities, counts ok, triples), or None
        when the pipeline raised (recorded as a failure)."""
        try:
            wall, linked, entities, n_m, n_t = pipeline()
        except Exception as exc:  # noqa: BLE001 — a failed run is counted
            run.facts.setdefault("errors", []).append(repr(exc)[:500])
            run.record(False)
            return None
        return wall, linked, entities, check.same_counts(n_m, n_t), n_t

    def finish(out, full: bool) -> None:
        """Record a pipeline's check, the full one (triple count and oracle
        sample) when ``full``, then release its caches."""
        if out is None:
            return
        _, linked, entities, ok, n_t = out
        if full:
            try:
                ok = ok and check.full_ok(linked, n_t)
            except Exception as exc:  # noqa: BLE001 — a failed check counts
                run.facts.setdefault("errors", []).append(repr(exc)[:500])
                ok = False
        run.record(ok)
        entities.unpersist()
        linked.unpersist()

    def chain():
        return chain_once(run, df, trie, dict_df)

    # warm-up, untimed and unchecked: one pipeline over one input file per
    # slot, which starts every Python worker and runs every stage once. The
    # JIT is still warming after it (the first timed pipeline reads 10-25%
    # slower than the second), which is why the timed count is fixed.
    tr.enabled = False
    _, linked, entities, _, _ = chain_once(
        run, spark.read.parquet(*inputs.files[:run.cores]), trie, dict_df)
    entities.unpersist()
    linked.unpersist()
    run.mark("warm")
    if traced:
        tr.enabled = True
        tr.round = SETUP_MAX_REPS
        kernel_probe(run, inputs, trie)
        with tr.span("tagger") as s:
            s.counts["rows_out"] = tag_transcripts(df, trie).count()
        if run.workload == "chain_dense":
            finish(run_pipeline(lambda: job_once(
                run, spark, df, trie, dict_df, os.path.join(run.work, "job"))),
                full=True)
            stream_probe(run, spark, trie, generate(
                cache_dir, "stream", SHAPES["stream"], run.seed))
        else:
            cc_star_probe(run, spark, inputs, dict_df)

    # closed loop: the next pipeline starts when the previous one is done.
    # Each pipeline's counts are compared with the first one's; the last one
    # also gets the full check, outside the clock. A traced run times one
    # (untraced, traced) pair.
    walls, traced_walls = [], []
    n_pipelines = 1 if traced else max(MIN_PIPELINES, int(
        run.seconds / NOMINAL_PIPELINE_S[run.workload]))
    for n in range(1, n_pipelines + 1):
        tr.enabled = False
        out = run_pipeline(chain)
        if out is not None:
            walls.append(out[0])
        if traced:
            finish(out, full=False)
            tr.enabled = True
            tr.round += 1
            out = run_pipeline(chain)
            if out is not None:
                traced_walls.append(out[0])
        if n < n_pipelines:
            finish(out, full=False)
    tr.enabled = traced
    run.mark("timed")
    if out is not None:
        # path facts from the last pipeline's cached output
        run.facts["canonicalize.distinct_edges"] = distinct_cc_edges(out[1])
        if traced:
            run.layer_extra["canonicalize.components"] = out[2].select(
                "entity_id").distinct().count()
    finish(out, full=True)
    spark.stop()
    tr.bind(None)
    p50 = statistics.median(walls) if walls else float("nan")
    run.facts.update({"pipeline_walls_s": walls, "turns": inputs.n_turns})
    if traced and traced_walls:
        run.layer_extra["trace.overhead_share"] = (
            statistics.median(traced_walls) / p50 - 1.0)
    return {"turns_per_s": inputs.n_turns / p50, "setup_s": setup_s}


# ---------------------------------------------------------------------------
# stream probe (traced chain_dense runs)
# ---------------------------------------------------------------------------

class ProgressLog:
    """StreamingQueryListener body: keeps (arrival time, file index, rows,
    state rows, trigger seconds) per progress event."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.lock = threading.Lock()
        self.events: list[tuple[float, int, int, int, float]] = []
        self.committed = 0

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                log.on_progress(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()

    def on_progress(self, p) -> None:
        now = time.perf_counter()
        src = p.sources[0]
        # file-source offsets count discovered files, one per trigger here
        off = json.loads(src.endOffset)["logOffset"] if src.endOffset else -1
        state = sum(op.numRowsTotal for op in p.stateOperators)
        dur = p.durationMs.get("triggerExecution", 0) / 1000.0
        with self.lock:
            self.events.append((now, off, p.numInputRows, state, dur))
            if p.numInputRows > 0:
                self.committed += 1


def stream_probe(run: Run, spark, trie, inputs: Inputs) -> None:
    """Open loop: pre-written parquet files of raw punctuated turns are
    moved into a watched directory one per STREAM_INTERVAL_S for the run's
    seconds; read_transcripts_stream -> tag_transcripts(charclass, ts
    passthrough) -> mention_rate, one file per trigger. Latency runs from
    when a file was due to the commit of the trigger that consumed it."""
    tr = run.tracer
    check = OutputCheck(run, inputs, trie,
                        lambda x: simple_tokenize_non_sep(x, keep_capital=True))
    base = os.path.join(run.work, "stream", f"s{run.seed}-{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    staging, watch = os.path.join(base, "staging"), os.path.join(base, "in")
    os.makedirs(staging)
    os.makedirs(watch)
    n_files = min(len(inputs.files), STREAM_WARM_FILES
                  + int(run.seconds / STREAM_INTERVAL_S) + 1)
    staged, file_rows = [], []
    for k, src in enumerate(inputs.files[:n_files]):
        dst = os.path.join(staging, f"f{k:05d}.parquet")
        shutil.copyfile(src, dst)
        staged.append(dst)
        file_rows.append(pq.read_metadata(src).num_rows)

    dropped_at: list[float] = []

    def drop(k: int) -> None:
        target = os.path.join(watch, os.path.basename(staged[k]))
        os.replace(staged[k], target)
        now = time.time()
        os.utime(target, (now, now))   # the file source orders by mtime
        dropped_at.append(time.perf_counter())

    log = ProgressLog()
    spark.streams.addListener(log.listener)
    stream = read_transcripts_stream(spark, watch, max_files_per_trigger=1)
    mentions = tag_transcripts(stream, trie, passthrough=("ts",),
                               tokenizer="charclass")
    query = (mention_rate(mentions).writeStream.format("noop")
             .outputMode("update")
             .option("checkpointLocation", os.path.join(base, "ckpt"))
             .start())

    def wait_committed(n: int, timeout: float) -> bool:
        deadline = time.perf_counter() + timeout
        while time.perf_counter() < deadline:
            with log.lock:
                if log.committed >= n:
                    return True
            time.sleep(0.01)
        return False

    backlog_max, due = 0, []
    try:
        for k in range(STREAM_WARM_FILES):
            drop(k)
        wait_committed(STREAM_WARM_FILES, STREAM_DRAIN_S)
        n_warm_events = len(log.events)
        warm_task_s = tr.group_work(str(query.runId))[1]
        with tr.span("streaming") as span:
            t_start = time.perf_counter()
            for k in range(STREAM_WARM_FILES, n_files):
                due_k = t_start + (k - STREAM_WARM_FILES) * STREAM_INTERVAL_S
                if due_k >= t_start + run.seconds:
                    break
                delay = due_k - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                drop(k)
                due.append(due_k)
                with log.lock:
                    backlog_max = max(backlog_max, k + 1 - log.committed)
            n_dropped = STREAM_WARM_FILES + len(due)
            drained = wait_committed(n_dropped, STREAM_DRAIN_S)
            span.counts["rows_out"] = sum(file_rows[:n_dropped])
        # the query's batches run under its own job group (its run id)
        span.counts["task_s"] = (tr.group_work(str(query.runId))[1]
                                 - warm_task_s)
    finally:
        query.stop()
        spark.streams.removeListener(log.listener)

    # ---- per-file commits and checks (outside the clock) ----
    commit_at: dict[int, float] = {}
    rows_at: dict[int, int] = {}
    for now, off, rows, _, _ in log.events:
        if rows > 0 and off >= 0:
            commit_at[off] = now
            rows_at[off] = rows
    for k in range(n_dropped):
        run.record(rows_at.get(k) == file_rows[k])
    sample_df = spark.createDataFrame(
        check.sample.to_pandas(),
        "conv_id string, turn_idx int, text string, ts timestamp")
    try:
        ok = check.mentions_ok(tag_transcripts(
            sample_df, trie, passthrough=("ts",), tokenizer="charclass"))
    except Exception as exc:  # noqa: BLE001 — a failed check is counted
        run.facts.setdefault("errors", []).append(repr(exc)[:500])
        ok = False
    run.record(ok)
    shutil.rmtree(base, ignore_errors=True)

    timed = range(STREAM_WARM_FILES, n_dropped)
    lat = [commit_at[k] - due[k - STREAM_WARM_FILES]
           for k in timed if k in commit_at]
    if not lat:
        lat = [float("nan")]
    timed_events = log.events[n_warm_events:]
    data_events = [e for e in timed_events if e[2] > 0]
    last_commit = max((commit_at[k] for k in timed if k in commit_at),
                      default=float("nan"))
    committed_turns = sum(rows_at.get(k, 0) for k in timed)
    tail_s, tail_pct = tail(lat)
    run.facts.update({
        "stream_offered_turns_per_s": STREAM_FILE_TURNS / STREAM_INTERVAL_S,
        "stream_files_timed": len(due),
        "stream_drained": drained,
        "stream_latency_tail_pct": tail_pct,
    })
    run.layer_extra.update({
        "streaming.turns_per_s": committed_turns / (last_commit - t_start),
        "streaming.latency_p50_s": statistics.median(lat),
        "streaming.latency_tail_s": tail_s,
        "streaming.batches": len(timed_events),
        "streaming.batch_s_p50": statistics.median(
            [e[4] for e in data_events] or [0.0]),
        "streaming.backlog_files_max": backlog_max,
        "streaming.state_rows": max((e[3] for e in log.events), default=0),
        "generator.late_s_max": max(
            (dropped_at[k] - due[k - STREAM_WARM_FILES] for k in timed),
            default=0.0),
    })


# ---------------------------------------------------------------------------
# per-layer metric table
# ---------------------------------------------------------------------------

LAYERS = ("session", "dictionary", "tagger", "tagvec", "triples.link",
          "canonicalize", "canonicalize.star", "triples.assemble", "lineage",
          "catalog", "streaming")
EXTRA = (
    "session.start_s", "dictionary.surfaces", "dictionary.trie_nodes",
    "tagger.compile_s", "tagvec.compile_s", "tagvec.states", "tagvec.vocab",
    "tagvec.dense_table", "tagvec.kernel_turns_per_s",
    "tagvec.kernel_tokens_per_s", "tagvec.matched_turn_share",
    "tagvec.mentions_per_turn", "tagger.slot_busy_share",
    "canonicalize.distinct_edges", "canonicalize.components",
    "canonicalize.jobs", "canonicalize.star_edges", "canonicalize.star_jobs",
    "lineage.buckets", "lineage.bucket_wall_ms_p50",
    "lineage.bytes_written", "catalog.bytes_written",
    "catalog.backend_iceberg", "streaming.batches", "streaming.batch_s_p50",
    "streaming.backlog_files_max", "streaming.state_rows",
    "streaming.turns_per_s", "streaming.latency_p50_s",
    "streaming.latency_tail_s", "generator.late_s_max",
    "trace.overhead_share",
)


def layer_metrics(run: Run) -> dict[str, float]:
    """Every per-layer metric; a layer the workload does not use reads 0."""
    tr = run.tracer
    out: dict[str, float] = {}
    for layer in LAYERS:
        for k, v in tr.layer(layer).items():
            out[f"{layer}.{k}"] = v
    extra = dict.fromkeys(EXTRA, 0.0)
    extra.update(run.layer_extra)
    for k in ("tagvec.dense_table", "tagvec.states", "tagvec.vocab",
              "canonicalize.distinct_edges"):
        extra[k] = run.facts.get(k, 0)
    extra["tagger.compile_s"] = tr.per_call_s("tagger.compile")
    extra["tagvec.compile_s"] = tr.per_call_s("tagvec.compile")
    extra["canonicalize.jobs"] = tr.jobs("canonicalize")
    t = tr.layer("tagger")
    if t["wall_s"] > 0:
        extra["tagger.slot_busy_share"] = t["task_s"] / (t["wall_s"]
                                                         * run.cores)
    out.update(extra)
    return out


def run_workload(run: Run, cache_dir: str) -> dict:
    inputs = generate(cache_dir, run.workload, SHAPES[run.workload], run.seed)
    run.mark("inputs")
    run.facts["inputs"] = inputs.facts
    with observe_compile(run):
        return run_batch(run, inputs, cache_dir)
