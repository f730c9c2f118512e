"""The benchmark workloads.

Each workload starts its own session through ``session.get_spark`` with
only the core count set, loads its generated inputs from parquet, runs
the package's public entry points and checks their outputs.  With the
tracer on, the same work is split into one span per layer call, in the
order ``pipeline`` calls the layers, and each span forces its result so
that it covers the layer's work.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from corhist_spark import schemas as S
from corhist_spark.canonicalize import canonicalize_triples, connected_components, interval_closure
from corhist_spark.evaluate import apply_rules, evaluation_metrics
from corhist_spark.expansion import build_corrections
from corhist_spark.extract import aggregate_triples, extract_triples
from corhist_spark.kernels import correction_candidates, prepare_constraints
from corhist_spark.mining import mine, mine_basic_rules, refine_rules
from corhist_spark.pipeline import run_full_pipeline
from corhist_spark.session import get_spark
from corhist_spark.state import build_state
from corhist_spark.storage import Warehouse
from corhist_spark.streaming import stream_apply_rules

from . import measure
from .tracing import Tracer

APP = "corhist-perfbench"
SETUP_REPEATS = 3
KG_STAGES = ("state", "closure", "candidates", "corrections", "triples", "components", "canonical_triples")
KG_PASS_S = 20.0
PARITY_GATE = 0.95

FEED_PERIOD_S = 2.5
FEED_WARM_FILES = 10
FEED_TRIGGER = "100 milliseconds"
FEED_DRAIN_S = 30.0


@dataclass
class Run:
    """What one workload run hands back to ``run.py``."""

    setup_s: float
    latencies_ms: list[float]
    cpu_s: float
    attempted: int
    failed: int
    correct: bool
    detail: dict = field(default_factory=dict)


@dataclass
class Context:
    inputs: str
    scratch: str
    seconds: float
    cores: int
    tracer: Tracer
    extra_conf: dict | None = None
    spark: object = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.scratch, *parts)


def _constraints(inputs: str) -> pd.DataFrame:
    with open(os.path.join(inputs, "constraints.jsonl")) as f:
        return pd.DataFrame([json.loads(line) for line in f if line.strip()])


def _read(spark, inputs: str, names: tuple[str, ...]) -> dict:
    """Read input tables the way corhist_spark.cli does, then count each
    (the session's first actions)."""
    frames = {n: spark.read.parquet(os.path.join(inputs, f"{n}.parquet")) for n in names}
    for df in frames.values():
        df.count()
    return frames


def start(ctx: Context, names: tuple[str, ...]) -> tuple[dict, float, list[float]]:
    """Session start + input load, ``SETUP_REPEATS`` times (the session
    is stopped and started again in between; the first start also
    launches the JVM).  Returns the frames of the last set-up, the
    median set-up time and every start time."""
    times, starts = [], []
    for _ in range(SETUP_REPEATS):
        if ctx.spark is not None:
            ctx.tracer.bind(None)
            ctx.spark.stop()
        t0 = time.perf_counter()
        with ctx.tracer.span("session"):
            ctx.spark = get_spark(APP, cores=ctx.cores, extra_conf=ctx.extra_conf)
        starts.append(time.perf_counter() - t0)
        ctx.spark.sparkContext.setLogLevel("ERROR")
        ctx.tracer.bind(ctx.spark)
        frames = _read(ctx.spark, ctx.inputs, names)
        times.append(time.perf_counter() - t0)
    ctx.tracer.put("session.start_s", measure.median(starts))
    return frames, measure.median(times), starts


def _dir_bytes(root: str, patterns: tuple[str, ...] = ("*.parquet", "*.json")) -> tuple[int, int]:
    """(bytes, files) of the data files under ``root``."""
    total = files = 0
    for pat in patterns:
        for p in glob.glob(os.path.join(root, "**", pat), recursive=True):
            total += os.path.getsize(p)
            files += 1
    return total, files


def _input_bytes(inputs: str) -> int:
    return _dir_bytes(inputs, ("*.parquet",))[0]


def _correction_set(rows) -> set:
    return {
        (
            r.constraint_id,
            r.corr_rev,
            r.target_subj,
            r.target_pred,
            r.target_obj,
            frozenset((s.subj, s.pred, s.obj, s.op) for s in r.correction),
        )
        for r in rows
    }


def parity(got: set, gold: set) -> tuple[float, float]:
    tp = len(got & gold)
    precision = tp / len(got) if got else 1.0
    recall = tp / len(gold) if gold else 1.0
    return precision, recall


# ---- kg_ingest ---------------------------------------------------------


def _kg_traced_pass(ctx: Context, frames: dict, cons: pd.DataFrame, n_docs: int, root: str, run_id: str) -> None:
    """run_full_pipeline's stages, one span per layer call plus one
    storage span per stage write (the run_resumable loop on an empty
    warehouse)."""
    tr, spark = ctx.tracer, ctx.spark
    docs, edits, revs, sameas = (frames[n] for n in ("documents", "edits", "revisions", "sameas"))
    with tr.span("storage"):
        wh = Warehouse(spark, root)
        wh.done_stages()
    out: dict = {}
    counts: dict = {}

    def canonical():
        return (
            canonicalize_triples(out["triples"], out["components"])
            .groupBy("subj", "pred", "obj")
            .agg(F.sum("evidence").alias("evidence"), F.max("score").alias("score"))
        )

    def triples():
        raw = extract_triples(docs).localCheckpoint()
        counts["raw_triples"] = raw.count()
        return aggregate_triples(raw)

    stages = [
        ("state", "state", lambda: build_state(edits)),
        ("closure", "canonicalize", lambda: interval_closure(out["state"])),
        (
            "candidates",
            "kernels",
            lambda: correction_candidates(
                edits, revs, out["state"], out["closure"], prepare_constraints(spark, cons)
            ),
        ),
        ("corrections", "expansion", lambda: build_corrections(out["candidates"], edits, revs, out["state"])),
        ("triples", "extract", triples),
        ("components", "canonicalize", lambda: connected_components(sameas)),
        ("canonical_triples", "canonicalize", canonical),
    ]
    for name, layer, fn in stages:
        with tr.span(layer):
            df = fn().localCheckpoint()
        counts[name] = df.count()
        tr.add_rows(layer, counts[name])
        with tr.span("storage"):
            out[name] = wh.log_stage(run_id, name, df)
        tr.add_rows("storage", counts[name])
    tr.put("kernels.candidate_rows", counts["candidates"])
    tr.put("expansion.survival_ratio", counts["corrections"] / max(counts["candidates"], 1))
    tr.put("extract.triples_per_doc", counts["raw_triples"] / n_docs)


def _kg_check(spark, root: str, inputs: str, failures: list[str]) -> dict:
    wh = Warehouse(spark, root)
    audited: dict[str, int] = {}
    for r in wh.audit().groupBy("stage").agg(F.sum("rows").alias("rows")).collect():
        audited[r.stage] = int(r.rows)
    for stage in KG_STAGES:
        n = wh.read(stage).count()
        if stage not in audited:
            failures.append(f"stage {stage} has no audit rows")
        elif audited[stage] != n:
            failures.append(f"stage {stage}: audit rows sum to {audited[stage]}, table has {n}")
    got = _correction_set(wh.read("corrections").collect())
    gold = _correction_set(spark.read.parquet(os.path.join(inputs, "oracle_corrections.parquet")).collect())
    precision, recall = parity(got, gold)
    if precision < PARITY_GATE or recall < PARITY_GATE:
        failures.append(f"corrections vs oracle: precision {precision:.4f} recall {recall:.4f}")
    return {"corrections": len(got), "oracle_corrections": len(gold), "precision": precision, "recall": recall}


def kg_passes(seconds: float) -> int:
    """Measured passes of a run: one per ``KG_PASS_S`` of ``seconds``,
    at least one.  The count follows the run length only, never the
    machine's speed, so every run of a length measures the same passes."""
    return max(1, round(seconds / KG_PASS_S))


def kg_ingest(ctx: Context) -> Run:
    """Closed loop, one ingest at a time; a pass is run_full_pipeline
    into a fresh, empty warehouse.  The first pass in the JVM, the one a
    spark-submit user pays, spends about twice the CPU of a later pass
    compiling the hot paths, and that share varies from run to run; it
    ends the set-up.  The ``kg_passes(seconds)`` passes after it are
    measured (the traced run measures one, traced); the metrics are
    their medians.  The last warehouse is checked."""
    frames, session_s, starts = start(ctx, ("documents", "edits", "revisions", "sameas"))
    cons = _constraints(ctx.inputs)
    n_docs = frames["documents"].count()
    failures, checks = [], {}
    walls, cpus = [], []
    planned = 1 if ctx.tracer.enabled else kg_passes(ctx.seconds)
    for i in range(1 + planned):
        traced = ctx.tracer.enabled and i > 0
        root = ctx.path(f"warehouse-{i}")
        cpu0 = measure.tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            if traced:
                _kg_traced_pass(ctx, frames, cons, n_docs, root, "pass")
            else:
                run_full_pipeline(
                    ctx.spark, root, frames["documents"], frames["edits"], frames["revisions"],
                    frames["sameas"], cons, run_id="pass",
                )
        except Exception as e:  # a failed pass is counted, not raised
            failures.append(f"pass {i} raised {type(e).__name__}: {e}")
        walls.append(time.perf_counter() - t0)
        cpus.append(measure.tree_cpu_s(os.getpid()) - cpu0)
        if failures:
            break
        if i < planned:
            shutil.rmtree(root)
    raised = bool(failures)
    first_s = walls[0]
    # with no measured pass (the first one raised) its own figures stand in
    measured_walls, measured_cpus = walls[1:] or walls, cpus[1:] or cpus
    if not raised:
        try:
            checks = _kg_check(ctx.spark, root, ctx.inputs, failures)
        except Exception as e:  # a failed check is counted, not raised
            failures.append(f"output check raised {type(e).__name__}: {e}")
    if ctx.tracer.enabled:
        b, files = _dir_bytes(root)
        ctx.tracer.put("storage.bytes_written", b)
        ctx.tracer.put("storage.files_written", files)
        ctx.tracer.put("storage.bytes_per_input_byte", b / _input_bytes(ctx.inputs))
    ingest_s = measure.median(measured_walls)
    detail = {
        "ingest_s": ingest_s,
        "docs_per_s": n_docs / ingest_s,
        "documents": n_docs,
        "first_pass_s": first_s,
        "first_pass_cpu_s": cpus[0],
        "pass_s": measured_walls,
        "pass_cpu_s": measured_cpus,
        "session_s": session_s,
        "session_starts_s": starts,
        "checks": checks,
        "failures": failures,
    }
    # every planned pass, the first included, is an operation: one that
    # raised or never ran failed, and a failed check fails the last one
    attempted = 1 + planned
    failed = attempted - len(walls) + int(raised) + int(bool(failures) and not raised)
    return Run(
        session_s + first_s,
        [w * 1e3 for w in measured_walls],
        measure.median(measured_cpus),
        attempted,
        failed,
        not failures,
        detail,
    )


# ---- online_feed -------------------------------------------------------


class ProgressLog(StreamingQueryListener):
    """Collects the micro-batch progress events of the traced feed."""

    def __init__(self):
        self.events: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.events.append({"batch": p.batchId, "rows": p.numInputRows, **p.durationMs})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def committed_files(checkpoint: str) -> dict[str, float]:
    """file name -> commit time (mtime of the batch's commit log entry),
    for every source file of a committed micro-batch."""
    commits = {}
    for p in glob.glob(os.path.join(checkpoint, "commits", "[0-9]*")):
        base = os.path.basename(p)
        if base.isdigit():
            commits[int(base)] = os.path.getmtime(p)
    out = {}
    for p in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(p) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                batch = entry.get("batchId")
                if batch in commits:
                    out[os.path.basename(entry["path"])] = commits[batch]
    return out


class FeedGenerator(threading.Thread):
    """Open loop: drop i, a (source file, name) pair, is due at
    ``t0 + i * period``; each drop is a write to a hidden name then a
    rename, whatever the query's progress."""

    def __init__(self, drops: list[tuple[str, str]], src: str, checkpoint: str, t0: float, period: float, warm: int):
        super().__init__(name="feed-generator", daemon=True)
        self.drops, self.src, self.checkpoint, self.warm = drops, src, checkpoint, warm
        self.due = [t0 + i * period for i in range(len(drops))]
        self.dropped: list[str] = []
        self.lag_ms: list[float] = []
        self.backlog_max = 0
        self.error: OSError | None = None

    def run(self) -> None:
        try:
            for i, ((path, name), due) in enumerate(zip(self.drops, self.due)):
                time.sleep(max(0.0, due - time.time()))
                committed = len(glob.glob(os.path.join(self.checkpoint, "commits", "[0-9]*"))) - self.warm
                self.backlog_max = max(self.backlog_max, i - committed)
                tmp = os.path.join(self.src, f".{name}.tmp")
                shutil.copyfile(path, tmp)
                os.rename(tmp, os.path.join(self.src, name))
                self.lag_ms.append((time.time() - due) * 1e3)
                self.dropped.append(name)
        except OSError as e:  # counted by the caller after join
            self.error = e


def feed_drops(files: list[str], n: int) -> list[tuple[str, str]]:
    """The first ``n`` drops of the feed: the feed files in order, from
    the first again when they run out, each under its own name."""
    return [(files[i % len(files)], f"drop-{i:05d}.parquet") for i in range(n)]


def _wait_committed(checkpoint: str, names: list[str], timeout: float) -> dict[str, float]:
    deadline = time.time() + timeout
    while True:
        done = committed_files(checkpoint)
        if all(n in done for n in names) or time.time() > deadline:
            return done
        time.sleep(0.05)


def _pred_rows(rows) -> list[tuple]:
    return sorted(
        (r.test_id, r.constraint_id, json.dumps(r.correction), json.dumps(r.predicted)) for r in rows
    )


def online_feed(ctx: Context) -> Run:
    """Open loop at one file per ``FEED_PERIOD_S``: the generator drops
    held-out correction rows, stream_apply_rules applies the mined rules
    per micro-batch and appends the predictions to the warehouse."""
    tr = ctx.tracer
    frames, session_s, starts = start(ctx, ("edits", "revisions", "train", "validation"))
    spark = ctx.spark
    edits, revs, train = frames["edits"], frames["revisions"], frames["train"]
    t0 = time.perf_counter()
    with tr.span("state"):
        state = build_state(edits).cache()
        n_state = state.count()
    tr.add_rows("state", n_state)
    if tr.enabled:
        with tr.span("mining"):
            basic, bindings = mine_basic_rules(train, revs)
            n_basic = basic.count()
            groups = bindings.select("constraint_id", "violation_obj", "head").distinct().count()
            rules = refine_rules(basic, bindings, state).localCheckpoint()
        tr.put("mining.rules_kept_ratio", n_basic / max(groups, 1))
        tr.put("mining.binding_groups", groups)
        tr.add_rows("mining", rules.count())
    else:
        rules = mine(train, revs, state)
    with tr.span("storage"):
        wh = Warehouse(spark, ctx.path("warehouse"))
        wh.write("rules", rules)
        rules = wh.read("rules")
    with tr.span("evaluate"):
        scores = evaluation_metrics(apply_rules(rules, frames["validation"], revs, state)).collect()
    tr.add_rows("evaluate", len(scores))
    n_rules = rules.count()
    mined_s = time.perf_counter() - t0
    failures: list[str] = []

    src, checkpoint = ctx.path("feed-src"), ctx.path("feed-checkpoint")
    os.makedirs(src)
    progress = ProgressLog() if tr.enabled else None
    if progress:
        spark.streams.addListener(progress)
    stream = spark.readStream.schema(S.CORRECTIONS).option("maxFilesPerTrigger", 1).parquet(src)
    query = (
        stream_apply_rules(stream, rules, revs, state, wh, checkpoint_dir=checkpoint)
        .trigger(processingTime=FEED_TRIGGER)
        .start()
    )
    n_warm, n_feed = FEED_WARM_FILES, int(ctx.seconds / FEED_PERIOD_S)
    drops = feed_drops(sorted(glob.glob(os.path.join(ctx.inputs, "feed", "*.parquet"))), n_warm + n_feed)
    # warm-up files, dropped at once: their batches pay the query's
    # first-batch and JIT costs, inside the set-up time
    warm = FeedGenerator(drops[:n_warm], src, checkpoint, time.time(), 0.0, 0)
    warm.run()
    if warm.error is not None:
        failures.append(f"warm-up drop failed: {warm.error!r}")
    _wait_committed(checkpoint, warm.dropped, FEED_DRAIN_S)
    setup_s = session_s + time.perf_counter() - t0

    gen = FeedGenerator(drops[n_warm:], src, checkpoint, time.time() + 0.05, FEED_PERIOD_S, n_warm)
    cpu0 = measure.tree_cpu_s(os.getpid())
    with tr.span("streaming", group=str(query.runId)):
        gen.start()
        gen.join()
        done = _wait_committed(checkpoint, gen.dropped, FEED_DRAIN_S)
        end = time.time()
        cpu_s = measure.tree_cpu_s(os.getpid()) - cpu0
        query.stop()
    if gen.error is not None:
        failures.append(f"feed drop failed: {gen.error!r}")
    if query.exception() is not None:
        failures.append(f"query failed: {query.exception()}")
    persisted = len(spark.sparkContext._jsc.getPersistentRDDs())
    # every planned drop, in order; one never committed counts as late as the drain's end
    names = [name for _, name in drops[n_warm:]]
    latencies = [(done.get(n, end) - due) * 1e3 for n, due in zip(names, gen.due)]

    streamed: list[tuple] = []
    try:
        fed = spark.read.schema(S.CORRECTIONS).parquet(src)
        streamed = _pred_rows(wh.read("stream_predictions").drop("batch_id").collect())
        batch = _pred_rows(
            apply_rules(rules, fed, revs, state).filter(F.col("predicted").isNotNull()).collect()
        )
        if streamed != batch:
            failures.append(f"streamed predictions ({len(streamed)}) differ from one batch apply_rules ({len(batch)})")
        if sum(r.total for r in scores) != frames["validation"].count():
            failures.append("validation scores do not cover every validation row")
    except Exception as e:  # a failed check is counted, not raised
        failures.append(f"output check raised {type(e).__name__}: {e}")
    failed = measure.feed_failures(names, set(done), not failures)
    if failed and not failures:
        failures.append(f"{failed} feed files not committed within {FEED_DRAIN_S} s")

    if tr.enabled:
        measured = [e for e in progress.events if e["rows"] > 0][n_warm:]
        if measured:
            for metric, key in (
                ("batch_ms", "triggerExecution"),
                ("add_batch_ms", "addBatch"),
                ("planning_ms", "queryPlanning"),
                ("wal_commit_ms", "walCommit"),
            ):
                tr.put(f"streaming.{metric}", measure.median([e.get(key, 0) for e in measured]))
            tr.put("streaming.self_s", sum(e.get("triggerExecution", 0) for e in measured) / 1e3)
        tr.put("streaming.batches", len(measured))
        tr.put("streaming.backlog_files_max", gen.backlog_max)
        tr.put("streaming.generator_lag_ms", max(gen.lag_ms, default=0.0))
        tr.put("streaming.persisted_rdds_end", persisted)
        tr.add_rows("streaming", len(streamed))
        b, n = _dir_bytes(wh.root)
        tr.put("storage.bytes_written", b)
        tr.put("storage.files_written", n)
        tr.put("storage.bytes_per_input_byte", b / _input_bytes(ctx.inputs))

    tail = measure.tail(latencies)
    detail = {
        "feed_latency_p50_ms": measure.median(latencies),
        "feed_latency_tail_ms": tail and tail[0],
        "tail_percentile": tail and tail[1],
        "samples": len(latencies),
        "latencies_ms": latencies,
        "feed_period_s": FEED_PERIOD_S,
        "session_s": session_s,
        "mined_s": mined_s,
        "rules": n_rules,
        "generator_lag_ms_max": max(gen.lag_ms, default=0.0),
        "backlog_files_max": gen.backlog_max,
        "persisted_rdds_end": persisted,
        "session_starts_s": starts,
        "failures": failures,
    }
    return Run(setup_s, latencies, cpu_s, len(names), failed, not failures, detail)


WORKLOADS = {"kg_ingest": kg_ingest, "online_feed": online_feed}
