"""The workloads. Each takes a ``Run`` and returns a ``Result``.

All of them drive the program through its public entry points
(``pipeline.run_pipeline`` / ``build_stream``; in the traced run also
``pipeline.run_backfill_queue`` and ``streaming.clusters``) over inputs the
seeded generators wrote, and check every output against the generator's
model.
"""

from __future__ import annotations

import os
import random
import threading
import time
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.measure import (
    BATCH_PROPERTY,
    PublishRecorder,
    MachineSampler,
    Tracer,
    digest_of,
    median,
    pctl,
    phase_ms,
    progress_rows,
    published_count,
    read_publishes,
    rest_stages,
    weighted_pctl,
)

DRAIN_TIMEOUT_S = 90.0


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)   # end-to-end, untraced pass
    layers: dict = field(default_factory=dict)    # per-layer, traced run
    notes: list = field(default_factory=list)     # printed, not gated


class Run:
    """One benchmark invocation: seed, measuring window, scratch root and
    the Spark session life cycle."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, tmp: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.tmp = trace, tmp
        self.spark = None
        self.cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        self.tracer = Tracer(False)
        self._n = 0

    def rng(self, stream: str) -> random.Random:
        return random.Random(f"{self.seed}:{self.workload}:{stream}")

    def path(self, name: str) -> str:
        self._n += 1
        p = os.path.join(self.tmp, f"{name}-{self._n:03d}")
        os.makedirs(p, exist_ok=True)
        return p

    def start(self, cpus: int | None = None, ui: bool = False):
        """(Re)start the Spark session; the first call launches the JVM."""
        from cdc_rs_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        os.environ["SPARK_GRAFT_UI"] = "true" if ui else "false"
        self.spark = get_spark(f"perfbench-{self.workload}", cpus=cpus or self.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def setup(self, warm) -> float:
        """Launch the JVM, start the session and run ``warm(spark)``, the
        workload's cold first pass; returns the seconds this took. A traced
        run turns the UI on here, for its REST API."""
        t0 = time.perf_counter()
        warm(self.start(ui=self.trace))
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 — must not leave the JVM
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None


def _wait_for(cond, timeout: float, what: str) -> None:
    deadline = time.time() + timeout
    while not cond():
        if time.time() > deadline:
            raise TimeoutError(f"timed out waiting for {what}")
        time.sleep(0.05)


def _traced_sink(run: Run, publish):
    """``publish_foreach_batch(publish)`` wrapped in a span per micro-batch;
    the batch id travels to the executors as a local property so publish
    calls can be attributed to (batch, topic)."""
    from cdc_rs_spark.sources.sinks import publish_foreach_batch

    inner = publish_foreach_batch(publish)

    def fn(df, batch_id):
        sc = df.sparkSession.sparkContext
        sc.setLocalProperty(BATCH_PROPERTY, str(batch_id))
        try:
            with run.tracer.span("sinks.publish_foreach_batch", batch=batch_id):
                inner(df, batch_id)
        finally:
            sc.setLocalProperty(BATCH_PROPERTY, None)

    return fn


def _start_query(run: Run, spark, cfg, traced: bool):
    """Untraced: the program's own ``run_pipeline``. Traced: the same
    ``build_stream`` dataflow and checkpoint, with the sink wrapped."""
    from cdc_rs_spark.pipeline import build_stream, run_pipeline

    if not traced:
        return run_pipeline(spark, cfg)
    return (
        build_stream(spark, cfg)
        .writeStream.foreachBatch(_traced_sink(run, cfg.publish))
        .option("checkpointLocation", cfg.checkpoint_dir)
        .start()
    )


def _calls_per_batch_topic(records: list[dict]) -> float:
    """Publish calls per (micro-batch, topic) pair in traced records; the
    sink's contract is one."""
    pairs: dict[tuple, int] = {}
    for r in records:
        if r.get("batch") is not None:
            key = (r["batch"], r["topic"])
            pairs[key] = pairs.get(key, 0) + 1
    return sum(pairs.values()) / len(pairs) if pairs else 0.0


def _progress_layers(progress: list[dict]) -> dict:
    rows = [int(p["numInputRows"]) for p in progress]
    out = {
        "datasource.latest_offset_ms_p50": median(phase_ms(progress, "latestOffset")),
        "sinks.add_batch_ms_p50": median(phase_ms(progress, "addBatch")),
        "offsets.wal_commit_ms_p50": median(phase_ms(progress, "walCommit")),
        "offsets.commit_offsets_ms_p50": median(phase_ms(progress, "commitOffsets")),
        "trigger.query_planning_ms_p50": median(phase_ms(progress, "queryPlanning")),
        "trigger.execution_ms_p50": median(phase_ms(progress, "triggerExecution")),
        "trigger.batches": float(len(progress)),
        "trigger.rows_per_batch_p50": median(rows),
    }
    trig = sum(phase_ms(progress, "triggerExecution"))
    out["datasource.latest_offset_share"] = (
        sum(phase_ms(progress, "latestOffset")) / trig if trig else 0.0
    )
    return out


def _rest_layers(stages: dict, wall_s: float, cpus: int) -> dict:
    """Executor busy shares and shuffle bytes from a ``_rest_snapshot`` of
    the stages that ran during ``wall_s``."""
    cap = wall_s * 1000.0 * cpus
    return {
        "cpu.busy_share": stages["run_ms"] / cap if cap else 0.0,
        "sinks.shuffle_write_bytes": float(stages["shuffle_write"]),
        "datasource.core_busy_share": stages["map_run_ms"] / cap if cap else 0.0,
    }


def _rest_snapshot(spark, since: set | None = None) -> dict:
    """Totals over completed stages not in ``since``; ``map_run_ms`` is
    the run time of stages that wrote shuffle output (the source side of
    the sink's repartition by topic)."""
    out = {"run_ms": 0.0, "map_run_ms": 0.0, "shuffle_write": 0, "ids": set()}
    for s in rest_stages(spark):
        key = (s["stageId"], s["attemptId"])
        out["ids"].add(key)
        if since and key in since:
            continue
        out["run_ms"] += float(s.get("executorRunTime", 0))
        if int(s.get("shuffleWriteBytes", 0)) > 0:
            out["map_run_ms"] += float(s.get("executorRunTime", 0))
        out["shuffle_write"] += int(s.get("shuffleWriteBytes", 0))
    return out


def _latency_metrics(pairs: list[tuple[float, int]]) -> dict:
    """p50 and p99 of per-change latency from (latency_ms, count) pairs;
    p99 needs at least 1000 samples, so that ten lie beyond it."""
    n = sum(w for _, w in pairs)
    if n < 1000:
        raise RuntimeError(f"only {n} latency samples; p99 needs 1000")
    return {
        "latency_p50_ms": weighted_pctl(pairs, 50),
        "latency_p99_ms": weighted_pctl(pairs, 99),
        "latency_samples": n,
    }


# ==========================================================================
# catchup_binlog


CATCHUP_WAVE_FILES = 2       # each backlog wave lands this many files ...
CATCHUP_ROWS_PER_FILE = 10_000
CATCHUP_CAP = 5_000          # ... drained under maxRecordsPerBatch, below the file size
ANCHOR_ROWS = 300
WARM_FEED_ROWS = 5_000       # the set-up's wave: one file, four capped batches
WAVE_SECONDS = 8             # about what one wave takes on a 4-CPU machine


def _write_feed(run: Run) -> dict:
    """The anchor file, the set-up's warm file and the files of one
    backlog wave. Every wave lands the same wave files under new names."""
    rng = run.rng("binlog")
    d = run.path("binlog-files")
    feed = {}
    for part, n_files, rows in (
        ("anchor", 1, ANCHOR_ROWS),
        ("warm", 1, WARM_FEED_ROWS),
        ("wave", CATCHUP_WAVE_FILES, CATCHUP_ROWS_PER_FILE),
    ):
        out = os.path.join(d, part)
        model, gated = gen.write_binlog_files(rng, out, n_files, rows)
        feed[part] = {
            "files": sorted(os.path.join(out, n) for n in os.listdir(out)),
            "model": model,
            "changes": n_files * rows,
            "gated": gated,
        }
    return feed


class CatchupQuery:
    """The continuous binlog pipeline: gate ``BINLOG_REGEX``, the demo
    script, record-capped admission. It starts on the anchor file and
    waits for its commit (the cap applies once the reader has seen
    progress); then each ``wave`` lands a backlog at once and times it
    until its last change is published."""

    def __init__(self, run: Run, spark, feed: dict, traced: bool = False):
        from cdc_rs_spark.pipeline import PipelineConfig
        from cdc_rs_spark.plans.cdc import RHAI_DEMO_SCRIPT

        self.run, self.spark, self.traced = run, spark, traced
        work = run.path("catchup")
        self.src, self.pub = os.path.join(work, "src"), os.path.join(work, "pub")
        os.makedirs(self.src)
        self.n_files = 0
        self.model = gen.Digest()
        self.published = 0
        self.generated = 0
        self._land(feed["anchor"], wait=False)
        self.cfg = PipelineConfig(
            source_path=self.src,
            checkpoint_dir=os.path.join(work, "ckpt"),
            table_regex=gen.BINLOG_REGEX,
            publish=PublishRecorder(self.pub),
            source_format="change_feed",
            max_records_per_batch=CATCHUP_CAP,
            script=RHAI_DEMO_SCRIPT,
        )
        self.q = _start_query(run, spark, self.cfg, traced)
        self._wait()

    def _land(self, part: dict, wait: bool = True) -> None:
        """Link ``part``'s files in under the next binlog names; with
        ``wait``, return once all of it is published."""
        for fp in part["files"]:
            os.link(fp, os.path.join(self.src, f"bin.{self.n_files:06d}.binlog"))
            self.n_files += 1
        for t, n in part["model"].counts.items():
            self.model.add_partial(t, n, part["model"].sums[t])
        self.published += part["model"].total()
        self.generated += part["changes"]
        if wait:
            self._wait()

    def _wait(self) -> None:
        _wait_for(lambda: published_count(self.pub) >= self.published,
                  DRAIN_TIMEOUT_S, "catch-up drain")

    def warm(self, part: dict) -> None:
        self._land(part)

    def wave(self, part: dict) -> dict:
        n_progress = len(self.q.recentProgress or [])
        rest0 = _rest_snapshot(self.spark) if self.traced else None
        t_stage = time.time()
        self._land(part, wait=False)
        landed = time.time()
        self._wait()
        records = [r for r in read_publishes(self.pub) if r["t_end"] >= t_stage]
        wall = max(r["t_end"] for r in records) - t_stage
        out = {
            "land_ms": (landed - t_stage) * 1000.0,
            "rows_per_s": part["changes"] / wall,
            "lat": [((r["t_end"] - t_stage) * 1000.0, r["n"]) for r in records],
            "progress": progress_rows(list(self.q.recentProgress or [])[n_progress:]),
            "records": records,
        }
        out.update(_latency_metrics(out["lat"]))
        if self.traced:
            out["rest"] = _rest_layers(
                _rest_snapshot(self.spark, rest0["ids"]), wall, self.run.cpus
            )
        return out

    def finish(self) -> tuple[int, int, int]:
        """Stop the query; return the changes generated, those missing,
        duplicated or wrong (a published change of the gated table counts
        here too), and the published changes of the gated table."""
        self.q.stop()
        records = read_publishes(self.pub)
        gated = sum(r["n"] for r in records if r["topic"] == gen.demo_topic(*gen.GATED_OUT))
        return self.generated, gen.mismatch(self.model, digest_of(records)), gated


def _waves(run: Run, cq: CatchupQuery, feed: dict) -> list[dict]:
    """A fixed number of waves for a given ``--seconds``: one per
    WAVE_SECONDS, at least two."""
    n = max(2, round(run.seconds / WAVE_SECONDS))
    return [cq.wave(feed["wave"]) for _ in range(n)]


def _decode_layers(run: Run, feed: dict) -> dict:
    """The binlog decoder alone, on one core, over the wave's files."""
    from cdc_rs_spark.streaming.binlog import parse_binlog_file

    tr, n = run.tracer, 0
    with tr.span("binlog.parse_binlog_file"):
        for fp in feed["wave"]["files"]:
            n += sum(1 for _ in parse_binlog_file(fp))
    return {
        "binlog.decode_rows_per_s":
            n / tr.durations_ms("binlog.parse_binlog_file")[-1] * 1000.0
    }


def _binlog_arrivals(d: str, files: list[str]) -> list:
    """The backlog lands in ``d`` one binlog file at a time."""
    return [
        lambda i=i, fp=fp: os.link(fp, os.path.join(d, f"f.{i:06d}.binlog"))
        for i, fp in enumerate(files)
    ]


def _tail_arrivals(d: str, files: list[str], n_rows: int, step: int) -> list:
    """The first ``n_rows`` changes of tail ``files`` land in ``d`` the way
    the generator wrote them: each file grows ``step`` changes at a time."""
    out, left = [], n_rows
    for seq, fp in enumerate(files):
        with open(fp) as f:
            lines = [ln.rstrip("\n") for ln in f if ln.strip()][:left]
        left -= len(lines)
        out += [
            lambda seq=seq, part=lines[:k]: write_feed_file(d, seq, part)
            for k in range(step, len(lines) + step, step)
        ]
        if not left:
            break
    return out


def _source_layers(run: Run, spark, d: str, arrivals: list, cfg) -> dict:
    """Direct, timed calls into the source, the gate and the transform over
    a workload's feed, which ``arrivals`` make visible in directory ``d``
    step by step: the planner trigger by trigger as the feed grows, a batch
    read to noop, and prefix-to-noop self times."""
    from cdc_rs_spark import pipeline
    from cdc_rs_spark.operators.filter import regex_table_filter
    from cdc_rs_spark.pipeline import apply_transform
    from cdc_rs_spark.streaming.datasource import ChangeFeedStreamReader, register_change_feed

    tr = run.tracer
    out = {}
    options = {"path": d}
    if cfg.max_records_per_batch:
        options["maxRecordsPerBatch"] = str(cfg.max_records_per_batch)
    arrivals[0]()
    reader = ChangeFeedStreamReader(options)
    start = reader.initialOffset()
    end = reader.latestOffset()
    reader.partitions(start, end)
    start = end
    tasks = []
    for arrive in arrivals[1:]:
        arrive()
        while True:
            with tr.span("datasource.latestOffset"):
                end = reader.latestOffset()
            if (end["file"], end["pos"]) <= (start["file"], start["pos"]):
                break
            with tr.span("datasource.partitions"):
                parts = reader.partitions(start, end)
            tasks.append(len(parts))
            start = end
    out["datasource.latest_offset_direct_ms_p50"] = median(tr.durations_ms("datasource.latestOffset"))
    out["datasource.partitions_ms_p50"] = median(tr.durations_ms("datasource.partitions"))
    out["datasource.read_tasks_per_batch"] = median(tasks)

    # batch read of the whole feed -> noop, then prefix-to-noop self times
    register_change_feed(spark)
    raw = spark.read.format("change_feed").option("path", d).load()
    with tr.span("datasource.batch_read_noop"):
        raw.write.format("noop").mode("overwrite").save()
    cached = raw.persist()
    try:
        n_rows = cached.count()
        out["datasource.read_rows_per_s"] = (
            n_rows / tr.durations_ms("datasource.batch_read_noop")[-1] * 1000.0
        )
        out.update(_prefix_self_times(
            tr, cached, lambda df: regex_table_filter(df, cfg.table_regex),
            lambda df: apply_transform(df, cfg, can_carry_malformed=False), n_rows,
        ))
        out["filter.pass_ratio"] = (
            regex_table_filter(cached, cfg.table_regex).count() / n_rows
        )
    finally:
        cached.unpersist()
    out["transform.interpreter_fallbacks"] = float(pipeline.INTERPRETER_FALLBACKS)
    return out


PREFIX_REPEATS = 5


def _prefix_self_times(tr: Tracer, cached, gate, transform, n_rows: int) -> dict:
    """Self time of the gate and of the transform from three prefixes of
    the dataflow, each run to a noop sink over the same cached input,
    interleaved PREFIX_REPEATS times after one untimed round; medians."""
    prefixes = (("prefix.source", cached), ("prefix.gate", gate(cached)),
                ("prefix.transform", transform(cached)))
    for _, df in prefixes:
        df.write.format("noop").mode("overwrite").save()
    for _ in range(PREFIX_REPEATS):
        for name, df in prefixes:
            with tr.span(name):
                df.write.format("noop").mode("overwrite").save()
    base, gated, full = (median(tr.durations_ms(n)) for n, _ in prefixes)
    per = 100_000.0 / n_rows
    return {
        "filter.self_ms_per_100k": (gated - base) * per,
        "transform.self_ms_per_100k": (full - gated) * per,
    }


def catchup_binlog(run: Run) -> Result:
    res = Result()
    feed = _write_feed(run)
    holder = {}

    def warm(spark):
        holder["cq"] = CatchupQuery(run, spark, feed)
        holder["cq"].warm(feed["warm"])

    setup_s = run.setup(warm)
    cq = holder["cq"]
    with MachineSampler() as machine:
        waves = _waves(run, cq, feed)
    _account(res, cq)
    res.metrics = {
        "setup_s": setup_s,
        "rows_per_s": median(x["rows_per_s"] for x in waves),
        "latency_p50_ms": median(x["latency_p50_ms"] for x in waves),
        "latency_p99_ms": median(x["latency_p99_ms"] for x in waves),
        "peak_rss_mb": machine.peak_mb,
    }
    part = feed["wave"]
    res.notes += [
        f"waves={len(waves)} of {part['changes']} changes "
        f"({part['model'].total()} published, {part['gated']} gated out), "
        f"maxRecordsPerBatch={CATCHUP_CAP}; medians over waves",
        f"latency samples per wave (p99 needs 1000): "
        f"{[x['latency_samples'] for x in waves]}",
        f"rows_per_s per wave: {[round(x['rows_per_s']) for x in waves]}",
        f"CPU time stolen by the hypervisor while measuring: {machine.steal_share:.1%}",
    ]
    if run.trace:
        _catchup_trace(run, res, feed, waves)
    return res


def _account(res: Result, cq: CatchupQuery) -> None:
    generated, bad, gated = cq.finish()
    res.attempted += generated
    res.failed += bad
    if gated:
        res.notes.append(f"FAIL: {gated} changes of the gated table published")


def _catchup_trace(run: Run, res: Result, feed: dict, untraced: list[dict]) -> None:
    run.tracer = Tracer(True)
    spark = run.spark
    cq = CatchupQuery(run, spark, feed, traced=True)
    cq.warm(feed["warm"])
    waves = _waves(run, cq, feed)
    _account(res, cq)
    layers = _progress_layers([p for x in waves for p in x["progress"]])
    layers.update(waves[-1]["rest"])
    layers["sinks.publish_ms_p50"] = median(
        run.tracer.durations_ms("sinks.publish_foreach_batch")
    )
    layers["sinks.publish_calls_per_batch_topic"] = _calls_per_batch_topic(
        [r for x in waves for r in x["records"]]
    )
    layers.update(_decode_layers(run, feed))
    d = run.path("planner")
    layers.update(_source_layers(
        run, spark, d, _binlog_arrivals(d, feed["anchor"]["files"] + feed["wave"]["files"]),
        cq.cfg,
    ))
    # the backlog is due the instant it starts to land
    layers["gen.late_ms_max"] = max(x["land_ms"] for x in waves)
    traced_tp = median(x["rows_per_s"] for x in waves)
    base_tp = median(x["rows_per_s"] for x in untraced)
    layers["tracing.overhead_pct"] = (base_tp - traced_tp) / base_tp * 100.0
    layers.update(_backfill_layers(run, res, spark))
    # single-core baseline of the same wave, not gated
    spark = run.start(cpus=1)
    one = CatchupQuery(run, spark, feed)
    one.warm(feed["warm"])
    layers["baseline.local1_rows_per_s"] = one.wave(feed["wave"])["rows_per_s"]
    _account(res, one)
    res.layers.update(layers)
    res.notes.append(
        f"latestOffset is {layers['datasource.latest_offset_share']:.1%} of "
        f"trigger time ({layers['datasource.latest_offset_ms_p50']:.0f} ms of a "
        f"{layers['trigger.execution_ms_p50']:.0f} ms median trigger)"
    )


# ==========================================================================
# backfill layer probe (traced catchup run)

BACKFILL_ROWS = 60_000
BACKFILL_SHARDS = 4


def _backfill_layers(run: Run, res: Result, spark) -> dict:
    """``plan_ranges`` -> ``BackfillQueue`` -> ``run_backfill_queue`` over a
    lineitem-shaped table with the demo script and a counting publish;
    every job must end done and the output must equal the model."""
    from cdc_rs_spark.pipeline import PipelineConfig, run_backfill_queue
    from cdc_rs_spark.plans.cdc import RHAI_DEMO_SCRIPT
    from cdc_rs_spark.sources.backfill import BackfillQueue, plan_ranges, snapshot_table

    tr = run.tracer
    sf = run.path("sf")
    model = gen.write_lineitem(run.rng("lineitem"), sf, BACKFILL_ROWS)
    jobs = plan_ranges(spark, sf, gen.LINEITEM_DB, "lineitem", "l_orderkey", BACKFILL_SHARDS)
    with tr.span("backfill.snapshot_noop"):
        for job in jobs:
            snapshot_table(spark, sf, job).write.format("noop").mode("overwrite").save()
    # the queue's own cost: a todo poll and a done mark per job
    qpath = os.path.join(run.path("queue-probe"), "queue.json")
    probe = BackfillQueue(qpath)
    probe.enqueue(jobs)
    with tr.span("backfill.queue"):
        for job in probe.todo():
            probe.mark_done(job)
    queue = BackfillQueue(os.path.join(run.path("queue"), "queue.json"))
    queue.enqueue(jobs)
    pub = run.path("backfill-pub")
    cfg = PipelineConfig(source_path=sf, checkpoint_dir=sf,
                         publish=PublishRecorder(pub), script=RHAI_DEMO_SCRIPT)
    with tr.span("backfill.run_backfill_queue"):
        n = run_backfill_queue(spark, cfg, queue.path, sf)
    wall = tr.durations_ms("backfill.run_backfill_queue")[-1] / 1000.0
    not_done = sum(1 for j in queue.all() if j.status != "done")
    bad = gen.mismatch(model, digest_of(read_publishes(pub))) + abs(n - model.total())
    res.attempted += model.total()
    res.failed += bad + not_done * (model.total() // max(1, len(jobs)))
    res.notes.append(
        f"backfill probe: {len(jobs)} range jobs, {not_done} not done, "
        f"{bad} wrong rows, {n / wall:.0f} rows/s"
    )
    return {
        "backfill.snapshot_ms": tr.durations_ms("backfill.snapshot_noop")[-1],
        "backfill.queue_ms": tr.durations_ms("backfill.queue")[-1],
        "backfill.jobs": float(len(jobs)),
    }


# ==========================================================================
# tail_json


TAIL_NAMED_RATE = 2000             # latency is measured at this rate for --seconds
TAIL_RATES = (2000, 8000, 16000)   # the traced run's ladder, one step each ...
TAIL_SHARES = (0.5, 0.2, 0.2)      # ... taking these shares of --seconds
TAIL_P99_LIMIT_MS = 5000.0         # sustained: p99 and backlog (in s of rate) under it
TICK_S = 0.1                       # the generator writes every tick ...
ROTATE_ROWS = 20_000               # ... and starts a new tail file at this size
WARM_ROWS = 500                    # first tail file, then ...
WARM_RATE, WARM_S = 8000, 6.0      # ... this much load before measuring
TRACED_WARM_S = 2.0                # the traced query's, on an already warm JVM
PROBE_ROWS = 50_000                # direct source calls replay this much of the tail


class TailGenerator(threading.Thread):
    """Open-loop load on a fixed schedule that never waits for the
    pipeline. Every TICK_S the rows that fell due during the tick are
    appended to the tail file, and once it holds ROTATE_ROWS changes a new
    tail file starts (binlog-style rotation by size: only the newest file
    grows). An append rewrites the tail file aside and renames it over the
    old one, so a reader never sees half a line."""

    def __init__(self, src: str, maker: gen.JsonChangeMaker, model: gen.Digest,
                 rates, step_s, seq: int):
        super().__init__(daemon=True)
        self.src, self.maker, self.model = src, maker, model
        self.rates, self.step_s, self.seq = rates, step_s, seq
        self.t0 = time.time() + 0.2
        self.late_ms = 0.0
        self.generated = 0
        self.error = None
        self._lines: list[str] | None = None   # the tail file's, once started

    def steps(self):
        """(rate, start, end) of each step; ``step_s`` holds one duration
        per rate."""
        out, t = [], self.t0
        for rate, dur in zip(self.rates, self.step_s):
            out.append((rate, t, t + dur))
            t += dur
        return out

    def emit(self, dues_ms) -> None:
        if self._lines is None or len(self._lines) >= ROTATE_ROWS:
            self.seq += 1
            self._lines = []
        for due in dues_ms:
            line, topic, payload = self.maker.line(due)
            self.model.add(topic, payload)
            self._lines.append(line)
            self.generated += 1
        write_feed_file(self.src, self.seq, self._lines)

    def run(self) -> None:
        try:
            for rate, s0, s1 in self.steps():
                n_ticks = round((s1 - s0) / TICK_S)
                emitted = 0
                for k in range(1, n_ticks + 1):
                    tick = s0 + k * TICK_S
                    time.sleep(max(0.0, tick - time.time()))
                    self.late_ms = max(self.late_ms, (time.time() - tick) * 1000.0)
                    due_n = round(rate * k * TICK_S)
                    self.emit(
                        int((s0 + i / rate) * 1000) for i in range(emitted, due_n)
                    )
                    emitted = due_n
        except Exception as e:  # noqa: BLE001 — re-raised by the caller
            self.error = e


def write_feed_file(src: str, seq: int, lines: list[str]) -> None:
    name = f"feed.{seq:08d}.json"
    with open(os.path.join(src, "." + name), "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(os.path.join(src, "." + name), os.path.join(src, name))


def write_warm_file(src: str, maker: gen.JsonChangeMaker, model: gen.Digest) -> None:
    now = int(time.time() * 1000)
    lines = []
    for _ in range(WARM_ROWS):
        line, topic, payload = maker.line(now)
        model.add(topic, payload)
        lines.append(line)
    write_feed_file(src, 0, lines)


class TailQuery:
    """The continuous JSON pipeline (default envelope and topics) over a
    tail directory, with its generator model and publish records. Starting
    it runs the warm-up: a first file, then ``warm_s`` seconds of load."""

    def __init__(self, run: Run, spark, traced: bool, warm_s: float = WARM_S):
        from cdc_rs_spark.pipeline import PipelineConfig

        work = run.path("tail")
        self.src, self.pub = os.path.join(work, "src"), os.path.join(work, "pub")
        os.makedirs(self.src)
        self.maker = gen.JsonChangeMaker(run.rng(os.path.basename(work)))
        self.model = gen.Digest()
        self.cfg = cfg = PipelineConfig(
            source_path=self.src,
            checkpoint_dir=os.path.join(work, "ckpt"),
            publish=PublishRecorder(self.pub, due_field=True),
            source_format="change_feed",
        )
        write_warm_file(self.src, self.maker, self.model)
        self.generated, self.seq = WARM_ROWS, 0
        self.q = _start_query(run, spark, cfg, traced)
        _wait_for(lambda: published_count(self.pub) >= WARM_ROWS, DRAIN_TIMEOUT_S, "first tail batch")
        self.generate((WARM_RATE,), (warm_s,))
        self.n_warm_progress = len(self.q.recentProgress or [])

    def generate(self, rates, step_s) -> TailGenerator:
        """Run the open-loop generator over ``rates``, then wait until
        every change it wrote has been published."""
        g = TailGenerator(self.src, self.maker, self.model, rates, step_s, self.seq)
        g.start()
        g.join()
        if g.error:
            raise g.error
        self.generated += g.generated
        self.seq = g.seq
        _wait_for(lambda: published_count(self.pub) >= self.generated,
                  DRAIN_TIMEOUT_S, "tail drain")
        return g

    def ladder(self, run: Run, rates, shares) -> dict:
        """Open-loop load stepping through ``rates``, each for its share
        of ``--seconds``; latency and backlog per step."""
        with MachineSampler() as machine:
            g = self.generate(rates, [run.seconds * s for s in shares])
        progress = progress_rows(list(self.q.recentProgress or [])[self.n_warm_progress:])
        self.q.stop()
        records = read_publishes(self.pub)
        out = {"steps": [], "late_ms": g.late_ms, "peak_rss_mb": machine.peak_mb,
               "steal_share": machine.steal_share,
               "progress": progress, "records": records,
               "failed": gen.mismatch(self.model, digest_of(records)),
               "attempted": self.generated}
        # (due_ms, latency_ms) per published change of the measured ladder
        rows = [
            (r["t_end"] * 1000.0 - lat, lat) for r in records for lat in r["lat_ms"]
        ]
        rows = [(due, lat) for due, lat in rows if due >= g.t0 * 1000]
        ends = sorted((r["t_end"], r["n"]) for r in records)
        gen_before = self.generated - g.generated
        for rate, s0, s1 in g.steps():
            lat = [lt for due, lt in rows if s0 * 1000 <= due < s1 * 1000]
            gen_before += round(rate * (s1 - s0))
            backlog = gen_before - sum(n for t, n in ends if t <= s1)
            p99 = pctl(lat, 99)
            out["steps"].append({
                "rate": rate, "n": len(lat), "p50": pctl(lat, 50), "p99": p99,
                "backlog_end": backlog,
                "sustained": p99 <= TAIL_P99_LIMIT_MS
                and backlog <= rate * TAIL_P99_LIMIT_MS / 1000.0,
            })
        t_last = max(due + lt for due, lt in rows) / 1000.0
        out["rows_per_s"] = len(rows) / (t_last - g.t0)
        return out


def _named_step(lad: dict) -> dict:
    return next(s for s in lad["steps"] if s["rate"] == TAIL_NAMED_RATE)


def _sustained(steps: list[dict]) -> float:
    best = 0.0
    for s in steps:
        if not s["sustained"]:
            break
        best = float(s["rate"])
    return best


def tail_json(run: Run) -> Result:
    res = Result()
    holder = {}

    def warm(spark):
        holder["tq"] = TailQuery(run, spark, traced=False)

    setup_s = run.setup(warm)
    # a traced run reports no end-to-end metric; its untraced pass is as
    # long as the traced one it is compared with, which keeps the run short
    share = TAIL_SHARES[0] if run.trace else 1.0
    lad = holder["tq"].ladder(run, (TAIL_NAMED_RATE,), (share,))
    res.attempted += lad["attempted"]
    res.failed += lad["failed"]
    named = _named_step(lad)
    if named["n"] < 1000:
        raise RuntimeError(f"only {named['n']} latency samples at the named rate")
    res.metrics = {
        "setup_s": setup_s,
        "rows_per_s": lad["rows_per_s"],
        "latency_p50_ms": named["p50"],
        "latency_p99_ms": named["p99"],
        "peak_rss_mb": lad["peak_rss_mb"],
    }
    res.notes += [
        f"open loop at {TAIL_NAMED_RATE} rows/s for {run.seconds * share:g} s; "
        f"latency over {named['n']} changes",
    ] + _step_notes(lad["steps"]) + [
        f"generator late by at most {lad['late_ms']:.1f} ms; median trigger "
        f"{median(phase_ms(lad['progress'], 'triggerExecution')):.0f} ms, "
        f"addBatch {median(phase_ms(lad['progress'], 'addBatch')):.0f} ms",
        f"CPU time stolen by the hypervisor while measuring: {lad['steal_share']:.1%}",
    ]
    if run.trace:
        _tail_trace(run, res, lad)
    return res


def _step_notes(steps: list[dict]) -> list[str]:
    return [
        f"step {s['rate']} rows/s: n={s['n']} p50={s['p50']:.0f} ms "
        f"p99={s['p99']:.0f} ms backlog_end={s['backlog_end']} "
        f"sustained={s['sustained']}"
        for s in steps
    ]


def _tail_trace(run: Run, res: Result, untraced: dict) -> None:
    run.tracer = Tracer(True)
    spark = run.spark
    tq = TailQuery(run, spark, traced=True, warm_s=TRACED_WARM_S)
    rest0 = _rest_snapshot(spark)
    t0 = time.time()
    lad = tq.ladder(run, TAIL_RATES, TAIL_SHARES)
    rest1 = _rest_snapshot(spark, rest0["ids"])
    res.attempted += lad["attempted"]
    res.failed += lad["failed"]
    layers = _progress_layers(lad["progress"])
    layers.update(_rest_layers(rest1, time.time() - t0, run.cpus))
    layers["sinks.publish_ms_p50"] = median(
        run.tracer.durations_ms("sinks.publish_foreach_batch")
    )
    layers["sinks.publish_calls_per_batch_topic"] = _calls_per_batch_topic(lad["records"])
    layers["gen.late_ms_max"] = lad["late_ms"]
    layers["gen.sustained_rows_per_s"] = _sustained(lad["steps"])
    for s in lad["steps"]:
        layers[f"gen.backlog_rows_end.r{s['rate']}"] = float(s["backlog_end"])
    base = _named_step(untraced)["p50"]
    layers["tracing.overhead_pct"] = (_named_step(lad)["p50"] - base) / base * 100.0
    res.notes += [
        f"traced ladder {TAIL_RATES} rows/s for "
        f"{tuple(round(run.seconds * s, 1) for s in TAIL_SHARES)} s: "
        f"sustained_rows_per_s = {layers['gen.sustained_rows_per_s']:.0f} rows/s "
        f"(p99 limit {TAIL_P99_LIMIT_MS:.0f} ms, backlog under rate x limit)",
    ] + _step_notes(lad["steps"])
    files = sorted(os.path.join(tq.src, n) for n in os.listdir(tq.src))
    d = run.path("planner")
    layers.update(_source_layers(
        run, spark, d, _tail_arrivals(d, files, PROBE_ROWS, TAIL_NAMED_RATE), tq.cfg
    ))
    layers.update(_cluster_layers(run, res, spark))
    res.layers.update(layers)


# ==========================================================================
# cluster-fold layer probe (traced tail run)

FOLD_BATCHES = 2
FOLD_DOCS = 200
DUP_SHARE = 0.25


def _jobs_in(sc, group: str) -> int:
    """Jobs of ``group`` plus jobs without a group: the fold submits some
    of its actions from pool threads, which do not inherit the group."""
    st = sc.statusTracker()
    return len(st.getJobIdsForGroup(group)) + len(st.getJobIdsForGroup(None))


def _cluster_layers(run: Run, res: Result, spark) -> dict:
    """``clusters_foreach_batch`` over 200-doc batches with planted
    near-duplicates, a ``live_cluster_map`` probe after each fold, and the
    final map checked against batch connected components over all docs."""
    from cdc_rs_spark.operators.dedup import minhash_dedup_pairs
    from cdc_rs_spark.operators.graph import connected_components
    from cdc_rs_spark.streaming.clusters import (
        clusters_foreach_batch,
        init_cluster_store,
        live_cluster_map,
    )

    tr, sc = run.tracer, spark.sparkContext
    docs, planted = gen.make_docs(run.rng("docs"), FOLD_BATCHES * FOLD_DOCS, DUP_SHARE)
    d = run.path("clusters")
    sig, sh, root = (os.path.join(d, n) for n in ("sig", "sh", "map"))
    spark.createDataFrame([], "doc_id bigint, band int, bkey string").write.parquet(sig)
    spark.createDataFrame([], "doc_id bigint, sh array<string>").write.parquet(sh)
    init_cluster_store(spark, root)
    fold = clusters_foreach_batch(sig, sh, root)
    jobs = []
    for b in range(FOLD_BATCHES):
        batch = spark.createDataFrame(
            docs[b * FOLD_DOCS:(b + 1) * FOLD_DOCS], "doc_id bigint, text string"
        )
        group = f"perfbench-fold-{b}"
        before = _jobs_in(sc, group)
        sc.setJobGroup(group, "perfbench cluster fold")
        try:
            with tr.span("clusters.fold", batch=b):
                fold(batch, b)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.append(_jobs_in(sc, group) - before)
        with tr.span("clusters.probe", batch=b):
            live_cluster_map(spark, root).count()
    got = {r["doc_id"]: r["cluster"] for r in live_cluster_map(spark, root).collect()}
    full = spark.createDataFrame(docs, "doc_id bigint, text string")
    want = {
        r["v"]: r["component"]
        for r in connected_components(
            minhash_dedup_pairs(full, "doc_id", "text", 0.5), "id_a", "id_b"
        ).collect()
    }
    wrong = sum(1 for k in set(got) | set(want) if got.get(k) != want.get(k))
    res.attempted += len(docs)
    res.failed += wrong
    res.notes.append(
        f"cluster probe: {FOLD_BATCHES} folds of {FOLD_DOCS} docs, "
        f"{len(planted)} planted near-duplicates, {len(want)} docs in "
        f"multi-doc clusters, {wrong} differ from batch components"
    )
    files = sizes = 0
    for base in (sig, sh, root):
        for dp, _, fs in os.walk(base):
            for f in fs:
                files += 1
                sizes += os.path.getsize(os.path.join(dp, f))
    return {
        "clusters.fold_ms_p50": median(tr.durations_ms("clusters.fold")),
        "clusters.probe_ms_p50": median(tr.durations_ms("clusters.probe")),
        "clusters.jobs_per_fold": median(jobs),
        "clusters.store_files": float(files),
        "clusters.store_bytes": float(sizes),
    }
