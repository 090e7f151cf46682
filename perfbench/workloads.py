"""The benchmark's workloads, each driving the engine only through its
public functions and checking every output against the generator's
ground truth.

- ``ingest``  closed loop, one client (the cron): land a collection
  round, drain it through ``streaming.pipeline.start_pipeline`` while
  its movement alerts are raised beside the drain
  (``streaming.movement.movement_alerts``), then the bot answers one
  read of each kind (``operators.gold``).
- ``curate``  closed loop, one client: document batches through a
  ``readStream`` into ``streaming.pipeline.curation_batch_writer``.
- ``ingest_curate``  an ``ingest`` cycle and a ``curate`` batch at once,
  from two clients in step.
- ``resolve``  closed loop, one client: batches of odds-side names
  through ``operators.resolution.resolve_names``, with
  ``learn_mappings`` write-back after each.
- ``serve``   open loop of bot/dashboard reads at a fixed offered rate
  from up to four client threads, with one writer client landing and
  draining rounds beside them.

Each workload has ``setup`` (inputs generated and landed), ``warmup``
(one pass over every code path the measured phase uses, so codegen and
JIT are done) and ``run``. A closed-loop run times a fixed number of
operations of one size, so a faster engine is not moved onto other
work: ``n_ops(seconds)`` is the number that takes about ``seconds`` on
the reference box (``OP_S`` is one operation's time there).
"""

from __future__ import annotations

import os
import queue
import random
import shutil
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import gen
from football_data_pipeline_spark.functions.normalize import normalize_name
from football_data_pipeline_spark.operators import gold
from football_data_pipeline_spark.operators.resolution import (
    CHEAP_STRATEGIES,
    learn_mappings,
    resolve_names,
)
from football_data_pipeline_spark.streaming import pipeline
from football_data_pipeline_spark.streaming.movement import movement_alerts
from tracing import Tracer, probe

#: serve: offered read rate (requests/s) and the latency limit a read
#: must meet to count as on time
SERVE_RATE = 1.0
SERVE_LIMIT_MS = 8000.0
SERVE_THREADS = min(4, len(os.sched_getaffinity(0)))
#: gold read kinds and their weights in serve's mix
SERVE_MIX = (("odds", 35), ("trends", 20), ("form", 20), ("games", 15), ("league", 10))
#: odds feed: new fixtures per round, and how many existing fixtures a
#: round re-collects; rounds reach their steady size (their sum) once
#: RECOLLECT fixtures exist, after RECOLLECT // NEW_PER_ROUND rounds
NEW_PER_ROUND, RECOLLECT = 4, 12
RESOLVE_BATCH = 40
CURATE_BATCH = 60
#: fold the accepted history once two live batches exist: every batch
#: after the first compacts, so every measured batch does the same work
CURATE_COMPACT_EVERY = 2
EVENT_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


@dataclass
class Op:
    """One measured operation of a closed-loop workload."""

    seconds: float
    items: int
    attempted: int
    failed: int
    parts: dict[str, float] = field(default_factory=dict)  # named sub-times, seconds


@dataclass
class Result:
    """What a measured phase hands back to the runner."""

    op_s: list[float]  # latency of each measured op, seconds
    attempted: int
    failed: int
    named: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)
    window: tuple[float, float] = (0.0, 0.0)  # epoch seconds


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and
    its value (nearest rank). Fewer than 20 samples: the median."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return 50.0, statistics.median(xs)
    k = n - 11  # ten samples above index k
    return 100.0 * (k + 1) / n, xs[k]


def _pct(values: list[float], q: float) -> float:
    xs = sorted(values)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def _write_table(path: str, rows: list[dict], schema: pa.Schema) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def _land(src: str, files: list[tuple[str, bytes]]) -> None:
    """Write each file under a hidden name, then rename it in, so the
    file source never lists a half-written file."""
    for name, body in files:
        tmp = os.path.join(src, f".{name}.tmp")
        with open(tmp, "wb") as f:
            f.write(body)
        os.rename(tmp, os.path.join(src, name))


def _parquet_rows(path: str) -> int:
    """Row count of a parquet directory from its footers (no Spark job)."""
    n = 0
    for d, _, files in os.walk(path):
        for name in files:
            if name.endswith(".parquet") and not name.startswith((".", "_")):
                n += pq.ParquetFile(os.path.join(d, name)).metadata.num_rows
    return n


def _job_counts(spark: SparkSession, group: str) -> tuple[int, int]:
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for sid in info.stageIds if info else ():
            st = tracker.getStageInfo(sid)
            tasks += st.numTasks if st else 0
    return len(jobs), tasks


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    OP_S = 1.0  # one operation's time on the reference box, seconds

    def __init__(self, spark: SparkSession, seed: int, work: str, tracer: Tracer):
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.dir = os.path.join(work, self.name)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)

    def n_ops(self, seconds: float) -> int:
        return max(2, round(seconds / self.OP_S))

    def run(self, seconds: float) -> Result:
        """Time ``n_ops(seconds)`` operations, one after another."""
        ops = []
        w0 = time.time()
        for i in range(self.n_ops(seconds)):
            with self.tracer.op(f"{self.name}{i}"):
                ops.append(self.op())
        w1 = time.time()
        attempted, failed = self.final_check()
        return Result(
            op_s=[o.seconds for o in ops],
            attempted=sum(o.attempted for o in ops) + attempted,
            failed=sum(o.failed for o in ops) + failed,
            named=self.named(ops), layers=self.layers(ops), window=(w0, w1))

    def final_check(self) -> tuple[int, int]:
        """Checks made once after the measured phase: (attempted, failed)."""
        return 0, 0


# --- ingest path shared by `ingest` and serve's writer -----------------------


class TracedPipeline:
    """In a traced run, wraps the module-level helpers that the
    engine's batch writers call, so each layer's work is timed and
    counted where it happens. Flattener outputs are lazy, so the
    wrapper materializes each to the ``noop`` sink inside its span
    (extra work the untraced run does not do, run under the probe job
    group so Spark's counters leave it out)."""

    FLATTENERS = ("extract_teams", "extract_leagues", "extract_fixtures", "flatten_lineups",
                  "derive_players", "flatten_odds", "extract_team_statistics",
                  "flatten_head_to_head")

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.saved: dict[str, object] = {}

    def __enter__(self):
        if not self.tracer.enabled:
            return self
        tr = self.tracer
        for name in self.FLATTENERS + ("_merge_dim", "write_silver", "silver_batch_writer",
                                       "compact_history"):
            self.saved[name] = getattr(pipeline, name)

        def flat(name, fn):
            def wrapped(*a, **kw):
                df = fn(*a, **kw)
                with tr.span("operators.flatten"), probe(df.sparkSession):
                    _noop(df)
                    if name == "flatten_odds":
                        tr.count("operators.flatten.odds_rows", df.count())
                return df
            return wrapped

        for name in self.FLATTENERS:
            setattr(pipeline, name, flat(name, self.saved[name]))
        merge, write, batch_writer, compact = (
            self.saved["_merge_dim"], self.saved["write_silver"],
            self.saved["silver_batch_writer"], self.saved["compact_history"])

        def merge_dim(spark, delta, path, *a, **kw):
            with tr.span("operators.upsert"):
                merge(spark, delta, path, *a, **kw)
            tr.count("operators.upsert.dim_rows_rewritten", _parquet_rows(path))

        def write_silver(df, path, *a, **kw):
            with tr.span("sources.sinks"):
                write(df, path, *a, **kw)
            files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
                     if f.endswith(".parquet")]
            tr.count("sources.sinks.files_written", len(files))
            tr.count("sources.sinks.bytes", sum(os.path.getsize(f) for f in files))
            tr.count("sources.sinks.rows", _parquet_rows(path))

        def silver_batch_writer(root):
            inner = batch_writer(root)

            def write_batch(bronze, batch_id):
                tr.count("sources.ingest.scan_tasks", bronze.rdd.getNumPartitions())
                with tr.span("streaming.pipeline.batch"):
                    inner(bronze, batch_id)
            return write_batch

        def compact_history(*a, **kw):
            with tr.span("streaming.pipeline.compact"):
                return compact(*a, **kw)

        pipeline._merge_dim = merge_dim
        pipeline.write_silver = write_silver
        pipeline.silver_batch_writer = silver_batch_writer
        pipeline.compact_history = compact_history
        return self

    def __exit__(self, *exc):
        for name, fn in self.saved.items():
            setattr(pipeline, name, fn)


class OddsIngest:
    """One silver root fed by the engine's streaming pipeline."""

    def __init__(self, spark: SparkSession, src: str, root: str, tracer: Tracer):
        self.spark, self.src, self.root, self.tracer = spark, src, root, tracer
        self.silver = f"{root}/silver"
        self.ckpt = f"{root}/ckpt"

    def drain(self) -> list[dict]:
        """Drain every landed document into silver; returns progress."""
        with self.tracer.span("streaming.pipeline"):
            q = pipeline.start_pipeline(self.spark, self.src, self.silver, self.ckpt,
                                        trigger=None)
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        tr = self.tracer
        for p in progress:
            d = p["durationMs"]
            tr.count("sources.ingest.get_batch_ms", d.get("getBatch", 0) + d.get("latestOffset", 0))
            tr.count("streaming.pipeline.add_batch_ms", d.get("addBatch", 0))
            tr.count("streaming.pipeline.overhead_ms",
                     d.get("triggerExecution", 0) - d.get("addBatch", 0))
            tr.count("streaming.pipeline.batches", 1)
        if tr.enabled:
            tr.count("streaming.pipeline.jobs",
                     _job_counts(self.spark, str(q.runId))[0])
        return progress


EVENTS_SCHEMA = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
                           ("user_id", pa.int64()), ("event_type", pa.string()),
                           ("value", pa.float64())])


class Alerts:
    """Movement alerts over each round's odds, landed as event files
    (the generator's projection of the round's documents to the event
    columns the alert operator takes), through its stateful stream."""

    def __init__(self, spark: SparkSession, work: str, tracer: Tracer):
        self.spark, self.tracer = spark, tracer
        self.events = f"{work}/events"
        self.ckpt = f"{work}/alerts_ckpt"

    def land(self, rnd: int, rows: list[dict]) -> None:
        _write_table(f"{self.events}/r{rnd:05d}.parquet", rows, EVENTS_SCHEMA)

    def run(self) -> set[tuple]:
        """Raise the alerts of every event file landed since the last run."""
        spark = self.spark
        with self.tracer.span("streaming.movement"):
            got: list = []
            q = (movement_alerts(spark.readStream.schema(EVENT_SCHEMA).parquet(self.events))
                 .writeStream.foreachBatch(lambda df, _: got.extend(df.collect()))
                 .option("checkpointLocation", self.ckpt)
                 .outputMode("append").trigger(availableNow=True).start())
            try:
                _await_data_batch(q)
            finally:
                q.stop()
        self.tracer.count("streaming.movement.alerts", len(got))
        return {(r.user_id, r.event_type, r.ts, r.value, r.prev_value) for r in got}


def _await_data_batch(q, timeout_s: float = 120.0) -> None:
    """Wait until the query has committed a batch that read input.

    The alert operator keeps a processing-time timeout per series, so
    its query schedules no-data batches forever and an ``availableNow``
    run never terminates on its own; the caller stops it once the data
    batch is committed (its progress event is posted after the
    commit)."""
    deadline = time.perf_counter() + timeout_s
    while not any(p["numInputRows"] > 0 for p in q.recentProgress):
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        if time.perf_counter() > deadline:
            raise TimeoutError("alert stream committed no data batch")
        time.sleep(0.02)


def _drain_ok(progress: list[dict], docs: list) -> bool:
    """A drain is correct when it read every landed document."""
    read = sum(p["numInputRows"] for p in progress)
    if read != len(docs):
        print(f"check: drain read {read} of {len(docs)} documents", flush=True)
    return read == len(docs)


def _alerts_ok(got: set, want: set) -> bool:
    """The alert set equals the generator's >10% LAG computation."""
    if got != want:
        print(f"check: alerts {len(got)} vs {len(want)} expected, "
              f"{len(got - want)} unexpected, {len(want - got)} missing", flush=True)
    return got == want


# --- gold reads shared by `ingest` and `serve` -------------------------------


RESULTS_SCHEMA = pa.schema([
    ("id", pa.int64()), ("league_id", pa.int64()), ("home_team_id", pa.int64()),
    ("away_team_id", pa.int64()), ("kickoff_utc", pa.timestamp("us", tz="UTC")),
    ("status", pa.string()), ("home_score", pa.int32()), ("away_score", pa.int32()),
])


class GoldReads:
    """The bot/dashboard reads of ``operators.gold`` over one silver
    root, teams drawn with Zipf (s = 1.1) popularity, every answer
    checked against the generator's state model as of the rounds the
    root holds."""

    def __init__(self, spark: SparkSession, seed: int, d: str, uni: gen.Universe,
                 feed: gen.OddsFeed, tracer: Tracer):
        self.spark, self.uni, self.feed, self.tracer = spark, uni, feed, tracer
        self.results = f"{d}/results/part-0.parquet"
        _write_table(self.results, [
            {"id": r[0], "league_id": r[1], "home_team_id": r[2], "away_team_id": r[3],
             "kickoff_utc": r[4], "status": "FT", "home_score": r[5], "away_score": r[6]}
            for r in uni.results], RESULTS_SCHEMA)
        self.rng = random.Random(f"reads:{seed}")
        self.popular = sorted(uni.teams)
        self.rng.shuffle(self.popular)  # Zipf rank order
        self.zipf = [1.0 / (r + 1) ** 1.1 for r in range(len(self.popular))]

    def request(self, kind: str) -> tuple:
        team = self.rng.choices(self.popular, weights=self.zipf)[0]
        if kind == "games":
            return kind, self.rng.choice((24, 48, 96))
        if kind == "league":
            return kind, self.uni.teams[team].league_id
        return kind, team

    def _frame(self, req: tuple, root: str, upto: int) -> DataFrame:
        spark = self.spark
        t = {name: spark.read.parquet(f"{root}/{name}")
             for name in ("teams", "leagues", "fixtures", "odds_history")}
        now = F.lit(gen.OddsFeed.now(upto).strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp")
        kind, arg = req
        if kind == "odds":
            return gold.team_odds_lookup(t["fixtures"], t["teams"], t["leagues"],
                                         t["odds_history"], self.uni.teams[arg].name, now)
        if kind == "trends":
            return gold.odds_trends(t["fixtures"], t["teams"], t["odds_history"],
                                    self.uni.teams[arg].name, now)
        if kind == "form":
            return gold.team_form(t["teams"], spark.read.parquet(f"{root}/team_statistics"),
                                  spark.read.parquet(self.results), self.uni.teams[arg].name, now)
        if kind == "games":
            return gold.upcoming_games_with_odds(t["fixtures"], t["teams"], t["leagues"],
                                                 t["odds_history"], now, horizon_hours=arg)
        return gold.league_teams(t["teams"], t["leagues"], t["fixtures"], league_id=arg)

    def _expect(self, req: tuple, upto: int) -> list:
        kind, arg = req
        f = self.feed
        return {"odds": lambda: f.expect_odds(arg, upto),
                "trends": lambda: f.expect_trends(arg, upto),
                "form": lambda: f.expect_form(arg, upto),
                "games": lambda: f.expect_games(upto, arg),
                "league": lambda: f.expect_league(arg, upto)}[kind]()

    @staticmethod
    def _canon(kind: str, rows: list) -> list:
        cols = {"odds": ("fixture_id", "bookmaker", "collected_at", "home_odds"),
                "trends": ("fixture_id", "bookmaker", "market_type", "collected_at", "home_odds",
                           "n_snapshots", "first_home", "last_home"),
                "form": ("fixture_id", "matches_played", "goals_for", "goals_against"),
                "games": ("fixture_id", "bookmaker", "odds_updated", "home_odds"),
                "league": ("team_id", "n_games")}[kind]
        return sorted((tuple(r[c] for c in cols) for r in rows), key=repr)

    def read(self, req: tuple, root: str, upto: int, op: str | None = None) -> bool:
        """One read: build the gold frame (eager analysis), collect it,
        and check the answer. A read that raises is a wrong answer."""
        kind = req[0]
        tr = self.tracer
        try:
            with tr.op(op):
                if tr.enabled and op is not None:
                    self.spark.sparkContext.setJobGroup(f"{op}.{kind}", kind)
                with tr.span(f"operators.gold.{kind}.build"):
                    df = self._frame(req, root, upto)
                    df.schema  # noqa: B018  (forces analysis)
                with tr.span(f"operators.gold.{kind}.execute"):
                    rows = df.collect()
                if tr.enabled and op is not None:
                    tr.count("operators.gold.files_scanned", len(df.inputFiles()))
                    jobs, tasks = _job_counts(self.spark, f"{op}.{kind}")
                    tr.count("operators.gold.jobs", jobs)
                    tr.count("operators.gold.tasks", tasks)
                    tr.count("operators.gold.requests", 1)
        except Exception as e:  # reported, counted as a failed read
            print(f"check: read {req} at round {upto} raised {e!r}", flush=True)
            return False
        got = self._canon(kind, rows)
        want = sorted(self._expect(req, upto), key=repr)
        if got != want:
            first = next((g, w) for g, w in zip(got + [None] * len(want),
                                                 want + [None] * len(got)) if g != w)
            print(f"check: read {req} at round {upto}: {len(got)} rows, {len(want)} expected; "
                  f"first difference {first}", flush=True)
        return got == want

    def layers(self) -> dict:
        """Per-read build/execute times by kind, and per-request counts."""
        tr = self.tracer
        out = {}
        for kind, _ in SERVE_MIX:
            m = max(tr.n_spans(f"operators.gold.{kind}.execute"), 1)
            out[f"operators.gold.{kind}.build_ms"] = (
                tr.total_ms(f"operators.gold.{kind}.build") / m, "ms")
            out[f"operators.gold.{kind}.execute_ms"] = (
                tr.total_ms(f"operators.gold.{kind}.execute") / m, "ms")
        nreq = max(tr.counts.get("operators.gold.requests", 0), 1)
        for k, name in (("files_scanned", "files_scanned"), ("jobs", "jobs_per_request"),
                        ("tasks", "tasks_per_request")):
            out[f"operators.gold.{name}"] = (tr.counts.get(f"operators.gold.{k}", 0) / nreq,
                                             "count")
        return out


def ingest_layers(tr: Tracer, n_cycles: int, docs: int) -> dict:
    """The ingest path's per-layer numbers, per drained cycle."""
    c = tr.counts
    n = max(n_cycles, 1)
    batches = max(c.get("streaming.pipeline.batches", 0), 1)
    rows = c.get("sources.sinks.rows", 0)
    return {
        "sources.ingest.scan_tasks": (c.get("sources.ingest.scan_tasks", 0) / n, "count"),
        "sources.ingest.get_batch_ms": (c.get("sources.ingest.get_batch_ms", 0) / n, "ms"),
        "streaming.pipeline.add_batch_ms": (c.get("streaming.pipeline.add_batch_ms", 0) / batches, "ms"),
        "streaming.pipeline.overhead_ms": (c.get("streaming.pipeline.overhead_ms", 0) / batches, "ms"),
        "streaming.pipeline.jobs_per_batch": (c.get("streaming.pipeline.jobs", 0) / batches, "count"),
        "operators.flatten.busy_ms": (tr.total_ms("operators.flatten") / n, "ms"),
        "operators.flatten.rows_per_doc": (c.get("operators.flatten.odds_rows", 0) / max(docs, 1), "count"),
        "operators.upsert.busy_ms": (tr.total_ms("operators.upsert") / n, "ms"),
        "operators.upsert.dim_rows_rewritten": (c.get("operators.upsert.dim_rows_rewritten", 0) / n, "count"),
        "sources.sinks.write_ms": (tr.total_ms("sources.sinks") / n, "ms"),
        "sources.sinks.files_written": (c.get("sources.sinks.files_written", 0) / n, "count"),
        "sources.sinks.bytes_per_row": (c.get("sources.sinks.bytes", 0) / max(rows, 1), "B"),
    }


class Ingest(Workload):
    """Each cycle lands one steady-size round (NEW_PER_ROUND new
    fixtures plus RECOLLECT re-collected ones) and drains it while its
    alerts are raised beside the drain; once the drain commits, one
    read of each gold kind runs on a client thread pool. The warm-up cycle drains the rounds that grow
    the feed to its steady size, so every measured round is the same
    size; fixture and odds tables still grow by a round each cycle."""

    name = "ingest"
    OP_S = 13.5

    def setup(self) -> None:
        d = self.dir
        self.uni = gen.Universe.make(self.seed)
        self.feed = gen.OddsFeed(self.seed, self.uni, new_per_round=NEW_PER_ROUND,
                                 recollect=RECOLLECT)
        self.rounds = [self.feed.next_round()[1] for _ in range(RECOLLECT // NEW_PER_ROUND)]
        self.src = f"{d}/src"
        os.makedirs(self.src)
        self.ing = OddsIngest(self.spark, self.src, f"{d}/a", self.tracer)
        self.alerts = Alerts(self.spark, d, self.tracer)
        self.reads = GoldReads(self.spark, self.seed, d, self.uni, self.feed, self.tracer)
        self.drained = 0

    def _cycle(self, op: str | None) -> Op:
        """Land every generated round not drained yet, then drain it
        with its alerts raised beside the drain; the reads start once
        the drain has committed."""
        ks = range(self.drained, len(self.rounds))
        docs = [doc for k in ks for doc in self.rounds[k]]
        upto = len(self.rounds)
        reqs = [self.reads.request(kind) for kind, _ in SERVE_MIX]
        want = set().union(*(self.feed.alerts_of(k) for k in ks))
        _land(self.src, docs)
        for k in ks:
            self.alerts.land(k, self.feed.events_of(k))

        def alerts() -> tuple[set, float]:
            with self.tracer.op(op):
                got = self.alerts.run()
            return got, time.perf_counter()

        t0 = time.perf_counter()
        with ThreadPoolExecutor(1 + SERVE_THREADS) as pool:
            alerted = pool.submit(alerts)
            progress = self.ing.drain()
            t1 = time.perf_counter()
            reads = [pool.submit(self.reads.read, req, self.ing.silver, upto, op)
                     for req in reqs]
            reads_ok = [r.result() for r in reads]
            t2 = time.perf_counter()
            got, t_alerts = alerted.result()
        t3 = time.perf_counter()
        self.drained = upto
        failed = (not _drain_ok(progress, docs)) + (not _alerts_ok(got, want)) + reads_ok.count(False)
        return Op(t3 - t0, len(docs), 2 + len(reads_ok), failed,
                  {"drain": t1 - t0, "alert_lag": t_alerts - t0, "reads": t2 - t1})

    def warmup(self) -> None:
        self._cycle(None)

    def op(self) -> Op:
        self.rounds.append(self.feed.next_round()[1])
        return self._cycle(self.tracer.current_op())

    def final_check(self) -> tuple[int, int]:
        """Every silver table holds the generator's row count (read from
        the parquet footers, so the check runs no Spark job)."""
        want = self.feed.counts[self.drained - 1]
        got = {t: _parquet_rows(f"{self.ing.silver}/{t}") for t in want}
        if got != want:
            print(f"check: silver counts {got}, expected {want}", flush=True)
        return 1, int(got != want)

    def named(self, ops: list[Op]) -> dict:
        drains = [o.parts["drain"] for o in ops]
        pct, tail_s = tail(drains)
        return {
            "ingest_cycle_p50_s": (statistics.median(drains), "s"),
            "ingest_cycle_tail_s": (tail_s, "s"),
            "ingest_cycle_tail_pct": (pct, "%"),
            "ingest_docs_per_s": (sum(o.items for o in ops) / sum(drains), "docs/s"),
            "alert_lag_p50_s": (statistics.median(o.parts["alert_lag"] for o in ops), "s"),
            "reads_p50_s": (statistics.median(o.parts["reads"] for o in ops), "s"),
        }

    def layers(self, ops: list[Op]) -> dict:
        tr, n = self.tracer, max(len(ops), 1)
        return {
            **ingest_layers(tr, len(ops), sum(o.items for o in ops)),
            "streaming.movement.busy_ms": (tr.total_ms("streaming.movement") / n, "ms"),
            "streaming.movement.alerts": (tr.counts.get("streaming.movement.alerts", 0) / n, "count"),
            **self.reads.layers(),
        }


# --- serve ---------------------------------------------------------------------


class DoubleBuffer:
    """Two silver roots; reads go to the current one while the writer
    drains the other, then the roles swap. The engine's dims are
    rewritten in place during a drain, so a read overlapping a drain of
    its own root could fail or see a torn table; the writer waits for
    the standby root's last reader before draining it."""

    def __init__(self, roots: list[OddsIngest], upto: int):
        self.roots = roots
        self.cur = 0
        self.upto = [upto, upto]  # rounds drained into each root
        self.readers = [0, 0]
        self.cond = threading.Condition()

    def acquire(self) -> tuple[int, str, int]:
        with self.cond:
            i = self.cur
            self.readers[i] += 1
            return i, self.roots[i].silver, self.upto[i]

    def release(self, i: int) -> None:
        with self.cond:
            self.readers[i] -= 1
            self.cond.notify_all()

    def standby(self) -> int:
        with self.cond:
            j = 1 - self.cur
            self.cond.wait_for(lambda: self.readers[j] == 0)
            return j

    def publish(self, j: int, upto: int) -> None:
        with self.cond:
            self.upto[j] = upto
            self.cur = j


class Serve(Workload):
    """Open loop: ``seconds × SERVE_RATE`` reads, each due at a fixed
    time and timed from it. Not a closed loop, so ``OP_S`` is unused."""

    name = "serve"
    INITIAL_ROUNDS = 4
    WRITER_ROUNDS = 6

    def setup(self) -> None:
        d = self.dir
        self.uni = gen.Universe.make(self.seed)
        self.feed = gen.OddsFeed(self.seed, self.uni)
        rounds = [self.feed.next_round()[1]
                  for _ in range(self.INITIAL_ROUNDS + self.WRITER_ROUNDS)]
        self.pending = rounds[self.INITIAL_ROUNDS:]
        self.src = f"{d}/src"
        os.makedirs(self.src)
        for docs in rounds[: self.INITIAL_ROUNDS]:
            _land(self.src, docs)
        self.reads = GoldReads(self.spark, self.seed, d, self.uni, self.feed, self.tracer)
        self.rng = random.Random(f"serve:{self.seed}")

    def warmup(self) -> None:
        d = self.dir
        a = OddsIngest(self.spark, self.src, f"{d}/a", self.tracer)
        a.drain()
        shutil.copytree(f"{d}/a", f"{d}/b")
        b = OddsIngest(self.spark, self.src, f"{d}/b", self.tracer)
        self.buf = DoubleBuffer([a, b], self.INITIAL_ROUNDS)
        # every read path once, concurrently, as the measured phase runs them
        with ThreadPoolExecutor(SERVE_THREADS) as pool:
            warm = [pool.submit(self.reads.read, self.reads.request(kind), a.silver,
                                self.INITIAL_ROUNDS) for kind, _ in SERVE_MIX]
            for f in warm:
                f.result()

    def _writer(self, start: float, seconds: float, out: dict) -> None:
        """Land and drain rounds back to back until the window closes."""
        try:
            k = 0
            while k < len(self.pending) and time.perf_counter() - start < seconds:
                rnd = self.INITIAL_ROUNDS + k
                j = self.buf.standby()
                _land(self.src, self.pending[k])
                t0 = time.perf_counter()
                with self.tracer.op(f"w{k}"):
                    progress = self.buf.roots[j].drain()
                t1 = time.perf_counter()
                self.buf.publish(j, rnd + 1)
                out["cycles"].append(t1 - t0)
                out["docs"] += len(self.pending[k])
                out["failed"] += not _drain_ok(progress, self.pending[k])
                k += 1
        except Exception as e:  # reported as a failed write, the run goes on
            out["error"] = repr(e)
            out["failed"] += 1

    def run(self, seconds: float) -> Result:
        n = max(1, int(seconds * SERVE_RATE))
        # stratified mix: each kind's share of n by largest remainder
        total = sum(w for _, w in SERVE_MIX)
        counts = {k: n * w // total for k, w in SERVE_MIX}
        by_rest = sorted(SERVE_MIX, key=lambda kw: -(n * kw[1] % total))
        for k, _ in by_rest[: n - sum(counts.values())]:
            counts[k] += 1
        kinds = [k for k, _ in SERVE_MIX for _ in range(counts[k])]
        self.rng.shuffle(kinds)
        reqs = [self.reads.request(k) for k in kinds]
        todo: queue.Queue = queue.Queue()
        done: list[tuple] = []
        lock = threading.Lock()

        def worker() -> None:
            while True:
                item = todo.get()
                if item is None:
                    return
                i, due, req = item
                slot, root, upto = self.buf.acquire()
                try:
                    ok = self.reads.read(req, root, upto, f"read{i}")
                finally:
                    self.buf.release(slot)
                end = time.perf_counter()
                with lock:
                    done.append((req[0], end - due, ok))

        threads = [threading.Thread(target=worker, daemon=True) for _ in range(SERVE_THREADS)]
        for t in threads:
            t.start()
        wout = {"cycles": [], "docs": 0, "failed": 0}
        w0, start = time.time(), time.perf_counter()
        writer = threading.Thread(target=self._writer, args=(start, seconds, wout), daemon=True)
        writer.start()
        lateness = []
        for i, req in enumerate(reqs):
            due = start + i / SERVE_RATE
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            lateness.append(max(0.0, time.perf_counter() - due))
            todo.put((i, due, req))
        for _ in threads:
            todo.put(None)
        for t in threads:
            t.join()
        writer.join()
        w1 = time.time()
        lat = [x[1] for x in done]
        failed = sum(1 for x in done if not x[2])
        on_time = sum(1 for x in done if x[2] and x[1] * 1e3 <= SERVE_LIMIT_MS)
        pct, tail_s = tail(lat)
        named = {
            "serve_latency_p50_ms": (statistics.median(lat) * 1e3, "ms"),
            "serve_latency_tail_ms": (tail_s * 1e3, "ms"),
            "serve_latency_tail_pct": (pct, "%"),
            "serve_on_time_share": (on_time / len(done), "ratio"),
            "serve_generator_late_p99_ms": (_pct(lateness, 0.99) * 1e3, "ms"),
            "serve_reads": (len(done), "count"),
        }
        for kind, _ in SERVE_MIX:
            ks = [x[1] for x in done if x[0] == kind]
            if ks:
                named[f"serve_{kind}_p50_ms"] = (statistics.median(ks) * 1e3, "ms")
        if wout["cycles"]:
            named.update({
                "ingest_cycle_p50_s": (statistics.median(wout["cycles"]), "s"),
                "ingest_docs_per_s": (wout["docs"] / sum(wout["cycles"]), "docs/s"),
                "writer_cycles": (len(wout["cycles"]), "count"),
            })
        if "error" in wout:
            print(f"writer error: {wout['error']}", flush=True)
        layers = {**ingest_layers(self.tracer, len(wout["cycles"]), wout["docs"]),
                  **self.reads.layers()}
        return Result(
            op_s=lat, attempted=len(reqs) + len(wout["cycles"]) + ("error" in wout),
            failed=failed + wout["failed"], named=named, layers=layers, window=(w0, w1))


# --- resolve -------------------------------------------------------------------


NAMES_SCHEMA = pa.schema([("api_name", pa.string()), ("league", pa.int64())])
CANDS_SCHEMA = pa.schema([("odds_name", pa.string()), ("league", pa.int64())])
LEARNED_SCHEMA = pa.schema([("api_name", pa.string()), ("learned_name", pa.string()),
                            ("confidence", pa.float64()), ("strategy", pa.string()),
                            ("verified", pa.bool_())])
CHEAP = {s for _, s, _ in CHEAP_STRATEGIES}


class Resolve(Workload):
    """The warm-up resolves WARM_BATCHES batches, not one: the second
    and third batches still run ~1.5x and ~1.2x a later one while the
    JIT compiles the cascade's planning code."""

    name = "resolve"
    OP_S = 4.0
    BATCHES = 40
    WARM_BATCHES = 2

    def setup(self) -> None:
        d = self.dir
        self.uni = gen.Universe.make(self.seed)
        self.batches = gen.name_batches(self.seed, self.uni, self.BATCHES, RESOLVE_BATCH)
        self.cands = f"{d}/candidates/part-0.parquet"
        _write_table(self.cands, [{"odds_name": t.name, "league": t.league_id}
                                  for t in self.uni.teams.values()], CANDS_SCHEMA)
        for i, b in enumerate(self.batches):
            _write_table(f"{d}/names/b{i:03d}/part-0.parquet",
                         [{"api_name": r[0], "league": r[1]} for r in b], NAMES_SCHEMA)
        _write_table(f"{d}/learned/v000/part-0.parquet", [], LEARNED_SCHEMA)
        self.next = 0

    def op(self) -> Op:
        """Resolve one batch and write its learned mappings back."""
        spark, tr, k, d = self.spark, self.tracer, self.next, self.dir
        self.next += 1
        t0 = time.perf_counter()
        api = spark.read.parquet(f"{d}/names/b{k:03d}")
        learned = spark.read.parquet(f"{d}/learned/v{k:03d}")
        with tr.span("operators.resolution.resolve"):
            out = resolve_names(api, spark.read.parquet(self.cands), block_key="league",
                                learned=learned.select("api_name", "learned_name"))
            rows = out.collect()
        with tr.span("operators.resolution.learn"):
            resolved = spark.createDataFrame(
                [(r.api_name, r.matched_name, r.confidence, r.strategy) for r in rows],
                "api_name string, matched_name string, confidence double, strategy string")
            learn_mappings(resolved, learned).write.parquet(f"{d}/learned/v{k + 1:03d}")
        t1 = time.perf_counter()
        if tr.enabled:
            with tr.span("functions.normalize"), probe(spark):
                _noop(api.select(normalize_name("api_name")))
            per_league: dict[int, int] = {}
            for t in self.uni.teams.values():
                per_league[t.league_id] = per_league.get(t.league_id, 0) + 1
            tr.count("functions.similarity.pairs_scored",
                     sum(per_league.get(r[1], 0) for r in self.batches[k]))
            for r in rows:
                tr.count("operators.resolution.cheap", r.strategy in CHEAP)
                tr.count("operators.resolution.learned_hits", r.strategy == "learned_mapping")
        truth = {r[0]: r[2] for r in self.batches[k]}
        correct = sum(1 for r in rows if r.matched_name == truth.get(r.api_name))
        return Op(t1 - t0, len(rows), len(rows), len(rows) - correct)

    def warmup(self) -> None:
        for _ in range(self.WARM_BATCHES):
            self.op()

    def named(self, ops: list[Op]) -> dict:
        lat = [o.seconds for o in ops]
        names = sum(o.items for o in ops)
        pct, tail_s = tail(lat)
        return {
            "resolve_batch_p50_s": (statistics.median(lat), "s"),
            "resolve_batch_tail_s": (tail_s, "s"),
            "resolve_batch_tail_pct": (pct, "%"),
            "resolve_names_per_s": (names / sum(lat), "names/s"),
            "resolve_accuracy": (1 - sum(o.failed for o in ops) / names, "ratio"),
        }

    def layers(self, ops: list[Op]) -> dict:
        tr, n = self.tracer, max(len(ops), 1)
        names = max(sum(o.items for o in ops), 1)
        cheap = tr.counts.get("operators.resolution.cheap", 0)
        return {
            "functions.normalize.busy_ms": (tr.total_ms("functions.normalize") / n, "ms"),
            "functions.similarity.pairs_scored": (
                tr.counts.get("functions.similarity.pairs_scored", 0) / n, "count"),
            "operators.resolution.busy_ms": (tr.total_ms("operators.resolution.resolve") / n, "ms"),
            "operators.resolution.cheap_share": (cheap / names, "ratio"),
            "operators.resolution.fuzzy_names": ((names - cheap) / n, "count"),
            "operators.resolution.learned_hits": (
                tr.counts.get("operators.resolution.learned_hits", 0) / n, "count"),
            "operators.resolution.learn_ms": (tr.total_ms("operators.resolution.learn") / n, "ms"),
        }


# --- curate --------------------------------------------------------------------


DOCS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                         ("lang", pa.string()), ("source", pa.string())])


class Curate(Workload):
    name = "curate"
    OP_S = 10.0
    BATCHES = 24

    def setup(self) -> None:
        d = self.dir
        feed = gen.CorpusFeed(self.seed, size=CURATE_BATCH)
        self.batches = [feed.next_batch() for _ in range(self.BATCHES)]
        for i, b in enumerate(self.batches):
            _write_table(f"{d}/staged/b{i:03d}/part-0.parquet",
                         [{"doc_id": x.doc_id, "text": x.text, "lang": x.lang,
                           "source": x.source} for x in b], DOCS_SCHEMA)
        self.src = f"{d}/src"
        os.makedirs(self.src)
        self.next = 0

    def op(self) -> Op:
        spark, tr, k, d = self.spark, self.tracer, self.next, self.dir
        self.next += 1
        os.rename(f"{d}/staged/b{k:03d}", f"{self.src}/b{k:03d}")
        t0 = time.perf_counter()
        with tr.span("streaming.pipeline.curation"):
            q = (spark.readStream.schema("doc_id long, text string, lang string, source string")
                 .option("recursiveFileLookup", "true").parquet(self.src)
                 .writeStream.foreachBatch(
                     pipeline.curation_batch_writer(f"{d}/corpus", CURATE_COMPACT_EVERY))
                 .option("checkpointLocation", f"{d}/ckpt")
                 .trigger(availableNow=True).start())
            q.awaitTermination()
        t1 = time.perf_counter()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        bid = max(p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0)
        accepted = set(pq.read_table(f"{d}/corpus/accepted/batch_id={bid}",
                                     columns=["doc_id"]).column("doc_id").to_pylist())
        docs = self.batches[k]
        bad = sum(1 for x in docs
                  if gen.expected_kept(x) is not None and gen.expected_kept(x) != (x.doc_id in accepted))
        planted = [x for x in docs if x.dup]
        if tr.enabled:
            tr.count("operators.quality.rejected", _parquet_rows(f"{d}/corpus/rejected/batch_id={bid}"))
            tr.count("operators.dedup.planted", len(planted))
            tr.count("operators.dedup.caught", sum(1 for x in planted if x.doc_id not in accepted))
            hist = (_parquet_rows(f"{d}/corpus/accepted")
                    + _parquet_rows(f"{d}/corpus/accepted.__hist_base__") - len(accepted))
            tr.count("operators.dedup.history_rows_probed", hist)
        return Op(t1 - t0, len(docs), len(docs), bad)

    def warmup(self) -> None:
        self.op()

    def _traced_layers(self) -> None:
        """Each curation stage once more over the last batch's input,
        materialized on its own (under the probe job group, after the
        measured window), for the per-layer busy times."""
        from football_data_pipeline_spark.operators.dedup import dedup_against_corpus
        from football_data_pipeline_spark.operators.quality import classify_quality
        from football_data_pipeline_spark.operators.redact import redact_pii

        spark, tr = self.spark, self.tracer
        df = spark.read.parquet(f"{self.src}/b{self.next - 1:03d}")
        with probe(spark):
            with tr.span("operators.quality"):
                _noop(classify_quality(df))
            with tr.span("operators.redact"):
                _noop(redact_pii(df))
            with tr.span("operators.dedup"):
                hist = spark.read.parquet(f"{self.dir}/corpus/accepted").drop("batch_id")
                base = f"{self.dir}/corpus/accepted.__hist_base__"
                if os.path.isdir(base):
                    hist = hist.unionByName(spark.read.parquet(base).drop("batch_id"))
                _noop(dedup_against_corpus(df, hist))

    def named(self, ops: list[Op]) -> dict:
        lat = [o.seconds for o in ops]
        pct, tail_s = tail(lat)
        return {
            "curate_batch_p50_s": (statistics.median(lat), "s"),
            "curate_batch_tail_s": (tail_s, "s"),
            "curate_batch_tail_pct": (pct, "%"),
            "curate_docs_per_s": (sum(o.items for o in ops) / sum(lat), "docs/s"),
        }

    def layers(self, ops: list[Op]) -> dict:
        tr, n = self.tracer, max(len(ops), 1)
        if tr.enabled:
            self._traced_layers()
        c = tr.counts
        return {
            "streaming.pipeline.compact_ms": (tr.total_ms("streaming.pipeline.compact") / n, "ms"),
            "operators.quality.busy_ms": (tr.total_ms("operators.quality"), "ms"),
            "operators.quality.reject_share": (
                c.get("operators.quality.rejected", 0) / max(sum(o.items for o in ops), 1), "ratio"),
            "operators.redact.busy_ms": (tr.total_ms("operators.redact"), "ms"),
            "operators.dedup.busy_ms": (tr.total_ms("operators.dedup"), "ms"),
            "operators.dedup.history_rows_probed": (c.get("operators.dedup.history_rows_probed", 0) / n, "count"),
            "operators.dedup.planted_dup_recall": (
                c.get("operators.dedup.caught", 0) / max(c.get("operators.dedup.planted", 0), 1), "ratio"),
        }


class IngestCurate(Workload):
    """One operation is an ``ingest`` cycle and a ``curate`` batch run
    at once by two clients: the engine's two streaming ingestion paths
    side by side. Their first passes are the
    costliest warm-ups of all workloads, so pairing them lets one
    warm-up pay for both within the time a full check has."""

    name = "ingest_curate"
    OP_S = 32.0

    def __init__(self, spark: SparkSession, seed: int, work: str, tracer: Tracer):
        super().__init__(spark, seed, work, tracer)
        self.parts = (Ingest(spark, seed, work, tracer), Curate(spark, seed, work, tracer))
        self.ops: tuple[list[Op], list[Op]] = ([], [])

    def setup(self) -> None:
        for w in self.parts:
            w.setup()

    def _both(self, step: str) -> list:
        """``step`` of both parts, the curate half on a second client
        thread carrying this thread's op id."""
        op = self.tracer.current_op()

        def beside():
            with self.tracer.op(op):
                return getattr(self.parts[1], step)()

        with ThreadPoolExecutor(1) as pool:
            second = pool.submit(beside)
            first = getattr(self.parts[0], step)()
            return [first, second.result()]

    def warmup(self) -> None:
        self._both("warmup")

    def op(self) -> Op:
        """Both halves at once; the operation's time is the sum of the
        two clients' latencies, so a change to either half shows even
        while the other is the longer one."""
        parts = self._both("op")
        for done, o in zip(self.ops, parts):
            done.append(o)
        return Op(sum(o.seconds for o in parts), sum(o.items for o in parts),
                  sum(o.attempted for o in parts), sum(o.failed for o in parts))

    def final_check(self) -> tuple[int, int]:
        return self.parts[0].final_check()

    def named(self, ops: list[Op]) -> dict:
        return {k: v for w, done in zip(self.parts, self.ops) for k, v in w.named(done).items()}

    def layers(self, ops: list[Op]) -> dict:
        out: dict = {}
        for w, done in zip(self.parts, self.ops):
            out.update(w.layers(done))
        return out


WORKLOADS = {w.name: w for w in (Ingest, Serve, Resolve, Curate, IngestCurate)}
