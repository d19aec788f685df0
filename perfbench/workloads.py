"""The workloads. Each drives the engine only through its public
functions (``get_spark``, ``stage_token_stream``, ``token_sequences``,
the ``run_streaming_*`` runners at their defaults, ``IdempotentKeyedSink``,
``queries()``/``oracle_sql()``) and checks every result against DuckDB
running the registry's ``oracle_sql()`` over the same seeded
``documents`` table.

Every run has the same shape:
  set-up, repeated ``SETUP_REPS`` times (the first launches the JVM; the
  DuckDB reference runs beside it);
  one untimed warm-up pass (stream_drain only);
  timed passes until ``--seconds`` have elapsed (at least one).
perfbench/RECORD.md has the pass-time trends behind the warm-up choice.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import duckdb

import derive
import gen
import probes

SETUP_REPS = 3
DRIVER_MEM = "1g"  # pinned so parent and change run identical JVMs

# stream_drain: closed loop, four production runners per pass
DRAIN_DOCS = 12_000            # ≈30k sequences
DRAIN_CHUNKS = 4
TUMBLING_FILES_PER_TRIGGER = 2
DRAIN_PIPELINES = (
    # (layer name, runner, registry oracle, extra runner kwargs)
    ("tumbling", "run_streaming_tumbling", "streaming_tumbling_pipeline",
     {"files_per_trigger": TUMBLING_FILES_PER_TRIGGER}),
    ("cms_monitor", "run_streaming_cms_monitor", "streaming_cms_monitor", {}),
    ("shard_join", "run_streaming_shard_join", "streaming_shard_join", {}),
    ("ordered_merge_jvm", "run_streaming_ordered_merge_jvm",
     "streaming_ordered_merge_jvm", {}),
)

# curation_batch: closed-loop batch job over five dedup registry queries
CURATION_DOCS = 1_500
CURATION_QUERIES = (
    ("exact_substring_scrub", "exact_substring_scrub_stats"),
    ("dup_span_scrub", "dup_span_scrub_stats"),
    ("minhash_lsh", "minhash_lsh_stats"),
    ("segment_dedup", "segment_dedup_stats"),
    ("doc_novelty", "doc_novelty_scores"),
)

# share of EXSUB_K-gram instances whose gram occurs at least twice,
# over the same derived token table the scrub reads
EXSUB_REPEAT_SQL = """
, inst AS (
  SELECT tokens[p + 1 : p + {k}] AS gram
  FROM (SELECT tokens,
               unnest(range(0, GREATEST(n_tok - {k} + 1, 0))) AS p
        FROM token_sequences)),
census AS (SELECT gram, COUNT(*) AS n FROM inst GROUP BY 1)
SELECT CAST(SUM(CASE WHEN n >= 2 THEN n ELSE 0 END) AS DOUBLE)
       / GREATEST(SUM(n), 1) FROM census
"""


@dataclass
class Run:
    """State of one benchmark run: arguments, scratch space, failure
    accounting and the metrics collected so far."""
    workload: str
    seed: int
    seconds: float
    tracer: object
    work: str
    nproc: int
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    spark: object = None
    calibration_s: float = 0.0
    windows: list = field(default_factory=list)  # timed passes, epoch ms
    phases: dict = field(default_factory=dict)  # wall seconds per phase

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = (self.phases.get(name, 0.0)
                                 + time.perf_counter() - t0)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def fresh_dir(self, name: str) -> str:
        p = self.path(name)
        shutil.rmtree(p, ignore_errors=True)
        return p

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)

    # -- session ----------------------------------------------------------
    def start_session(self, master: str | None = None):
        from movement_spark.session import get_spark

        conf = {"spark.driver.memory": DRIVER_MEM,
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": self.dir("spark-local"),
                # The heap is committed and touched in full at JVM start
                # (-Xms = the pinned maximum, AlwaysPreTouch): otherwise
                # peak RSS follows when G1 happens to grow the heap, not
                # what the engine holds. Temp files stay in the run
                # directory; the perf-data file would go to /tmp.
                "spark.driver.extraJavaOptions":
                    f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
                    f"-Djava.io.tmpdir={self.dir('tmp')} -XX:-UsePerfData"}
        if self.tracer.enabled:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.dir("eventlog"),
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                               master=master or f"local[{self.nproc}]",
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def _oracle(sf_dir: str, names: list[str]) -> dict:
    """DuckDB reference results for the named registry queries:
    name -> (columns, rows)."""
    from movement_spark.queries import oracle_sql

    sql = oracle_sql()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    out = {}
    for name in names:
        cur = con.execute(sql[name])
        rows = cur.fetchall()
        out[name] = ([d[0] for d in cur.description], rows)
    con.close()
    return out


class _Background:
    """Run ``fn()`` on a thread; ``result()`` joins and re-raises."""

    def __init__(self, fn):
        self._out = self._exc = None
        self._t = threading.Thread(target=self._run, args=(fn,),
                                   daemon=True)
        self._t.start()

    def _run(self, fn):
        try:
            self._out = fn()
        except BaseException as e:  # re-raised in result()
            self._exc = e

    def result(self):
        self._t.join()
        if self._exc is not None:
            raise self._exc
        return self._out


def _check(run: Run, label: str, df, ref) -> None:
    """Collect ``df`` and compare it with the reference (columns, rows);
    a mismatch counts as one failure."""
    rows = df.collect()
    cols = df.columns
    why = derive.same_result(cols, [tuple(r) for r in rows], *ref)
    if why:
        run.fail(f"{label}: {why}")


def _attempt(run: Run, label: str, fn) -> None:
    """One checked operation: a raise or a mismatch is a failure."""
    run.attempted += 1
    try:
        fn()
    except Exception as e:  # noqa: BLE001 - a failed operation, counted
        run.fail(f"{label}: {type(e).__name__}: {e}")


@contextmanager
def _sink_probe(stats: list):
    """Time every IdempotentKeyedSink.foreach_batch call (traced passes
    only): appends (write_s, rows) per epoch."""
    from movement_spark.sinks.idempotent import IdempotentKeyedSink

    orig = IdempotentKeyedSink.foreach_batch

    def timed(self, batch_df, epoch_id):
        before, t0 = self.io_ops, time.perf_counter()
        try:
            return orig(self, batch_df, epoch_id)
        finally:
            stats.append((time.perf_counter() - t0, self.io_ops - before))

    IdempotentKeyedSink.foreach_batch = timed
    try:
        yield
    finally:
        IdempotentKeyedSink.foreach_batch = orig


def _sink_layers(stats: list, n_passes: int) -> dict:
    writes = [w for w, _ in stats]
    return {
        "sinks.epochs": len(stats) / n_passes,
        "sinks.rows": sum(r for _, r in stats) / n_passes,
        "sinks.write_ms": 1e3 * sum(writes) / n_passes,
        "sinks.write_ms_p90": (1e3 * derive.nearest_rank(writes, 0.9)
                               if writes else 0.0),
    }


def _setup(run: Run, prepare, reference) -> tuple[float, object, dict]:
    """SETUP_REPS × (fresh session + the engine's own input preparation);
    returns (median set-up seconds, last prepare() result, reference).

    The first repetition launches the JVM and compiles everything cold,
    so it is always the slowest and never the median; the DuckDB
    reference runs beside it only, which keeps it off the clock of every
    repetition the median can land on and of every timed pass."""
    times, out, ref = [], None, None
    for i in range(SETUP_REPS):
        if i:
            run.stop_session()
        with run.tracer.span("setup", rep=i):
            t0 = time.perf_counter()
            if i == 0:
                ref = _Background(reference)
            with run.tracer.span("session.start"):
                run.start_session()
            out = prepare(i)
            times.append(time.perf_counter() - t0)
        if i == 0:
            with run.phase("ref_wait"):
                ref = ref.result()
    if times[0] < max(times[1:]):
        print(f"note: cold set-up {times[0]:.2f}s was not the slowest "
              f"({times})", file=sys.stderr)
    with run.phase("calibrate"):
        run.calibration_s = _calibration_s(run.spark)
    return statistics.median(times), out, ref


def _calibration_s(spark) -> float:
    """bench.py's host probe: a fixed, data-independent CPU-bound job
    (one shot; read metrics against it only on one host)."""
    t0 = time.perf_counter()
    spark.range(200_000_000).selectExpr(
        "sum(id * 2654435761L % 1000003) AS s").collect()
    return time.perf_counter() - t0


def _timed_passes(run: Run, one_pass, rss: probes.RssSampler) -> list:
    """Run ``one_pass(i)`` until ``run.seconds`` have elapsed (at least
    once); RSS is sampled only inside the passes. Returns the list of
    pass results; the passes' epoch-ms windows go to ``run.windows``."""
    results = []
    start = time.perf_counter()
    with run.phase("timed"):
        while not results or time.perf_counter() - start < run.seconds:
            t_ms = time.time() * 1e3
            rss.active = True
            with run.tracer.span("pass", index=len(results)):
                results.append(one_pass(len(results)))
            rss.active = False
            run.phases.setdefault("passes", []).append(results[-1])
            run.windows.append((t_ms, time.time() * 1e3))
    return results


def _closed_loop_e2e(run: Run, n_seq: int, pass_s: list[float],
                     setup_s: float, rss: probes.RssSampler) -> None:
    run.e2e.update({
        "seq_per_s": n_seq / statistics.median(pass_s),
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak_mb,
    })


# ======================================================================
# stream_drain
# ======================================================================

def stream_drain(run: Run) -> None:
    from movement_spark.streaming import pipeline as P

    sf = gen.write_documents(run.seed, DRAIN_DOCS, run.path("sf"))

    def prepare(i):
        stage = run.fresh_dir(f"stage{i}")
        with run.tracer.span("sources.stage"):
            return stage, P.stage_token_stream(run.spark, sf, stage,
                                               n_chunks=DRAIN_CHUNKS)

    with run.phase("setup"):
        setup_s, (stage, n_seq), refs = _setup(
            run, prepare, lambda: _oracle(sf, [p[2] for p in DRAIN_PIPELINES]))

    def run_pipeline(spark, label, runner, kwargs, tag):
        return getattr(P, runner)(
            spark, sf, stage_dir=stage,
            sink_dir=run.fresh_dir(f"sink-{tag}-{label}"),
            checkpoint_dir=run.fresh_dir(f"ck-{tag}-{label}"), **kwargs)

    def one_pass(i):
        t0 = time.perf_counter()
        for label, runner, oracle, kwargs in DRAIN_PIPELINES:
            def op():
                with run.tracer.span(f"pipeline.{label}"):
                    df = run_pipeline(run.spark, label, runner, kwargs,
                                      f"p{i}")
                    with run.tracer.span("sinks.read"):
                        _check(run, label, df, refs[oracle])
            _attempt(run, f"pass {i} {label}", op)
        return time.perf_counter() - t0

    # warm-up: the process's first drain compiles every code path and runs
    # ~30% slower, with a much wider run-to-run spread than later passes
    with run.phase("warmup"), run.tracer.span("warmup"), run.tracer.off():
        one_pass("w")

    sink_stats: list = []
    with probes.RssSampler() as rss:
        if run.tracer.enabled:
            with _sink_probe(sink_stats):
                pass_s = _timed_passes(run, one_pass, rss)
        else:
            pass_s = _timed_passes(run, one_pass, rss)
    _closed_loop_e2e(run, n_seq, pass_s, setup_s, rss)
    if not run.tracer.enabled:
        return

    n = len(pass_s)
    run.layers.update(_sink_layers(sink_stats, n))
    for label, *_ in DRAIN_PIPELINES:
        run.layers[f"pipeline.{label}_s"] = statistics.median(
            run.tracer.durations(f"pipeline.{label}"))
    run.layers["sinks.read_s"] = sum(
        run.tracer.durations("sinks.read")) / n
    _source_sizes(run, stage, n_seq)

    # tracing overhead: the timed (traced) passes against an untraced one
    with run.tracer.off():
        untraced = one_pass("u")
    run.layers["trace.overhead_share"] = (
        statistics.median(pass_s) / untraced - 1.0)

    # single-thread baseline: the same pass at local[1] on the warm JVM
    run.stop_session()
    run.start_session(master="local[1]")
    with run.tracer.off():
        single = one_pass("s")
    run.layers["scaling.eff_1toN"] = single / (run.nproc * untraced)


def _source_sizes(run: Run, stage: str, n_seq: int) -> None:
    files = [f for f in os.listdir(stage) if f.endswith(".parquet")]
    run.layers.update({
        "sources.rows": n_seq,
        "sources.files": len(files),
        "sources.mb": sum(os.path.getsize(os.path.join(stage, f))
                          for f in files) / 1e6,
    })


# ======================================================================
# curation_batch
# ======================================================================

def curation_batch(run: Run) -> None:
    from movement_spark.queries import queries
    from movement_spark.sources.tokens import token_sequences

    sf = gen.write_documents(run.seed, CURATION_DOCS, run.path("sf"))

    def prepare(_i):
        with run.tracer.span("sources.token_table"):
            return token_sequences(run.spark, sf).count()

    with run.phase("setup"):
        setup_s, n_seq, refs = _setup(
            run, prepare,
            lambda: _oracle(sf, [q for _, q in CURATION_QUERIES]))
    qs = queries()

    def one_pass(i):
        t0 = time.perf_counter()
        for label, name in CURATION_QUERIES:
            def op():
                with run.tracer.span(f"dedup.{label}"):
                    _check(run, name, qs[name](run.spark, sf), refs[name])
            _attempt(run, f"pass {i} {name}", op)
        return time.perf_counter() - t0

    with probes.RssSampler() as rss:
        pass_s = _timed_passes(run, one_pass, rss)
    _closed_loop_e2e(run, n_seq, pass_s, setup_s, rss)
    if not run.tracer.enabled:
        return

    for label, _ in CURATION_QUERIES:
        run.layers[f"dedup.{label}_s"] = statistics.median(
            run.tracer.durations(f"dedup.{label}"))
    run.layers["sources.rows"] = n_seq
    # tracing overhead: a warm untraced pass against a warm traced one
    # (the timed pass is each query's first run, so it is not comparable)
    with run.tracer.off():
        untraced = one_pass("u")
    run.layers["trace.overhead_share"] = one_pass("t") / untraced - 1.0
    run.layers["dedup.exsub_repeat_share"] = _exsub_repeat_share(sf)


def _exsub_repeat_share(sf_dir: str) -> float:
    from movement_spark.operators.dedup import EXSUB_K
    from movement_spark.sources.tokens import with_token_cte

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    (share,) = con.execute(
        with_token_cte(EXSUB_REPEAT_SQL.format(k=EXSUB_K))).fetchone()
    con.close()
    return float(share)


WORKLOADS = {
    "stream_drain": stream_drain,
    "curation_batch": curation_batch,
}
