"""The benchmark's workloads and the harness they share.

Every workload: generate seeded inputs (cached), set up once (from process
start: JVM and session start, then one warm-up operation of the workload's
own kind on a small input; that is ``setup_s``), then run timed operations
for ``--seconds`` and check each one's output.

The traced run (``--trace 1``) first does exactly what the untraced run
does, then restarts the session in the same process with Spark's event log
on, warms up again and repeats the timed operations with spans recorded
around every call into a layer, then restarts once more untraced and repeats
them a third time. The tracing overhead compares the traced median operation
time with the median of the untraced ones before and after it, so that the
JIT warming over the run does not read as negative overhead. After those it
runs the pipeline prefixes with a ``noop`` sink: a layer's time is how much
the noop action grows when the prefix gains that layer.
"""

from __future__ import annotations

import shutil
import statistics
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path

import checks
import eventlog
import gen
from tracing import PeakRss, Tracer

NOW_MS = 1_700_000_000_000  # fixed writetime fallback, so sinks are reproducible
MIN_OPS = 7  # bulk loads per run, even when --seconds runs out first
RAMP_OPS = 2  # the first bulk loads, while the JIT still warms: checked, not in the medians
TRACED_MIN_OPS = 5  # per session of the traced run, which runs three, so it ends well within 180 s

PREFIXES = ("scan", "key", "token", "route", "sink")
CURATE_STAGES = (("input", "base"), ("quality", "q"), ("exact_dedup", "deduped"), ("near_dup", "nd"), ("decontam", "clean"))
CURATE_LAYER = (
    "curate.quality_s", "curate.exact_dedup_s", "curate.near_dup_s", "curate.cc_s",
    "curate.decontam_s", "curate.pack_s",
    *(f"curate.rows_after_{name}" for name, _ in CURATE_STAGES),
    "curate.lsh_candidates", "curate.lsh_verified", "curate.lsh_useful_ratio", "curate.cc_jobs",
)
PER_LAYER = (
    "sources.scan_s", "sources.python_s", "sources.tasks", "sources.rows",
    "reshape.key_s",
    "token.s", "token.python_s", "token.bytes_to_python", "token.bytes_from_python",
    "route.s", "route.shuffle_write_bytes", "route.shuffle_records", "route.fetch_wait_s",
    "route.sort_s", "route.spill_bytes", "route.reduce_tasks", "route.task_max_s",
    "route.task_p50_s", "route.bucket_skew",
    "sink.s", "sink.files", "sink.bytes",
    "stream.add_batch_ms", "stream.planning_ms", "stream.commit_ms", "stream.latest_offset_ms",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.widest_stage_tasks", "spark.python_s", "spark.gc_s",
    *CURATE_LAYER,
    "mem.peak_rss_mb",
    "trace.overhead_pct", "trace.spans",
)
E2E_UNITS = {"setup_s": "s", "rows_per_s": "rows/s", "batch_p50_ms": "ms", "sink_bytes_per_row": "B/row"}


def layer_unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes") or "bytes_" in name:
        return "B"
    if name.endswith("_pct"):
        return "%"
    if name.endswith(("skew", "ratio")):
        return "ratio"
    return "count"


@dataclass
class Op:
    seconds: float
    fails: list[str]
    stats: dict = field(default_factory=dict)


@dataclass
class Bench:
    work: Path
    seed: int
    seconds: float
    trace: bool
    process_start: float
    spark: object = None
    gen_s: float = 0.0
    setup_s: float = 0.0

    def __post_init__(self):
        self.tracer = Tracer(run_id=f"seed{self.seed}-{int(time.time())}", enabled=False)

    def inputs(self, name: str, build: Callable[[Path], None]) -> Path:
        t = time.perf_counter()
        path = gen.cached(self.work / "inputs", name, build)
        self.gen_s += time.perf_counter() - t
        self.log(f"inputs {name} ready")
        return path

    def scratch(self, name: str) -> Path:
        p = self.work / "run" / name
        shutil.rmtree(p, ignore_errors=True)
        p.parent.mkdir(parents=True, exist_ok=True)
        return p

    def _start(self, eventlog_dir: Path | None) -> None:
        """The program's own session; the benchmark passes only where to
        keep scratch files and, when tracing, where to write the event log."""
        from hdfs2cass_spark.session import get_session

        tmp = self.work / "tmp"
        conf = {
            "spark.local.dir": str(tmp / "spark-local"),
            "spark.sql.warehouse.dir": str(tmp / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        }
        if eventlog_dir is not None:
            eventlog_dir.mkdir(parents=True, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": eventlog_dir.as_uri(),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",  # one file, not a directory of parts
                }
            )
        self.spark = get_session("perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def setup(self, warmup: Callable[[], None]) -> None:
        """Start the session and run ``warmup``. ``setup_s`` counts from
        process start, input generation excluded."""
        self._start(None)
        self.phase("warmup")
        warmup()
        self.setup_s = time.perf_counter() - (self.process_start + self.gen_s)
        self.log(f"set-up: {self.setup_s:.2f}s")

    def restart(self, warmup: Callable[[], None], eventlog_dir: Path | None) -> None:
        """Restart the session, traced (event log on, spans recorded) when
        ``eventlog_dir`` is given, and warm it up again: a new session
        starts new Python workers."""
        self.stop()
        self._start(eventlog_dir)
        self.tracer.enabled = eventlog_dir is not None
        self.phase("warmup")
        warmup()

    def log(self, msg: str) -> None:
        print(f"perfbench [{time.perf_counter() - self.process_start:7.2f}s] {msg}", file=sys.stderr, flush=True)

    def phase(self, name: str) -> None:
        self.log(f"phase {name}")
        self.spark.sparkContext.setLocalProperty(eventlog.PHASE_PROPERTY, name)

    def loop(self, op: Callable[[int], Op], min_ops: int) -> list[Op]:
        """Timed operations for ``--seconds``, at least ``min_ops`` of them."""
        self.phase("timed")
        out: list[Op] = []
        deadline = time.perf_counter() + self.seconds
        while len(out) < min_ops or time.perf_counter() < deadline:
            out.append(self._attempt(op, len(out)))
        return out

    def _attempt(self, op: Callable[[int], Op], i: int) -> Op:
        t = time.perf_counter()
        try:
            done = op(i)
        except Exception as e:  # an operation that raises counts as failed; the run goes on
            done = Op(time.perf_counter() - t, [f"raised {type(e).__name__}: {e}"], {"bytes": 0})
        self.log(f"operation {i}: {done.seconds:.2f}s{' FAILED' if done.fails else ''}")
        return done

    def out_path(self, workload: str) -> Path:
        return self.work / "out" / f"trace-{workload}-seed{self.seed}.json"


_median = statistics.median  # raises on no samples rather than reading as 0


def _result(ops_attempted: int, ops_failed: int, metrics: dict[str, float], units: Callable[[str], str]) -> dict:
    return {
        "correct": ops_failed == 0,
        "attempted": ops_attempted,
        "failed": ops_failed,
        "metrics": {k: {"value": float(v), "unit": units(k)} for k, v in metrics.items()},
    }


def _report_failures(ops: list[Op]) -> None:
    for i, op in enumerate(ops):
        for msg in op.fails:
            print(f"perfbench: check failed on operation {i}: {msg}", file=sys.stderr)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- bulk loads --------------------------------------------------------------


@dataclass(frozen=True)
class BulkSpec:
    rows: int
    warm_rows: int  # the warm-up input: the same number of files, few rows
    files: int
    write: Callable[[Path, int, int, int], None]
    pattern: str
    read: Callable[[object, list[str]], object]
    rowkey: str | list[str]
    timestamp: str | None
    key_columns: list[str]
    encode_key: Callable[[dict], bytes]
    reducers: int = 16

    @property
    def uri(self) -> str:
        return f"cql://bench/ks/t?reducers={self.reducers}"


def _read_parquet(spark, paths):
    from hdfs2cass_spark.sources.readers import read_records

    return read_records(spark, paths)


def _read_avro(spark, paths):
    from hdfs2cass_spark.sources.avro import read_avro

    return read_avro(spark, paths)


SONGSTREAMS = BulkSpec(
    rows=300_000, warm_rows=16_000, files=8, write=gen.write_songstreams, pattern="*.parquet", read=_read_parquet,
    rowkey="user_id", timestamp="timestamp", key_columns=["user_id"], encode_key=checks.songstream_key,
)
LINEITEM_AVRO = BulkSpec(
    rows=200_000, warm_rows=8_000, files=4, write=gen.write_lineitem_avro, pattern="*.avro", read=_read_avro,
    rowkey=["l_orderkey", "l_linenumber"], timestamp=None,
    key_columns=["l_orderkey", "l_linenumber"], encode_key=checks.lineitem_key,
)


def _bulk_call(b: Bench, spec: BulkSpec, files: list[str], sink: Path) -> None:
    from hdfs2cass_spark.sinks.pipeline import bulk_load

    with b.tracer.span("sources.read"):
        df = spec.read(b.spark, files)
    with b.tracer.span("sinks.pipeline.bulk_load"):
        bulk_load(df, spec.uri, rowkey=spec.rowkey, timestamp=spec.timestamp, simulated_path=str(sink), now_ms=NOW_MS)


def _check_bulk(b: Bench, spec: BulkSpec, sink: Path, rows: int, salt: int) -> tuple[list[str], dict]:
    with b.tracer.span("check"):
        fails, stats = checks.check_sink(sink, rows)
        fails += checks.check_token_sample(sink, spec.reducers, spec.key_columns, spec.encode_key, b.seed * 1000 + salt)
    return fails, stats


def _prefix_times(b: Bench, spec: BulkSpec, files: list[str], reps: int) -> dict[str, float]:
    """Median wall time of a noop action over each pipeline prefix, built
    from the public layer functions exactly as ``bulk_load`` composes them
    for a CQL target."""
    from hdfs2cass_spark.operators.partitioning import binary_key_expr, route_to_buckets, with_token
    from hdfs2cass_spark.operators.reshape import reshape_cql
    from hdfs2cass_spark.sinks.simulated import write_simulated_sstables

    keys = spec.key_columns
    times: dict[str, list[float]] = {p: [] for p in PREFIXES}
    sink = b.scratch("prefix-sink")
    for rep in range(reps):
        for layer in PREFIXES:
            b.phase(f"prefix:{layer}")
            with b.tracer.span(f"prefix.{layer}", rep=rep):
                t = time.perf_counter()
                with b.tracer.span("sources.read"):
                    df = spec.read(b.spark, files)
                if layer != "scan":
                    with b.tracer.span("reshape.binary_key_expr"):
                        df = df.withColumn("_pk", binary_key_expr(df, keys))
                    with b.tracer.span("reshape.reshape_cql"):
                        df = reshape_cql(df, keys[0], spec.timestamp, None, (), now_ms=NOW_MS, passthrough=["_pk"])
                if layer == "token":
                    with b.tracer.span("token.with_token"):
                        df = with_token(df, "_pk")
                elif layer in ("route", "sink"):
                    with b.tracer.span("route.route_to_buckets"):
                        df = route_to_buckets(df, spec.reducers, key_col="_pk")
                with b.tracer.span(f"action.{layer}"):
                    if layer == "sink":
                        write_simulated_sstables(df, str(sink))
                    else:
                        noop(df)
                times[layer].append(time.perf_counter() - t)
    return {k: _median(v) for k, v in times.items()}


def _layer_split(prefix: dict[str, float]) -> dict[str, float]:
    return {
        "sources.scan_s": prefix["scan"],
        "reshape.key_s": prefix["key"] - prefix["scan"],
        "token.s": prefix["token"] - prefix["key"],
        "route.s": prefix["route"] - prefix["token"],
        "sink.s": prefix["sink"] - prefix["route"],
    }


def _sink_layer(stats: dict) -> dict[str, float]:
    per_bucket = sorted(stats.get("rows_per_bucket", {}).values())
    return {
        "sink.files": stats.get("files", 0),
        "sink.bytes": stats.get("bytes", 0),
        "route.bucket_skew": per_bucket[-1] / _median(per_bucket) if per_bucket else 0.0,
    }


def _read_log(log_dir: Path) -> eventlog.EventLog:
    apps = sorted(p for p in log_dir.iterdir() if not p.name.startswith("."))
    return eventlog.read_event_log(apps[-1])


def _finish_trace(b: Bench, workload: str, layers: dict[str, float], untraced: list[float], traced: list[float]) -> dict:
    """Fill the per-layer table, compare the traced median operation time
    with the untraced one of the same run (before and after the traced
    session), and write the span file."""
    layers["trace.overhead_pct"] = 100.0 * (_median(traced) / _median(untraced) - 1.0)
    layers["trace.spans"] = len(b.tracer.spans)
    for name in PER_LAYER:
        layers.setdefault(name, 0.0)
    b.tracer.write(
        b.out_path(workload),
        {"workload": workload, "seed": b.seed, "per_layer": layers, "untraced_op_s": untraced, "traced_op_s": traced},
    )
    return {k: layers[k] for k in PER_LAYER}


@dataclass
class Measured:
    ops: list[Op]  # the untraced timed operations
    peak_mb: float
    traced: list[Op] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)  # from ``in_trace``
    after: list[Op] = field(default_factory=list)  # untraced, after the traced session


def _measure(
    b: Bench,
    warmup: Callable[[], None],
    op: Callable[[int], Op],
    min_ops: int,
    log_dir: Path | None,
    in_trace: Callable[[], dict[str, float]],
) -> Measured:
    """Set up, run the timed operations and sample the peak RSS. When
    tracing, run them again in a traced session, then ``in_trace`` (the
    layer split) in the same session, then the operations once more in an
    untraced one."""
    b.setup(warmup)
    with PeakRss() as rss:
        m = Measured(b.loop(op, min_ops), rss.peak_mb)
    if log_dir is not None:
        b.restart(warmup, log_dir)
        m.traced = b.loop(op, min_ops)
        m.layers = in_trace()
        b.restart(warmup, None)
        m.after = b.loop(op, min_ops)
    b.stop()
    return m


def _end_to_end(b: Bench, ops: list[Op], rows: int) -> dict[str, float]:
    op_s = _median([o.seconds for o in ops])
    return {
        "setup_s": b.setup_s,
        "rows_per_s": rows / op_s,
        "batch_p50_ms": op_s * 1000,
        "sink_bytes_per_row": _median([o.stats["bytes"] for o in ops]) / rows,
    }


def run_bulk(b: Bench, workload: str, spec: BulkSpec) -> dict:
    inp = b.inputs(
        f"{workload}-seed{b.seed}-{spec.rows}x{spec.files}",
        lambda d: spec.write(d, b.seed, spec.rows, spec.files),
    )
    warm = b.inputs(
        f"{workload}-seed{b.seed}-{spec.warm_rows}x{spec.files}",
        lambda d: spec.write(d, b.seed + 1, spec.warm_rows, spec.files),
    )
    files = [str(p) for p in sorted(inp.glob(spec.pattern))]

    def warmup() -> None:
        # as many files as the timed input, so every scan task starts its Python worker
        _bulk_call(b, spec, [str(p) for p in sorted(warm.glob(spec.pattern))], b.scratch("warm-sink"))

    def op(i: int) -> Op:
        sink = b.scratch("sink")  # so a write that did not happen cannot pass on old files
        with b.tracer.span("op", op=i):
            t = time.perf_counter()
            _bulk_call(b, spec, files, sink)
            dt = time.perf_counter() - t
        fails, stats = _check_bulk(b, spec, sink, spec.rows, i)
        return Op(dt, checks.check_written(sink) + fails, stats)

    log_dir = b.scratch("eventlog") if b.trace else None
    min_ops = TRACED_MIN_OPS if b.trace else MIN_OPS
    m = _measure(b, warmup, op, min_ops, log_dir, lambda: _layer_split(_prefix_times(b, spec, files, reps=2)))
    checked = m.ops + m.traced + m.after
    _report_failures(checked)
    failed = sum(1 for o in checked if o.fails)
    if not b.trace:
        return _result(len(checked), failed, _end_to_end(b, m.ops[RAMP_OPS:], spec.rows), E2E_UNITS.get)
    layers = m.layers
    layers["mem.peak_rss_mb"] = m.peak_mb
    layers.update(eventlog.layer_counters(_read_log(log_dir), "timed", len(m.traced)))
    layers.update(_sink_layer(m.traced[-1].stats))
    untraced = [o.seconds for o in m.ops[RAMP_OPS:] + m.after[RAMP_OPS:]]
    metrics = _finish_trace(b, workload, layers, untraced, [o.seconds for o in m.traced[RAMP_OPS:]])
    return _result(len(checked), failed, metrics, layer_unit)


# --- streaming ingest --------------------------------------------------------

STREAM_ROWS_PER_FILE = 10_000
STREAM_WARM_FILES = 2
STREAM_BATCH_S = 1.5
STREAM_RAMP = 2  # the first batches pay the query start and a warming JIT: not samples
STREAM_MIN_FILES = 7  # so at least 5 samples


def run_stream(b: Bench, workload: str) -> dict:
    """Closed loop: ``stream_bulk_load`` drains a backlog of landed files
    with ``maxFilesPerTrigger=1`` and ``availableNow``; the next micro-batch
    starts when the previous one commits. The backlog is sized from
    ``--seconds`` at 1.5 s per batch (1.3-2.3 s measured on a 4-core host),
    at least ``STREAM_MIN_FILES`` files, so the work per run is fixed for a
    given run length."""
    n_files = max(STREAM_MIN_FILES, round(b.seconds / STREAM_BATCH_S))
    rows = n_files * STREAM_ROWS_PER_FILE

    inp = b.inputs(
        f"{workload}-seed{b.seed}-{STREAM_WARM_FILES}+{n_files}x{STREAM_ROWS_PER_FILE}",
        lambda d: gen.write_stream_files(d, b.seed, STREAM_WARM_FILES, n_files, STREAM_ROWS_PER_FILE),
    )
    main_files = [str(p) for p in sorted((inp / "main").glob("*.parquet"))]

    def stream(src: Path, tag: str):
        from hdfs2cass_spark.streaming.bulk_ingest import stream_bulk_load

        sink, ckpt = b.scratch(f"stream-{tag}"), b.scratch(f"ckpt-{tag}")
        source = b.spark.readStream.schema(gen.SONGSTREAM_SCHEMA).option("maxFilesPerTrigger", 1).parquet(str(src))
        t = time.perf_counter()
        q = stream_bulk_load(
            source, SONGSTREAMS.uri, str(sink), str(ckpt), rowkey="user_id", timestamp="timestamp",
            now_ms=NOW_MS, available_now=True,
        )
        q.awaitTermination()
        wall = time.perf_counter() - t
        if q.exception() is not None:
            raise RuntimeError(f"streaming query failed: {q.exception()}")
        return wall, [p for p in q.recentProgress if p["numInputRows"] > 0], sink

    def check(sink: Path, progress: list[dict]) -> tuple[list[str], dict]:
        with b.tracer.span("check"):
            fails = [] if len(progress) == n_files else [f"{len(progress)} non-empty micro-batches, want {n_files}"]
            more, stats = checks.check_sink(sink, rows)
            fails += more
            fails += checks.check_token_sample(sink, SONGSTREAMS.reducers, ["user_id"], checks.songstream_key, b.seed)
            fails += checks.bucket_multisets_equal(sink, reference, ["token", "user_id", "song_id", "writetime"])
        for msg in fails:
            print(f"perfbench: stream check failed: {msg}", file=sys.stderr)
        return fails, stats

    def warmup() -> None:
        stream(inp / "warm", "warm")

    b.setup(warmup)
    # the batch twin of the same files, once and outside timing
    b.phase("reference")
    reference = b.scratch("stream-reference")
    _bulk_call(b, SONGSTREAMS, main_files, reference)
    b.phase("timed")
    with PeakRss() as rss:
        wall, progress, sink = stream(inp / "main", "main")
    fails, stats = check(sink, progress)
    # the first measured batches are reported in the span file but are not
    # samples of the batch time
    steady = [p["durationMs"]["triggerExecution"] for p in progress[STREAM_RAMP:]]
    b.log(f"micro-batches: {wall:.2f}s, trigger times (ms) {[p['durationMs']['triggerExecution'] for p in progress]}")
    if not b.trace:
        b.stop()
        return _result(
            n_files, n_files if fails else 0,
            {
                "setup_s": b.setup_s,
                "rows_per_s": rows / wall,
                "batch_p50_ms": _median(steady),
                "sink_bytes_per_row": stats["bytes"] / rows,
            },
            E2E_UNITS.get,
        )

    log_dir = b.scratch("eventlog")
    b.restart(warmup, log_dir)
    b.phase("timed")
    with b.tracer.span("stream", files=n_files):
        _, t_progress, t_sink = stream(inp / "main", "traced")
    t_fails, t_stats = check(t_sink, t_progress)
    prefix = _prefix_times(b, SONGSTREAMS, main_files[:1], reps=2)
    b.restart(warmup, None)
    b.phase("timed")
    _, a_progress, a_sink = stream(inp / "main", "after")
    a_fails, _ = check(a_sink, a_progress)
    b.stop()
    _add_batch_spans(b.tracer, t_progress)

    def dur(k: str) -> float:
        return _median([p["durationMs"].get(k, 0) for p in t_progress[STREAM_RAMP:]])

    layers = _layer_split(prefix)
    layers.update(eventlog.layer_counters(_read_log(log_dir), "timed", len(t_progress)))
    layers.update(_sink_layer(t_stats))
    layers.update(
        {
            "mem.peak_rss_mb": rss.peak_mb,
            "stream.add_batch_ms": dur("addBatch"),
            "stream.planning_ms": dur("queryPlanning"),
            "stream.commit_ms": dur("commitOffsets"),
            "stream.latest_offset_ms": dur("latestOffset"),
        }
    )
    t_steady = [p["durationMs"]["triggerExecution"] / 1000 for p in t_progress[STREAM_RAMP:]]
    untraced = [ms / 1000 for ms in steady] + [p["durationMs"]["triggerExecution"] / 1000 for p in a_progress[STREAM_RAMP:]]
    metrics = _finish_trace(b, workload, layers, untraced, t_steady)
    return _result(3 * n_files, n_files * (bool(fails) + bool(t_fails) + bool(a_fails)), metrics, layer_unit)


def _add_batch_spans(tracer: Tracer, progress: list[dict]) -> None:
    """One span per micro-batch from its progress report, with the trigger's
    phases as children, under the ``stream`` span."""
    root = next(s["id"] for s in tracer.spans if s["name"] == "stream")
    offset = time.time() - time.perf_counter()
    for p in progress:
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() - offset
        d = p["durationMs"]
        sid = tracer.add("stream.batch", start, start + d["triggerExecution"] / 1000, root, batch=p["batchId"])
        at = start
        for k in ("latestOffset", "queryPlanning", "addBatch", "commitOffsets"):
            tracer.add(f"stream.{k}", at, at + d.get(k, 0) / 1000, sid)
            at += d.get(k, 0) / 1000


# --- curation chain ----------------------------------------------------------

CURATE_DOCS = 2_000
CURATE_WARM_DOCS = 500
CURATE_MIN_OPS = 1  # one curate run takes 8-12 s on a 4-core host


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def _curate_layers(b: Bench, src: Path) -> dict[str, float]:
    """Stage split of the curation chain from its public pieces. Building
    ``curate_stage_dfs`` runs quality filter, exact dedup, LSH pairs and
    connected components eagerly; the LSH and CC shares are re-measured on
    their own and the remainder of construction is charged to exact dedup."""
    from pyspark.sql import functions as F

    from hdfs2cass_spark.operators.prefixsum import exclusive_cumsum
    from hdfs2cass_spark.plans.compose import curate_stage_dfs
    from hdfs2cass_spark.plans.llm import BAND_CAP, band_rows, connected_components, minhash_wide_df, near_dup_pairs_df
    from hdfs2cass_spark.plans.pipeline import PACK_SHARD_DOCS
    from hdfs2cass_spark.sources import load_table

    out: dict[str, float] = {}
    b.phase("curate:construct")
    with b.tracer.span("plans.compose.curate_stage_dfs"):
        t = time.perf_counter()
        stages = curate_stage_dfs(load_table(b.spark, str(src), "documents"))
        construct_s = time.perf_counter() - t
    b.phase("curate:quality")
    with b.tracer.span("curate.quality"):
        out["curate.quality_s"] = _timed(lambda: noop(stages["q"]))
    survivors = stages["deduped"].select("doc_id", "text")
    b.phase("curate:near_dup")
    with b.tracer.span("plans.llm.near_dup_pairs_df"):
        pairs = near_dup_pairs_df(survivors, spread=False)
        out["curate.near_dup_s"] = _timed(lambda: noop(pairs))
    b.phase("curate:cc")
    with b.tracer.span("plans.llm.connected_components"):
        cc_s = _timed(lambda: noop(connected_components(pairs.select("doc_a", "doc_b"), "doc_a", "doc_b")))
    out["curate.cc_s"] = cc_s - out["curate.near_dup_s"]
    out["curate.exact_dedup_s"] = construct_s - cc_s - out["curate.quality_s"]
    b.phase("curate:decontam")
    with b.tracer.span("curate.decontam"):
        nd_s = _timed(lambda: noop(stages["nd"]))
        out["curate.decontam_s"] = _timed(lambda: noop(stages["clean"])) - nd_s
    b.phase("curate:pack")
    with b.tracer.span("operators.prefixsum.exclusive_cumsum"):
        toks = stages["clean"].select("doc_id", F.expr("CAST(size(ws) AS BIGINT)").alias("n_tokens"))
        packed = exclusive_cumsum(toks, "doc_id", "n_tokens", out="start_offset", shard_width=PACK_SHARD_DOCS)
        out["curate.pack_s"] = _timed(lambda: noop(packed)) - (nd_s + out["curate.decontam_s"])
    b.phase("curate:counts")
    for name, key in CURATE_STAGES:
        out[f"curate.rows_after_{name}"] = stages[key].count()
    with b.tracer.span("plans.llm.band_rows"):
        sizes = band_rows(minhash_wide_df(survivors, spread=False)).groupBy("band", "bkey").count()
        cand = sizes.filter(F.col("count").between(2, BAND_CAP)).select(
            F.sum(F.col("count") * (F.col("count") - 1) / 2)
        ).first()[0]
    out["curate.lsh_candidates"] = float(cand or 0)
    out["curate.lsh_verified"] = pairs.count()
    out["curate.lsh_useful_ratio"] = out["curate.lsh_verified"] / out["curate.lsh_candidates"] if cand else 0.0
    return out


def run_curate(b: Bench, workload: str) -> dict:
    """``curate_corpus`` over a seeded synthetic corpus, its output written
    as parquet; each run's output is checked against the planted structure."""
    from hdfs2cass_spark.plans.compose import MIN_WORDS
    from hdfs2cass_spark.plans.pipeline import PACK_BUDGET

    src = b.inputs(f"{workload}-seed{b.seed}-{CURATE_DOCS}", lambda d: gen.write_curate_docs(d, b.seed, CURATE_DOCS))
    warm_src = b.inputs(
        f"{workload}-seed{b.seed}-{CURATE_WARM_DOCS}", lambda d: gen.write_curate_docs(d, b.seed, CURATE_WARM_DOCS)
    )
    texts = gen.pq.read_table(src / "documents.parquet").sort_by("doc_id").column("text").to_pylist()

    def curate(path: Path, out: Path) -> None:
        from hdfs2cass_spark.plans.compose import curate_corpus

        with b.tracer.span("plans.compose.curate_corpus"):
            df = curate_corpus(b.spark, str(path))
        with b.tracer.span("write"):
            df.write.parquet(str(out))

    def warmup() -> None:
        curate(warm_src, b.scratch("curated-warm"))

    def op(i: int) -> Op:
        sink = b.scratch("curated")  # so a write that did not happen cannot pass on old files
        with b.tracer.span("op", op=i):
            t = time.perf_counter()
            curate(src, sink)
            dt = time.perf_counter() - t
        with b.tracer.span("check"):
            fails = checks.check_written(sink)
            fails += checks.check_curated(gen.pq.read_table(sink), texts, gen.is_bench_doc, MIN_WORDS, PACK_BUDGET)
        return Op(dt, fails, {"bytes": sum(f.stat().st_size for f in sink.glob("*.parquet"))})

    log_dir = b.scratch("eventlog") if b.trace else None
    m = _measure(b, warmup, op, CURATE_MIN_OPS, log_dir, lambda: _curate_layers(b, src))
    checked = m.ops + m.traced + m.after
    _report_failures(checked)
    failed = sum(1 for o in checked if o.fails)
    if not b.trace:
        return _result(len(checked), failed, _end_to_end(b, m.ops, CURATE_DOCS), E2E_UNITS.get)
    layers = m.layers
    layers["mem.peak_rss_mb"] = m.peak_mb
    log = _read_log(log_dir)
    layers.update(eventlog.layer_counters(log, "timed", len(m.traced)))
    layers["curate.cc_jobs"] = log.phase_jobs("curate:cc")
    metrics = _finish_trace(b, workload, layers, [o.seconds for o in m.ops + m.after], [o.seconds for o in m.traced])
    return _result(len(checked), failed, metrics, layer_unit)


WORKLOADS: dict[str, Callable[[Bench], dict]] = {
    "bulk_songstreams": lambda b: run_bulk(b, "bulk_songstreams", SONGSTREAMS),
    "bulk_lineitem_avro": lambda b: run_bulk(b, "bulk_lineitem_avro", LINEITEM_AVRO),
    "stream_songstreams": lambda b: run_stream(b, "stream_songstreams"),
    "curate_docs": lambda b: run_curate(b, "curate_docs"),
}
