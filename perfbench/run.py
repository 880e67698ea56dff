#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository: the engine is imported
from there, the input tables are generated under ``.perfbench_work/`` there
(once per scale), and every temporary file of the run stays there too.

One driver process, ``build_spark()`` exactly as a user gets it, one query at
a time (a closed loop with one client). A run measures a cold pass (the
first pass in a fresh JVM), then warm passes until ``--seconds`` have gone
by, then checks the outputs of the last pass outside the timed passes.
With ``--trace 1`` it also records spans around each layer's calls, turns on
Spark's event log and prints per-layer metrics instead of end-to-end ones.

The last line of standard output is one JSON object:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
See ``perfbench/README.md`` for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

import datagen  # noqa: E402
import eventlog  # noqa: E402
import procstat  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS, Workload, cut_points, pass_order  # noqa: E402

# The traced run makes at least four measured warm passes and alternates
# them untraced and traced (U T T U), so trace.overhead_pct compares like
# with like.
MIN_WARM_TRACED = 4
# An untraced run sets up this many times: its own session, then fresh
# processes that only set up and stop. setup_s is the median. Each set-up
# costs about 10 s of a run that must stay near a minute.
SETUP_SAMPLES = 2
STREAM_TIMEOUT_S = 150
EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

END_TO_END = {
    "setup_s": "s",
    "cold_wall_s": "s",
    "warm_wall_s": "s",
    "peak_rss_mb": "MB",
    "rows_per_s": "1/s",
    "batch_p50_ms": "ms",
}
PER_LAYER = {
    "session.start_s": "s",
    "catalog.load_calls": "count",
    "catalog.load_s": "s",
    "catalog.jobs": "count",
    "build.s": "s",
    "build.self_s": "s",
    "build.jobs": "count",
    "build.stages": "count",
    "build.driver_gap_s": "s",
    "build.executor_cpu_s": "s",
    "build.shuffle_write_bytes": "bytes",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.driver_gap_s": "s",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "proc.driver_py_cpu_s": "s",
    "proc.jvm_cpu_s": "s",
    "proc.pyworker_cpu_s": "s",
    "materialize.build_s": "s",
    "materialize.bytes_written": "bytes",
    "materialize.consumer_s": "s",
    "stream.batches": "count",
    "stream.add_batch_ms_p50": "ms",
    "stream.overhead_ms_p50": "ms",
    "stream.state_commit_ms_p50": "ms",
    "stream.state_rows": "count",
    "stream.state_mem_bytes": "bytes",
    "stream.tasks_per_batch": "count",
    "trace.overhead_pct": "%",
}


def _isolate_temp_files(run_dir: str) -> None:
    """Keep the run's temporary files (Python's tempfile, Spark's local
    dirs, the JVM's tmpdir) inside the checkout. Must run before pyspark is
    imported and before anything calls ``tempfile``. The JVM's performance
    counters stay in its own memory instead of a file under ``/tmp``, which
    ``java.io.tmpdir`` does not move."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    java_opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{java_opts} -Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem".strip()
    )


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _median(values):
    return float(statistics.median(values)) if values else 0.0


class Run:
    """One benchmark run: a session, its passes, their checks and metrics."""

    def __init__(self, workload: Workload, name: str, seed: int, seconds: float, trace: bool, run_dir: str, engine: dict):
        self.wl = workload
        self.name = name
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_dir = run_dir
        self.engine = engine
        self.rng = random.Random(seed)
        self.run_id = f"pb{os.getpid()}"
        self.attempted = 0
        self.failed = 0
        self.passes: list[dict] = []  # {"wall", "traced", "query_ms" | "trigger_ms"}
        self.spark = None
        self.jvm_pid = None
        self.tracer = None

    # -- session ---------------------------------------------------------
    def start(self, t_proc: float) -> None:
        conf = None
        if self.trace:
            self.eventlog_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(self.eventlog_dir)
            conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog_dir,
                "spark.eventLog.compress": "false",
            }
        t0 = time.time()
        self.spark = self.engine["build_spark"](app_name=f"perfbench-{self.name}", extra_conf=conf)
        self.spark.range(1).count()
        now = time.time()
        self.setup_s = now - t_proc
        self.session_start_s = now - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self._find_jvm()
        self.tracer = tracing.Tracer(self.run_id, self.spark if self.trace else None, self.jvm_pid)
        if self.trace:
            self.tracer.wrap_load_table()

    def _find_jvm(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is None:
            return None
        for pid in [proc.pid, *procstat.descendants(proc.pid)]:
            try:
                if procstat.comm(pid) == "java":
                    return pid
            except OSError:
                continue
        return None

    def stop(self) -> None:
        """Stop the session, then the JVM, then wait for every process the
        JVM started (the PySpark daemon and its workers) to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        spark, self.spark = self.spark, None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        kids = procstat.descendants(proc.pid) if proc is not None else []
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - must not leave the JVM behind
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 30
        for pid in kids:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
        for pid in kids:  # a killed one is reaped by init once the JVM is gone
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline + 10:
                time.sleep(0.05)

    # -- batch workloads -------------------------------------------------
    def _resolve(self) -> dict:
        registry = self.engine["queries"]
        fns = {q: registry[q] for q in self.wl.queries}
        for writer in self.wl.writers:
            fns[writer] = getattr(self.engine["materialize"], writer)
        return fns

    def _begin_pass(self) -> int:
        """Index of the next pass; turns tracing on for it when due. A
        traced run traces the cold pass and then the warm passes as
        U T T U T T ..."""
        index = len(self.passes)
        self.tracer.enabled = self.trace and (index == 0 or index - 1 in (1, 2) or index - 1 >= 4)
        return index

    def _end_pass(self, record: dict) -> None:
        record["traced"] = self.tracer.enabled
        self.tracer.enabled = False
        self.passes.append(record)

    def _measured(self) -> list[dict]:
        return self.passes[1:]

    def _done(self, t0: float) -> bool:
        need = max(self.wl.min_warm, MIN_WARM_TRACED if self.trace else 0)
        return len(self._measured()) >= need and time.perf_counter() - t0 >= self.seconds

    def run_batch(self, sf_dir: str) -> None:
        fns = self._resolve()
        t0 = time.perf_counter()
        last: dict = {}
        while not self._done(t0):
            index = self._begin_pass()
            order = pass_order(self.wl, self.rng)
            query_ms: list[float] = []
            last = {}
            p0 = time.perf_counter()
            for name in order:
                last[name] = self._one_query(index, name, fns[name], sf_dir, query_ms)
            self._end_pass({"wall": time.perf_counter() - p0, "query_ms": query_ms})
            each = " ".join(f"{n}={ms / 1000:.2f}" for n, ms in zip(order, query_ms))
            print(f"perfbench: pass {index} {self.passes[-1]['wall']:.3f}s: {each}", file=sys.stderr)
        self._read_peak_rss()
        self._check_batch(last, sf_dir)

    def _one_query(self, index: int, name: str, fn, sf_dir: str, query_ms: list):
        tracer = self.tracer
        self.attempted += 1
        tmp = os.environ["TMPDIR"]
        before = set(os.listdir(tmp)) if tracer.enabled and name in self.wl.writers else None
        df = span = None
        q0 = time.perf_counter()
        try:
            with tracer.span("query", name, cpu=True, pass_index=index) as span:
                with tracer.span("build", name):
                    df = fn(self.spark, sf_dir)
                with tracer.span("exec", name):
                    df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 - count it, keep measuring
            self._fail(f"pass {index} {name}: {type(exc).__name__}: {exc}")
            df = None
        query_ms.append(1000.0 * (time.perf_counter() - q0))
        if before is not None and span is not None:
            new = set(os.listdir(tmp)) - before
            span.attrs["artifact_bytes"] = sum(_dir_bytes(os.path.join(tmp, d)) for d in new)
        self.spark.catalog.clearCache()
        return df

    def _fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def _check_batch(self, dfs: dict, sf_dir: str) -> None:
        """Output check of the last pass: registry queries against their
        DuckDB oracle with the strict compare, artifact writers by their
        summary."""
        oracle = self.engine["oracle_sql"]
        compare = self.engine["compare"]
        for name, df in dfs.items():
            if df is None:
                continue  # already counted as failed
            try:
                if name in oracle:
                    compare(df, oracle[name], sf_dir, strict=True)
                elif name in self.wl.writers:
                    rows = df.collect()
                    if not rows or any(r["n_rows"] <= 0 for r in rows):
                        raise AssertionError(f"empty artifact summary {rows}")
                else:
                    raise AssertionError("no output check defined")
            except Exception as exc:  # noqa: BLE001 - a failed check is a failure
                self._fail(f"check {name}: {type(exc).__name__}: {str(exc)[:300]}")

    # -- stream workload -------------------------------------------------
    def _write_stream_files(self, sf_dir: str) -> tuple[str, int]:
        """Split the time-ordered events into seeded micro-batch files, with
        increasing modification times so the file source reads them in
        order."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        events = pq.read_table(os.path.join(sf_dir, "events.parquet")).sort_by("ts")
        events = events.set_column(
            events.schema.get_field_index("ts"),
            "ts",
            events["ts"].cast(pa.timestamp("us", tz="UTC")),
        )
        src = os.path.join(self.run_dir, "stream_src")
        os.makedirs(src)
        bounds = [0, *cut_points(events.num_rows, self.wl.batches, self.rng), events.num_rows]
        now = time.time()
        for i, (a, b) in enumerate(zip(bounds, bounds[1:])):
            path = os.path.join(src, f"batch_{i:04d}.parquet")
            pq.write_table(events.slice(a, b - a), path)
            os.utime(path, (now - 100 + i, now - 100 + i))
        return src, events.num_rows

    def run_stream(self, sf_dir: str) -> None:
        from big_data_toolkit_spark.streaming.trending import stream_trending

        src, self.stream_rows = self._write_stream_files(sf_dir)
        t0 = time.perf_counter()
        sink = None
        while not self._done(t0):
            index = self._begin_pass()
            sink = f"perfbench_trend_{index}"
            ckpt = os.path.join(self.run_dir, f"ckpt_{index}")
            self.attempted += self.wl.batches
            p0 = time.perf_counter()
            try:
                with self.tracer.span("query", f"replay{index}", cpu=True, pass_index=index) as span:
                    with self.tracer.span("build", "stream_trending"):
                        stream = (
                            self.spark.readStream.schema(EVENTS_DDL)
                            .option("maxFilesPerTrigger", "1")
                            .parquet(src)
                        )
                        query = (
                            stream_trending(stream)
                            .writeStream.format("memory")
                            .queryName(sink)
                            .outputMode("append")
                            .option("checkpointLocation", ckpt)
                            .trigger(availableNow=True)
                            .start()
                        )
                    with self.tracer.span("exec", "stream_trending"):
                        finished = query.awaitTermination(STREAM_TIMEOUT_S)
                progress = [json.loads(p.json) for p in query.recentProgress]
                if not finished:
                    query.stop()
                    raise TimeoutError(f"replay still running after {STREAM_TIMEOUT_S}s")
                if query.exception() is not None:
                    raise RuntimeError(str(query.exception()))
                folded = eventlog.fold_progress(progress)
                if folded["batches"] != self.wl.batches:
                    raise AssertionError(f"{folded['batches']} batches, expected {self.wl.batches}")
                if span is not None:
                    span.attrs["progress"] = folded
            except Exception as exc:  # noqa: BLE001 - count it, keep measuring
                self.failed += self.wl.batches - 1
                self._fail(f"replay {index}: {type(exc).__name__}: {str(exc)[:300]}")
                folded = None
                sink = None
            self._end_pass(
                {
                    "wall": time.perf_counter() - p0,
                    "trigger_ms": folded["trigger_ms"] if folded else [],
                }
            )
            print(f"perfbench: replay {index} {self.passes[-1]['wall']:.3f}s", file=sys.stderr)
        self._read_peak_rss()
        if sink is not None:
            self._check_stream(sink, sf_dir)

    def _check_stream(self, sink: str, sf_dir: str) -> None:
        """The last update per (event_type, window) of the replay must equal
        the batch twin ``windows.trending_events`` row for row."""
        from big_data_toolkit_spark.streaming.windows import trending_events

        final: dict = {}
        for r in self.spark.sql(f"select * from {sink}").collect():
            key = (r["event_type"], r["window_start"])
            if key not in final or r["cnt"] > final[key]["cnt"]:
                final[key] = r
        got = {(k[0], k[1], r["cnt"], r["prev_cnt"], r["trending"]) for k, r in final.items()}
        want = {
            (r["event_type"], r["window_start"], r["cnt"], r["prev_cnt"], r["trending"])
            for r in trending_events(self.spark, sf_dir).collect()
        }
        if got != want:
            self.failed += self.wl.batches - 1
            self._fail(
                f"check stream_trending: {len(got ^ want)} of {len(want)} "
                "(key, window) rows differ from trending_events"
            )

    # -- metrics ---------------------------------------------------------
    def _read_peak_rss(self) -> None:
        """Peak RSS of the driver and the JVM so far, read when the passes
        end so the output check's own work (DuckDB, collects) is not in it."""
        jvm = procstat.hwm_mb(self.jvm_pid) if self.jvm_pid else 0.0
        self.peak_rss_mb = procstat.hwm_mb("self") + jvm

    def end_to_end(self, dataset_rows: int) -> dict[str, float]:
        cold, warm = self.passes[0], self._measured()
        warm_wall = _median([p["wall"] for p in warm])
        if self.wl.kind == "stream":
            rows = self.stream_rows
            item_ms = [t for p in warm for t in p["trigger_ms"]]
        else:
            rows = dataset_rows
            item_ms = [t for p in warm for t in p["query_ms"]]
        return {
            "setup_s": self.setup_s,
            "cold_wall_s": cold["wall"],
            "warm_wall_s": warm_wall,
            "peak_rss_mb": self.peak_rss_mb,
            "rows_per_s": rows / warm_wall if warm_wall > 0 else 0.0,
            "batch_p50_ms": _median(item_ms),
        }

    def per_layer(self) -> tuple[dict[str, float], list[str], dict]:
        """Per-layer metrics of the traced warm passes (median over those
        passes of each pass's sum), the self-check misses, and the trace
        written to disk."""
        logs = [f for f in os.listdir(self.eventlog_dir) if not f.startswith(".")]
        events = eventlog.read_events(os.path.join(self.eventlog_dir, logs[0]))
        jobs = eventlog.fold_jobs(events)
        spans = self.tracer.spans
        by_phase = tracing.attach_jobs(spans, jobs, self.run_id)
        numbers = {s.span_id: tracing.phase_numbers(s, by_phase[s.span_id]) for s in spans if s.span_id in by_phase}
        misses = tracing.self_check(spans, numbers)

        traced_warm = [i for i, p in enumerate(self.passes) if i > 0 and p["traced"]]
        per_pass = [self._pass_layers(i, spans, numbers, by_phase) for i in traced_warm]
        out = {m: _median([pp[m] for pp in per_pass]) for m in PER_LAYER if m not in ("session.start_s", "trace.overhead_pct")}
        out["session.start_s"] = self.session_start_s
        untraced = [p["wall"] for p in self._measured() if not p["traced"]]
        traced = [self.passes[i]["wall"] for i in traced_warm]
        out["trace.overhead_pct"] = 100.0 * (_median(traced) / _median(untraced) - 1.0)
        trace = {
            "run_id": self.run_id,
            "workload": self.name,
            "seed": self.seed,
            "spans": [
                {**s.__dict__, "jobs": [j.job_id for j in by_phase.get(s.span_id, [])], "numbers": numbers.get(s.span_id)}
                for s in spans
            ],
            "passes": self.passes,
            "self_check_misses": misses,
        }
        return out, misses, trace

    def _pass_layers(self, index: int, spans, numbers, by_phase) -> dict[str, float]:
        queries = [s for s in spans if s.name == "query" and s.attrs.get("pass_index") == index]
        qids = {s.span_id for s in queries}
        phases = [s for s in spans if s.parent in qids and s.name in ("build", "exec")]
        builds = {s.span_id: s for s in phases if s.name == "build"}
        catalogs = [s for s in spans if s.name == "catalog" and s.parent in builds]
        out = dict.fromkeys(PER_LAYER, 0.0)
        out["catalog.load_calls"] = float(len(catalogs))
        out["catalog.load_s"] = sum(c.dur for c in catalogs)
        out["catalog.jobs"] = float(
            sum(1 for c in catalogs for j in by_phase[c.parent] if c.start <= j.start <= c.end)
        )
        for s in phases:
            n = numbers[s.span_id]
            keys = (
                ("s", "jobs", "stages", "driver_gap_s", "executor_cpu_s", "shuffle_write_bytes")
                if s.name == "build"
                else ("s", "jobs", "stages", "tasks", "driver_gap_s", "executor_run_s", "executor_cpu_s", "gc_s", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
            )
            for k in keys:
                out[f"{s.name}.{k}"] += n[k]
        out["build.self_s"] = out["build.s"] - out["catalog.load_s"]
        readers = {r for rs in self.wl.writers.values() for r in rs}
        for q in queries:
            for k in ("driver_py_cpu_s", "jvm_cpu_s", "pyworker_cpu_s"):
                out[f"proc.{k}"] += q.attrs.get(k, 0.0)
            if q.label in self.wl.writers:
                out["materialize.build_s"] += q.dur
                out["materialize.bytes_written"] += q.attrs.get("artifact_bytes", 0)
            elif q.label in readers:
                out["materialize.consumer_s"] += q.dur
            folded = q.attrs.get("progress")
            if folded:
                for k in ("batches", "add_batch_ms_p50", "overhead_ms_p50", "state_commit_ms_p50", "state_rows", "state_mem_bytes"):
                    out[f"stream.{k}"] = folded[k]
                stream_jobs = [
                    j for s in phases if s.parent == q.span_id for j in by_phase[s.span_id] if j.batch_id is not None
                ]
                out["stream.tasks_per_batch"] = sum(j.tasks for j in stream_jobs) / folded["batches"]
        return out


def _dataset_rows(sf_dir: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(sf_dir, f)).metadata.num_rows
        for f in os.listdir(sf_dir)
        if f.endswith(".parquet")
    )


def _setup_sample(workload: str) -> float:
    """``setup_s`` of a fresh process that sets up, stops and exits."""
    args = ["--workload", workload, "--seed", "0", "--seconds", "0", "--setup-only"]
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=150, check=True,
    )
    return json.loads(out.stdout.splitlines()[-1])["setup_s"]


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-only", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    t_proc = procstat.start_epoch()
    args = _parse(argv)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(run_dir)
    _isolate_temp_files(run_dir)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    try:
        import __spark_entry__
        from oracle_utils import compare

        from big_data_toolkit_spark.plans import materialize
        from big_data_toolkit_spark.session import build_spark
    except ImportError as exc:
        shutil.rmtree(run_dir, ignore_errors=True)
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    engine = {
        "build_spark": build_spark,
        "queries": __spark_entry__.queries(),
        "oracle_sql": __spark_entry__.oracle_sql(),
        "materialize": materialize,
        "compare": compare,
    }
    wl = WORKLOADS[args.workload]
    run = Run(wl, args.workload, args.seed, args.seconds, bool(args.trace), run_dir, engine)
    try:
        run.start(t_proc)
        if args.setup_only:
            run.stop()
            print(json.dumps({"setup_s": run.setup_s}))
            return 0
        sf_dir = datagen.ensure_dataset(os.path.join(WORK, "data"))
        if wl.kind == "stream":
            run.run_stream(sf_dir)
        else:
            run.run_batch(sf_dir)
        run.stop()
        misses: list[str] = []
        if args.trace:
            metrics, misses, trace = run.per_layer()
            out_dir = os.path.join(WORK, "traces")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-{run.run_id}.json")
            with open(path, "w") as fh:
                json.dump(trace, fh, indent=1, default=str)
            print(f"perfbench: trace written to {path}", file=sys.stderr)
            for miss in misses:
                print(f"perfbench: SELF-CHECK MISS {miss}", file=sys.stderr)
        else:
            metrics = run.end_to_end(_dataset_rows(sf_dir))
            samples = [metrics["setup_s"]]
            samples += [_setup_sample(args.workload) for _ in range(SETUP_SAMPLES - 1)]
            print("perfbench: setup " + " ".join(f"{s:.3f}s" for s in samples), file=sys.stderr)
            metrics["setup_s"] = _median(samples)
    except Exception:  # noqa: BLE001 - no result line on a broken run
        traceback.print_exc()
        run.stop()
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    units = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": run.failed == 0 and not misses,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
