#!/usr/bin/env python3
"""Repository benchmark: end-to-end and per-layer metrics on local[nproc].

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. The workloads (``perfbench/workloads.json``)
drive the engine only through its public entry points: ``session.get_session``,
``__spark_entry__.queries()`` / ``oracle_sql()``, and for ``feed``
``streaming.source`` and ``ml.streaming_ml``. Inputs are generated from
``--seed`` (``datagen.py``); every query result is checked against its
DuckDB oracle and every feed row against a batch re-scoring.

``--trace 0`` measures with tracing off and prints the end-to-end
metrics. ``--trace 1`` alternates untraced and traced passes (bursts and
payload blocks for ``feed``), reads the per-layer counters of ``layers.py``
after each traced call, writes the spans to ``.perfbench/traces/`` and
prints the per-layer metrics, including the tracing overhead.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import decimal
import json
import math
import os
import random
import resource
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "machine_learning_with_spark_streaming_spark"
SPEC = json.loads((HERE / "workloads.json").read_text())
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
DRIVER_MEM = "3g"


# ---------------------------------------------------------------- checking

def _cell(v):
    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        return round(v, 6)
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    return v


def canonical(cols, rows) -> tuple:
    """Column-name-sorted, order-insensitive form of a result set."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    body = sorted(
        (tuple(_cell(r[i]) for i in idx) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )
    return (tuple(sorted(cols)), tuple(body))


def canonical_arrow(tbl) -> tuple:
    cols = tbl.column_names
    rows = zip(*(tbl.column(c).to_pylist() for c in cols)) if cols else []
    return canonical(cols, list(rows))


def feed_errors(sent: set[int], got_rows, reference: dict[int, int]) -> int:
    """Rows missing, duplicated or mispredicted among ``got_rows``
    (``(row_idx, prediction)`` pairs) against the rows ``sent``."""
    seen: dict[int, int] = {}
    bad = 0
    for row, pred in got_rows:
        if row in seen or row not in sent:
            bad += 1
            continue
        seen[row] = pred
        if reference.get(row) != pred:
            bad += 1
    return bad + len(sent - seen.keys())


# ---------------------------------------------------------------- helpers

def median(xs):
    return statistics.median(xs) if xs else 0.0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of the driver Python plus the driver JVM."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm = 0.0
    if jvm_pid:
        try:
            with open(f"/proc/{jvm_pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm = int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return py + jvm


def retained_mb(spark) -> float:
    """Driver JVM heap still reachable after a full GC, plus the driver
    Python's peak RSS: memory the program keeps (caches, plans, leaked
    state) rather than the garbage-collector timing that moves peak RSS."""
    jvm = spark._jvm.java.lang
    jvm.System.gc()
    rt = jvm.Runtime.getRuntime()
    heap = (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
    return heap + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def pin_environment(work: Path) -> dict[str, str]:
    """Fix the run environment before the JVM and Python workers start."""
    cpus = len(os.sched_getaffinity(0))
    old = os.environ.get("PYTHONPATH")
    env = {
        # Python workers (applyInPandasWithState, Arrow UDFs) import the
        # package from any working directory.
        "PYTHONPATH": str(ROOT) + (os.pathsep + old if old else ""),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(work / "tmp"),
        # The JVM's own temp files (native-library extraction) and perf
        # data would otherwise land in /tmp, outside the run directory.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    for d in ("local", "tmp", "data"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.update(env)
    tempfile.tempdir = None
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return env


def git_commit() -> str:
    """Commit of the checkout, read from .git when there is one."""
    head = ROOT / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            return (ROOT / ".git" / ref[5:]).read_text().strip()
        return ref
    except OSError:
        return "unknown"


# ---------------------------------------------------------------- bench

class Bench:
    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.wl = SPEC["workloads"][args.workload]
        self.sf = SPEC["tiny_sf"] if args.tiny else SPEC["sf"]
        self.data = str(work / "data")
        self.rng = random.Random(args.seed)
        self.trace = bool(args.trace)
        self.run_id = uuid.uuid4().hex[:12]
        self.spans = None
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}

    # -- lifecycle

    def close(self) -> None:
        if self.spark is None:
            return
        gw = self.spark.sparkContext._gateway
        proc = getattr(gw, "proc", None)
        try:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
        finally:
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            self.spark = None

    def start(self) -> float:
        """Session + registry; returns the setup clock start."""
        from layers import ProgressLog, Spans, StatusReader

        t0 = time.time()
        from machine_learning_with_spark_streaming_spark.session import get_session

        self.spark = get_session(
            "perfbench",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        t1 = time.time()
        import __spark_entry__ as entry

        self.entry = entry
        self.queries = entry.queries()
        t2 = time.time()
        self.layer["session.start_s"] = t1 - t0
        self.layer["registry.load_s"] = t2 - t1
        self.progress = ProgressLog()
        self.spark.streams.addListener(self.progress)
        self.status = StatusReader(self.spark)
        self.spans = Spans(self.run_id)
        self.jvm_pid = getattr(self.spark.sparkContext._gateway.proc, "pid", None)
        return t0

    def run(self) -> dict:
        from datagen import write_tables

        self.rows = write_tables(self.args.seed, self.sf, self.data)
        if self.wl["kind"] == "queries":
            metrics = self.run_queries()
        else:
            metrics = self.run_feed()
        declared = BENCH["per_layer" if self.trace else "end_to_end"]
        extra = set(metrics) - {m["name"] for m in declared}
        if extra:
            raise KeyError(f"undeclared metrics {sorted(extra)}")
        if self.trace:
            traces = ROOT / ".perfbench" / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            self.spans.write(str(traces / f"{self.args.workload}-{self.args.seed}-{self.run_id}.jsonl"))
        # A layer the workload does not run reads 0 (feed.* on query
        # workloads, catalyst.* and operators.* on feed).
        return {m["name"]: (metrics.get(m["name"], 0.0), m["unit"]) for m in declared}

    # -- query workloads

    def expected_results(self, names) -> dict[str, tuple]:
        import duckdb

        from datagen import TABLES

        oracles = self.entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')")
            out = {}
            for n in names:
                res = con.execute(oracles[n])
                out[n] = canonical([d[0] for d in res.description], res.fetchall())
            return out
        finally:
            con.close()

    def _temp_views(self) -> int:
        return sum(1 for t in self.spark.catalog.listTables() if t.isTemporary)

    def call(self, name: str, traced: bool, parent: int | None = None) -> dict:
        """One query call: function + Arrow collect, checked after the clock."""
        rec = {"name": name, "traced": traced, "ok": False}
        if traced:
            first_job = self.status.job_mark()
            tmp_before = set(os.listdir(os.environ["TMPDIR"]))
            views_before = self._temp_views()
        t0 = time.time()
        t1 = None
        try:
            df = self.queries[name](self.spark, self.data)
            t1 = time.time()
            if traced:
                build_end_job = self.status.job_mark()
            tbl = df.toArrow()
            t2 = time.time()
            rec["ok"] = canonical_arrow(tbl) == self.expected[name]
            if not rec["ok"]:
                print(f"perfbench: {name}: result differs from its oracle", file=sys.stderr)
        except Exception:  # noqa: BLE001 - a failing call is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            t2 = time.time()
            t1 = t1 or t2
        rec.update(start=t0, end=t2, seconds=t2 - t0, build_s=t1 - t0)
        print(f"perfbench: {name} {rec['seconds']:.3f}s ok={rec['ok']} traced={traced}", file=sys.stderr)
        self.attempted += 1
        self.failed += not rec["ok"]
        if traced and rec["ok"]:
            counters = self.status.jobs_since(first_job, build_end_job, t0, t2)
            for phase, ms in self.status.catalyst_ms(df).items():
                counters[f"catalyst.{phase}_ms"] = ms
            counters["operators.build_s"] = t1 - t0
            counters["sources.leaked_dirs"] = float(len(set(os.listdir(os.environ["TMPDIR"])) - tmp_before))
            counters["streaming.leaked_views"] = float(self._temp_views() - views_before)
            rec["counters"] = counters
            cid = self.spans.add("call", t0, t2, parent, query=name)
            self.spans.add("build", t0, t1, cid)
            self.spans.add("execute", t1, t2, cid)
            rec["span"] = cid
        self.spark.catalog.clearCache()
        return rec

    def run_queries(self) -> dict:
        names = list(self.wl["queries"])
        t_setup = self.start()
        # Oracle results are inputs to the check, not set-up of the
        # program: computed off the setup clock.
        t_pause = time.time()
        self.expected = self.expected_results(names)
        t_setup += time.time() - t_pause

        w0 = time.time()
        for n in names:
            self.call(n, traced=False)
        self.layer["warmup.pass_s"] = time.time() - w0
        setup_s = time.time() - t_setup

        deadline = time.time() + self.args.seconds
        passes = []
        i = 0
        while i < 3 or time.time() < deadline:
            traced = self.trace and i % 2 == 1
            order = names[:]
            self.rng.shuffle(order)
            p0 = time.time()
            pid = self.spans.add("pass", p0, p0, None, index=i) if traced else None
            calls = [self.call(n, traced, pid) for n in order]
            p1 = time.time()
            if traced:
                self.spans.items[pid]["end"] = p1
            passes.append({"traced": traced, "start": p0, "end": p1, "seconds": p1 - p0, "calls": calls})
            i += 1
        self.status.drain()

        def latency_ms(ps):
            return [c["seconds"] * 1000 for p in ps for c in p["calls"]]

        plain = [p for p in passes if not p["traced"]]
        lat = latency_ms(plain)
        if not self.trace:
            return {
                "setup_s": setup_s,
                "pass_s": median([p["seconds"] for p in plain]),
                "latency_p50_ms": median(lat),
                "retained_mb": retained_mb(self.spark),
            }

        traced = [p for p in passes if p["traced"]]
        calls = [c for p in traced for c in p["calls"] if "counters" in c]
        batches = [b for p in traced for b in self.progress.between(p["start"], p["end"])]
        self._batch_spans(batches, calls)
        return self.per_layer(
            [c["counters"] for c in calls], len(traced), batches,
            median([p["seconds"] for p in traced]), median([p["seconds"] for p in plain]),
            latency_ms(traced), lat,
        )

    def per_layer(self, counters, n, batches, wall, plain_wall, lat_traced, lat_plain) -> dict:
        """Per-pass means over ``n`` traced passes of the counter dicts of
        their calls (bursts for ``feed``) and of their stream batches,
        plus the tracing overhead against the untraced passes."""
        from layers import stream_counters

        out = dict(self.layer)
        out["memory.peak_rss_mb"] = peak_rss_mb(self.jvm_pid)
        for c in counters:
            for k, v in c.items():
                out[k] = out.get(k, 0.0) + v / n
        for k, v in stream_counters(batches).items():
            out[k] = v / n
        stages = out.get("scheduler.stages", 0.0)
        delay = out.pop("scheduler.stage_delay_sum_ms", 0.0)
        out["scheduler.stage_delay_ms"] = delay / stages if stages else 0.0
        out["exec.busy_frac"] = out.get("exec.run_s", 0.0) / (int(os.environ["SPARK_GRAFT_CPUS"]) * wall)
        out["streaming.trigger_p50_ms"] = median([b["duration_ms"].get("triggerExecution", 0) for b in batches])
        out["trace.pass_s"] = wall
        out["trace.overhead_pass_s"] = wall - plain_wall
        out["trace.overhead_latency_p50_ms"] = median(lat_traced) - median(lat_plain)
        return out

    def _batch_spans(self, batches, calls) -> None:
        for b in batches:
            parent = next((c["span"] for c in calls if c["start"] <= b["start"] <= c["end"]), None)
            self.spans.add("batch", b["start"], b["end"], parent, batch_id=b["batch_id"], rows=b["rows"])

    # -- feed workload

    def run_feed(self) -> dict:
        from datagen import feed_payloads, training_set

        cfg = dict(self.wl)
        if self.args.tiny:
            cfg.update(cfg["tiny"])
        rows, nf = cfg["rows_per_payload"], cfg["features"]
        rate = cfg["rate_payloads_per_s"]
        n_lat = max(4, int(self.args.seconds * cfg["latency_share_of_run"] * rate))
        burst = cfg["burst_payloads"]
        n_warm = cfg["warmup_payloads"]
        # Payload order: warm-up singles, one warm-up burst, the latency
        # singles, then the measured bursts. A single is one payload per
        # file; a burst is one file of ``burst`` payload lines, so the
        # backlog lands in a single batch.
        lat0 = n_warm + burst
        burst0 = lat0 + n_lat
        n_payloads = burst0 + burst * cfg["max_bursts"]
        payloads = feed_payloads(self.args.seed, n_payloads, rows, nf)
        staging = self.work / "staging"
        watch = self.work / "watch"
        preds = str(self.work / "predictions")
        staging.mkdir()
        watch.mkdir()
        files = [(i, 1) for i in range(n_warm)] + [(n_warm, burst)]
        files += [(i, 1) for i in range(lat0, burst0)]
        files += [(i, burst) for i in range(burst0, n_payloads, burst)]
        for first, count in files:
            (staging / f"p{first:05d}.json").write_text("\n".join(payloads[first:first + count]) + "\n")
        x_train, y_train = training_set(self.args.seed, cfg["train_rows"], nf)

        t_setup = self.start()
        from pyspark.sql import functions as F

        from machine_learning_with_spark_streaming_spark.ml.streaming_ml import (
            fit_logreg,
            predict_per_batch,
            with_feature_vector,
        )
        from machine_learning_with_spark_streaming_spark.streaming.source import (
            features_as_vector,
            parse_feature_lines,
            read_feature_stream_files,
        )

        w0 = time.time()
        import pandas as pd

        train = self.spark.createDataFrame(
            pd.DataFrame({"features": list(x_train), "label": y_train.astype("int32")}),
            "features array<double>, label int",
        )
        model = fit_logreg(with_feature_vector(train), max_iter=cfg["fit_max_iter"])
        stream = features_as_vector(
            read_feature_stream_files(self.spark, str(watch), nf, max_files_per_trigger=None), nf
        )
        query = (
            stream.writeStream.foreachBatch(predict_per_batch(model, preds))
            .option("checkpointLocation", str(self.work / "checkpoint"))
            .start()
        )
        self.feed_run = str(query.runId)
        self.scored = {}
        for first, count in files[:n_warm + 1]:
            self._drop(staging, watch, first)
            self._await_scored(preds, (first + count) * rows)
        self.layer["warmup.pass_s"] = time.time() - w0
        setup_s = time.time() - t_setup

        # Latency phase: open loop at the nominal rate. In a traced run,
        # blocks of four payloads alternate untraced / traced; a traced
        # payload has the status store read right after it is dropped.
        t_start = time.time() + 0.2
        due = [t_start + k / rate for k in range(n_lat)]
        traced_flag = [self.trace and (k // 4) % 2 == 1 for k in range(n_lat)]
        dropped = [0.0] * n_lat
        first_job = self.status.job_mark()
        gen_error: list[BaseException] = []

        def generator():
            try:
                for k in range(n_lat):
                    time.sleep(max(0.0, due[k] - time.time()))
                    self._drop(staging, watch, lat0 + k)
                    dropped[k] = time.time()
                    if traced_flag[k]:
                        self.status.jobs_since(first_job, first_job, due[k], dropped[k])
            except BaseException as exc:  # noqa: BLE001 - re-raised in the main thread
                gen_error.append(exc)

        gen = threading.Thread(target=generator, name="feed-generator")
        gen.start()
        gen.join()
        if gen_error:
            raise gen_error[0]
        sent = burst0
        self._await_scored(preds, sent * rows)

        # Bursts: a backlog of ``burst`` payloads dropped at once; a pass
        # is the time from the drop to the commit of its last batch.
        deadline = t_start + self.args.seconds
        bursts = []
        while len(bursts) < cfg["min_bursts"] or (time.time() < deadline and len(bursts) < cfg["max_bursts"]):
            traced = self.trace and len(bursts) % 2 == 1
            j0 = self.status.job_mark()
            b0 = time.time()
            self._drop(staging, watch, sent)
            rec = {"traced": traced, "start": b0, "payloads": range(sent, sent + burst)}
            sent += burst
            self._await_scored(preds, sent * rows)
            if traced:
                rec["counters"] = self.status.jobs_since(j0, j0, b0, time.time())
            bursts.append(rec)

        query.stop()
        feed_batches = {b["batch_id"]: b for b in self._feed_batches()}

        # Check: every sent row scored exactly once, as a batch re-scoring
        # of the same payload files scores it.
        import pyarrow.parquet as pq

        got = pq.read_table(preds).select(["batch_id", "row_idx", "prediction"])
        batch_of_row = dict(zip(got.column("row_idx").to_pylist(), got.column("batch_id").to_pylist()))
        ref = with_feature_vector(
            features_as_vector(parse_feature_lines(self.spark.read.text(str(watch)), nf), nf)
        )
        ref_tbl = model.transform(ref).select("row_idx", F.col("prediction").cast("int")).toArrow()
        reference = dict(zip(ref_tbl.column(0).to_pylist(), ref_tbl.column(1).to_pylist()))
        rows_sent = set(range(sent * rows))
        bad = feed_errors(rows_sent, zip(got.column("row_idx").to_pylist(), got.column("prediction").to_pylist()), reference)
        self.attempted += len(rows_sent)
        self.failed += bad

        def batch_of(payload: int) -> dict | None:
            return feed_batches.get(batch_of_row.get(payload * rows))

        def commit_of(payload: int) -> float:
            b = batch_of(payload)
            return b["end"] if b else math.inf

        lat_plain, lat_traced, backlog = [], [], 0
        commits = [commit_of(lat0 + k) for k in range(n_lat)]
        for k in range(n_lat):
            (lat_traced if traced_flag[k] else lat_plain).append((commits[k] - due[k]) * 1000)
            backlog = max(backlog, sum(1 for j in range(k) if commits[j] > dropped[k]))
        for b in bursts:
            b["batches"] = list({id(x): x for x in map(batch_of, b["payloads"]) if x}.values())
            b["seconds"] = max(commit_of(p) for p in b["payloads"]) - b["start"]
        plain_bursts = [b for b in bursts if not b["traced"]]
        print("perfbench: feed latency ms " + " ".join(f"{x:.0f}" for x in lat_plain + lat_traced)
              + " | bursts s " + " ".join(f"{b['seconds']:.2f}" for b in bursts), file=sys.stderr)
        if not self.trace:
            return {
                "setup_s": setup_s,
                "pass_s": median([b["seconds"] for b in plain_bursts]),
                "latency_p50_ms": median(lat_plain),
                "retained_mb": retained_mb(self.spark),
            }

        traced_bursts = [b for b in bursts if b["traced"]]
        for b in traced_bursts:
            sid = self.spans.add("pass", b["start"], b["start"] + b["seconds"], None, kind="burst")
            for bt in b["batches"]:
                self.spans.add("batch", bt["start"], bt["end"], sid, batch_id=bt["batch_id"])
        traced_wall = median([b["seconds"] for b in traced_bursts])
        out = self.per_layer(
            [b["counters"] for b in traced_bursts], len(traced_bursts),
            [bt for b in traced_bursts for bt in b["batches"]],
            traced_wall, median([b["seconds"] for b in plain_bursts]), lat_traced, lat_plain,
        )
        out["feed.generator_late_ms"] = median([(dropped[k] - due[k]) * 1000 for k in range(n_lat)])
        out["feed.backlog_files"] = float(backlog)
        lat_batch_ids = {batch_of_row.get((lat0 + k) * rows) for k in range(n_lat)}
        out["feed.files_per_batch"] = n_lat / len(lat_batch_ids)
        out["feed.drain_rows_per_s"] = burst * rows / traced_wall
        return out

    def _feed_batches(self) -> list[dict]:
        """Non-empty committed batches of the feed stream, all reported."""
        self.status.drain()
        return [b for b in self.progress.batches if b["run_id"] == self.feed_run and b["rows"] > 0]

    def _drop(self, staging: Path, watch: Path, i: int) -> None:
        name = f"p{i:05d}.json"
        os.rename(staging / name, watch / name)

    def _await_scored(self, preds: str, n_rows: int, timeout: float = 60.0) -> None:
        """Wait until the feed sink has written ``n_rows`` predictions and
        the listener has reported every batch that wrote them.

        Counts rows from committed part files (each read once); the
        stream's ``numInputRows`` is no use here, since the foreachBatch
        body scans its batch more than once.
        """
        import pyarrow.parquet as pq

        stop = time.time() + timeout
        while True:
            if os.path.isdir(preds):
                for name in os.listdir(preds):
                    if name.endswith(".parquet") and name not in self.scored:
                        ids = pq.read_table(os.path.join(preds, name), columns=["batch_id"]).column(0)
                        self.scored[name] = (len(ids), max(ids.to_pylist(), default=-1))
            done = sum(n for n, _ in self.scored.values())
            last = max((b for _, b in self.scored.values()), default=-1)
            if done >= n_rows and any(b["batch_id"] >= last for b in self._feed_batches()):
                return
            if time.time() > stop:
                raise TimeoutError(f"feed scored {done} of {n_rows} rows")
            time.sleep(0.01)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="sf0.001 tables and small feed payloads (self-test)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in ("__spark_entry__.py", PACKAGE) if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: the program is not in {ROOT} (missing {', '.join(missing)})", file=sys.stderr)
        return 2
    sys.path.insert(0, str(HERE))
    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(work)
    bench = Bench(args, work)
    try:
        metrics = bench.run()
    finally:
        try:
            bench.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    # The run record goes on its own line; the last line is the result.
    print("perfbench-run " + json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": bench.sf, "rows": bench.rows, "commit": git_commit(),
        "env": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
    }))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
