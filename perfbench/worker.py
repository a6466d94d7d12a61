"""Spark-side process of the benchmark: one fresh interpreter per sample.

``python3 worker.py CONFIG.json`` imports the package, starts the session
and runs the workload's iterations. It writes its raw samples to ``CONFIG["result"]``;
``run.py`` turns them into metrics. Everything the program is asked to do
goes through its public functions; tracing wraps those functions from the
outside (``trace=1``) and never edits the program.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import shutil
import sqlite3
import statistics
import sys
import time
import traceback
import urllib.request
from datetime import datetime, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402


# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent), written out at the end."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self.stack[-1] if self.stack else None, **attrs}
        self.spans.append(rec)
        self.stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self.stack.pop()
            rec["end"] = time.time()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return traced

    def self_times(self, first: int = 0) -> dict[str, float]:
        """Span duration minus the part covered by child spans, summed by name."""
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans[first:], first):
            child = sum(c["end"] - c["start"] for c in self.spans[first:] if c["parent"] == i)
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child
        return out


class StatusStore:
    """Spark's own status store, read through the UI's REST API."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:  # noqa: S310
            return json.load(r)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def last_job_id(self) -> int:
        self.drain()
        jobs = self._get("/jobs")
        return max((j["jobId"] for j in jobs), default=-1)

    def jobs_after(self, job_id: int) -> list[dict]:
        self.drain()
        return sorted((j for j in self._get("/jobs") if j["jobId"] > job_id),
                      key=lambda j: j["jobId"])

    def stage_totals(self, jobs: list[dict]) -> dict:
        tot = {"stages": 0, "tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
               "shuffle_mb": 0.0, "input_records": 0, "max_task_s": 0.0}
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            for att in self._get(f"/stages/{sid}"):
                if att["status"] == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += att["numCompleteTasks"] + att["numFailedTasks"]
                tot["task_run_s"] += att["executorRunTime"] / 1e3
                tot["task_cpu_s"] += att["executorCpuTime"] / 1e9
                tot["gc_s"] += att["jvmGcTime"] / 1e3
                tot["shuffle_mb"] += att["shuffleWriteBytes"] / 1e6
                tot["input_records"] += att["inputRecords"]
                summary = self._get(f"/stages/{sid}/{att['attemptId']}/taskSummary?quantiles=1.0")
                tot["max_task_s"] = max(tot["max_task_s"], summary["executorRunTime"][0] / 1e3)
        return tot


def _ts(text: str | None) -> float | None:
    if not text:
        return None
    return datetime.strptime(text, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(tzinfo=timezone.utc).timestamp()


def covered(jobs: list[dict], start: float, end: float) -> float:
    """Seconds of [start, end] during which at least one job ran."""
    iv = sorted((max(start, _ts(j["submissionTime"])), min(end, _ts(j.get("completionTime")) or end))
                for j in jobs if j.get("submissionTime"))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return max(0.0, total)


def attribute(jobs: list[dict], spans: list[dict]) -> dict[str, list[dict]]:
    """Jobs by the innermost span open when each was submitted. The status
    store stamps jobs to the millisecond, so spans get 1 ms of slack."""
    out: dict[str, list[dict]] = {}
    for j in jobs:
        t = _ts(j["submissionTime"])
        inner = None
        for s in spans:
            if s["start"] - 0.001 <= t <= s["end"] + 0.001 and (inner is None or s["start"] >= inner["start"]):
                inner = s
        out.setdefault(inner["name"] if inner else "outside", []).append(j)
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and all its descendants (JVM, Python workers)."""
    parent: dict[int, int] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
            parent[int(stat.split("/")[2])] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def origin_call(url: str, method: str = "GET") -> dict:
    req = urllib.request.Request(url, method=method, data=b"" if method == "POST" else None)
    with urllib.request.urlopen(req, timeout=60) as r:  # noqa: S310
        return json.load(r)


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------


class PipelineWorkload:
    def __init__(self, cfg, spark, pkg) -> None:
        self.spark, self.pkg = spark, pkg
        self.inputs, self.run_dir = cfg["inputs"], cfg["run_dir"]
        self.manifest = cfg["manifest"]
        self.origin = cfg["origin"]
        self.catalog = os.path.join(self.run_dir, "catalog")
        self.db = os.path.join(self.run_dir, "sink.db")
        self.objects = os.path.join(self.run_dir, "objects")
        self.wm_dir = os.path.join(self.run_dir, "watermark")

    def reset(self, counting: bool = False) -> None:
        """Restore the state from before the night (untimed)."""
        shutil.copyfile(os.path.join(self.inputs, "snapshot.db"), self.db)
        if counting:  # count UPDATE executions from outside the program
            con = sqlite3.connect(self.db)
            con.executescript(
                "CREATE TABLE bench_updates (n INTEGER); INSERT INTO bench_updates VALUES (0);"
                "CREATE TRIGGER bench_count AFTER UPDATE ON representation "
                "BEGIN UPDATE bench_updates SET n = n + 1; END;")
            con.close()
        shutil.rmtree(self.objects, ignore_errors=True)
        shutil.rmtree(self.wm_dir, ignore_errors=True)
        with open(os.path.join(self.inputs, "snapshot.json")) as f:
            since = json.load(f)["since"]
        if since is not None:
            self.pkg.WatermarkStore(self.wm_dir).save(since)
        origin_call(self.origin + "/__reset", "POST")

    def config(self):
        return self.pkg.PipelineConfig(
            catalog_dir=self.catalog,
            objects_target=self.objects,
            watermark_dir=self.wm_dir,
            full_sync=self.manifest["full_sync"],
        )

    def iteration(self) -> tuple[float, dict]:
        factory = functools.partial(sqlite3.connect, self.db, timeout=60)
        t = time.perf_counter()
        counts = self.pkg.run_pipeline(
            self.spark, self.config(),
            representation_conn_factory=factory, transcript_url_conn_factory=factory)
        return time.perf_counter() - t, counts

    def check(self, counts) -> dict:
        return check.check_pipeline(
            self.manifest, os.path.join(self.inputs, "snapshot.db"), self.db, self.objects,
            self.pkg.WatermarkStore(self.wm_dir).path, origin_call(self.origin + "/__stats"), counts)


class QueryWorkload:
    def __init__(self, cfg, spark, pkg) -> None:
        self.spark, self.pkg = spark, pkg
        self.tables = os.path.join(cfg["inputs"], "tables")

    def run_query(self, name: str, tracer: Tracer | None = None) -> tuple[float, float, dict]:
        spans = tracer or Tracer()  # spans are kept only for a traced pass
        with spans.span(f"{name}.build") as build:
            df = self.pkg.ALL_QUERIES[name](self.spark, self.tables)
        with spans.span(f"{name}.exec") as materialize:
            pdf = df.toPandas()
        return (build["end"] - build["start"], materialize["end"] - materialize["start"],
                check.frame_digest(pdf))


# --------------------------------------------------------------------------


def traced_turn(cfg, i: int) -> bool:
    """Warm iteration ``i`` of a traced run is traced in the order U T T U:
    both kinds sit at the same mean position while the JIT still warms."""
    return cfg["trace"] and i % 4 in (1, 2)


def warm_count(cfg) -> int:
    """Warm iterations. A traced run alternates traced and untraced ones,
    at least three of each, to stay inside the run budget."""
    return max(6, cfg["warm"] + 1) if cfg["trace"] else cfg["warm"]


def run_pipeline_workload(cfg, spark, pkg, res) -> None:
    w = PipelineWorkload(cfg, spark, pkg)
    trace = cfg["trace"]
    tracer = Tracer()
    status = StatusStore(spark) if trace else None
    samples, checks = [], []

    def one(traced: bool, warmup: bool = False) -> None:
        w.reset(counting=traced)
        if not traced:
            dt_s, counts = w.iteration()
            samples.append({"run_s": dt_s, "traced": False, "warmup": warmup})
        else:
            dt_s, counts, layer = traced_iteration(w, tracer, status)
            samples.append({"run_s": dt_s, "traced": True, "warmup": False, **layer})
        c = w.check(counts)
        c["updates"] = None
        if traced:
            con = sqlite3.connect(w.db)
            c["updates"] = con.execute("SELECT n FROM bench_updates").fetchone()[0]
            con.close()
            c["origin"] = origin_call(w.origin + "/__stats")
            del c["origin"]["per_path"]
        checks.append(c)

    probe = AltoProbe(w, spark, pkg) if trace else None
    if probe:
        probe.parse()  # cold: the first parse in this JVM
    one(False)  # first iteration in the fresh session
    one(False, warmup=True)  # checked, not timed into run_s
    # warm iterations; a traced run alternates traced and untraced ones
    for i in range(warm_count(cfg)):
        one(traced_turn(cfg, i))
    if probe:
        res["layers"] = probe.layers()
    res["samples"], res["checks"] = samples, checks
    res["spans"] = tracer.spans


def traced_iteration(w: PipelineWorkload, tracer: Tracer, status: StatusStore):
    """One run_pipeline with spans around the public functions it calls
    (patched for this call only) and its jobs read from the status store."""
    sinks = sys.modules["prefect_flow_arc_alto_to_json_spark.sinks"]
    pipe = sys.modules["prefect_flow_arc_alto_to_json_spark.pipeline"]
    originals = {
        (pipe, "catalog_scan"): pipe.catalog_scan,
        (pipe, "transform"): pipe.transform,
        (pipe, "write_json_objects"): pipe.write_json_objects,
        (sinks, "write_keyed_updates"): sinks.write_keyed_updates,
        (sinks, "write_rows_dbapi"): sinks.write_rows_dbapi,
        (pipe, "WatermarkStore"): pipe.WatermarkStore,
    }
    cache = {}

    class TracedStore(originals[(pipe, "WatermarkStore")]):
        def load(self):
            with tracer.span("watermark.load"):
                return super().load()

        def save(self, value):
            with tracer.span("watermark.save"):
                return super().save(value)

    def insert(*a, **kw):
        cache["mb"] = sum(i.memSize() for i in w.spark.sparkContext._jsc.sc().getRDDStorageInfo()) / 1e6
        with tracer.span("sinks.insert"):
            return originals[(sinks, "write_rows_dbapi")](*a, **kw)

    pipe.catalog_scan = tracer.wrap("sources.catalog_scan.plan", pipe.catalog_scan)
    pipe.transform = tracer.wrap("pipeline.transform.plan", pipe.transform)
    pipe.write_json_objects = tracer.wrap("sinks.objects", pipe.write_json_objects)
    sinks.write_keyed_updates = tracer.wrap("sinks.update", sinks.write_keyed_updates)
    sinks.write_rows_dbapi = insert
    pipe.WatermarkStore = TracedStore
    first_span = len(tracer.spans)
    before = status.last_job_id()
    try:
        w.spark.sparkContext.setJobGroup("bench-pipeline", "benchmark pipeline iteration")
        with tracer.span("pipeline.run") as run_span:
            dt_s, counts = w.iteration()
    finally:
        for (mod, name), fn in originals.items():
            setattr(mod, name, fn)
        w.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    jobs = status.jobs_after(before)
    tot = status.stage_totals(jobs)
    spans = tracer.spans[first_span:]
    selves = tracer.self_times(first_span)
    wall = run_span["end"] - run_span["start"]
    by_span = attribute(jobs, spans)
    # the outcome counts and max(updated_at) run after the last sink returns
    sinks_end = max(s["end"] for s in spans if s["name"].startswith("sinks."))
    layer = {
        "jobs": len(jobs),
        "job_names": [f"{j['name']} [{name}]" for name, js in by_span.items() for j in js],
        "count_jobs": sum(1 for j in by_span.get("pipeline.run", [])
                          if _ts(j["submissionTime"]) >= sinks_end - 0.001),
        "driver_gap_s": wall - covered(jobs, run_span["start"], run_span["end"]),
        "cache_mb": cache.get("mb", 0.0),
        "wall_s": wall,
        "self_s": selves,
        **tot,
    }
    return dt_s, counts, layer


class AltoProbe:
    """Standalone calls into the sources, alto and sinks layers on the
    run's own inputs, to split the single fused job of run_pipeline."""

    def __init__(self, w: PipelineWorkload, spark, pkg) -> None:
        self.w, self.spark, self.pkg = w, spark, pkg
        docs = w.manifest["documents"]
        rows = []
        for rep, d in docs.items():
            p = os.path.join(w.inputs, "corpus", d["path"].lstrip("/"))
            if os.path.exists(p):
                with open(p, encoding="utf-8") as f:
                    rows.append((rep, d["path"], f.read()))
        self.body_mb = sum(len(r[2].encode()) for r in rows) / 1e6
        self.bodies = spark.createDataFrame(
            rows, "representation_id string, premis_stored_at string, body string").cache()
        self.bodies.count()
        self.parse_s: list[float] = []

    def _parsed(self):
        from pyspark.sql import functions as F

        alto = self.pkg.alto
        s = alto.simplify_alto(self.bodies, xml_col="body")
        return s.select(
            "representation_id", "alto_error",
            alto.transcript("simplified").alias("schema_transcript"),
            alto.simplified_json("simplified").alias("json"),
            F.concat(self.pkg.basename("premis_stored_at"), F.lit(".json")).alias("s3_key"))

    def parse(self) -> None:
        t = time.perf_counter()
        self._parsed().write.format("noop").mode("overwrite").save()
        self.parse_s.append(time.perf_counter() - t)

    def layers(self) -> dict:
        from pyspark.sql import functions as F

        w, status = self.w, StatusStore(self.spark)
        for _ in range(3):
            self.parse()
        scan_s, fetch_s, objects_s, rows_read = [], [], [], 0
        with open(os.path.join(w.inputs, "snapshot.json")) as f:
            since = json.load(f)["since"]
        for _ in range(3):
            before = status.last_job_id()
            t = time.perf_counter()
            self.pkg.catalog_scan(self.spark, w.catalog, since, w.manifest["full_sync"]) \
                .write.format("noop").mode("overwrite").save()
            scan_s.append(time.perf_counter() - t)
            rows_read = status.stage_totals(status.jobs_after(before))["input_records"]
        for _ in range(2):
            origin_call(w.origin + "/__reset", "POST")
            scan = self.pkg.catalog_scan(self.spark, w.catalog, since, w.manifest["full_sync"])
            t = time.perf_counter()
            self.pkg.fetch_urls(scan).write.format("noop").mode("overwrite").save()
            fetch_s.append(time.perf_counter() - t)
        ok = self._parsed().where(F.col("alto_error").isNull()).cache()
        ok.count()
        for i in range(3):
            target = os.path.join(w.run_dir, f"probe_objects_{i}")
            t = time.perf_counter()
            self.pkg.write_json_objects(ok, target)
            objects_s.append(time.perf_counter() - t)
            shutil.rmtree(target, ignore_errors=True)
        ok.unpersist()
        warm = statistics.median(self.parse_s[1:])
        return {
            "catalog_scan_s": statistics.median(scan_s),
            "rows_read": rows_read,
            "fetch_s": statistics.median(fetch_s),
            "parse_s": warm,
            "parse_cold_s": self.parse_s[0],
            "body_mb": self.body_mb,
            "objects_s": statistics.median(objects_s),
        }


def run_query_workload(cfg, spark, pkg, res) -> None:
    w = QueryWorkload(cfg, spark, pkg)
    trace = cfg["trace"]
    tracer = Tracer()
    status = StatusStore(spark) if trace else None
    names = cfg["queries"]
    passes = []

    def one_pass(traced: bool, warmup: bool = False) -> None:
        rec = {"traced": traced, "warmup": warmup, "queries": {}}
        for name in names:
            if traced:
                before = status.last_job_id()
                spark.sparkContext.setJobGroup(f"bench-{name}", f"benchmark query {name}")
            build_s, exec_s, digest = w.run_query(name, tracer if traced else None)
            q = {"build_s": build_s, "exec_s": exec_s, "digest": digest}
            if traced:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                jobs = status.jobs_after(before)
                tot = status.stage_totals(jobs)
                q.update(jobs=len(jobs), task_cpu_s=tot["task_cpu_s"], shuffle_mb=tot["shuffle_mb"])
            rec["queries"][name] = q
        passes.append(rec)

    one_pass(trace)  # first pass in the fresh session
    one_pass(False, warmup=True)  # checked, not timed into run_s
    for i in range(warm_count(cfg)):
        one_pass(traced_turn(cfg, i))
    res["passes"] = passes
    res["spans"] = tracer.spans


def shutdown(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        proc.wait(timeout=60)


def main() -> None:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    res: dict = {}
    spark = None
    try:
        t0 = time.time()
        sys.path.insert(0, cfg["root"])
        import types

        from prefect_flow_arc_alto_to_json_spark import session

        pkg = types.SimpleNamespace()
        if cfg["workload"] == "doc_queries":
            from prefect_flow_arc_alto_to_json_spark.plans import EXTRA_QUERIES, QUERIES

            pkg.ALL_QUERIES = {**QUERIES, **EXTRA_QUERIES}
        else:
            from prefect_flow_arc_alto_to_json_spark import pipeline
            from prefect_flow_arc_alto_to_json_spark.functions.scalar import basename
            from prefect_flow_arc_alto_to_json_spark.operators import alto

            pkg.PipelineConfig, pkg.run_pipeline = pipeline.PipelineConfig, pipeline.run_pipeline
            pkg.WatermarkStore, pkg.catalog_scan = pipeline.WatermarkStore, pipeline.catalog_scan
            pkg.fetch_urls, pkg.write_json_objects = pipeline.fetch_urls, pipeline.write_json_objects
            pkg.alto, pkg.basename = alto, basename
        t1 = time.time()
        spark = session.get_spark(app_name="perfbench", extra_conf=cfg["spark_conf"])
        t2 = time.time()
        res["setup"] = {"interp_s": t0 - cfg["spawn_time"], "import_s": t1 - t0,
                        "start_s": t2 - t1, "setup_s": t2 - cfg["spawn_time"]}
        if cfg["workload"] == "doc_queries":
            run_query_workload(cfg, spark, pkg, res)
        else:
            run_pipeline_workload(cfg, spark, pkg, res)
        res["peak_rss_mb"] = peak_rss_mb()
        res["ok"] = True
    except Exception:  # noqa: BLE001 — report the failure to the runner, then exit non-zero
        res["ok"] = False
        res["error"] = traceback.format_exc()
    finally:
        if spark is not None:
            with contextlib.suppress(Exception):
                shutdown(spark)
        with open(cfg["result"], "w") as f:
            json.dump(res, f)
    sys.exit(0 if res["ok"] else 1)


if __name__ == "__main__":
    main()
