"""Benchmark of the ALTO flow and the query engine: one command per workload.

    python3 perfbench/run.py --workload nightly_delta --seed 1 --seconds 10 --trace 0

Run from the repository root. It generates the workload's inputs from the
seed (once, cached), starts the local HTTP origin for pipeline workloads,
measures set-up in a fresh interpreter, runs the first, one warm-up and a
fixed number of warm iterations in it, checks every output, and prints each
metric with its unit and sample count. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).

``--seeds S1 S2 ...`` runs one fresh benchmark per seed and prints the median
and quartiles of every end-to-end metric.

Workloads and metrics are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".state")
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = (*gen.PIPELINE_SIZES, "doc_queries")
#: Wall-clock budget of one run; the runner gives up (exit 1) past it.
RUN_BUDGET_S = 170.0
#: JVM heap of the local session. The program defaults to 16g; a heap that
#: grows lazily towards 16g makes the peak RSS a reading of when G1 chose to
#: expand, and the benchmark shares a 16 GB machine.
DRIVER_MEM = "2g"
#: Measured warm iterations (pipeline) or passes (doc_queries), whatever
#: --seconds says: a faster program gets no more (and warmer) samples than a
#: slower one. Each run makes one more, untimed, straight after the first:
#: the JIT is still warming there, and by how much depends on the machine.
WARM = {"nightly_delta": 5, "backfill": 3, "doc_queries": 6}
#: End-to-end metrics in the JSON line (BENCHMARK.json gates them);
#: peak_rss_mb and failed_share are printed for the reader only.
GATED = ("setup_s", "first_run_s", "run_s")
QUERY_LAYER = (("build_s", "s"), ("exec_s", "s"), ("compile_s", "s"), ("jobs", "count"),
               ("task_cpu_s", "s"), ("shuffle_mb", "MB"))


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit. A traced run prints all of
    them; one a workload does not exercise reads 0."""
    units = {
        "session.import_s": "s", "session.start_s": "s",
        "sources.catalog_scan_s": "s", "sources.rows_read_per_doc": "rows/doc",
        "sources.replayed_share": "share", "sources.fetch_s": "s", "sources.fetch_mb": "MB",
        "sources.fetch_requests_per_doc": "GET/doc", "sources.fetch_errors": "count",
        "alto.parse_s": "s", "alto.parse_mb_per_s": "MB/s", "alto.compile_s": "s",
        "alto.errors": "count",
        "sinks.objects_s": "s", "sinks.objects_written": "count", "sinks.object_mb": "MB",
        "sinks.update_s": "s", "sinks.rows_updated": "count", "sinks.insert_s": "s",
        "sinks.url_rows_per_doc": "rows/doc",
        "watermark.load_s": "s", "watermark.save_s": "s", "watermark.failed_left_behind": "count",
        "pipeline.jobs": "count", "pipeline.stages": "count", "pipeline.tasks": "count",
        "pipeline.count_jobs": "count", "pipeline.driver_gap_s": "s", "pipeline.task_run_s": "s",
        "pipeline.task_cpu_s": "s", "pipeline.gc_s": "s", "pipeline.busy_cores": "cores",
        "pipeline.max_task_share": "share", "pipeline.cache_mb": "MB", "pipeline.fused_job_s": "s",
    }
    for q in gen.DOC_QUERIES:
        units.update({f"{q}.{k}": u for k, u in QUERY_LAYER})
    units["trace.overhead_s"] = "s"
    return units


class RunFailed(Exception):
    pass


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def source_digest(workload: str) -> str:
    """Hash of the code the cached inputs depend on: the generator and the
    checker's digest, and for doc_queries the program package too, whose
    oracle SQL the expected digests come from."""
    files = [gen.__file__, check.__file__]
    if workload == "doc_queries":
        pkg = os.path.join(ROOT, "prefect_flow_arc_alto_to_json_spark")
        files += sorted(os.path.join(d, f) for d, _, fs in os.walk(pkg)
                        for f in fs if f.endswith(".py"))
    h = hashlib.sha256()
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:12]


def inputs_for(workload: str, seed: int) -> tuple[str, dict]:
    # keyed by the source they depend on too, so changed code never reuses
    # inputs or expected digests an older version cached
    out = os.path.join(STATE, "inputs", f"{workload}-{seed}-{source_digest(workload)}")
    if not os.path.exists(os.path.join(out, "manifest.json")):
        gen.generate(out, workload, seed)
    return out, gen.load_verified(out)


def write_catalog(inputs: str, run_dir: str, origin: str) -> None:
    """The catalog as the program reads it: paths become origin URLs."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    dest = os.path.join(run_dir, "catalog")
    os.makedirs(dest)
    table = pq.read_table(os.path.join(inputs, "catalog", "file.parquet"))
    i = table.schema.get_field_index("premis_stored_at")
    urls = pc.binary_join_element_wise(pa.scalar(origin), table.column(i), "")
    pq.write_table(table.set_column(i, "premis_stored_at", urls), os.path.join(dest, "file.parquet"))
    shutil.copyfile(os.path.join(inputs, "catalog", "includes.parquet"),
                    os.path.join(dest, "includes.parquet"))


class Processes:
    """Every child process of the run, each in its own process group so the
    JVM and Python workers it starts end with it."""

    def __init__(self, deadline: float) -> None:
        self.deadline = deadline
        self.procs: list[subprocess.Popen] = []

    def start(self, cmd: list[str], **kw) -> subprocess.Popen:
        p = subprocess.Popen(cmd, start_new_session=True, **kw)
        self.procs.append(p)
        return p

    def wait(self, p: subprocess.Popen) -> int:
        try:
            return p.wait(timeout=max(1.0, self.deadline - time.time()))
        except subprocess.TimeoutExpired as exc:
            raise RunFailed("run exceeded its time budget") from exc

    def stop_all(self) -> None:
        """Terminate every group and wait until no process of it is left
        (the JVM can outlive the worker that started it)."""
        for p in self.procs:
            with contextlib.suppress(ProcessLookupError):
                os.killpg(p.pid, signal.SIGTERM)
        for p in self.procs:
            end = time.time() + 20
            while (p.poll() is None or group_alive(p.pid)) and time.time() < end:
                time.sleep(0.1)
            if p.poll() is None or group_alive(p.pid):
                with contextlib.suppress(ProcessLookupError):
                    os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def group_alive(pgid: int) -> bool:
    """Whether a live (not zombie) process is left in process group ``pgid``."""
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                state, _ppid, pgrp = f.read().rsplit(")", 1)[1].split()[:3]
        except (OSError, ValueError):
            continue
        if state != "Z" and int(pgrp) == pgid:
            return True
    return False


def worker_env(run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # every JVM (the spark-submit launcher too): temp files inside the
        # checkout, and no hsperfdata files under /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    env.pop("OMP_NUM_THREADS", None)
    return env


def spark_conf(run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    return {
        "spark.local.dir": tmp,
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
    }


def run_worker(procs: Processes, cfg: dict, run_dir: str) -> dict:
    # set-up is timed from here: just before the fresh interpreter starts
    cfg = dict(cfg, result=os.path.join(run_dir, "result.json"), spawn_time=time.time())
    path = os.path.join(run_dir, "config.json")
    with open(path, "w") as f:
        json.dump(cfg, f)
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "w") as logf:
        p = procs.start([sys.executable, os.path.join(HERE, "worker.py"), path],
                        cwd=ROOT, env=worker_env(run_dir), stdout=logf, stderr=subprocess.STDOUT)
        code = procs.wait(p)
    res = {}
    if os.path.exists(cfg["result"]):
        with open(cfg["result"]) as f:
            res = json.load(f)
    if code != 0 or not res.get("ok"):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RunFailed(f"worker failed (exit {code}):\n{res.get('error') or tail}")
    return res


def measure(args) -> tuple[dict, dict]:
    """Run one benchmark: returns (worker result, manifest)."""
    deadline = time.time() + RUN_BUDGET_S
    inputs, manifest = inputs_for(args.workload, args.seed)
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    procs = Processes(deadline)
    try:
        cfg = {
            "workload": args.workload, "root": ROOT, "inputs": inputs, "run_dir": run_dir,
            "manifest": manifest, "trace": bool(args.trace),
            "warm": WARM[args.workload], "spark_conf": spark_conf(run_dir),
            "queries": list(gen.DOC_QUERIES),
        }
        if args.workload != "doc_queries":
            origin = procs.start(
                [sys.executable, os.path.join(HERE, "origin.py"),
                 "--root", os.path.join(inputs, "corpus"),
                 "--fault-plan", os.path.join(inputs, "fault_plan.json")],
                stdout=subprocess.PIPE, text=True)
            line = origin.stdout.readline().split()
            if len(line) != 2 or line[0] != "PORT":
                raise RunFailed("origin did not start")
            cfg["origin"] = f"http://127.0.0.1:{line[1]}"
            write_catalog(inputs, run_dir, cfg["origin"])
        return run_worker(procs, cfg, run_dir), manifest
    finally:
        procs.stop_all()
        shutil.rmtree(run_dir, ignore_errors=True)


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------


def top_percentile(values: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return f"n={n}: fewer than 11 samples, no percentile has ten beyond it"
    p = int(100 * (n - 10) / n)
    v = sorted(values)[max(0, int(n * p / 100) - 1)]
    return f"p{p}={v:.4f} s (n={n}, {n - int(n * p / 100)} samples beyond it)"


def pipeline_metrics(main, manifest, trace: bool):
    samples, checks = main["samples"], main["checks"]
    attempted = sum(c["attempted"] for c in checks)
    failed = sum(c["failed"] for c in checks)
    problems = [p for c in checks for p in c["problems"]]
    warmup = [s["run_s"] for s in samples if s["warmup"]]
    untraced = [s["run_s"] for s in samples[1:] if not (s["traced"] or s["warmup"])]
    e2e = {
        "setup_s": (main["setup"]["setup_s"], "s", 1),
        "first_run_s": (samples[0]["run_s"], "s", 1),
        "run_s": (statistics.median(untraced), "s", len(untraced)),
        "peak_rss_mb": (main["peak_rss_mb"], "MB", 1),
    }
    extra = [f"run_s {top_percentile(untraced)}",
             "warm-up iteration: " + " ".join(f"{v:.3f}" for v in warmup)
             + "; warm iterations: " + " ".join(f"{v:.3f}" for v in untraced)]
    if not trace:
        return e2e, {}, attempted, failed, problems, extra
    traced = [s for s in samples if s["traced"]]
    tchecks = [c for c, s in zip(checks, samples) if s["traced"]]
    last, lc = traced[-1], tchecks[-1]
    lay = main["layers"]
    n_sel = len(manifest["documents"])
    med = lambda k: statistics.median(s[k] for s in traced)  # noqa: E731
    selfs = lambda k: statistics.median(s["self_s"].get(k, 0.0) for s in traced)  # noqa: E731
    traced_run = statistics.median(s["run_s"] for s in traced)
    errors = lc["quarantined"]
    per_layer = {
        "session.import_s": (main["setup"]["import_s"], "s"),
        "session.start_s": (main["setup"]["start_s"], "s"),
        "sources.catalog_scan_s": (lay["catalog_scan_s"], "s"),
        "sources.rows_read_per_doc": (lay["rows_read"] / n_sel, "rows/doc"),
        "sources.replayed_share": (lc["replayed_share"], "share"),
        "sources.fetch_s": (lay["fetch_s"], "s"),
        "sources.fetch_mb": (lc["origin"]["bytes"] / 1e6, "MB"),
        "sources.fetch_requests_per_doc": (lc["origin"]["gets"] / n_sel, "GET/doc"),
        "sources.fetch_errors": (errors["fetch_error"], "count"),
        "alto.parse_s": (lay["parse_s"], "s"),
        "alto.parse_mb_per_s": (lay["body_mb"] / lay["parse_s"], "MB/s"),
        "alto.compile_s": (lay["parse_cold_s"] - lay["parse_s"], "s"),
        "alto.errors": (errors["alto_error"], "count"),
        "sinks.objects_s": (lay["objects_s"], "s"),
        "sinks.objects_written": (lc["objects_written"], "count"),
        "sinks.object_mb": (lc["object_mb"], "MB"),
        "sinks.update_s": (selfs("sinks.update"), "s"),
        "sinks.rows_updated": (lc["updates"], "count"),
        "sinks.insert_s": (selfs("sinks.insert"), "s"),
        "sinks.url_rows_per_doc": (lc["url_rows_per_doc"], "rows/doc"),
        "watermark.load_s": (selfs("watermark.load"), "s"),
        "watermark.save_s": (selfs("watermark.save"), "s"),
        "watermark.failed_left_behind": (lc["failed_left_behind"], "count"),
        "pipeline.jobs": (last["jobs"], "count"),
        "pipeline.stages": (last["stages"], "count"),
        "pipeline.tasks": (last["tasks"], "count"),
        "pipeline.count_jobs": (last["count_jobs"], "count"),
        "pipeline.driver_gap_s": (med("driver_gap_s"), "s"),
        "pipeline.task_run_s": (med("task_run_s"), "s"),
        "pipeline.task_cpu_s": (med("task_cpu_s"), "s"),
        "pipeline.gc_s": (med("gc_s"), "s"),
        "pipeline.busy_cores": (statistics.median(s["task_run_s"] / s["wall_s"] for s in traced),
                                "cores"),
        "pipeline.max_task_share": (statistics.median(
            s["max_task_s"] / s["task_run_s"] if s["task_run_s"] else 0.0 for s in traced), "share"),
        "pipeline.cache_mb": (med("cache_mb"), "MB"),
        "pipeline.fused_job_s": (selfs("sinks.objects"), "s"),
        "trace.overhead_s": (traced_run - e2e["run_s"][0], "s"),
    }
    names = sorted({k for s in traced for k in s["self_s"]})
    self_med = {k: selfs(k) for k in names}
    extra.append("span self times (median, s): " + ", ".join(
        f"{k} {v:.3f}" for k, v in self_med.items())
        + f"; sum {sum(self_med.values()):.3f} vs traced iteration {traced_run:.3f}, "
        f"untraced {e2e['run_s'][0]:.3f}")
    extra.append("job call sites [span]: " + "; ".join(last["job_names"]))
    return e2e, per_layer, attempted, failed, problems, extra


def query_metrics(main, manifest, trace: bool):
    passes = main["passes"]
    expected = manifest["digests"]
    attempted = failed = 0
    problems = []
    for i, p in enumerate(passes):
        for name, q in p["queries"].items():
            attempted += 1
            prob = check.check_query(name, q["digest"], expected[name])
            if prob is None and q["digest"] != passes[0]["queries"][name]["digest"]:
                prob = f"{name}: pass {i} digest differs from the first pass"
            if prob:
                failed += 1
                problems.append(prob)
    total = lambda p: sum(q["build_s"] + q["exec_s"] for q in p["queries"].values())  # noqa: E731
    warm = [total(p) for p in passes[1:] if not (p["traced"] or p["warmup"])]
    e2e = {
        "setup_s": (main["setup"]["setup_s"], "s", 1),
        "first_run_s": (total(passes[0]), "s", 1),
        "run_s": (statistics.median(warm) if warm else float("nan"), "s", len(warm)),
        "peak_rss_mb": (main["peak_rss_mb"], "MB", 1),
    }
    per_q = [q["build_s"] + q["exec_s"] for p in passes[1:] if not (p["traced"] or p["warmup"])
             for q in p["queries"].values()]
    extra = [f"run_s: one pass over {len(passes[0]['queries'])} queries; "
             f"per query {top_percentile(per_q)}",
             "warm-up pass: " + " ".join(f"{total(p):.3f}" for p in passes if p["warmup"])
             + "; warm passes: " + " ".join(f"{v:.3f}" for v in warm)]
    for name, cold in passes[0]["queries"].items():
        w = [p["queries"][name] for p in passes[1:] if not (p["traced"] or p["warmup"])]
        extra.append(f"{name} warm passes: " + " ".join(
            f"{q['build_s'] + q['exec_s']:.3f}" for q in w))
        extra.append(f"{name}: first {cold['build_s']:.3f} + {cold['exec_s']:.3f} s, warm median "
                     f"{statistics.median(q['build_s'] for q in w):.3f} + "
                     f"{statistics.median(q['exec_s'] for q in w):.3f} s (build + materialize)")
    if not trace:
        return e2e, {}, attempted, failed, problems, extra
    traced = [p for p in passes[1:] if p["traced"]]
    per_layer = {
        "session.import_s": (main["setup"]["import_s"], "s"),
        "session.start_s": (main["setup"]["start_s"], "s"),
    }
    for name in passes[0]["queries"]:
        qs = [p["queries"][name] for p in traced]
        b = statistics.median(q["build_s"] for q in qs)
        e = statistics.median(q["exec_s"] for q in qs)
        cold = passes[0]["queries"][name]
        values = {
            "build_s": b,
            "exec_s": e,
            "compile_s": cold["build_s"] + cold["exec_s"] - b - e,
            "jobs": qs[-1]["jobs"],
            "task_cpu_s": statistics.median(q["task_cpu_s"] for q in qs),
            "shuffle_mb": statistics.median(q["shuffle_mb"] for q in qs),
        }
        per_layer.update({f"{name}.{k}": (values[k], u) for k, u in QUERY_LAYER})
    traced_total = statistics.median(total(p) for p in traced)
    per_layer["trace.overhead_s"] = (traced_total - e2e["run_s"][0], "s")
    return e2e, per_layer, attempted, failed, problems, extra


def canary_s() -> float:
    """Time of a fixed pure-Python loop: the speed of one core right now,
    printed next to the metrics to tell a slow machine from a slow program."""
    t = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return time.perf_counter() - t


def one_run(args) -> int:
    started = time.time()
    canary = [canary_s()]
    try:
        main, manifest = measure(args)
    except RunFailed as exc:
        log(f"benchmark failed: {exc}")
        return 1
    if args.trace:
        path = os.path.join(STATE, "traces", f"{args.workload}-{args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(main["spans"], f)
        print(f"{args.workload} spans written to {os.path.relpath(path, ROOT)}")
    fn = query_metrics if args.workload == "doc_queries" else pipeline_metrics
    e2e, per_layer, attempted, failed, problems, extra = fn(main, manifest, bool(args.trace))
    for name, (v, unit, n) in e2e.items():
        print(f"{args.workload} {name} = {v:.4f} {unit} (n={n})")
    print(f"{args.workload} failed_share = {failed / attempted:.4f} ({failed}/{attempted} operations)")
    parts = ("interp_s", "import_s", "start_s")
    print(f"{args.workload} setup parts: " + ", ".join(f"{k} {main['setup'][k]:.3f}" for k in parts))
    for line in extra:
        print(f"{args.workload} {line}")
    canary.append(canary_s())
    print(f"{args.workload} machine canary (2M-step Python loop) = "
          + " / ".join(f"{c:.3f}" for c in canary) + " s before / after; "
          f"whole run {time.time() - started:.1f} s")
    for p in problems[:20]:
        print(f"{args.workload} MISMATCH {p}")
    if args.trace:
        metrics = {k: {"value": float(per_layer[k][0]) if k in per_layer else 0.0, "unit": u}
                   for k, u in per_layer_units().items()}
    else:
        metrics = {k: {"value": float(e2e[k][0]), "unit": e2e[k][1]} for k in GATED}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def repeat(args) -> int:
    """One fresh run per seed; median and quartiles per end-to-end metric."""
    values: dict[str, list[float]] = {}
    failed = 0
    for seed in args.seeds:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
        # SIGTERM, not subprocess.run's SIGKILL, if this process is stopped:
        # the run then stops its own workers and removes its state
        child = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                                 text=True)
        try:
            stdout, stderr = child.communicate()
        finally:
            if child.poll() is None:
                child.terminate()
                child.wait()
        lines = stdout.strip().splitlines()
        if child.returncode != 0 or not lines:
            log(stderr[-2000:])
            return 1
        res = json.loads(lines[-1])
        for line in lines[:-1]:
            print(f"  {line}")
        failed += res["failed"]
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={m['value']:.4f}" for k, m in res["metrics"].items()),
              flush=True)
    summary = {}
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        summary[k] = {"median": med, "q1": q1, "q3": q3, "iqr_share": (q3 - q1) / med, "n": len(vs)}
        print(f"{args.workload} {k}: median {med:.4f} q1 {q1:.4f} q3 {q3:.4f} "
              f"iqr/median {(q3 - q1) / med:.4f} (n={len(vs)})")
    print(json.dumps({"workload": args.workload, "failed": failed, "summary": summary}))
    return 0


def main() -> int:
    # a terminated run still stops its origin and workers (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    # accepted for the common benchmark interface; the warm iteration count
    # is fixed (WARM), so the measured work does not depend on the program's speed
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seeds", type=int, nargs="+", help="repeat mode: one run per seed")
    args = ap.parse_args()
    return repeat(args) if args.seeds else one_run(args)


if __name__ == "__main__":
    sys.exit(main())
