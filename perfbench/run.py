"""Benchmark of the PySpark analytics engine: one workload per run.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 20 --trace 0

Run from the repository root. The run generates its input tier (seeded,
cached and fingerprint-checked under ``.perfbench-work/``), sets up a
``local[nproc]`` session through ``session.get_spark`` in a newly launched
JVM and times that cold set-up, runs the workload, checks every output
against its DuckDB twin, and prints:

- a report line (``report: {...}``) with every end-to-end metric of the
  workload by the names in ``workloads.json``, with unit and sample count,
  plus ``failed_frac``;
- as the last line, one JSON object ``{"correct", "attempted", "failed",
  "metrics"}``. With ``--trace 0`` the metrics are the ``end_to_end``
  metrics of ``BENCHMARK.json``; with ``--trace 1`` (Spark UI on, spans
  recorded, REST stage and SQL metrics folded) they are its ``per_layer``
  metrics.

The full record (host, config, per-request timings, spans with self times,
checks) is written to ``.perfbench-work/results/``. The exit code is 0 only
when every output check passed and no operation failed.

The workloads, ``interactive`` and ``quota_stream``, are described in
``workloads.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")


def _load_json(path: str):
    with open(path) as f:
        return json.load(f)


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _source_digest() -> str:
    """Commit of the checkout when it is a git work tree, else a digest of
    the program's Python sources."""
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            return subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"],
                capture_output=True, text=True, check=True, timeout=30,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "youtube_api_batch_process_with_analytics_spark")
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, files in sorted(os.walk(pkg)):
        paths += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        with open(p, "rb") as f:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0" + f.read())
    return "sources-sha256:" + h.hexdigest()[:16]


class Context:
    """Everything a workload needs: its config, the verified input tier,
    the tracer, and the session set-up procedure."""

    def __init__(self, args, cfg: dict, tier_dir: str, tracer):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cfg = cfg
        self.tier_dir = tier_dir
        self.tracer = tracer
        self.slots = int(os.environ["SPARK_GRAFT_CPUS"])
        self.run_dir = os.path.join(WORK, "run")
        self.spark_conf = {"spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse")}
        if self.trace:  # keep every job, stage, task and execution for the fold
            self.spark_conf.update({
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "1000000",
                "spark.sql.ui.retainedExecutions": "100000",
            })
        self.spark = None
        self.oracle = None

    def setup(self, warm):
        """Launch the JVM, start a session through ``get_spark`` and warm it:
        the cold set-up every process pays, timed once per run. Return the
        session and the timings."""
        from youtube_api_batch_process_with_analytics_spark.session import get_spark

        with self.tracer.span("setup"):
            t0 = time.perf_counter()
            with self.tracer.span("session.start"):
                self.spark = get_spark(app_name="perfbench", extra_conf=self.spark_conf)
            t1 = time.perf_counter()
            with self.tracer.span("session.warmup"):
                warm(self.spark)
            t2 = time.perf_counter()
        return self.spark, {"setup_s": t2 - t0, "start_s": t1 - t0, "warmup_s": t2 - t1}

    def stop(self) -> None:
        """Stop the session and the JVM it launched (the JVM exits when its
        stdin pipe closes, and its Python workers with it), then wait until
        no process this run started is left."""
        from pyspark import SparkContext

        from probes import wait_for_children

        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception as e:  # the JVM may be gone already; still reap
                print(f"perfbench: session stop failed: {e!r:.300}", file=sys.stderr)
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        left = wait_for_children(30)
        if left:
            print(f"perfbench: processes still running after stop: {left}", file=sys.stderr)

    def rest_snapshot(self) -> dict:
        from probes import Rest

        return Rest(self.spark).snapshot()


def _host_record(spark) -> dict:
    import duckdb
    import pyarrow

    conf = spark.sparkContext.getConf()
    return {
        "nproc": _nproc(),
        "mem_total_mb": round(_mem_total_mb(), 1),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark.driver.memory": conf.get("spark.driver.memory"),
        "spark.master": conf.get("spark.master"),
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        "source": _source_digest(),
        "PYTHONPATH": os.environ.get("PYTHONPATH"),
    }


def _prepare_env(trace: bool) -> None:
    """Process-wide settings the session and its workers inherit: all
    scratch files stay under the work directory, and the Python workers can
    import the package (module-level UDFs need the repository root)."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # every JVM, the launcher's included, keeps its temp and perf files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ["SPARK_UI_ENABLED"] = "true" if trace else "false"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _final_metrics(names: list[dict], values: dict) -> dict:
    return {
        m["name"]: {"value": float(values.get(m["name"]) or 0.0), "unit": m["unit"]}
        for m in names
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("__spark_entry__.py", "youtube_api_batch_process_with_analytics_spark",
                           "tests/oracle_utils.py") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    spec = _load_json(os.path.join(HERE, "workloads.json"))
    bench = _load_json(os.path.join(ROOT, "BENCHMARK.json"))
    if args.workload not in spec["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cfg = spec["workloads"][args.workload]

    _prepare_env(bool(args.trace))
    # a terminated run still stops its JVM (the ``finally`` below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    import gen
    from oracle import Oracle
    from probes import RssSampler, Tracer

    sampler = RssSampler().start()
    tier = spec["tier"]
    tier_dir = os.path.join(WORK, f"tier-sf{tier['sf']}-seed{tier['seed']}")
    manifest = gen.ensure_tier(tier_dir, tier["sf"], tier["seed"], tier["fingerprint"])
    tracer = Tracer(bool(args.trace))
    ctx = Context(args, cfg, tier_dir, tracer)
    shutil.rmtree(ctx.run_dir, ignore_errors=True)
    os.makedirs(ctx.run_dir)
    os.chdir(ctx.run_dir)  # Spark's derby/metastore side files land here
    ctx.oracle = Oracle(tier_dir, manifest["fingerprint"], gen.TABLES,
                        os.path.join(WORK, "oracle"))

    if cfg["kind"] == "batch":
        import batch as workload
    else:
        import stream as workload
    t0 = time.time()
    try:
        with tracer.span("workload", workload=args.workload):
            res = workload.run(ctx)
        host = _host_record(ctx.spark)
    finally:
        peak_rss = sampler.stop()
        ctx.oracle.close()
        ctx.stop()
    res["e2e"]["peak_rss_mb"] = {"value": peak_rss, "unit": "MB", "n": sampler.samples}
    res["layers"]["process.peak_rss_mb"] = peak_rss
    res["e2e"]["failed_frac"] = {
        "value": res["failed"] / max(1, res["attempted"]), "unit": "fraction",
        "n": res["attempted"],
    }
    correct = res["failed"] == 0

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "wall_s": time.time() - t0, "host": host,
        "tier": {"dir": os.path.relpath(tier_dir, ROOT), **manifest},
        "workload_config": cfg, "correct": correct, **res,
    }
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}")
    if args.trace:
        from measure import self_times

        selfs = self_times(tracer.spans)
        by_name: dict[str, float] = {}
        for s in tracer.spans:
            by_name[s["name"]] = by_name.get(s["name"], 0.0) + selfs[s["id"]]
        record["spans"] = tracer.spans
        record["self_time_s"] = by_name
        untraced = stem + "-trace0.json"
        base = _load_json(untraced) if os.path.exists(untraced) else None
        if base and all(base.get(k) == record[k] for k in ("seconds", "workload_config", "host")):
            record["tracing_overhead"] = {
                k: v["value"] / base["e2e"][k]["value"] - 1
                for k, v in res["e2e"].items()
                if v["value"] and base["e2e"].get(k, {}).get("value")
            }
    with open(f"{stem}-trace{args.trace}.json", "w") as f:
        json.dump(record, f, indent=1, default=str)

    report = {
        "workload": args.workload, "seed": args.seed, "correct": correct,
        "metrics": res["e2e"], "failed_checks": [c for c in res["checks"] if not c["ok"]],
        "errors": res["errors"],
    }
    print("report: " + json.dumps(report, default=str))
    if args.trace:
        values = res["layers"]
        names = bench["per_layer"]
    else:
        alias = spec["workloads"][args.workload].get("end_to_end_alias", {})
        values = {alias.get(k, k): v["value"] for k, v in res["e2e"].items()}
        names = bench["end_to_end"]
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": _final_metrics(names, values),
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
